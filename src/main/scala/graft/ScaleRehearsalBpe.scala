package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Staged}
import graft.sources.Tables

/** Scale rehearsal for the BPE fit (round 14): the 100 TB claim is
  * that the corpus is touched ONCE (the word-frequency pass) and every
  * merge iteration runs over the VOCABULARY table — so fit cost must
  * grow far slower than the corpus. Rehearsed by replicating the
  * documents table m× VERBATIM under shifted ids: the vocabulary is
  * m-invariant by construction (same words, frequencies ×m), so the
  * per-iteration work is literally identical across m and only the one
  * corpus pass grows.
  *
  * Correctness face: uniform ×m frequency scaling preserves every pair
  * count's relative order AND every tie, so the fitted merge SEQUENCE
  * (pairs, in order) must be m-invariant — the rehearsal REQUIREs it —
  * while the recorded freqs scale by exactly m.
  *
  * Second axis (round 15): MERGE COUNT. The fit schedules one
  * driver-sequenced Spark job per merge over the vocabulary table, so
  * fit time is ~linear in nMerges with a per-merge constant that must
  * stay FLAT as the merge generation grows (each generation's word
  * table is localCheckpoint'ed, so plan analysis never re-embeds
  * earlier generations — the CC lesson; if the constant grew with
  * generation count, a real 32k-merge fit would be quadratic).
  * `nmerges` mode measures fit time at several merge counts and
  * reports the per-merge constant — the honest price of a production
  * tokenizer fit is that constant × 32k.
  *
  * Usage: runMain graft.ScaleRehearsalBpe [multipliers...] (default
  * 1 5 10); or runMain graft.ScaleRehearsalBpe nmerges [counts...]
  * (default 16 64 256). SPARK_GRAFT_SF_DIR picks the corpus; corpus
  * mode fits 16 merges (the x72 setting).
  */
object ScaleRehearsalBpe {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("nmerges")) { runMergeCurve(args.drop(1)); return }
    if (args.headOption.contains("local")) { runLocalCurve(args.drop(1)); return }
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 5, 10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-bpe")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    require(nDocs > 0, s"no documents under $sfDir")
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L

    var expect: Seq[(String, String)] = null
    mults.foreach { m =>
      val corpus = (0 until m).map(i =>
        base.select(($"doc_id" + lit(i.toLong * stride)).as("doc_id"),
          $"text")).reduce(_ unionByName _)
      // warm pass at m=1 only would bias the curve; fit twice and keep
      // the second measurement so JIT/codegen warm-up is never billed
      def once(): (Double, Seq[Bpe.Merge]) = {
        val t0 = System.nanoTime()
        val f = Bpe.fit(corpus, "text", nMerges = 16)
        val merges = f.merges
        val sec = (System.nanoTime() - t0) / 1e9
        Staged.releaseAll()
        (sec, merges)
      }
      once()
      val (sec, merges) = once()
      val pairs = merges.map(mg => (mg.left, mg.right))
      if (expect == null) expect = pairs
      require(pairs == expect,
        s"merge sequence drifted at multiplier $m: $pairs != $expect")
      println(f"""{"mult":$m,"docs":${nDocs * m},"fit_sec":$sec%.2f,""" +
        f""""merges":${merges.size}}""")
    }
    spark.stop()
  }

  /** nMerges curve: fit time at several merge counts, per-merge
    * constant reported. The fixture's ~31-word vocabulary exhausts
    * after a few dozen merges, so the corpus is widened with one
    * 32-hex-char pseudo-word per doc (deterministic md5 of the id) —
    * thousands of distinct long words, so even 256 merges have pairs
    * to consume. What must hold: per_merge_sec FLAT across counts
    * (each generation is checkpointed, so analysis cost cannot grow
    * with generation number); the 32k-merge bill is then the constant
    * × 32k, linear and honest.
    */
  private def runMergeCurve(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(16, 64, 256)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-bpe-nmerges")
    import spark.implicits._
    val corpus = Tables(spark, sfDir, "documents")
      .select($"doc_id",
        concat($"text", lit(" w"), md5($"doc_id".cast("string"))).as("text"))
    // one warm fit so JIT/codegen warm-up is never billed to a count
    Bpe.fit(corpus, "text", nMerges = 8): Unit
    Staged.releaseAll()
    counts.foreach { n =>
      val t0 = System.nanoTime()
      val f = Bpe.fit(corpus, "text", nMerges = n)
      val done = f.merges.size
      val sec = (System.nanoTime() - t0) / 1e9
      Staged.releaseAll()
      println(f"""{"nmerges":$n,"merges_done":$done,"fit_sec":$sec%.2f,""" +
        f""""per_merge_sec":${sec / math.max(1, done)}%.4f}""")
    }
    spark.stop()
  }

  /** The round-16 answer to the nMerges bill: the same merge counts
    * (and the 32k production count) under [[Bpe.fitLocal]] — the
    * driver-local loop over the bounded word table. Correctness face:
    * the local fit's merge sequence is REQUIREd identical to the
    * distributed fit's at the smallest count (the BpeSpec identity,
    * re-proven at rehearsal scale). What must hold: total seconds, not
    * hours — the per-merge cost is incremental-update work over
    * affected words, not a scheduled Spark job.
    *
    * Usage: runMain graft.ScaleRehearsalBpe local [counts...]
    * (default 256 4096 32768).
    */
  private def runLocalCurve(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(256, 4096, 32768)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-bpe-local")
    import spark.implicits._
    val corpus = Tables(spark, sfDir, "documents")
      .select($"doc_id",
        concat($"text", lit(" w"), md5($"doc_id".cast("string"))).as("text"))
    // the scale-level identity check (the spec's differential, on the
    // rehearsal corpus): distributed and local agree merge-for-merge
    val dist = Bpe.fit(corpus, "text", nMerges = 64).merges
    Staged.releaseAll()
    val loc = Bpe.fitLocal(corpus, "text", nMerges = 64).merges
    require(loc == dist,
      s"local fit drifted from distributed at 64 merges: $loc != $dist")
    val vocab = Bpe.wordFreqs(corpus, "text").count()
    counts.foreach { n =>
      val t0 = System.nanoTime()
      val f = Bpe.fitLocal(corpus, "text", nMerges = n)
      val done = f.merges.size
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"mode":"local","vocab":$vocab,"nmerges":$n,""" +
        f""""merges_done":$done,"fit_sec":$sec%.2f,""" +
        f""""per_merge_ms":${sec * 1000 / math.max(1, done)}%.3f}""")
    }
    spark.stop()
  }
}
