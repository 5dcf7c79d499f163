package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Bpe
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
  def main(args: Array[String]): Unit = Rehearsal.run("graft-scale-bpe") { spark =>
    val rest = args.toSeq.drop(1)
    args.headOption match {
      case Some("nmerges") => runMergeCurve(spark, Rehearsal.ints(rest, 16, 64, 256))
      case _ => runCorpusCurve(spark, Rehearsal.ints(args.toSeq, 1, 5, 10))
    }
  }

  private def runCorpusCurve(spark: SparkSession, mults: Seq[Int]): Unit = {
    import spark.implicits._
    val sfDir = Rehearsal.sfDir
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    require(nDocs > 0, s"no documents under $sfDir")
    val stride = Rehearsal.stride(base, "doc_id")

    val expect = Rehearsal.same[Seq[(String, String)]](
      "merge sequence drifted at multiplier")
    mults.foreach { m =>
      val corpus = (0 until m).map(i =>
        base.select(($"doc_id" + lit(i.toLong * stride)).as("doc_id"),
          $"text")).reduce(_ unionByName _)
      // warm pass at m=1 only would bias the curve; fit twice and keep
      // the second measurement so JIT/codegen warm-up is never billed
      def once() = Rehearsal.timed(Bpe.fit(corpus, "text", nMerges = 16).merges)
      once()
      val (sec, merges) = once()
      expect(m, merges.map(mg => (mg.left, mg.right)))
      println(f"""{"mult":$m,"docs":${nDocs * m},"fit_sec":$sec%.2f,""" +
        f""""merges":${merges.size}}""")
    }
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
  private def runMergeCurve(spark: SparkSession, counts: Seq[Int]): Unit = {
    val corpus = Tables(spark, Rehearsal.sfDir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" w"), md5(col("doc_id").cast("string"))).as("text"))
    // one warm fit so JIT/codegen warm-up is never billed to a count
    Rehearsal.timed(Bpe.fit(corpus, "text", nMerges = 8))
    counts.foreach { n =>
      val (sec, done) =
        Rehearsal.timed(Bpe.fit(corpus, "text", nMerges = n).merges.size)
      println(f"""{"nmerges":$n,"merges_done":$done,"fit_sec":$sec%.2f,""" +
        f""""per_merge_sec":${sec / math.max(1, done)}%.4f}""")
    }
  }
}
