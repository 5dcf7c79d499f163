package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Staged}
import graft.sources.Tables

/** Scale rehearsal for the dedup family (VERDICT r2 item 7): replicate
  * the sf0.1 documents table K times and measure how minhash-LSH,
  * prefix-filter Jaccard, connected components, and the corpus-clean
  * capstone stages scale with corpus size.
  *
  * Replication preserves problem structure instead of distorting it:
  * each replica applies a bijective letter permutation to the text, so
  * within-replica near-dup pairs are exactly the original ones (same
  * shingle-set overlaps under a renamed alphabet) while cross-replica
  * similarity collapses — corpus grows K×, true pairs grow K×, and a
  * quadratic operator exposes itself immediately. Verbatim replication
  * would instead plant K-sized exact-dup cliques and grow pairs K²×.
  *
  * Usage: runMain graft.ScaleRehearsal [multipliers...] (default 1 2 5 10)
  */
object ScaleRehearsal {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def rotated(r: Int): String =
    alpha.drop(r % 26) + alpha.take(r % 26)

  def scaledDocs(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { r =>
      base.select(
        (col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        (if (r == 0) col("text")
         else translate(col("text"), alpha, rotated(r))).as("text"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale")

    val base = Tables(spark, sfDir, "documents").select("doc_id", "text")

    multipliers.foreach { k =>
      // materialize the scaled corpus to parquet so scan cost is a real
      // file read, not an in-memory union
      val path = s"/tmp/graft-scale-docs-${k}x"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        scaledDocs(base, k).repartition(32).write.mode("overwrite").parquet(path)
      }
      val docs = spark.read.parquet(path)
      val n = docs.count()

      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }

      val (tPairs, nPairs) = time {
        Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.8).count()
      }
      Staged.releaseAll()
      val (tNgram, nNgram) = time {
        Dedup.ngramJaccardBlocked(
          docs.withColumn("block", lit(1)), "doc_id", "text", "block",
          n = 3, threshold = 0.8).count()
      }
      Staged.releaseAll()
      // directional containment (x66): same lossless-prefix family as
      // the Jaccard join but asymmetric — contained-side prefixes ×
      // container-side full explode. The letter-permutation replicas
      // preserve containment structure exactly (pairs grow K×, never
      // K²), so a super-linear curve here means the full-side explode
      // or the verify joins stopped scaling.
      val (tCont, nCont) = time {
        Dedup.ngramContainmentBlocked(
          docs.withColumn("block", lit(1)), "doc_id", "text", "block",
          n = 3, threshold = 0.6).count()
      }
      Staged.releaseAll()
      val (tCc, nCc) = time {
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.8)
        Dedup.connectedComponents(pairs, maxIter = 40).count()
      }
      Staged.releaseAll()
      // incremental-vs-full: dedup a 10% daily batch against the other
      // 90% — full re-dedup cost grows with the corpus, incremental
      // cost with the batch (+ one index equi-join)
      val batch = docs.where(col("doc_id") % 10 === 0)
      val corpus90 = docs.where(col("doc_id") % 10 =!= 0)
      // marker versioned: v2 = bucketed+sorted index layout (a cached
      // plain-parquet index would silently measure the old shape)
      val idxPath = s"/tmp/graft-scale-lshidx-${k}x"
      if (!new java.io.File(s"$idxPath/_OK_v2").exists()) {
        Dedup.writeLshIndex(corpus90, "doc_id", "text", idxPath, threshold = 0.8)
        new java.io.File(s"$idxPath/_OK_v2").createNewFile()
      }
      val (tIncr, nIncr) = time {
        Dedup.incrementalNearDup(batch, idxPath, "doc_id", "text",
          threshold = 0.8).count()
      }
      Staged.releaseAll()
      // FIXED batch vs GROWING index — the incremental contract at
      // 100 TB: per-batch cost tracks the batch, not the corpus. With
      // the bucketed layout the index never crosses an Exchange; what
      // remains per batch is its (shuffle-free) scan, so this curve
      // must grow far slower than the index. The replica-0 batch
      // only near-dups replica-0 docs (letter-rotated replicas share
      // no shingles), so the pair count is invariant across k — a
      // built-in correctness face.
      val fixedBatch = docs
        .where(col("doc_id") % 10 === 0 && col("doc_id") < 10000000L)
      val (tFix, nFix) = time {
        Dedup.incrementalNearDup(fixedBatch, idxPath, "doc_id", "text",
          threshold = 0.8).count()
      }
      Staged.releaseAll()
      // same fixed-batch face for the passage index (x33's layout)
      val pIdxPath = s"/tmp/graft-scale-passidx-${k}x"
      if (!new java.io.File(s"$pIdxPath/_OK_v2").exists()) {
        Dedup.writePassageIndex(corpus90, "doc_id", "text", window = 8,
          path = pIdxPath)
        new java.io.File(s"$pIdxPath/_OK_v2").createNewFile()
      }
      val (tPFix, nPFix) = time {
        Dedup.incrementalPassageDedup(fixedBatch, pIdxPath, "doc_id", "text",
          window = 8).count()
      }
      Staged.releaseAll()
      println(s"""{"mult":$k,"docs":$n,"lsh_sec":$tPairs,"lsh_pairs":$nPairs,""" +
        s""""ngram_sec":$tNgram,"ngram_pairs":$nNgram,""" +
        s""""contain_sec":$tCont,"contain_pairs":$nCont,""" +
        s""""cc_sec":$tCc,"cc_rows":$nCc,""" +
        s""""incr_sec":$tIncr,"incr_pairs":$nIncr,""" +
        s""""incr_fixed_sec":$tFix,"incr_fixed_pairs":$nFix,""" +
        s""""pass_fixed_sec":$tPFix,"pass_fixed_docs":$nPFix}""")
    }
    spark.stop()
  }
}
