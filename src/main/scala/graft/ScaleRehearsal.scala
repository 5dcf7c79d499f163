package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
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

  /** The K× replicated corpus, materialized to parquet once per (sf, K)
    * so scan cost is a real file read, not an in-memory union.
    */
  def scaledDocsPath(base: DataFrame, sfDir: String, k: Int): String =
    Rehearsal.cached(s"graft-scale-docs-${k}x", sfDir) { p =>
      scaledDocs(base, k).repartition(32).write.mode("overwrite").parquet(p)
    }

  def main(args: Array[String]): Unit = Rehearsal.run("graft-scale") { spark =>
    val sfDir = Rehearsal.sfDir
    val base = Tables(spark, sfDir, "documents").select("doc_id", "text")
    Rehearsal.ints(args.toSeq, 1, 2, 5, 10).foreach { k =>
      val docs = spark.read.parquet(scaledDocsPath(base, sfDir, k))
      val n = docs.count()
      val (tPairs, nPairs) = Rehearsal.timed {
        Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.8).count()
      }
      val (tNgram, nNgram) = Rehearsal.timed {
        Dedup.ngramJaccardBlocked(
          docs.withColumn("block", lit(1)), "doc_id", "text", "block",
          n = 3, threshold = 0.8).count()
      }
      // directional containment (x66): same lossless-prefix family as
      // the Jaccard join but asymmetric — contained-side prefixes ×
      // container-side full explode. The letter-permutation replicas
      // preserve containment structure exactly (pairs grow K×, never
      // K²), so a super-linear curve here means the full-side explode
      // or the verify joins stopped scaling.
      val (tCont, nCont) = Rehearsal.timed {
        Dedup.ngramContainmentBlocked(
          docs.withColumn("block", lit(1)), "doc_id", "text", "block",
          n = 3, threshold = 0.6).count()
      }
      val (tCc, nCc) = Rehearsal.timed {
        val pairs = Dedup.minHashLsh(docs, "doc_id", "text", threshold = 0.8)
        Dedup.connectedComponents(pairs, maxIter = 40).count()
      }
      // incremental-vs-full: dedup a 10% daily batch against the other
      // 90% — full re-dedup cost grows with the corpus, incremental
      // cost with the batch (+ one index equi-join)
      val batch = docs.where(col("doc_id") % 10 === 0)
      val corpus90 = docs.where(col("doc_id") % 10 =!= 0)
      val idxPath = Rehearsal.cached(s"graft-scale-lshidx-${k}x", sfDir) { p =>
        Dedup.writeLshIndex(corpus90, "doc_id", "text", p, threshold = 0.8)
      }
      val (tIncr, nIncr) = Rehearsal.timed {
        Dedup.incrementalNearDup(batch, idxPath, "doc_id", "text",
          threshold = 0.8).count()
      }
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
      val (tFix, nFix) = Rehearsal.timed {
        Dedup.incrementalNearDup(fixedBatch, idxPath, "doc_id", "text",
          threshold = 0.8).count()
      }
      // same fixed-batch face for the passage index (x33's layout)
      val pIdxPath = Rehearsal.cached(s"graft-scale-passidx-${k}x", sfDir) { p =>
        Dedup.writePassageIndex(corpus90, "doc_id", "text", window = 8, path = p)
      }
      val (tPFix, nPFix) = Rehearsal.timed {
        Dedup.incrementalPassageDedup(fixedBatch, pIdxPath, "doc_id", "text",
          window = 8).count()
      }
      println(s"""{"mult":$k,"docs":$n,"lsh_sec":$tPairs,"lsh_pairs":$nPairs,""" +
        s""""ngram_sec":$tNgram,"ngram_pairs":$nNgram,""" +
        s""""contain_sec":$tCont,"contain_pairs":$nCont,""" +
        s""""cc_sec":$tCc,"cc_rows":$nCc,""" +
        s""""incr_sec":$tIncr,"incr_pairs":$nIncr,""" +
        s""""incr_fixed_sec":$tFix,"incr_fixed_pairs":$nFix,""" +
        s""""pass_fixed_sec":$tPFix,"pass_fixed_docs":$nPFix}""")
    }
  }
}
