package graft

import org.apache.spark.sql.functions._
import graft.ops.{Cooccur, Decontam, Dedup, Dsir, Scrub, Staged, TextAnalysis, TfIdf}
import graft.sources.Tables

/** Scale rehearsal for the selection/scoring family (round 11): DSIR
  * model fit + probe, PMI collocations, Zipf fit, and df-cut TF-IDF
  * pairs against K× letter-permuted replicas of the sf0.1 documents
  * table (the [[ScaleRehearsal]] replication scheme — structure
  * preserved, cross-replica similarity collapsed).
  *
  * Contracts measured, per multiplier K:
  * - DSIR fit: corpus grows K×, the committed model stays O(buckets)
  *   (constant rows) — fit time may grow ~K (it scans the corpus),
  *   but the artifact does not.
  * - FIXED batch probed against the growing-corpus model: per-batch
  *   cost must stay flat (the 100 TB incremental contract; row count
  *   constant by construction = built-in correctness face).
  * - Full-corpus scoring, PMI top pairs (top-V cutoff BEFORE joins),
  *   Zipf fit, TF-IDF pairs (df-cut fraction-of-N): all must grow
  *   ~linearly, never quadratically.
  *
  * Usage: runMain graft.ScaleRehearsalSelect [multipliers...]
  * (default 1 5 20)
  */
object ScaleRehearsalSelect {

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 5, 20)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-select")

    val base = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // the target corpus is FIXED (the realistic shape: a curated
    // quality set) while the raw crawl grows
    val target = base.where(col("doc_id") % 5 === 0)

    multipliers.foreach { k =>
      val path = s"/tmp/graft-scale-docs-${k}x"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        ScaleRehearsal.scaledDocs(base, k)
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      val docs = spark.read.parquet(path)
      val n = docs.count()

      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }

      val modelPath = s"/tmp/graft-scale-dsir-${k}x"
      val (tFit, nModel) = time {
        if (!Dsir.modelReady(spark, modelPath))
          Dsir.writeModel(docs, target, "text", modelPath)
        spark.read.parquet(s"$modelPath/lr").count()
      }
      Staged.releaseAll()
      // fixed probe batch: replica-0 docs ending in 0 (constant set)
      val batch = docs.where(col("doc_id") % 10 === 0 &&
        col("doc_id") < 10000000L)
      val (tProbe, nProbe) = time {
        Dsir.scoreIndexed(batch, modelPath, "doc_id", "text").count()
      }
      Staged.releaseAll()
      val (tScoreAll, nScoreAll) = time {
        Dsir.importanceWeights(docs, target, "doc_id", "text").count()
      }
      Staged.releaseAll()
      val (tPmi, nPmi) = time {
        Cooccur.pmiTopPairs(docs, "doc_id", "text").count()
      }
      Staged.releaseAll()
      val (tZipf, _) = time {
        TextAnalysis.zipfFit(docs, "text").count()
      }
      Staged.releaseAll()
      val (tTfidf, nTfidf) = time {
        TfIdf.cosinePairs(docs, "doc_id", "text").count()
      }
      Staged.releaseAll()
      // passage-family ops need a domain column: 20 sources per
      // replica (uniform by id) — replicas' rotated texts keep passage
      // supports constant, so cost must track corpus size linearly
      val docsS = docs.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20))))
      val (tDup, _) = time {
        Dedup.duplicationProfile(docsS, "doc_id", "text", window = 3).count()
      }
      Staged.releaseAll()
      val (tXso, nXso) = time {
        Decontam.crossSourceOverlap(docsS, "source", "text", window = 5).count()
      }
      Staged.releaseAll()
      val (tBoil, _) = time {
        Scrub.removeBoilerplate(docsS, "doc_id", "source", "text",
          window = 3, minFrac = 0.05, minDocs = 2).count()
      }
      Staged.releaseAll()
      val (tDiff, _) = time {
        TextAnalysis.corpusDiff(docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 =!= 0), "text").count()
      }
      Staged.releaseAll()

      println(s"""{"k":$k,"docs":$n,"model_rows":$nModel,""" +
        s""""fit_sec":${f"$tFit%.2f"},"probe_sec":${f"$tProbe%.2f"},""" +
        s""""probe_rows":$nProbe,"score_all_sec":${f"$tScoreAll%.2f"},""" +
        s""""score_rows":$nScoreAll,"pmi_sec":${f"$tPmi%.2f"},""" +
        s""""pmi_rows":$nPmi,"zipf_sec":${f"$tZipf%.2f"},""" +
        s""""tfidf_sec":${f"$tTfidf%.2f"},"tfidf_rows":$nTfidf,""" +
        s""""dup_sec":${f"$tDup%.2f"},"xso_sec":${f"$tXso%.2f"},""" +
        s""""xso_rows":$nXso,"boiler_sec":${f"$tBoil%.2f"},""" +
        s""""diff_sec":${f"$tDiff%.2f"}}""")
    }
    spark.stop()
  }
}
