package graft

import org.apache.spark.sql.functions._
import graft.ops.{Cooccur, Decontam, Dedup, Dsir, Scrub, TextAnalysis, TfIdf}
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

  def main(args: Array[String]): Unit = Rehearsal.run("graft-scale-select") { spark =>
    val sfDir = Rehearsal.sfDir
    val base = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // the target corpus is FIXED (the realistic shape: a curated
    // quality set) while the raw crawl grows
    val target = base.where(col("doc_id") % 5 === 0)

    Rehearsal.ints(args.toSeq, 1, 5, 20).foreach { k =>
      val docs = spark.read.parquet(ScaleRehearsal.scaledDocsPath(base, sfDir, k))
      val n = docs.count()

      val (tFit, modelPath) = Rehearsal.timed {
        Rehearsal.cached(s"graft-scale-dsir-${k}x", sfDir,
            Dsir.modelReady(spark, _)) { p =>
          Dsir.writeModel(docs, target, "text", p)
        }
      }
      val nModel = spark.read.parquet(s"$modelPath/lr").count()
      // fixed probe batch: replica-0 docs ending in 0 (constant set)
      val batch = docs.where(col("doc_id") % 10 === 0 &&
        col("doc_id") < 10000000L)
      val (tProbe, nProbe) = Rehearsal.timed {
        Dsir.scoreIndexed(batch, modelPath, "doc_id", "text").count()
      }
      val (tScoreAll, nScoreAll) = Rehearsal.timed {
        Dsir.importanceWeights(docs, target, "doc_id", "text").count()
      }
      val (tPmi, nPmi) = Rehearsal.timed {
        Cooccur.pmiTopPairs(docs, "doc_id", "text").count()
      }
      val (tZipf, _) = Rehearsal.timed {
        TextAnalysis.zipfFit(docs, "text").count()
      }
      val (tTfidf, nTfidf) = Rehearsal.timed {
        TfIdf.cosinePairs(docs, "doc_id", "text").count()
      }
      // passage-family ops need a domain column: 20 sources per
      // replica (uniform by id) — replicas' rotated texts keep passage
      // supports constant, so cost must track corpus size linearly
      val docsS = docs.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20))))
      val (tDup, _) = Rehearsal.timed {
        Dedup.duplicationProfile(docsS, "doc_id", "text", window = 3).count()
      }
      val (tXso, nXso) = Rehearsal.timed {
        Decontam.crossSourceOverlap(docsS, "source", "text", window = 5).count()
      }
      val (tBoil, _) = Rehearsal.timed {
        Scrub.removeBoilerplate(docsS, "doc_id", "source", "text",
          window = 3, minFrac = 0.05, minDocs = 2).count()
      }
      val (tDiff, _) = Rehearsal.timed {
        TextAnalysis.corpusDiff(docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 =!= 0), "text").count()
      }

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
  }
}
