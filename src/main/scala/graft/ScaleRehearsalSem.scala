package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Ivf, SemanticDedup, Similarity, Staged}
import graft.sources.Tables

/** Scale rehearsal for SemDeDup-style semantic dedup (VERDICT r5 item
  * 2): replicate the sf0.1 embeddings K× (same structure-preserving
  * sign-flip replication as [[ScaleRehearsalAnn]] — within-replica
  * cosines are exact, so true pairs grow K×, while cross-replica
  * similarity decorrelates) and measure the x31 pipeline end-to-end
  * with the corpus-sized k policy: KMeans build at k = kForCells(N),
  * hot-cell governance, within-cell pairs, connected components.
  *
  * What the curve must show: with k ∝ N (constant expected cell
  * population), the within-cell pair step's work grows LINEARLY in the
  * corpus — against the fixed-k form, whose pair count grows
  * quadratically. Both are measured side by side.
  *
  * Usage: runMain graft.ScaleRehearsalSem [multipliers...] (default 1 2 5 10 20)
  */
object ScaleRehearsalSem {

  /** Cross-cell recall of the x31 cell blocking, per threshold: what
    * fraction of the TRUE near-dup pairs (exact all-pairs cosine over
    * the whole table — the x11 machinery with one global block) the
    * governed within-cell candidate set captures. SemDeDup's cell
    * partition drops cross-cell pairs by design; this puts a NUMBER on
    * that approximation instead of prose (curve recorded in SCALE.md's
    * x31 section). Asserts the floor at the x31 production threshold.
    *
    * Usage: runMain graft.ScaleRehearsalSem recall [thresholds...]
    */
  private def recallMode(spark: SparkSession, sfDir: String,
      thresholds: Seq[Double]): Unit = {
    import spark.implicits._
    val e = Tables(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val n = e.count()
    // exactly the x31 policy: corpus-sized k, governed assignment
    val idx = Ivf.build(e, "vec_id", "embedding", k = Ivf.kForCells(n))
    val kept = Staged(SemanticDedup.keptCells(idx.assigned))
    val dropped = SemanticDedup.droppedCells(idx.assigned).count()
    // exact truth: all-pairs under ONE block (quadratic — rehearsal
    // scale only); blocked candidates: the same operator x31 composes
    val truth = Staged(Similarity.cosinePairsBlocked(
      e.withColumn("__all", lit(0)), "vec_id", "embedding", "__all",
      threshold = thresholds.min))
    val within = Staged(Similarity.cosinePairsBlocked(
      kept, "vec_id", "embedding", "cluster", threshold = thresholds.min))
    // multi-probe blocking (p=2): each vector also joins its second-
    // nearest cell, recovering boundary-straddling pairs; candidate
    // pairs dedupe across shared cells. Cap scaled by p, mirroring
    // dropListMultiProbe's governance.
    val keptM = Staged(SemanticDedup.keptCells(
      Ivf.multiAssign(idx, e, "vec_id", "embedding", probes = 2),
      maxCell = SemanticDedup.DefaultMaxCell * 2))
    val withinM = Staged(Similarity.cosinePairsBlocked(
        keptM, "vec_id", "embedding", "cluster", threshold = thresholds.min)
      .select($"id_a", $"id_b", $"cos_sim").distinct())
    val floors = thresholds.map { t =>
      val nTrue = truth.where($"cos_sim" > t).count()
      val nCaught = within.where($"cos_sim" > t).count()
      val nCaughtM = withinM.where($"cos_sim" > t).count()
      val recall = if (nTrue == 0) 1.0 else nCaught.toDouble / nTrue
      val recallM = if (nTrue == 0) 1.0 else nCaughtM.toDouble / nTrue
      println(s"""{"sf":"$sfDir","vecs":$n,"threshold":$t,""" +
        s""""true_pairs":$nTrue,"captured_pairs":$nCaught,""" +
        f""""recall":$recall%.4f,"captured_p2":$nCaughtM,""" +
        f""""recall_p2":$recallM%.4f,"dropped_cells":$dropped}""")
      t -> recall
    }.toMap
    Staged.releaseAll()

    // The operational face: SemDeDup prunes NEAR-DUPLICATES (cos→1),
    // not weakly-similar background pairs. Plant a perturbed copy of
    // every 10th vector (x·(1+0.01·sin) keeps cos ≈ 0.9999), rebuild
    // the index on the augmented corpus, and measure what fraction of
    // the planted pairs the governed cell blocking captures.
    val planted = e.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + n * 10).as("vec_id"),
        transform($"embedding", (x, i) =>
          x * (lit(1.0) + lit(0.01) * sin($"vec_id" * 7 + i))).as("embedding"))
    val aug = e.unionByName(planted)
    val nPlanted = planted.count()
    val augIdx = Ivf.build(aug, "vec_id", "embedding", k = Ivf.kForCells(n + nPlanted))
    val augKept = Staged(SemanticDedup.keptCells(augIdx.assigned))
    val caughtPlanted = Similarity.cosinePairsBlocked(
        augKept, "vec_id", "embedding", "cluster", threshold = 0.99)
      .where($"id_b" === $"id_a" + n * 10).count()
    val plantedRecall =
      if (nPlanted == 0) 1.0 else caughtPlanted.toDouble / nPlanted
    println(s"""{"sf":"$sfDir","planted_pairs":$nPlanted,""" +
      s""""captured_planted":$caughtPlanted,""" +
      f""""planted_recall":$plantedRecall%.4f}""")
    Staged.releaseAll()

    // Floors (regression guards at the measured levels, see SCALE.md):
    // planted near-dup recall 1.00 measured at sf0.01/sf0.1 — floor
    // 0.90; background recall at the x31 threshold 0.3 measured
    // 0.32 (sf0.01) / 0.24 (sf0.1) — floor 0.15.
    require(plantedRecall >= 0.90,
      f"planted near-dup recall regressed: $plantedRecall%.4f < 0.90")
    floors.get(0.3).foreach { r =>
      require(r >= 0.15,
        f"background recall at 0.3 regressed: $r%.4f < 0.15")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDirEarly = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("recall")) {
      val spark = GraftSession.local("graft-scale-sem")
      val ts = if (args.length > 1) args.drop(1).map(_.toDouble).toSeq
        else Seq(0.2, 0.3, 0.5, 0.7)
      recallMode(spark, sfDirEarly, ts.sorted)
      spark.stop()
      return
    }
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10, 20)
    val sfDir = sfDirEarly
    val spark = GraftSession.local("graft-scale-sem")

    val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dim = base.select(size(col("embedding"))).head().getInt(0)

    multipliers.foreach { m =>
      // sfDir-fingerprinted, shared with ScaleRehearsalAnn (see there)
      val path = s"/tmp/graft-scale-vecs-${graft.queries.OracleDump.sfTag(sfDir)}-${m}x"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        ScaleRehearsalAnn.scaledVecs(base, m, dim)
          .repartition(32).write.mode("overwrite").parquet(path)
      }
      val vecs = spark.read.parquet(path)
      val n = vecs.count()

      def run(k: Int): (Double, Long, Long) = {
        val idx = Ivf.build(vecs, "vec_id", "embedding", k = k)
        idx.assigned.persist()
        idx.assigned.count() // materialize: time the dedup, not the fit
        val t0 = System.nanoTime()
        val kept = SemanticDedup.keptCells(idx.assigned)
        val drops = SemanticDedup.dropListFromKept(
          kept, "vec_id", "embedding", threshold = 0.3).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // pair volume the blocking admits: Σ c·(c−1)/2 over kept cells
        val pairBudget = kept.groupBy(col("cluster"))
          .agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * (c - 1) DIV 2"))).head().getLong(0)
        idx.assigned.unpersist()
        Staged.releaseAll()
        (sec, drops, pairBudget)
      }

      // rehearsal-scaled policy: same kForCells function, targetCell
      // shrunk so k ∝ N is exercised across the 1-20× range (with the
      // production 4096 target, every rehearsal size clamps to kMin and
      // the policy-vs-fixed contrast would be invisible)
      val kPolicy = Ivf.kForCells(n, targetCell = 512, kMin = 4)
      val (tPolicy, dropsPolicy, pairsPolicy) = run(kPolicy)
      val (tFixed, dropsFixed, pairsFixed) = run(16)
      println(s"""{"mult":$m,"vecs":$n,"k_policy":$kPolicy,""" +
        s""""policy_sec":$tPolicy,"policy_drops":$dropsPolicy,"policy_pairs":$pairsPolicy,""" +
        s""""fixed16_sec":$tFixed,"fixed16_drops":$dropsFixed,"fixed16_pairs":$pairsFixed}""")
    }
    spark.stop()
  }
}
