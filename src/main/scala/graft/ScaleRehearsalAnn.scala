package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity, Staged}
import graft.sources.Tables

/** Scale rehearsal for the similarity/ANN family (VERDICT r4 item 7):
  * replicate the sf0.1 embeddings table K times and measure, build and
  * probe SEPARATELY, how the sign-LSH bucket table, the sign-LSH
  * near-dup join, the LSH top-k probe, and the IVF index (KMeans fit +
  * partitioned write vs partition-pruned probe) scale with corpus size.
  *
  * Replication preserves problem structure: each replica multiplies
  * every dimension by a deterministic ±1 sign pattern (a diagonal
  * orthogonal transform), so within-replica norms and cosines — and
  * therefore true near-dup pairs — are EXACTLY the originals (pairs
  * grow K×), while cross-replica similarity decorrelates. Verbatim
  * replication would plant K-sized exact-dup cliques and grow pairs
  * K²×, poisoning the curve.
  *
  * Usage: runMain graft.ScaleRehearsalAnn [multipliers...] (default 1 2 5 10 20)
  */
object ScaleRehearsalAnn {

  /** ±1 pattern for replica r: each sign comes from a mixed 64-bit
    * hash of (r, j), so ~half the dims flip per replica and any two
    * replicas' patterns disagree on ~half the dims — E[cos] between a
    * vector and its other-replica copy is ~0, std 1/√dim. (A first cut
    * took sign j from bit (j mod 31) of the SMALL integer r, which
    * flips only popcount(r) ≈ 2-3 of 64 dims — cross-replica copies
    * stayed at cos ≈ 0.9 and the pair counts grew K², poisoning the
    * curve this file exists to measure.)
    */
  private def signs(r: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      var h = r.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      if ((h & 1L) == 1L) -1.0 else 1.0
    }

  def scaledVecs(base: DataFrame, k: Int, dim: Int): DataFrame = {
    // replica stride from the data, not a constant: a fixed 10M offset
    // would collide replica ids on a ≥10M-row base and silently corrupt
    // the pair-count curve this harness measures
    val stride = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    (0 until k).map { r =>
      val s = typedLit(signs(r, dim))
      base.select(
        (col("vec_id") + lit(r * stride)).as("vec_id"),
        (if (r == 0) col("embedding")
         else zip_with(col("embedding").cast("array<double>"), s, (x, sg) => x * sg)
           .cast("array<float>")).as("embedding"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("refit")) { runRefitCurve(args.drop(1)); return }
    if (args.headOption.contains("resize")) { runResizeCurve(args.drop(1)); return }
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10, 20)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-ann")

    val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dim = base.select(size(col("embedding"))).head().getInt(0)

    multipliers.foreach { k =>
      // sfDir-fingerprinted cache (shared with ScaleRehearsalSem): a
      // path without the corpus tag would silently reuse replicas built
      // from a DIFFERENT sfDir — or from the pre-fix fixed-stride code
      val path = s"/tmp/graft-scale-vecs-${graft.queries.OracleDump.sfTag(sfDir)}-${k}x"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        scaledVecs(base, k, dim).repartition(32).write.mode("overwrite").parquet(path)
      }
      val vecs = spark.read.parquet(path)
      val n = vecs.count()
      val query = vecs.where(col("vec_id") === 0L)

      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = f
        ((System.nanoTime() - t0) / 1e9, rows)
      }

      // sign-LSH build: signature + bucket every corpus row (the
      // shared prefix of both LSH operators)
      val (tBucket, nBucket) = time {
        Similarity.lshNearDupBuckets(vecs, "vec_id", "embedding").count()
      }
      Staged.releaseAll()
      // sign-LSH near-dup join (x15): bucket + Hamming-1 probe join +
      // exact cosine verify; true pairs grow K× by construction
      val (tPairs, nPairs) = time {
        Similarity.lshNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.3).count()
      }
      Staged.releaseAll()
      // LSH top-k probe (x12): corpus-side bucketing dominates; the
      // probe set stays O(nBits) regardless of K
      val (tTopk, nTopk) = time {
        Similarity.lshTopK(vecs, query, "vec_id", "embedding", k = 50).count()
      }
      Staged.releaseAll()
      // corpus-wide kNN graph (x34): the near-dup candidate join read
      // directedly + per-source WindowGroupLimit top-k. nBits from the
      // occupancy policy — candidate volume ~n·(nBits+1)·occupancy,
      // linear in n where a fixed width would grow n²/2^nBits
      val knnBits = Similarity.nBitsForCorpus(n)
      val (tKnn, nKnn) = time {
        Similarity.lshKnnGraph(vecs, "vec_id", "embedding",
          k = 5, nBits = knnBits).count()
      }
      Staged.releaseAll()
      // IVF build (a04): KMeans fit + cluster-partitioned write —
      // forced fresh so the fit is measured, not the marker shortcut
      val idxPath = s"/tmp/graft-scale-ivf-${k}x"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(): Unit
      }
      rmrf(new java.io.File(idxPath))
      val (tBuild, _) = time {
        Ivf.buildPersistent(vecs, idxPath, "vec_id", "embedding", k = 16)
        16L
      }
      // IVF probe: fresh reload (no session cache) + nprobe-pruned scan
      val (tProbe, nProbe) = time {
        Ivf.topK(Ivf.readIndex(spark, idxPath), query,
          "vec_id", "embedding", k = 50).count()
      }
      // IVF-PQ int8 face (a05): one-off quantized projection, then the
      // pruned probe over it; per-face bytes measure the scan-bandwidth
      // cut the face exists for (the probe itself also reads fewer
      // bytes per cell, but at this scale the fixed plan overhead
      // dominates the wall clock — bytes are the scale signal)
      val (tQuant, _) = time {
        Ivf.quantizeAssigned(spark, idxPath, "vec_id", "embedding"); 0L
      }
      val (tProbe8, nProbe8) = time {
        Ivf.topKInt8(spark, idxPath, query, "vec_id", "embedding", k = 50).count()
      }
      // PQ face (a10): m per-subspace KMeans fits + one row-local
      // encode projection, then the ADC probe. The fit cost is
      // codebook-bound (m small fits), the encode is one corpus pass,
      // and the probe reads m bytes per vector — bytes_pq vs
      // bytes_float is the scan-bandwidth story the face exists for
      val (tPqFit, _) = time {
        graft.ops.Pq.pqAssign(spark, idxPath, "vec_id", "embedding",
          m = 4, ksub = 16); 0L
      }
      val (tProbePq, nProbePq) = time {
        graft.ops.Pq.topKPq(spark, idxPath, query,
          "vec_id", "embedding", k = 50).count()
      }
      // staged pipeline (a12/a13, round 15): PQ top-50 → exact float
      // re-rank off the CLUSTER-PRUNED float face. Stage 2's cost is
      // candidate-bound (kCand rows), so staged_probe_sec must stay
      // flat in K like the other probes — the 100× claim the pruned
      // re-rank exists for
      val (tStaged, nStaged) = time {
        graft.ops.Pq.topKStaged(spark, idxPath, query,
          "vec_id", "embedding", k = 10, kCand = 50).count()
      }
      Staged.releaseAll()
      // embedding-statistics family (x61/x67): the d²/2 gram/cov
      // aggregation is the corpus-scan-bound member — its cost must be
      // linear in rows (key space is d²/2 regardless of corpus); the
      // PCA fit adds one d-key means pass + a driver-side Jacobi whose
      // cost is constant in corpus size, so pca_sec − gram_sec must
      // stay flat as K grows
      val (tGram, nGram) = time {
        graft.ops.EmbedStats.gramCov(vecs, "embedding").count()
      }
      Staged.releaseAll()
      val (tPca, _) = time {
        graft.ops.EmbedStats.pca(vecs, "embedding", k = 4).components.length.toLong
      }
      Staged.releaseAll()
      def faceBytes(sub: String): Long = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$idxPath/$sub"))
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .map(_.length).sum
      }
      println(s"""{"mult":$k,"vecs":$n,"lsh_bucket_sec":$tBucket,"rows":$nBucket,""" +
        s""""lsh_pairs_sec":$tPairs,"pairs":$nPairs,"lsh_topk_sec":$tTopk,""" +
        s""""topk_rows":$nTopk,"knn_bits":$knnBits,"knn_graph_sec":$tKnn,""" +
        s""""knn_rows":$nKnn,"ivf_build_sec":$tBuild,"ivf_probe_sec":$tProbe,""" +
        s""""probe_rows":$nProbe,"ivf_quant_sec":$tQuant,""" +
        s""""ivf_probe8_sec":$tProbe8,"probe8_rows":$nProbe8,""" +
        s""""pq_fit_sec":$tPqFit,"pq_probe_sec":$tProbePq,""" +
        s""""probe_pq_rows":$nProbePq,""" +
        s""""staged_probe_sec":$tStaged,"staged_rows":$nStaged,""" +
        s""""gram_sec":$tGram,"gram_rows":$nGram,"pca_sec":$tPca,""" +
        s""""bytes_float":${faceBytes("assigned")},"bytes_int8":${faceBytes("assigned_int8")},""" +
        s""""bytes_pq":${faceBytes("assigned_pq")}}""")
    }
    spark.stop()
  }

  /** Refit-cost curve (round 16): the `Ivf.refitIndex` scale claim is
    * "refit cost ≈ build cost, linear in the corpus" — one KMeans fit,
    * one assignment pass, one write per face, under the committed
    * swap. Rehearsed per multiplier: build the full three-face index,
    * append a 10%-of-corpus DRIFT batch (every dim shifted +30 — far
    * outside the fit distribution), read a15's alarm (max per-cell
    * mean residual norm), time the refit, and REQUIRE the repair
    * (drifted residual ≥ 10× the refit residual; all vectors + faces
    * kept). What must hold in the numbers: refit_sec tracks
    * build+faces_sec (same class, linear in vecs), never the append
    * count or anything superlinear.
    *
    * Usage: runMain graft.ScaleRehearsalAnn refit [multipliers...]
    * (default 1 2 5 10).
    */
  private def runRefitCurve(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-ann")
    val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    multipliers.foreach { k =>
      val path = s"/tmp/graft-scale-vecs-${graft.queries.OracleDump.sfTag(sfDir)}-${k}x"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        scaledVecs(base, k, dim).repartition(32).write.mode("overwrite").parquet(path)
      val vecs = spark.read.parquet(path)
      val n = vecs.count()
      val idxPath = s"/tmp/graft-scale-refit-${k}x"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
        f.delete(): Unit
      }
      rmrf(new java.io.File(idxPath))
      val tBuild = time {
        Ivf.buildPersistent(vecs, idxPath, "vec_id", "embedding", k = 16): Unit
        Ivf.quantizeAssigned(spark, idxPath, "vec_id", "embedding")
        graft.ops.Pq.pqAssign(spark, idxPath, "vec_id", "embedding",
          m = 4, ksub = 16)
      }
      // the drift: 10% of the corpus re-ingested far from the fit
      // distribution, registered under frozen centroids
      val stride = vecs.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val drift = vecs.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(stride)).as("vec_id"),
          transform(col("embedding").cast("array<double>"), x => x + lit(30.0))
            .cast("array<float>").as("embedding"))
      val nDrift = drift.count()
      val tAppend = time {
        Ivf.appendToIndex(drift, idxPath, "vec_id", "embedding"): Unit
      }
      def maxRes(): Double =
        Ivf.cellResidualProfile(spark, idxPath, "embedding")
          .agg(max(col("mean_res_norm"))).head().getDouble(0)
      val resDrifted = maxRes()
      val tRefit = time {
        Ivf.refitIndex(spark, idxPath, "vec_id", "embedding")
      }
      val resRefit = maxRes()
      val kept = spark.read.parquet(s"$idxPath/assigned").count()
      val keptPq = spark.read.parquet(s"$idxPath/assigned_pq").count()
      require(kept == n + nDrift && keptPq == n + nDrift,
        s"refit lost vectors at mult $k: $kept/$keptPq vs ${n + nDrift}")
      require(resDrifted >= 10 * resRefit,
        s"refit failed to repair at mult $k: $resDrifted -> $resRefit")
      Staged.releaseAll()
      println(f"""{"mult":$k,"vecs":$n,"drift":$nDrift,""" +
        f""""build_faces_sec":$tBuild%.2f,"append_sec":$tAppend%.2f,""" +
        f""""res_drifted":$resDrifted%.3f,"res_refit":$resRefit%.3f,""" +
        f""""refit_sec":$tRefit%.2f}""")
    }
    spark.stop()
  }

  /** `resize`: the a19 policy loop end to end at growing corpus sizes.
    * Day-1 builds a three-face index sized for the BASE population
    * (k0 = kForCells(n0), the sf-scaled targetCell=512/kMin=4 the
    * capstone and a19 use); the corpus then grows mult× via the
    * sign-flip replicas appended under the frozen centroids (expected
    * cell population overloads mult×), the a19 hysteresis rule fires
    * (kPolicy/k0 ≈ mult ≥ 2), and `refitIndex(resizeTo = kPolicy)`
    * re-keys every face in one committed swap. REQUIREd per row: the
    * promoted index carries exactly kPolicy centroids and every
    * vector, and recall@10 at nprobe = kPolicy (probe EVERYTHING) is
    * exactly 1.0 — the all-cells probe is brute force over the index's
    * own rows, so any value below 1.0 means the swap lost or mis-keyed
    * a vector; it is a DETERMINISTIC exactness gate, immune to KMeans
    * fit variance. The pruned-probe comparison vs a FRESH build at the
    * same k is REPORTED, not gated: two KMeans fits over the same data
    * land on different local optima when the input partitioning
    * differs (the refit reads the cluster-partitioned assigned table),
    * so recall parity at small query samples is fit noise — gating on
    * it was observed flaky at mult=4 (0.53 vs 0.65 on 13 queries), the
    * exact absolute-threshold trap the IvfRefitSpec doctrine forbids.
    */
  private def runResizeCurve(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(2, 4, 8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-ann")
    val base = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val n0 = base.count()
    val stride = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val k0 = Ivf.kForCells(n0, targetCell = 512, kMin = 4)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
      f.delete(): Unit
    }
    multipliers.foreach { m =>
      val tag = graft.queries.OracleDump.sfTag(sfDir)
      val corpusPath = s"/tmp/graft-scale-vecs-$tag-${m}x"
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
        scaledVecs(base, m, dim).repartition(32).write.mode("overwrite")
          .parquet(corpusPath)
      val vecs = spark.read.parquet(corpusPath)
      val n = vecs.count()
      val idxPath = s"/tmp/graft-scale-resize-${m}x"
      rmrf(new java.io.File(idxPath))
      // day-1: index + faces sized for the base population only
      val tBuild = time {
        Ivf.buildPersistent(vecs.where(col("vec_id") < stride), idxPath,
          "vec_id", "embedding", k = k0): Unit
        Ivf.quantizeAssigned(spark, idxPath, "vec_id", "embedding")
        graft.ops.Pq.pqAssign(spark, idxPath, "vec_id", "embedding",
          m = 4, ksub = 16)
      }
      // growth: the other replicas register under the frozen k0 cells
      val tAppend = time {
        Ivf.appendToIndex(vecs.where(col("vec_id") >= stride), idxPath,
          "vec_id", "embedding"): Unit
      }
      val kPol = Ivf.kForCells(n, targetCell = 512, kMin = 4)
      require(Ivf.resizeRecommended(k0, kPol),
        s"the 2x policy must fire at mult $m: k $k0 -> policy $kPol")
      val tResize = time {
        Ivf.refitIndex(spark, idxPath, "vec_id", "embedding",
          resizeTo = Some(kPol))
      }
      val idx = Ivf.readIndex(spark, idxPath)
      require(idx.centroids.length == kPol,
        s"resize must land on the policy k at mult $m: " +
          s"${idx.centroids.length} vs $kPol")
      val kept = spark.read.parquet(s"$idxPath/assigned").count()
      require(kept == n, s"resize lost vectors at mult $m: $kept vs $n")
      val queries = vecs.where(col("vec_id") % 631L === 0)
      def recallOf(p: String, nprobe: Int): Double =
        graft.streaming.VectorStreams.recallSnapshot(
          queries, p, corpusPath, "vec_id", "embedding", k = 10,
          nprobe = nprobe, maxQueries = 32, alertBelow = 0.0)
          .select(col("recall")).head().getDouble(0)
      // the exactness gate: probing every cell IS brute force over the
      // index's rows — below 1.0 means the swap lost/mis-keyed vectors
      val recExact = recallOf(idxPath, kPol)
      require(recExact == 1.0,
        s"all-cells probe of the resized index must be exact at mult $m: " +
          s"$recExact")
      val recResized = recallOf(idxPath, 4)
      val freshPath = s"/tmp/graft-scale-resize-fresh-${m}x"
      rmrf(new java.io.File(freshPath))
      val tFresh = time {
        Ivf.buildPersistent(vecs, freshPath, "vec_id", "embedding",
          k = kPol): Unit
      }
      val recFresh = recallOf(freshPath, 4)
      Staged.releaseAll()
      println(f"""{"mult":$m,"vecs":$n,"k0":$k0,"k_policy":$kPol,""" +
        f""""build_faces_sec":$tBuild%.2f,"append_sec":$tAppend%.2f,""" +
        f""""resize_sec":$tResize%.2f,"fresh_build_sec":$tFresh%.2f,""" +
        f""""recall_resized":$recResized%.4f,"recall_fresh":$recFresh%.4f}""")
    }
    spark.stop()
  }
}
