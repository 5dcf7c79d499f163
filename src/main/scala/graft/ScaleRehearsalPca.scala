package graft

import org.apache.spark.sql.functions._
import graft.ops.{EmbedStats, Ivf, Similarity, Staged}
import graft.sources.Tables

/** The PCA serving face (round 14): does projecting the corpus down to
  * k components before indexing actually buy a cheaper ANN — and what
  * does it cost in recall? The reason PCA sits in a data pipeline is
  * this trade, so it gets measured, not asserted.
  *
  * Protocol: fit PCA (k = `dims`, default 16) on the embeddings table
  * (d = 64 in the fixtures), then build THREE persisted IVF indexes —
  * raw embeddings, PCA-projected (plain), PCA-projected (whitened) —
  * and probe each with the same query sample through the a06 batched
  * machinery. Ground truth is ONE brute-force cosine top-k over the
  * RAW embeddings ([[Similarity.bruteForceTopKBatch]]): recall is
  * always against what full-fidelity retrieval would return, so the
  * projected indexes' numbers price BOTH the dimensionality loss and
  * the IVF approximation in raw-retrieval terms. Bytes are the actual
  * on-disk size of each index's `assigned` table — what a probe scan
  * pays per cell — so the line is a direct recall-per-byte table.
  *
  * What r14 measured (sf0.1): the knob is VARIANCE KEPT, and the
  * fixture's synthetic embeddings are near-isotropic, so they price
  * the worst case — dims 16/32/48 keep 0.31/0.57/0.80 of variance and
  * recall@10 (nprobe=4) tracks it at 0.19/0.35/0.51 vs raw 0.67, with
  * bytes scaling ~linearly in dims. Two structural reads survive any
  * corpus: recall is FLAT in nprobe when variance-kept is low (the
  * loss is dimensionality, not probing — raising nprobe there wastes
  * scan), and whitening lands consistently below plain projection
  * because equalizing component variances deliberately reweights the
  * cosine geometry the truth is defined in (it exists for Euclidean /
  * Mahalanobis consumers). Real text embeddings are strongly
  * anisotropic (top-quarter dims typically keep 0.8+), where this
  * same table reads as near-raw recall at a quarter of the bytes —
  * run the rehearsal on the actual corpus before committing a dims.
  *
  * Anisotropic mode (round 15): the fixture prices the WORST case, so
  * the rehearsal could never show the regime PCA exists for. `aniso`
  * mode derives a decaying-spectrum corpus from the same embeddings —
  * dimension j scaled by 1/(1+j), so λ_j falls ~1/(1+j)² and the top
  * 16 of 64 dims carry the bulk of the variance (the shape real text
  * embeddings have) — and runs the identical three-face protocol.
  * Ground truth is brute force over the ANISO corpus (that IS the
  * corpus being served). Same instrument, the other regime: together
  * the two tables say "run this rehearsal on YOUR corpus; the answer
  * is a property of the spectrum, not of the operator".
  *
  * Usage: runMain graft.ScaleRehearsalPca [dims] [k] [queries] [aniso]
  * (default 16 10 64; add "aniso" for the decaying-spectrum corpus);
  * SPARK_GRAFT_SF_DIR picks the corpus.
  */
object ScaleRehearsalPca {
  def main(args: Array[String]): Unit = {
    val aniso = args.contains("aniso")
    val posArgs = args.filterNot(_ == "aniso")
    val dims = posArgs.lift(0).map(_.toInt).getOrElse(16)
    val k = posArgs.lift(1).map(_.toInt).getOrElse(10)
    val nQueries = posArgs.lift(2).map(_.toInt).getOrElse(64)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-pca")
    import spark.implicits._

    val raw = Tables(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    // aniso: scale dim j by 1/(1+j) — a row-local projection, so the
    // derived corpus is deterministic and both regimes share fixtures
    val emb = if (!aniso) raw else raw.select($"vec_id",
      transform($"embedding",
        (x, j) => x.cast("double") / (j.cast("double") + lit(1.0)))
        .as("embedding"))
    val n = emb.count()
    require(n > 0, s"no embeddings under $sfDir")
    // deterministic query sample: lowest ids (replay-stable)
    val queries = Staged(emb.orderBy($"vec_id").limit(nQueries))

    val fit = EmbedStats.pca(emb, "embedding", k = dims)
    val varKept = fit.eigenvalues.sum /
      math.max(EmbedStats.gramCov(emb, "embedding", roundTo = 9)
        .where($"i" === $"j").agg(sum($"cov")).head().getDouble(0), 1e-12)

    val root = s"/tmp/graft-scale-pca-$dims${if (aniso) "-aniso" else ""}"
    def bytesOf(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$path/assigned")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    // ONE raw-truth pass shared by every face (the a08 discipline)
    val truth = Staged(Similarity.bruteForceTopKBatch(
        emb, queries, "vec_id", "embedding", "vec_id", k)
      .select($"query_id", $"vec_id"))
    val nTruth = truth.count()

    def face(name: String, corpus: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame, vecCol: String): Unit = {
      val path = s"$root/$name"
      val idx = Ivf.buildPersistent(corpus, path, "vec_id", vecCol, k = 16)
      Seq(1, 2, 4).foreach { nprobe =>
        val t0 = System.nanoTime()
        val ann = Ivf.topKBatch(idx, qs, "vec_id", vecCol, "vec_id", k,
            nprobe = nprobe)
          .select($"query_id", $"vec_id")
        val hit = truth.join(ann, Seq("query_id", "vec_id"), "left_semi").count()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hit.toDouble / nTruth
        println(f"""{"face":"$name","dims":${if (name == "raw") 64 else dims},""" +
          f""""nprobe":$nprobe,"recall":$recall%.4f,""" +
          f""""index_bytes":${bytesOf(path)},"probe_sec":$sec%.2f}""")
      }
      // no Staged.release() here: the queue is GLOBAL, and draining it
      // would unpersist the shared brute-force `truth` (and the
      // projected corpora), silently billing a full raw brute-force
      // pass to every later face's probe_sec
    }

    println(f"""{"fit_dims":$dims,"aniso":$aniso,"variance_kept":$varKept%.4f,"n_queries":$nQueries,"corpus":$n}""")
    face("raw", emb, queries, "embedding")
    val projC = Staged(EmbedStats.pcaProjectVec(emb, "vec_id", "embedding", fit))
    val projQ = Staged(EmbedStats.pcaProjectVec(queries, "vec_id", "embedding", fit))
    face("pca", projC, projQ, "proj")
    val whC = Staged(EmbedStats.pcaProjectVec(emb, "vec_id", "embedding", fit,
      whiten = true))
    val whQ = Staged(EmbedStats.pcaProjectVec(queries, "vec_id", "embedding", fit,
      whiten = true))
    face("pca_whitened", whC, whQ, "proj")
    Staged.release()
    spark.stop()
  }
}
