package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Product quantization (PQ) with RESIDUAL encoding over the persisted
  * IVF index — the compressed ANN face a 100 TB serving tier actually
  * scans, in the form real IVF-PQ systems use: each vector is encoded
  * as its residual against its cell's centroid (residuals are centered
  * and far smaller than raw vectors, so the same m bytes reconstruct
  * much closer), split into `m` contiguous subvectors of `dsub = d/m`
  * dims, each quantized to one byte by its own per-subspace KMeans
  * codebook of `ksub` centroids. Against the int8 face (a05: 1 byte
  * per DIMENSION) this is 1 byte per SUBSPACE — for the 64-dim corpus
  * at m=4, 4 bytes/vector vs 64 (int8) vs 256 (float32).
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * exact, and per query the driver precomputes small lookup tables so
  * scoring a stored vector is a handful of table lookups — no decoded
  * vectors anywhere. With reconstruction x̂ = c_cell + Σ_sub part:
  *
  *   dot(q, x̂)  = dot(q, c_cell) + Σ_sub dot(q_sub, part)
  *   ‖x̂‖²       = ‖c_cell‖² + Σ_sub (2·dot(c_cell_sub, part) + ‖part‖²)
  *   cos_adc    = dot(q, x̂) / (‖q‖ · √‖x̂‖²)
  *
  * i.e. the EXACT cosine between q and the reconstruction. Per query
  * that is one m·ksub dot-LUT + one k-entry dot(q, centroid) table;
  * the cross/norm table (k·m·ksub) and ‖centroid‖² are
  * query-independent and shared. All lookup sums run in fixed
  * sub=0..m−1 order inside codegen'd native expressions
  * ([[graft.functions.PqLookupSum]] / [[graft.functions.PqLookupSumAt]]),
  * so the float math is deterministic and the DuckDB oracle replays it
  * from the dumped codebooks, centroids, and codes.
  *
  * Scale shape: the codebook fit is m KMeans fits over ONE pass each
  * (at 100 TB: over a deterministic hash sample — `fitSampleRate`;
  * codebooks are a property of the distribution, not the corpus);
  * encode is a row-local projection (residual + argmin per subspace,
  * no shuffle) written in the same cluster= partition layout as the
  * base index, so probes prune identically; a probe reads nprobe/k of
  * the corpus at m bytes per vector.
  */
object Pq {

  /** Fitted codebooks over RESIDUALS: `codebooks(sub)(code)` is a
    * `dsub`-dim residual centroid.
    */
  final case class Model(m: Int, ksub: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]]) {

    /** Flattened [sub][code][j] layout consumed by the native encode. */
    def flat: Array[Double] = {
      val out = new Array[Double](m * ksub * dsub)
      var i = 0
      for (sub <- 0 until m; code <- 0 until ksub; j <- 0 until dsub) {
        out(i) = codebooks(sub)(code)(j); i += 1
      }
      out
    }

    /** Per-(sub, code) dot(q_sub, part) — the per-query ADC dot LUT. */
    def lutDot(q: Array[Double]): Array[Double] = {
      require(q.length == m * dsub,
        s"query dim ${q.length} != m·dsub = ${m * dsub}")
      val out = new Array[Double](m * ksub)
      for (sub <- 0 until m; code <- 0 until ksub) {
        var s = 0.0
        var j = 0
        while (j < dsub) {
          s += q(sub * dsub + j) * codebooks(sub)(code)(j); j += 1
        }
        out(sub * ksub + code) = s
      }
      out
    }

    /** Per-(sub, code) ‖part‖². */
    def lutN2: Array[Double] = {
      val out = new Array[Double](m * ksub)
      for (sub <- 0 until m; code <- 0 until ksub) {
        var s = 0.0
        var j = 0
        while (j < dsub) {
          val c = codebooks(sub)(code)(j); s += c * c; j += 1
        }
        out(sub * ksub + code) = s
      }
      out
    }
  }

  private def dotArr(a: Array[Double], b: Array[Double], aOff: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < b.length) { s += a(aOff + j) * b(j); j += 1 }
    s
  }

  /** Query-independent cross/norm table, k·m·ksub entries:
    * entry(cell, sub, code) = 2·dot(centroid_cell_sub, part) + ‖part‖².
    * Σ over subs + ‖centroid‖² = the reconstruction's squared norm.
    */
  def crossLut(model: Model, centroids: Array[Array[Double]]): Array[Double] = {
    val n2 = model.lutN2
    val out = new Array[Double](centroids.length * model.m * model.ksub)
    for (cell <- centroids.indices; sub <- 0 until model.m;
         code <- 0 until model.ksub) {
      val part = model.codebooks(sub)(code)
      out((cell * model.m + sub) * model.ksub + code) =
        2.0 * dotArr(centroids(cell), part, sub * model.dsub) +
          n2(sub * model.ksub + code)
    }
    out
  }

  /** Per-cell dot(q, centroid) — the per-query k-entry table. */
  def centDots(q: Array[Double], centroids: Array[Array[Double]]): Array[Double] =
    centroids.map { c =>
      require(c.length == q.length,
        s"centroid dim ${c.length} != query dim ${q.length}")
      dotArr(q, c, 0)
    }

  /** Per-cell ‖centroid‖² — query-independent. */
  def centNorm2(centroids: Array[Array[Double]]): Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  /** Fit per-subspace KMeans codebooks over residuals
    * (vec − centroid[cluster]). One pass per subspace over `assigned`
    * (optionally a deterministic hash sample). Seeds differ per
    * subspace so identical subspace distributions don't produce
    * identical codebooks.
    *
    * The codebooks are a function of the rows (and the parameters), not
    * of `assigned`'s partitioning or the session's core count: the
    * residuals are laid out once by [[Ivf.fitLayout]] and every
    * subspace fit reads that one cached layout.
    */
  def fitCodebooks(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long = 42L, fitSampleRate: Double = 1.0): Model = {
    require(m > 0 && ksub > 1 && ksub <= 256,
      s"need m > 0 and 1 < ksub <= 256 (byte codes), got m=$m ksub=$ksub")
    val d = centroids(0).length
    require(d % m == 0, s"vector dim $d not divisible by m=$m")
    val dsub = d / m
    val src0 = if (fitSampleRate < 1.0)
      Sampling.hashSample(assigned, idCol, fitSampleRate) else assigned
    val src = Ivf.fitLayout(src0.where(col(vecCol).isNotNull)
        .select(col(idCol), col(vecCol), col("cluster")), idCol, vecCol)
      .select(GraftFunctions.centroidResidual(
        col(vecCol).cast("array<double>"), col("cluster").cast("int"),
        typedLit(centroids.flatten.toSeq)).as("__r"))
      .persist()
    val books = try (0 until m).map { sub =>
      val feats = src.select(array_to_vector(
        slice(col("__r"), sub * dsub + 1, dsub)).as("__features"))
      val model = new KMeans().setK(ksub).setSeed(seed + sub)
        .setFeaturesCol("__features").setPredictionCol("__c").fit(feats)
      require(model.clusterCenters.length == ksub,
        s"subspace $sub collapsed to ${model.clusterCenters.length} centroids" +
          s" (< ksub=$ksub): corpus has too few distinct residual subvectors")
      model.clusterCenters.map(_.toArray)
    }.toArray finally src.unpersist()
    Model(m, ksub, dsub, books)
  }

  /** Codebooks as data: (sub, code, centroid array<double>) — the dump
    * the oracle replays ADC from.
    */
  def codebookRows(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    (for (sub <- 0 until model.m; code <- 0 until model.ksub)
      yield (sub, code, model.codebooks(sub)(code).toSeq))
      .toDF("sub", "code", "centroid")
  }

  /** Reload a persisted codebook dump into a [[Model]]. Driver-bounded:
    * m·ksub rows.
    */
  def readCodebooks(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(s"$path/pq_codebooks")
      .orderBy("sub", "code").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub, s"codebook dump at $path is ragged")
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    Model(m, ksub, books(0)(0).length, books.map(_.toArray))
  }

  /** (id, codes array<byte>, cluster) under a FROZEN model — shared by
    * the initial build and the append path so the encode rule cannot
    * drift. Codes quantize the RESIDUAL against the row's cell
    * centroid. Zero-norm input vectors are excluded (the family's
    * "no zero-norm vector enters a top-k" rule: their cosine is
    * undefined).
    */
  def encodeRows(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], model: Model): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    assigned
      .select(col(idCol), v.as("__v"), col("cluster").cast("int").as("cluster"))
      .where(array_max(transform(col("__v"), x => abs(x))) > 0)
      .select(col(idCol),
        GraftFunctions.pqEncode(
          GraftFunctions.centroidResidual(col("__v"), col("cluster"),
            typedLit(centroids.flatten.toSeq)),
          typedLit(model.flat.toSeq), model.m, model.ksub).as("codes"),
        col("cluster"))
  }

  /** Fit + encode the residual-PQ face of a persisted IVF index:
    * codebooks to `path/pq_codebooks` (data — the oracle's replay
    * source), codes to `path/assigned_pq` in the identical cluster=
    * layout (probes prune the same partitions). Build-once via a
    * versioned marker: a face built with DIFFERENT params fails loudly
    * (readers would mix markers and codes), while a face in the
    * pre-residual v1 format — derived data — is deleted and rebuilt.
    */
  def pqAssign(spark: SparkSession, path: String, idCol: String,
      vecCol: String, m: Int = 4, ksub: Int = 16, seed: Long = 42L,
      fitSampleRate: Double = 1.0): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the marker carries EVERY parameter the stored face depends on —
    // m/ksub (layout), seed and fitSampleRate (which codebooks were
    // fit) — so no parameter change can ever be served a stale face
    val marker = new org.apache.hadoop.fs.Path(
      s"$path/_PQ_OK_v3_${vecCol}_m${m}_k${ksub}_s${seed}_r$fitSampleRate")
    if (fs.exists(marker)) return
    val stale = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$path/_PQ_OK_*"))).toSeq.flatten
    val (current, legacy) =
      stale.partition(_.getPath.getName.startsWith("_PQ_OK_v3_"))
    require(current.isEmpty,
      s"index at $path already holds a PQ face with different parameters " +
        s"(${current.map(_.getPath.getName).mkString(", ")}) — delete the " +
        "face (pq_codebooks/, assigned_pq/, marker) to rebuild with " +
        s"m=$m ksub=$ksub seed=$seed fitSampleRate=$fitSampleRate")
    if (legacy.nonEmpty) {
      // pre-v3 formats (raw-vector codes, or param-incomplete marker):
      // derived data, deterministic to rebuild
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/pq_codebooks"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/assigned_pq"), true)
      legacy.foreach(st => fs.delete(st.getPath, false))
    }
    val index = Ivf.readIndex(spark, path)
    val assigned = spark.read.parquet(s"$path/assigned")
    val model = fitCodebooks(assigned, idCol, vecCol, index.centroids,
      m, ksub, seed, fitSampleRate)
    codebookRows(spark, model).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pq_codebooks")
    encodeRows(assigned, idCol, vecCol, index.centroids, model)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned_pq")
    fs.create(marker, true).close()
  }

  /** [[Ivf.topK]] over the residual-PQ face: identical probe-cell
    * selection (shared [[Ivf.probeCells]] — the three faces cannot
    * drift), but the per-cell scan reads `assigned_pq` (m bytes per
    * vector) and ranks by ADC cosine via lookup-table literals. The
    * plan is scan → codegen'd projection → TakeOrderedAndProject; the
    * only vector arithmetic anywhere is the driver-side LUT build.
    */
  def topKPq(spark: SparkSession, path: String, query: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      roundTo: Int = 6): DataFrame = {
    val centroids = Ivf.readIndex(spark, path).centroids
    val qvec = Ivf.queryVecOf(query, vecCol)
    val probes = Ivf.probeCells(centroids, qvec, nprobe)
    topKPqWith(spark, path, centroids, qvec, probes, idCol, k, roundTo)
  }

  /** [[topKPq]]'s core with the probe artifacts precomputed — so a
    * staged pipeline that already read the index and ranked the probes
    * ([[topKStaged]]) never pays a second centroid read or probe
    * computation for identical results.
    */
  private def topKPqWith(spark: SparkSession, path: String,
      centroids: Array[Array[Double]], qvec: Array[Double],
      probes: Seq[Int], idCol: String, k: Int, roundTo: Int): DataFrame = {
    val model = readCodebooks(spark, path)
    val qnorm = math.sqrt(qvec.map(x => x * x).sum)
    require(qnorm > 0, "zero-norm query has no cosine neighbors")
    val mk = model.m * model.ksub
    val dotLut = typedLit(model.lutDot(qvec).toSeq)
    val cross = typedLit(crossLut(model, centroids).toSeq)
    val qc = typedLit(centDots(qvec, centroids).toSeq)
    val cn2 = typedLit(centNorm2(centroids).toSeq)
    val off = (col("cluster") * lit(mk)).cast("int")
    val numer = element_at(qc, col("cluster") + 1) +
      GraftFunctions.pqLookupSum(col("codes"), dotLut, model.ksub)
    val denom2 = element_at(cn2, col("cluster") + 1) +
      GraftFunctions.pqLookupSumAt(col("codes"), cross, off, model.ksub)
    spark.read.parquet(s"$path/assigned_pq")
      .where(col("cluster").isInCollection(probes))
      .select(col(idCol),
        round(when(denom2 > 0, numer / (lit(qnorm) * sqrt(denom2))), roundTo)
          .as("cos_adc"))
      .where(col("cos_adc").isNotNull)
      .orderBy(col("cos_adc").desc, col(idCol))
      .limit(k)
  }

  /** Staged retrieval, single query: PQ ADC top-`kCand` candidates →
    * exact float cosine over ONLY those candidates → top-`k`. The
    * serving pipeline the compressed face exists FOR: stage 1 scans
    * m bytes/vector over the probed cells, stage 2 reads full floats
    * for just the candidate rows — and reads them from the index's
    * CLUSTER-PRUNED float face (`assigned`, `cluster IN probes` — every
    * candidate lives in a probed cell by construction, and the probe
    * set is plan-time static), never from the full corpus table: a
    * full-corpus float scan in the re-rank stage would cost exactly
    * what the compressed face is there to avoid at 100 TB. The
    * candidate filter is a broadcast semi-join on the kCand ids; the
    * query vector rides as a literal (stage 1 already collected it),
    * so stage 2 is scan → semi-join → codegen'd cosine → top-k with
    * no nested-loop anywhere.
    */
  def topKStaged(spark: SparkSession, path: String, query: DataFrame,
      idCol: String, vecCol: String, k: Int, kCand: Int, nprobe: Int = 4,
      roundTo: Int = 6): DataFrame = {
    require(kCand >= k, s"stage-1 candidate count $kCand must cover k=$k")
    val centroids = Ivf.readIndex(spark, path).centroids
    val qvec = Ivf.queryVecOf(query, vecCol)
    val probes = Ivf.probeCells(centroids, qvec, nprobe)
    // one index read + one probe computation serve BOTH stages
    val cand = topKPqWith(spark, path, centroids, qvec, probes, idCol,
      kCand, roundTo).select(col(idCol))
    spark.read.parquet(s"$path/assigned")
      .where(col("cluster").isInCollection(probes))
      .join(broadcast(cand), Seq(idCol), "left_semi")
      .select(col(idCol),
        round(Similarity.cosine(col(vecCol).cast("array<double>"),
          typedLit(qvec.toSeq)), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Staged retrieval, batched: [[topKPqBatch]] supplies `kCand` PQ
    * candidates per query, then the exact float re-rank reads the
    * cluster-pruned float face (same static `cluster IN allCells`
    * pruning as stage 1 — the union of every query's probed cells,
    * which by construction contains every candidate) and keeps only
    * candidate rows via a broadcast equi-join on (id). A candidate
    * shared by several queries fans out once per query — exactly the
    * (query, candidate) pairs stage 2 must score — and per-query
    * ranking is the shared keyed window ([[Ivf.rankTopK]],
    * WindowGroupLimit). Cell selection is [[Ivf.batchProbe]] on both
    * stages, so a recall report against the float probe measures
    * exactly what staging recovers, never probe drift.
    */
  def topKStagedBatch(spark: SparkSession, path: String, index: Ivf.Index,
      queries: DataFrame, qidCol: String, vecCol: String, idCol: String,
      k: Int, kCand: Int, nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    require(kCand >= k, s"stage-1 candidate count $kCand must cover k=$k")
    val (sc, qidOut) = stagedCandidates(spark, path, index, queries,
      qidCol, vecCol, idCol, kCand, nprobe, roundTo)
    Ivf.rankTopK(sc.select(col(qidOut), col(idCol), col("cos_sim")),
      qidOut, idCol, k)
  }

  /** The staged pipeline's shared intermediate: per (query, candidate)
    * — candidates = the per-query ADC top-`kCand` — both the stage-1
    * ADC rank (`adc_rank`, the order PQ serving would cut at) and the
    * stage-2 exact float cosine (`cos_sim`, read off the cluster-pruned
    * float face). [[topKStagedBatch]] is one keyed window over it; a
    * kCand TUNING SWEEP (a14) filters `adc_rank <= kc` per setting and
    * re-ranks — nested candidate sets mean ONE ADC pass + ONE pruned
    * float pass serve every cut, instead of re-running both stages per
    * setting. Returns (frame, qid column name).
    */
  def stagedCandidates(spark: SparkSession, path: String, index: Ivf.Index,
      queries: DataFrame, qidCol: String, vecCol: String, idCol: String,
      kCand: Int, nprobe: Int = 4, roundTo: Int = 6)
      : (DataFrame, String) = {
    val (qdf, allCells, qidOut) =
      Ivf.batchProbe(index, queries, qidCol, vecCol, idCol, nprobe)
    // adc_rank re-derives topKPqBatch's own ranking order (rounded ADC
    // desc, id asc — the total order rankTopK cut the kCand list with);
    // the ONE batchProbe above serves stage 1 and stage 2 both
    val cand = topKPqBatchWith(spark, path, index, qdf, allCells, qidOut,
        idCol, kCand, roundTo)
      .select(col(qidOut), col(idCol), col("cos_sim").as("__adc"))
      .withColumn("adc_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(qidOut))
          .orderBy(col("__adc").desc, col(idCol))))
      .drop("__adc")
    val qvecs = qdf.select(col(qidOut), col("query_vec")).distinct()
    (spark.read.parquet(s"$path/assigned")
      .where(col("cluster").isInCollection(allCells))
      .join(broadcast(cand), Seq(idCol))
      .join(broadcast(qvecs), Seq(qidOut))
      .select(col(qidOut), col(idCol), col("adc_rank"),
        round(Similarity.cosine(col(vecCol).cast("array<double>"),
          col("query_vec")), roundTo).as("cos_sim")),
      qidOut)
  }

  /** Per-query staged top-`k` from a [[stagedCandidates]] frame cut at
    * `adc_rank <= kCand` — the sweep's per-setting step: a filter +
    * the shared keyed window, no re-probe of either face.
    */
  def topKFromCandidates(sc: DataFrame, qidOut: String, idCol: String,
      k: Int, kCand: Int): DataFrame = {
    require(kCand >= k, s"stage-1 candidate count $kCand must cover k=$k")
    Ivf.rankTopK(sc.where(col("adc_rank") <= kCand)
      .select(col(qidOut), col(idCol), col("cos_sim")), qidOut, idCol, k)
  }

  /** Batched multi-query probe over the residual-PQ face — a06's exact
    * plan shape (plan-time probes via the SHARED [[Ivf.batchProbe]],
    * static partition pruning, broadcast (query, cell) pairs,
    * keyed-window rank), reading `assigned_pq` (m bytes per vector).
    * Each broadcast query row carries its per-query ADC precompute
    * (dot-LUT + per-cell dot(q, centroid) + ‖q‖); the query-independent
    * cross/norm tables ride once as literals. Because cell selection
    * is batchProbe, an agreement report against the float face
    * measures exactly the reconstruction effect, never probe drift —
    * a09's methodology. Zero-norm queries rank nothing.
    */
  def topKPqBatch(spark: SparkSession, path: String, index: Ivf.Index,
      queries: DataFrame, qidCol: String, vecCol: String, idCol: String,
      k: Int, nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    val (qdf, allCells, qidOut) =
      Ivf.batchProbe(index, queries, qidCol, vecCol, idCol, nprobe)
    topKPqBatchWith(spark, path, index, qdf, allCells, qidOut, idCol,
      k, roundTo)
  }

  /** [[topKPqBatch]]'s core with the batch probe precomputed — shared
    * with [[stagedCandidates]] so a staged pipeline runs
    * [[Ivf.batchProbe]] (a driver collect of the query frame + per-
    * query probe ranking) exactly once.
    */
  private def topKPqBatchWith(spark: SparkSession, path: String,
      index: Ivf.Index, qdf: DataFrame, allCells: Seq[Int],
      qidOut: String, idCol: String, k: Int, roundTo: Int): DataFrame =
    Ivf.rankTopK(
      pqScoredBatch(spark, path, index, qdf, allCells, qidOut, idCol, roundTo)
        .select(col(qidOut), col(idCol), col("cos_sim")),
      qidOut, idCol, k)

  /** The uncut ADC-scored frame behind every batched PQ probe:
    * (qidOut, idCol, probe_rank, cos_sim) for EVERY stored vector in a
    * probed cell × every query probing that cell — one pruned pass
    * over the m-bytes-per-vector face; `probe_rank` is the cell's rank
    * among the query's probes (from [[Ivf.batchProbe]]), so a
    * probe-width sweep filters it per setting instead of re-scanning.
    */
  private def pqScoredBatch(spark: SparkSession, path: String,
      index: Ivf.Index, qdf: DataFrame, allCells: Seq[Int],
      qidOut: String, idCol: String, roundTo: Int): DataFrame = {
    val model = readCodebooks(spark, path)
    val centroids = index.centroids
    // extend the (query, cell) broadcast rows with the per-query ADC
    // precompute (O(Q·nprobe·(m·ksub + k)) driver state — thousands of
    // queries are trivial)
    val rows = qdf.collect().toSeq.map { r =>
      val vec = r.getSeq[Double](1).toArray
      org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(
        model.lutDot(vec).toSeq, centDots(vec, centroids).toSeq,
        math.sqrt(vec.map(x => x * x).sum)))
    }
    val arr = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
    val schema = qdf.schema.add("lut_dot", arr).add("qc_dot", arr)
      .add("qnorm", org.apache.spark.sql.types.DoubleType)
    val qlut = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val mk = model.m * model.ksub
    val cross = typedLit(crossLut(model, centroids).toSeq)
    val cn2 = typedLit(centNorm2(centroids).toSeq)
    val off = (col("cluster") * lit(mk)).cast("int")
    val numer = element_at(col("qc_dot"), col("cluster") + 1) +
      GraftFunctions.pqLookupSum(col("codes"), col("lut_dot"), model.ksub)
    val denom2 = element_at(cn2, col("cluster") + 1) +
      GraftFunctions.pqLookupSumAt(col("codes"), cross, off, model.ksub)
    spark.read.parquet(s"$path/assigned_pq")
      .where(col("cluster").isInCollection(allCells))
      .join(broadcast(qlut), "cluster")
      .select(col(qidOut), col(idCol), col("probe_rank"),
        round(when(denom2 > 0 && col("qnorm") > 0,
          numer / (col("qnorm") * sqrt(denom2))), roundTo).as("cos_sim"))
      .where(col("cos_sim").isNotNull)
  }

  /** [[stagedCandidates]] widened to a PROBE-WIDTH sweep axis — the
    * shared frame behind a (kCand × nprobe) serving-configuration
    * grid (a16): per nprobe cut, per (query, candidate) — candidates
    * = the per-query ADC top-`kCandMax` WITHIN the cut's probed cells
    * — the stage-1 ADC rank and the stage-2 exact float cosine.
    * a14 showed staged recall saturating below the float probe at
    * nprobe=4: the residual gap is CELL SELECTION, not
    * reconstruction, and stage 1 is m bytes/vector — so widening
    * stage 1 is nearly free next to stage 2, and the grid is the
    * table that decision reads.
    *
    * One-pass discipline, both stages: probe sets NEST in nprobe
    * ([[Ivf.probeCells]] is distance-ascending, so cut np is the
    * first np cells), so ONE batchProbe + ONE ADC pass at
    * `max(nprobes)` serve every cut — each cut is a `probe_rank <=
    * np` filter + per-query rank over the Staged scored frame; and
    * ONE cluster-pruned float pass scores each DISTINCT (query,
    * candidate) pair across the whole grid, joined back per cut.
    * Returns (frame with nprobe/adc_rank/cos_sim, qid column name);
    * per-(np, kCand) serving = `where(nprobe === np)` through
    * [[topKFromCandidates]].
    */
  def stagedCandidatesGrid(spark: SparkSession, path: String,
      index: Ivf.Index, queries: DataFrame, qidCol: String, vecCol: String,
      idCol: String, kCandMax: Int, nprobes: Seq[Int], roundTo: Int = 6)
      : (DataFrame, String) = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    val (qdf, allCells, qidOut) =
      Ivf.batchProbe(index, queries, qidCol, vecCol, idCol, nprobes.max)
    val scored = Staged(pqScoredBatch(spark, path, index, qdf, allCells,
      qidOut, idCol, roundTo))
    // per nprobe cut: ADC rank within the cut's cells (the order PQ
    // serving would cut at under that probe width), kept to kCandMax
    val cand = nprobes.map { np =>
      scored.where(col("probe_rank") <= np)
        .withColumn("adc_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(qidOut))
            .orderBy(col("cos_sim").desc, col(idCol))))
        .where(col("adc_rank") <= kCandMax)
        .select(lit(np).as("nprobe"), col(qidOut), col(idCol), col("adc_rank"))
    }.reduce(_ unionByName _)
    // ONE pruned float pass scores each distinct candidate pair, then
    // fans back out per cut via the broadcast candidate frame
    val pairs = cand.select(col(qidOut), col(idCol)).distinct()
    val qvecs = qdf.select(col(qidOut), col("query_vec")).distinct()
    val exact = spark.read.parquet(s"$path/assigned")
      .where(col("cluster").isInCollection(allCells))
      .join(broadcast(pairs), Seq(idCol))
      .join(broadcast(qvecs), Seq(qidOut))
      .select(col(qidOut), col(idCol),
        round(Similarity.cosine(col(vecCol).cast("array<double>"),
          col("query_vec")), roundTo).as("cos_sim"))
    (cand.join(exact, Seq(qidOut, idCol)), qidOut)
  }
}
