package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import graft.functions.GraftFunctions

/** IVF (inverted-file) approximate nearest neighbor: partition the
  * corpus into k Voronoi cells with KMeans, search only the `nprobe`
  * cells nearest the query.
  *
  * 100 TB shape: the index is (cluster → rows) — at scale the assigned
  * corpus would be written bucketed/partitioned by `cluster` so a probe
  * reads only nprobe/k of the data (partition pruning on the scan).
  * Centroids are tiny (k × dim) and live on the driver/broadcast.
  */
object Ivf {

  final case class Index(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Target expected cell population for corpus-sized k. 4096 rows/cell
    * keeps a within-cell all-pairs step at ~8M pairs per cell — cheap
    * per task — while k stays ≤ 2^18 even at 10^9 vectors (centroid
    * matrix ≤ 2^18 × dim doubles, still broadcastable).
    */
  val DefaultTargetCell: Int = 4096

  /** Corpus-sized k: constant EXPECTED cell population (`targetCell`)
    * regardless of N, so anything quadratic-within-cell (SemDeDup's
    * pair join) stays linear in the corpus. Clamped to [kMin, kMax]:
    * kMin keeps small corpora at a useful cell count (and keeps every
    * test SF on the same shared k=16 index as the ANN probes); kMax
    * bounds the KMeans fit and the centroid broadcast.
    */
  def kForCells(n: Long, targetCell: Int = DefaultTargetCell,
      kMin: Int = 16, kMax: Int = 1 << 18): Int = {
    require(targetCell > 0 && kMin > 0 && kMax >= kMin)
    val ideal = math.ceil(n.toDouble / targetCell)
    math.max(kMin.toDouble, math.min(kMax.toDouble, ideal)).toInt
  }

  /** WHEN to pay a resize: recommend only on a >= 2x gap between the
    * committed k and the [[kForCells]] policy, either way — hysteresis,
    * because a resize rides a full refit (every face re-derives), so
    * flapping around a borderline k would bill repeated rebuilds for
    * unchanged probe economics. Within the 2x band the expected cell
    * population is within 2x of target: probes read at most twice the
    * intended bytes per cell, which drift (a15) or agreement (the
    * serving gate) would have to justify repairing, not size alone.
    */
  def resizeRecommended(kCurrent: Int, kPolicy: Int): Boolean =
    kPolicy >= 2 * kCurrent || 2 * kPolicy <= kCurrent

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  /** Build-once wrapper: an IVF index is fit once per (session, source,
    * k, seed) and reused across queries — the production shape, where
    * the index is a materialized bucketed table, not a per-query
    * artifact. Keyed by session identity so an index never outlives the
    * SparkSession whose plans back it; entries for dead sessions are
    * pruned opportunistically.
    */
  def buildCached(df: DataFrame, cacheKey: String, idCol: String,
      vecCol: String, k: Int = 16, seed: Long = 42L): Index = {
    val sessionTag = System.identityHashCode(df.sparkSession)
    cache.entrySet().removeIf(e =>
      e.getValue.assigned.sparkSession.sparkContext.isStopped)
    cache.computeIfAbsent(s"$sessionTag|$cacheKey|$idCol|$vecCol|$k|$seed", { _ =>
      val idx = build(df, idCol, vecCol, k, seed)
      idx.assigned.persist()
      idx
    })
  }

  /** Materialize an index as a partition-pruned on-disk table: the
    * assigned corpus partitioned by `cluster`, centroids alongside. A
    * probe over the reloaded index reads ONLY the nprobe matching
    * directories (PartitionFilters on the parquet scan) — the 100 TB
    * shape, where the index outlives the session and a query touches
    * nprobe/k of the corpus bytes.
    */
  def writeIndex(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$path/assigned")
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload a written index. `assigned` comes back as a plain
    * partitioned parquet relation, so `cluster` predicates prune
    * partitions on the scan.
    */
  def readIndex(spark: SparkSession, path: String): Index = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray)
    Index(cents, spark.read.parquet(s"$path/assigned"))
  }

  /** Disk-backed build-once: reuse the index table at `path` when its
    * completion marker exists, else fit + write + reload. Safe against
    * a half-written index from a killed run (the marker is written
    * last).
    */
  def buildPersistent(df: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int = 16, seed: Long = 42L): Index = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // params are part of the marker: a path holding a k=16 index must
    // not satisfy a k=8 request (same versioning idea as the LSH index)
    val marker = new org.apache.hadoop.fs.Path(
      s"$path/_INDEX_OK_k${k}_s${seed}_$vecCol")
    if (!fs.exists(marker)) {
      // a DIFFERENT-k committed marker for the same (seed, vecCol) is a
      // policy-resized index (refitIndex(resizeTo) retired the birth
      // marker), NOT an unbuilt path: rebuilding here would overwrite
      // assigned/centroids at the requested k while the PQ face and its
      // marker stay keyed to the retired cells — a torn index created
      // through the front door (this exact corruption shipped once: a
      // warm capstone re-run after a resize-refit clobbered the
      // repaired index and crashed the NEXT refit on the dual markers).
      // Callers that accept the committed k use [[ensurePersistent]].
      val resized = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$path/_INDEX_OK_k*_s${seed}_$vecCol"))).toSeq.flatten
        .map(_.getPath.getName)
      require(resized.isEmpty,
        s"index at $path is committed under $resized (policy-resized " +
          s"since birth); a k=$k rebuild would tear the PQ face — use " +
          "ensurePersistent to accept the committed k, or delete the " +
          "path to rebuild")
      writeIndex(build(df, idCol, vecCol, k, seed), path)
      fs.create(marker, true).close()
    }
    val idx = readIndex(spark, path)
    require(idx.centroids.length == k,
      s"index at $path holds ${idx.centroids.length} centroids, expected $k " +
        "(stale index written with different parameters — delete the path)")
    idx
  }

  /** [[buildPersistent]] with BIRTH-parameter semantics — the daily-
    * pipeline face: `k` sizes the index only IF this call creates it;
    * once any `_INDEX_OK_k*_s<seed>_<vecCol>` marker is committed, the
    * index is live under the SIZE THE RESIZE POLICY OWNS (a
    * [[refitIndex]] with `resizeTo` legitimately re-keys k between
    * runs) and is returned as-is. [[buildPersistent]] keeps the strict
    * contract (exact-k marker or loud failure) for per-parameter oracle
    * paths; this is what a warm re-run of a maintenance-owning pipeline
    * calls, because "my default k argument" must never outrank the
    * committed index it is maintaining.
    */
  def ensurePersistent(df: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int = 16, seed: Long = 42L): Index = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/_INDEX_OK_k*_s${seed}_$vecCol"))).toSeq.flatten
    if (committed.nonEmpty) readIndex(spark, path)
    else buildPersistent(df, path, idCol, vecCol, k, seed)
  }

  /** [[buildPersistent]] memoized per (session, path, params): repeat
    * queries skip the centroid re-read; the assigned scan stays lazy
    * and partition-pruned (nothing pinned in executor memory).
    */
  def buildPersistentCached(df: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int = 16, seed: Long = 42L): Index = {
    val sessionTag = System.identityHashCode(df.sparkSession)
    cache.entrySet().removeIf(e =>
      e.getValue.assigned.sparkSession.sparkContext.isStopped)
    cache.computeIfAbsent(s"$sessionTag|disk|$path|$idCol|$vecCol|$k|$seed",
      _ => buildPersistent(df, path, idCol, vecCol, k, seed))
  }

  /** Append new vectors to a persisted index WITHOUT refitting:
    * assign each to its nearest existing centroid and append to the
    * partitioned table. The daily-ingest path for the vector index —
    * centroids drift only on explicit rebuilds, exactly like a
    * production IVF. Per-partition imperative assignment
    * (`mapPartitions`) is deliberate: the k×dim centroid matrix loads
    * once per partition, each row is one k·dim-flop argmin, no shuffle.
    *
    * Two invariants this method must hold (both broke once):
    *  - SCHEMA: the batch is cast to the EXISTING assigned table's
    *    column types — `build()`/[[writeIndex]] preserve the source
    *    schema, so a hardcoded long/float cast here would interleave
    *    mixed-schema parquet files under `assigned/` and later reads
    *    would fail or silently misread depending on which file wins
    *    schema inference. Incompatible batches fail fast instead.
    *  - METRIC: assignment ranks centroids by squared EUCLIDEAN
    *    distance, matching the KMeans Voronoi cells of `build()`. A
    *    cosine argmin can put an appended copy of an existing vector
    *    in a different cell than its original (for unnormalized
    *    embeddings the two argmins genuinely differ), after which a
    *    probe finds the original but misses the copy.
    */
  def appendToIndex(newVecs: DataFrame, path: String, idCol: String,
      vecCol: String): Index = {
    val spark = newVecs.sparkSession
    val index = readIndex(spark, path)
    val centroids = index.centroids
    val idType = index.assigned.schema(idCol).dataType
    val vecType = index.assigned.schema(vecCol).dataType
    require(vecType match {
      case types.ArrayType(types.FloatType | types.DoubleType, _) => true
      case _ => false
    }, s"index at $path stores $vecCol as ${vecType.simpleString}, " +
      "expected array<float> or array<double>")
    newVecs.schema(vecCol).dataType match {
      case types.ArrayType(_: types.NumericType, _) => ()
      case t => throw new IllegalArgumentException(
        s"append batch column $vecCol is ${t.simpleString}, expected a " +
          "numeric array — refusing a lossy/NULLing cast")
    }
    // the element cast must be lossless, like the id path: double→float
    // silently rounds, as do int→float (past 2^24) and long→double
    // (past 2^53) for integer-typed (e.g. quantized) embedding batches
    val batchElem = newVecs.schema(vecCol).dataType
      .asInstanceOf[types.ArrayType].elementType
    val idxElem = vecType.asInstanceOf[types.ArrayType].elementType
    val elemLossless = batchElem == idxElem || ((idxElem, batchElem) match {
      case (types.DoubleType,
            types.ByteType | types.ShortType | types.IntegerType |
            types.FloatType) => true // all embed exactly in a 53-bit mantissa
      case (types.FloatType, types.ByteType | types.ShortType) => true
      case _ => false
    })
    require(elemLossless,
      s"append batch column $vecCol has ${batchElem.simpleString} elements " +
        s"but the index stores ${idxElem.simpleString} — refusing a " +
        "precision-narrowing cast (rebuild the index wider, or cast the " +
        "batch explicitly)")
    // the id cast must be lossless too: a long batch id appended to an
    // int-id index would wrap silently (non-ANSI cast), a string id
    // would cast to NULL — both corrupt the index instead of failing
    val batchIdType = newVecs.schema(idCol).dataType
    def intRank(t: types.DataType): Int = t match {
      case types.ByteType => 1
      case types.ShortType => 2
      case types.IntegerType => 3
      case types.LongType => 4
      case _ => Int.MaxValue // non-integral: only an exact match is lossless
    }
    val idCastLossless = batchIdType == idType ||
      (intRank(batchIdType) <= intRank(idType) && intRank(idType) < Int.MaxValue)
    require(idCastLossless,
      s"append batch id column $idCol is ${batchIdType.simpleString} but the " +
        s"index stores ${idType.simpleString} — refusing a lossy/NULLing cast")
    // PQ-face integrity gate, checked BEFORE any write so a refused
    // append leaves the index untouched: a stored `assigned_pq` without
    // the param-complete `_PQ_OK_v3_<vecCol>_*` marker is a pre-v3
    // (raw-vector-coded or param-incomplete) face that Pq.pqAssign has
    // not yet rebuilt — appending residual-encoded codes into it would
    // interleave two incompatible code rules in one table, and
    // topKPq/topKPqBatch would serve silently wrong rankings until a
    // rebuild. Fail loudly instead; Pq.pqAssign deletes + rebuilds the
    // legacy face deterministically.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pqV3Markers = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$path/_PQ_OK_v3_${vecCol}_*"))).toSeq.flatten
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned_pq")) ||
      pqV3Markers.nonEmpty,
      s"index at $path holds a PQ face with no _PQ_OK_v3_${vecCol}_* marker " +
        "(pre-v3 format, or built for a different vector column) — run " +
        "Pq.pqAssign to rebuild it before appending, or delete the face " +
        "(pq_codebooks/, assigned_pq/, _PQ_OK_* markers)")
    val batch = newVecs.select(
      col(idCol).cast(idType).as(idCol),
      col(vecCol).cast(vecType).as(vecCol))
    val outSchema = batch.schema.add("cluster", types.IntegerType, nullable = false)
    val assigned = batch.mapPartitions { rows =>
      rows.map { r =>
        val vec = decodeVec(r.getSeq[Any](1), vecCol, r.get(0))
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ nearestCells(vec, centroids, 1)(0))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    // hash-repartition on the cell id so each cell's batch rows land in
    // ONE task → one file per touched cell per append, not one per
    // (task, cell) — bounds small-file growth to the append count (the
    // same debt the bucketed dedup indexes retire with bucketAligned;
    // partition pruning itself never cared, only open-file overhead)
    val alignedBatch = assigned.repartition(col("cluster")).persist()
    alignedBatch
      .write.mode("append").partitionBy("cluster").parquet(s"$path/assigned")
    // keep the int8 probe face in step when it exists: an appended
    // vector missing from assigned_int8 would be invisible to the
    // production probe path while present in the float table
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned_int8"))) {
      quantizedRows(alignedBatch, idCol, vecCol)
        .repartition(col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/assigned_int8")
      spark.catalog.refreshByPath(s"$path/assigned_int8")
    }
    // ...and the PQ face: encode the batch under the FROZEN codebooks
    // (Pq.encodeRows is shared with the initial build, so the encode
    // rule cannot drift; refitting codebooks on a batch would silently
    // re-key every previously stored code). Gated on the v3 marker
    // (verified present above whenever the face exists), not on the
    // directory alone.
    if (pqV3Markers.nonEmpty &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned_pq"))) {
      Pq.encodeRows(alignedBatch, idCol, vecCol, centroids,
          Pq.readCodebooks(spark, path))
        .repartition(col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/assigned_pq")
      spark.catalog.refreshByPath(s"$path/assigned_pq")
    }
    alignedBatch.unpersist()
    // this session's cached plans/indexes snapshotted the PRE-append
    // file listing: refresh the path and drop memoized entries so the
    // next buildPersistentCached/readIndex sees the appended files
    spark.catalog.refreshByPath(s"$path/assigned")
    cache.keySet.removeIf(_.contains(s"|disk|$path|"))
    readIndex(spark, path)
  }

  /** Offline small-files compaction for a persisted index's `assigned`
    * table. Aligned appends still add one file per touched cell per
    * append ([[appendToIndex]]); partition pruning never cares, but
    * open-file overhead grows with the append count — the same debt
    * [[Dedup.compactIndexTable]] retires for the bucketed dedup
    * indexes, here for a `cluster=`-partitioned table. One job
    * rewrites the whole table hash-repartitioned on the cell id
    * (each cell in ONE task → exactly one file per nonempty cell);
    * that one full-table shuffle is the price of offline compaction,
    * paid off the probe path.
    *
    * Crash-RECOVERABLE via the same atomic-rename swap as
    * [[Dedup.compactIndexTable]]: the rewrite lands in
    * `assigned__compact_tmp` (commit point = parquet's root
    * `_SUCCESS`), then rename assigned -> `assigned__compact_old`,
    * rename tmp -> assigned, delete old. The live table is never
    * deleted in place; `__compact_old` only exists after the tmp
    * committed, so recovery can tell a half-done swap (finish it)
    * from stale debris (assigned intact, possibly appended since —
    * discard the tmp). The centroids table and the `_INDEX_OK_*`
    * marker are untouched: compaction changes the file layout, never
    * the index contents or parameters.
    */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    compactAssignedDir(spark, path, s"$path/assigned")
    // the int8 probe face accumulates appended files the same way;
    // compact it under the same discipline when it exists
    val int8 = s"$path/assigned_int8"
    val fs = new org.apache.hadoop.fs.Path(int8)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(int8)) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"${int8}__compact_old")) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"${int8}__compact_tmp")))
      compactAssignedDir(spark, path, int8)
    // the PQ face accumulates appended files identically
    val pq = s"$path/assigned_pq"
    if (fs.exists(new org.apache.hadoop.fs.Path(pq)) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"${pq}__compact_old")) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"${pq}__compact_tmp")))
      compactAssignedDir(spark, path, pq)
  }

  private def compactAssignedDir(spark: SparkSession, path: String,
      dir: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpPath = new org.apache.hadoop.fs.Path(s"${dir}__compact_tmp")
    val oldPath = new org.apache.hadoop.fs.Path(s"${dir}__compact_old")
    def committed(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    def invalidate(): Unit = {
      // memoized Index entries snapshotted the pre-swap file listing
      spark.catalog.refreshByPath(dir)
      cache.keySet.removeIf(_.contains(s"|disk|$path|")): Unit
    }
    if (fs.exists(oldPath)) {
      if (!fs.exists(dirPath)) {
        require(fs.exists(tmpPath) && committed(tmpPath),
          s"ivf compaction: $dir missing mid-swap and tmp not committed")
        require(fs.rename(tmpPath, dirPath),
          s"ivf compaction: recovery rename $tmpPath -> $dir failed")
      }
      require(fs.delete(oldPath, true),
        s"ivf compaction: delete failed for $oldPath")
      invalidate()
    }
    if (fs.exists(tmpPath)) {
      if (!fs.exists(dirPath)) {
        require(committed(tmpPath),
          s"ivf compaction: $dir missing and tmp uncommitted")
        require(fs.rename(tmpPath, dirPath),
          s"ivf compaction: recovery rename $tmpPath -> $dir failed")
        invalidate()
      } else {
        require(fs.delete(tmpPath, true),
          s"ivf compaction: delete failed for $tmpPath")
      }
    }
    if (!fs.exists(dirPath)) return
    spark.read.parquet(dir)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(tmpPath.toString)
    require(fs.rename(dirPath, oldPath),
      s"ivf compaction: rename $dir -> $oldPath failed")
    require(fs.rename(tmpPath, dirPath),
      s"ivf compaction: rename $tmpPath -> $dir failed")
    require(fs.delete(oldPath, true),
      s"ivf compaction: delete failed for $oldPath")
    invalidate()
  }

  /** The faces a refit rebuilds/swaps, in swap order. */
  private val RefitFaces =
    Seq("centroids", "assigned", "assigned_int8", "pq_codebooks", "assigned_pq")

  /** The index-generation seqlock file: a single long, EVEN while the
    * index's faces are stable, ODD while a refit swap is renaming them.
    * The swap is five sequential renames, so a reader that starts
    * between them can pair new `centroids` with old `assigned_pq` and
    * silently mis-rank; the seqlock turns that torn window into a
    * detected retry — [[withStableGen]] is the read side, [[swapRefit]]
    * the write side. Absent file = generation 0 (an index that has
    * never been refit is trivially stable).
    */
  private val GenFile = "_IVF_GEN"

  /** Current generation; -1 when the file is mid-write (unparsable),
    * which readers must treat as unstable.
    */
  private[ops] def readGen(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$GenFile")
    try {
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => -1L }
  }

  private def writeGen(fs: org.apache.hadoop.fs.FileSystem, path: String,
      v: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/$GenFile"), true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Run `body` against a STABLE multi-face snapshot of the index at
    * `path` — the seqlock read side: body only returns when the
    * generation read before it is even (no swap in progress) and
    * unchanged after it (no swap completed underneath). A swap landing
    * mid-body triggers a bounded retry of the whole body, so callers
    * must pass an idempotent body (the serving path's epoch writes are
    * overwrite-committed, so re-running rewrites identical-or-newer
    * bytes). Fails loudly after `maxRetries` — a generation stuck odd
    * means a refit crashed mid-swap and [[recoverRefit]] must roll it
    * forward before reads can be trusted.
    */
  def withStableGen[T](spark: SparkSession, path: String,
      maxRetries: Int = 8)(body: => T): T = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempt = 0
    while (attempt <= maxRetries) {
      val g0 = readGen(fs, path)
      if (g0 >= 0L && g0 % 2 == 0L) {
        val out = body
        if (readGen(fs, path) == g0) return out
      }
      attempt += 1
      if (attempt <= maxRetries) Thread.sleep(25L * attempt)
    }
    throw new IllegalStateException(
      s"index at $path never presented a stable generation over " +
        s"$maxRetries retries (generation ${readGen(fs, path)}) — a refit " +
        "crashed mid-swap (odd generation: run Ivf.recoverRefit) or a " +
        "writer is livelocking this reader")
  }

  /** REPAIR the drift the monitoring family detects — the missing
    * half of the detect→decide→repair loop: [[cellResidualProfile]]
    * (a15) says residual norms inflated, the streaming pq-agreement
    * monitor says the compressed face degraded; the answer so far was
    * "rebuild by hand". This refits centroids over the CURRENT corpus
    * (including every [[appendToIndex]] batch), reassigns every
    * vector, and re-derives whichever derived faces the index holds —
    * the int8 probe face, and the residual-PQ face with codebooks
    * REFIT over the new residuals — all under the index's OWN
    * committed parameters (k/seed parsed from the `_INDEX_OK` marker,
    * m/ksub/seed/rate from the `_PQ_OK_v3` marker), so every marker
    * name is unchanged and readers' param checks keep holding.
    *
    * Crash-recoverable versioned swap (the compaction family's
    * discipline, extended to a MULTI-face commit): every new face is
    * built under `__refit_tmp/`, the commit point is the
    * `_REFIT_COMMIT` file written LAST — until it exists, probes read
    * the untouched old faces and a crashed build is discarded whole;
    * after it exists the swap (live → `__refit_old_*`, tmp → live,
    * delete old, delete tmp) is idempotent and any invocation first
    * rolls a torn swap FORWARD ([[recoverRefit]] — the PQ face can
    * never be left keyed to pre-refit cells longer than the next
    * maintenance call). Single-writer, like compaction: one pipeline
    * owns index maintenance.
    *
    * 100 TB shape: one KMeans fit over the corpus (the same job the
    * original build paid — optionally over a hash sample at scale, as
    * the codebook fit already does), one assignment pass, one write
    * per face in the identical `cluster=` layout; probes and their
    * plans are untouched. Refit cost ≈ build cost; the monitors exist
    * so it is paid WHEN drift says so, not on a timer.
    */
  def refitIndex(spark: SparkSession, path: String, idCol: String,
      vecCol: String, resizeTo: Option[Int] = None): Unit = {
    recoverRefit(spark, path)
    buildRefitTmp(spark, path, idCol, vecCol, resizeTo)
    swapRefit(spark, path)
  }

  /** [[refitIndex]]'s build phase: everything up to and including the
    * `_REFIT_COMMIT` file — exposed to the spec as the crash point
    * (after this, the old face is still fully live on disk; the next
    * [[recoverRefit]] rolls the swap forward).
    *
    * `resizeTo` RE-SIZES the index as part of the refit — the growth
    * half of the index lifecycle: [[kForCells]] keeps the EXPECTED
    * cell population constant, so a corpus that grew 10× under
    * appends wants ~10× the cells (same per-cell probe bytes, same
    * linear within-cell pair work), and a refit is exactly when k can
    * change (every face re-derives anyway). A resize changes the
    * `_INDEX_OK_k<k>_…` marker name; the new marker is staged INSIDE
    * the tmp and promoted by the same committed swap, so readers'
    * param checks flip atomically with the faces they describe.
    */
  private[ops] def buildRefitTmp(spark: SparkSession, path: String,
      idCol: String, vecCol: String, resizeTo: Option[Int] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the index's own committed parameters, from the marker names
    val idxMarkers = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$path/_INDEX_OK_*"))).toSeq.flatten.map(_.getPath.getName)
    val IdxRe = ("""_INDEX_OK_k(\d+)_s(-?\d+)_""" +
      java.util.regex.Pattern.quote(vecCol) + "$").r
    val parsed = idxMarkers.flatMap {
      case n @ IdxRe(k, s) => Some((n, k.toInt, s.toLong))
      case _ => None
    }
    require(parsed.length == 1,
      s"index at $path needs exactly one _INDEX_OK_k*_s*_$vecCol marker " +
        s"to refit under its own parameters; found: $idxMarkers")
    val (_, oldK, seed) = parsed.head
    resizeTo.foreach(nk => require(nk >= 1, s"resizeTo must be >= 1, got $nk"))
    val k = resizeTo.getOrElse(oldK)
    val PqRe = ("_PQ_OK_v3_" + java.util.regex.Pattern.quote(vecCol) +
      """_m(\d+)_k(\d+)_s(-?\d+)_r([0-9.Ee+-]+)$""").r
    val pqParams = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/_PQ_OK_v3_${vecCol}_*"))).toSeq.flatten
      .map(_.getPath.getName).collectFirst {
        case PqRe(m, ksub, pqSeed, rate) =>
          (m.toInt, ksub.toInt, pqSeed.toLong, rate.toDouble)
      }
    // PQ-face integrity gate, mirroring appendToIndex's — checked
    // BEFORE any build work so a refused refit costs nothing: a stored
    // `assigned_pq` with no param-complete marker is a pre-v3 or
    // crashed face whose committed parameters are unknowable — a
    // refit that silently skipped it would promote new `assigned` /
    // `centroids` while the marker-less face stays keyed to the
    // RETIRED cells, and pqScoredBatch (which reads assigned_pq
    // without a marker check) would serve silently wrong rankings.
    // Fail the refit loudly instead; Pq.pqAssign rebuilds the face.
    require(pqParams.nonEmpty ||
      !fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned_pq")),
      s"index at $path holds a PQ face with no _PQ_OK_v3_${vecCol}_* marker " +
        "(pre-v3 format, crashed build, or built for a different vector " +
        "column) — run Pq.pqAssign to rebuild it before refitting, or " +
        "delete the face (pq_codebooks/, assigned_pq/, _PQ_OK_* markers)")
    val tmp = s"$path/__refit_tmp"
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
    // a resize stages the NEW param marker in the tmp; the swap
    // retires the old one and promotes this in the same committed pass
    if (k != oldK)
      fs.create(new org.apache.hadoop.fs.Path(
        s"$tmp/_INDEX_OK_k${k}_s${seed}_$vecCol"), true).close()
    // refit over the CURRENT corpus — base build plus every append
    val corpus = spark.read.parquet(s"$path/assigned")
      .select(col(idCol), col(vecCol))
    val idx = build(corpus, idCol, vecCol, k, seed)
    idx.assigned.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$tmp/assigned")
    import spark.implicits._
    idx.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
    val newAssigned = spark.read.parquet(s"$tmp/assigned")
    // gate on marker OR directory: a marker-less int8 face left live
    // while `assigned` swaps would serve quantized rows keyed to the
    // RETIRED cells — rebuild whenever the face exists in any form
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_INT8_OK_$vecCol")) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/assigned_int8")))
      quantizedRows(newAssigned, idCol, vecCol)
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$tmp/assigned_int8")
    // PQ face: codebooks refit over the NEW residuals (frozen codebooks
    // against moved centroids would re-key every stored code — the
    // whole point of the refit is that reconstructions track the
    // corpus again), under the face's committed parameters
    pqParams.foreach { case (m, ksub, pqSeed, rate) =>
        val model = Pq.fitCodebooks(newAssigned, idCol, vecCol,
          idx.centroids, m, ksub, pqSeed, rate)
        Pq.codebookRows(spark, model).coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/pq_codebooks")
        Pq.encodeRows(newAssigned, idCol, vecCol, idx.centroids, model)
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$tmp/assigned_pq")
      }
    // the commit point: everything above is invisible until this file
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/_REFIT_COMMIT"), true)
      .close()
  }

  /** Finish (committed) or discard (uncommitted) a refit a crashed run
    * left behind — called first by [[refitIndex]] and safe to call any
    * time: a no-op when no refit debris exists. Returns true when a
    * committed swap was rolled forward.
    */
  private[ops] def recoverRefit(spark: SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/__refit_tmp")
    if (fs.exists(tmp)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_REFIT_COMMIT"))) {
        swapRefit(spark, path); true
      } else {
        // crash BEFORE commit: the old face never stopped serving;
        // the partial build is debris
        require(fs.delete(tmp, true), s"ivf refit: delete failed for $tmp")
        false
      }
    } else {
      // defensive: stray per-face debris without a tmp can only mean a
      // crash inside the (post-commit) swap's final cleanup — live
      // faces are authoritative, olds are retired copies
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$path/__refit_old_*"))).toSeq.flatten.foreach { st =>
        val live = new org.apache.hadoop.fs.Path(path,
          st.getPath.getName.stripPrefix("__refit_old_"))
        if (fs.exists(live))
          require(fs.delete(st.getPath, true),
            s"ivf refit: delete failed for ${st.getPath}")
        else require(fs.rename(st.getPath, live),
          s"ivf refit: rollback rename ${st.getPath} -> $live failed")
      }
      // a crash between the swap's last cleanup and its even-generation
      // write leaves the seqlock odd with live faces authoritative —
      // repair it here so readers stop retrying a completed swap
      val g = readGen(fs, path)
      if (g % 2 == 1L) writeGen(fs, path, g + 1L)
      false
    }
  }

  /** The idempotent post-commit swap: per face (fixed order), retire
    * live to `__refit_old_<face>`, promote `__refit_tmp/<face>`; then
    * delete retired copies and the tmp. Every state a crash can leave
    * maps to exactly one resume action, so re-running completes it.
    */
  private def swapRefit(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // seqlock write side: flip the generation ODD before the first
    // rename (a resumed swap finds it already odd and keeps it), EVEN
    // after the last cleanup — [[withStableGen]] readers retry any
    // body that overlapped the odd window or a completed flip
    val g0 = readGen(fs, path)
    val odd = if (g0 >= 0L && g0 % 2 == 1L) g0 else math.max(g0, 0L) + 1L
    writeGen(fs, path, odd)
    RefitFaces.foreach { face =>
      val tmpSub = new org.apache.hadoop.fs.Path(s"$path/__refit_tmp/$face")
      val live = new org.apache.hadoop.fs.Path(s"$path/$face")
      val old = new org.apache.hadoop.fs.Path(s"$path/__refit_old_$face")
      if (fs.exists(tmpSub)) {
        if (fs.exists(live) && !fs.exists(old))
          require(fs.rename(live, old),
            s"ivf refit: rename $live -> $old failed")
        if (!fs.exists(live))
          require(fs.rename(tmpSub, live),
            s"ivf refit: rename $tmpSub -> $live failed")
        else require(fs.delete(tmpSub, true), // live+old: already promoted
          s"ivf refit: delete failed for $tmpSub")
      }
    }
    RefitFaces.foreach { face =>
      val old = new org.apache.hadoop.fs.Path(s"$path/__refit_old_$face")
      if (fs.exists(old))
        require(fs.delete(old, true), s"ivf refit: delete failed for $old")
      spark.catalog.refreshByPath(s"$path/$face")
    }
    // a resize staged the new `_INDEX_OK_*` marker in the tmp: retire
    // every differing root marker, then promote it. Crash-safe in both
    // directions — before the promote rename, recovery re-enters here
    // with the tmp marker intact; after it, the rename target exists
    // and the stale tmp copy is just deleted.
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$path/__refit_tmp/_INDEX_OK_*"))).toSeq.flatten.foreach { st =>
      val name = st.getPath.getName
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$path/_INDEX_OK_*"))).toSeq.flatten
        .filter(_.getPath.getName != name)
        .foreach(o => require(fs.delete(o.getPath, false),
          s"ivf refit: delete failed for ${o.getPath}"))
      val dest = new org.apache.hadoop.fs.Path(path, name)
      if (fs.exists(dest))
        require(fs.delete(st.getPath, false),
          s"ivf refit: delete failed for ${st.getPath}")
      else require(fs.rename(st.getPath, dest),
        s"ivf refit: rename ${st.getPath} -> $dest failed")
    }
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/__refit_tmp"), true),
      s"ivf refit: delete failed for $path/__refit_tmp")
    writeGen(fs, path, odd + 1L)
    // memoized Index entries snapshotted pre-refit listings/centroids
    cache.keySet.removeIf(_.contains(s"|disk|$path|")): Unit
  }

  /** Derive the int8 probe face of a persisted index: `assigned_int8`,
    * the assigned table with each vector symmetrically quantized to
    * int8 ([[Quantize]]'s rule: q_i = clamp(round(x_i·127/max|x|))) and
    * the same `cluster=` partition layout. A probe over this face reads
    * ~4× fewer bytes per cell than the float table — at 100 TB the
    * probe is scan-bandwidth-bound, so the quantized face is the one
    * production actually probes (exact re-ranking over the float table
    * is a second, candidate-only read).
    *
    * Cosine needs NO dequantization scale: the dequantized vector is
    * q · (max|x|/127), a positive scalar multiple of q, and cosine is
    * scale-invariant — ranking by cos(q, query) IS ranking by
    * cos(dequantized, query); the only approximation error is the
    * rounding itself (IvfSpec measures top-k agreement vs the float
    * probe). Zero vectors carry no direction (quantization and cosine
    * both undefined) and are excluded, as in [[Quantize.int8]].
    *
    * Idempotent per (path, vecCol) via a marker through the path's own
    * FileSystem; rebuilt only when absent, like the base index.
    */
  def quantizeAssigned(spark: SparkSession, path: String, idCol: String,
      vecCol: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_INT8_OK_$vecCol")
    if (fs.exists(marker)) return
    quantizedRows(spark.read.parquet(s"$path/assigned"), idCol, vecCol)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned_int8")
    fs.create(marker, true).close()
  }

  /** (id, qvec array<byte>, cluster) of an assigned frame — shared by
    * [[quantizeAssigned]] and the append path so the quantization rule
    * cannot drift between initial build and daily appends.
    */
  private def quantizedRows(assigned: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val q = transform(col("__v"), x =>
      greatest(lit(-127.0), least(lit(127.0),
        round(x * lit(127.0) / col("__m"), 0))).cast("byte"))
    assigned
      .select(col(idCol), v.as("__v"),
        array_max(transform(v, x => abs(x))).as("__m"), col("cluster"))
      .where(col("__m") > 0)
      .select(col(idCol), q.as("qvec"), col("cluster"))
  }

  /** [[topK]] over the int8 face: same probe-cell selection (float
    * centroids — they are tiny and driver-held either way), but the
    * per-cell scan reads `assigned_int8` and ranks by cosine over the
    * quantized vectors. `PartitionFilters` prune identically; the
    * bytes read per probed cell drop ~4×.
    */
  def topKInt8(spark: SparkSession, path: String, query: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      roundTo: Int = 6): DataFrame = {
    val centroids = readIndex(spark, path).centroids
    val probes = probeCells(centroids, queryVecOf(query, vecCol), nprobe)
    val q = broadcast(query
      .select(col(vecCol).cast("array<double>").as("query_vec")))
    spark.read.parquet(s"$path/assigned_int8")
      .where(col("cluster").isInCollection(probes))
      .crossJoin(q)
      .select(col(idCol),
        round(Similarity.cosine(col("qvec").cast("array<double>"),
          col("query_vec")), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-cell quantization-health profile of a persisted index — the
    * table that decides WHEN to refit centroids (and with them the PQ
    * codebooks): per cluster, the member count and the mean/max L2
    * norm of the residual vec − centroid[cell]. Appends register under
    * FROZEN centroids ([[appendToIndex]]), so as ingest drifts away
    * from the fit distribution the residual norms grow — cell by cell,
    * so a drifting SOURCE shows up in its cells before the corpus
    * average moves. Reads next to the streaming pq-agreement monitor:
    * that one says "the compressed face degraded", this one says
    * WHERE and by how much in raw geometry. [[refitIndex]] is the
    * repair this table decides on.
    *
    * Scale shape: one scan of the cluster-partitioned float face, the
    * residual a row-local codegen'd expression against the literal
    * k×dim centroid matrix, then a k-key aggregation (map-side
    * partials). The mean rides an exact decimal sum of per-row
    * 1e-6-rounded norms — partition-order independent; max is
    * order-free. Nothing corpus-sized shuffles.
    */
  def cellResidualProfile(spark: SparkSession, path: String,
      vecCol: String, roundTo: Int = 6): DataFrame = {
    val centroids = readIndex(spark, path).centroids
    val res = GraftFunctions.centroidResidual(
      col(vecCol).cast("array<double>"), col("cluster").cast("int"),
      typedLit(centroids.flatten.toSeq))
    spark.read.parquet(s"$path/assigned")
      .select(col("cluster").cast("int").as("cluster"),
        round(sqrt(GraftFunctions.dotProduct(res, res)), roundTo).as("__rn"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("__rn").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), roundTo).as("mean_res_norm"),
        max(col("__rn")).as("max_res_norm"))
  }

  /** Rows per partition of a fit's canonical input layout
    * ([[fitLayout]]): inputs up to this size fit in one partition, so
    * every fixture-scale fit is single-partition, while a corpus-sized
    * fit still spreads over ceil(n / 65536) tasks.
    */
  private[ops] val FitRowsPerPartition: Long = 1L << 16

  /** The canonical input layout every KMeans fit here runs over:
    * hash-partitioned on the id into a partition count derived from the
    * row count alone, each partition sorted by (id, vector). Spark ML
    * KMeans seeds its k-means|| initialisation per partition index and
    * reduces its Lloyd sums in partition order, so a fit over whatever
    * partitioning its input happens to have changes with the core
    * count, the file packing of a re-read table and AQE's coalescing.
    * Over this layout the fit is a function of the rows alone. Cost:
    * one count and one shuffle of the fit input.
    */
  private[ops] def fitLayout(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val n = df.count()
    val parts = math.max(1L,
      (n + FitRowsPerPartition - 1) / FitRowsPerPartition)
    df.repartition(parts.toInt, col(idCol))
      .sortWithinPartitions(col(idCol), col(vecCol))
  }

  /** Fit centroids and assign every row to its cell.
    *
    * The centroids are a function of the rows (and `k`, `seed`), not of
    * their partitioning or the session's core count: the KMeans fit
    * runs over [[fitLayout]]. Ids should be unique; rows that share an
    * id and a vector are interchangeable, so even then the fit is fixed.
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, seed: Long = 42L): Index = {
    def featurize(d: DataFrame) = d.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol)).as("__features"))
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("__features").setPredictionCol("cluster")
      .fit(featurize(fitLayout(df.select(col(idCol), col(vecCol)),
        idCol, vecCol)))
    val assigned = model.transform(featurize(df)).drop("__features")
    Index(model.clusterCenters.map(_.toArray), assigned)
  }

  /** Multi-probe assignment: each row lands in its `probes` nearest
    * cells (squared Euclidean — the cell geometry, see [[topK]]'s
    * metric note). Output repeats each input row once per probed cell
    * with `cluster` set; consumers treat cell membership as a set.
    *
    * Why it exists: a near-dup pair split by a Voronoi boundary is
    * invisible to single-assignment within-cell blocking — the recall
    * gap ScaleRehearsalSem's `recall` mode measures. Probing the
    * second-nearest cell recovers exactly the boundary-straddling
    * pairs. Cost model: p× the rows, up to p²× the within-cell pair
    * volume — still linear in the corpus under the constant-population
    * cell policy, with the hot-cell cap applying to the PROBED
    * population. Ties break deterministically toward the lower cell id
    * (centroids scanned in id order, strict-inequality insertion).
    */
  def multiAssign(index: Index, df: DataFrame, idCol: String,
      vecCol: String, probes: Int): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val centroids = index.centroids
    val p = math.min(probes, centroids.length)
    val base = df.select(col(idCol), col(vecCol))
    val outSchema = base.schema.add("cluster", types.IntegerType, nullable = false)
    base.mapPartitions { rows =>
      rows.flatMap { r =>
        val vec = decodeVec(r.getSeq[Any](1), vecCol, r.get(0))
        nearestCells(vec, centroids, p).iterator
          .map(cell => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cell))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Widen one row's vector elements to doubles (float/double/any
    * numeric), failing loudly on null elements. ONE copy shared by the
    * append assignment and [[multiAssign]] so the decode rules can't
    * drift between the two executor-side paths.
    */
  private def decodeVec(vs: Seq[Any], vecCol: String, id: Any): Array[Double] = {
    val vec = new Array[Double](vs.length)
    var j = 0
    while (j < vec.length) {
      vec(j) = vs(j) match {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d
        case n: java.lang.Number => n.doubleValue()
        case null => throw new IllegalArgumentException(
          s"null element at position $j of $vecCol for id $id — " +
            "vectors must be dense")
      }
      j += 1
    }
    vec
  }

  /** The `p` nearest centroid ids of `vec` by squared Euclidean
    * distance, ascending; ties break toward the lower cell id
    * (centroids scanned in id order, strict-inequality insertion).
    * p = 1 is exactly the build/append assignment rule.
    */
  private def nearestCells(vec: Array[Double],
      centroids: Array[Array[Double]], p: Int): Array[Int] = {
    val bestIdx = Array.fill(p)(-1)
    val bestD = Array.fill(p)(Double.PositiveInfinity)
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      var d2 = 0.0
      val n = math.min(cen.length, vec.length)
      var i = 0
      while (i < n) { val d = vec(i) - cen(i); d2 += d * d; i += 1 }
      var pos = p
      while (pos > 0 && bestD(pos - 1) > d2) pos -= 1
      if (pos < p) {
        var m = p - 1
        while (m > pos) {
          bestD(m) = bestD(m - 1); bestIdx(m) = bestIdx(m - 1); m -= 1
        }
        bestD(pos) = d2; bestIdx(pos) = c
      }
      c += 1
    }
    bestIdx.filter(_ >= 0)
  }

  /** Approximate top-k for one query vector (1-row DataFrame): rank the
    * nprobe nearest cells by centroid distance (driver-side, k values),
    * then exact cosine re-rank within them.
    *
    * Probe ranking uses squared EUCLIDEAN distance — the SAME metric
    * that assigned rows to cells in `build()`/[[appendToIndex]]. Cells
    * are Euclidean Voronoi regions; ranking them by centroid COSINE
    * (as a first cut did) can exclude the very cell holding the best
    * match for unnormalized vectors — e.g. a near-copy of the query
    * sits with it in a small-norm cell, while a far but
    * directionally-aligned centroid outranks that cell on cosine. A
    * recall gap, not a correctness one, and invisible to any oracle
    * that replays the same rule — which is why the rule must match the
    * cell geometry (IvfSpec pins it with deliberately unnormalized
    * vectors).
    */
  def topK(index: Index, query: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    val probes = probeCells(index.centroids, queryVecOf(query, vecCol), nprobe)
    val q = broadcast(query.select(col(vecCol).as("query_vec")))
    index.assigned
      .where(col("cluster").isInCollection(probes))
      .crossJoin(q)
      .select(col(idCol),
        round(Similarity.cosine(col(vecCol), col("query_vec")), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** The one query vector of a 1-row query frame, widened to doubles
    * (element type may be float or double — accept either).
    */
  /** Batched ANN — top-k per query for a WORK LIST of queries in ONE
    * pass over the pruned index (the production retrieval shape: a
    * request batch, an eval suite, a dedup candidate list — not one
    * vector at a time).
    *
    * The query list is collected driver-side (O(Q·dim) — thousands of
    * queries are trivial) so cell probes are computed AT PLAN TIME:
    * the union of probed cells becomes a static partition filter
    * (same pruning as the single-query [[topK]]), and the per-query
    * (query_id, cell) pairs broadcast into an equi-join on `cluster` —
    * each index row in a probed cell meets only the queries that
    * probed its cell (≤ Q·nprobe pairs broadcast, never the index).
    * Per-query ranking is a keyed window (WindowGroupLimit) — no
    * global sort.
    *
    * Returns (<query-id>, idCol, cos_sim): the k nearest per query by
    * exact cosine re-rank within probed cells, ranked on the rounded
    * value with id tiebreak (total order, oracle-replayable). The
    * query-id output column keeps the CALLER's name (`qidCol`, any
    * data type — ids are carried through untouched, never cast);
    * when `qidCol` == `idCol` (self-join retrieval like a06) it
    * falls back to `query_id` so the two id columns stay
    * distinguishable.
    */
  /** Plan-time probe computation shared by the float and int8 batched
    * faces: ((query, query_vec, cell) broadcast frame, the union of
    * probed cells for static partition pruning, the output qid name) —
    * one definition so cell selection cannot drift between faces.
    */
  private[ops] def batchProbe(index: Index, queries: DataFrame, qidCol: String,
      vecCol: String, idCol: String, nprobe: Int)
      : (DataFrame, Seq[Int], String) = {
    val spark = queries.sparkSession
    val qidOut = if (qidCol == idCol) "query_id" else qidCol
    val idField = queries.schema(qidCol)
    val probed = queries.select(col(qidCol), col(vecCol)).collect().map { r =>
      val vec = decodeVec(r.getSeq[Any](1), vecCol, r.get(0))
      (r.get(0), vec, probeCells(index.centroids, vec, nprobe))
    }
    val allCells = probed.flatMap(_._3).distinct.toSeq
    // probe_rank = 1-based rank of the cell among this query's probes
    // (probeCells returns them distance-ascending): a probe-width sweep
    // filters `probe_rank <= np` per setting — probe sets NEST in
    // nprobe, so ONE batchProbe at the widest setting serves every cut
    val qSchema = types.StructType(Seq(
      types.StructField(qidOut, idField.dataType, idField.nullable),
      types.StructField("query_vec",
        types.ArrayType(types.DoubleType, containsNull = false), nullable = false),
      types.StructField("cluster", types.IntegerType, nullable = false),
      types.StructField("probe_rank", types.IntegerType, nullable = false)))
    val qRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(probed.flatMap { case (qid, vec, cells) =>
        cells.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(qid, vec.toSeq, c, i + 1)
        }
      }: _*)
    (spark.createDataFrame(qRows, qSchema), allCells, qidOut)
  }

  private[ops] def rankTopK(scored: DataFrame, qidOut: String, idCol: String,
      k: Int): DataFrame =
    scored.withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(qidOut))
          .orderBy(col("cos_sim").desc, col(idCol))))
      .where(col("__rk") <= k).drop("__rk")

  def topKBatch(index: Index, queries: DataFrame, qidCol: String,
      vecCol: String, idCol: String, k: Int, nprobe: Int = 4,
      roundTo: Int = 6): DataFrame = {
    val (qdf, allCells, qidOut) =
      batchProbe(index, queries, qidCol, vecCol, idCol, nprobe)
    rankTopK(
      index.assigned
        .where(col("cluster").isInCollection(allCells))
        .join(broadcast(qdf), "cluster")
        .select(col(qidOut), col(idCol),
          round(Similarity.cosine(col(vecCol).cast("array<double>"),
            col("query_vec")), roundTo).as("cos_sim")),
      qidOut, idCol, k)
  }

  /** Batched multi-query probe over the STORED INT8 FACE — a06's exact
    * plan shape (plan-time probes, static partition pruning on the
    * `cluster=` dirs, broadcast (query, cell) pairs, keyed-window rank)
    * reading `assigned_int8`: ~4× fewer bytes per probed cell, cosine
    * over the quantized vectors needs no dequantization scale (cosine
    * is scale-invariant). Cell selection is [[batchProbe]] — shared
    * with the float face, so an agreement report between the two
    * measures exactly the QUANTIZATION effect, never probe drift.
    */
  def topKInt8Batch(index: Index, path: String, queries: DataFrame,
      qidCol: String, vecCol: String, idCol: String, k: Int,
      nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    val spark = queries.sparkSession
    val (qdf, allCells, qidOut) =
      batchProbe(index, queries, qidCol, vecCol, idCol, nprobe)
    rankTopK(
      spark.read.parquet(s"$path/assigned_int8")
        .where(col("cluster").isInCollection(allCells))
        .join(broadcast(qdf), "cluster")
        .select(col(qidOut), col(idCol),
          round(Similarity.cosine(col("qvec").cast("array<double>"),
            col("query_vec")), roundTo).as("cos_sim")),
      qidOut, idCol, k)
  }

  private[ops] def queryVecOf(query: DataFrame, vecCol: String): Array[Double] =
    query.select(col(vecCol)).head().getSeq[Any](0).map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray

  /** The `nprobe` cells nearest the query by centroid EUCLIDEAN
    * distance (the cells' own geometry — see [[topK]]'s metric note),
    * ties toward the lower cell id. Shared by the float and int8
    * probes so cell selection cannot drift between the two faces.
    */
  private[ops] def probeCells(centroids: Array[Array[Double]],
      qVec: Array[Double], nprobe: Int): Seq[Int] = {
    def d2(c: Array[Double]): Double = {
      var s = 0.0
      val n = math.min(c.length, qVec.length)
      var i = 0
      while (i < n) { val d = c(i) - qVec(i); s += d * d; i += 1 }
      s
    }
    centroids.zipWithIndex
      .sortBy { case (c, i) => (d2(c), i) }.take(nprobe).map(_._2).toSeq
  }
}
