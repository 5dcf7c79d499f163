package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * 100 TB design notes:
  *  - Exact dedup is one hash-shuffle on the content key.
  *  - MinHash signatures are computed in a single expression projection
  *    (no UDF, no explode of shingles): O(numHashes × shingles) work per
  *    row, zero shuffle. Only small (id, bandKey) rows shuffle for the
  *    LSH self-join — O(docs × bands), not O(docs × shingles).
  *  - Pathological LSH buckets (a giant cluster of identical docs) would
  *    go quadratic in the self-join, so buckets are capped (`maxBucket`);
  *    such clusters are exact dups that [[exact]] already removes.
  *  - Candidate pairs are verified with exact Jaccard before reporting:
  *    precision 1.0, recall governed by (bands, rowsPerBand) — at the
  *    default 32×4, P(missing a j≥0.8 pair) ≈ (1-0.8⁴)³² ≈ 5e-8.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content value. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Stage a narrow intermediate that multiple downstream joins reuse
    * (shingle sets, signatures). Without this, self-join + verify
    * recompute the projection 3-4×: the dominant cost of the dedup
    * family. At cluster scale the same role is played by a staging
    * table / `checkpoint`; MEMORY_AND_DISK spills rather than OOMs.
    * Spark's CacheManager keys on the canonicalized plan, so repeated
    * runs of the same query reuse one cache entry; sessions running
    * many distinct pipelines release via [[Staged.release]].
    */
  private def stage(df: DataFrame): DataFrame = Staged(df)

  /** Sorted distinct 64-bit hash set of a document's shingles — the
    * shared per-doc representation for MinHash, banding, and exact
    * Jaccard verification. Native expression over the token array
    * ([[graft.functions.NgramHashes]]): shingle strings are never
    * materialized, one tight loop per row.
    */
  def shingleHashSet(text: Column, shingleSize: Int): Column =
    GraftFunctions.ngramHashes(TextAnalysis.tokens(text), shingleSize)

  /** Staged `cols` plus `h`, the [[shingleHashSet]] of `text`, for the
    * documents whose set is non-empty. The filter reads the staged frame:
    * written over the projection, predicate pushdown would inline `h`
    * into it, and the tokenizer and `ngram_hashes` would run twice per
    * document.
    */
  private[ops] def stagedShingleSets(df: DataFrame, text: Column,
      shingleSize: Int, cols: Column*): DataFrame =
    stage(df.select(cols :+ shingleHashSet(text, shingleSize).as("h"): _*))
      .where(size(col("h")) > 0)

  /** MinHash signature over the hashed shingle set — a native Catalyst
    * expression ([[graft.functions.MinHashSig]]): one eval per row, a
    * primitive numHashes × |set| loop. The interpreted HOF formulation
    * (transform × array_min × transform) was ~50× slower at sf0.1.
    */
  def minHashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    GraftFunctions.minhashSig(hashes, numHashes)

  def minHashSignature(text: Column, numHashes: Int = 128, shingleSize: Int = 3): Column =
    minHashSignatureFromHashes(shingleHashSet(text, shingleSize), numHashes)

  /** LSH band keys: hash each rowsPerBand-slice of the signature. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Near-duplicate pairs by MinHash-LSH, verified with exact Jaccard
    * over the same shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    */
  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // staged: feeds banding once + both sides of the verify join.
    // (r21 note: spreading this scan to core count was measured and
    // REVERTED — at bench scale the added exchange + 32-task stages on
    // every downstream cache read cost more than the ~0.3 s of
    // single-threaded projection they parallelize.)
    val docs = stagedShingleSets(df, col(textCol), shingleSize, col(idCol).as("id"))

    // staged: feeds the hot-bucket count + both sides of the self-join;
    // (id, band_idx, band_key) rows only — the signature itself never
    // shuffles
    lshFromSigFrame(docs,
      docs.withColumn("sig", minHashSignatureFromHashes(col("h"), numHashes))
        .select(col("id"), col("sig")),
      threshold, bands, rowsPerBand, maxBucket)
  }

  /** [[minHashLsh]] over a PREPARED (id, h, sig) frame — the band-sweep
    * face: x82 splits the SAME 128-hash signature family four ways, and
    * the un-shared form recomputed shingle sets + signatures once per
    * (bands, rowsPerBand) setting. Callers stage the prepared frame so
    * one signature pass serves every split; results are identical to
    * [[minHashLsh]] at the same parameters by construction (same
    * signatures, same banding, same verify).
    */
  def minHashLshFromSigs(prepared: DataFrame, threshold: Double,
      bands: Int, rowsPerBand: Int, maxBucket: Int = 10000): DataFrame =
    lshFromSigFrame(prepared.select(col("id"), col("h")),
      prepared.select(col("id"), col("sig")),
      threshold, bands, rowsPerBand, maxBucket)

  /** Shared LSH tail: band the signatures, cap hot buckets, self-join
    * for candidates, verify with exact Jaccard against the shingle
    * sets. `docs` carries (id, h); `sigd` carries (id, sig).
    */
  private def lshFromSigFrame(docs: DataFrame, sigd: DataFrame,
      threshold: Double, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    // staged: feeds the hot-bucket count + both sides of the self-join;
    // (id, band_idx, band_key) rows only — the signature itself never
    // shuffles
    val banded = stage(sigd.select(col("id"),
      posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band_idx", "band_key"))))

    val capped = dropHotBuckets(banded, Seq("band_idx", "band_key"), maxBucket)

    val candidates = capped.as("x")
      .join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

    verifyJaccard(candidates, docs, threshold)
  }

  /** EXACT near-dup pairs — the ground truth the LSH band-tuning sweep
    * (x82) measures recall against: every (id_a < id_b) pair with
    * shingle-set Jaccard ≥ threshold, found via the inverted shingle
    * index (pairs sharing at least one shingle; a pair sharing none has
    * Jaccard 0, so nothing above a positive threshold is lost) and
    * verified by the SAME native sorted-merge Jaccard as [[minHashLsh]]
    * — truth and subject share one definition of the metric, so the
    * sweep's gap is pure banding recall, never metric drift. Never a
    * cartesian: one shingle-key equi-self-join + pair distinct, the
    * hot-shingle cap bounding the join exactly like the LSH bucket cap
    * (set it above the corpus's hottest shingle for a truth pass — a
    * capped shingle silently removes its pairs from the truth). At
    * 100 TB this is the INSTRUMENT's truth pass and runs on a sample
    * by construction (a07's discipline); the production dedup path
    * stays LSH.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    val docs = stagedShingleSets(df, col(textCol), shingleSize, col(idCol).as("id"))
    val inv = docs.select(col("id"), explode(col("h")).as("s"))
    val capped = dropHotBuckets(inv, Seq("s"), maxBucket)
    val candidates = capped.as("x")
      .join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, docs, threshold)
  }

  /** The accounting face of [[exactJaccardPairs]]'s hot-shingle cap
    * ([[SemanticDedup.droppedCells]]'s pattern): (shingle hash, n_docs)
    * for every shingle whose inverted-index bucket exceeds `maxBucket`
    * — i.e. the shingles whose pairs the TRUTH instrument silently
    * removed from the truth set. A truth pass is only trustworthy when
    * this table is EMPTY (set `maxBucket` above the corpus's hottest
    * shingle); a non-empty table makes a mis-set cap auditable instead
    * of advisory — read it BEFORE quoting a recall number against the
    * truth. Same tiny aggregated count the cap itself broadcasts
    * (map-side partials, only hot shingles survive), so the accounting
    * can never drift from the drop rule.
    */
  def droppedShingles(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val inv = df
      .select(col(idCol).as("id"),
        shingleHashSet(col(textCol), shingleSize).as("h"))
      .where(size(col("h")) > 0)
      .select(col("id"), explode(col("h")).as("s"))
    hotBuckets(inv, Seq("s"), maxBucket)
      .withColumnRenamed("s", "shingle_hash")
      .withColumnRenamed("n", "n_docs")
  }

  /** Buckets larger than `maxBucket`: the tiny aggregated count shared
    * by the drop rule and its accounting faces.
    */
  private def hotBuckets(df: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame =
    df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)

  /** Drop rows of buckets larger than `maxBucket`: count per bucket via
    * an aggregation (map-side partials, tiny result — only hot buckets
    * survive the filter) broadcast back as an anti-join. A count Window
    * over the exploded rows would funnel each hot bucket through one
    * task — the exact straggler the cap exists to prevent.
    */
  private def dropHotBuckets(df: DataFrame, bucketCols: Seq[String],
      maxBucket: Int): DataFrame = {
    val keys = bucketCols.map(col)
    val hot = hotBuckets(df, bucketCols, maxBucket)
      .select(keys: _*)
    df.join(broadcast(hot), bucketCols, "left_anti")
  }

  /** Exact Jaccard verification of candidate (id_a, id_b) pairs against
    * per-doc sorted hash sets, via one native merge pass per pair
    * ([[graft.functions.JaccardSorted]] — the interpreted
    * array_intersect/array_union pair allocated a hash set per pair).
    * Set sizes are integers → the jaccard double is bit-deterministic.
    */
  private[ops] def verifyJaccard(
      pairs: DataFrame, docs: DataFrame, threshold: Double): DataFrame = {
    val a = docs.select(col("id").as("id_a"), col("h").as("h_a"))
    val b = docs.select(col("id").as("id_b"), col("h").as("h_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", GraftFunctions.jaccardSorted(col("h_a"), col("h_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash of a document's token stream: bit b is set when more
    * than half the token hashes have bit b set. One string-hash per
    * token, then a native per-row bit-count loop
    * ([[graft.functions.SimHash64]]).
    */
  def simHash(text: Column): Column =
    GraftFunctions.simhash64(transform(TextAnalysis.tokens(text), t => xxhash64(t)))

  /** SimHash near-dup pairs: split the 64-bit fingerprint into
    * maxHamming+1 blocks — by pigeonhole, a pair within the Hamming
    * bound must agree on at least one whole block — equi-join on
    * (block index, block value), then verify exact Hamming distance.
    * (A fixed 4-block split would silently lose recall for
    * maxHamming > 3.)
    */
  def simHashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    // staged: two longs per doc; the tokenize+hash scan behind the
    // fingerprint runs once instead of once per downstream use
    val hashed = stage(df.select(col(idCol).as("id"), simHash(col(textCol)).as("sim")))
    hammingNearDup(hashed, maxHamming, maxBucket)
  }

  /** The pigeonhole Hamming join behind [[simHashNearDup]], generic
    * over WHERE the 64-bit fingerprint came from (SimHash over tokens,
    * perceptual hash over media bytes, …): `hashed` carries (id, sim).
    * Recall is exactly 1.0 within the bound — a pair within Hamming
    * `maxHamming` must agree on one of the maxHamming+1 blocks — so
    * the blocked result EQUALS the all-pairs result, which is what the
    * media oracle (x45) pins by brute force. Wider thresholds shrink
    * block width (candidate cost m·N²/2^(64/m)); the scale knob past
    * ~Hamming 7 is a wider fingerprint, not more blocks.
    */
  def hammingNearDup(hashed: DataFrame, maxHamming: Int,
      maxBucket: Int = 10000): DataFrame = {
    val nBlocks = maxHamming + 1
    val width = (64 + nBlocks - 1) / nBlocks
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    val exploded = hashed.select(col("id"), col("sim"),
      posexplode(transform(sequence(lit(0), lit(nBlocks - 1)),
        j => call_function("shiftright", col("sim"), j * lit(width)).bitwiseAND(lit(mask))))
        .as(Seq("block_idx", "block_val")))
    val blocked = dropHotBuckets(exploded, Seq("block_idx", "block_val"), maxBucket)

    blocked.as("x")
      .join(blocked.as("y"),
        col("x.block_idx") === col("y.block_idx") &&
          col("x.block_val") === col("y.block_val") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Partition count for the CC loop, derived from the MEASURED directed
    * edge count (guide §2: scale-adaptive partitioning, never a constant
    * tuned for one deployment): ~4M edge rows (two ids) per partition ≈
    * tens of MB — one partition for fixture-sized graphs (the per-round
    * fixed cost is driver latency, not data), thousands for a 100 TB
    * corpus's pair set, capped so the label table never fragments into
    * more tasks than rows.
    */
  private[graft] def loopPartitions(edgeRows: Long): Int =
    math.min(4096L, math.max(1L, (edgeRows + 3999999L) / 4000000L)).toInt

  /** The loop of [[connectedComponents]], on primitive-long pair RDDs.
    * One Catalyst execution (the pair pipeline, once), then the loop
    * runs free of per-round planning/AQE latency — a Catalyst action on
    * a tiny round plan costs ~0.17-0.3 s of fixed driver latency
    * (OPTIMIZATION_r21.md), an RDD stage schedules in ~10 ms: each
    * round is one co-partitioned join + reduceByKey(min) + one jump
    * join + one BigInt-sum action (exact witness at any node count).
    * Self-loops are emitted inline with both directed edges —
    * duplicates are harmless under min, so no distinct is needed.
    * Returns the localCheckpoint'ed result leaf, tracked for
    * [[Staged.releaseCheckpoints]].
    */
  private def connectedComponentsLong(
      pairs: DataFrame, maxIter: Int, strict: Boolean): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.rdd.RDD
    val spark = pairs.sparkSession
    val projected = pairs.select(col("id_a"), col("id_b"))
    // ONE pass over the (possibly expensive) pair pipeline; primitives
    // extracted immediately, so UnsafeRow reuse is safe
    val raw = projected.queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edges: RDD[(Long, Long)] = null
    var labels: RDD[(Long, Long)] = null
    var prop: RDD[(Long, Long)] = null
    try {
      val nPairs = raw.count()
      val part = new HashPartitioner(loopPartitions(4L * nPairs))
      // both directions + a self-loop per endpoint: min(own, neighbors)
      // with one table, no distinct (duplicates are min-idempotent)
      edges = raw.flatMap { case (a, b) =>
          Iterator((a, b), (b, a), (a, a), (b, b)) }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      edges.count(): Unit
      raw.unpersist(blocking = false)
      // seed = min(self, direct neighbors), co-partitioned with edges
      labels = edges.reduceByKey(part, (a: Long, b: Long) => math.min(a, b)).persist(StorageLevel.MEMORY_AND_DISK)
      // exact convergence witness: labels only decrease, so the BigInt
      // label sum is strictly monotone until fixpoint (no overflow at
      // any node count)
      def sumOf(r: RDD[(Long, Long)]): BigInt =
        r.aggregate(BigInt(0))((s, kv) => s + kv._2, _ + _)
      var prevSum = sumOf(labels)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // propagate: each edge ships lab(u) to v (self-loop = own label)
        val p = edges.join(labels, part)
          .map { case (_, (v, l)) => (v, l) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // jump: lab(x) <- min(lab(x), lab(lab(x))) — labels are always
        // component-member ids, so the lookup side is total; leftOuter
        // keeps the row even if it were not
        val next = p.map { case (id, l) => (l, id) }
          .leftOuterJoin(p, part)
          .map { case (l, (id, l2)) => (id, math.min(l, l2.getOrElse(l))) }
          .partitionBy(part)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nextSum = sumOf(next)
        converged = nextSum == prevSum
        prevSum = nextSum
        labels.unpersist(blocking = false)
        if (prop != null) prop.unpersist(blocking = false)
        prop = p
        labels = next
        i += 1
      }
      if (prop != null) { prop.unpersist(blocking = false); prop = null }
      if (!converged) {
        val msg = s"connectedComponents did not converge within $maxIter rounds " +
          "(a cluster's min-label distance outruns maxIter propagate+jump " +
          "rounds); labels are partially propagated"
        if (strict) throw new IllegalStateException(msg)
        else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      // a materialized leaf (re-execution must not replay the loop),
      // registered for the caller's post-consumption
      // Staged.releaseCheckpoints()
      val aN = pairs.schema("id_a").nullable
      val bN = pairs.schema("id_b").nullable
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, aN || bN),
        org.apache.spark.sql.types.StructField("cluster_rep",
          org.apache.spark.sql.types.LongType, nullable = true)))
      val rows = labels.map { case (id, l) =>
        org.apache.spark.sql.Row(id, l): org.apache.spark.sql.Row }
      val result = spark.createDataFrame(rows, schema).localCheckpoint()
      result.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          Staged.trackRdd(l.rdd)
      }: Unit
      result
    } finally {
      raw.unpersist(blocking = false)
      if (edges != null) edges.unpersist(blocking = false)
      if (labels != null) labels.unpersist(blocking = false)
      if (prop != null) prop.unpersist(blocking = false)
    }
  }

  /** Connected components over near-dup pairs: the final step of corpus
    * dedup — group transitively-linked near-duplicates and elect one
    * representative (min id) per cluster, so "drop all but the rep"
    * removes chains A~B~C even when A and C themselves don't pair.
    *
    * Input: (id_a, id_b) pairs. Output: (doc_id, cluster_rep), in the
    * input id type, for every doc that appears in at least one pair.
    *
    * Algorithm: ONE loop ([[connectedComponentsLong]]), iterative
    * min-label propagation with pointer jumping on primitive-long pair
    * RDDs. Each round every node takes the min of its own label and its
    * neighbors' labels (one co-partitioned join + one reduceByKey), then
    * each label short-circuits to its label's label (the classic
    * pointer-jump; both steps only decrease labels and both stay inside
    * the component, so the fixpoint is unchanged — the per-component
    * min). Converges in O(log diameter) rounds — near-dup clusters are
    * shallow, so this is 1-3 rounds in practice, bounded by `maxIter`.
    * The driver-side loop only checks a per-round scalar witness, never
    * collects data.
    *
    * Ids that are not `LongType` (string doc ids, decimals) are first
    * encoded onto dense longs: the sorted distinct ids of both columns
    * are numbered with `zipWithIndex`, so the numbering preserves
    * Spark's ordering of the id type — the smallest dense label decodes
    * to the smallest id, and the min-id rep contract holds. The loop
    * runs on the encoded pairs, and each output column is decoded with
    * one join.
    *
    * Convergence is VERIFIED, never assumed: if `maxIter` rounds exhaust
    * while labels are still changing (a cluster whose min-label distance
    * outruns `maxIter` propagate+jump rounds — e.g. an adversarial chain
    * corpus far longer than 2^maxIter), the labels are only partially
    * propagated and returning them would silently mislabel clusters.
    * `strict=true` (default) raises instead; `strict=false` logs a
    * warning and returns the partial labels for callers that prefer a
    * best-effort answer.
    *
    * The result is a `localCheckpoint`ed leaf (re-executing it must not
    * replay the loop), tracked for [[Staged.releaseCheckpoints]].
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 20,
      strict: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    if (pairs.schema("id_a").dataType == LongType &&
        pairs.schema("id_b").dataType == LongType)
      return connectedComponentsLong(pairs, maxIter, strict)
    val spark = pairs.sparkSession
    val p = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct().orderBy("id")
    val idType = ids.schema("id").dataType
    // numbered in sort order: dense label order is id order
    val numbered = ids.rdd.zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def dict(id: String, dense: String): DataFrame =
      spark.createDataFrame(numbered, StructType(Seq(StructField(id, idType),
        StructField(dense, LongType, nullable = false))))
    try {
      val dense = connectedComponentsLong(
        p.join(dict("id_a", "a"), "id_a").join(dict("id_b", "b"), "id_b")
          .select(col("a").as("id_a"), col("b").as("id_b")),
        maxIter, strict)
      val decoded = Staged.checkpointed(dense
        .join(dict("doc", "doc_id"), "doc_id")
        .join(dict("rep", "cluster_rep"), "cluster_rep")
        .select(col("doc").as("doc_id"), col("rep").as("cluster_rep")))
      // the dense leaf is consumed by the (eager) decode checkpoint
      dense.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
      }: Unit
      decoded
    } finally {
      numbered.unpersist(blocking = false)
      p.unpersist(blocking = false)
    }
  }
  // ---- bucketed index layout ------------------------------------------
  // The persisted index tables (LSH band table, shingle table, passage
  // table) are written as BUCKETED + SORTED external parquet tables on
  // their probe-join keys, so every per-batch probe join leaves the
  // index side Exchange-free: the index scan's HashPartitioning on the
  // bucket columns already satisfies the join's required distribution,
  // and only the (small) batch side shuffles — into the index's bucket
  // layout. The previous plain-parquet layout put the FULL index on the
  // shuffle path of every batch (sort-merge re-shuffles both sides), a
  // per-batch O(corpus) network cost that defeats the point of an
  // incremental operator at 100 TB.
  //
  // The bucket spec (columns + count) is recorded in a `_graft_buckets`
  // marker inside the table dir (underscore-prefixed: parquet listings
  // ignore it), so a FRESH session — whose catalog has no entry — can
  // re-register the external table over the existing files. Dirs
  // without the marker (pre-bucketing indexes) fall back to a plain
  // parquet read: older indexes stay readable, just without the
  // shuffle-free probe.

  private val BucketMarkerFile = "_graft_buckets"

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Catalog name for the external table over `dir` — a pure function
    * of the path, so every session that touches the same index dir
    * lands on the same (idempotently re-creatable) entry.
    */
  private[graft] def indexTableName(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    s"graft_idx_$h"
  }

  private def writeBucketSpec(spark: org.apache.spark.sql.SparkSession,
      dir: String, bucketCols: Seq[String], nBuckets: Int): Unit = {
    val out = fsOf(spark, dir).create(
      new org.apache.hadoop.fs.Path(dir, BucketMarkerFile), true)
    try out.write(s"${bucketCols.mkString(",")}|$nBuckets".getBytes("UTF-8"))
    finally out.close()
  }

  private def readBucketSpec(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Seq[String], Int)] = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, BucketMarkerFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val Array(cols, n) = txt.trim.split('|')
      Some((cols.split(',').toSeq, n.toInt))
    }
  }

  private def ensureIndexTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, bucketCols: Seq[String], nBuckets: Int): Unit =
    if (!spark.catalog.tableExists(indexTableName(dir))) {
      val schema = spark.read.parquet(dir).schema
      spark.sql(s"CREATE TABLE ${indexTableName(dir)} (${schema.toDDL}) " +
        s"USING PARQUET CLUSTERED BY (${bucketCols.mkString(", ")}) " +
        s"SORTED BY (${bucketCols.mkString(", ")}) INTO $nBuckets BUCKETS " +
        s"LOCATION '$dir'"): Unit
    }

  /** Fresh build of one bucketed index table: drop any previous catalog
    * entry and data (the dir delete is explicit — DROP TABLE leaves
    * external data in place), write bucketed+sorted, then commit the
    * bucket-spec marker LAST so a crashed write is read as absent, not
    * as a half-bucketed table.
    */
  /** Align write tasks with buckets: a bucketed WRITE has no required
    * distribution, so an unaligned upstream (N tasks × up to nBuckets
    * buckets each) sprays one file per (task, bucket) pair. Hash
    * repartitioning on the bucket columns (same murmur3 as bucket-id
    * assignment) makes each task exactly one bucket → exactly one file.
    * Caveat a debug session earned: when df scans the SAME bucketed
    * table, the scan advertises HashPartitioning, this exchange is
    * elided as redundant, and the bucketed scan is then disabled as
    * unnecessary — callers rewriting a bucketed table must feed a PLAIN
    * parquet read (see [[compactIndexTable]]).
    */
  private def bucketAligned(df: DataFrame, bucketCols: Seq[String],
      nBuckets: Int): DataFrame =
    df.repartition(nBuckets, bucketCols.map(col): _*)

  private[graft] def writeBucketedIndex(df: DataFrame, dir: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    val spark = df.sparkSession
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(dir)}")
    if (fs.exists(path))
      require(fs.delete(path, true), s"index build: delete failed for $dir")
    bucketAligned(df, bucketCols, nBuckets)
      .write.mode("overwrite").format("parquet").option("path", dir)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(indexTableName(dir))
    writeBucketSpec(spark, dir, bucketCols, nBuckets)
  }

  /** Append into an existing index table under ITS recorded bucket
    * spec (appends add files per bucket; reads group them, so the
    * Exchange-free probe survives appends). Pre-bucketing dirs append
    * plain parquet — same format they were built with.
    */
  private def appendBucketedIndex(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    readBucketSpec(spark, dir) match {
      case None => df.write.mode("append").parquet(dir)
      case Some((cols, n)) =>
        ensureIndexTable(spark, dir, cols, n)
        // aligned → each append adds AT MOST one file per bucket (vs
        // one per task×bucket), bounding small-file growth to the
        // append count until [[compactIndexTable]] folds the tail
        bucketAligned(df, cols, n)
          .write.mode("append").format("parquet")
          .bucketBy(n, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .saveAsTable(indexTableName(dir))
    }
  }

  /** The batch-append faces' single-writer guard (r19 — the
    * `_MAINT_OWNER` discipline applied to the appendable artifacts):
    * an append is read-distinct-then-write, NOT atomic — two
    * concurrent appenders would both anti-join the same committed
    * state and interleave writes, silently breaking the index's
    * distinctness invariant (and racing the catalog registration).
    * The lock is an atomic create-no-overwrite file at the artifact
    * root, held for the duration of one append and deleted after; a
    * second appender REFUSES loudly instead of interleaving. A
    * crashed appender leaves the lock behind — recovery is the
    * explicit [[clearAppendLock]], exactly like the maintenance
    * lease's takeover: re-admission is a human decision. For
    * streaming (crash-replay) ingest use the epoch-partitioned
    * faces instead — drop-and-rewrite epoch partitions need no lock.
    *
    * Only [[org.apache.hadoop.fs.FileAlreadyExistsException]] reads as
    * "lock held" (r20): a transient IO failure (permissions, a dropped
    * connection) PROPAGATES instead of masquerading as the
    * single-writer refusal — the refusal message tells the operator to
    * clearAppendLock, which against a genuinely held lock would tear
    * the very invariant the lock protects. Caveat: create-no-overwrite
    * is atomic on HDFS and the local fs but only advisory on stores
    * without an exclusive create (e.g. S3A before conditional writes)
    * — there the guard narrows the race window rather than closing it.
    */
  private val AppendLockFile = "_APPEND_LOCK"

  private[ops] def withAppendLock[T](
      spark: org.apache.spark.sql.SparkSession, root: String)(
      body: => T): T = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, AppendLockFile)
    fs.mkdirs(p.getParent): Unit
    val acquired =
      try { fs.create(p, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
            // RawLocalFileSystem predates the typed subclass on some
            // branches; match its message rather than swallowing every
            // IO failure as "held"
            if e.getMessage != null &&
              e.getMessage.contains("already exists") => false
      }
    if (!acquired) throw new IllegalStateException(
      s"append to $root refused: $p is held — batch appends are " +
        "single-writer (read-distinct-then-write is not atomic; " +
        "interleaved appends would break the index's distinctness " +
        "invariant). If the holder crashed, recover with " +
        "Dedup.clearAppendLock; for concurrent ingest use the " +
        "epoch-partitioned streaming faces.")
    try body finally { fs.delete(p, false): Unit }
  }

  /** Remove a crashed appender's lock — the operator recovery path
    * ([[withAppendLock]]'s scaladoc). Safe when no lock exists.
    */
  def clearAppendLock(spark: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    fsOf(spark, root).delete(
      new org.apache.hadoop.fs.Path(root, AppendLockFile), false): Unit
  }

  /** Read one index table back with its bucket layout (plain parquet
    * when the dir predates bucketing).
    */
  private[graft] def readIndexTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    readBucketSpec(spark, dir) match {
      case None => spark.read.parquet(dir)
      case Some((cols, n)) =>
        ensureIndexTable(spark, dir, cols, n)
        spark.table(indexTableName(dir))
    }

  /** Offline small-files compaction for ONE bucketed index table dir.
    * Appends add one file per bucket per append: the probe PLAN never
    * changes (bucketed reads group a bucket's files), but open-file
    * overhead grows linearly with the append count — the classic
    * streaming/daily-ingest small-files debt. This rewrites the table
    * into one file per bucket under its own recorded bucket spec.
    *
    * Crash-RECOVERABLE via an atomic-RENAME swap (renames are atomic
    * on HDFS and local fs — the live dir is never deleted in place, so
    * no crash point leaves a PARTIAL dir masquerading as the source of
    * truth). The rewrite lands in `<dir>__compact_tmp`, whose commit
    * point is the bucket-spec marker (written last, after parquet's
    * _SUCCESS); the swap is then rename dir -> `<dir>__compact_old`,
    * rename tmp -> dir, delete old. `__compact_old` only ever exists
    * AFTER tmp committed, so recovery can tell a half-done swap
    * (old present → finish it) from stale debris (dir present, no old
    * → tmp may predate later appends; discard it, its source is
    * intact). Markerless (pre-bucketing) dirs are left untouched:
    * plain parquet has no bucket layout to restore.
    */
  def compactIndexTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val tmpRaw = s"${dir}__compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpRaw)
    val oldPath = new org.apache.hadoop.fs.Path(s"${dir}__compact_old")
    def committed(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(p, BucketMarkerFile))
    def dropTables(): Unit = {
      // both entries' cached file listings are stale after a swap; the
      // next readIndexTable re-registers over the fresh files
      spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(dir)}"): Unit
      spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(tmpRaw)}"): Unit
    }
    if (fs.exists(oldPath)) {
      // __compact_old is created only after tmp commits, so this is a
      // crash inside a swap; finish it in order
      if (!fs.exists(dirPath)) {
        // crashed between rename(dir -> old) and rename(tmp -> dir)
        require(fs.exists(tmpPath) && committed(tmpPath),
          s"compaction: $dir missing mid-swap and $tmpRaw not committed")
        require(fs.rename(tmpPath, dirPath),
          s"compaction: recovery rename $tmpRaw -> $dir failed")
      }
      // crashed between rename(tmp -> dir) and delete(old): dir is live
      require(fs.delete(oldPath, true),
        s"compaction: delete failed for $oldPath")
      dropTables()
    }
    if (fs.exists(tmpPath)) {
      if (!fs.exists(dirPath)) {
        // legacy delete-then-rename crash state (or an external move):
        // dir only disappeared after tmp committed, so tmp is
        // authoritative
        require(committed(tmpPath),
          s"compaction: $dir missing and $tmpRaw uncommitted")
        require(fs.rename(tmpPath, dirPath),
          s"compaction: recovery rename $tmpRaw -> $dir failed")
        dropTables()
      } else {
        // live dir fully intact (the rename swap never mutates it in
        // place) → the tmp is stale debris; the table may have been
        // appended since the tmp was written, so discard it
        require(fs.delete(tmpPath, true),
          s"compaction: delete failed for $tmpRaw")
        spark.sql(s"DROP TABLE IF EXISTS ${indexTableName(tmpRaw)}"): Unit
      }
    }
    if (!fs.exists(dirPath)) return
    readBucketSpec(spark, dir) match {
      case None => () // plain parquet dir: nothing bucketed to compact
      case Some((cols, n)) =>
        // Read PLAIN parquet here, NOT the catalog table: the bucketed
        // scan advertises HashPartitioning, EnsureRequirements then
        // elides the write helper's aligning repartition as redundant,
        // and with no operator left needing the distribution the
        // bucketed scan itself is disabled — file-based tasks each
        // rewrite every bucket they touch and the file count barely
        // drops (observed: 100 → 89). A plain scan claims no
        // partitioning, so the exchange stays and the rewrite is
        // exactly one file per nonempty bucket; that one full-index
        // shuffle is the price of offline compaction, paid off the
        // probe path.
        writeBucketedIndex(spark.read.parquet(dir), tmpRaw, cols, n)
        // atomic-rename swap: the live dir is moved aside, never
        // deleted in place, so every crash point leaves either the old
        // or the new COMPLETE copy reachable by the recovery above
        require(fs.rename(dirPath, oldPath),
          s"compaction: rename $dir -> $oldPath failed")
        require(fs.rename(tmpPath, dirPath),
          s"compaction: rename $tmpRaw -> $dir failed")
        require(fs.delete(oldPath, true),
          s"compaction: delete failed for $oldPath")
        dropTables()
        spark.catalog.refreshByPath(dir)
    }
  }

  /** [[compactIndexTable]] over both probe tables of a
    * [[writeLshIndex]]/[[appendToLshIndex]] index. Run offline when
    * appends accumulate (the bucket-stats table is O(buckets) rows of
    * plain parquet and versioned separately — no compaction needed).
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    compactIndexTable(spark, s"$path/shingles")
    compactIndexTable(spark, s"$path/bands")
  }

  /** Persist the MinHash-LSH state of a corpus as an incremental dedup
    * index: `bands/` — (id, band_idx, band_key) bucketed+sorted on
    * (band_idx, band_key) — and `shingles/` — (id, h) bucketed+sorted
    * on id for exact verification. A later batch then dedups against
    * the corpus WITHOUT recomputing corpus signatures (the operation a
    * daily-ingest pipeline actually runs at 100 TB: the index is
    * touched by one equi-join that shuffles ONLY the batch side — the
    * bucket layout keeps the index off the shuffle path — and the
    * corpus text never again).
    */
  def writeLshIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8, bands: Int = 32,
      rowsPerBand: Int = 4, shingleSize: Int = 3,
      nBuckets: Int = 32): Unit = {
    val spark = df.sparkSession
    val docs = df
      .select(col(idCol).as("id"), shingleHashSet(col(textCol), shingleSize).as("h"))
      .where(size(col("h")) > 0)
    writeBucketedIndex(docs, s"$path/shingles", Seq("id"), nBuckets)
    val reloaded = readIndexTable(spark, s"$path/shingles")
    writeBucketedIndex(reloaded
      .withColumn("sig", minHashSignatureFromHashes(col("h"), bands * rowsPerBand))
      .select(col("id"),
        posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band_idx", "band_key"))),
      s"$path/bands", Seq("band_idx", "band_key"), nBuckets)
    // fresh build: drop any stale stats before seeding from the new bands
    val fs = fsOf(spark, path)
    listStatsDirs(fs, path).foreach { case (p, _) => fs.delete(p, true) }
    mergeBucketCounts(spark, path,
      bandCountsOf(readIndexTable(spark, s"$path/bands")))
  }

  /** All stats dirs under the index with their version numbers: the
    * versioned `bucket_counts_vN` dirs plus the legacy unversioned
    * `bucket_counts` (version 0) from pre-versioning indexes.
    */
  private def listStatsDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(org.apache.hadoop.fs.Path, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Seq.empty
    val versioned = "bucket_counts_v(\\d+)".r
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case "bucket_counts" => Some((st.getPath, 0))
        case versioned(v) => Some((st.getPath, v.toInt))
        case _ => None
      }
    }
  }

  /** The latest COMMITTED stats table with its version: highest-version
    * dir whose parquet `_SUCCESS` marker exists (only the LEGACY
    * unversioned `bucket_counts` dir is exempt from the marker check —
    * pre-versioning indexes never wrote one; a dir literally named
    * `bucket_counts_v0` gets no such grace, it must carry the marker
    * like any other versioned publish). A dir without the marker is a
    * crashed publish and is ignored — the previous version stays
    * authoritative.
    */
  private[ops] def committedBucketCounts(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[(org.apache.hadoop.fs.Path, Int)] =
    listStatsDirs(fs, path)
      .filter { case (p, _) =>
        p.getName == "bucket_counts" ||
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
      // version desc, and on a version tie (legacy `bucket_counts` vs a
      // committed `bucket_counts_v0`, both version 0) the VERSIONED dir
      // wins — a bare `sortBy(-version)` left that tie to filesystem
      // listing order, i.e. a nondeterministic stats table
      .sortBy { case (p, v) =>
        (-v, if (p.getName == "bucket_counts") 1 else 0) }
      .headOption

  /** Per-bucket population of the band table — the index statistic that
    * lets [[incrementalNearDup]] cap hot buckets without scanning the
    * band table per batch. The initial build aggregates the fresh band
    * table once; appends MERGE their delta counts into the existing
    * stats (O(distinct buckets + new bands), never a band-table
    * re-scan).
    *
    * Published crash-safely: the merged table is written to a NEW
    * versioned dir (`bucket_counts_v{N+1}`), committed by the parquet
    * `_SUCCESS` marker, and only then are superseded versions retired.
    * A crash at any point leaves the previous committed stats readable
    * — the old delete-then-rename publish had a window that left the
    * index with bands but no stats, bricking every subsequent
    * [[incrementalNearDup]] until a full rebuild.
    */
  private def mergeBucketCounts(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = committedBucketCounts(fs, path)
    val merged = cur match {
      case Some((p, _)) =>
        spark.read.parquet(p.toString).unionByName(delta)
          .groupBy(col("band_idx"), col("band_key"))
          .agg(sum(col("n")).as("n"))
      case None => delta
    }
    // read path and publish numbering derive from the SAME committed
    // lookup — a second listing with its own filter could disagree
    val curVersion = cur.map(_._2).getOrElse(0)
    // overwrite: a crashed publish may have left an UNCOMMITTED dir at
    // this same version number
    merged.write.mode("overwrite")
      .parquet(s"$path/bucket_counts_v${curVersion + 1}")
    // retire superseded stats and crashed-publish debris best-effort —
    // a crash here leaves extra dirs and readers still pick the max
    // committed version
    listStatsDirs(fs, path)
      .filter(_._2 != curVersion + 1)
      .foreach { case (p, _) => fs.delete(p, true) }
  }

  private def bandCountsOf(bandsDf: DataFrame): DataFrame =
    bandsDf.groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n"))

  /** Near-dup pairs introduced by a NEW batch against an existing
    * [[writeLshIndex]] corpus: cross pairs (new ↔ indexed, via one
    * equi-join on the persisted band table) plus the batch's internal
    * pairs ([[minHashLsh]]). Exactly-verified like the batch operator:
    * the result equals `minHashLsh(corpus ∪ batch)` minus the
    * corpus-internal pairs (the differential spec pins this identity).
    * Returns (id_a, id_b, jaccard), id_a < id_b.
    */
  def incrementalNearDup(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double = 0.8,
      bands: Int = 32, rowsPerBand: Int = 4, shingleSize: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    val spark = newDocs.sparkSession
    val newShingles = stagedShingleSets(newDocs, col(textCol), shingleSize,
      col(idCol).as("id"))
    val newBands = stage(newShingles
      .withColumn("sig", minHashSignatureFromHashes(col("h"), bands * rowsPerBand))
      .select(col("id"),
        posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band_idx", "band_key"))))
    val idxBands = readIndexTable(spark, s"$indexPath/bands")
      .select(col("id").as("id_x"), col("band_idx"), col("band_key"))
    // hot-bucket cap over the COMBINED population: a bucket the corpus
    // already saturates must not join every new doc that lands in it
    // (the quadratic blowup the cap exists to prevent). Corpus-side
    // per-bucket counts are part of the index (maintained at
    // write/append time — O(buckets), no scan of the band table);
    // the new batch's counts aggregate from its own tiny band set.
    val statsFs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsPath = committedBucketCounts(statsFs, indexPath).map(_._1)
      .getOrElse(throw new IllegalStateException(
        s"no committed bucket_counts under $indexPath — rebuild the index"))
    val idxCounts = spark.read.parquet(statsPath.toString)
      .select(col("band_idx"), col("band_key"), col("n").as("n_idx"))
    val newCounts = newBands.groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_new"))
    val hot = newCounts.join(idxCounts, Seq("band_idx", "band_key"), "full_outer")
      .where(coalesce(col("n_new"), lit(0L)) + coalesce(col("n_idx"), lit(0L))
        > maxBucket)
      .select(col("band_idx"), col("band_key"))
    val cappedNew = newBands.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
    val cappedIdx = idxBands.join(broadcast(hot), Seq("band_idx", "band_key"), "left_anti")
    // staged: feeds the candidate-id projection and the verify join
    val candidates = stage(cappedNew
      .join(cappedIdx, Seq("band_idx", "band_key"))
      .select(least(col("id"), col("id_x")).as("id_a"),
        greatest(col("id"), col("id_x")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .distinct())
    // The exact-verify pass touches ONLY the docs candidates name:
    // candidate ids are O(batch), so the semi-join below reduces the
    // index shingle table to O(batch) rows BEFORE any aggregation.
    // (The previous union+groupBy over the full corpus shingle table
    // re-aggregated every indexed doc per batch — O(corpus).) The
    // shingle table is bucketed on id, so the semi-join shuffles only
    // the candidate-id side.
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val idxShingles = readIndexTable(spark, s"$indexPath/shingles")
      .join(candIds, Seq("id"), "left_semi")
    val allShingles = newShingles.unionByName(idxShingles)
      .groupBy("id").agg(first("h").as("h")) // a doc present in both sides resolves once
    val cross = verifyJaccard(candidates, allShingles, threshold)
    // batch-internal pairs from the SAME staged bands/shingles (no
    // second pass over the text); the combined-population cap applies
    // here too, which is exactly what minHashLsh(corpus ∪ batch) would
    // have done to these buckets
    val internalCands = cappedNew.as("x")
      .join(cappedNew.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val internal = verifyJaccard(internalCands, newShingles, threshold)
    cross.unionByName(internal).distinct()
  }

  /** Extend the index with a batch (after [[incrementalNearDup]] and
    * whatever keep/drop policy was applied to it).
    *
    * IDEMPOTENT per id, per face (r20 — the ADVICE gap: the capstone's
    * lazy day-registration is marker-gated, and a crash between this
    * append and the caller's marker used to re-append the whole batch
    * on the next run, silently duplicating shingle/band rows): each
    * face appends only the ids it does not already hold, so a full
    * re-run is a no-op and a run that crashed between the shingle and
    * band appends RESUMES — the re-run skips the committed shingles
    * and lands the missing bands (the faces commit shingles → bands →
    * stats, so "in bands" implies "in shingles"). The idempotence
    * bill: one committed-face membership probe per face per append —
    * the shingle side an Exchange-free bucketed anti-join on id, the
    * band side a broadcast-batch-ids semi-join (the batch id set is
    * small by this face's contract; for corpus-sized continuous ingest
    * use the epoch-partitioned streaming faces, which need neither
    * lock nor probe). Residual crash window: between the band append
    * and the stats merge, that batch's bucket-count delta is lost —
    * the counts feed the hot-bucket CAP (a skew guard), so the effect
    * is a marginally looser cap on the affected buckets, never a
    * duplicated or missed pair verdict.
    */
  def appendToLshIndex(newDocs: DataFrame, indexPath: String, idCol: String,
      textCol: String, bands: Int = 32, rowsPerBand: Int = 4,
      shingleSize: Int = 3): Unit = {
    val spark = newDocs.sparkSession
    // ONE lock spans all three face appends (shingles, bands, stats):
    // a per-table lock would still let two appenders interleave ACROSS
    // the faces and tear the shingle/band correspondence
    withAppendLock(spark, indexPath) {
      // staged: the shingle append, the band derivation, and the stats
      // delta all read this batch-sized frame
      val docs = stagedShingleSets(newDocs, col(textCol), shingleSize, col(idCol).as("id"))
      appendBucketedIndex(
        docs.join(readIndexTable(spark, s"$indexPath/shingles")
          .select(col("id")), Seq("id"), "left_anti"),
        s"$indexPath/shingles")
      // band-face membership: ids of committed bands restricted to the
      // batch — the bands table streams through a broadcast semi-join
      // on the batch's id set, nothing index-sized shuffles
      val batchIds = docs.select(col("id")).distinct()
      val doneBandIds = readIndexTable(spark, s"$indexPath/bands")
        .join(broadcast(batchIds), Seq("id"), "left_semi")
        .select(col("id")).distinct()
      val newBands = stage(docs
        .join(doneBandIds, Seq("id"), "left_anti")
        .withColumn("sig", minHashSignatureFromHashes(col("h"), bands * rowsPerBand))
        .select(col("id"),
          posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band_idx", "band_key"))))
      appendBucketedIndex(newBands, s"$indexPath/bands")
      mergeBucketCounts(spark, indexPath, bandCountsOf(newBands))
    }
  }

  /** Exact n-gram Jaccard similarity join within a blocking key, via
    * prefix filtering (PPJoin-style): two sets with jaccard >= t must
    * share an element among the first |h| - ceil(t·|h|) + 1 elements of
    * their (globally consistently) sorted hash sets — a LOSSLESS
    * candidate filter, unlike LSH. Candidates come from an
    * inverted-index equi-join on (block, prefix hash) instead of the
    * quadratic per-block cross join, then exact Jaccard verifies.
    *
    * 100 TB notes: shuffle volume is O(docs × prefixLen) small rows,
    * and hash order is a uniform pseudo-random element order, so
    * prefix tokens don't concentrate on frequent shingles. The
    * size-ratio prune (jaccard >= t forces |A|/|B| ∈ [t, 1/t]) drops
    * mismatched pairs before the merge loop.
    */
  def ngramJaccardBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // staged: feeds the prefix explode + both sides of the verify join
    val docs = stagedShingleSets(df, col(textCol), n,
      col(idCol).as("id"), col(blockCol).as("block"))
      .withColumn("hn", size(col("h")))
    val prefixLen = (col("hn") - ceil(col("hn") * lit(threshold)) + 1).cast("int")
    val pref = docs.select(col("id"), col("block"), col("hn"),
      explode(slice(col("h"), lit(1), prefixLen)).as("tok"))
    val pairs = pref.as("x").join(pref.as("y"),
      col("x.block") === col("y.block") && col("x.tok") === col("y.tok") &&
        col("x.id") < col("y.id") &&
        col("x.hn") * lit(threshold) <= col("y.hn") &&
        col("y.hn") * lit(threshold) <= col("x.hn"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyJaccard(pairs, docs.select(col("id"), col("h")), threshold)
  }

  /** Exact n-gram CONTAINMENT join within a blocking key — the
    * asymmetric sibling of [[ngramJaccardBlocked]]: ordered pairs
    * (id_a, id_b) where |h(A) ∩ h(B)| / |h(A)| ≥ t, i.e. doc A's
    * n-gram set is (mostly) contained in doc B's. Jaccard misses
    * exactly this case: a paragraph quoted inside a long article has
    * tiny Jaccard but containment ≈ 1 — the quotation/subset-mining
    * operation.
    *
    * Candidates are LOSSLESS, PPJoin-containment-style: if
    * containment(A→B) ≥ t then A and B share an element among the
    * FIRST |h(A)| − ⌈t·|h(A)|⌉ + 1 of A's sorted hashes (at most
    * that many of A's elements can miss B), so A contributes only its
    * prefix to the inverted index; B must be able to match ANY of its
    * elements, so the container side posts its full set — shuffle =
    * O(docs × prefix) + O(docs × |h|) small rows, linear in corpus
    * shingles (the full-posting side is the price of asymmetry; hash
    * order keeps prefixes off frequent shingles). Size prune:
    * |h(B)| ≥ t·|h(A)| (the container must have room for the
    * intersection). Verify = exact sorted-hash intersection over the
    * candidate pairs only.
    */
  def ngramContainmentBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      roundTo: Int = 6): DataFrame = {
    // threshold outside (0, 1] breaks the prefix arithmetic itself:
    // t <= 0 makes prefixLen exceed hn and t > 1 drives it non-positive
    // (slice with a non-positive length errors at runtime) — validate
    // like the sibling dedup ops instead of failing mid-job
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    require(n > 0, s"shingle size must be positive, got $n")
    val docs = stage(containmentSets(df, idCol, textCol,
      Some(blockCol), n))
    containmentPairs(docs, docs, threshold, roundTo)
  }

  /** The prepared shingle-set frame the containment join consumes:
    * (id, block, h = sorted distinct shingle hashes, hn = |h|); docs
    * with no shingles are absent. `blockCol` None ⇒ one global block
    * (the streaming face's shape — a single corpus, no partition key).
    */
  private[graft] def containmentSets(df: DataFrame, idCol: String,
      textCol: String, blockCol: Option[String], n: Int): DataFrame = {
    df.select(col(idCol).as("id"),
        blockCol.map(col).getOrElse(lit(0)).as("block"),
        shingleHashSet(col(textCol), n).as("h"))
      .where(size(col("h")) > 0)
      .withColumn("hn", size(col("h")))
  }

  /** Directional containment pairs between two prepared set frames —
    * `a` is the CONTAINED side (only its lossless prefix explodes),
    * `b` the container side (full explode): (id_a, id_b, containment)
    * with containment = |h(a)∩h(b)| / |h(a)| ≥ threshold, id_a ≠ id_b.
    * Shared by the blocked batch join (a = b = corpus) and the
    * streaming quotation flagger (a = batch, b = committed ∪ batch).
    */
  /** Lossless contained-side prefix length at `threshold`: if
    * |A∩B| ≥ t·|A| then at least one of A's first hn−⌈t·hn⌉+1 sorted
    * hashes is in B (pigeonhole). Shared by the batch join and the
    * streaming posting-table probe.
    */
  private[graft] def containPrefix(threshold: Double): Column =
    (col("hn") - ceil(col("hn") * lit(threshold)) + 1).cast("int")

  private[graft] def containmentPairs(a: DataFrame, b: DataFrame,
      threshold: Double, roundTo: Int): DataFrame = {
    val pref = a.select(col("id"), col("block"), col("hn"),
      explode(slice(col("h"), lit(1), containPrefix(threshold))).as("tok"))
    val full = b.select(col("id"), col("block"), col("hn"),
      explode(col("h")).as("tok"))
    val pairs = pref.as("x").join(full.as("y"),
      col("x.block") === col("y.block") && col("x.tok") === col("y.tok") &&
        col("x.id") =!= col("y.id") &&
        col("y.hn") >= col("x.hn") * lit(threshold))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    pairs
      .join(a.select(col("id").as("id_a"), col("h").as("__ha")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col("h").as("__hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("__ha"), col("__hb"))).cast("double") /
          size(col("__ha")), roundTo).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Passage-level exact dedup — repeated-passage removal at sub-
    * document granularity (the "Deduplicating Training Data Makes
    * Language Models Better" operation, at fixed window grain): split
    * each document into non-overlapping `window`-token passages
    * ([[Chunking.slidingChunks]] with stride = size — the boundary
    * math x28 pins cross-engine), keep only the FIRST occurrence of
    * each distinct passage in (doc id, passage index) order, and
    * reconstruct every document from its surviving passages. Whole-doc
    * dedup (x01) can't touch boilerplate that rides INSIDE otherwise-
    * distinct documents; this removes it corpus-wide. A document whose
    * every passage first occurred elsewhere drops out entirely.
    *
    * 100 TB shape: winners come from two map-side-partial aggregations
    * (per-(passage, doc) min index, then per-passage min doc) plus
    * equi-joins — never a row_number window partitioned by passage
    * content, which would funnel ALL occurrences of one hot
    * boilerplate passage through a single task. Passage text rides as
    * the grouping key exactly as x01 groups by full text (one hash
    * shuffle on the content key; AQE splits skewed joins).
    * Reconstruction state is bounded by a single document's own size.
    *
    * Returns (idCol, clean_text, n_kept, n_dropped); `clean_text` is
    * the surviving passages joined on single spaces (i.e. normalized
    * token text, like chunk_text in x28).
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    val p = stage(passages(df, idCol, textCol, window))
    firstOccurrenceClean(p, p, idCol)
  }

  /** Per-document duplication profile (the diagnostic face of passage
    * dedup, Lee et al.'s "what fraction of each doc is repeated
    * content"): for every doc, how many of its `window`-token passages
    * occur more than once in the corpus (anywhere — another doc or
    * another position of the same doc), and that count as a fraction.
    * The scoring input for boilerplate-heavy / template-stamped doc
    * triage: rank by dup_frac and inspect or drop the head.
    *
    * 100 TB shape: one map-side-combining aggregation on the passage
    * key for global multiplicities (the same key the bucketed passage
    * index shuffles on), one join of the passage frame back to it, one
    * per-doc re-aggregation. No pairwise comparison anywhere — cost is
    * linear in corpus passages whatever the duplication rate.
    *
    * Returns (idCol, n_passages, n_dup, dup_frac); dup_frac is an
    * exact small-integer ratio rounded to 10⁻⁶.
    */
  def duplicationProfile(df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    val p = stage(passages(df, idCol, textCol, window))
    val mult = p.groupBy(col("chunk_text")).agg(count(lit(1)).as("__m"))
    val dup = sum(when(col("__m") > 1, 1L).otherwise(0L))
    p.join(mult, "chunk_text")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_passages"), dup.as("n_dup"),
        round(dup.cast("double") / count(lit(1)), 6).as("dup_frac"))
  }

  /** Sliding-window repeated-SUBSTRING suppression — the unaligned
    * face of [[passageDedup]] (the ExactSubstr recipe of the published
    * train-data dedup literature): every `window`-token span at EVERY
    * start position is a candidate; the globally FIRST occurrence of
    * each distinct span (minimum (doc id, position)) stays, every
    * other occurrence marks its `window` positions covered, and each
    * document is rebuilt from its uncovered tokens. Aligned passages
    * miss a copied span that straddles their fixed boundaries (up to
    * window−1 tokens of every repeat survive per edge); the sliding
    * form catches a repeat at ANY offset — including within one
    * document (template stamps, chorus lines), where the first stamp
    * survives and later ones drop.
    *
    * 100 TB shape: the span frame is one row per token position
    * (window-wide slices of the scan-local token array — HOF
    * projection, no join), first-occurrence attribution is a map-side-
    * partial min(struct(doc, pos)) on the span key — the passage
    * discipline: never a row_number window partitioned by span
    * content, which would funnel a hot boilerplate span through one
    * task — and coverage is a bounded window× explode + distinct +
    * anti-join, all linear in corpus tokens. Span text rides as the
    * key here for oracle parity; a production deployment blocks on
    * xxhash64(span) to shuffle 8 bytes instead of strings (same plan
    * shape, collision-safe at 64 bits for any real corpus).
    *
    * Returns (idCol, n_tokens, n_dropped, clean_text); docs shorter
    * than `window` tokens pass through untouched (no span, nothing to
    * suppress), a doc whose every position is covered keeps an empty
    * clean_text, and the output row set is exactly the input doc set.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val toksArr = stage(df.select(col(idCol).as("__id"),
      graft.ops.TextAnalysis.tokens(col(textCol)).as("__t")))
    val wins = stage(spanFrame(toksArr, window))
    rebuildUncovered(toksArr, firstOccurrenceRepeats(wins), window, idCol)
  }

  /** [[substringDedup]] with the PRODUCTION shuffle key: the span frame
    * projects `xxhash64(span)` and drops the text before anything
    * shuffles, so the first-occurrence aggregation and the repeat join
    * move 8-byte keys instead of window-token strings — the deployment
    * form the x95 scaladoc documents. Identical output to
    * [[substringDedup]] absent a 64-bit collision (none exist at any
    * test SF — the differential spec pins x98 ≡ x95 byte-for-byte; at
    * 10¹² spans the birthday bound is ~0.03 colliding PAIRS, each
    * costing at most `window` wrongly-suppressed tokens — an accepted
    * dedup-side error, never a correctness one, the published
    * ExactSubstr deployments make the same trade).
    */
  def substringDedupHashed(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val toksArr = stage(df.select(col(idCol).as("__id"),
      graft.ops.TextAnalysis.tokens(col(textCol)).as("__t")))
    val wins = stage(spanFrame(toksArr, window)
      .select(col("__id"), col("__pos"), xxhash64(col("__gram")).as("__gram")))
    rebuildUncovered(toksArr, firstOccurrenceRepeats(wins), window, idCol)
  }

  /** Shared closure tail of both substring-dedup keyings: the global
    * first occurrence of each span key (map-side-partial
    * min(struct(doc, pos)) — never a content-partitioned window, the
    * hot-boilerplate funnel) survives; every other (id, pos) is a
    * repeat span start.
    */
  private def firstOccurrenceRepeats(wins: DataFrame): DataFrame = {
    val firsts = wins.groupBy(col("__gram"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__f"))
    wins.join(firsts, "__gram")
      .where(!(col("__id") === col("__f.__id") &&
        col("__pos") === col("__f.__pos")))
      .select(col("__id"), col("__pos"))
  }

  /** The sliding `window`-token span frame (__id, __pos, __gram) of a
    * staged (__id, __t token-array) frame — scan-local HOF projection,
    * one row per start position, shared by [[substringDedup]], the
    * span-index writer, and the incremental probe so the span
    * convention cannot drift between faces.
    */
  private def spanFrame(toksArr: DataFrame, window: Int): DataFrame =
    toksArr
      .where(size(col("__t")) >= window)
      .select(col("__id"), posexplode(transform(
        sequence(lit(0), size(col("__t")) - window),
        i => array_join(slice(col("__t"), i + 1, lit(window)), " "))))
      .toDF("__id", "__pos", "__gram")

  /** Rebuild each doc from the tokens NOT covered by any repeat span
    * start in `repeats` (__id, __pos): the window× coverage explode +
    * distinct + (id, position) anti-join + bounded per-doc
    * reconstruction shared by both substring-dedup faces. Returns the
    * (idCol, n_tokens, n_dropped, clean_text) contract over exactly
    * the docs in `toksArr`.
    */
  private def rebuildUncovered(toksArr: DataFrame, repeats: DataFrame,
      window: Int, idCol: String): DataFrame = {
    val covered = repeats
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + (window - 1)))
          .as("__pos"))
      .distinct()
    val keptToks = toksArr
      .select(col("__id"), posexplode(col("__t")).as(Seq("__pos", "__tok")))
      .join(covered, Seq("__id", "__pos"), "left_anti")
    val rebuilt = keptToks.groupBy(col("__id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok")), " ").as("__clean"))
    toksArr
      .select(col("__id"), size(col("__t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Persist the corpus's DISTINCT sliding spans as a bucketed index —
    * the [[writePassageIndex]] discipline for the substring face: the
    * index side of every later probe sits pre-bucketed on the span key
    * and never crosses an Exchange. `hashed = true` — the DEFAULT
    * (r20): a new caller gets the production layout — stores xxhash64
    * span keys (8-byte longs) instead of window-token strings: at
    * 100 TB the index, not the transient probe, is where the bytes
    * bill (~50-byte span text → 8 bytes per row, and every probe
    * exchange against it moves longs). Collision budget is x98's:
    * ~0.03 colliding PAIRS at 10¹² spans, dedup-side error only.
    * `hashed = false` is the TEST/ORACLE-PARITY keying (x95/x97 pass
    * it explicitly — a DuckDB oracle can replay string spans, not
    * xxhash64). One index, one keying — a probe against a mismatched
    * layout refuses loudly rather than silently joining across a cast.
    */
  def writeSpanIndex(df: DataFrame, idCol: String, textCol: String,
      window: Int, path: String, nBuckets: Int = 32,
      hashed: Boolean = true): Unit =
    writeBucketedIndex(spanGrams(df, idCol, textCol, window, hashed),
      s"$path/spans", Seq("gram"), nBuckets)

  /** A corpus's DISTINCT sliding spans as a (gram) frame — the
    * registration-side frame shared by [[writeSpanIndex]], the
    * streaming face's epoch-0 seed, and the capstone's day-1 build, so
    * the span convention cannot drift between index writers. `hashed`
    * (default true, r20) keys the frame on xxhash64(span) — longs, the
    * production layout; false is the test/oracle-parity string keying.
    */
  def spanGrams(df: DataFrame, idCol: String, textCol: String,
      window: Int, hashed: Boolean = true): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val toksArr = stage(df.select(col(idCol).as("__id"),
      graft.ops.TextAnalysis.tokens(col(textCol)).as("__t")))
    val g = if (hashed) xxhash64(col("__gram")) else col("__gram")
    spanFrame(toksArr, window).select(g.as("gram")).distinct()
  }

  /** Refuse a span-index probe whose committed layout disagrees with
    * the caller's keying: joining a long batch key against a string
    * index column would silently cast both sides instead of matching
    * spans. The check reads only the schema.
    */
  private def requireSpanKeying(indexes: Seq[DataFrame],
      hashed: Boolean): Unit =
    indexes.foreach { idx =>
      val dt = idx.schema("gram").dataType
      val want =
        if (hashed) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType
      require(dt == want,
        s"span index keying mismatch: probe expects ${want.simpleString} " +
          s"gram keys (hashed=$hashed) but the committed index stores " +
          s"${dt.simpleString} — one index, one keying")
    }

  /** [[substringDedup]] for a NEW batch against a persisted
    * [[writeSpanIndex]] corpus: a span already committed to the index
    * covers EVERY batch occurrence (the corpus owns its first
    * occurrence — one equi join on the bucketed span key, the corpus
    * text is never re-scanned); spans absent from the index fall back
    * to first-occurrence-wins WITHIN the batch. When every corpus id
    * precedes every batch id this equals
    * `substringDedup(corpus ∪ batch)` restricted to batch docs — the
    * differential identity the spec pins. O(batch) per probe: batch
    * spans shuffle into the index's bucket layout, nothing
    * corpus-sized moves. Multi-batch loops must COMMIT each batch's
    * fresh spans ([[appendToSpanIndex]], or the epoch-partitioned
    * streaming face) or cross-batch repeats go unseen.
    */
  def incrementalSubstringDedup(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, window: Int = 8,
      hashed: Boolean = true): DataFrame =
    incrementalSubstringDedupStaged(newDocs,
      Seq(readIndexTable(newDocs.sparkSession, s"$indexPath/spans")),
      idCol, textCol, window, hashed)._1

  /** [[incrementalSubstringDedup]] against SEVERAL per-epoch span-index
    * frames (each a (gram) table — the epoch-partitioned streaming
    * index), exposing the staged intermediate: returns
    * (cleaned docs, `freshSpans` = the batch's DISTINCT spans absent
    * from every index frame). Callers that must REGISTER the batch's
    * new spans (the streaming face, the capstone's day-2 append) read
    * `freshSpans` instead of re-deriving the span frame and re-probing
    * the index — the per-batch index scan happens exactly once.
    *
    * The index frames chain as anti-joins (the passage discipline —
    * [[incrementalPassageDedupStaged]]: a Union node would discard the
    * epochs' shared bucket layout and re-shuffle the accumulated index
    * every batch; chained, the batch side shuffles into the layout once
    * and each epoch scan joins Exchange-free). Per-batch network cost
    * stays O(batch · epochs), independent of index size.
    */
  def incrementalSubstringDedupStaged(newDocs: DataFrame,
      indexes: Seq[DataFrame], idCol: String, textCol: String,
      window: Int, hashed: Boolean = true): (DataFrame, DataFrame) = {
    require(window > 0, s"window must be positive, got $window")
    requireSpanKeying(indexes, hashed)
    val toksArr = stage(newDocs.select(col(idCol).as("__id"),
      graft.ops.TextAnalysis.tokens(col(textCol)).as("__t")))
    // hashed: project the 8-byte key BEFORE anything shuffles (x98's
    // rule), so the index anti-join chain, the first-occurrence agg,
    // and the repeat join all move longs instead of span strings
    val keyed = spanFrame(toksArr, window)
    val wins = stage(
      if (hashed) keyed.select(col("__id"), col("__pos"),
        xxhash64(col("__gram")).as("__gram"))
      else keyed)
    // fresh spans: absent from every committed index frame — first
    // occurrence within the batch survives. Staged: fresh feeds the
    // winner agg, the repeat join, the inIdx anti-join, and the
    // registration read-out.
    val fresh =
      if (indexes.isEmpty) wins
      else stage(indexes.foldLeft(wins)((acc, idx) =>
        acc.join(idx.select(col("gram").as("__gram")),
          Seq("__gram"), "left_anti")))
    // committed spans: every batch occurrence is a repeat (the corpus
    // owns its first occurrence). Batch-sized complement of `fresh` on
    // the unique (id, pos) span-start key — one anti-join instead of a
    // second chain of index probes.
    val inIdx = wins.select(col("__id"), col("__pos"))
      .join(fresh.select(col("__id"), col("__pos")),
        Seq("__id", "__pos"), "left_anti")
    (rebuildUncovered(toksArr,
        inIdx.unionByName(firstOccurrenceRepeats(fresh)), window, idCol),
      fresh.select(col("__gram").as("gram")).distinct())
  }

  /** Register a batch's NEW spans into a [[writeSpanIndex]] artifact
    * (append-only; the anti-join keeps the table distinct) — the
    * multi-batch loop face: [[incrementalSubstringDedup]] probes only
    * COMMITTED spans, so a caller looping batches against one index
    * without this append would miss every cross-batch repeat (each
    * batch would see only the day-1 corpus). Run after the batch is
    * cleaned, exactly like [[appendToPassageIndex]]; for streaming
    * (crash-replay) ingest use the epoch-partitioned
    * [[graft.streaming.Streams.substringDedupStream]] instead — an
    * in-place append is not replay-idempotent.
    */
  def appendToSpanIndex(newDocs: DataFrame, path: String, idCol: String,
      textCol: String, window: Int, hashed: Boolean = true): Unit = {
    require(window > 0, s"window must be positive, got $window")
    val spark = newDocs.sparkSession
    withAppendLock(spark, path) {
      val idx = readIndexTable(spark, s"$path/spans")
      requireSpanKeying(Seq(idx), hashed)
      appendBucketedIndex(
        spanGrams(newDocs, idCol, textCol, window, hashed)
          .join(idx, Seq("gram"), "left_anti"),
        s"$path/spans")
    }
  }

  /** The non-overlapping `window`-token passage frame of a corpus:
    * (idCol, chunk_idx, chunk_text). Public because index maintainers
    * (e.g. the streaming ingest in [[graft.streaming.Streams]]) must
    * chunk with EXACTLY the convention the dedup joins on — a second
    * tokenizer would silently miss suppressions.
    */
  def passages(df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame =
    Chunking.slidingChunks(df, idCol, textCol, size = window, stride = window)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"))

  /** Shared tail of [[passageDedup]] and [[incrementalPassageDedup]]:
    * elect first-occurrence winners among `candidates` (two partial
    * aggs + equi-joins) and reconstruct each doc from its surviving
    * passages; `n_dropped` counts against ALL of the doc's passages in
    * `all` (so index-suppressed passages count as dropped too).
    */
  private def firstOccurrenceClean(all: DataFrame, candidates: DataFrame,
      idCol: String): DataFrame = {
    val perDoc = candidates.groupBy(col("chunk_text"), col(idCol))
      .agg(min(col("chunk_idx")).as("__midx"))
    val wins = perDoc.groupBy(col("chunk_text"))
      .agg(min(col(idCol)).as("__wdoc"))
    val winner = perDoc.join(wins, Seq("chunk_text"))
      .where(col(idCol) === col("__wdoc"))
      .select(col("chunk_text"), col(idCol),
        col("__midx").as("chunk_idx"))
    val kept = candidates.join(winner, Seq("chunk_text", idCol, "chunk_idx"))
    val totals = all.groupBy(col(idCol)).agg(count(lit(1)).as("__nall"))
    kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
          col("chunk_idx").as("i"), col("chunk_text").as("t")))).as("__ps"),
        count(lit(1)).as("__nkept"))
      .join(totals, Seq(idCol))
      .select(col(idCol),
        array_join(transform(col("__ps"), x => x.getField("t")), " ")
          .as("clean_text"),
        col("__nkept").cast("int").as("n_kept"),
        (col("__nall") - col("__nkept")).cast("int").as("n_dropped"))
  }

  /** Persist the passage index of a corpus — its distinct passages —
    * for [[incrementalPassageDedup]] batches to suppress against (the
    * continuous-ingest shape: the corpus text is chunked once at index
    * time and never re-read per batch). Bucketed+sorted on the passage
    * key, so the per-batch anti-join shuffles only the batch side.
    */
  def writePassageIndex(df: DataFrame, idCol: String, textCol: String,
      window: Int, path: String, nBuckets: Int = 32): Unit =
    writeBucketedIndex(passages(df, idCol, textCol, window)
      .select(col("chunk_text")).distinct(),
      s"$path/passages", Seq("chunk_text"), nBuckets)

  /** Register a batch's NEW passages into the index (append-only; the
    * anti-join keeps the table distinct). Run after the batch has been
    * cleaned so subsequent batches dedup against it.
    */
  def appendToPassageIndex(newDocs: DataFrame, path: String, idCol: String,
      textCol: String, window: Int): Unit = {
    val spark = newDocs.sparkSession
    withAppendLock(spark, path) {
      appendBucketedIndex(passages(newDocs, idCol, textCol, window)
        .select(col("chunk_text")).distinct()
        .join(readIndexTable(spark, s"$path/passages"),
          Seq("chunk_text"), "left_anti"),
        s"$path/passages")
    }
  }

  /** [[passageDedup]] for a NEW batch against a persisted
    * [[writePassageIndex]] corpus: passages already in the index always
    * lose (one equi anti-join on the passage key — the corpus text is
    * never re-chunked, and the index's bucket layout keeps it off the
    * shuffle path), then first occurrence wins within the batch.
    * When every corpus id precedes every batch id, the result equals
    * `passageDedup(corpus ∪ batch)` restricted to batch docs (the
    * differential spec pins this identity). Returns the [[passageDedup]]
    * shape; `n_dropped` includes index-suppressed passages.
    */
  def incrementalPassageDedup(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, window: Int): DataFrame =
    incrementalPassageDedup(newDocs,
      readIndexTable(newDocs.sparkSession, s"$indexPath/passages"),
      idCol, textCol, window)

  /** [[incrementalPassageDedup]] against an index given as a DataFrame
    * of (chunk_text) — for callers that assemble the index view
    * themselves (the epoch-partitioned streaming index reads only the
    * partitions committed BEFORE the current epoch).
    */
  def incrementalPassageDedup(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, window: Int): DataFrame =
    incrementalPassageDedupStaged(newDocs, index, idCol, textCol, window)._1

  /** [[incrementalPassageDedup]] against several per-epoch index frames
    * (chained Exchange-free anti-joins — see the staged multi variant).
    */
  def incrementalPassageDedup(newDocs: DataFrame, indexes: Seq[DataFrame],
      idCol: String, textCol: String, window: Int): DataFrame =
    incrementalPassageDedupStaged(newDocs, indexes, idCol, textCol, window)._1

  /** [[incrementalPassageDedup]] exposing its staged intermediate:
    * returns (cleaned docs, `fresh` = the batch's passage rows NOT in
    * the index). Callers that must also REGISTER the batch's new
    * passages (the streaming ingest) read `fresh` instead of
    * re-chunking the batch and anti-joining the index a second time —
    * the per-batch index scan happens exactly once.
    */
  def incrementalPassageDedupStaged(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      window: Int): (DataFrame, DataFrame) =
    incrementalPassageDedupStaged(newDocs, Seq(index), idCol, textCol, window)

  /** [[incrementalPassageDedupStaged]] against SEVERAL index frames
    * (the epoch-partitioned streaming index) as CHAINED anti-joins
    * rather than one union: a Union node discards its children's
    * output partitioning, so a unioned index would re-shuffle every
    * accumulated epoch on every batch. Chained, the batch side
    * shuffles into the shared bucket layout once (all epoch partitions
    * are bucketed on the same key with the same count) and each epoch
    * scan joins Exchange-free; per-batch network cost stays O(batch),
    * independent of index size. The chain's length is the live epoch
    * count — [[graft.streaming.Streams.compactPassageIndex]] exists
    * precisely to keep that small.
    */
  def incrementalPassageDedupStaged(newDocs: DataFrame,
      indexes: Seq[DataFrame], idCol: String, textCol: String,
      window: Int): (DataFrame, DataFrame) = {
    val p = stage(passages(newDocs, idCol, textCol, window))
    // staged: fresh feeds three consumers (both winner aggs + the kept
    // join) — without it the index anti-joins would execute per consumer.
    // (No epochs yet — the stream's first batch — means fresh IS p,
    // already staged above.)
    val fresh =
      if (indexes.isEmpty) p
      else stage(indexes.foldLeft(p)((acc, idx) =>
        acc.join(idx.select(col("chunk_text")), Seq("chunk_text"), "left_anti")))
    (firstOccurrenceClean(p, fresh, idCol), fresh)
  }
}
