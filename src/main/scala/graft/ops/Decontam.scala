package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Benchmark decontamination: find (and remove) training documents that
  * share token n-grams with an evaluation/benchmark corpus — the
  * standard guard against test-set leakage in LLM training data.
  *
  * 100 TB shape: the benchmark side is small (eval suites are 1e5-1e7
  * n-grams), so its DISTINCT n-gram hash set broadcasts; the corpus
  * side streams through one explode + broadcast hash join with
  * map-side partial counts — the 100 TB corpus is never shuffled on
  * n-grams and never self-joined. n-grams travel as 64-bit hashes
  * ([[Dedup.shingleHashSet]]'s native expression), never as strings.
  */
object Decontam {

  /** The exploded (id, n-gram hash) frame of the training corpus — one
    * row per DISTINCT n-gram per doc. The single tokenization/hashing
    * convention every decontamination entry point shares.
    */
  private def docHashes(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    docs.select(col(idCol),
      explode(Dedup.shingleHashSet(col(textCol), n)).as("h"))
  }

  /** The benchmark's distinct n-gram hash set (the broadcast side). */
  private def benchHashes(bench: DataFrame, textCol: String,
      n: Int): DataFrame = {
    bench.select(explode(Dedup.shingleHashSet(col(textCol), n)).as("h"))
      .distinct()
  }

  /** Per-document overlap report: (id, n_overlap) for every training
    * doc sharing at least one distinct token n-gram with `bench`.
    */
  def overlaps(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame =
    docHashes(docs, idCol, textCol, n)
      .join(broadcast(benchHashes(bench, textCol, n)), "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))

  /** Graded contamination: for every training doc, the fraction of its
    * DISTINCT token n-grams that appear in the benchmark set (0 =
    * clean, 1 = fully contained in the benchmark). [[overlaps]]'
    * binary any-overlap gate generalized to a tunable threshold — the
    * usual knob when n-gram collisions on common phrases make "remove
    * on any overlap" too aggressive.
    *
    * Same 100 TB shape as [[overlaps]], but ONE corpus scan total: the
    * benchmark hash set broadcasts into a LEFT join over the exploded
    * doc n-grams, and numerator + denominator come from the same
    * map-side-combining aggregation on doc id — shuffle volume is
    * O(#docs) count rows, never the n-grams. Docs with fewer than n
    * tokens have no n-grams, hence no denominator and no output row
    * (same convention both here and in the oracle replay).
    */
  def contaminationScore(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, roundTo: Int = 6): DataFrame =
    docHashes(docs, idCol, textCol, n)
      .join(broadcast(benchHashes(bench, textCol, n).withColumn("__b", lit(1))),
        Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct"), count(col("__b")).as("n_overlap"))
      .select(col(idCol), col("n_distinct"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_distinct"), roundTo)
          .as("contamination"))

  /** [[overlaps]] with a Bloom-filter prefilter — the shape for when the
    * benchmark union is too large to broadcast as a JOIN HASH TABLE
    * (1e8+ n-grams × 8 B ≈ GBs of hash relation) but fits as a bloom
    * (~2 B/item at 16 bits): the corpus n-grams stream through a
    * codegen'd `might_contain` literal first, and only the survivors —
    * true overlaps plus the fpp·corpus false positives — reach the
    * exact-verify join. With the prefilter the verify join's corpus
    * side is O(overlap), so it can run as a plain shuffle join against
    * an un-broadcastable benchmark; without it that join would shuffle
    * every corpus n-gram. Bloom has no false negatives, so the result
    * is bit-identical to [[overlaps]] for ANY filter size — the spec
    * pins that with a deliberately undersized 64-bit bloom.
    *
    * Sizing is one bench-side count pass (the small side by contract);
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * cap the aggregate — raise them past 4e6 items for real eval
    * suites.
    */
  def overlapsBloom(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, bitsPerItem: Int = 16): DataFrame = {
    // staged: the benchmark is hashed ONCE across the count, the bloom
    // aggregate, and the exact-verify join — re-tokenizing it three
    // times contradicted the "too large to broadcast" motivation
    val bh = Staged(benchHashes(bench, textCol, n))
    val est = bh.count()
    if (est == 0L)
      // empty benchmark → nothing can overlap; keep the output schema
      return docHashes(docs, idCol, textCol, n).limit(0)
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    val bloom = buildBloom(bh, est, math.max(64L, est * bitsPerItem))
    docHashes(docs, idCol, textCol, n)
      .where(GraftFunctions.bloomMightContain(lit(bloom), col("h")))
      .join(bh, "h") // exact verify: kills the bloom's false positives
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** The clean corpus: training docs with NO n-gram overlap with
    * `bench` (broadcast anti-join through [[overlaps]]'s hash set).
    */
  def removeContaminated(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame =
    // the contaminated-id set is benchmark-sized — broadcast it so the
    // corpus side never shuffles on doc id either
    docs.join(broadcast(overlaps(docs, bench, idCol, textCol, n).select(col(idCol))),
      Seq(idCol), "left_anti")

  // ---- persisted benchmark index: the operational shape. Eval suites
  // change rarely; corpora arrive daily/streaming. Build the distinct
  // n-gram hash set AND its sized bloom once, then every batch probe
  // is one prefilter + one verify join with ZERO benchmark re-hashing.

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[GraftFunctions.bloomAgg]] with the silent-clamp trap closed:
    * Spark's BloomFilterAggregate clamps its item/bit arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * (defaults 4e6 / 6.7e7) WITHOUT error — at the 1e8+-n-gram scale
    * this module advertises, the filter would be built far smaller than
    * sized and the prefilter's fpp would degrade silently (correctness
    * survives via the verify join; the scale contract doesn't). The
    * builder owns the sizing decision AND the session, so it RAISES the
    * session caps for the duration of the build (restored after) rather
    * than failing — a large eval suite builds its correctly-sized
    * filter without the caller touching optimizer confs. The one hard
    * limit that stays loud: the filter bytes must fit a JVM array to
    * ride a literal/broadcast (shard the benchmark index or lower
    * bitsPerItem past that).
    */
  private def buildBloom(bh: DataFrame, est: Long, bits: Long): Array[Byte] = {
    require(bits / 8 < Int.MaxValue.toLong,
      s"bloom sized for $bits bits (${bits / 8} bytes) cannot fit a JVM " +
        "byte array — shard the benchmark index or lower bitsPerItem")
    val spark = bh.sparkSession
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // SERIALIZED on the session: the raise/agg/restore sequence mutates
    // session-shared confs, so two concurrent builds in one session
    // could interleave — one build's restore landing before the other's
    // agg is analyzed would silently re-introduce the clamp this method
    // exists to lift. The lock makes raise→analyze→restore atomic per
    // build. Residual (documented, not guarded): UNRELATED queries
    // analyzed in the same session during a build's window see the
    // raised caps — harmless for correctness (the caps only bound
    // runtime-bloom sizing), at worst a transiently larger injected
    // runtime filter.
    spark.synchronized {
      val oldItems = spark.conf.get(itemsKey, "4000000")
      val oldBits = spark.conf.get(bitsKey, "67108864")
      try {
        spark.conf.set(itemsKey, math.max(est, oldItems.toLong).toString)
        spark.conf.set(bitsKey, math.max(bits, oldBits.toLong).toString)
        bh.agg(GraftFunctions.bloomAgg(col("h"), est, bits).as("bf"))
          .head().getAs[Array[Byte]]("bf")
      } finally {
        spark.conf.set(itemsKey, oldItems)
        spark.conf.set(bitsKey, oldBits)
      }
    }
  }

  /** Persist the benchmark's decontamination index at `path`:
    * `hashes/` (distinct n-gram hash parquet) + `bloom.bin` (the sized
    * filter bytes) + an `_OK` marker. The marker is DELETED FIRST and
    * re-created LAST: a REBUILD over an existing index would otherwise
    * leave the old `_OK` visible while hashes/bloom are half-
    * overwritten, and the per-micro-batch probes ([[overlapsIndexed]]
    * via the streaming faces) would read a committed-looking index that
    * is actually inconsistent — silent under-decontamination. With the
    * delete-first discipline a crashed build (first OR rebuild) is
    * simply "not ready": probes fail fast and the build re-runs. All FS
    * ops go through the path's Hadoop FileSystem (HDFS/S3-correct, not
    * java.io).
    */
  def writeBenchIndex(bench: DataFrame, textCol: String, path: String,
      n: Int = 5, bitsPerItem: Int = 16): Unit = {
    val spark = bench.sparkSession
    val fs = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_OK"), false): Unit
    val bh = Staged(benchHashes(bench, textCol, n))
    val est = bh.count()
    bh.repartition(1).write.mode("overwrite").parquet(s"$path/hashes")
    val bloom =
      if (est == 0L) Array.empty[Byte]
      else buildBloom(bh, est, math.max(64L, est * bitsPerItem))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/bloom.bin"), true)
    try out.write(bloom) finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_OK"), true).close()
  }

  def benchIndexReady(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/_OK"))

  private def readBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Byte] = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/bloom.bin")
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** [[overlapsBloom]] against a persisted index: the benchmark is
    * never re-hashed — the bloom literal comes off `bloom.bin` and the
    * verify join reads `hashes/`. `n` must match the build's.
    */
  def overlapsIndexed(docs: DataFrame, indexPath: String, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    require(benchIndexReady(spark, indexPath),
      s"no committed bench index at $indexPath (build with writeBenchIndex)")
    val bloom = readBloom(spark, indexPath)
    val bh = spark.read.parquet(s"$indexPath/hashes")
    if (bloom.isEmpty) // empty benchmark: nothing can overlap
      return docHashes(docs, idCol, textCol, n).limit(0)
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    docHashes(docs, idCol, textCol, n)
      .where(GraftFunctions.bloomMightContain(lit(bloom), col("h")))
      .join(bh, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** The clean slice of `docs` against a persisted index — the
    * per-batch probe of the incremental/streaming decontamination
    * faces. Pure function of (docs, committed index): safe to replay.
    */
  def removeContaminatedIndexed(docs: DataFrame, indexPath: String,
      idCol: String, textCol: String, n: Int = 5): DataFrame =
    docs.join(
      broadcast(overlapsIndexed(docs, indexPath, idCol, textCol, n)
        .select(col(idCol))),
      Seq(idCol), "left_anti")

  /** Cross-source contamination matrix: for every pair of sources, how
    * many DISTINCT `window`-token passages occur in both — the
    * heat-map that finds mirror sites, syndication rings, and scrapers
    * re-hosting each other before domain-level mixing treats them as
    * independent evidence.
    *
    * 100 TB shape: the passage key is aggregated ONCE into its distinct
    * source set (bounded by |sources|, not by how many docs share the
    * passage — the hot-passage killer), pairs explode from that sorted
    * set (≤ |sources|²/2 per passage, in practice a handful), and the
    * final aggregation's key space is ≤ |sources|². No self-join of
    * anything corpus-sized; one shuffle on the passage key, one tiny
    * one on the pair key.
    */
  def crossSourceOverlap(docs: DataFrame, sourceCol: String,
      textCol: String, window: Int = 5): DataFrame = {
    val p = Dedup.passages(docs, sourceCol, textCol, window)
      .select(col(sourceCol).as("__s"), col("chunk_text"))
      .distinct()
    val sets = p.groupBy(col("chunk_text"))
      .agg(array_sort(collect_set(col("__s"))).as("__ss"))
      .where(size(col("__ss")) > 1)
    sets.select(explode(flatten(transform(col("__ss"), (x, i) =>
        transform(slice(col("__ss"), i + 2, size(col("__ss"))),
          y => struct(x.as("src_a"), y.as("src_b")))))).as("__p"))
      .groupBy(col("__p.src_a").as("src_a"), col("__p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
