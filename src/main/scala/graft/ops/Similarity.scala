package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: one narrow projection
  * (the dot product fuses into the scan) + TakeOrderedAndProject — no
  * global sort, no shuffle of the corpus. The scale path is
  * random-hyperplane LSH bucketing: candidates come from one equi-join
  * on bucket signature, then exact re-rank — the 100 TB corpus is never
  * crossed with itself.
  */
object Similarity {

  /** Element-wise dot product of two array columns, accumulated in
    * double — a native expression ([[graft.functions.DotProduct]]): the
    * interpreted zip_with+aggregate pair boxes every element; the native
    * loop is the difference between O(pairs·dim) primitive FLOPs and
    * O(pairs·dim) allocations in the pairwise operators.
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact cosine top-k of `corpus` against one query vector (given as a
    * 1-row DataFrame, e.g. the corpus row with a chosen id). The query
    * side broadcasts; orderBy+limit plans as TakeOrderedAndProject
    * (per-partition heap + driver merge of k rows, never a full sort).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundTo: Int = 6): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("query_vec")))
    // zero-norm corpus vectors have no cosine (0/0 = NaN, and Spark
    // orders NaN above every number — the top-k would lead with NaN rows)
    corpus.where(l2Norm(col(vecCol)) > 0).crossJoin(q)
      .select(col(idCol),
        round(cosine(col(vecCol), col("query_vec")), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine top-k per query for a WORK LIST of queries — the
    * brute-force ground truth [[graft.ops.Ivf.topKBatch]] approximates,
    * and the baseline an ANN recall report compares against. The query
    * list broadcasts (request batches are driver-small by contract);
    * the corpus streams through ONE BroadcastNestedLoopJoin — never
    * shuffled, never self-joined — and per-query ranking is a keyed
    * window over the qid (WindowGroupLimit). Ranked on the rounded
    * cosine with id tiebreak (total order, oracle-replayable), the
    * batch form of [[bruteForceTopK]]'s convention, sharing its
    * zero-norm exclusion. The qid output column keeps the caller's
    * name, `query_id` when it collides with `idCol`.
    */
  def bruteForceTopKBatch(corpus: DataFrame, queries: DataFrame,
      qidCol: String, vecCol: String, idCol: String, k: Int,
      roundTo: Int = 6): DataFrame = {
    val qidOut = if (qidCol == idCol) "query_id" else qidCol
    val q = broadcast(queries.select(col(qidCol).as(qidOut),
      col(vecCol).as("query_vec")))
    corpus.where(l2Norm(col(vecCol)) > 0).crossJoin(q)
      .select(col(qidOut), col(idCol),
        round(cosine(col(vecCol), col("query_vec")), roundTo).as("cos_sim"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(qidOut))
          .orderBy(col("cos_sim").desc, col(idCol))))
      .where(col("__rk") <= k).drop("__rk")
  }

  /** Exact cosine near-dup pairs within a blocking key (quadratic per
    * block, embarrassingly parallel across blocks).
    */
  def cosinePairsBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      roundTo: Int = 6): DataFrame = {
    // norms computed once per row, not once per pair. The self-join is
    // repartitioned at explicit width: its cost is quadratic CPU per
    // block (dot products), which AQE's byte-based coalescing would
    // serialize onto 1-2 tasks (measured in r21); both sides share one
    // exchange (ReusedExchange).
    val v = Spread.forSelfJoin(
      df.select(col(idCol).as("id"), col(blockCol).as("block"),
          col(vecCol).as("v"), l2Norm(col(vecCol)).as("nrm"))
        .where(col("nrm") > 0), // zero vectors: cosine undefined (NaN)
      col("block"))
    v.as("x").join(v.as("y"),
      col("x.block") === col("y.block") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")), roundTo)
          .as("cos_sim"))
      .where(col("cos_sim") > threshold)
  }

  /** A row's probe keys: its own bucket plus the nBits Hamming-1
    * neighbor buckets. Symmetric: two buckets within Hamming distance 1
    * always share at least one (probe, home) match in either direction.
    */
  private def hamming1Probes(bucket: Column, nBits: Int): Column =
    concat(array(bucket),
      transform(sequence(lit(0), lit(nBits - 1)),
        b => bucket.bitwiseXOR(call_function("shiftleft", lit(1L), b))))

  /** Resolve the embedding dimension: explicit when >0, else read from
    * the first row (one tiny action at build time).
    */
  private def resolveDim(df: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim
    else df.select(size(col(vecCol))).head().getInt(0)

  /** Bucket-width policy for corpus-scale sign-LSH: size nBits so the
    * EXPECTED bucket occupancy n/2^nBits stays ~targetOccupancy as the
    * corpus grows. The Hamming≤1 candidate join produces
    * ~n·(nBits+1)·occupancy rows — under this policy that is linear in
    * n with a log factor, where any FIXED nBits makes it quadratic
    * (the [[Ivf.kForCells]] governance pattern applied to Hamming
    * bucketing; the hot-bucket cap still bounds residual skew).
    */
  def nBitsForCorpus(n: Long, targetOccupancy: Int = 4,
      nBitsMin: Int = 8, nBitsMax: Int = 32): Int = {
    require(targetOccupancy > 0 && nBitsMin > 0 && nBitsMax >= nBitsMin)
    val ideal = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0))
    math.max(nBitsMin.toDouble, math.min(nBitsMax.toDouble, ideal)).toInt
  }

  /** Deterministic random hyperplanes: nBits × dim doubles from a seeded
    * generator, shipped as one literal (broadcast with the plan).
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection bucket id: bit b = sign(v · plane_b), packed
    * into a long. Vectors in the same bucket agree on all nBits signs →
    * small angular distance with high probability.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    aggregate(sequence(lit(0), lit(planes.size - 1)), lit(0L),
      (acc, i) => when(dot(vec, element_at(typedLit(planes), i + 1)) > 0,
        acc.bitwiseOR(call_function("shiftleft", lit(1L), i)))
        .otherwise(acc))

  /** Approximate near-duplicate pairs across the WHOLE corpus (no
    * blocking key needed): sign-LSH bucket join with Hamming-1
    * multi-probe, then exact cosine verification. Shuffle volume is
    * O(corpus × (nBits+1)) bucket keys — the corpus never crosses
    * itself. Precision 1.0 (exact verify); recall grows with probes
    * and shrinks with nBits.
    */
  def lshNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 12,
      dim: Int = -1, // <=0: read from the first row
      seed: Long = 42L,
      maxBucket: Int = 10000,
      roundTo: Int = 6): DataFrame =
    // staged: the signature table feeds BOTH sides of the candidate
    // join — unstaged, the corpus scan + hot-bucket cut would run twice
    lshNearDupPairsFrom(
      Staged(lshNearDupBuckets(df, idCol, vecCol, nBits, dim, seed, maxBucket)),
      threshold, nBits, roundTo)

  /** [[lshNearDupPairs]] from an already-computed bucket table (the
    * output of [[lshNearDupBuckets]]): callers that materialize the
    * signatures (e.g. for external verification) score from the same
    * computation instead of bucketing the corpus twice.
    */
  def lshNearDupPairsFrom(
      kept: DataFrame,
      threshold: Double,
      nBits: Int = 12,
      roundTo: Int = 6): DataFrame = {
    // multi-probe: each row also probes its nBits Hamming-1 buckets;
    // symmetry guarantees each qualifying pair matches in exactly one
    // (probe-side, anchor-side) orientation after the id ordering, so
    // no distinct is needed
    val probed = kept.select(col("id"), col("v"), col("nrm"),
      explode(hamming1Probes(col("bucket"), nBits)).as("probe"))
    val anchors = kept.select(col("bucket").as("probe"),
      col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    probed.join(anchors, Seq("probe"))
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        round(dot(col("v"), col("v_b")) / (col("nrm") * col("nrm_b")), roundTo)
          .as("cos_sim"))
      .where(col("cos_sim") > threshold)
  }

  /** The post-cap signature table behind [[lshNearDupPairs]]:
    * (id, v, nrm, bucket) for every non-zero-norm row whose home bucket
    * survived the hot-bucket cap. Factored out so the bucket signatures
    * can be materialized for external verification — given this table,
    * the operator's candidate predicate is exactly
    * "Hamming(bucket_a, bucket_b) <= 1" (each qualifying pair matches
    * the probe join in exactly one orientation), and the cosine verify
    * is plain arithmetic — both replayable in SQL by the oracle.
    */
  def lshNearDupBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int = 12,
      dim: Int = -1,
      seed: Long = 42L,
      maxBucket: Int = 10000): DataFrame = {
    val planes = hyperplanes(nBits, resolveDim(df, vecCol, dim), seed)
    // zero vectors have no cosine (0/0 = NaN, and Spark orders NaN above
    // every number, so it would pass the threshold) — exclude them
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"),
      lshBucket(col(vecCol), planes).as("bucket"))
      .where(col("nrm") > 0)
    // hot-HOME-bucket cap via a tiny aggregated count (<= 2^nBits rows,
    // map-side partial agg + broadcast back) — NOT a window over the
    // exploded corpus, which would funnel each hot bucket through one
    // task. Rows of a hot bucket are excluded from both roles; such
    // buckets are degenerate regions the signature can't discriminate.
    val hot = base.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket).select(col("bucket"))
    base.join(broadcast(hot), Seq("bucket"), "left_anti")
  }

  /** Directed kNN graph over the WHOLE corpus: for every vector, its k
    * most-cosine-similar neighbors among the sign-LSH candidates (home
    * bucket + all Hamming-1 buckets), exact re-rank per source. The
    * corpus-curation primitive behind diversity sampling and
    * SemDeDup-style pruning when per-document neighborhoods (not just
    * near-dup pairs) are needed.
    *
    * Scale shape: candidates come from the same bucket equi-join as
    * [[lshNearDupPairs]] — shuffle volume O(corpus × (nBits+1)) bucket
    * keys, never corpus × corpus. Size nBits with [[nBitsForCorpus]]
    * (the registered query does): candidate volume is then
    * ~n·(nBits+1)·occupancy, linear in the corpus, where a fixed width
    * grows n²/2^nBits. The per-source top-k is a rank window over the
    * candidate set; per-source candidates are bounded by
    * (nBits+1) × maxBucket (the hot-bucket cap), so no window partition
    * is ever O(corpus), and the rank filter plans as WindowGroupLimit
    * (per-partition k-heap before the final sort).
    *
    * Ranking is on the ROUNDED cosine with a neighbor-id tie-break — a
    * total, replayable order (oracle-parity rule in [[graft.queries.GraftQuery]]).
    */
  def lshKnnGraph(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBits: Int = 8,
      dim: Int = -1, // <=0: read from the first row
      seed: Long = 42L,
      maxBucket: Int = 10000,
      roundTo: Int = 6): DataFrame =
    // staged for the same two-consumer reason as [[lshNearDupPairs]]
    lshKnnGraphFrom(
      Staged(lshNearDupBuckets(df, idCol, vecCol, nBits, dim, seed, maxBucket)),
      k, nBits, roundTo)

  /** [[lshKnnGraph]] from an already-computed signature table (the
    * output of [[lshNearDupBuckets]]) — same compute-once rationale as
    * [[lshNearDupPairsFrom]]. Each DIRECTED candidate (a → b, a ≠ b,
    * Hamming(bucket_a, bucket_b) ≤ 1) matches the probe join in exactly
    * one (probe, anchor) orientation — a's probe list holds each bucket
    * within Hamming 1 of a's home exactly once — so no distinct is
    * needed and the oracle can replay the candidate set as a plain
    * Hamming predicate over the dumped signatures.
    */
  def lshKnnGraphFrom(
      kept: DataFrame,
      k: Int,
      nBits: Int = 8,
      roundTo: Int = 6): DataFrame = {
    val probed = kept.select(col("id"), col("v"), col("nrm"),
      explode(hamming1Probes(col("bucket"), nBits)).as("probe"))
    val anchors = kept.select(col("bucket").as("probe"),
      col("id").as("nbr_id"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    val cand = probed.join(anchors, Seq("probe"))
      .where(col("id") =!= col("nbr_id"))
      .select(col("id").as("src_id"), col("nbr_id"),
        round(dot(col("v"), col("v_b")) / (col("nrm") * col("nrm_b")), roundTo)
          .as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    cand.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Approximate top-k: LSH-bucket the corpus, probe the query's bucket
    * plus all Hamming-1 neighbor buckets (multi-probe), exact re-rank
    * inside the candidate set. Recall/cost tradeoff via nBits.
    */
  def lshTopK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBits: Int = 8,
      dim: Int = -1, // <=0: read from the first row
      seed: Long = 42L,
      roundTo: Int = 6): DataFrame = {
    val (bucketed, probes) = lshTopKTables(corpus, query, idCol, vecCol, nBits, dim, seed)
    lshTopKFrom(bucketed, probes, idCol, vecCol, k, roundTo)
  }

  /** [[lshTopK]] from already-computed (bucketed, probes) tables —
    * same compute-once rationale as [[lshNearDupPairsFrom]].
    */
  def lshTopKFrom(
      bucketed: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundTo: Int = 6): DataFrame =
    bucketed.join(broadcast(probes), "bucket")
      .select(col(idCol),
        round(cosine(col(vecCol), col("query_vec")), roundTo).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** The (bucketed corpus, probe set) pair [[lshTopK]] joins: the
    * corpus with its signature and the query's multi-probe bucket list
    * (home + nBits Hamming-1 neighbors). Factored out so the
    * signatures can be materialized for external verification — the
    * candidate set is then one equi-join and the re-rank plain cosine
    * arithmetic, both replayable in SQL by the oracle.
    */
  def lshTopKTables(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      nBits: Int = 8,
      dim: Int = -1,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val planes = hyperplanes(nBits, resolveDim(corpus, vecCol, dim), seed)
    // zero-norm vectors excluded for the same NaN reason as bruteForceTopK
    val bucketed = corpus.where(l2Norm(col(vecCol)) > 0)
      .select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), planes).as("bucket"))
    // query bucket + its nBits hamming-1 neighbors
    val probes = query
      .select(col(vecCol).as("query_vec"), lshBucket(col(vecCol), planes).as("qb"))
      .select(col("query_vec"),
        explode(hamming1Probes(col("qb"), nBits)).as("bucket"))
    (bucketed, probes)
  }
}
