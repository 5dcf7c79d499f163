package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding-space label analytics — the health check run before
  * trusting labels (or cluster assignments) for stratified sampling,
  * dedup gating, or eval splits: how tight is each label's cluster
  * (mean squared radius) and how far does its centroid sit from the
  * corpus centroid (the between/within picture behind a Fisher score).
  *
  * Everything reduces to per-(label, component) moment sums
  * (n, Σv, Σv²) — ONE map-side-combining aggregation over the
  * posexploded vectors; radii and centroid gaps are closed-form in
  * those moments (`Σ(v−μ)² = Σv² − (Σv)²/n`), so no vector ever meets
  * another vector and no second corpus pass exists. Key space =
  * labels × dims.
  *
  * Determinism: components land on a 10⁻⁷ decimal grid (Decimal(10,7)
  * — products keep scale 14 exactly, sums stay inside precision 38);
  * the per-component double terms are rounded onto a 10⁻⁹ grid and
  * decimal-summed across components, so per-label totals are
  * partition-order-independent and oracle-reproducible.
  */
object EmbedStats {

  /** Per label: (label, n_vecs, mean_sq_radius, centroid_gap_sq) —
    * avg ‖x−μ_label‖² and ‖μ_label−μ_corpus‖², rounded to 10⁻⁶.
    */
  def labelSeparation(df: DataFrame, labelCol: String, vecCol: String,
      roundTo: Int = 6): DataFrame = {
    val f = df
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .select(col("label"), col("pos"),
        round(col("col").cast("double"), 7).cast(DecimalType(10, 7)).as("v"))
    val lp = f.groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val gp = lp.groupBy(col("pos"))
      .agg(sum(col("s1")).as("gs1"), sum(col("n")).as("gn"))
    val terms = lp.join(gp, "pos")
      .select(col("label"), col("n"),
        round(col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
          (col("s1").cast("double") / col("n")), 9)
          .cast(DecimalType(16, 9)).as("msr"),
        round((col("s1").cast("double") / col("n") -
            col("gs1").cast("double") / col("gn")) *
          (col("s1").cast("double") / col("n") -
            col("gs1").cast("double") / col("gn")), 9)
          .cast(DecimalType(16, 9)).as("gap"))
    terms.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        round(sum(col("msr")).cast("double"), roundTo).as("mean_sq_radius"),
        round(sum(col("gap")).cast("double"), roundTo).as("centroid_gap_sq"))
  }

  /** Corpus Gram + covariance matrix of the embedding components: for
    * every dimension pair i ≤ j, (i, j, n, gram, cov) with
    * gram = E[xᵢxⱼ] and cov = E[xᵢxⱼ] − E[xᵢ]E[xⱼ] — the input to
    * whitening, PCA preprocessing, and anisotropy diagnostics (a
    * near-rank-deficient covariance means cosine similarities are
    * dominated by a few directions).
    *
    * 100 TB shape: the d²/2 products per vector are built as ONE
    * closed-form nested-transform array (codegen'd, row-local — the
    * corpus is never self-joined and no (vec, dim)×(vec, dim) shuffle
    * exists); the explode feeds a map-side-combining aggregation whose
    * key space is d²/2, so shuffle volume is partitions × d²/2 partial
    * sums regardless of corpus size. Per-dim means come from one
    * posexplode aggregation (key space d) broadcast into the final
    * d²/2-row join.
    *
    * Determinism: products and components land on the 10⁻⁹ decimal
    * grid before summation (the house rule), so every sum is
    * partition-order-independent and the DuckDB oracle reproduces the
    * doubles bit-for-bit.
    */
  /** Exact scaled-integer recovery on the 1e-9 grid (the Q.dsum
    * construction, shared by [[gramCov]] and [[standardize]]): for
    * |c·1e9| < ~4.5e15 the product is correctly rounded and
    * floor(+0.5) lands on the grid value exactly; hi/lo split keeps
    * the sums in plain codegen'd longs with 2^20 headroom. The DuckDB
    * oracles mirror `CAST(floor(c*1e9 + 0.5) AS DECIMAL(38,0))` —
    * floor(+0.5) is the same IEEE op in both engines (round() is not:
    * half-away vs half-up on negatives, and Spark's round allocates a
    * BigDecimal per value).
    */
  private def snap(c: Column): Column =
    floor(c * lit(1e9) + lit(0.5)).cast("long")

  private def gridTotal(v: Column): Column = {
    // THREE-limb long split, not two: the r12 two-limb form's hi could
    // reach ~4.3e9 per row (|c·1e9| < 4.5e15), so a plain long sum of
    // hi overflowed silently past ~2e9 rows per group — inside 100 TB
    // row counts. Summing hi as DECIMAL fixes the overflow but costs
    // 3.5× on the d²/2 hot aggregation (measured: x61 0.26 s → 0.94 s
    // at sf0.1 — decimal partials allocate per value). Splitting into
    // 20-bit limbs instead keeps every per-row limb < 2^20 (top limb
    // |v>>40| ≤ ~4.1e3 at the snap bound), so all three sums stay
    // plain codegen'd longs, each safe to ~9e12 rows per GROUP — the
    // documented capacity, ~100× any advertised corpus — and only the
    // three FINAL per-group totals recombine in Decimal(38,0).
    val top = shiftright(v, 40)
    val mid = shiftright(v, 20) - top * lit(1L << 20)
    val lo = v - shiftright(v, 20) * lit(1L << 20)
    (sum(top).cast(DecimalType(38, 0)) * lit(1L << 40) +
      sum(mid).cast(DecimalType(38, 0)) * lit(1L << 20) +
      sum(lo).cast(DecimalType(38, 0))).cast("double") / lit(1e9)
  }

  /** Per-component z-scores over the corpus: (id, dim, z) with
    * z = (x − μ_dim)/σ_dim — the standardization ("whitening-lite")
    * pass run before distance-based ops when component scales differ
    * (σ from the same moment sums [[gramCov]] uses; a zero-variance
    * component yields NULL rather than ±Inf). One posexplode
    * aggregation for the d-row stats table, broadcast back into a
    * row-local projection — the corpus is scanned twice, shuffled
    * never (the stats shuffle carries d × partials).
    */
  def standardize(df: DataFrame, idCol: String, vecCol: String,
      roundTo: Int = 6): DataFrame = {
    val x = Staged(df.select(col(idCol),
      posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "xi"))))
    val st = x.groupBy(col("dim"))
      .agg(count(lit(1)).as("__n"),
        gridTotal(snap(col("xi"))).as("__s1"),
        gridTotal(snap(col("xi") * col("xi"))).as("__s2"))
    val mu = col("__s1") / col("__n")
    val varc = col("__s2") / col("__n") - mu * mu
    x.join(broadcast(st), "dim")
      .select(col(idCol), col("dim"),
        when(varc > 0, round((col("xi") - mu) / sqrt(varc), roundTo))
          .as("z"))
  }

  def gramCov(df: DataFrame, vecCol: String, roundTo: Int = 6): DataFrame = {
    // Implementation notes, learned the slow way: a nested
    // transform/filter HOF formulation is CodegenFallback (interpreted
    // lambda per product) and `round(x, 9)` allocates a BigDecimal per
    // value — together 5-9 s at sf0.1. This form is all GENERATORS and
    // codegen'd projections: explode the vector once, then explode the
    // codegen'd tail slice per component (j = i + k), multiply as
    // plain doubles, and snap onto the 1e-9 grid with the floor(+0.5)
    // long-split trick (exact, order-independent, two long sums per
    // group — no per-row BigDecimal anywhere). ~0.5 s at sf0.1.
    // plain array cast, not transform(_.cast): ArrayTransform is an
    // interpreted HOF (CodegenFallback) even for a bare cast lambda —
    // Cast(array<float> → array<double>) codegens
    val base = Staged(df.select(col(vecCol).cast("array<double>").as("v")))
    val pairs = base
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("v"), col("i") + 1, size(col("v")) - col("i")))
          .as(Seq("k", "xj")))
      .select(col("i"), (col("i") + col("k")).as("j"),
        (col("xi") * col("xj")).as("p"))
    val sp = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), gridTotal(snap(col("p"))).as("__spd"))
    // staged: da and db below both read this O(d) table — without the
    // stage the per-dim aggregation (and its corpus scan) runs TWICE,
    // a third full pass over the corpus at scale for identical numbers
    val dims = Staged(base.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(gridTotal(snap(col("x"))).as("__s")))
    val da = dims.select(col("d").as("i"), col("__s").as("__si"))
    val db = dims.select(col("d").as("j"), col("__s").as("__sj"))
    sp.join(broadcast(da), "i").join(broadcast(db), "j")
      .select(col("i"), col("j"), col("n"),
        round(col("__spd") / col("n"), roundTo).as("gram"),
        round(col("__spd") / col("n") -
          (col("__si") / col("n")) * (col("__sj") / col("n")), roundTo)
          .as("cov"))
  }

  /** The fitted PCA artifact: top-k eigenpairs of the corpus covariance
    * plus the centering means — bounded by DIMENSIONALITY (d doubles
    * per component), never by corpus size, so it broadcasts trivially.
    */
  final case class Pca(eigenvalues: Array[Double],
      components: Array[Array[Double]], means: Array[Double]) {
    /** ⟨μ, cⱼ⟩ — the per-component centering offset the projection
      * subtracts (folded driver-side; also what the oracle dump carries
      * so both engines subtract the identical constant).
      */
    def offsets: Array[Double] = components.map(c =>
      c.zip(means).foldLeft(0.0) { case (a, (ci, mi)) => a + ci * mi })
  }

  /** Top-k PCA of the embedding components — the whitening/dim-
    * reduction preprocessor for cheaper downstream ANN and anisotropy
    * repair. The distributed work is exactly ONE [[gramCov]] pass plus
    * one d-key means aggregation; the eigen-decomposition runs on the
    * DRIVER over the d×d matrix (cyclic Jacobi — the matrix is bounded
    * by dimensionality, ~microseconds at d=64, and still trivial at
    * d=4096), so this scales to 100 TB exactly as gramCov does.
    *
    * Deterministic: the covariance lands on the 1e-9 grid
    * (order-independent), Jacobi sweeps in fixed (p,q) order to a fixed
    * off-diagonal tolerance, eigenpairs sort by (eigenvalue desc, then
    * original index), and each component's sign is fixed by making its
    * largest-magnitude entry positive (first index on ties).
    */
  def pca(df: DataFrame, vecCol: String, k: Int): Pca = {
    require(k > 0, s"k must be positive, got $k")
    val covRows = gramCov(df, vecCol, roundTo = 9)
      .select(col("i"), col("j"), col("cov")).collect()
    require(covRows.nonEmpty, "pca needs a non-empty corpus")
    val d = covRows.map(_.getInt(1)).max + 1
    val a = Array.ofDim[Double](d, d)
    covRows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    val (eig, vecs) = jacobiEigen(a)
    val order = (0 until d).sortBy(i => (-eig(i), i)).take(math.min(k, d))
    val comps = order.map { idx =>
      val c = Array.tabulate(d)(i => vecs(i)(idx))
      // sign convention: largest-|entry| positive (first index on ties)
      val m = c.indices.maxBy(i => (math.abs(c(i)), -i))
      if (c(m) < 0) c.map(-_) else c
    }.toArray
    Pca(order.map(eig).toArray, comps, componentMeans(df, vecCol))
  }

  /** Project every vector onto the fitted components: (id, component,
    * value) with value = ⟨x − μ, cⱼ⟩ = ⟨x, cⱼ⟩ − ⟨μ, cⱼ⟩. The offset
    * folds driver-side, so per-row work is one codegen'd native dot
    * product per component against a LITERAL array — row-local, fuses
    * into the scan, zero shuffles at any corpus size.
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, p: Pca,
      roundTo: Int = 6): DataFrame = {
    val offs = p.offsets
    val cols = p.components.zipWithIndex.map { case (c, j) =>
      round(graft.functions.GraftFunctions.dotProduct(
        col(vecCol), typedLit(c.toSeq)) - lit(offs(j)), roundTo)
    }
    df.select(col(idCol),
      posexplode(array(cols.toSeq: _*)).as(Seq("component", "value")))
  }

  /** Whitened PCA projection: (id, component, value) with value =
    * (⟨x, cⱼ⟩ − ⟨μ, cⱼ⟩) / √λⱼ — the decorrelated unit-variance
    * coordinates downstream ANN / anisotropy repair actually consumes
    * (raw PCA coordinates keep the dominant component's variance, so
    * distances are still ruled by it; whitening equalizes them). A
    * degenerate eigenvalue yields NULL, never ±Inf — x63's
    * zero-variance convention. "Degenerate" is RELATIVE (rcond-style):
    * λⱼ ≤ max(10⁻¹², λmax · 10⁻⁶). A rank-deficient direction's λ comes
    * back from the pipeline as ±O(grid) noise, not exactly 0 — the
    * covariance lands on the 1e-9 decimal grid, so its eigenvalues
    * carry O(d·1e-9) perturbation — and dividing by √noise would
    * launder that noise into enormous coordinates. The 10⁻⁶ condition
    * cutoff also reflects the float32 inputs: variance ratios below it
    * are below the data's own precision. Same plan class as
    * [[pcaProject]]: the 1/√λ scale folds driver-side into per-row
    * codegen'd dot products against literal arrays — row-local, zero
    * shuffles at any corpus size.
    */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String, p: Pca,
      roundTo: Int = 6): DataFrame = {
    val offs = p.offsets
    val floor = math.max(1e-12,
      (if (p.eigenvalues.isEmpty) 0.0 else p.eigenvalues.max) * 1e-6)
    val cols = p.components.zipWithIndex.map { case (c, j) =>
      if (p.eigenvalues(j) > floor)
        round((graft.functions.GraftFunctions.dotProduct(
          col(vecCol), typedLit(c.toSeq)) - lit(offs(j))) /
          lit(math.sqrt(p.eigenvalues(j))), roundTo)
      else lit(null).cast("double")
    }
    df.select(col(idCol),
      posexplode(array(cols.toSeq: _*)).as(Seq("component", "value")))
  }

  /** The projection in VECTOR form — (id, proj: array<float>) — the
    * serving shape a downstream ANN index ingests ([[pcaProject]] and
    * [[pcaWhiten]] emit the exploded analytic shape). Stored as float:
    * the inputs were float32, so double coordinates carry no extra
    * information and the index pays 2× the bytes for them. With
    * `whiten`, degenerate axes (same rcond cutoff as [[pcaWhiten]])
    * are DROPPED from the vector rather than NULLed — a serving vector
    * must stay dense. Row-local, zero shuffles.
    */
  def pcaProjectVec(df: DataFrame, idCol: String, vecCol: String, p: Pca,
      whiten: Boolean = false): DataFrame = {
    val offs = p.offsets
    val floor = math.max(1e-12,
      (if (p.eigenvalues.isEmpty) 0.0 else p.eigenvalues.max) * 1e-6)
    val cols = p.components.zipWithIndex.flatMap { case (c, j) =>
      val base = graft.functions.GraftFunctions.dotProduct(
        col(vecCol), typedLit(c.toSeq)) - lit(offs(j))
      if (!whiten) Some(base)
      else if (p.eigenvalues(j) > floor)
        Some(base / lit(math.sqrt(p.eigenvalues(j))))
      else None
    }
    require(cols.nonEmpty, "every fitted component is degenerate")
    df.select(col(idCol),
      array(cols.toSeq: _*).cast("array<float>").as("proj"))
  }

  /** Per-component corpus means on the 1e-9 grid (the centering vector
    * for [[pca]]) — one d-key aggregation, collected driver-side.
    */
  private def componentMeans(df: DataFrame, vecCol: String): Array[Double] = {
    val rows = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"), gridTotal(snap(col("x"))).as("s"))
      .select(col("d"), (col("s") / col("n")).as("m")).collect()
    val m = new Array[Double](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => m(r.getInt(0)) = r.getDouble(1))
    m
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: returns
    * (eigenvalues, V) with columns of V the eigenvectors. Fixed sweep
    * order and tolerance ⇒ bit-deterministic for a given input.
    */
  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      math.sqrt(s)
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-12) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
