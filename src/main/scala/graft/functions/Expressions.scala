package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot loops of the dedup/similarity
  * operators.
  *
  * Why these exist: Spark's higher-order functions (`transform`,
  * `aggregate`, `array_intersect`) are interpreted per element — a
  * 128-permutation MinHash over a shingle array costs tens of millions
  * of boxed lambda invocations per partition. Each expression below
  * replaces that with one call per row into a primitive static loop
  * ([[GraftNative]]), and implements `doGenCode` as a static call so
  * whole-stage codegen spans stay unbroken across the surrounding
  * filters/projections (a `CodegenFallback` here would split the span
  * and re-introduce per-row interpreted dispatch).
  *
  * Hashing uses the splitmix64 finalizer (public-domain constants) —
  * deterministic and engine-internal only. Operator *outputs* never
  * depend on the hash choice: LSH candidates are verified with exact
  * Jaccard before being reported.
  */
object Mix {
  /** splitmix64 finalizer: bijective 64-bit mix. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Static primitive kernels shared by interpreted eval and generated
  * code (Scala object → static forwarders callable from Janino).
  */
object GraftNative {

  def minhashSig(input: ArrayData, numHashes: Int): ArrayData = {
    val n = input.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = input.getLong(i)
      var j = 0
      while (j < numHashes) {
        val p = Mix.mix64(h + j.toLong * 0x9E3779B97F4A7C15L)
        if (p < sig(j)) sig(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def ngramHashes(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    if (total < n) return new GenericArrayData(Array.empty[Long])
    // FNV-1a 64-bit per token
    val wordHashes = new Array[Long](total)
    var i = 0
    while (i < total) {
      val s = tokens.getUTF8String(i)
      var h = 0xCBF29CE484222325L
      var b = 0
      val nb = s.numBytes()
      while (b < nb) {
        h = (h ^ (s.getByte(b) & 0xFFL)) * 0x100000001B3L
        b += 1
      }
      wordHashes(i) = h
      i += 1
    }
    val m = total - n + 1
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) { h = Mix.mix64(h + wordHashes(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  def jaccardSorted(x: ArrayData, y: ArrayData): Double = {
    val nx = x.numElements(); val ny = y.numElements()
    if (nx == 0 && ny == 0) return 0.0
    var i = 0; var j = 0; var inter = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (nx.toLong + ny.toLong - inter)
  }

  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** PQ encode: for each of `m` subspaces of `dsub = |vec|/m` dims,
    * the code of the nearest codebook centroid by squared Euclidean
    * distance (strict `<` keeps the LOWER code on exact ties — the
    * deterministic rule both the spec and the oracle replay).
    * `books` is the flattened codebook: entry (sub, code, j) at
    * `(sub·ksub + code)·dsub + j`.
    */
  def pqEncode(vec: ArrayData, books: ArrayData, m: Int, ksub: Int,
      vf: Boolean): ArrayData = {
    val d = vec.numElements()
    val dsub = d / m
    val out = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Double.MaxValue
      var code = 0
      while (code < ksub) {
        val base = (sub * ksub + code) * dsub
        var s = 0.0
        var j = 0
        while (j < dsub) {
          val x = if (vf) vec.getFloat(sub * dsub + j).toDouble
                  else vec.getDouble(sub * dsub + j)
          val dd = x - books.getDouble(base + j)
          s += dd * dd
          j += 1
        }
        if (s < bestD) { bestD = s; best = code }
        code += 1
      }
      out(sub) = best.toByte
      sub += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Σ over subspaces of `lut[sub·ksub + codes[sub]]` — the ADC inner
    * loop (one table lookup per subspace, fixed sub=0..m−1 order so the
    * float sum is deterministic). Codes are unsigned byte codebook ids.
    */
  def pqLookupSum(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += lut.getDouble(sub * ksub +
        java.lang.Byte.toUnsignedInt(codes.getByte(sub)))
      sub += 1
    }
    s
  }

  /** [[pqLookupSum]] with a per-row base offset into a CONCATENATED
    * lookup table — the residual-PQ case, where the cross-term table
    * is per IVF cell and the row's `cluster` selects its slab
    * (offset = cluster·m·ksub).
    */
  def pqLookupSumAt(codes: ArrayData, lut: ArrayData, offset: Int,
      ksub: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += lut.getDouble(offset + sub * ksub +
        java.lang.Byte.toUnsignedInt(codes.getByte(sub)))
      sub += 1
    }
    s
  }

  /** vec − centroids[cluster] (flattened centroid table, row-local) —
    * the residual a real IVF-PQ encodes: residuals are centered and
    * far smaller than raw vectors, so the same m bytes reconstruct
    * much closer.
    */
  def centroidResidual(vec: ArrayData, cluster: Int, cents: ArrayData,
      vf: Boolean): ArrayData = {
    val d = vec.numElements()
    val out = new Array[Double](d)
    val base = cluster * d
    var i = 0
    while (i < d) {
      val x = if (vf) vec.getFloat(i).toDouble else vec.getDouble(i)
      out(i) = x - cents.getDouble(base + i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def dotProduct(x: ArrayData, y: ArrayData, lf: Boolean, rf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }
}

/** MinHash signature from a (distinct) array<long> of element hashes:
  * sig[j] = min over elements of mix64(h + j·φ). Empty input → sentinel
  * Long.MaxValue signature (matches "no shingles").
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    GraftNative.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GraftNative.minhashSig($c, $numHashes);")

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Sorted distinct 64-bit hashes of the word n-grams of a token array —
  * the per-doc set representation for MinHash/Jaccard dedup, computed
  * without materializing shingle strings: FNV-1a over each token's
  * bytes, then a mix-fold across the n-gram window. Distinct n-grams map
  * to distinct hashes w.h.p., so set cardinalities (and hence Jaccard
  * values) equal the string-shingle formulation.
  */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(tokensAny: Any, nAny: Any): Any =
    GraftNative.ngramHashes(tokensAny.asInstanceOf[ArrayData],
      nAny.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftNative.ngramHashes($a, (int) $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NgramHashes =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED DISTINCT array<long> sets via a
  * single merge pass — no per-pair hash set allocation.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftNative.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftNative.jaccardSorted($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** 64-bit SimHash from an array<long> of token hashes: bit b is set when
  * more than half the hashes have bit b set.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    GraftNative.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GraftNative.simhash64($c);")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Dot product of two array<float|double> vectors accumulated in double —
  * replaces the interpreted zip_with+aggregate pair for the similarity
  * operators' inner loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftNative.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftNative.dotProduct($a, $b, ${isFloat(left)}, ${isFloat(right)});")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Product-quantization encode: vec → array<byte> of per-subspace
  * nearest-centroid codes. The codebook rides as a foldable literal
  * (flattened array<double>), so the expression stays row-local and
  * codegen'd — the encode pass is one narrow projection, no shuffle.
  */
case class PqEncode(vec: Expression, books: Expression, m: Int, ksub: Int)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = books
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val booksOk = books.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (vecOk && booksOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<float|double> vec, array<double> books)")
  }

  private def isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftNative.pqEncode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      m, ksub, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftNative.pqEncode($a, $b, $m, $ksub, $isFloat);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(vec = l, books = r)
}

/** ADC lookup-sum: Σ_sub lut[sub·ksub + codes[sub]] — with a
  * per-query lookup table literal, turns a probed cell scan into one
  * m-lookup sum per row (no per-row vector arithmetic at all).
  */
case class PqLookupSum(codes: Expression, lut: Expression, ksub: Int)
    extends BinaryExpression {
  override def left: Expression = codes
  override def right: Expression = lut
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_lookup_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val codesOk = codes.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    val lutOk = lut.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (codesOk && lutOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<byte> codes, array<double> lut)")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    GraftNative.pqLookupSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftNative.pqLookupSum($a, $b, $ksub);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqLookupSum =
    copy(codes = l, lut = r)
}

/** [[PqLookupSum]] with a per-row base offset into a concatenated LUT
  * (residual PQ: the cross-term table is per IVF cell; the row's
  * cluster selects its slab).
  */
case class PqLookupSumAt(codes: Expression, lut: Expression,
    offset: Expression, ksub: Int) extends TernaryExpression {
  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = offset
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_lookup_sum_at"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (codes.dataType, lut.dataType, offset.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _), IntegerType) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<byte>, array<double>, int)")
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GraftNative.pqLookupSumAt(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[Int], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.GraftNative.pqLookupSumAt($a, $b, $c, $ksub);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): PqLookupSumAt = copy(codes = f, lut = s, offset = t)
}

/** Row-local residual against a flattened centroid table: the vector
  * a real IVF-PQ encodes (vec − centroid[cluster]).
  */
case class CentroidResidual(vec: Expression, cluster: Expression,
    cents: Expression) extends TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = cluster
  override def third: Expression = cents
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_residual"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (vec.dataType, cluster.dataType, cents.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), IntegerType,
            ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<float|double> vec, int cluster, array<double> cents)")
  }

  private def isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    GraftNative.centroidResidual(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Int], c.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"${ev.value} = graft.functions.GraftNative.centroidResidual($a, $b, $c, $isFloat);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): CentroidResidual = copy(vec = f, cluster = s, cents = t)
}

/** The native expressions' two front doors, both built from the one
  * `builders` list:
  *   - the Column helpers below construct each Catalyst expression
  *     directly, so a DataFrame pipeline never looks up a function name
  *     and needs nothing registered in its session;
  *   - [[graft.GraftExtensions]] injects every `builders` entry under its
  *     SQL name, which is how `spark.sql`/`expr` text reaches them in a
  *     session built by [[graft.GraftSession]] (or configured with
  *     `spark.sql.extensions=graft.GraftExtensions`).
  */
object GraftFunctions {
  private def intArg(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue()

  /** SQL name → expression builder for every native function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "minhash_sig" -> (es => MinHashSig(es.head, intArg(es(1)))),
    "jaccard_sorted" -> (es => JaccardSorted(es.head, es(1))),
    "ngram_hashes" -> (es => NgramHashes(es.head, es(1))),
    "simhash64" -> (es => SimHash64(es.head)),
    "dot_product" -> (es => DotProduct(es.head, es(1))),
    "pq_encode" -> (es => PqEncode(es.head, es(1), intArg(es(2)), intArg(es(3)))),
    "pq_lookup_sum" -> (es => PqLookupSum(es.head, es(1), intArg(es(2)))),
    "pq_lookup_sum_at" -> (es => PqLookupSumAt(es.head, es(1), es(2), intArg(es(3)))),
    "centroid_residual" -> (es => CentroidResidual(es.head, es(1), es(2))),
    // Spark's internal runtime-filter bloom expressions, surfaced for the
    // decontamination prefilter: both are codegen'd, and MightContain
    // deserializes its literal filter once per task, not per row.
    "bloom_agg" -> (es => new BloomFilterAggregate(es.head, es(1), es(2))),
    "bloom_might_contain" -> (es => BloomFilterMightContain(es.head, es(1))))

  private def expr(c: Column): Expression = PlanBridge.expression(c)
  private def column(e: Expression): Column = PlanBridge.column(e)

  def minhashSig(hashes: Column, numHashes: Int): Column =
    column(MinHashSig(expr(hashes), numHashes))
  def jaccardSorted(a: Column, b: Column): Column =
    column(JaccardSorted(expr(a), expr(b)))
  def ngramHashes(tokens: Column, n: Int): Column =
    column(NgramHashes(expr(tokens), Literal(n)))
  def simhash64(hashes: Column): Column = column(SimHash64(expr(hashes)))
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expr(a), expr(b)))
  def pqEncode(vec: Column, books: Column, m: Int, ksub: Int): Column =
    column(PqEncode(expr(vec), expr(books), m, ksub))
  def pqLookupSum(codes: Column, lut: Column, ksub: Int): Column =
    column(PqLookupSum(expr(codes), expr(lut), ksub))
  def pqLookupSumAt(codes: Column, lut: Column, offset: Column, ksub: Int): Column =
    column(PqLookupSumAt(expr(codes), expr(lut), expr(offset), ksub))
  def centroidResidual(vec: Column, cluster: Column, cents: Column): Column =
    column(CentroidResidual(expr(vec), expr(cluster), expr(cents)))
  def bloomAgg(h: Column, estimatedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expr(h), Literal(estimatedItems), Literal(numBits))
      .toAggregateExpression())
  def bloomMightContain(bloom: Column, h: Column): Column =
    column(BloomFilterMightContain(expr(bloom), expr(h)))
}
