package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-dimensional clustering for
  * stats-based skipping, the standard lakehouse answer to "queries box-
  * filter on BOTH x and y, but a sort can only cluster one of them".
  * Interleaving the bits of the two dimensions gives a 1-D sort key
  * under which every file/row-group covers a small RECTANGLE of the
  * (x, y) space, so a conjunctive box predicate prunes on min/max stats
  * in both dimensions at once; a linear sort leaves the second
  * dimension's min/max spanning the full domain in every row group.
  *
  * 100 TB shape: the layout write is one aggregation of a bounded
  * z-histogram (at most 2^16 groups; exact equi-depth file boundaries
  * → balanced files) + one shuffle to those files + a within-partition
  * sort — the shuffle a plain global sort costs, paid once at write
  * time to make every subsequent box scan prune. The z-value itself is
  * a closed-form bit-interleave projection: fixed fan-in, codegen'd,
  * no shuffle, no UDF.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of two non-negative
    * int columns — a(i) lands at output bit 2i, b(i) at 2i+1. A fold of
    * shift/mask/or terms: whole-stage-codegen-friendly, and the exact
    * same arithmetic is expressible in ANSI SQL (see [[zValueSql]]).
    *
    * Inputs are RUNTIME-GUARDED to [0, 2^bits): a negative value or one
    * with high bits set would otherwise silently alias onto the wrong
    * curve position (high bits dropped, two's-complement low bits
    * interleaved) — the layout would still write, but the clustering it
    * promises would be quietly destroyed for those rows. Out-of-range
    * input raises instead (a branch + comparison per row, still inside
    * whole-stage codegen); bucketize upstream to widen the domain. The
    * guard never fires for in-contract data, so [[zValueSql]] replays
    * only the value arithmetic.
    */
  def zValue(a: Column, b: Column, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val lim = 1L << bits
    def guarded(c: Column): Column = {
      val v = c.cast("long")
      when(v >= 0 && v < lim, v).otherwise(raise_error(concat(
        lit(s"zValue: input out of [0, $lim) for bits=$bits "),
        lit("(bucketize upstream): got "), c.cast("string"))))
    }
    val (ga, gb) = (guarded(a), guarded(b))
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(ga, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(gb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** The identical z-value arithmetic as ANSI SQL text over column
    * expressions `a` and `b` — kept in lockstep with [[zValue]] so the
    * DuckDB oracle replays bit-for-bit.
    */
  def zValueSql(a: String, b: String, bits: Int = 8): String =
    (0 until bits).flatMap { i =>
      Seq(s"(($a >> $i) & 1) * ${1L << (2 * i)}",
        s"(($b >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")

  /** Resolution of the z-histogram [[zorderWrite]] cuts files from:
    * the top 16 bits of the curve, so the histogram has at most 65,536
    * groups however wide `bits` is.
    */
  private val HistBits = 16

  /** Write `df` z-order-clustered on (`colA`, `colB`) (low `bits` bits
    * of each, which must be non-negative — bucketize upstream) into
    * `numFiles` parquet files at `path`, each a contiguous z-range.
    * File boundaries are the exact equi-depth cuts of the z-histogram,
    * so files are balanced even when the key distribution is skewed (to
    * within one histogram bucket), and the layout is a function of the
    * rows alone. (Spark's `repartitionByRange` is not: its reservoir
    * sample is seeded by the RDD id, so the same rows land in different
    * files depending on how many RDDs the session made before.)
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, path: String,
      numFiles: Int, bits: Int = 8): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val spark = df.sparkSession
    import spark.implicits._
    val z = df.withColumn("__z", zValue(col(colA), col(colB), bits))
    val shift = math.max(0, 2 * bits - HistBits)
    val hist = z.groupBy(shiftright(col("__z"), shift).as("__b")).count()
      .orderBy("__b").as[(Long, Long)].collect()
    val bounds = equiDepthBounds(hist, numFiles)
    val zi = z.schema.fieldIndex("__z")
    // an Int key k < numFiles hashes to partition k under
    // HashPartitioner, so file f is exactly partition f
    val files = z.rdd
      .map(r => (upperBound(bounds, r.getLong(zi) >>> shift), r))
      .partitionBy(new org.apache.spark.HashPartitioner(numFiles))
      .values
    spark.createDataFrame(files, z.schema)
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** First bucket of each file 1..n−1 over a bucket-ordered histogram:
    * file f starts at the first bucket preceded by at least f/n of the
    * rows. Files past the last bucket get `Long.MaxValue` and stay
    * empty.
    */
  private def equiDepthBounds(hist: Array[(Long, Long)],
      numFiles: Int): Array[Long] = {
    val n = hist.map(_._2).sum
    val bounds = Array.fill(numFiles - 1)(Long.MaxValue)
    var cum = 0L
    var f = 1
    hist.foreach { case (bucket, c) =>
      while (f < numFiles && cum * numFiles >= f.toLong * n) {
        bounds(f - 1) = bucket; f += 1
      }
      cum += c
    }
    bounds
  }

  /** Number of `bounds` <= `b`: the file a bucket falls in. */
  private def upperBound(bounds: Array[Long], b: Long): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= b) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Row groups a stats-aware reader must touch for the box predicate
    * `aRange ∧ bRange`, counted directly from the parquet footers:
    * a row group survives when its [min,max] interval intersects the
    * box in BOTH dimensions. This is the skipping a z-order layout
    * exists to improve, measured at the storage layer — no reliance on
    * any particular reader's pruning implementation.
    */
  def rowGroupsTouched(spark: org.apache.spark.sql.SparkSession,
      path: String, colA: String, aRange: (Long, Long),
      colB: String, bRange: (Long, Long)): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val files = fs.listStatus(new Path(path))
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    var total = 0
    var touched = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { bg =>
          total += 1
          def intersects(c: String, r: (Long, Long)): Boolean = {
            val col = bg.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(sys.error(s"no column $c in footer"))
            val st = col.getStatistics
            if (st == null || !st.hasNonNullValue) true
            else {
              val mn = st.genericGetMin.asInstanceOf[Number].longValue
              val mx = st.genericGetMax.asInstanceOf[Number].longValue
              mx >= r._1 && mn <= r._2
            }
          }
          if (intersects(colA, aRange) && intersects(colB, bRange)) touched += 1
        }
      } finally reader.close()
    }
    (touched, total)
  }
}
