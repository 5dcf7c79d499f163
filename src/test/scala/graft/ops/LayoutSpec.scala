package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: a at even positions, b at odd") {
    val rows = Seq((3L, 1L), (0L, 0L), (255L, 255L), (5L, 2L))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 8).as("z"))
      .as[Long].collect().toSeq
    // a=0b11,b=0b01 → bits 0,2 from a (1+4), bit 1 from b (2) = 7
    // a=0b101,b=0b010 → a: 1+16, b: 8 = 25
    assert(rows == Seq(7L, 0L, 65535L, 25L))
  }

  test("zValueSql replays the same arithmetic in SQL") {
    val viaSql = spark.sql(
      s"SELECT ${Layout.zValueSql("3", "1")} AS z").as[Long].head()
    assert(viaSql == 7L)
  }

  test("z-order layout touches fewer row groups than a linear sort on a 2-D box") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    // 64×64 grid × 4 replicas: every (a,b) cell equally heavy
    val grid = spark.range(16384)
      .select((col("id") % 64).as("a"), (shiftright(col("id"), 6) % 64).as("b"))
    Layout.zorderWrite(grid, "a", "b", s"$dir/z", numFiles = 16, bits = 6)
    grid.repartitionByRange(16, col("a"))
      .sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$dir/linear")

    val box = ((0L, 15L), (0L, 15L)) // 1/16 of the grid, square in both dims
    val (zTouched, zTotal) = Layout.rowGroupsTouched(
      spark, s"$dir/z", "a", box._1, "b", box._2)
    val (lTouched, lTotal) = Layout.rowGroupsTouched(
      spark, s"$dir/linear", "a", box._1, "b", box._2)
    assert(zTotal >= 16 && lTotal >= 16)
    // linear clusters only a: the box's a-slice is 1/4 of the data → ~4
    // row groups; z-order confines the box to ~1/16 of the curve
    assert(zTouched < lTouched,
      s"z-order touched $zTouched/$zTotal vs linear $lTouched/$lTotal")

    // the layout is a pure reshuffle: the box scan returns identical rows
    val fromZ = spark.read.parquet(s"$dir/z")
      .where(col("a").between(0, 15) && col("b").between(0, 15)).count()
    assert(fromZ == 16 * 16 * 4)
  }

  test("z-order layout is a function of the rows: a rewrite lands every row in the same file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val grid = spark.range(16384)
      .select((col("id") % 64).as("a"), (shiftright(col("id"), 6) % 64).as("b"))
    // per file: row count and the (a, b) box its stats describe
    def files(p: String) = spark.read.parquet(p)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)), min("a"), max("a"), min("b"), max("b"))
      .drop("f").as[(Long, Long, Long, Long, Long)].collect().toSet
    Layout.zorderWrite(grid, "a", "b", s"$dir/z1", numFiles = 16, bits = 6)
    Layout.zorderWrite(grid.repartition(7), "a", "b", s"$dir/z2",
      numFiles = 16, bits = 6)
    val (f1, f2) = (files(s"$dir/z1"), files(s"$dir/z2"))
    assert(f1 == f2, s"the same rows laid out differently: $f1 vs $f2")
    // equi-depth on a uniform grid: 16 files of 1024 rows
    assert(f1.size == 16 && f1.forall(_._1 == 1024L), s"unbalanced files: $f1")
  }
}
