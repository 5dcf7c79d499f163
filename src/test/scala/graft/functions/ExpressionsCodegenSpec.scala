package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The native expressions implement `doGenCode` (static calls into
  * GraftNative) so whole-stage codegen spans stay unbroken. This suite
  * runs them under `spark.sql.codegen.fallback=false`, where a Janino
  * compile error of the generated code THROWS instead of silently
  * degrading to interpreted eval — i.e. it proves the generated code
  * actually compiles and agrees with the interpreted path.
  */
class ExpressionsCodegenSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.GraftSession.builder("codegen-strict").master("local[2]")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()

  test("all native expressions compile and evaluate inside codegen") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Array(1.0f, 2.0f, 3.0f)),
      (2L, "the quick brown fox jumps over the lazy cat", Array(0.5f, 0.5f, 0.5f)),
      (3L, "completely different text here", Array(1.0f, 0.0f, 0.0f))
    ).toDF("id", "text", "vec")
      .withColumn("toks", split($"text", " "))
      .withColumn("h", GraftFunctions.ngramHashes($"toks", 3))
      .withColumn("sig", GraftFunctions.minhashSig($"h", 16))
      .withColumn("sim", GraftFunctions.simhash64($"h"))
      .withColumn("dp", GraftFunctions.dotProduct($"vec", $"vec"))

    val rows = df.select($"id", size($"h").as("nh"), size($"sig").as("ns"),
        $"sim", $"dp",
        GraftFunctions.jaccardSorted($"h", $"h").as("self_j"))
      .collect().sortBy(_.getLong(0))

    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getInt(2) == 16, "minhash signature length")
      assert(r.getDouble(5) == 1.0, "self-jaccard must be 1.0")
    }
    assert(rows(0).getDouble(4) == 14.0) // 1+4+9
    // codegen result must equal interpreted result: similar docs share
    // most shingles
    val j = df.as("a").crossJoin(df.as("b"))
      .where($"a.id" === 1 && $"b.id" === 2)
      .select(GraftFunctions.jaccardSorted($"a.h", $"b.h"))
      .head().getDouble(0)
    assert(j > 0.5 && j < 1.0, s"near-dup jaccard, got $j")
  }

  test("pq expressions compile and evaluate inside strict codegen") {
    import spark.implicits._
    // books: m=2, ksub=2, dsub=2 → flat layout [sub][code][j]
    val books = Seq(0.0, 0.0, 1.0, 1.0, /* sub1 */ 2.0, 0.0, 0.0, 2.0)
    val lut = Seq(10.0, 20.0, 1.0, 2.0)
    val rows = Seq((1L, Seq(0.9, 1.1, 1.9, 0.1)), (2L, Seq(0.1, 0.0, 0.1, 1.8)))
      .toDF("id", "v")
      .select($"id",
        GraftFunctions.pqEncode($"v".cast("array<double>"),
          typedLit(books), 2, 2).as("codes"))
      .withColumn("s", GraftFunctions.pqLookupSum($"codes", typedLit(lut), 2))
      .as[(Long, Seq[Byte], Double)].collect().sortBy(_._1)
    assert(rows(0)._2 == Seq[Byte](1, 0), s"codes row1: ${rows(0)._2}")
    assert(rows(0)._3 == 21.0, s"lut[1] + lut[2+0] = 20 + 1, got ${rows(0)._3}")
    assert(rows(1)._2 == Seq[Byte](0, 1), s"codes row2: ${rows(1)._2}")
    assert(rows(1)._3 == 12.0, s"lut[0] + lut[2+1] = 10 + 2, got ${rows(1)._3}")
  }

  test("residual-pq expressions compile and evaluate inside strict codegen") {
    import spark.implicits._
    // two cells, flattened centroid table (d=4)
    val cents = Seq(0.0, 0.0, 0.0, 0.0, /* cell1 */ 1.0, 1.0, 1.0, 1.0)
    // concatenated per-cell LUT, m=2 ksub=2 → 4 entries per cell
    val lut = Seq(1.0, 2.0, 3.0, 4.0, /* cell1 */ 10.0, 20.0, 30.0, 40.0)
    val rows = Seq((1L, Seq(2.0, 1.0, 3.0, 1.0), 1), (2L, Seq(0.5, 0.0, 0.0, 0.0), 0))
      .toDF("id", "v", "cluster")
      .select($"id", $"cluster",
        GraftFunctions.centroidResidual($"v".cast("array<double>"),
          $"cluster", typedLit(cents)).as("r"))
      .withColumn("s", GraftFunctions.pqLookupSumAt(
        typedLit(Seq(1.toByte, 0.toByte)), typedLit(lut),
        ($"cluster" * 4).cast("int"), 2))
      .as[(Long, Int, Seq[Double], Double)].collect().sortBy(_._1)
    assert(rows(0)._3 == Seq(1.0, 0.0, 2.0, 0.0), s"residual: ${rows(0)._3}")
    assert(rows(0)._4 == 50.0, s"lut[4+1] + lut[4+2+0] = 20 + 30, got ${rows(0)._4}")
    assert(rows(1)._3 == Seq(0.5, 0.0, 0.0, 0.0), s"residual: ${rows(1)._3}")
    assert(rows(1)._4 == 5.0, s"lut[1] + lut[2] = 2 + 3, got ${rows(1)._4}")
  }

  test("codegen filter over jaccard keeps whole-stage codegen working") {
    import spark.implicits._
    val docs = (0 until 100).map(i =>
      (i.toLong, s"token$i " + (0 until 20).map(j => s"w${(i + j) % 30}").mkString(" ")))
      .toDF("id", "text")
      .withColumn("h", GraftFunctions.ngramHashes(split($"text", " "), 3))
    val pairs = docs.as("x").crossJoin(docs.as("y"))
      .where($"x.id" < $"y.id" &&
        GraftFunctions.jaccardSorted($"x.h", $"y.h") >= 0.3)
      .count()
    assert(pairs > 0, "strict-codegen filter must run and find pairs")
  }
}
