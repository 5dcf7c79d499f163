package graft.functions

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The native functions have two front doors and neither depends on the
  * other: the `GraftFunctions` column helpers build their expressions
  * directly, so they evaluate in a session whose function registry has
  * none of the names; and a `GraftSession` session resolves every name
  * through SQL because `GraftExtensions` injects the one builder list.
  */
class RegistrationSpec extends SparkSpec {

  private val names = GraftFunctions.builders.map(_._1)

  test("a fresh session resolves the native functions through Tables.apply") {
    val fresh = spark.newSession()
    val docs = Tables(fresh, sf, "documents")
    val sigs = docs.select(GraftFunctions.minhashSig(
      GraftFunctions.ngramHashes(split(col("text"), " "), 3), 8).as("sig"))
      .collect()
    assert(sigs.nonEmpty && sigs.forall(_.getSeq[Long](0).size == 8))
  }

  test("column helpers evaluate in a session whose registry has none of the names") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !registry.functionExists(FunctionIdentifier(n))))
    intercept[AnalysisException](bare.sql("SELECT simhash64(array(7L))").collect())

    import bare.implicits._
    val df = Seq((1L, "a b c d e", Seq(1.0f, 2.0f)), (2L, "a b c d f", Seq(3.0f, 4.0f)))
      .toDF("id", "text", "vec")
    val rows = df.select(col("id"),
        GraftFunctions.minhashSig(
          GraftFunctions.ngramHashes(split(col("text"), " "), 3), 8).as("sig"),
        GraftFunctions.dotProduct(col("vec"), col("vec")).as("dp"))
      .as[(Long, Seq[Long], Double)].collect().sortBy(_._1)
    assert(rows.map(_._2.size).toSeq == Seq(8, 8))
    assert(rows.map(_._3).toSeq == Seq(5.0, 25.0))

    val bloom = df.agg(GraftFunctions.bloomAgg(xxhash64(col("id")), 16L, 1024L))
      .head().getAs[Array[Byte]](0)
    val hits = Seq(1L, 2L).toDF("id")
      .where(GraftFunctions.bloomMightContain(lit(bloom), xxhash64(col("id"))))
      .count()
    assert(hits == 2, "a bloom filter never misses an inserted item")
  }

  test("a factory session resolves every native function through SQL") {
    val registry = spark.sessionState.functionRegistry
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(names.size == 11 && missing.isEmpty, s"not injected: $missing")
    val r = spark.sql(
      """SELECT minhash_sig(ngram_hashes(split('a b c d', ' '), 2), 4) AS sig,
        |  jaccard_sorted(array(1L, 2L), array(2L, 3L)) AS j,
        |  simhash64(array(7L)) AS s,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  pq_encode(array(0.9D, 0.1D), array(0.0D, 0.0D, 1.0D, 0.0D), 1, 2) AS codes,
        |  pq_lookup_sum(array(CAST(1 AS TINYINT)), array(10.0D, 20.0D), 2) AS ls,
        |  pq_lookup_sum_at(array(CAST(0 AS TINYINT)), array(1.0D, 2.0D, 3.0D), 2, 1) AS lsa,
        |  centroid_residual(array(2.0D), 0, array(0.5D)) AS res
        |""".stripMargin).head()
    assert(r.getSeq[Long](0).size == 4)
    assert(r.getDouble(1) == 1.0 / 3)
    assert(r.getLong(2) == 7L)
    assert(r.getDouble(3) == 11.0)
    assert(r.getSeq[Byte](4) == Seq[Byte](1))
    assert(r.getDouble(5) == 20.0)
    assert(r.getDouble(6) == 3.0)
    assert(r.getSeq[Double](7) == Seq(1.5))
    val hits = spark.sql(
      """SELECT bloom_might_contain(
        |  (SELECT bloom_agg(xxhash64(id), 16L, 1024L) FROM range(4)),
        |  xxhash64(id)) AS hit FROM range(4)""".stripMargin)
      .where("hit").count()
    assert(hits == 4)
  }
}
