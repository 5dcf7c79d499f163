package graft.ops

import graft.SparkSpec
import graft.sources.Tables

/** Partition-order independence of the decimal-grid operators: every
  * score that sums floating-point-derived terms must give identical
  * bytes under any repartitioning — the property the DuckDB oracles
  * rely on, checked here directly against adversarial partitionings
  * (1 partition vs 17 skewed ones reverses most sum orders). The fitted
  * vector artifacts (IVF centroids, PQ codebooks) are held to the same
  * contract: the fit is a function of the rows, not of their layout.
  */
class DeterminismSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf, "documents")

  private lazy val vecs = Tables(spark, sf, "embeddings")

  private def stable[T](f: org.apache.spark.sql.DataFrame => Seq[T]): Unit =
    stableOver(docs, $"lang")(f)

  private def stableOver[T](df: org.apache.spark.sql.DataFrame,
      skewCol: org.apache.spark.sql.Column)(
      f: org.apache.spark.sql.DataFrame => Seq[T]): Unit = {
    val one = f(df.repartition(1))
    val many = f(df.repartition(17, skewCol))
    assert(one == many, "result drifted under repartitioning")
    Staged.releaseAll()
  }

  /** Exact bit patterns: a fitted artifact must match byte for byte. */
  private def bits(rows: Array[Array[Double]]): Seq[Seq[Long]] =
    rows.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  test("DSIR weights are partition-order-independent") {
    stable(d => Dsir.importanceWeights(
      d.filter($"doc_id" % 5 =!= 0), d.filter($"doc_id" % 5 === 0),
      "doc_id", "text", buckets = 128)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq)
  }

  test("bigram LM scores are partition-order-independent") {
    stable(d => LangModel.bigramLogProb(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq)
  }

  test("TF-IDF cosine pairs are partition-order-independent") {
    stable(d => TfIdf.cosinePairs(d, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq)
  }

  test("zipf fit is partition-order-independent") {
    stable(d => TextAnalysis.zipfFit(d, "text")
      .as[(Long, Double, Double, Double)].collect().toSeq)
  }

  test("PMI pairs are partition-order-independent") {
    stable(d => Cooccur.pmiTopPairs(d, "doc_id", "text")
      .as[(String, String, Long, Double)].collect().toSeq)
  }

  test("curriculum interleave is partition-order-independent") {
    stable(d => Curriculum.interleave(d, "doc_id", "source",
      Map("src1" -> 3))
      .as[(Long, String, Long)].collect().sortBy(_._3).toSeq)
  }

  test("containment pairs are partition-order-independent") {
    stable(d => Dedup.ngramContainmentBlocked(d, "doc_id", "text", "lang",
      n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq)
  }

  test("vocab coverage is partition-order-independent (tie-broken cut)") {
    stable(d => TextAnalysis.vocabCoverage(d, "doc_id", "text", vocabSize = 20)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq)
  }

  test("novelty scores are partition-order-independent") {
    stable(d => TextAnalysis.ngramNovelty(d, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq)
  }

  test("IVF centroids are partition-layout-independent") {
    stableOver(vecs, $"label")(d =>
      bits(Ivf.build(d, "vec_id", "embedding", k = 8).centroids))
  }

  test("PQ codebooks are partition-layout-independent") {
    val idx = Ivf.build(vecs, "vec_id", "embedding", k = 8)
    stableOver(idx.assigned, $"cluster")(d =>
      Pq.fitCodebooks(d, "vec_id", "embedding", idx.centroids, m = 4,
        ksub = 16).codebooks.toSeq.map(bits))
  }
}
