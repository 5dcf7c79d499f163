package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  // planted 2-subspace model over 4-dim vectors: codebooks chosen so
  // every argmin is hand-checkable, including an exact tie
  private def planted = Pq.Model(m = 2, ksub = 3, dsub = 2,
    codebooks = Array(
      Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(2.0, 2.0), Array(-1.0, 0.0), Array(2.0, 2.0)))) // 0 ≡ 2: tie

  test("pq_encode: exact nearest-centroid codes; exact tie takes the lower code") {
    val df = Seq(
      (1L, Seq(0.9, 0.1, 2.1, 1.9)), // sub0 → code 1 (closest to (1,0)); sub1 → tie(0,2) → 0
      (2L, Seq(0.0, 1.2, -0.9, 0.1)) // sub0 → code 2; sub1 → code 1
    ).toDF("id", "v")
    val out = df.select($"id", GraftFunctions.pqEncode($"v".cast("array<double>"),
        typedLit(planted.flat.toSeq), 2, 3).as("codes"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(out(1L) == Seq[Byte](1, 0), s"row 1 codes: ${out(1L)}")
    assert(out(2L) == Seq[Byte](2, 1), s"row 2 codes: ${out(2L)}")
  }

  test("pq_lookup_sum: exact LUT sum in subspace order") {
    val lut = Seq(10.0, 20.0, 30.0, 1.0, 2.0, 4.0) // m=2, ksub=3
    val out = Seq((1L, Seq(2.toByte, 1.toByte)))
      .toDF("id", "codes")
      .select(GraftFunctions.pqLookupSum($"codes", typedLit(lut), 3))
      .head().getDouble(0)
    assert(out == 32.0, s"lut[0·3+2] + lut[1·3+1] = 30 + 2, got $out") // 30 + 2
  }

  test("model LUTs match hand math; ADC cosine is exact on reconstructions") {
    // query (1,0 | 0,1): dot LUTs against the planted books
    val q = Array(1.0, 0.0, 0.0, 1.0)
    val dot = planted.lutDot(q)
    assert(dot.toSeq == Seq(0.0, 1.0, 0.0, 2.0, 0.0, 2.0), dot.toSeq)
    val n2 = planted.lutN2
    assert(n2.toSeq == Seq(0.0, 1.0, 1.0, 8.0, 1.0, 8.0), n2.toSeq)
    // a vector that IS a reconstruction (codes 1,1 → (1,0,-1,0)):
    // ADC cosine must equal the exact cosine(q, (1,0,-1,0)) = 1/(√2·√2)
    val adc = (dot(0 * 3 + 1) + dot(1 * 3 + 1)) /
      (math.sqrt(2.0) * math.sqrt(n2(0 * 3 + 1) + n2(1 * 3 + 1)))
    val exact = (1.0 * 1 + 0 + 0 + 1.0 * 0) / (math.sqrt(2.0) * math.sqrt(2.0))
    assert(math.abs(adc - exact) < 1e-15, s"adc $adc vs exact $exact")
  }

  test("fitCodebooks: shapes, dim divisibility guard, byte-code cap") {
    val zeroCents = Array(Array(0.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.0))
    val vecs = (0 until 60).map(i =>
      (i.toLong, Seq(i % 5 * 1.0, i % 3 * 1.0, i % 7 * 1.0, i % 2 * 1.0), i % 2))
      .toDF("id", "v", "cluster")
    val m = Pq.fitCodebooks(vecs, "id", "v", zeroCents, m = 2, ksub = 4)
    assert(m.m == 2 && m.ksub == 4 && m.dsub == 2)
    assert(m.codebooks.length == 2 && m.codebooks.forall(_.length == 4))
    assert(m.codebooks.forall(_.forall(_.length == 2)))
    intercept[IllegalArgumentException] {
      Pq.fitCodebooks(vecs, "id", "v", zeroCents, m = 3, ksub = 4) // 4 % 3 != 0
    }
    intercept[IllegalArgumentException] {
      Pq.fitCodebooks(vecs, "id", "v", zeroCents, m = 2, ksub = 300) // > byte range
    }
  }

  test("crossLut/centDots/centNorm2 match hand math; residual ADC is exact cosine") {
    // one cell with centroid (1,0,2,2): reconstruction for codes (1,1)
    // = centroid + ((1,0) ++ (-1,0)) = (2, 0, 1, 2)
    val cents = Array(Array(1.0, 0.0, 2.0, 2.0))
    val cross = Pq.crossLut(planted, cents)
    // entry(0, sub0, code1): 2·dot((1,0),(1,0)) + 1 = 3
    assert(cross(0 * 3 + 1) == 3.0, cross.toSeq)
    // entry(0, sub1, code1): 2·dot((2,2),(-1,0)) + 1 = -3
    assert(cross(1 * 3 + 1) == -3.0, cross.toSeq)
    val q = Array(1.0, 0.0, 0.0, 1.0)
    assert(Pq.centDots(q, cents).toSeq == Seq(3.0)) // 1 + 0 + 0 + 2
    assert(Pq.centNorm2(cents).toSeq == Seq(9.0))   // 1 + 4 + 4
    // ADC from the tables vs exact cosine(q, (2,0,1,2))
    val dot = planted.lutDot(q)
    val numer = 3.0 + dot(0 * 3 + 1) + dot(1 * 3 + 1)
    val denom2 = 9.0 + cross(0 * 3 + 1) + cross(1 * 3 + 1)
    val adc = numer / (math.sqrt(2.0) * math.sqrt(denom2))
    val recon = Array(2.0, 0.0, 1.0, 2.0)
    val exact = recon.zip(q).map { case (a, b) => a * b }.sum /
      (math.sqrt(2.0) * math.sqrt(recon.map(x => x * x).sum))
    assert(math.abs(adc - exact) < 1e-15, s"adc $adc vs exact $exact")
  }

  test("encodeRows excludes zero-norm vectors; codes quantize the RESIDUAL") {
    val cents = Array(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 0.0, 2.0, 2.0))
    val assigned = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0), 0),
      (2L, Seq(0.0, 0.0, 0.0, 0.0), 0), // zero-norm: dropped
      (3L, Seq(2.0, 0.0, 1.0, 2.0), 1)  // residual vs cell 1 = (1,0,-1,0)
    ).toDF("vec_id", "embedding", "cluster")
    val out = Pq.encodeRows(assigned, "vec_id", "embedding", cents, planted)
      .select($"vec_id", $"cluster", $"codes")
      .as[(Long, Int, Seq[Byte])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet == Set(1L, 3L), s"zero-norm row must drop: $out")
    assert(out(3L)._1 == 1, "cluster column must ride through encode")
    // residual (1,0 | -1,0): sub0 → code 1 exactly, sub1 → code 1 exactly
    assert(out(3L)._2 == Seq[Byte](1, 1), s"residual codes: ${out(3L)._2}")
    // zero-centroid cell: residual = vec, q=(1,0|0,1) → codes (1, 1)
    // (sub1 (0,1): d² to (2,2)=5, (-1,0)=2, (2,2)=5 → code 1)
    assert(out(1L)._2 == Seq[Byte](1, 1), s"raw-residual codes: ${out(1L)._2}")
  }

  test("topKPq end-to-end: ADC ranking matches an exact driver-side replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-spec").toString
    val corpus = (0 until 60).map { i =>
      (i.toLong, Seq(math.sin(i * 1.0) + 2.0, math.cos(i * 1.3),
        math.sin(i * 0.7) - 1.0, math.cos(i * 0.4)))
    }.toDF("vec_id", "embedding")
    val index = Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2)
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val qid = 7L
    val got = Pq.topKPq(spark, dir, corpus.filter($"vec_id" === qid),
      "vec_id", "embedding", k = 60, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    // exact replay from the persisted artifacts: codes + codebooks +
    // centroids fully determine every ADC score
    val model = Pq.readCodebooks(spark, dir)
    val cents = index.centroids
    val codes = spark.read.parquet(s"$dir/assigned_pq")
      .select($"vec_id", $"cluster", $"codes")
      .as[(Long, Int, Seq[Byte])].collect()
    val qv = corpus.filter($"vec_id" === qid)
      .select($"embedding").as[Seq[Double]].head().toArray
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val dotLut = model.lutDot(qv)
    val cross = Pq.crossLut(model, cents)
    val qc = Pq.centDots(qv, cents)
    val cn2 = Pq.centNorm2(cents)
    val mk = model.m * model.ksub
    val want = codes.toSeq.map { case (id, cl, cs) =>
      var numer = qc(cl); var den = cn2(cl)
      for (sub <- 0 until model.m) {
        val code = java.lang.Byte.toUnsignedInt(cs(sub))
        numer += dotLut(sub * model.ksub + code)
        den += cross(cl * mk + sub * model.ksub + code)
      }
      (id, BigDecimal(numer / (qn * math.sqrt(den)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, c) => (-c, id) }
    assert(got == want, s"ADC diverged from the artifact replay\n" +
      s"got:  ${got.take(5)}…\nwant: ${want.take(5)}…")
  }

  test("topKPqBatch ≡ the single-query probe, per query of the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-batch").toString
    val corpus = (0 until 60).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.7), math.cos(i * 0.7)))).toDF("vec_id", "embedding")
    val index = Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2)
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val qids = Seq(0L, 17L, 41L)
    val batch = Pq.topKPqBatch(spark, dir, index,
      corpus.filter($"vec_id".isin(qids: _*)), "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qids.foreach { qid =>
      val single = Pq.topKPq(spark, dir,
        corpus.filter($"vec_id" === qid), "vec_id", "embedding",
        k = 5, nprobe = 2).as[(Long, Double)].collect().toSeq
      assert(batch(qid).sortBy(t => (-t._2, t._1)) == single,
        s"batched face diverged from single-query on q=$qid")
    }
  }

  test("appendToIndex keeps the pq face in step under the FROZEN codebooks; compaction covers it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-append").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    val idx = Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2)
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val booksBefore = spark.read.parquet(s"$dir/pq_codebooks")
      .orderBy("sub", "code").collect().toSeq
    val batch = (100L until 110L).map(i =>
      (i, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    Ivf.appendToIndex(batch, dir, "vec_id", "embedding"): Unit
    // appended ids present in the pq face, encoded by the SAME model
    val face = spark.read.parquet(s"$dir/assigned_pq")
    assert(face.where($"vec_id" >= 100L).count() == 10,
      "appended vectors must be visible to the pq probe")
    val model = Pq.readCodebooks(spark, dir)
    val expect = Pq.encodeRows(
      face.where($"vec_id" >= 100L).select($"vec_id", $"cluster")
        .join(batch, "vec_id"), "vec_id", "embedding", idx.centroids, model)
      .select($"vec_id", $"codes").as[(Long, Seq[Byte])].collect().toMap
    val got = face.where($"vec_id" >= 100L)
      .select($"vec_id", $"codes").as[(Long, Seq[Byte])].collect().toMap
    assert(got == expect, "appended codes must replay under the frozen codebooks")
    assert(spark.read.parquet(s"$dir/pq_codebooks")
      .orderBy("sub", "code").collect().toSeq == booksBefore,
      "append must never refit codebooks")
    // compaction covers the face: contents invariant, files per cell = 1
    val before = face.orderBy("vec_id").collect().toSeq
    Ivf.compactIndex(spark, dir)
    val after = spark.read.parquet(s"$dir/assigned_pq")
      .orderBy("vec_id").collect().toSeq
    assert(after == before, "compaction must not change the pq face contents")
  }

  test("pqAssign is build-once: the marker makes the second call a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-marker").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2): Unit
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val before = spark.read.parquet(s"$dir/assigned_pq")
      .orderBy("vec_id").collect().toSeq
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val after = spark.read.parquet(s"$dir/assigned_pq")
      .orderBy("vec_id").collect().toSeq
    assert(before == after, "second pqAssign must not rewrite the face")
    // different params must fail loudly, never overwrite under the
    // surviving old marker — including FIT params (seed/sample rate),
    // which select which codebooks were learned
    val e = intercept[IllegalArgumentException] {
      Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 8)
    }
    assert(e.getMessage.contains("different parameters"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4, seed = 7L)
    }
    assert(e2.getMessage.contains("different parameters"), e2.getMessage)
  }

  test("topKStaged: stage 2 = exact cosine over EXACTLY stage 1's candidates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-staged").toString
    val corpus = (0 until 60).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0) + 2.0, math.cos(i * 1.3),
        math.sin(i * 0.7) - 1.0, math.cos(i * 0.4)))).toDF("vec_id", "embedding")
    Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2): Unit
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val q = corpus.filter($"vec_id" === 7L)
    val got = Pq.topKStaged(spark, dir, q, "vec_id", "embedding",
      k = 5, kCand = 12, nprobe = 2).as[(Long, Double)].collect().toSeq
    // replay: stage-1 candidate ids, then exact cosine from the corpus
    val cand = Pq.topKPq(spark, dir, q, "vec_id", "embedding",
      k = 12, nprobe = 2).select($"vec_id").as[Long].collect().toSet
    val qv = q.select($"embedding").as[Seq[Double]].head().toArray
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val want = corpus.as[(Long, Seq[Double])].collect().toSeq
      .filter(r => cand(r._1))
      .map { case (id, v) =>
        val dot = v.toArray.zip(qv).map { case (a, b) => a * b }.sum
        val vn = math.sqrt(v.map(x => x * x).sum)
        (id, BigDecimal(dot / (vn * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got == want, s"staged re-rank diverged\ngot:  $got\nwant: $want")
    // scale shape: stage 2 must read the pruned float face, never the
    // input corpus frame (which could be a 100 TB table)
    val p = Pq.topKStaged(spark, dir, q, "vec_id", "embedding",
        k = 5, kCand = 12, nprobe = 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains(s"$dir/assigned") &&
      p.contains("PartitionFilters: [cluster"),
      s"stage 2 must scan the cluster-pruned float face:\n$p")
  }

  test("topKStagedBatch ≡ the single-query staged pipeline, per query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-stagedb").toString
    val corpus = (0 until 60).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.7), math.cos(i * 0.7)))).toDF("vec_id", "embedding")
    val index = Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2)
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    val qids = Seq(0L, 17L, 41L)
    val batch = Pq.topKStagedBatch(spark, dir, index,
      corpus.filter($"vec_id".isin(qids: _*)), "vec_id", "embedding",
      "vec_id", k = 5, kCand = 12, nprobe = 2)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    qids.foreach { qid =>
      val single = Pq.topKStaged(spark, dir,
        corpus.filter($"vec_id" === qid), "vec_id", "embedding",
        k = 5, kCand = 12, nprobe = 2).as[(Long, Double)].collect().toSeq
      assert(batch(qid).sortBy(t => (-t._2, t._1)) == single,
        s"batched staged face diverged from single-query on q=$qid")
    }
  }

  test("appendToIndex refuses a pq face with no v3 marker, BEFORE any write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-gate").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2): Unit
    val nBefore = spark.read.parquet(s"$dir/assigned").count()
    // plant a legacy face: dir present, only a pre-v3 marker — the
    // state Pq.pqAssign would rebuild but an append must never feed
    new java.io.File(s"$dir/assigned_pq/cluster=0").mkdirs()
    new java.io.File(s"$dir/assigned_pq/cluster=0/stale.parquet").createNewFile()
    new java.io.File(s"$dir/_PQ_OK_embedding_m2_k4").createNewFile()
    val batch = (100L until 105L).map(i =>
      (i, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(batch, dir, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("_PQ_OK_v3"), e.getMessage)
    // the refusal happened before ANY write: the float table is intact
    spark.catalog.refreshByPath(s"$dir/assigned")
    assert(spark.read.parquet(s"$dir/assigned").count() == nBefore,
      "a refused append must leave the float table untouched")
    // a face whose marker names a DIFFERENT vector column is refused too
    new java.io.File(s"$dir/_PQ_OK_embedding_m2_k4").delete()
    new java.io.File(s"$dir/_PQ_OK_v3_other_m2_k4_s42_r1.0").createNewFile()
    val e2 = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(batch, dir, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("_PQ_OK_v3"), e2.getMessage)
  }

  test("a pre-residual (v1) face is deleted and rebuilt, not served stale") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-v1").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq(math.sin(i * 1.0), math.cos(i * 1.0),
        math.sin(i * 0.5), math.cos(i * 0.5)))).toDF("vec_id", "embedding")
    Ivf.buildPersistent(corpus, dir, "vec_id", "embedding", k = 2): Unit
    // plant a v1-format face: dummy dirs + the unversioned marker
    new java.io.File(s"$dir/assigned_pq/cluster=0").mkdirs()
    new java.io.File(s"$dir/assigned_pq/cluster=0/stale.parquet").createNewFile()
    new java.io.File(s"$dir/_PQ_OK_embedding_m2_k4").createNewFile()
    Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 2, ksub = 4)
    assert(new java.io.File(s"$dir/_PQ_OK_v3_embedding_m2_k4_s42_r1.0").exists(),
      "rebuild must commit the v3 marker")
    assert(!new java.io.File(s"$dir/_PQ_OK_embedding_m2_k4").exists(),
      "the legacy marker must be gone")
    assert(spark.read.parquet(s"$dir/assigned_pq").count() == 40,
      "the face must be rebuilt from the index, not the stale dirs")
  }
}
