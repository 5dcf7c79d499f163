package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.http.MockTransport

/** End-to-end verification of the flagship curation job: per-stage
  * survivor counts AND an order-independent content hash of the curated
  * output are pinned as goldens, so a regression in any composed
  * operator (HTTP extract, scrub, quality, decontam, dedup, clustering,
  * resample, packing) fails here instead of shipping silently. Every
  * stage is individually oracle-verified in the registry; this spec
  * verifies the COMPOSITION — including that the connector stage's
  * paginated extract really went through the transport with a planted
  * 429 that the reader retried.
  */
class CurateMainSpec extends SparkSpec {

  /** Partitioning/order-independent digest: exact decimal sum of
    * per-row xxhash64 over all output columns.
    */
  private def contentHash(path: String): String =
    spark.read.parquet(path)
      .agg(sum(xxhash64(col("doc_id"), col("lang"), col("source"),
        col("text"), col("quality")).cast(DecimalType(38, 0))))
      .head().getDecimal(0).toString

  /** The planted-429 contract: exactly one page URL was fetched twice
    * (429 then success on retry), every other page once.
    */
  private def assertRetriedOnce(): Unit = {
    val byUrl = MockTransport.requests.groupBy(_._1).view.mapValues(_.size)
    val retried = byUrl.filter(_._2 > 1).toMap
    assert(retried.values.toSeq == Seq(2),
      s"want exactly one page retried exactly once, saw $retried")
  }

  // NB on the goldens: the synthetic documents tables contain no
  // PII-shaped text and no sub-0.5-quality docs (verified directly
  // against the parquet with DuckDB regexes), so pii_flagged=0 and
  // quality=input are CORRECT here, not missed detections — the
  // detection behaviors themselves are fixture-tested in
  // ScrubSpec/TextAnalysisSpec; this spec pins the composition.
  // http_ingested=50 joins the corpus. r19 order (both capstone faces
  // share it): exact → passage (8-token grain; only docs that LOST a
  // passage take the rebuilt text; 3 docs whose every aligned window
  // is a repeat drop out) → near-dup clustering on the ORIGINAL text
  // (removes 0 at this sf: the fixture's jaccard-0.8 near-dups ARE
  // shared-boilerplate docs the passage stage already absorbed; the
  // cluster stage is exercised at sf0.01 below and in its own specs)
  // → substring (the sliding-span stage — removes NOTHING here,
  // substring == near_dedup, because the boilerplate strip + passage
  // stage already consumed every cross-doc repeat this organic
  // fixture holds; the offset-repeat victim class is exercised in the
  // incremental test's quote slice and DedupSpec) → decontam (last
  // text-modifying stage, so the no-shared-5-gram guarantee holds for
  // shipped text).
  // Round 14: stage 7 is x76's temperature flattening (α=0.5, keeps
  // MORE than the old forced-uniform target — 334 vs 283) and stage 8
  // prices packs in real BPE tokens (x77's composition — fertility
  // ~2-4 words/token triples the pack count at the same 2048 budget).
  test("curation pipeline is pinned end-to-end at sf0.001") {
    MockTransport.reset()
    val out = java.nio.file.Files.createTempDirectory("graft-curate-spec").toString
    val s = CurateMain.run(spark, "/root/testdata/sf0.001", out)
    // r13: the quality stage is score AND Gopher rules (minWords=5
    // fixture policy) — 109 corpus docs fail the n_stop>=2 gate and are
    // accounted to it; every other gate and the score pass everything
    assert(s == CurateMain.CurateSummary(
      httpIngested = 50, input = 550, piiFlagged = 0, quality = 441,
      boilerplate = 441, exact = 441, passage = 440, nearDedup = 440,
      substring = 440, decontaminated = 436,
      mixed = 334, packs = 34, shards = 8, out = s"$out/curated",
      gateFails = Seq("g_words" -> 0L, "g_word_len" -> 0L, "g_hash" -> 0L,
        "g_ellipsis" -> 0L, "g_alpha" -> 0L, "g_stop" -> 109L,
        "score" -> 0L), quotations = 1L),
      s"stage counts drifted: $s")
    assert(contentHash(s.out) == "-119582989246861780508",
      s"curated content drifted: ${contentHash(s.out)}")
    // writer metadata: seq is a stride-schedule permutation of 1..N,
    // ilw is the DSIR weight toward the top-quality slice
    val curated = spark.read.parquet(s.out)
    val seqs = curated.select(col("seq")).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
    assert(seqs == (1L to seqs.length).toList,
      "curriculum seq must be a permutation")
    assert(curated.where(col("ilw").isNotNull).count() > 0,
      "DSIR weights must ride the curated output")
    // loader-facing exports. Sharded: membership follows the md5 rule,
    // and each shard's in-file row order IS the curriculum order
    // restricted to the shard (the shard-prefix mix contract: a loader
    // streaming any shard front-to-back consumes the interleave's
    // balanced source schedule filtered to its docs).
    import spark.implicits._
    val shardDirs = new java.io.File(s"$out/shards").listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 8, s"8 shard dirs expected: ${shardDirs.length}")
    val back = spark.read.parquet(s"$out/shards")
    assert(back.count() == curated.count(), "shards must hold the whole corpus")
    val memberDrift = back.select($"doc_id",
        $"shard".cast("long").as("got"))
      .withColumn("want", graft.ops.Sharding.shardId($"doc_id", 8))
      .where($"got" =!= $"want").count()
    assert(memberDrift == 0, "shard membership must follow the md5 rule")
    shardDirs.foreach { d =>
      val f = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(f.length == 1, s"${d.getName}: one task per shard")
      val seqsInFile = spark.read.parquet(f.head.getAbsolutePath)
        .select($"seq").as[Long].collect().toSeq
      assert(seqsInFile == seqsInFile.sorted,
        s"${d.getName}: in-file order must be the curriculum order")
    }
    // z-order export: same doc set, clustered on (source, quality
    // bucket) — the planted box scan touches a strict subset of row
    // groups in both dimensions
    val z = spark.read.parquet(s"$out/curated_zorder")
    assert(z.select($"doc_id").as[Long].collect().toSet ==
      curated.select($"doc_id").as[Long].collect().toSet,
      "z-order export must hold the whole corpus")
    assert(z.columns.contains("src_idx") && z.columns.contains("q_bucket"))
    assertRetriedOnce()
  }

  test("api ids lift above a corpus that already exceeds the reserved range") {
    import spark.implicits._
    MockTransport.reset()
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-hi").toString
    // corpus already occupies the 1e6+ reserved base: the old fixed
    // +1000000 offset would collide api ids with these real docs and
    // silently merge distinct documents downstream
    Seq(
      (1000002L, "the quick brown fox jumps over the lazy dog and the cat " +
        "sits on the mat by the door of the house", "en", "web"),
      (1000003L, "a small bird flies over the hill and the sun rises in " +
        "the east while the river runs down to the sea", "en", "web"),
      (1000004L, "the old clock on the wall ticks and the kettle on the " +
        "stove whistles in the quiet of the morning light", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-curate-hi-out").toString
    val s = CurateMain.run(spark, dir, out)
    assert(s.input == 53, s"3 corpus + 50 api docs expected, got ${s.input}")
    val curated = spark.read.parquet(s.out)
    val apiIds = curated.where(col("source") === "api")
      .select(col("doc_id")).as[Long].collect()
    assert(apiIds.nonEmpty, "api docs must survive the pipeline")
    assert(apiIds.min >= 1000005L,
      s"api ids must start at max(doc_id)+1, got min ${apiIds.min}")
    assert(curated.select(col("doc_id")).distinct().count() == curated.count(),
      "id collision: two distinct documents share a doc_id")
  }

  test("an empty corpus still curates the api extract (no NULL-max crash)") {
    import spark.implicits._
    MockTransport.reset()
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-empty").toString
    Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-curate-empty-out").toString
    val s = CurateMain.run(spark, dir, out)
    assert(s.input == 50, s"the 50 api docs are the whole corpus: $s")
    assert(spark.read.parquet(s.out).count() > 0)
  }

  test("incremental day-2 face: composed probes ≡ full re-dedup restricted to the batch") {
    // The daily-ingest shape (VERDICT r9 item 8, extended r11 to the
    // whole incremental family): day 1 persists the corpus LSH index,
    // the passage index, and the IVF vector index; day 2 dedups a
    // fresh batch (connector feed + an EXACT re-crawled slice that
    // must die at the passage probe + a NEAR re-crawled slice — one
    // prepended token — that must survive the passage probe and die at
    // the LSH probe), each via ONE O(batch) index probe, then appends
    // the day-2 embeddings and proves an appended vector findable.
    // The pins are the two differential identities runIncremental's
    // Scaladoc claims: the passaged batch equals
    // passageDedup(corpus ∪ batch) restricted to the batch (x33
    // identity + run's stage-3b rebuild rule), and the survivors equal
    // minHashLsh(corpus ∪ passaged) + CC + keep-reps restricted to it.
    import spark.implicits._
    MockTransport.reset()
    val work = java.nio.file.Files.createTempDirectory("graft-curate-incr").toString
    val s = CurateMain.runIncremental(spark, "/root/testdata/sf0.001", work)
    // stage kills land where designed: the passage probe shrank the
    // batch (exact re-crawls), the LSH probe shrank it further (near
    // re-crawls → cross pairs against corpus ids), and the appended
    // day-2 vector was found by the post-append probe
    assert(s.passageKept < s.batch, s"passage probe suppressed nothing: $s")
    assert(s.crossPairs > 0 && s.survivors < s.passageKept,
      s"LSH probe suppressed nothing: $s")
    // the span probe (r18): the quote slice survives passage (unaligned)
    // and LSH (Jaccard minority) but loses its quoted corpus span here;
    // the one near-recrawl husk that leaked through LSH (a short doc
    // whose S/(S+1) Jaccard fell under the threshold) dies to the
    // short-remainder rule — the count drop below
    assert(s.spanKept < s.survivors,
      s"span probe suppressed nothing: $s")
    val curatedBySrc = spark.read.parquet(s.out)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(curatedBySrc.contains("recrawl_quote"),
      s"quote docs must SURVIVE stripped, not drop: $curatedBySrc")
    assert(!curatedBySrc.contains("recrawl") &&
      !curatedBySrc.contains("recrawl_near"),
      s"re-crawl slices must die before shipping: $curatedBySrc")
    // no shipped quote doc retains its 16-token corpus excerpt
    // CONTIGUOUSLY: either the span probe stripped it whole, or (for a
    // few tiny-vocab chance collisions) the passage probe already
    // spliced a chunk out of the middle — both destroy the contiguous
    // quote; and the span stage itself must visibly act on the slice
    val excerpts = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") % 7 === 1)
      .where(size(graft.ops.TextAnalysis.tokens(col("text"))) >= 16)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        array_join(slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 16),
          " ").as("__ex"))
    val intact = spark.read.parquet(s.out)
      .where(col("source") === "recrawl_quote")
      .join(excerpts, Seq("doc_id"))
      .where(array_join(graft.ops.TextAnalysis.tokens(col("text")), " ")
        .contains(col("__ex")))
      .count()
    assert(intact == 0, s"$intact quote docs still carry their excerpt whole")
    val keptQuoteTexts = spark.read.parquet(s"$work/day2_kept")
      .where(col("source") === "recrawl_quote")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    val spanStripped = spark.read.parquet(s.out)
      .where(col("source") === "recrawl_quote")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().count { case (id, t) => keptQuoteTexts(id) != t }
    assert(spanStripped >= 60,
      s"the span stage must strip the bulk of the quote slice: $spanStripped")
    assert(s.appendedVecs > 0 && s.probeHit,
      s"vector-index leg failed: $s")
    val corpus = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val batch = spark.read.parquet(s"$work/day2_batch")
      .select(col("doc_id"), col("text"))
    // identity 1: the passaged artifact ≡ one-shot passageDedup over
    // corpus ∪ batch, restricted to the batch, with run's stage-3b
    // join (docs that lost a passage take the rebuilt text; docs whose
    // every aligned window is a repeat drop out)
    val pdFull = graft.ops.Dedup.passageDedup(
      corpus.unionByName(batch), "doc_id", "text", window = 8)
    val passagedFull = batch.join(pdFull, Seq("doc_id"), "left")
      .where(col("n_kept").isNotNull ||
        size(graft.ops.TextAnalysis.tokens(col("text"))) === 0)
      .withColumn("text",
        when(col("n_dropped") > 0, col("clean_text")).otherwise(col("text")))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSet
    val passagedIncr = spark.read.parquet(s"$work/day2_passaged")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSet
    assert(passagedIncr == passagedFull,
      s"passage identity diverged: only-incr=${(passagedIncr -- passagedFull).take(3)} " +
        s"only-full=${(passagedFull -- passagedIncr).take(3)}")
    // identity 2: survivors ≡ full minHashLsh over corpus ∪ passaged
    // batch + CC + keep-reps, restricted to the batch ids
    val passaged = spark.read.parquet(s"$work/day2_passaged")
      .select(col("doc_id"), col("text"))
    val passagedIds = passaged.select(col("doc_id")).as[Long].collect().toSet
    val pairs = graft.ops.Dedup.minHashLsh(
      corpus.unionByName(passaged), "doc_id", "text", threshold = 0.8)
    val nonRep = graft.ops.Dedup.connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id")).as[Long].collect().toSet
    val fullKept = passagedIds -- nonRep
    val incrKept = spark.read.parquet(s"$work/day2_kept")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(incrKept == fullKept,
      s"diverged: only-incr=${(incrKept -- fullKept).take(5)} " +
        s"only-full=${(fullKept -- incrKept).take(5)}")
    // identity 3 (r18): the span stage ≡ one-shot substringDedup over
    // corpus ∪ kept, restricted to the batch, under run's 3c join rule
    // (docs that lost a span take the rebuilt text; short remainders
    // drop) — the x97 identity composed into the capstone ladder
    val keptDocs = spark.read.parquet(s"$work/day2_kept")
      .select(col("doc_id"), col("text"))
    val sdFull = graft.ops.Dedup.substringDedup(
      corpus.unionByName(keptDocs), "doc_id", "text", window = 8)
    val spannedFull = keptDocs.join(
        sdFull.select(col("doc_id"), col("n_tokens"), col("n_dropped"),
          col("clean_text").as("__c")), Seq("doc_id"))
      .where(col("n_tokens") === 0 || col("n_dropped") === 0 ||
        col("n_tokens") - col("n_dropped") >= 8)
      .withColumn("text",
        when(col("n_dropped") > 0, col("__c")).otherwise(col("text")))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSet
    val spannedIncr = spark.read.parquet(s.out)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSet
    assert(spannedIncr == spannedFull,
      s"span identity diverged: only-incr=${(spannedIncr -- spannedFull).take(3)} " +
        s"only-full=${(spannedFull -- spannedIncr).take(3)}")
    // the r14 operational loop: the same day-2 batch feeds the three
    // monitors (novelty vs the frozen day-1 gram index, OOV vs the
    // frozen day-1 vocabulary, ANN recall vs brute-force truth over the
    // re-listed corpus ∪ appends). All three are deterministic pure
    // functions of (batch, day-1 artifacts), so the snapshot pins
    // exactly: the 3/7-recrawl batch sits above the novelty alert
    // floor (the quote slice's novel flanks lift it a notch over r17's
    // 2-slice batch), in-distribution API text keeps OOV low, and the
    // appended index answers at its measured recall — zero alerts on a
    // healthy day-2.
    assert((s.novelty, s.oovRate, s.annRecall, s.fertility, s.monitorAlerts)
      == ((0.147563, 0.131277, 0.7125, 3.403892, 0L)),
      s"day-2 monitor snapshot drifted: " +
        s"${(s.novelty, s.oovRate, s.annRecall, s.fertility, s.monitorAlerts)}")
    // the serving epilogue's QC gate (r15): the residual-PQ face built
    // over the appended index, judged by the a11/a13 methodology at
    // shared probe cells. NOT pinned to exact values: the fitted
    // codebooks (and with them raw-ADC agreement, observed 0.31–0.43
    // here) move with any change to the fit, although no longer with
    // session parallelism (Ivf.fitLayout, DeterminismSpec) — what IS
    // invariant is the structure: staged hits ⊇ raw hits per query by
    // construction, the staged re-rank recovers the bulk of the float
    // answer even on this worst-case fixture, and the replay from the
    // PERSISTED face is exact (the s2 == s assertion below re-runs the
    // whole epilogue against the committed artifacts)
    assert(s.pqAgreement > 0.0 && s.pqAgreement <= 1.0 &&
      s.stagedAgreement <= 1.0,
      s"serving QC gate out of range: ${(s.pqAgreement, s.stagedAgreement)}")
    assert(s.stagedAgreement >= math.max(0.5, s.pqAgreement),
      s"staged serving must dominate raw ADC and recover most of the " +
        s"float answer: ${(s.pqAgreement, s.stagedAgreement)}")
    // the acquisition epilogue (r16): the x85 per-source health table
    // over corpus ∪ day-2 batch — the re-crawl sources indict
    // themselves from their own columns: exact re-crawls have ZERO
    // novelty (every gram first-occurred under a corpus id) and
    // dup_rate 1.0 (each doc loses keep-reps to its original); the
    // near re-crawls' prepended token adds a sliver of novelty but
    // they still all die to their originals
    val healthDf = spark.read.parquet(s"$work/source_health/epoch=1")
    // per-source KL (r19): the x91 axis rides the health row — every
    // tokenized source prices its PROPORTIONS against the frozen
    // day-1 unigram table; the exact re-crawl (corpus text verbatim)
    // must read closer to the corpus distribution than the templated
    // connector feed
    val kls = healthDf.select(col("source"), col("kl"))
      .as[(String, Option[Double])].collect().toMap
    assert(Seq("api", "recrawl", "recrawl_near", "recrawl_quote")
      .forall(kls(_).isDefined),
      s"every tokenized source must carry a KL verdict: $kls")
    assert(kls("recrawl").get < kls("api").get,
      s"corpus-verbatim text must read closer to the frozen " +
        s"distribution than the templated feed: $kls")
    val health = healthDf
      .select(col("source"), col("novelty"), col("dup_rate"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(health.contains("api") && health.contains("recrawl") &&
      health.contains("recrawl_near") && health.contains("recrawl_quote"),
      s"health sources: ${health.keySet}")
    assert(health("recrawl") == ((0.0, 1.0)),
      s"exact re-crawl row must read (novelty 0, dup_rate 1): ${health("recrawl")}")
    assert(health("recrawl_near")._2 == 1.0 &&
      health("recrawl_near")._1 < health("api")._1,
      s"near re-crawl must die whole and read less novel than the feed: " +
        s"${health("recrawl_near")} vs api ${health("api")}")
    // the quote slice reads HEALTHY at doc level (dup_rate 0 — no doc
    // dies to keep-reps) with mid novelty: exactly the source profile
    // only the span-level x96 signal would indict — which is why the
    // span probe, not acquisition, strips it
    assert(health("recrawl_quote")._2 == 0.0 &&
      health("recrawl_quote")._1 < health("api")._1,
      s"quote slice must read doc-level healthy: ${health("recrawl_quote")}")
    // the verdict ACTING (r17): day2_mix is the health-gated
    // temperature mix over corpus ∪ batch — both re-crawl sources are
    // zeroed out by their own verdict rows (dup_rate 1, novelty ~0),
    // every organic source and the feed survive, and the feed (the
    // largest healthy source at 50 docs vs 25) downsamples toward the
    // flattened mix under the deterministic md5 gate
    val mix = spark.read.parquet(s"$work/day2_mix")
      .select(col("source"), col("n_kept")).as[(String, Long)]
      .collect().toMap
    assert(!mix.contains("recrawl") && !mix.contains("recrawl_near"),
      s"indicted sources must be zeroed out of the mix: ${mix.keySet}")
    assert(mix.keySet.count(_.startsWith("src")) == 20 &&
      mix("api") == 33L && mix("recrawl_quote") == 37L,
      s"mix drifted: ${mix.toSeq.sortBy(_._1)}")
    // a healthy day-2 never repairs: the gate didn't fire, so the
    // refit leg stayed idle
    assert(!s.refitRan && s.postRefitStagedAgreement == -1.0 &&
      s.refitK == -1,
      s"refit must not run on a healthy serving gate: $s")
    // replay: the monitor epochs are overwrite-committed pure functions
    // — a second run over the same workDir rewrites identical rows
    val s2 = CurateMain.runIncremental(spark, "/root/testdata/sf0.001", work)
    assert(s2 == s, s"incremental re-run drifted: $s2 vs $s")
    graft.ops.Staged.releaseAll()
  }

  test("serving-gate alert triggers the capstone's refit loop: detect → repair → re-measure") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-curate-refit").toString
    // alertBelow > 1 makes the serving gate fire on ANY agreement —
    // the wiring test for refit-on-alert (the repair's effectiveness
    // differential is IvfRefitSpec's planted-drift test; here the pin
    // is that the capstone ACTS on its own alarm and re-measures with
    // the same instrument)
    val s = CurateMain.runIncremental(spark, "/root/testdata/sf0.001", work,
      refitOnAlert = true, servingAlertBelow = 1.01)
    assert(s.monitorAlerts >= 1L, s"the forced gate must alert: $s")
    assert(s.refitRan, s"the gate fired but no refit ran: $s")
    assert(s.postRefitStagedAgreement >= 0.0 &&
      s.postRefitStagedAgreement <= 1.0, s"post-refit gate out of range: $s")
    // the re-measurement is persisted next to the day's monitors
    val qc = spark.read.parquet(s"$work/refit_qc/day=2")
      .select(col("staged_agreement")).head().getDouble(0)
    assert(qc == s.postRefitStagedAgreement, s"refit_qc drifted: $qc vs $s")
    // the swap completed cleanly and kept every vector (corpus +
    // day-2 appends) across all faces
    val fs = new org.apache.hadoop.fs.Path(s"$work/ivf_index")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$work/ivf_index/__refit_tmp")), "refit debris left behind")
    val nCorpusVecs = graft.sources.Tables(
      spark, "/root/testdata/sf0.001", "embeddings").count()
    assert(spark.read.parquet(s"$work/ivf_index/assigned").count() ==
      nCorpusVecs + s.appendedVecs,
      "the refit index must keep corpus + appended vectors")
    assert(spark.read.parquet(s"$work/ivf_index/assigned_pq").count() ==
      nCorpusVecs + s.appendedVecs,
      "the PQ face must be re-encoded over the full refit assignment")
    // the repair consulted the a19 resize rule (r17): 571 vectors at
    // the sf-scaled policy (targetCell=512, kMin=4) want k=4, a 4x gap
    // from the built k=16 — so the triggered refit also landed the
    // resize, in the same committed swap
    assert(s.refitK == 4,
      s"the refit must resize to the kForCells policy: ${s.refitK}")
    assert(graft.ops.Ivf.readIndex(spark, s"$work/ivf_index")
      .centroids.length == 4,
      "the promoted index must hold the policy k")
    // WARM REPLAY (r17): the same day-2 run on the same workDir must
    // not re-fire the committed repair — the refit_qc record guards
    // the epoch (single-fire, the refitMaintenanceStream discipline) —
    // and must survive the policy-resized index (this replay crashed
    // once: day-1's buildPersistent clobbered the k=4 index back to
    // k=16, tearing the PQ face). Post-refit numbers replay from the
    // record byte-identically; the promoted centroids are untouched.
    val centroidsAfterRefit = graft.ops.Ivf.readIndex(spark,
      s"$work/ivf_index").centroids.map(_.toSeq).toSeq
    val s2 = CurateMain.runIncremental(spark, "/root/testdata/sf0.001", work,
      refitOnAlert = true, servingAlertBelow = 1.01)
    assert(s2.refitRan &&
      s2.postRefitStagedAgreement == s.postRefitStagedAgreement &&
      s2.refitK == 4,
      s"warm replay must read the committed repair, not re-fire: $s2")
    assert(graft.ops.Ivf.readIndex(spark, s"$work/ivf_index")
      .centroids.map(_.toSeq).toSeq == centroidsAfterRefit,
      "warm replay must leave the promoted centroids untouched")
    assert((s2.novelty, s2.oovRate, s2.fertility, s2.survivors) ==
      ((s.novelty, s.oovRate, s.fertility, s.survivors)),
      s"warm replay drifted on the deterministic monitors: $s2 vs $s")
    graft.ops.Staged.releaseAll()
  }

  test("rolling day-3 ingest: day 3 dedups against day-2's registrations; the day-3 identities hold; head replay is pure") {
    import spark.implicits._
    MockTransport.reset()
    val work = java.nio.file.Files
      .createTempDirectory("graft-curate-day3").toString
    CurateMain.runIncremental(spark, "/root/testdata/sf0.001", work): Unit
    MockTransport.reset()
    val s3 = CurateMain.ingestDay(spark, "/root/testdata/sf0.001", work,
      day = 3)
    assert(s3.day == 3 && s3.batch > 0L && s3.gatedSources == 0L, s"$s3")
    // the persisted span index is the PRODUCTION hash-keyed layout
    // (x99): every committed partition stores 8-byte keys
    assert(spark.read.parquet(s"$work/span_index").schema("gram").dataType
      == org.apache.spark.sql.types.LongType,
      "the capstone span index must be hash-keyed")
    // slice fates, each against a DAY-2 registration (none of these
    // victims touch the day-1 corpus): the exact re-crawl of day-2's
    // raw batch dies at the passage probe (day-2's epoch-0 chunk
    // registration), the near re-crawl of day-2's survivors dies at
    // the LSH probe (day-2's survivors lazily registered at day-3
    // start), and the quote re-use loses its quoted span to day-2's
    // epoch-0 span registration while its novel flanks ship
    val pass3 = spark.read.parquet(s"$work/day3_passaged")
    assert(pass3.where($"source" === "recrawl_d2").count() == 0,
      "exact re-crawls of day-2's batch must die at the passage probe")
    assert(pass3.where($"source" === "recrawl_near_d2").count() > 0,
      "near re-crawls must SURVIVE the passage probe (one new token)")
    val kept3 = spark.read.parquet(s"$work/day3_kept")
    assert(kept3.where($"source" === "recrawl_near_d2").count() == 0,
      "near re-crawls of day-2 survivors must die at the LSH probe")
    assert(kept3.where($"source" === "recrawl_quote_d2").count() > 0,
      "quote docs must survive the doc-level probes")
    val by3 = spark.read.parquet(s3.out)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by3.contains("api") && by3.contains("recrawl_quote_d2") &&
      !by3.contains("recrawl_d2") && !by3.contains("recrawl_near_d2"),
      s"day-3 slice fates drifted: $by3")
    // the span stage visibly acted on the quote slice: most shipped
    // quote docs changed text between day3_kept and day3_curated
    val keptQuote = kept3.where($"source" === "recrawl_quote_d2")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val stripped = spark.read.parquet(s3.out)
      .where($"source" === "recrawl_quote_d2")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .count { case (id, t) => keptQuote(id) != t }
    assert(stripped > 0,
      s"the span probe must strip day-2 quotes: $stripped changed")
    val corpus = graft.sources.Tables(
        spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val b2 = spark.read.parquet(s"$work/day2_batch")
      .select($"doc_id", $"text")
    val b3 = spark.read.parquet(s"$work/day3_batch")
      .select($"doc_id", $"text")
    // identity 1 at day 3: committed chunks = corpus ∪ day-2 batch
    // (day 2 registered its WHOLE batch's fresh chunks), so the probe
    // equals one-shot passageDedup(corpus ∪ b2 ∪ b3) restricted to b3
    val pdFull = graft.ops.Dedup.passageDedup(
      corpus.unionByName(b2).unionByName(b3), "doc_id", "text", window = 8)
    val passagedFull = b3.join(pdFull, Seq("doc_id"), "left")
      .where(col("n_kept").isNotNull ||
        size(graft.ops.TextAnalysis.tokens(col("text"))) === 0)
      .withColumn("text",
        when(col("n_dropped") > 0, col("clean_text")).otherwise(col("text")))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    assert(pass3.select($"doc_id", $"text").as[(Long, String)]
        .collect().toSet == passagedFull,
      "day-3 passage identity diverged")
    // identity 2 at day 3: the LSH prefix = corpus ∪ day-2's
    // REGISTERED survivors (shipped ids, original kept text)
    val reg2 = spark.read.parquet(s"$work/day2_kept")
      .join(spark.read.parquet(s"$work/day2_curated").select($"doc_id"),
        Seq("doc_id"))
      .select($"doc_id", $"text")
    val passaged3 = pass3.select($"doc_id", $"text")
    val nonRep = graft.ops.Dedup.connectedComponents(
        graft.ops.Dedup.minHashLsh(
          corpus.unionByName(reg2).unionByName(passaged3),
          "doc_id", "text", threshold = 0.8))
      .where($"doc_id" =!= $"cluster_rep")
      .select($"doc_id").as[Long].collect().toSet
    val fullKept = passaged3.select($"doc_id").as[Long].collect().toSet --
      nonRep
    assert(kept3.select($"doc_id").as[Long].collect().toSet == fullKept,
      "day-3 LSH identity diverged")
    // identity 3 at day 3: committed spans = corpus seed ∪ day-2's
    // epoch-0 registration (spans of day-2's kept originals) — and the
    // HASHED probe must equal the TEXT-keyed one-shot (the capstone
    // leg of the x99 ≡ x97 differential)
    val kept2 = spark.read.parquet(s"$work/day2_kept")
      .select($"doc_id", $"text")
    val sdFull = graft.ops.Dedup.substringDedup(
      corpus.unionByName(kept2)
        .unionByName(kept3.select($"doc_id", $"text")),
      "doc_id", "text", window = 8)
    val spannedFull = kept3.select($"doc_id", $"text").join(
        sdFull.select($"doc_id", $"n_tokens", $"n_dropped",
          $"clean_text".as("__c")), Seq("doc_id"))
      .where($"n_tokens" === 0 || $"n_dropped" === 0 ||
        $"n_tokens" - $"n_dropped" >= 8)
      .withColumn("text",
        when($"n_dropped" > 0, $"__c").otherwise($"text"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    assert(spark.read.parquet(s3.out).select($"doc_id", $"text")
        .as[(Long, String)].collect().toSet == spannedFull,
      "day-3 span identity diverged (hashed probe vs text one-shot)")
    // warm replay of the ladder's HEAD day rewrites identical results
    MockTransport.reset()
    val s3b = CurateMain.ingestDay(spark, "/root/testdata/sf0.001", work,
      day = 3)
    assert(s3b == s3, s"day-3 warm replay drifted: $s3b vs $s3")
    graft.ops.Staged.releaseAll()
  }

  test("multi-day vector drift: the serving gate fires ONCE on the drift day; later days read the promoted faces; repair-day replay is pure") {
    import spark.implicits._
    // r20 (the r19 verdict's ask #5): the per-epoch detect→repair loop
    // is spec'd in VectorStreamsSpec; this proves it PER-DAY on the
    // ladder — drift arrives day 3, the gate (which samples the DAY's
    // appended vectors — the population the index just absorbed) fires
    // and repairs once under the day-keyed single-fire guard, the
    // repair day replays pure, and day 4's drifted arrivals read the
    // refit codebooks as healthy (no second fire).
    val work = java.nio.file.Files
      .createTempDirectory("graft-curate-drift").toString
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding")
    val off = 1000000L
    def band(d: Int) = off + 1000L + (d - 2L) * 100000000L
    def healthy(d: Int) = emb.where($"vec_id" % 7 === 3)
      .select(($"vec_id" + band(d)).as("vec_id"), $"embedding")
    // the planted drift: the WHOLE corpus re-embedded far from the fit
    // distribution (x·5 + 10 — the IvfRefitSpec / --maintain recipe:
    // far enough to saturate the frozen codebooks, spread enough that
    // round-6 cosine still ranks members distinctly). Population ≫
    // kCand matters: a drifted cohort smaller than the candidate cut
    // is recovered by the staged re-rank even under garbage ADC
    // ranking — the gate then CORRECTLY reads serving as healthy
    def drifted(d: Int) = emb
      .select(($"vec_id" + band(d)).as("vec_id"),
        transform($"embedding", x => x * lit(5.0f) + lit(10.0f))
          .as("embedding"))
    val vecs: Int => org.apache.spark.sql.DataFrame =
      d => if (d <= 2) healthy(d) else drifted(d)
    MockTransport.reset()
    val s2 = CurateMain.ingestDay(spark, sf, work, day = 2,
      dayVecsOverride = Some(vecs))
    assert(!s2.refitRan,
      s"day 2's in-distribution append must not fire the gate: $s2")
    // day 3: the appended population drifted — the gate measures it
    // and the capstone acts the same day (detect → repair → re-judge
    // with the same instrument over the same sample)
    MockTransport.reset()
    val s3 = CurateMain.ingestDay(spark, sf, work, day = 3,
      dayVecsOverride = Some(vecs))
    assert(s3.refitRan,
      s"the drifted day-3 append must fire the serving gate: $s3")
    assert(s3.postRefitStagedAgreement > s3.stagedAgreement,
      s"the repair must clear the drifted agreement: $s3")
    val centroids3 = graft.ops.Ivf.readIndex(spark, s"$work/ivf_index")
      .centroids.map(_.toSeq).toSeq
    // warm replay of the repair day: the day-keyed refit_qc record IS
    // the repair — the replay reads it back byte-identically and never
    // re-churns the promoted index
    MockTransport.reset()
    val s3b = CurateMain.ingestDay(spark, sf, work, day = 3,
      dayVecsOverride = Some(vecs))
    assert(s3b == s3, s"repair-day replay drifted: $s3b vs $s3")
    assert(graft.ops.Ivf.readIndex(spark, s"$work/ivf_index")
      .centroids.map(_.toSeq).toSeq == centroids3,
      "repair-day replay must leave the promoted centroids untouched")
    // day 4: drift continues arriving, but the promoted codebooks were
    // fit over corpus ∪ appends (the drifted population included) —
    // the gate reads the same distribution as healthy, no second fire
    MockTransport.reset()
    val s4 = CurateMain.ingestDay(spark, sf, work, day = 4,
      dayVecsOverride = Some(vecs))
    assert(!s4.refitRan,
      s"post-repair drifted arrivals must read the promoted faces: $s4")
    assert(s4.stagedAgreement > s3.stagedAgreement,
      s"day 4 must serve the drifted population better than the " +
        s"pre-repair day 3 did: ${s4.stagedAgreement} vs ${s3.stagedAgreement}")
    graft.ops.Staged.releaseAll()
  }

  test("acquisition gate: a source indicted in 2 consecutive epochs is excluded from the next day's batch, permanently") {
    import spark.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft-curate-gate").toString
    val sf = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    val off = 1000000L
    // the planted bad source: a fresh exact re-crawl of a corpus slice
    // every day under new ids — novelty ~0, dup_rate ~1, so each
    // day's health row indicts it by its own columns
    def bad(day: Int) = corpus.where($"doc_id" % 7 === 3)
      .select(($"doc_id" + off + 50000000L + day.toLong * 100000000L)
        .as("doc_id"), $"text", $"lang", lit("badsrc").as("source"))
    def batchFor(day: Int) = Some(
      CurateMain.dayBatch(spark, work, day, corpus, off)
        .unionByName(bad(day)))
    // day 2: no committed health history — badsrc is ADMITTED
    MockTransport.reset()
    val s2 = CurateMain.ingestDay(spark, sf, work, day = 2,
      batchOverride = batchFor(2))
    assert(s2.gatedSources == 0L, s"day 2 must admit everything: $s2")
    assert(spark.read.parquet(s"$work/day2_batch")
      .where($"source" === "badsrc").count() > 0,
      "badsrc must be in day 2's admitted batch")
    // its own health row indicts it (alert #1)
    val (_, ind2) = graft.ops.Acquisition.healthVerdicts(
      spark.read.parquet(s"$work/source_health/epoch=1"), "source")
    assert(ind2.contains("badsrc"), s"day-2 health must indict badsrc: $ind2")
    // day 3: one alert < debounce — still admitted (alert #2 lands)
    MockTransport.reset()
    val s3 = CurateMain.ingestDay(spark, sf, work, day = 3,
      batchOverride = batchFor(3))
    assert(s3.gatedSources == 0L,
      s"one alert must not gate (debounce 2): $s3")
    assert(spark.read.parquet(s"$work/day3_batch")
      .where($"source" === "badsrc").count() > 0)
    // day 4: indicted in BOTH committed epochs — gated out BEFORE the
    // probes, with the exclusion row committed
    MockTransport.reset()
    val s4 = CurateMain.ingestDay(spark, sf, work, day = 4,
      batchOverride = batchFor(4))
    assert(s4.gatedSources == 1L, s"badsrc must gate on day 4: $s4")
    assert(spark.read.parquet(s"$work/day4_batch")
      .where($"source" === "badsrc").count() == 0,
      "the gated source must not reach the probes")
    val gateRow = spark.read.parquet(s"$work/source_gate/epoch=3")
      .where($"source" === "badsrc")
      .select($"epochs_alerted", $"excluded").as[(Long, Boolean)].collect()
    assert(gateRow.toSeq == Seq((2L, true)),
      s"the exclusion row must commit with its evidence count: " +
        s"${gateRow.toSeq}")
    // day 5: badsrc has NO day-4 health row to renew its verdict with,
    // but the committed exclusion persists — the gate must not
    // oscillate open on a debounce-long period
    MockTransport.reset()
    val s5 = CurateMain.ingestDay(spark, sf, work, day = 5,
      batchOverride = batchFor(5))
    assert(s5.gatedSources == 1L,
      s"exclusion must persist while the source stays unmeasured: $s5")
    assert(spark.read.parquet(s"$work/day5_batch")
      .where($"source" === "badsrc").count() == 0)
    // id-band invariant across the whole ladder (r20, the ADVICE
    // compounding fix): every default-batch day-N id must exceed every
    // day-(N−1) id AND stay inside the day's own band — the ordering
    // the differential identities and the nCross/nInternal split read
    val off20 = 1000000L
    (2 to 5).foreach { d =>
      val ids = spark.read.parquet(s"$work/day${d}_batch")
        .where($"source" =!= "badsrc")    // the planted source bands itself
        .select($"doc_id").as[Long].collect()
      val floor = off20 + (d - 2L) * 100000000L
      assert(ids.min >= floor && ids.max < floor + 100000000L,
        s"day $d ids [${ids.min}, ${ids.max}] escaped the band " +
          s"[$floor, ${floor + 100000000L})")
    }
    // ---- r20: EXPLICIT re-admission — the audited inverse of the
    // exclusion (no more hand-editing source_gate parquet). The record
    // forgives all committed evidence; the source re-enters the next
    // day's batch and the gate re-indicts from FRESH epochs only.
    CurateMain.readmitSource(spark, work, "badsrc", operator = "oncall")
    val rec = spark.read.parquet(s"$work/source_gate_readmit")
      .select($"source", $"operator", $"as_of_epoch")
      .as[(String, String, Long)].collect().toSeq
    assert(rec == Seq(("badsrc", "oncall", 4L)),
      s"the re-admission record must carry the audit trail: $rec")
    // day 6: re-admitted — badsrc reaches the probes again, and its
    // own day-6 health row indicts it afresh (alert #1 of the new era)
    MockTransport.reset()
    val s6 = CurateMain.ingestDay(spark, sf, work, day = 6,
      batchOverride = batchFor(6))
    assert(s6.gatedSources == 0L, s"re-admitted source must ingest: $s6")
    assert(spark.read.parquet(s"$work/day6_batch")
      .where($"source" === "badsrc").count() > 0,
      "the re-admitted source must be back in the batch")
    // day 7: one fresh alert < debounce — still admitted (alert #2 lands)
    MockTransport.reset()
    val s7 = CurateMain.ingestDay(spark, sf, work, day = 7,
      batchOverride = batchFor(7))
    assert(s7.gatedSources == 0L,
      s"one fresh alert must not re-gate (debounce 2): $s7")
    // day 8: indicted in both fresh committed epochs — re-gated, with
    // the exclusion row recommitted; the forgiven evidence stayed
    // forgiven (re-gating required a full fresh debounce)
    MockTransport.reset()
    val s8 = CurateMain.ingestDay(spark, sf, work, day = 8,
      batchOverride = batchFor(8))
    assert(s8.gatedSources == 1L,
      s"a still-bad source must re-gate on fresh evidence: $s8")
    assert(spark.read.parquet(s"$work/day8_batch")
      .where($"source" === "badsrc").count() == 0)
    assert(spark.read.parquet(s"$work/source_gate/epoch=7")
      .where($"source" === "badsrc").select($"excluded")
      .as[Boolean].collect().toSeq == Seq(true),
      "the fresh exclusion row must commit")
    graft.ops.Staged.releaseAll()
  }

  test("day-N epoch chains auto-compact under maxChain; registrations survive the merges") {
    import spark.implicits._
    // the ladder is the stream at daily cadence: without compaction,
    // day N's passage/span probes chain N partitions forever. At
    // maxChain=1 the policy fires daily; the on-disk chain must stay
    // bounded and every earlier day's registration must keep killing
    // its repeats THROUGH the merges (the compaction view guarantee,
    // exercised end-to-end in the capstone)
    val work = java.nio.file.Files
      .createTempDirectory("graft-curate-compact").toString
    val sf = "/root/testdata/sf0.001"
    val span = (1 to 8).map(i => s"zq$i").mkString(" ")   // day-2 novel span
    def mkBatch(rows: Seq[(Long, String, String)]) = Some(
      rows.map { case (id, t, src) => (id, t, "en", src) }
        .toDF("doc_id", "text", "lang", "source"))
    def spanChain: Int = Option(
      new java.io.File(s"$work/span_index").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("epoch="))
    MockTransport.reset()
    val docA = s"$span alpha1 beta2 gamma3 delta4 eps5 zeta6 eta7 theta8"
    val s2 = CurateMain.ingestDay(spark, sf, work, day = 2, maxChain = 1,
      batchOverride = mkBatch(Seq(
        (2000001L, docA, "d2src"),
        (2000002L, "wholly novel filler w1 w2 w3 w4 w5 w6 w7", "d2src"))))
    assert(s2.batch == 2L && spanChain <= 2,
      s"day-2 chain must stay bounded: $spanChain / $s2")
    val s3 = CurateMain.ingestDay(spark, sf, work, day = 3, maxChain = 1,
      batchOverride = mkBatch(Seq(
        // quotes day-2's span at an interior offset — must strip
        // against day-2's epoch-0 registration
        (3000001L, s"pre1x pre2x $span post1x post2x post3x post4x " +
          "post5x post6x post7x post8x", "d3src"),
        // exact re-crawl of day-2's doc — must die at the passage probe
        (3000002L, docA, "d3src"))))
    assert(s3.batch == 2L && spanChain <= 2,
      s"day-3 chain must stay bounded: $spanChain / $s3")
    val c3 = spark.read.parquet(s"$work/day3_curated")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(!c3.contains(3000002L),
      s"the exact re-crawl must die at the passage probe: ${c3.keySet}")
    assert(c3.contains(3000001L) && !c3(3000001L).contains("zq1"),
      s"day-2's span must strip day-3's quote: ${c3.get(3000001L)}")
    val s4 = CurateMain.ingestDay(spark, sf, work, day = 4, maxChain = 1,
      batchOverride = mkBatch(Seq(
        // the same day-2 span again — its registration now lives in a
        // COMPACTED partition; the verdict must not move
        (4000001L, s"qa1 qb2 $span qc3 qd4 qe5 qf6 qg7 qh8 qi9 qj10",
          "d4src"))))
    assert(s4.batch == 1L && spanChain <= 2,
      s"day-4 chain must stay bounded: $spanChain / $s4")
    val c4 = spark.read.parquet(s"$work/day4_curated")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(c4.contains(4000001L) && !c4(4000001L).contains("zq1"),
      s"the compacted registration must still strip: ${c4.get(4000001L)}")
    // no torn compaction debris
    assert(Option(new java.io.File(s"$work/span_index").listFiles()).toSeq
      .flatten.forall(!_.getName.startsWith("__compact_tmp_")),
      "every compaction must complete its swap")
    graft.ops.Staged.releaseAll()
  }

  test("quality stage per-gate accounting: each planted violation trips exactly its gate") {
    import spark.implicits._
    // one doc per Gopher gate, engineered to violate ONLY that gate at
    // the pipeline's fixture policy (minWords=5); doc 7 is clean
    val docs = Seq(
      1L -> "the dog is fine",                                        // 4 words
      2L -> ("it is extraordinarily incomprehensible " +
        "hippopotomonstrous sesquipedalian verbosity"),               // mwl > 10
      3L -> "the dogs are fine and it runs around #### here",         // hash heavy
      4L -> "the dogs... are fine... and it... runs around... town",  // ellipsis heavy
      5L -> "the total is 111 222 333 444 555 666 770",               // numeric
      6L -> "quick brown foxes jump over high fences daily",          // no stopwords
      7L -> "the quick brown fox jumps over a lazy dog and it runs to the river"
    ).toDF("doc_id", "text")
    val g = graft.ops.TextAnalysis.gopherRules(docs, "doc_id", "text",
      minWords = 5L, perGate = true)
    val cols = graft.ops.TextAnalysis.gopherGateCols
    val fails: Map[String, Set[Long]] = cols.map { c =>
      c -> g.where(col(c) === 0).select($"doc_id").as[Long].collect().toSet
    }.toMap
    val want = Map(
      "g_words" -> Set(1L), "g_word_len" -> Set(2L), "g_hash" -> Set(3L),
      "g_ellipsis" -> Set(4L), "g_alpha" -> Set(5L), "g_stop" -> Set(6L))
    assert(fails == want, s"per-gate verdicts drifted: $fails")
    assert(g.where($"pass" === 1).select($"doc_id").as[Long].collect().toSet
      == Set(7L), "only the clean doc passes the conjunction")
  }

  test("curation pipeline is pinned end-to-end at sf0.01") {
    MockTransport.reset()
    val out = java.nio.file.Files.createTempDirectory("graft-curate-spec").toString
    val s = CurateMain.run(spark, "/root/testdata/sf0.01", out)
    assert(s == CurateMain.CurateSummary(
      httpIngested = 50, input = 550, piiFlagged = 0, quality = 438,
      boilerplate = 438, exact = 438, passage = 435, nearDedup = 434,
      substring = 434, decontaminated = 429,
      mixed = 305, packs = 32, shards = 8, out = s"$out/curated",
      gateFails = Seq("g_words" -> 0L, "g_word_len" -> 0L, "g_hash" -> 0L,
        "g_ellipsis" -> 0L, "g_alpha" -> 0L, "g_stop" -> 112L,
        "score" -> 0L), quotations = 2L),
      s"stage counts drifted: $s")
    assert(contentHash(s.out) == "-17687168824452525766",
      s"curated content drifted: ${contentHash(s.out)}")
    assertRetriedOnce()
  }
}
