package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Tables

/** End-to-end training-corpus curation — every stage of the
  * LLM-data-pipeline surface composed into one runnable job:
  *
  *   paginated HTTP extract (auth/pagination/rate-limit/retry via the
  *   deterministic offline transport, with a planted 429) → union into
  *   the parquet corpus → scrub PII → quality filter → per-source
  *   boilerplate strip (template passages vanish from every doc) →
  *   exact dedup → passage-level dedup (cross-doc repeated passages;
  *   only docs that lost a passage take the rebuilt text) → near-dup
  *   clustering on the ORIGINAL text (keep cluster reps) →
  *   sliding-span substring dedup (repeats at ANY offset — the
  *   boundary-straddling and within-doc copies aligned passages miss)
  *   → benchmark decontamination (last text-modifying stage, so the
  *   no-shared-n-gram guarantee holds for the shipped text) →
  *   domain resampling to a target
  *   language mix → sequence packing → write curated parquet in
  *   stride-schedule curriculum order with per-doc DSIR importance
  *   weights toward the top-quality slice → quotation audit (x66
  *   directional containment over the SHIPPED corpus, audit-only) +
  *   one JSON summary line.
  *
  * Each stage is the same operator the query registry verifies against
  * the DuckDB oracle; this main exists to show (and smoke-test) the
  * composition a production pipeline would run. Stage order matters:
  * scrubbing precedes dedup (redaction canonicalizes near-identical
  * PII variants), doc-level near-dup precedes span dedup (it must
  * judge the text as crawled — a span-stripped near-copy no longer
  * resembles its original and would ship as a husk; both capstone
  * faces share this order, r19), decontamination is the LAST
  * text-modifying stage (the no-shared-n-gram guarantee must hold for
  * the shipped bytes), packing runs last (it consumes the final kept
  * set).
  *
  * Usage: runMain graft.CurateMain [sfDir] [outDir]
  */
object CurateMain {

  /** Per-stage survivor counts + output location — the pipeline's
    * verifiable contract (CurateMainSpec pins these and a content hash
    * of the curated table, so a regression in any composed operator
    * can't ship silently).
    */
  final case class CurateSummary(httpIngested: Long, input: Long,
      piiFlagged: Long, quality: Long, boilerplate: Long, exact: Long,
      passage: Long, nearDedup: Long, substring: Long, decontaminated: Long,
      mixed: Long, packs: Long, shards: Long, out: String,
      gateFails: Seq[(String, Long)] = Nil, quotations: Long = 0L) {
    def json: String = {
      val gf = gateFails.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s"""{"stage_counts":{"http_ingested":$httpIngested,"input":$input,""" +
        s""""pii_flagged":$piiFlagged,"quality":$quality,""" +
        s""""boilerplate":$boilerplate,""" +
        s""""exact":$exact,"passage":$passage,"near_dedup":$nearDedup,""" +
        s""""substring":$substring,"decontaminated":$decontaminated,""" +
        s""""mixed":$mixed,"packs":$packs,"shards":$shards},""" +
        s""""gate_fails":$gf,"quotations":$quotations,"out":"$out"}"""
    }
  }

  /** The page payload the connector stage parses (the mock provider's
    * shape — BSON-illegal keys included, so the sanitize transform has
    * real work).
    */
  private val pageSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("data",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user.name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.LongType)))))))

  /** Connector stage: a paginated, rate-limited HTTP feed of extra
    * documents (the reference's E1–E4 face) through the deterministic
    * offline transport. `mock_fail_every=3` plants a 429 on one page's
    * first attempt, so every run exercises the retry path; the reader's
    * token bucket paces the fetches. Records become document rows
    * (id-offset into a reserved range, deterministic text with enough
    * stopword mass to pass the quality gate honestly).
    */
  private def httpExtract(spark: SparkSession,
      idOffset: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.sources.http.{HttpPagedSource, MockTransport}
    val pages = spark.read.format(classOf[HttpPagedSource].getName)
      .option("url", "http://mock.local/api?mock_total=50&mock_fail_every=3")
      .option("pageSize", "20")
      .option("totalRecords", "50")
      .option("transport", classOf[MockTransport].getName)
      .option("ratePerSec", "10000")
      .load()
    val recs = pages
      .withColumn("parsed", from_json($"body", pageSchema))
      .select(explode($"parsed.data").as("rec"))
      .select($"rec.*")
    // T4 sanitize (user.name → user_name), then shape into corpus rows
    val clean = graft.etl.Transforms.sanitizeFields(recs)
    graft.etl.Transforms.requireNonNull("id")(clean)
      .select(($"id" + idOffset).as("doc_id"),
        // ids woven in every <5 tokens: no two api docs share a 5-token
        // run, so the decontamination stage (5-gram overlap) judges them
        // on real content, not on a common template suffix
        format_string(
          "the record %d holds the value %d and the user %s keeps " +
            "the row %d in a table of %d entries",
          $"id", $"value", $"user_name", $"id", $"value").as("text"),
        lit("en").as("lang"), lit("api").as("source"))
  }

  def main(args: Array[String]): Unit = {
    val incremental = args.contains("--incremental")
    // --day N (with --incremental): run day N of the rolling ingest
    // ladder against the same workDir — days must run in order (day N
    // probes the artifacts days 2..N-1 registered)
    val dayIdx = args.indexOf("--day")
    val day =
      if (dayIdx < 0) 2
      else args.lift(dayIdx + 1).map(_.trim)
        .filter(_.matches("-?\\d+")).map(_.toInt)
        .getOrElse(sys.error("--day requires a numeric argument, e.g. " +
          "--incremental --day 3 [sfDir] [workDir]"))
    val rest = args.zipWithIndex.filterNot { case (a, i) =>
      a == "--incremental" || i == dayIdx || (dayIdx >= 0 && i == dayIdx + 1)
    }.map(_._1)
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = rest.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-curate").toString)
    val spark = GraftSession.local("graft-curate")
    if (incremental) println(ingestDay(spark, sfDir, outDir, day).json)
    else println(run(spark, sfDir, outDir).json)
    spark.stop()
  }

  /** The pipeline itself, session-agnostic so tests can drive it. */
  def run(spark: SparkSession, sfDir: String, outDir: String): CurateSummary = {
    import spark.implicits._

    // 0. connector extract (E1-E4) unioned into the parquet corpus —
    // one corpus regardless of which source a document arrived through
    val corpus = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    // API docs live in a reserved id range: base 1_000_000, lifted to
    // max(doc_id)+1 when a larger corpus exceeds it. A FIXED offset
    // silently merged distinct documents in exact dedup/decontam on id
    // collision; on the standard fixtures the corpus max stays below
    // the base, so ids (and capstone hashes) are unchanged there.
    // empty corpus → NULL max aggregate; fall back to the reserved base
    val maxRow = corpus.agg(max($"doc_id")).head()
    val maxDocId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val api = Staged(httpExtract(spark, math.max(1000000L, maxDocId + 1L)))
    val nHttp = api.count()
    val docs = corpus.unionByName(api)
    val nTotal = docs.count()

    // 1. PII scrub: redact in place, keep per-doc detection counts
    val scrubbed = Staged(Scrub.scrub(docs, "doc_id", "text")
      .join(docs.drop("text"), Seq("doc_id"))
      .withColumnRenamed("redacted", "text"))
    val nPii = scrubbed
      .where($"n_emails" + $"n_urls" + $"n_long_nums" > 0).count()

    // 2. quality gate: the x07 score AND the x60 Gopher rule gates —
    // production recipes (Gopher, FineWeb) run rules AND a model/score
    // filter; a doc must clear both. minWords=5 is fixture policy (the
    // synthetic docs run 9–99 words; a production crawl raises it to
    // Gopher's 50). Per-gate violator counts ride the summary so a
    // rule that starts eating a crawl is visible in the stage report,
    // not just as a shrinking survivor count.
    val gated = Staged(TextAnalysis.gopherRules(
      scrubbed.withColumn("quality", TextAnalysis.qualityScore($"text")),
      "doc_id", "text", minWords = 5L,
      keep = Seq("text", "lang", "source", "quality"), perGate = true))
    val failRow = gated.agg(
      coalesce(sum(when(col(TextAnalysis.gopherGateCols.head) === 0, 1L)
        .otherwise(0L)), lit(0L)).as("f0"),
      TextAnalysis.gopherGateCols.tail.map(c =>
        coalesce(sum(when(col(c) === 0, 1L).otherwise(0L)), lit(0L)).as(c))
        :+ coalesce(sum(when($"quality" < 0.5, 1L).otherwise(0L)), lit(0L))
          .as("score"): _*).head()
    val gateFails = (TextAnalysis.gopherGateCols :+ "score").zipWithIndex
      .map { case (c, i) => c -> failRow.getLong(i) }
    val quality = Staged(gated
      .where($"pass" === 1 && $"quality" >= 0.5)
      .select($"doc_id", $"text", $"lang", $"source", $"quality"))
    val nQuality = quality.count()

    // 2b. per-source boilerplate strip (x55): template content must
    // vanish from EVERY doc — 3b's first-occurrence rule alone would
    // let each template survive once. Runs BEFORE exact dedup so docs
    // differing only in template framing canonicalize and dedup. Same
    // rebuild discipline as 3b: only docs that lost a passage take the
    // normalized rebuilt text; pure-template docs (n_kept=0) drop.
    // support bar tuned to the fixture's source sizes (tens of docs):
    // ≥2 docs and ≥5% of the source; a production crawl with millions
    // of docs per domain raises both knobs, same plan shape
    val bp = Scrub.removeBoilerplate(quality, "doc_id", "source", "text",
      window = 8, minFrac = 0.05, minDocs = 2)
    // localCheckpoint, not Staged: the strip's support/anti-join plan
    // re-embeds the whole upstream lineage several times; every later
    // stage would multiply it again (passage dedup alone re-enters its
    // input ~4×) until the plan STRING is OOM-sized. Truncating here
    // resets downstream plan depth to what it was before this stage.
    val deboiler = quality
      .join(bp.select($"doc_id", $"clean_text", $"n_kept", $"n_dropped"),
        Seq("doc_id"), "left")
      .where($"n_kept".isNull || $"n_kept" > 0)
      .withColumn("text",
        when($"n_dropped" > 0, $"clean_text").otherwise($"text"))
      .drop("clean_text", "n_kept", "n_dropped")
      .localCheckpoint()
    val nBoiler = deboiler.count()

    // 3. exact dedup (min id per identical text)
    val exact = Staged(deboiler
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"text").orderBy($"doc_id")))
      .where($"__rk" === 1).drop("__rk"))
    val nExact = exact.count()

    // 3b. passage-level dedup: strip cross-doc boilerplate PASSAGES
    // (whole-doc dedup can't see boilerplate inside otherwise-distinct
    // docs). Only docs that actually LOST a passage take the rebuilt
    // text — the rebuild is the normalized token join, and rewriting
    // untouched docs would destroy casing/punctuation corpus-wide.
    // Docs with no [a-z0-9] tokens have no passages at all (absent
    // from the dedup output) and keep their original text; docs whose
    // every passage was a repeat drop out entirely. The 8-token grain
    // keeps chance common-phrase alignments from deleting text the
    // way a trigram grain would.
    val pd = Dedup.passageDedup(exact, "doc_id", "text", window = 8)
    val passaged = Staged(
      exact.join(pd, Seq("doc_id"), "left")
        .where($"n_kept".isNotNull ||
          size(TextAnalysis.tokens($"text")) === 0)
        .withColumn("text",
          when($"n_dropped" > 0, $"clean_text").otherwise($"text"))
        .drop("clean_text", "n_kept", "n_dropped"))
    val nPassage = passaged.count()

    // 4. near-dup clustering on ORIGINAL (pre-span) text; keep each
    // cluster's representative. BEFORE the span stage (r19 — the
    // published fuzzy-before-exact-substring order the incremental
    // face always ran): doc-level similarity must judge the text as
    // crawled, because a span-stripped near-copy no longer Jaccard-
    // resembles its original and would ship as a husk of duplicated
    // context. The flip side (a contaminated doc suppressing its
    // near-dups before decontam kills it) is conservative-correct:
    // near-copies of a contaminated doc share its benchmark n-grams,
    // and decontam still runs last so no contaminated text ships.
    val pairs = Dedup.minHashLsh(passaged, "doc_id", "text", threshold = 0.8)
    val clusters = Dedup.connectedComponents(pairs)
    val kept = Staged(passaged.join(
      broadcast(clusters.where($"doc_id" =!= $"cluster_rep")
        .select($"doc_id")),
      Seq("doc_id"), "left_anti"))
    val nKept = kept.count()

    // 5. sliding-span (ExactSubstr) dedup — the x95 stage the aligned
    // ladder misses: a copied span at ANY offset (boundary-straddling
    // repeats, within-doc template stamps the first of which 3b keeps)
    // drops everywhere but its global first occurrence. Same rebuild
    // discipline as 3b — only docs that LOST a span take the
    // normalized rebuilt text; tokenless docs ride through — plus the
    // SHORT-REMAINDER drop of the published ExactSubstr deployments:
    // a doc whose surviving tokens no longer fill one window is a husk
    // of duplicated context (fragments too short to span-match or to
    // train on), and shipping it would let a near-copy survive as its
    // one-token residue. localCheckpoint, deboiler's rationale: the
    // span closure re-enters its input several times and every later
    // stage would multiply the lineage again.
    val sd = Dedup.substringDedup(kept, "doc_id", "text", window = 8)
    val spanned = kept.join(
        sd.select($"doc_id", $"n_tokens", $"n_dropped",
          $"clean_text".as("__sd_clean")), Seq("doc_id"))
      .where($"n_tokens" === 0 || $"n_dropped" === 0 ||
        $"n_tokens" - $"n_dropped" >= 8)
      .withColumn("text",
        when($"n_dropped" > 0, $"__sd_clean").otherwise($"text"))
      .drop("n_tokens", "n_dropped", "__sd_clean")
      .localCheckpoint()
    val nSpan = spanned.count()

    // 6. decontamination against the held-out benchmark slice — the
    // LAST text-modifying stage, AFTER the span rebuild, so the
    // no-shared-5-gram guarantee holds for the text that actually
    // ships: a rebuild that splices out a span joins its neighbors and
    // can fabricate n-grams that never existed when an earlier check
    // ran
    val bench = spanned.where($"doc_id" % 101 === 0)
    val train = spanned.where($"doc_id" % 101 =!= 0)
    val clean = Staged(Decontam.removeContaminated(
      train, bench, "doc_id", "text", n = 5))
    val nClean = clean.count()

    // 7. temperature-flatten the language mix (α = 0.5, the published
    // multilingual recipe — x76's operator: the head crawl language
    // stops drowning the tail without the hard equalization a uniform
    // target forces; downsample-only, the smallest language keeps
    // everything, rates derived from the survivors themselves)
    val mixed = Staged(Sampling.temperatureSample(clean, "doc_id", "lang", 0.5))
    val nMixed = mixed.count()

    // 8. pack into token-budget sequences per language shard, priced
    // in REAL subword tokens under a tokenizer fit on the shipped
    // corpus (x72 × x19, the x77 composition): word-priced packs
    // systematically overflow on high-fertility docs — the budget is
    // context-window slots, so the packing unit must be the
    // tokenizer's, not whitespace's. Tokenless survivors pack at
    // n_tok = 0 (left join) rather than silently dropping.
    val bpeFit = Bpe.fit(mixed.select($"doc_id", $"text"), "text", nMerges = 16)
    val bpeCounts = Bpe.tokenize(mixed.select($"doc_id", $"text"),
      "doc_id", "text", bpeFit).select($"doc_id", $"n_bpe_tokens")
    val packed = Packing.packBy(
      mixed.join(bpeCounts, Seq("doc_id"), "left"),
      "lang", "doc_id", coalesce($"n_bpe_tokens", lit(0L)).cast("long"),
      budget = 2048)
    val nPacks = packed.select($"lang", $"pack_id").distinct().count()

    // 9. writer metadata: a stride-schedule curriculum position (seq —
    // streaming the output front-to-back consumes a balanced source
    // mix at every prefix) and a DSIR importance log-weight toward the
    // corpus's own top-quality slice (downstream loaders can
    // temperature-sample on it without re-deriving the model).
    // localCheckpoint: seq and ilw each re-enter the final frame as
    // joins, so without truncation the six-stage lineage embeds
    // multiple times over and the PLAN STRING alone is OOM-sized.
    val base = mixed
      .select($"doc_id", $"lang", $"source", $"text", $"quality")
      .localCheckpoint()
    val seqd = Curriculum.interleave(base, "doc_id", "source",
      Map.empty[String, Int])
    val ilw = graft.ops.Dsir.importanceWeights(
      base, base.where($"quality" >= 0.8), "doc_id", "text")

    val curated = base
      .join(seqd.select($"doc_id", $"seq"), Seq("doc_id"))
      .join(ilw.select($"doc_id", $"ilw"), Seq("doc_id"), "left")
      .localCheckpoint()
    curated.orderBy($"seq")
      .write.mode("overwrite").parquet(s"$outDir/curated")

    // 9b. quotation audit (x66): directional containment within lang
    // over the SHIPPED corpus — inclusions that survive near-dedup
    // because a short doc quoted inside a long one has tiny Jaccard.
    // Audit-only: the pairs land in quotation_audit/ and a count in
    // the summary; the curated text is final and never modified here.
    val quot = Dedup.ngramContainmentBlocked(
      curated.select($"doc_id", $"lang", $"text"),
      "doc_id", "text", "lang", n = 3, threshold = 0.75)
      .localCheckpoint()
    quot.write.mode("overwrite").parquet(s"$outDir/quotation_audit")
    val nQuot = quot.count()

    // 10. loader-facing exports — the write-side operators the registry
    // verifies individually (x36, x42), composed with the curriculum:
    //  - sharded export: hash membership (reproducible across re-runs),
    //    WITHIN-shard order = curriculum `seq`, so any shard streamed
    //    front-to-back consumes the interleave's balanced source mix
    //    restricted to that shard — the training-loader handoff shape
    //  - z-order export: clustered on (source, quality bucket) so the
    //    "high-quality docs of source X" box scan prunes row groups in
    //    BOTH dimensions (Layout.rowGroupsTouched measures it)
    val nShards = 8L
    Sharding.writeShards(curated, "doc_id", nShards.toInt,
      s"$outDir/shards", orderCol = Some("seq"))
    val srcs = curated.select($"source").distinct()
      .orderBy($"source").as[String].collect()
    // bits sized to the wider dimension's domain: sources get a dense
    // driver-side index (O(#sources) — domains, not rows), quality in
    // [0,1] buckets onto the same grid
    val zBits = math.max(4,
      32 - Integer.numberOfLeadingZeros(math.max(1, srcs.length - 1)))
    val srcIdx = map(srcs.zipWithIndex.flatMap { case (s, i) =>
      Seq(lit(s), lit(i))
    }: _*)
    val lim = 1 << zBits
    Layout.zorderWrite(
      curated
        .withColumn("src_idx", element_at(srcIdx, $"source").cast("long"))
        .withColumn("q_bucket",
          least(floor($"quality" * lim), lit(lim - 1)).cast("long")),
      "src_idx", "q_bucket", s"$outDir/curated_zorder",
      numFiles = nShards.toInt, bits = zBits)
    Staged.releaseAll()

    CurateSummary(nHttp, nTotal, nPii, nQuality, nBoiler, nExact, nPassage,
      nKept, nSpan, nClean, nMixed, nPacks, nShards, s"$outDir/curated",
      gateFails, nQuot)
  }

  /** Day-2 survivor counts of the incremental face — the daily-ingest
    * contract CurateMainSpec pins against a full re-dedup restricted to
    * the batch. `passageKept` is the batch after the passage-index
    * probe (exact re-crawls die here), `survivors` after the LSH probe
    * (near re-crawls die here), `spanKept` after the span-index probe
    * (corpus quotes strip here — the FINAL day-2 doc count);
    * `appendedVecs`/`probeHit` cover the vector-index leg (day-2
    * embeddings appended, then found).
    */
  final case class IncrementalSummary(indexed: Long, batch: Long,
      passageKept: Long, spanKept: Long, crossPairs: Long,
      internalPairs: Long,
      survivors: Long, appendedVecs: Long, probeHit: Boolean, out: String,
      novelty: Double = -1.0, oovRate: Double = -1.0,
      annRecall: Double = -1.0, monitorAlerts: Long = -1L,
      pqAgreement: Double = -1.0, stagedAgreement: Double = -1.0,
      fertility: Double = -1.0, refitRan: Boolean = false,
      postRefitStagedAgreement: Double = -1.0, refitK: Int = -1,
      klDrift: Double = -1.0, day: Int = 2, gatedSources: Long = 0L) {
    def json: String =
      s"""{"incremental":{"day":$day,"indexed":$indexed,"batch":$batch,""" +
        s""""gated_sources":$gatedSources,""" +
        s""""passage_kept":$passageKept,"span_kept":$spanKept,""" +
        s""""cross_pairs":$crossPairs,"internal_pairs":$internalPairs,""" +
        s""""survivors":$survivors,"appended_vecs":$appendedVecs,""" +
        s""""probe_hit":$probeHit},"monitors":{"novelty":$novelty,""" +
        s""""oov_rate":$oovRate,"ann_recall":$annRecall,"fertility":$fertility,""" +
        s""""kl":$klDrift,""" +
        s""""alerts":$monitorAlerts},"serving":{"pq_agreement":$pqAgreement,""" +
        s""""staged_agreement":$stagedAgreement,"refit_ran":$refitRan,""" +
        s""""post_refit_staged_agreement":$postRefitStagedAgreement,""" +
        s""""refit_k":$refitK},""" +
        s""""out":"$out"}"""
  }

  /** Marker helpers through the Hadoop FileSystem of the path — a
    * `java.io.File` check never sees an HDFS/S3 marker, so the day-1
    * build would silently re-run (and the marker land on the wrong
    * filesystem) every day at the 100 TB deployment shape.
    */
  private def markerFs(spark: SparkSession,
      p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hasMarker(spark: SparkSession, p: String): Boolean =
    markerFs(spark, p).exists(new org.apache.hadoop.fs.Path(p))
  private def touchMarker(spark: SparkSession, p: String): Unit =
    markerFs(spark, p).create(new org.apache.hadoop.fs.Path(p), true).close()

  /** The INCREMENTAL face of the capstone — the shape a daily pipeline
    * actually runs at 100 TB, where `run`'s one-shot `minHashLsh` over
    * the whole corpus would re-shingle yesterday's exabytes every day:
    *
    *   day 1: persist the corpus's indexes once — the LSH index
    *   ([[graft.ops.Dedup.writeLshIndex]] — bucketed+sorted band and
    *   shingle tables, the layout the DedupSpec plan pin keeps off the
    *   shuffle path), the passage index
    *   ([[graft.ops.Dedup.writePassageIndex]] — the corpus's distinct
    *   8-token windows, bucketed on the passage key), and the IVF
    *   vector index over the corpus embeddings
    *   ([[graft.ops.Ivf.buildPersistent]] — `cluster=`-partitioned, so
    *   probes prune partitions); then
    *   day 2: ingest a fresh batch (the HTTP connector feed plus THREE
    *   re-crawled corpus slices under new ids: an EXACT re-crawl, the
    *   repeat-content shape the passage index kills outright; a NEAR
    *   re-crawl — one prepended token, so no aligned 8-token window
    *   matches the index but shingle Jaccard stays ≈ S/(S+1) — which
    *   sails through the passage probe and dies at the LSH probe; and
    *   a QUOTE re-use — a 16-token corpus excerpt at an interior
    *   offset inside novel text, invisible to both (unaligned, and a
    *   Jaccard minority) — whose quoted span the span index strips)
    *   and suppress its duplicates via ONE probe per index
    *   ([[graft.ops.Dedup.incrementalPassageDedup]], then
    *   [[graft.ops.Dedup.incrementalNearDup]], then
    *   [[graft.ops.Dedup.incrementalSubstringDedupStaged]] — the
    *   published fuzzy-before-exact-substring order, because doc-level
    *   near-dup must judge original text), each with network cost
    *   O(batch), independent of corpus size. Day-2 embeddings (the
    *   exact re-crawl slice's vectors under their new ids) are
    *   registered via [[graft.ops.Ivf.appendToIndex]] — assign to
    *   nearest existing centroid, append to the pruned layout, no
    *   refit — and a post-append probe must find an appended id.
    *
    * Stage order mirrors `run`: passage dedup BEFORE near-dup
    * clustering, and only docs that LOST a passage take the rebuilt
    * text. Survivors follow the SAME rule as `run`'s stage 5:
    * connected components over the verified pair graph, keep a doc iff
    * it is its cluster's representative (min id). Every batch id
    * exceeds every corpus id by construction, so a batch doc survives
    * iff its cluster touches no corpus doc and it is the first batch
    * doc in it — which is exactly `minHashLsh(corpus ∪ passaged)` +
    * CC + keep-reps restricted to the batch, where `passaged` is
    * itself `passageDedup(corpus ∪ batch)` restricted to the batch
    * (the x33 identity; corpus-internal pairs, the one edge class the
    * probe graph omits, only link corpus nodes and cannot change any
    * batch doc's rep-ness). CurateMainSpec pins both identities by
    * running both sides.
    */
  def runIncremental(spark: SparkSession, sfDir: String,
      workDir: String, refitOnAlert: Boolean = true,
      servingAlertBelow: Double = 0.5): IncrementalSummary =
    ingestDay(spark, sfDir, workDir, day = 2, refitOnAlert,
      servingAlertBelow)

  /** The default day-`day` arriving batch. Day 2 is the fixed fixture
    * slice the differential spec pins (connector feed + three
    * re-crawled CORPUS slices). Day ≥ 3 re-crawls YESTERDAY: the
    * connector feed under a fresh id band, an EXACT re-crawl of half
    * of yesterday's raw batch (every aligned window of every
    * yesterday-batch doc is committed — corpus index ∪ yesterday's
    * epoch registration — so the passage probe kills the slice
    * outright), a NEAR re-crawl of yesterday's unmodified survivors
    * (dies at the LSH probe against yesterday's registered survivors),
    * and a QUOTE re-use of a 16-token excerpt of yesterday's
    * unmodified survivors at an interior offset (only yesterday's
    * registered spans catch it). Ids: every day-N id exceeds every
    * day-(N−1) id — day N's ids live entirely INSIDE the day's own
    * band `[off + (N−2)·10⁸, off + (N−1)·10⁸)` (r20: a per-slice
    * sub-band plus a dense row_number over the source rows, instead
    * of adding offsets to prior-day ids — the old compounding scheme
    * smeared day-4 near/quote ids past day-5's band floor, violating
    * the ordering invariant the differential identities and the
    * nCross/nInternal split rely on from day 5).
    */
  private[graft] def dayBatch(spark: SparkSession, workDir: String,
      day: Int, corpus: org.apache.spark.sql.DataFrame,
      off: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dayOff = off + (day - 2L) * 100000000L
    val api = httpExtract(spark, dayOff)
    if (day == 2) {
      val recrawlExact = corpus.where($"doc_id" % 7 === 3)
        .select(($"doc_id" + off + 1000L).as("doc_id"), $"text", $"lang",
          lit("recrawl").as("source"))
      val recrawlNear = corpus.where($"doc_id" % 7 === 5)
        .select(($"doc_id" + off + 1000000L).as("doc_id"),
          concat(lit("recrawlnear "), $"text").as("text"), $"lang",
          lit("recrawl_near").as("source"))
      // the QUOTE slice (r18): an 8+-token corpus excerpt at an
      // interior offset inside otherwise-novel text — the victim class
      // only the span probe catches (unaligned ⇒ the passage probe
      // misses it; minority-of-the-doc ⇒ shingle Jaccard stays far
      // below the LSH threshold). The id woven into both filler flanks
      // keeps the flanks from span-matching across quote docs, and the
      // 9 filler tokens clear the short-remainder bar.
      val recrawlQuote = corpus.where($"doc_id" % 7 === 1)
        .where(size(TextAnalysis.tokens($"text")) >= 16)
        .select(($"doc_id" + off + 2000000L).as("doc_id"),
          concat(format_string("record %d cites ", $"doc_id"),
            array_join(slice(TextAnalysis.tokens($"text"), 1, 16), " "),
            format_string(" as noted by reviewer %d here", $"doc_id"))
            .as("text"),
          $"lang", lit("recrawl_quote").as("source"))
      api.unionByName(recrawlExact).unionByName(recrawlNear)
        .unionByName(recrawlQuote)
    } else {
      // the offline mock serves the SAME 50 records every day; a real
      // feed serves fresh pages. Weave the day into every token so the
      // day-N feed is NOVEL content — without this the probes (rightly)
      // kill the whole feed as an exact re-crawl of day 2's, which is
      // the engine working, not a fixture
      val apiFresh = api.withColumn("text", array_join(
        transform(TextAnalysis.tokens($"text"),
          t => concat(t, lit(s"d$day"))), " "))
      val prevBatch = spark.read.parquet(s"$workDir/day${day - 1}_batch")
        .select($"doc_id", $"text", $"lang", $"source")
      // survivors shipped AS CRAWLED (span-stripped survivors' shipped
      // text differs from any live page a re-crawler would fetch, so
      // the near/quote slices re-use the unmodified ones)
      val unmod = spark.read
        .parquet(s"$workDir/day${day - 1}_curated")
        .select($"doc_id", $"text", $"lang")
        .join(spark.read.parquet(s"$workDir/day${day - 1}_kept")
          .select($"doc_id", $"text".as("__orig")), Seq("doc_id"))
        .where($"text" === $"__orig").drop("__orig")
      // reband INTO the day's own sub-band: ids = dayOff + slice
      // sub-band + dense row_number over the source rows (ordered by
      // the source id — deterministic across replays). The text is
      // woven with the SOURCE id before rebanding, so flanks stay
      // unique per source doc. The single-partition window is fine
      // here: these slices are fixture-batch-sized by construction
      // (a production pipeline passes batchOverride).
      def reband(df: org.apache.spark.sql.DataFrame,
          subBand: Long): org.apache.spark.sql.DataFrame =
        df.withColumn("doc_id", lit(dayOff + subBand) +
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy($"doc_id")))
      val recrawlPrev = reband(prevBatch.where($"doc_id" % 2 === 0),
        1000000L)
        .select($"doc_id", $"text", $"lang",
          lit(s"recrawl_d${day - 1}").as("source"))
      val nearPrev = reband(unmod.where($"doc_id" % 3 === 0)
          .withColumn("text", concat(lit("recrawlnear "), $"text")),
        2000000L)
        .select($"doc_id", $"text", $"lang",
          lit(s"recrawl_near_d${day - 1}").as("source"))
      val quotePrev = reband(unmod.where($"doc_id" % 3 === 1)
          .where(size(TextAnalysis.tokens($"text")) >= 16)
          .withColumn("text",
            concat(format_string("record %d cites ", $"doc_id"),
              array_join(slice(TextAnalysis.tokens($"text"), 1, 16), " "),
              format_string(" as noted by reviewer %d here", $"doc_id"))),
        3000000L)
        .select($"doc_id", $"text", $"lang",
          lit(s"recrawl_quote_d${day - 1}").as("source"))
      apiFresh.unionByName(recrawlPrev).unionByName(nearPrev)
        .unionByName(quotePrev)
    }
  }

  /** Re-admit a gated source — the explicit, auditable inverse of the
    * acquisition gate's exclusion (r20; previously re-admission meant
    * hand-deleting `source_gate/` rows, while takeover got a fenced
    * operation — the asymmetry the r19 verdict named). Writes a
    * re-admission record (source, operator, as_of_epoch) that the next
    * [[ingestDay]] reads: evidence from epochs ≤ `as_of_epoch` — both
    * health indictments and committed exclusion rows — no longer
    * counts against the source, so it re-enters the batch; the gate
    * re-indicts from FRESH evidence if the source is still bad
    * (`gateDebounce` new alerting epochs re-gate it, exactly like a
    * new source). `as_of_epoch` is stamped from the newest committed
    * gate epoch at call time, so the record is itself the audit trail:
    * who re-admitted what, forgiving which evidence. Like
    * [[graft.streaming.VectorStreams.takeoverMaintLease]], this is an
    * operator action between days — replaying a day that ran BEFORE
    * the re-admission reproduces that day only if the record is
    * restored too (operator interventions are outside the warm-replay
    * contract, as with takeover).
    */
  def readmitSource(spark: SparkSession, workDir: String, source: String,
      operator: String): Unit = {
    require(source.nonEmpty, "readmitSource: source must be non-empty")
    require(operator.nonEmpty,
      "readmitSource: the operator token must be non-empty — " +
        "re-admission is an audited human decision")
    import spark.implicits._
    val asOf = graft.streaming.Streams
      .epochsBefore(spark, s"$workDir/source_gate", Long.MaxValue)
      .lastOption.getOrElse(-1L)
    Seq((source, operator, asOf))
      .toDF("source", "operator", "as_of_epoch")
      .write.mode("append").parquet(s"$workDir/source_gate_readmit")
  }

  /** Day `day` of the rolling ingest ladder — [[runIncremental]]
    * generalized from the hard-wired day 2 (r19, closing the
    * overwrite-on-day-3 gap): the batch slice, the span/passage
    * registration epoch, the per-day output paths, the monitor epoch,
    * and the single-fire refit guard are all functions of `day`, so a
    * day-3 run DEDUPS AGAINST day-2's registrations instead of
    * overwriting them. Epoch conventions: monitors commit at
    * `epoch = day−1` (the corpus is epoch 0), span/passage
    * registrations at `epoch = day−2` (the corpus seed sits at
    * `epoch=-1` for spans and in the base bucketed table for
    * passages), and each probe reads strictly EARLIER epochs — so a
    * warm replay of day N re-reads exactly the prefix days 2..N−1
    * committed and rewrites its own partitions drop-and-rewrite,
    * byte-identically (replay the ladder's HEAD: running day N+1
    * mutates the shared LSH/IVF artifacts days ≤ N probe).
    *
    * Cross-day registration: fresh spans land at `epoch = day−2`
    * (hash-keyed — the x99 production layout: the artifact that lives
    * forever stores 8-byte keys), fresh passages likewise, and
    * yesterday's shipped survivors are LSH-registered LAZILY at the
    * START of day N (marker-gated) — an eager same-day append would
    * poison the day's own warm replay, because the LSH index has no
    * epoch axis for the probe to exclude it by.
    *
    * The acquisition GATE (r19): before the probes, the last
    * `gateDebounce` committed per-source health epochs are read; a
    * source indicted in ALL of them is excluded from today's batch,
    * with the exclusion accounting committed to
    * `source_gate/epoch=<day−1>` — the maintainEpoch pattern
    * (sustained evidence → act → record) applied to acquisition.
    */
  def ingestDay(spark: SparkSession, sfDir: String,
      workDir: String, day: Int, refitOnAlert: Boolean = true,
      servingAlertBelow: Double = 0.5,
      batchOverride: Option[org.apache.spark.sql.DataFrame] = None,
      gateDebounce: Int = 2, maxChain: Int = 16,
      dayVecsOverride: Option[Int => org.apache.spark.sql.DataFrame] = None)
      : IncrementalSummary = {
    import spark.implicits._
    require(day >= 2, s"the ingest ladder starts at day 2, got $day")
    require(gateDebounce >= 1, s"gateDebounce must be >= 1: $gateDebounce")
    val me = day - 1L   // monitor epoch
    val se = day - 2L   // span/passage registration epoch
    val corpus = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
    val maxRow = corpus.agg(max($"doc_id")).head()
    val maxDocId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val off = math.max(1000000L, maxDocId + 1L)
    val nIndexed = corpus.count()
    // day-1 build (idempotent per workDir: each index rebuilt only when
    // its marker is absent — the once-then-amortize cost structure the
    // incremental face exists for; one marker per index, so a crash
    // between builds re-runs only the missing ones)
    val idxPath = s"$workDir/lsh_index"
    if (!hasMarker(spark, s"$idxPath/_OK")) {
      Dedup.writeLshIndex(corpus, "doc_id", "text", idxPath, threshold = 0.8)
      touchMarker(spark, s"$idxPath/_OK")
    }
    val pasPath = s"$workDir/passage_index"
    if (!hasMarker(spark, s"$pasPath/_OK")) {
      Dedup.writePassageIndex(corpus, "doc_id", "text", window = 8, pasPath)
      touchMarker(spark, s"$pasPath/_OK")
    }
    // span index (r18, the x95/x97 stage in the daily ladder): the
    // corpus's sliding spans committed as the streaming layout's seed
    // partition (epoch=-1 — below every batch epoch), so each day
    // probes it exactly as substringDedupStream's batch 0 would.
    // HASH-KEYED (r19): the persisted artifact stores xxhash64 longs —
    // at 100 TB the index is where the bytes bill, and the probe's
    // span exchanges move 8 bytes/row (x98's budget: ~0.03 colliding
    // pairs at 10¹² spans, dedup-side error only).
    val spanPath = s"$workDir/span_index"
    if (!hasMarker(spark, s"$spanPath/_OK")) {
      graft.streaming.Streams.seedSpanIndex(corpus, spanPath,
        "doc_id", "text", window = 8, hashed = true)
      touchMarker(spark, s"$spanPath/_OK")
    }
    // IVF day-1: built once; thereafter the COMMITTED index is
    // authoritative whatever its k — a refit-on-alert below may have
    // policy-resized it, so a warm re-run must never let the builder's
    // default k outrank the committed marker (ensurePersistent, r17:
    // buildPersistent here clobbered a resized index on warm replay)
    val embeddings = Tables(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val ivfPath = s"$workDir/ivf_index"
    Ivf.ensurePersistent(embeddings, ivfPath, "vec_id", "embedding"): Unit
    // LAZY LSH registration of YESTERDAY's shipped survivors (their
    // ORIGINAL text — doc-level near-dup judges text as crawled): a
    // same-day append would poison the day's own warm replay (the
    // probe would see the batch's own registration on re-run), so day
    // N commits day N−1's survivors before its own probe, marker-gated
    if (day >= 3 && !hasMarker(spark, s"$idxPath/_DAY${day - 1}_REGISTERED")) {
      Dedup.appendToLshIndex(
        spark.read.parquet(s"$workDir/day${day - 1}_kept")
          .join(spark.read.parquet(s"$workDir/day${day - 1}_curated")
            .select($"doc_id"), Seq("doc_id"))
          .select($"doc_id", $"text"),
        idxPath, "doc_id", "text")
      touchMarker(spark, s"$idxPath/_DAY${day - 1}_REGISTERED")
    }
    // ---- acquisition GATE (r19): the health table ACTING on ingest.
    // A source indicted (the healthVerdicts rule: relative novelty
    // floor ∨ dup ceiling ∨ uncertifiable) in ALL of the last
    // `gateDebounce` COMMITTED health epochs is excluded from today's
    // batch before any probe spends a byte on it; the exclusion rows
    // commit next to the health epochs. Reads strictly EARLIER epochs
    // ⇒ replay-pure (today's own health row lands later at epoch=me).
    val healthPath = s"$workDir/source_health"
    val gateWindow = graft.streaming.Streams
      .epochsBefore(spark, healthPath, me).takeRight(gateDebounce)
    // committed re-admissions (r20, [[readmitSource]]): per source, the
    // newest epoch whose evidence an operator explicitly forgave —
    // indictments and exclusions at epochs ≤ as_of_epoch don't count,
    // so the source re-enters the batch and the gate re-indicts only
    // from fresh evidence
    val readmitPath = s"$workDir/source_gate_readmit"
    val readmitted: Map[String, Long] =
      if (!hasMarker(spark, readmitPath)) Map.empty
      else spark.read.parquet(readmitPath)
        .groupBy($"source").agg(max($"as_of_epoch"))
        .as[(String, Long)].collect().toMap
    val gateVerdicts = gateWindow.map { e =>
      val indicted = Acquisition.healthVerdicts(
        spark.read.parquet(s"$healthPath/epoch=$e"), "source")._2.toSet
      // an epoch the source sat EXCLUDED in counts as still-indicted:
      // a gated source has no health row to renew its verdict with, so
      // without this the gate would oscillate on a debounce-long
      // period (gated → unmeasured → re-admitted → re-gated).
      // Exclusion persists until an operator commits a re-admission
      // record via [[readmitSource]] — an explicit, audited decision,
      // like takeover.
      val priorGate = s"$workDir/source_gate/epoch=$e"
      val excluded =
        if (!hasMarker(spark, priorGate)) Set.empty[String]
        else spark.read.parquet(priorGate).where($"excluded")
          .select($"source").as[String].collect().toSet
      (indicted ++ excluded)
        .filterNot(s0 => readmitted.get(s0).exists(_ >= e))
    }
    val alertCounts = gateVerdicts.flatten
      .groupBy(identity).map { case (s0, v) => (s0, v.size.toLong) }
    val gatedOut: Set[String] =
      if (gateWindow.size < gateDebounce) Set.empty
      else alertCounts.filter(_._2 == gateDebounce.toLong).keySet
    val batchRaw = batchOverride
      .getOrElse(dayBatch(spark, workDir, day, corpus, off))
    val nGated = batchRaw.select($"source").distinct()
      .as[String].collect().count(gatedOut)
    alertCounts.toSeq.sortBy(_._1)
      .map { case (s0, n) => (s0, n, gatedOut(s0)) }
      .toDF("source", "epochs_alerted", "excluded")
      .write.mode("overwrite").parquet(s"$workDir/source_gate/epoch=$me")
    val batch = Staged(
      if (gatedOut.isEmpty) batchRaw
      else batchRaw.where(!$"source".isInCollection(gatedOut)))
    val nBatch = batch.count()
    // audit artifact: the pre-dedup batch, so the differential spec can
    // replay the full-rerun identity against exactly this day's input
    batch.write.mode("overwrite").parquet(s"$workDir/day${day}_batch")
    // passage probe (run's stage 3b, incremental form): passages
    // committed by the corpus index OR any EARLIER day's registration
    // always lose (chained Exchange-free anti-joins — the streaming
    // face's discipline), first occurrence wins within the batch; only
    // docs that LOST a passage take the rebuilt text, docs whose every
    // aligned window is a repeat drop out — exact re-crawls (of the
    // corpus on day 2, of yesterday's batch on day N) die here, before
    // any shingling happens. The batch's FRESH passages register at
    // epoch=se (drop-and-rewrite ⇒ replay-pure; the probe reads < se).
    val pasParts = Dedup.readIndexTable(spark, s"$pasPath/passages") +:
      graft.streaming.Streams.indexPartsBefore(spark, pasPath, se)
    val (pd, freshChunks) = Dedup.incrementalPassageDedupStaged(
      batch, pasParts, "doc_id", "text", window = 8)
    val passaged = Staged(
      batch.join(pd, Seq("doc_id"), "left")
        .where($"n_kept".isNotNull ||
          size(TextAnalysis.tokens($"text")) === 0)
        .withColumn("text",
          when($"n_dropped" > 0, $"clean_text").otherwise($"text"))
        .drop("clean_text", "n_kept", "n_dropped"))
    val nPassaged = passaged.count()
    Dedup.writeBucketedIndex(
      freshChunks.select($"chunk_text").distinct(),
      s"$pasPath/epoch=$se", Seq("chunk_text"), 32)
    // audit artifact: the post-passage batch the LSH identity is pinned on
    passaged.write.mode("overwrite").parquet(s"$workDir/day${day}_passaged")
    val pairs = Staged(Dedup.incrementalNearDup(passaged, idxPath,
      "doc_id", "text", threshold = 0.8))
    // "cross" = a pair against anything registered before today
    // (corpus on day 2, corpus ∪ earlier survivors on day N)
    val dayFloor = off + (day - 2L) * 100000000L
    val nCross = pairs.where($"id_a" < dayFloor).count()
    val nInternal = pairs.where($"id_a" >= dayFloor).count()
    val clusters = Dedup.connectedComponents(pairs)
    val kept = Staged(passaged.join(
      broadcast(clusters.where($"doc_id" =!= $"cluster_rep").select($"doc_id")),
      Seq("doc_id"), "left_anti"))
    val nKept = kept.count()
    // audit artifact: the post-LSH batch the span identity is pinned on
    kept.write.mode("overwrite").parquet(s"$workDir/day${day}_kept")
    // span probe (r18, run's stage-5 incremental form) — AFTER the
    // doc-level LSH probe, the published fuzzy-then-exact-substring
    // order: near-dup must judge ORIGINAL doc text (a span-stripped
    // near-copy no longer resembles its original and would sail
    // through as a husk), while the span probe then catches what
    // doc-level similarity structurally misses — an 8-token quote of
    // held text at any offset inside an otherwise-novel doc (the
    // quote slices: passage probe misses the unaligned offset, LSH
    // misses the minority-quote Jaccard). Same rebuild rule as run's
    // stage 5, including the short-remainder drop; the batch's FRESH
    // spans register as epoch=se of the streaming layout, HASH-KEYED
    // (drop-and-rewrite ⇒ single-fire, warm replay rewrites identical
    // bytes and the probe never reads the batch's own registration).
    val spanParts = graft.streaming.Streams
      .spanIndexPartsBefore(spark, spanPath, se)
    val (sd2, freshSpans) = Dedup.incrementalSubstringDedupStaged(
      kept, spanParts, "doc_id", "text", window = 8, hashed = true)
    val spanned = Staged(kept.join(
        sd2.select($"doc_id", $"n_tokens", $"n_dropped",
          $"clean_text".as("__sd_clean")), Seq("doc_id"))
      .where($"n_tokens" === 0 || $"n_dropped" === 0 ||
        $"n_tokens" - $"n_dropped" >= 8)
      .withColumn("text",
        when($"n_dropped" > 0, $"__sd_clean").otherwise($"text"))
      .drop("n_tokens", "n_dropped", "__sd_clean"))
    val nSpanned = spanned.count()
    Dedup.writeBucketedIndex(freshSpans, s"$spanPath/epoch=$se",
      Seq("gram"), 32)
    spanned.write.mode("overwrite").parquet(s"$workDir/day${day}_curated")
    // vector-index leg: append the day's embeddings (the re-crawl
    // slice's vectors under their new per-day id band — re-crawled
    // content keeps its embedding), then prove an appended vector is
    // findable. The append is marker-gated per day so a re-run of the
    // same day doesn't double-register the batch.
    // dayVecsOverride (r20): the multi-day drift leg's hook — the
    // default day-d append is a corpus-vector re-crawl slice; a spec
    // or rehearsal planting cumulative vector drift supplies its own
    // per-day frame (same (vec_id, embedding) shape, ids in the day's
    // band). The override feeds BOTH the append and the re-listed
    // truth corpus below — drifted vectors are part of the population
    // the monitors must judge against.
    def vecsOf(d: Int) = dayVecsOverride.map(_(d)).getOrElse(
      embeddings.where($"vec_id" % 7 === 3)
        .select(($"vec_id" + off + 1000L + (d - 2L) * 100000000L)
          .as("vec_id"), $"embedding"))
    val dayVecs = vecsOf(day)
    val nVecs = dayVecs.count()
    val appendMarker = s"$ivfPath/_DAY${day}_APPENDED"
    if (!hasMarker(spark, appendMarker)) {
      Ivf.appendToIndex(dayVecs, ivfPath, "vec_id", "embedding"): Unit
      touchMarker(spark, appendMarker)
    }
    val probeId = dayVecs.agg(min($"vec_id")).head().getLong(0)
    val index = Ivf.readIndex(spark, ivfPath)
    val hits = Ivf.topK(index, dayVecs.where($"vec_id" === probeId),
      "vec_id", "embedding", k = 5)
      .select($"vec_id").as[Long].collect()
    val probeHit = hits.contains(probeId)
    // ---- operational monitors over the SAME day-2 batch (the full
    // loop: ingest → suppress → monitor). Day-1 freezes the two
    // artifacts the monitors watch against — the top-V vocabulary
    // (x68's cut) and the corpus's first-seen gram index (epoch 0 of
    // the novelty stream's layout), both marker-gated like the dedup
    // indexes; each day-2 snapshot is then a pure epoch-keyed function
    // of (batch, committed artifacts), replay-idempotent like every
    // probe above.
    val vocabPath = s"$workDir/vocab"
    if (!hasMarker(spark, s"$vocabPath/_FROZEN")) {
      TextAnalysis.fitVocab(corpus, "text", vocabSize = 200)
        .write.mode("overwrite").parquet(vocabPath)
      touchMarker(spark, s"$vocabPath/_FROZEN")
    }
    // the corpus's full unigram COUNT table (r17): the KL monitor's
    // frozen artifact — OOV's top-V cut asks "is the word known", KL
    // asks "are the PROPORTIONS right"; O(vocab) rows, marker-gated.
    // BUCKETED on tok (r20): the KL consumers join on tok, so the
    // committed layout keeps the O(vocab) side off the shuffle path
    // AND off the driver — at a web-scale vocabulary this table is
    // not broadcast-sized, and nothing here assumes it is
    val ucPath = s"$workDir/unigram_counts"
    if (!hasMarker(spark, s"$ucPath/_FROZEN")) {
      Dedup.writeBucketedIndex(TextAnalysis.unigramCounts(corpus, "text"),
        ucPath, Seq("tok"), 32)
      touchMarker(spark, s"$ucPath/_FROZEN")
    }
    val novPath = s"$workDir/novelty_index"
    if (!hasMarker(spark, s"$novPath/_DAY1")) {
      Dedup.writeBucketedIndex(
        corpus.select(explode(graft.ops.Shingles($"text", 3)).as("gram"))
          .distinct(),
        s"$novPath/epoch=0", Seq("gram"), 32)
      touchMarker(spark, s"$novPath/_DAY1")
    }
    // shared monitor inputs (r17, the day-2 cost fix): the three text
    // monitors below all derive from the SAME persisted batch — one
    // tokenization pass (words, read by OOV + fertility), one shingle
    // pass (grams, read by novelty), one count, staged once and shared,
    // instead of each snapshot re-deriving its own. Identical math ⇒
    // byte-identical snapshot rows and summary (measured, SCALE.md).
    val mon = graft.streaming.Streams.monitorFrames(
      batch.select($"doc_id", $"text"), "text", n = 3)
    // novelty of the arriving batch vs everything held (epoch day−1 of
    // the monitor stream, computed off-stream — same pure function; the
    // batch's novel grams register at the same epoch, so day N's batch
    // is judged against corpus ∪ days 2..N−1)
    graft.streaming.Streams.processNoveltyBatchFromGrams(
      mon.grams, mon.nDocs, epoch = me, novPath,
      s"$workDir/monitor_novelty", alertBelow = 0.1)
    val novRow = spark.read.parquet(s"$workDir/monitor_novelty/epoch=$me")
      .select($"novelty", $"alert").as[(Double, Boolean)].head()
    // tokenizer mismatch of the batch vs the frozen vocabulary
    val oovRow = graft.streaming.Streams.oovSnapshotFromWords(
      mon.words, mon.nDocs, vocabPath, alertAbove = 0.5)
    oovRow.write.mode("overwrite").parquet(s"$workDir/monitor_oov/epoch=$me")
    val oov = spark.read.parquet(s"$workDir/monitor_oov/epoch=$me")
      .select($"oov_rate", $"alert").as[(Double, Boolean)].head()
    // subword fertility of the batch vs the day-1 COMMITTED tokenizer
    // (the fitCached artifact — merges/ + words/ under its
    // param-complete marker; fitCached itself is the idempotence
    // gate, so this is one fit ever per workDir): a drifted crawl
    // shreds to near-characters long before word-OOV saturates —
    // the context-window-slots alarm, priced by the same merge list
    // x72/x74/x77 serve
    val bpePath = s"$workDir/bpe"
    // corpusTag = the fit corpus's file fingerprint (fitCached's
    // contract): a regenerated sfDir under a reused workDir must
    // invalidate the artifact, not serve a stale tokenizer
    val bpeFit = Bpe.fitCached(corpus, "text", nMerges = 16, bpePath,
      corpusTag = graft.queries.OracleDump
        .tableFingerprint(sfDir, "documents"))
    val fertRow = graft.streaming.Streams.fertilitySnapshotFromWords(
      mon.words, mon.nDocs, s"$bpePath/merges", alertAbove = 4.0)
    fertRow.write.mode("overwrite")
      .parquet(s"$workDir/monitor_fertility/epoch=$me")
    val fert = spark.read.parquet(s"$workDir/monitor_fertility/epoch=$me")
      .select($"fertility", $"alert").as[(Double, Boolean)].head()
    // unigram-KL of the batch vs the frozen corpus distribution (the
    // sixth signal, r17): known words in the WRONG proportions — the
    // 0-OOV drift mode (a crawler stuck on one template); rides the
    // same shared words frame, one tok-keyed join per epoch against
    // the bucketed frozen table (r20: never an O(vocab) broadcast)
    graft.streaming.Streams.klSnapshotFromWords(
        mon.words, mon.nDocs, ucPath, alertAbove = 0.5)
      .write.mode("overwrite").parquet(s"$workDir/monitor_kl/epoch=$me")
    val klD = spark.read.parquet(s"$workDir/monitor_kl/epoch=$me")
      .select($"kl", $"alert").as[(Option[Double], Boolean)].head()
    // recall of the (appended) index vs brute-force truth over the
    // RE-LISTED corpus — corpus ∪ appends of days 2..day, written once
    // per day (pure function of (sfDir, off, day), all fixed per
    // workDir/day; marker-gated so a warm re-run never pays the
    // corpus-sized rewrite, a crash mid-write leaves no marker and the
    // next run rewrites cleanly)
    val vecCorpus = s"$workDir/vec_corpus/day=$day"
    if (!hasMarker(spark, s"$vecCorpus/_OK")) {
      (2 to day).map(vecsOf).foldLeft(embeddings)(_.unionByName(_))
        .write.mode("overwrite").parquet(vecCorpus)
      touchMarker(spark, s"$vecCorpus/_OK")
    }
    // a day whose repair committed (or is mid-flight — the intent
    // marker below) has its index evidence on record: the refit
    // promoted new faces AFTER the recall and serving monitors measured
    // the day's index, so a warm replay reads both committed rows back
    // instead of re-measuring the promoted faces (which would rewrite
    // the day's record with numbers no first run ever produced)
    val refitQc = s"$workDir/refit_qc/day=$day"
    val dayRepaired = hasMarker(spark, s"$refitQc/_DONE") ||
      hasMarker(spark, s"$refitQc/_INTENT")
    val recMon = s"$workDir/monitor_recall/epoch=$me"
    if (!dayRepaired)
      graft.streaming.VectorStreams.recallSnapshot(
          dayVecs, ivfPath, vecCorpus, "vec_id", "embedding",
          k = 10, nprobe = 4, maxQueries = 32, alertBelow = 0.7)
        .write.mode("overwrite").parquet(recMon)
    val rec = spark.read.parquet(recMon)
      .select($"recall", $"alert").as[(Double, Boolean)].head()
    // ---- serving epilogue: build the residual-PQ face over THIS
    // corpus's (appended) IVF index and QC-gate it before anything
    // serves the 64×-smaller face — the capstone's final artifact.
    // The gate is the a11/a13 methodology micro-averaged over a
    // deterministic query sample at shared probe cells: pq_agreement
    // = how much of the float probe's top-10 raw ADC ranking keeps
    // (the reconstruction loss), staged_agreement = how much the
    // PQ-top-50 → cluster-pruned exact re-rank recovers (staged hits
    // ⊇ raw hits per query by construction, so staged ≥ pq always —
    // the number an operator reads to decide raw-vs-staged serving).
    // Build-once: pqAssign is marker-gated like every day-1 artifact,
    // and the fit runs AFTER the day-2 append so the codebooks cover
    // the corpus the face serves.
    graft.ops.Pq.pqAssign(spark, ivfPath, "vec_id", "embedding",
      m = 4, ksub = 16)
    // ONE definition with the streaming monitor
    // (VectorStreams.pqAgreementSnapshot): the capstone's gate and the
    // continuous monitor compute the identical number, so a policy
    // threshold tuned on one applies to the other. The snapshot also
    // lands as monitor epoch 1 — the day-2 loop's fourth signal.
    // The query sample is the DAY's appended vectors (r20; was the
    // static base corpus): the gate's question is whether the
    // compressed face still serves the population the index JUST
    // absorbed — frozen codebooks reconstruct a drifted append badly,
    // and base-corpus queries structurally cannot see that (their
    // top-k stays in base territory). On the standard fixture the
    // day-d append is a corpus-vector re-crawl slice, so the gate
    // reads the same reconstruction regime either way; under planted
    // drift it now degrades — the detect half of detect→repair.
    //
    // Evidence READ-BACK (r20 — maintainBpeEpoch's discipline ported
    // to the day ladder): once this day's repair committed (or is
    // mid-flight — the intent marker below), a warm replay must NOT
    // re-measure the gate against the PROMOTED faces and overwrite
    // the drifted evidence row — post-swap the same sample reads
    // healthy, the alert would flip off, and the replay's summary
    // (refitRan=false, evidence gone) would contradict the committed
    // repair. The alarm is part of the day's record: replays read it.
    val servMon = s"$workDir/monitor_pq_agreement/epoch=$me"
    val servRow =
      if (dayRepaired) spark.read.parquet(servMon)
      else {
        val r = graft.streaming.VectorStreams.pqAgreementSnapshot(
          dayVecs, ivfPath, "vec_id", "embedding",
          k = 10, kCand = 50, maxQueries = 16,
          alertBelow = servingAlertBelow).localCheckpoint()
        r.write.mode("overwrite").parquet(servMon)
        r
      }
    val (pqAgree, stagedAgree, servAlert) = servRow
      .select($"pq_agreement", $"staged_agreement", $"alert")
      .as[(Double, Double, Boolean)].head()
    // ---- detect→repair: a firing serving gate means the compressed
    // face no longer reconstructs the corpus the probes serve — the
    // drift a15 + the pq-agreement monitor exist to catch. When
    // `refitOnAlert`, the capstone ACTS on its own alarm:
    // Ivf.refitIndex refits centroids over the appended corpus and
    // re-encodes every face under the crash-recoverable versioned
    // swap, then the SAME gate re-measures the promoted face
    // (refit_qc/ + summary) — the repair is judged by the instrument
    // that demanded it. The pre-refit snapshot stays in the monitor
    // epoch (the alarm is part of the day's record).
    val (refitRan, postStaged, refitK) =
      if (servAlert && refitOnAlert) {
        // single-fire PER DAY (r17, the refitMaintenanceStream guard
        // ported here; r19 keys the record by day so day 3's alert can
        // repair again): a WARM replay of this day re-reads the same
        // committed index and re-derives the same alert, but the
        // repair already committed — re-firing would bill a second full
        // rebuild that can only re-derive the faces already promoted
        // (the fits are functions of the indexed rows, Ivf.fitLayout).
        // The committed refit_qc record (marker written after the QC
        // row) IS the day's repair; replays read it back.
        if (hasMarker(spark, s"$refitQc/_DONE")) {
          val post = spark.read.parquet(refitQc)
          (true, post.select($"staged_agreement").as[Double].head(),
            Ivf.readIndex(spark, ivfPath).centroids.length)
        } else {
          // pre-refit INTENT marker (r20 — the maintainBpeEpoch crash
          // window, here): a crash AFTER the swap but BEFORE the
          // record would otherwise replay into a re-measured gate that
          // reads the promoted faces as healthy — no alert, no record,
          // the repair missing from the actuation log forever. With
          // the intent committed first, the replay reads back the
          // drifted evidence (dayRepaired above), re-derives the same
          // alert, and finishes the repair here (a second refit is
          // wasteful, never wrong) before recording it.
          touchMarker(spark, s"$refitQc/_INTENT")
          // a refit re-derives every face, so it is exactly when k can
          // change: consult the a19 resize rule over the index's CURRENT
          // population (corpus + appends) before repairing — a
          // corpus that outgrew (or never filled) its k gets the policy
          // k in the same committed swap, an in-band one rides as-is.
          // Policy constants are the sf-scaled ones the resize rehearsal
          // and a19 use (production: the 4096-row default).
          val kCur = Ivf.readIndex(spark, ivfPath).centroids.length
          val nIdx = spark.read.parquet(s"$ivfPath/assigned").count()
          val kPolicy = Ivf.kForCells(nIdx, targetCell = 512, kMin = 4)
          val resize =
            if (Ivf.resizeRecommended(kCur, kPolicy)) Some(kPolicy) else None
          Ivf.refitIndex(spark, ivfPath, "vec_id", "embedding",
            resizeTo = resize)
          // the SAME instrument over the SAME query sample re-judges
          // the promoted faces — the repair answers to the gauge (and
          // the population) that demanded it
          val post = graft.streaming.VectorStreams.pqAgreementSnapshot(
            dayVecs, ivfPath, "vec_id", "embedding",
            k = 10, kCand = 50, maxQueries = 16,
            alertBelow = servingAlertBelow).localCheckpoint()
          post.write.mode("overwrite").parquet(refitQc)
          // marker AFTER the record: a crash between them re-runs the
          // refit (wasteful, never wrong); with it, replays are pure
          touchMarker(spark, s"$refitQc/_DONE")
          (true, post.select($"staged_agreement").as[Double].head(),
            Ivf.readIndex(spark, ivfPath).centroids.length)
        }
      } else (false, -1.0, -1)
    // ---- acquisition epilogue: the x85 per-source health table over
    // corpus ∪ day-2 batch under the committed tokenizer — the ONE
    // table the renew/cut review reads, emitted by the same day-2 run
    // that produced the verdicts. The recrawl sources indict
    // themselves from their own columns (novelty ≈ 0: every gram
    // first-occurred in the corpus; dup_rate ≈ 1: the keep-reps rule
    // suppresses them), the connector feed reads as novel. dup_rate
    // composes the registered x84 rule (full LSH + CC over the union)
    // — at 100 TB the same slice reads from the incremental probe
    // verdicts above instead of re-shingling the corpus; the sf-scale
    // capstone keeps the oracle-verified composition.
    // staged once (r17): sourceHealth fans five signal subtrees off
    // this frame and the mix gate re-reads it — one materialized
    // corpus∪batch instead of six parquet re-scans + unions
    val unionDocs = Staged(corpus.select($"doc_id", $"text", $"source")
      .unionByName(batch.select($"doc_id", $"text", $"source")))
    // per-source KL (r19): the x91 axis in the health row — the frozen
    // day-1 unigram table prices each source's PROPORTIONS under the
    // shared-support renormalization rule the global KL monitor uses,
    // so a single proportion-drifted source that hides under the
    // global gauge's healthy batchmates fires its own row
    graft.ops.Acquisition.sourceHealth(unionDocs,
        "doc_id", "text", "source", bpeFit,
        klFrom = Some(Dedup.readIndexTable(spark, ucPath)))
      .write.mode("overwrite").parquet(s"$healthPath/epoch=$me")
    // ---- the verdict ACTING on acquisition (x89's composition): the
    // just-written health table drives the mix — sources it indicts
    // (re-crawls: novelty ~0, dup_rate ~1) are zeroed out, survivors
    // temperature-flatten — and the realized per-source mix lands next
    // to the verdict that produced it. Deterministic md5 gate ⇒
    // replay-pure like every per-day artifact. (The batch-admission
    // gate above reads the SAME committed epochs with the SAME
    // verdict rule, debounced — detect here, act next day.)
    graft.ops.Acquisition.healthGatedMixFrom(
        spark.read.parquet(s"$healthPath/epoch=$me"),
        unionDocs.select($"doc_id", $"source"), "doc_id", "source")
      .groupBy($"source").agg(count(lit(1)).as("n_kept"))
      .write.mode("overwrite").parquet(s"$workDir/day${day}_mix")
    // the alert count covers ALL six per-day signals — a failed serving
    // gate must surface in the summary's alerts, not only in the
    // monitor_pq_agreement epoch row
    val alerts = Seq(novRow._2, oov._2, rec._2, fert._2, klD._2, servAlert)
      .count(identity).toLong
    // auto-compaction, the streaming faces' policy (the ladder is the
    // stream at daily cadence — without this, day N's probes chain N
    // epoch partitions forever): fires when TOMORROW's chain (today's
    // probed epochs + today's fresh one) would exceed the bound. Runs
    // LAST, after every consumer of the probed frames has materialized
    // (a lazy plan still referencing a victim partition would read
    // deleted files), exactly as the streams compact after their
    // epoch's writes; never absorbs the newest partition, so a replay
    // of today probes the same committed view either way, and a crash
    // before this point just leaves the compaction for a later day.
    if (maxChain > 0 && (pasParts.size - 1) + 1 > maxChain)
      graft.streaming.Streams.compactPassageIndex(spark, pasPath,
        upToEpoch = se - 1)
    if (maxChain > 0 && spanParts.size + 1 > maxChain)
      graft.streaming.Streams.compactSpanIndex(spark, spanPath,
        upToEpoch = se - 1)
    Staged.releaseAll()
    IncrementalSummary(nIndexed, nBatch, nPassaged, nSpanned, nCross,
      nInternal, nKept, nVecs, probeHit, s"$workDir/day${day}_curated",
      novelty = novRow._1, oovRate = oov._1, annRecall = rec._1,
      monitorAlerts = alerts, pqAgreement = pqAgree,
      stagedAgreement = stagedAgree, fertility = fert._1,
      refitRan = refitRan, postRefitStagedAgreement = postStaged,
      refitK = refitK, klDrift = klD._1.getOrElse(-1.0),
      day = day, gatedSources = nGated.toLong)
  }
}
