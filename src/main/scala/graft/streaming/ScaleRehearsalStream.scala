package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Rehearsal
import graft.ops.{Dedup, Staged, TextAnalysis}
import graft.sources.Tables

/** Scale rehearsals for the streaming indexes and monitors, one mode
  * per face (see each runner's doc):
  *  - the fixed-batch / growing-epoch-index curves ([[epochCurve]]): the
  *    passage-dedup epoch index (no flag, round 10 — the curve that must
  *    stay flat for the continuous-ingest face to mean anything at
  *    100 TB, now that each epoch partition is a bucketed table probed
  *    via chained Exchange-free anti-joins, see
  *    [[Streams.passageDedupStream]]), `--quote`, `--novelty` and
  *    `--health`;
  *  - the live-stream curves ([[liveCurve]]): `--live`, `--qlive` and
  *    `--hh`;
  *  - the maintenance loops and the capstone ladder: `--maintain`,
  *    `--maintain-bpe` and `--ladder`.
  *
  * Usage: runMain graft.streaming.ScaleRehearsalStream [mode] [ints...]
  * (no mode: epoch counts, default 1 4 8 16)
  */
object ScaleRehearsalStream {

  private[streaming] case class Doc(doc_id: Long, text: String)
  private[streaming] case class Vec(vec_id: Long, embedding: Seq[Float])

  private case class Mode(app: String,
      body: (SparkSession, String, Seq[String]) => Unit,
      conf: Map[String, String] = Map.empty)

  import Rehearsal.{intAt, ints}

  private val modes: Map[String, Mode] = Map(
    "" -> Mode("graft-scale-stream",
      (s, sf, a) => runPassage(s, sf, ints(a, 1, 4, 8, 16))),
    "--quote" -> Mode("graft-scale-quote",
      (s, sf, a) => runQuotation(s, sf, ints(a, 1, 4, 8, 16))),
    "--novelty" -> Mode("graft-scale-novelty",
      (s, sf, a) => runNovelty(s, sf, ints(a, 1, 4, 8, 16))),
    "--health" -> Mode("graft-scale-health",
      (s, sf, a) => runHealth(s, sf, ints(a, 1, 4, 8, 16))),
    "--live" -> Mode("graft-scale-stream-live",
      (s, sf, a) => runLive(s, sf, intAt(a, 0, 32), intAt(a, 1, 8))),
    "--qlive" -> Mode("graft-scale-qlive",
      (s, sf, a) => runQuotationLive(s, sf, intAt(a, 0, 24), intAt(a, 1, 6))),
    "--hh" -> Mode("graft-scale-stream-hh",
      (s, sf, a) => runHeavyHitters(s, sf, intAt(a, 0, 32), intAt(a, 1, 64))),
    "--maintain" -> Mode("graft-scale-maintain",
      (s, sf, a) => runMaintain(s, sf, intAt(a, 0, 5), intAt(a, 1, 2))),
    "--maintain-bpe" -> Mode("graft-scale-maintain-bpe",
      (s, sf, a) => runMaintainBpe(s, sf, intAt(a, 0, 5), intAt(a, 1, 2),
        intAt(a, 2, 1024))),
    // one JVM hosts 2·nDays day-jobs back to back (production runs one
    // driver per day): without a bound the SQL status store retains
    // 1000 executions' plan metrics/descriptions (~1M SQLPlanMetric
    // instances, GBs, measured by heap histogram at day 6) — an
    // artifact of the REHEARSAL shape, capped so the per-day heap_mb
    // column reads the engine, not the UI store
    "--ladder" -> Mode("graft-scale-ladder",
      (s, sf, a) => runLadder(s, sf, intAt(a, 0, 8), intAt(a, 1, 4)),
      Map("spark.sql.ui.retainedExecutions" -> "50",
        "spark.ui.retainedJobs" -> "100", "spark.ui.retainedStages" -> "100")))

  /** The mode named by the first argument (none: the passage curve) and
    * the arguments after it.
    */
  private def modeOf(args: Seq[String]): (Mode, Seq[String]) =
    args.headOption.flatMap(modes.get) match {
      case Some(m) => (m, args.drop(1))
      case None => (modes(""), args)
    }

  def main(args: Array[String]): Unit = {
    val (mode, rest) = modeOf(args.toSeq)
    Rehearsal.run(mode.app, mode.conf)(mode.body(_, Rehearsal.sfDir, rest))
  }

  /** Run a mode on the caller's session, against `sfDir`. */
  def rehearse(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val (mode, rest) = modeOf(args)
    mode.body(spark, sfDir, rest)
  }

  /** The fixed-batch / growing-epoch-index curve shared by the passage,
    * `--quote`, `--novelty` and `--health` modes. Epoch content is
    * DECORRELATED (per-epoch token suffix): each epoch contributes fresh
    * n-grams and passages, so the index grows E× while the probe batch —
    * a re-crawled 10% slice of epoch 0's content (it must die against
    * epoch 0, whatever E is) plus a 10% slice of genuinely fresh content
    * (it must survive) — gets an E-invariant result by construction: the
    * built-in correctness face, covering both fates.
    *
    * Per epoch count E: build the E-epoch index (`register` per epoch),
    * probe it with the live per-epoch partitions (chain length = E),
    * REQUIRE the result equals the curve's first, fold the chain to ≤ 2
    * partitions with the mode's `compact`, re-probe, REQUIRE the same
    * result again, print. The pair shows both that the chained probe
    * does not degrade with E and what compaction buys back when E gets
    * long. The cached index is valid only while it still holds the LIVE
    * E-epoch chain: the compaction MUTATES it, so a rerun that trusted
    * the marker alone would measure the "live chain" probe against an
    * already-compacted index — it is rebuilt whenever its partition
    * count no longer matches E.
    */
  private def epochCurve[T](spark: SparkSession, sfDir: String,
      index: String, epochCounts: Seq[Int], drifted: String,
      compacted: String, sources: Boolean = false)(
      register: (DataFrame, Long, String) => Unit,
      probe: (DataFrame, String) => T,
      compact: String => Unit,
      fields: T => String,
      verdict: (Int, T) => Unit = (_: Int, _: T) => ()): Unit = {
    import spark.implicits._
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    require(nDocs > 0, s"no documents under $sfDir — nothing to rehearse")
    val stride = Rehearsal.stride(base, "doc_id")
    def epochDocs(e: Int) = base.select(
      ($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
      (if (e == 0) $"text" else Rehearsal.suffixed($"text", "e" + e)).as("text"))
    def named(df: DataFrame, source: String) =
      if (sources) df.withColumn("source", lit(source)) else df
    val batch = named(base.where($"doc_id" % 10 === 0)
        .select(($"doc_id" + lit(1000L * stride)).as("doc_id"), $"text"),
        "recrawl")
      .unionByName(named(base.where($"doc_id" % 10 === 5)
        .select(($"doc_id" + lit(1001L * stride)).as("doc_id"),
          Rehearsal.suffixed($"text", "fresh").as("text")), "fresh"))
    val expect = Rehearsal.same[T](drifted)
    epochCounts.foreach { ec =>
      val idx = Rehearsal.cached(s"graft-scale-$index-$ec", sfDir,
          Rehearsal.chainLength(_) == ec) { p =>
        (0 until ec).foreach(e => register(epochDocs(e), e.toLong, p))
      }
      val (sec, live) = Rehearsal.timed(probe(batch, idx))
      expect(ec, live)
      verdict(ec, live)
      compact(idx)
      val (cSec, folded) = Rehearsal.timed(probe(batch, idx))
      expect(ec, folded, s"compaction changed the $compacted at")
      println(f"""{"epochs":$ec,"docs_indexed":${nDocs * ec},""" +
        f""""probe_sec":$sec%.2f,"post_compact_sec":$cSec%.2f,""" +
        f""""post_compact_parts":${Rehearsal.chainLength(idx)},${fields(live)}}""")
    }
  }

  /** The passage-dedup epoch index ([[Streams.passageDedupStream]]'s
    * layout): suppression (kept, dropped) of the probe batch.
    */
  private def runPassage(spark: SparkSession, sfDir: String,
      epochCounts: Seq[Int]): Unit = {
    import spark.implicits._
    val w = 8
    epochCurve[(Long, Long)](spark, sfDir, "streamidx", epochCounts,
      "suppression drifted with epoch count", "probe result")(
      register = (docs, e, idx) => Dedup.writeBucketedIndex(
        Dedup.passages(docs, "doc_id", "text", w).select($"chunk_text").distinct(),
        s"$idx/epoch=$e", Seq("chunk_text"), 32),
      probe = (batch, idx) => {
        val r = Dedup.incrementalPassageDedup(batch,
            Streams.indexPartsBefore(spark, idx, Long.MaxValue), "doc_id", "text", w)
          .agg(coalesce(sum($"n_kept"), lit(0L)),
            coalesce(sum($"n_dropped"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      },
      compact = Streams.compactPassageIndex(spark, _, upToEpoch = Long.MaxValue),
      fields = { case (kept, dropped) => s""""kept":$kept,"dropped":$dropped""" })
  }

  /** `--quote`: the committed shingle-set index
    * ([[Streams.quotationFlagStream]]'s layout). The probe batch quotes
    * only epoch-0 content plus a fresh slice, so its flag count is
    * E-invariant, and the probe's wall time must stay flat as E grows,
    * because each committed epoch is a bucketed posting table the batch
    * equi-joins WITHOUT re-exploding anything committed (the first-cut
    * design re-exploded every committed hash array per batch: O(corpus)
    * per epoch, exactly what this curve would have exposed). The r14
    * compaction face folds the chain — the same container set, one
    * candidates+verify leg instead of E of them.
    */
  private def runQuotation(spark: SparkSession, sfDir: String,
      epochCounts: Seq[Int]): Unit =
    epochCurve[Long](spark, sfDir, "quoteidx", epochCounts,
      "flag count drifted with epoch count", "probe result")(
      register = (docs, e, idx) => {
        Streams.registerQuotationEpoch(docs, e, idx, "doc_id", "text",
          n = 3, nBuckets = 32)
        Staged.releaseAll()
      },
      probe = (batch, idx) => Streams.quotationFlags(batch, Long.MaxValue, idx,
        "doc_id", "text", n = 3, threshold = 0.6).count(),
      compact = Streams.compactQuotationIndex(spark, _, upToEpoch = Long.MaxValue),
      fields = flags => s""""flags":$flags""")

  /** One novelty probe epoch against the first-seen gram index at `idx`
    * (its snapshots go next to it): the batch's (grams, novel) counts.
    * The probe's registration is deleted afterwards, so the index keeps
    * exactly its committed partitions.
    */
  private def noveltyProbe(spark: SparkSession, batch: DataFrame,
      idx: String): (Long, Long) = {
    import spark.implicits._
    val probeEpoch = 1000000L
    Streams.processNoveltyBatch(batch, probeEpoch, idx, s"$idx.out",
      "doc_id", "text", n = 3, alertBelow = 0.0, maxChain = 0)
    val r = spark.read.parquet(s"$idx.out/epoch=$probeEpoch")
      .select($"n_grams", $"n_novel").as[(Long, Long)].head()
    Rehearsal.rmrf(s"$idx/epoch=$probeEpoch")
    spark.sql("DROP TABLE IF EXISTS " +
      Dedup.indexTableName(s"$idx/epoch=$probeEpoch")): Unit
    r
  }

  private def noveltyEpoch(docs: DataFrame, e: Long, idx: String): Unit =
    Streams.processNoveltyBatch(docs, e, idx, s"$idx.out", "doc_id", "text",
      n = 3, alertBelow = 0.0, maxChain = 0)

  /** `--novelty`: the first-seen gram index
    * ([[Streams.noveltyMonitorStream]]'s layout). The curve shows what
    * the chained anti-join fold costs as E grows LIVE vs after
    * [[Streams.compactNoveltyIndex]] (the residual growth is CHAIN
    * length, and compaction removes it). Timed work is the full
    * [[Streams.processNoveltyBatch]] — probe + snapshot write +
    * registration — i.e. the real per-epoch bill.
    */
  private def runNovelty(spark: SparkSession, sfDir: String,
      epochCounts: Seq[Int]): Unit =
    epochCurve[(Long, Long)](spark, sfDir, "novidx", epochCounts,
      "novelty drifted with epoch count", "probe result")(
      register = noveltyEpoch,
      probe = noveltyProbe(spark, _, _),
      compact = Streams.compactNoveltyIndex(spark, _, upToEpoch = Long.MaxValue),
      fields = { case (grams, novel) => s""""grams":$grams,"novel":$novel""" })

  /** `--health`: [[Streams.sourceHealthSnapshot]]'s read path against
    * the novelty index — the novelty curve's question asked of the
    * per-source monitor, which reads EVERY committed gram partition per
    * epoch (one anti-join leg each): the per-source verdicts must be
    * E-invariant (the re-crawl source reads novelty 0, the fresh source
    * high, at every E) while probe time must stay flat in E and drop to
    * the ≤2-partition cost after [[Streams.compactNoveltyIndex]] — the
    * same compaction the index OWNER (the novelty stream) runs under
    * `maxChain`, so a health monitor pointed at a live novelty index
    * inherits bounded chains for free.
    */
  private def runHealth(spark: SparkSession, sfDir: String,
      epochCounts: Seq[Int]): Unit = {
    import spark.implicits._
    // frozen day-1 vocab + merge list, built once per sf fixture
    val art = Rehearsal.cached("graft-scale-health-art", sfDir) { p =>
      val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      TextAnalysis.fitVocab(base, "text", vocabSize = 200)
        .write.mode("overwrite").parquet(s"$p/vocab")
      graft.ops.Bpe.fitAuto(base, "text", nMerges = 16)
        .mergeTable(spark).write.mode("overwrite").parquet(s"$p/merges")
      Staged.releaseAll()
    }
    epochCurve[Map[String, (Double, Double, Double)]](spark, sfDir,
      "healthidx", epochCounts, "per-source health drifted with epoch count",
      "verdicts", sources = true)(
      register = noveltyEpoch,
      probe = (batch, idx) => Streams.sourceHealthSnapshot(batch, idx,
          s"$art/vocab", s"$art/merges", "text", "source")
        .select($"source", $"novelty", $"oov_rate", $"fertility")
        .as[(String, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap,
      compact = Streams.compactNoveltyIndex(spark, _, upToEpoch = Long.MaxValue),
      fields = h => f""""recrawl_novelty":${h("recrawl")._1}%.6f,""" +
        f""""fresh_novelty":${h("fresh")._1}%.6f""",
      verdict = (ec, health) =>
        require(health("recrawl")._1 == 0.0 && health("fresh")._1 > 0.5,
          s"source verdicts must name the re-crawler at E=$ec: $health"))
  }

  /** `--maintain [nEpochs] [debounce]` (default 5, 2): price the
    * STREAMING refit-maintenance loop end to end at the fixture scale —
    * the operational rehearsal of
    * [[VectorStreams.refitMaintenanceStream]], which the specs verify
    * at toy scale but nothing had measured. Day 1 commits the IVF/PQ
    * index over the corpus embeddings; a model-swap drift (the whole
    * corpus re-embedded far from the fit distribution) appends under
    * frozen centroids; then a drifted QUERY stream drives the loop
    * (both geometry gauges armed, so each epoch's wall bills the full
    * instrument) while a CONCURRENT [[VectorStreams.stagedServeStream]]
    * answers an in-fit query batch every epoch — serving must continue
    * across the swap, epochs-to-repair must equal the debounce, the
    * repair must fire exactly once, and the post-repair agreement must
    * clear the drifted value by the refit-spec differential (all
    * REQUIREd, not just printed).
    */
  private def runMaintain(spark: SparkSession, sfDir: String, nEpochs: Int,
      debounce: Int): Unit = {
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings").select($"vec_id", $"embedding")
    val nBase = emb.count()
    require(nBase > 0, s"no embeddings under $sfDir — nothing to rehearse")
    val root = java.nio.file.Files.createTempDirectory("graft-maintain").toString
    val dir = s"$root/index"
    val (day1Sec, _) = Rehearsal.timed {
      graft.ops.Ivf.buildPersistent(emb, dir, "vec_id", "embedding", k = 16): Unit
      graft.ops.Pq.pqAssign(spark, dir, "vec_id", "embedding", m = 4, ksub = 16)
      // the drift: a far offset blob with REAL angular spread (5x the
      // base variation riding a +15-per-coordinate offset) — far enough
      // that the frozen codebooks saturate on its residuals, spread
      // enough that round-6 cosine still ranks its members distinctly (a
      // tighter blob collapses to ties and reads a vacuous 1.0
      // agreement). The IvfRefitSpec recipe at fixture scale.
      graft.ops.Ivf.appendToIndex(
        emb.select(($"vec_id" + 10000000L).as("vec_id"),
          transform($"embedding", x => x * lit(5.0f) + lit(10.0f))
            .as("embedding")),
        dir, "vec_id", "embedding"): Unit
    }
    // drifted maintenance queries (the snapshot samples the lowest 32):
    // the arriving drifted traffic is what the degraded codes mis-rank,
    // so it is what the gate measures — the r17 loop spec's recipe
    val maintBatch = spark.read.parquet(s"$dir/assigned")
      .where($"vec_id" >= 10000000L).orderBy($"vec_id").limit(256)
      .select($"vec_id", $"embedding").as[Vec].collect().toSeq
    val serveBatch = emb.where($"vec_id" % 97 === 0)
      .select($"vec_id", $"embedding").as[Vec].collect().toSeq
    val (mon, ref) = (s"$root/mon", s"$root/ref")
    val maintIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Vec](spark)
    val serveIn = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Vec](spark)
    val maintQ = VectorStreams.refitMaintenanceStream(maintIn.toDF(), dir,
      mon, ref, s"$root/mcp", "vec_id", "embedding", k = 10, kCand = 100,
      maxQueries = 32, alertBelow = 0.5, debounce = debounce,
      // targetCell=128: the corpus DOUBLED under the drift append, so
      // the policy recommends k=32 (a 2x gap from the built 16) and the
      // fired repair rides the resize — halved cells, which is also
      // what restores the staged gate's candidate coverage
      resizePolicy = Some((128, 4)),
      // both geometry gauges ARMED (ceilings no drift here can reach):
      // every epoch's wall prices the full instrument, not just the
      // serving gate
      residualCeiling = Some(1e9), balanceCeiling = Some(1e9))
    val serveQ = VectorStreams.stagedServeStream(serveIn.toDF(), dir,
      s"$root/serve", s"$root/scp", "vec_id", "embedding",
      k = 10, kCand = 50, nprobe = 4)
    var agreeBefore = -1.0
    var repairWall = -1.0
    try {
      (0 until nEpochs).foreach { e =>
        val (maintSec, _) = Rehearsal.timed {
          maintIn.addData(maintBatch: _*); maintQ.processAllAvailable() }
        val (serveSec, _) = Rehearsal.timed {
          serveIn.addData(serveBatch: _*); serveQ.processAllAvailable() }
        val (agree, alert) = spark.read.parquet(s"$mon/epoch=$e")
          .select($"staged_agreement", $"alert").as[(Double, Boolean)].head()
        val repaired = new java.io.File(s"$ref/epoch=$e").exists()
        if (repaired) repairWall = maintSec
        if (!repaired && agreeBefore < 0 && alert) agreeBefore = agree
        val served = spark.read.parquet(s"$root/serve/epoch=$e").count()
        require(served > 0,
          s"serving starved at epoch $e — the swap must not stall it")
        println(f"""{"epoch":$e,"maint_sec":$maintSec%.2f,""" +
          f""""serve_sec":$serveSec%.2f,"staged_agreement":$agree%.6f,""" +
          f""""alert":$alert,"repaired":$repaired,"served":$served}""")
      }
    } finally { maintQ.stop(); serveQ.stop() }
    // single fire, exactly at the debounce boundary
    val fired = VectorStreams.epochsBefore(spark, ref, Long.MaxValue)
    require(fired == Seq(debounce - 1L),
      s"the repair must fire once at epoch ${debounce - 1}: $fired")
    val agreeAfter = spark.read.parquet(s"$ref/epoch=${debounce - 1}")
      .select($"staged_agreement").as[Double].head()
    // the refit-spec differential: the promoted faces must clear the
    // drifted agreement by a wide gap on the SAME query sample
    require(agreeAfter >= math.min(agreeBefore + 0.4, 0.75),
      s"post-repair agreement must clear the drifted value: " +
        s"$agreeAfter vs $agreeBefore")
    // post-swap serving is byte-consistent with the promoted faces
    val last = nEpochs - 1L
    val replay = graft.ops.Pq.topKStagedBatch(spark, dir,
        graft.ops.Ivf.readIndex(spark, dir),
        serveBatch.toDF().select($"vec_id", $"embedding"),
        "vec_id", "embedding", "vec_id", k = 10, kCand = 50, nprobe = 4)
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    val committed = spark.read.parquet(s"$root/serve/epoch=$last")
      .select($"query_id", $"vec_id", $"cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    require(replay == committed,
      "post-swap serve epoch must equal a direct staged probe of the " +
        "promoted faces")
    println(f"""{"mode":"maintain","n_base":$nBase,"day1_sec":$day1Sec%.1f,""" +
      f""""epochs_to_repair":$debounce,"repair_wall_sec":$repairWall%.1f,""" +
      f""""agreement_before":$agreeBefore%.6f,"agreement_after":$agreeAfter%.6f,""" +
      f""""serve_epochs_ok":$nEpochs}""")
  }

  /** `--ladder [nDays] [maxChain]` (default 8, 4): price the rolling
    * day-N capstone ladder's TIME axis (r20 — the r19 verdict's top
    * ask: the space axis was closed by epoch-chain compaction, but
    * nothing MEASURED per-day wall as N grows). Drives days
    * 2..nDays+1 of [[graft.CurateMain.ingestDay]] on ONE workDir at
    * the fixture sf with the default mixed fresh/re-crawl batches —
    * each day COLD, then WARM (the head-day replay, REQUIREd
    * byte-identical before the ladder advances) — and REQUIREs the
    * ladder's two boundedness claims:
    *  - probe-plan chain lengths stay ≤ maxChain+1 on disk for both
    *    the passage and span indexes at every day (the auto-compaction
    *    policy at daily cadence, exercised repeatedly at sf scale);
    *  - per-day COLD wall is FLAT — a function of the day's batch,
    *    not of the day number: the mean of the ladder's last half must
    *    not exceed 1.6× the mean of its first half (days ≥ 4; day 2
    *    pays the one-time day-1 index builds and day 3 the first
    *    lazy-registration, so both are reported but exempt), and each
    *    day's suppression ladder must actually act
    *    (spanKept ≤ survivors ≤ passageKept < batch).
    * The 1.6 bound is generous for box noise (the bench notes' ~1.3×
    * session inflation) while failing the actual bug class this exists
    * for: a probe or registration whose cost reads the CORPUS or the
    * chain length — at 8 days that reads ≥ 2× and climbing.
    */
  private def runLadder(spark: SparkSession, sfDir: String, nDays: Int,
      maxChain: Int): Unit = {
    require(nDays >= 4, s"the flatness gate needs >= 4 days, got $nDays")
    val work = java.nio.file.Files
      .createTempDirectory("graft-ladder").toString
    def chainOf(idx: String): Int = Rehearsal.chainLength(s"$work/$idx")
    val coldWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    (2 to nDays + 1).foreach { day =>
      def ingest() = Rehearsal.timed(graft.CurateMain.ingestDay(spark,
        sfDir, work, day, maxChain = maxChain))
      val (coldSec, s) = ingest()
      // the suppression ladder must ACT every day: exact re-crawls die
      // at the passage probe, near re-crawls at the LSH probe, quoted
      // spans strip (some quote docs drop to the short-remainder rule)
      require(s.batch > 0 && s.passageKept < s.batch &&
        s.survivors <= s.passageKept && s.spanKept <= s.survivors,
        s"day $day suppression ladder inverted: $s")
      val (spanChain, pasChain) =
        (chainOf("span_index"), chainOf("passage_index"))
      require(spanChain <= maxChain + 1 && pasChain <= maxChain + 1,
        s"day $day chain escaped the bound: span=$spanChain " +
          s"passage=$pasChain > ${maxChain + 1}")
      // head-day warm replay: byte-identical summary before advancing
      val (warmSec, s2) = ingest()
      require(s2 == s, s"day $day warm replay drifted: $s2 vs $s")
      // post-GC driver heap per day: the boundedness evidence for the
      // one axis the wall clock can't see (a slow driver-side leak
      // would OOM a long ladder before it slowed one)
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      if (day >= 4) coldWalls += coldSec
      println(f"""{"day":$day,"batch":${s.batch},"passage_kept":${s.passageKept},""" +
        f""""survivors":${s.survivors},"span_kept":${s.spanKept},""" +
        f""""cold_sec":$coldSec%.1f,"warm_sec":$warmSec%.1f,""" +
        f""""span_chain":$spanChain,"passage_chain":$pasChain,""" +
        f""""alerts":${s.monitorAlerts},"heap_mb":$heapMb}""")
      // day boundary = job boundary in production (one driver per day);
      // the rehearsal holds 2·nDays day-jobs in ONE JVM, so it must
      // also drop anything that escaped Staged tracking (CacheManager
      // entries, lingering listing caches) or the LADDER's own heap —
      // not the engine's — trends with day number
      Staged.releaseAll()
      spark.catalog.clearCache()
    }
    // the flatness gate: wall follows the batch, not the day number
    val half = coldWalls.size / 2
    val firstHalf = coldWalls.take(half).sum / half
    val lastHalf = coldWalls.takeRight(half).sum / half
    require(lastHalf <= 1.6 * firstHalf,
      f"per-day wall TRENDS with day number: first-half mean " +
        f"$firstHalf%.1f s -> last-half mean $lastHalf%.1f s")
    println(f"""{"mode":"ladder","days":${nDays},"max_chain":$maxChain,""" +
      f""""first_half_mean_sec":$firstHalf%.1f,""" +
      f""""last_half_mean_sec":$lastHalf%.1f,""" +
      f""""trend_ratio":${lastHalf / firstHalf}%.2f}""")
  }

  /** `--maintain-bpe [nEpochs] [debounce] [nMerges]` (default 5, 2,
    * 1024): price the TOKENIZER maintenance loop end to end at the
    * fixture scale — the operational rehearsal of
    * [[Streams.bpeMaintenanceStream]], which the specs verify at
    * 4-merge toy scale while the real bill is the full-merge fit
    * (r16's `fitLocal` collapsed it, but nothing had priced the LOOP:
    * fit + debounced decision + mid-stream `Bpe.refitCommitted` +
    * consumers reading the committed artifact across the swap).
    *
    * Day 1 fits `nMerges` over the corpus widened by one 32-hex
    * pseudo-word per doc (the r15 recipe — the fixture's ~31-word
    * vocabulary otherwise exhausts a real merge budget); the drift is
    * every corpus token letter-rotated (same length statistics,
    * disjoint from the learned pairs, so the committed merges shred it
    * to near-characters); the caller-maintained fit corpus is
    * base ∪ absorbed drift, so the ONE mid-stream re-fit restores
    * fertility. Every epoch a CONSUMER (`Bpe.readFit` +
    * `Bpe.tokenize` — the packing path) prices a fixed drifted sample
    * against whatever artifact is committed: it must never starve, and
    * its post-swap token bill must drop (the context-window-slots
    * differential). REQUIREd: the repair fires exactly once at the
    * debounce boundary, pre-repair fertility alerts, post-repair
    * fertility clears the alert by a wide gap, and the consumer's
    * drifted-sample subword count shrinks across the swap.
    */
  private def runMaintainBpe(spark: SparkSession, sfDir: String,
      nEpochs: Int, debounce: Int, nMerges: Int): Unit = {
    import spark.implicits._
    val docsAll = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = docsAll.count()
    require(nDocs > 0, s"no documents under $sfDir — nothing to rehearse")
    val base = docsAll.select($"doc_id",
      concat_ws(" ", $"text", md5($"doc_id".cast("string"))).as("text"))
    val drift = docsAll.select(($"doc_id" + 10000000L).as("doc_id"),
      translate(lower($"text"),
        "abcdefghijklmnopqrstuvwxyz0123456789",
        "nopqrstuvwxyzabcdefghijklm5678901234").as("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-maintain-bpe").toString
    val bpePath = s"$root/bpe"
    val (day1FitSec, _) = Rehearsal.timed(graft.ops.Bpe.fitCached(base,
      "text", nMerges, bpePath, corpusTag = "day1"))
    // the caller-maintained fit corpus the repair re-fits over: the
    // base plus the ABSORBED drifted ingest (re-fitting on one drifted
    // batch alone would whiplash the vocabulary — the stream scaladoc's
    // contract)
    val corpusPath = s"$root/fitcorpus"
    val (corpusWriteSec, _) = Rehearsal.timed(
      base.unionByName(drift).write.mode("overwrite").parquet(corpusPath))
    val driftBatch = drift.orderBy($"doc_id").limit(512)
      .as[Doc].collect().toSeq
    val consumerSample = drift.orderBy($"doc_id").limit(64)
      .select($"doc_id", $"text")
    val (mon, ref) = (s"$root/mon", s"$root/ref")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val alertAbove = 3.0
    val q = Streams.bpeMaintenanceStream(input.toDF(), bpePath, corpusPath,
      mon, ref, s"$root/cp", "doc_id", "text",
      alertAbove = alertAbove, debounce = debounce)
    // CONCURRENT consumer (r20 — pricing the production-merge repair,
    // where the re-fit wall dwarfs an epoch): a reader thread polls the
    // committed artifact continuously, INCLUDING all through the long
    // swap — every read must see a complete fit (the versioned _BPE_OK
    // marker swap is what makes that true: readers hold the retired
    // generation until the promote lands atomically). The sequential
    // per-epoch consumer below still prices the token-bill
    // differential; this thread proves no reader ever starves or tears.
    val stopConsumer = new java.util.concurrent.atomic.AtomicBoolean(false)
    val repairing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val readsDuringRepair = new java.util.concurrent.atomic.AtomicLong(0L)
    val consumerErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val consumer = new Thread(() => {
      while (!stopConsumer.get()) {
        try {
          val inRepair = repairing.get()
          val fit = graft.ops.Bpe.readFit(spark, bpePath)
          require(fit.merges.nonEmpty, "torn read: empty merge list")
          reads.incrementAndGet(): Unit
          if (inRepair) readsDuringRepair.incrementAndGet(): Unit
        } catch { case t: Throwable => consumerErrors.add(t): Unit }
        Thread.sleep(100)
      }
    }, "graft-bpe-concurrent-consumer")
    consumer.setDaemon(true)
    consumer.start()
    var fertBefore = -1.0
    var repairWall = -1.0
    var consumedBefore = -1L
    var consumedAfter = -1L
    try {
      (0 until nEpochs).foreach { e =>
        // the repair fires inside the debounce-boundary epoch: flag the
        // window so overlapping reads are attributable to the swap
        if (e == debounce - 1) repairing.set(true)
        val (maintSec, _) = Rehearsal.timed {
          input.addData(driftBatch: _*); q.processAllAvailable() }
        if (e == debounce - 1) repairing.set(false)
        val (fert, alert) = spark.read.parquet(s"$mon/epoch=$e")
          .select($"fertility", $"alert").as[(Double, Boolean)].head()
        val repaired = new java.io.File(s"$ref/epoch=$e").exists()
        if (repaired) repairWall = maintSec
        if (!repaired && fertBefore < 0 && alert) fertBefore = fert
        // the CONSUMER face: packing's token pricing reads whatever
        // artifact is committed — it must never starve across the
        // swap. tokenizeWith (the applyMerges extension path), not the
        // fit-word-table join: the drifted sample's words are exactly
        // the ones a pre-swap word table has never seen, and the join
        // face would silently drop them all (the x74 pitfall)
        val fit = graft.ops.Bpe.readFit(spark, bpePath)
        val consumed = graft.ops.Bpe.tokenizeWith(consumerSample,
            "doc_id", "text", fit.merges.map(m => (m.left, m.right)))
          .agg(coalesce(sum($"n_bpe_tokens"), lit(0L))).as[Long].head()
        require(consumed > 0L,
          s"the consumer starved at epoch $e — the swap must not stall it")
        if (!repaired && consumedBefore < 0) consumedBefore = consumed
        consumedAfter = consumed
        println(f"""{"epoch":$e,"maint_sec":$maintSec%.2f,""" +
          f""""fertility":$fert%.6f,"alert":$alert,"repaired":$repaired,""" +
          f""""consumer_subwords":$consumed}""")
      }
    } finally {
      q.stop()
      stopConsumer.set(true)
      consumer.join(30000)
    }
    // the concurrent reader never starved or tore — including across
    // the swap epoch (at production merge scale the repair wall is
    // many epochs long, and THIS is the claim that matters there)
    require(consumerErrors.isEmpty,
      s"concurrent consumer failed ${consumerErrors.size} reads: " +
        s"${Option(consumerErrors.peek()).map(_.toString).getOrElse("")}")
    require(readsDuringRepair.get() > 0,
      "no concurrent read overlapped the repair epoch — the rehearsal " +
        "did not exercise the swap window (poll faster or fit bigger)")
    // single fire, exactly at the debounce boundary
    val fired = Streams.epochsBefore(spark, ref, Long.MaxValue)
    require(fired == Seq(debounce - 1L),
      s"the re-fit must fire once at epoch ${debounce - 1}: $fired")
    val fertAfter = spark.read.parquet(s"$ref/epoch=${debounce - 1}")
      .select($"fertility").as[Double].head()
    require(fertBefore > alertAbove,
      s"fixture sanity: the drift must alert pre-repair: $fertBefore")
    // fertility restored: the promoted merges price the SAME drifted
    // sample under the alert floor, by a wide gap
    require(fertAfter <= alertAbove && fertAfter < fertBefore - 1.0,
      s"the repair must restore fertility: $fertAfter vs $fertBefore")
    // the packing-facing differential: the same 64-doc drifted sample
    // costs fewer context-window slots under the promoted artifact
    require(consumedAfter < consumedBefore,
      s"the consumer's token bill must drop across the swap: " +
        s"$consumedAfter vs $consumedBefore")
    val mergesDone = spark.read.parquet(s"$bpePath/merges").count()
    println(f"""{"mode":"maintain-bpe","n_docs":$nDocs,""" +
      f""""n_merges":$nMerges,"merges_done":$mergesDone,""" +
      f""""day1_fit_sec":$day1FitSec%.1f,""" +
      f""""corpus_write_sec":$corpusWriteSec%.1f,""" +
      f""""epochs_to_repair":$debounce,"repair_wall_sec":$repairWall%.1f,""" +
      f""""fertility_before":$fertBefore%.6f,""" +
      f""""fertility_after":$fertAfter%.6f,""" +
      f""""consumer_subwords_before":$consumedBefore,""" +
      f""""consumer_subwords_after":$consumedAfter,""" +
      f""""concurrent_reads":${reads.get()},""" +
      f""""reads_during_repair":${readsDuringRepair.get()},""" +
      f""""consumer_read_errors":${consumerErrors.size}}""")
  }

  /** The live-stream curve shared by `--live`, `--qlive` and `--hh`:
    * start the mode's REAL stream over a MemoryStream of docs (`start`
    * gets the input and a fresh root dir), feed it `batchOf(e)` as
    * micro-batch e, time each batch, and print its fields — `after`
    * runs the mode's per-epoch REQUIREs and returns its extra fields.
    */
  private def liveCurve(spark: SparkSession, name: String, nEpochs: Int,
      batchOf: Int => Seq[Doc])(start: (DataFrame, String) => StreamingQuery)(
      after: (Int, String) => String): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory(name).toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Doc](spark)
    val q = start(input.toDF(), root)
    try {
      (0 until nEpochs).foreach { e =>
        val batch = batchOf(e)
        val (sec, _) = Rehearsal.timed {
          input.addData(batch: _*)
          q.processAllAvailable()
        }
        println(f"""{"epoch":$e,"batch_docs":${batch.size},""" +
          f""""batch_sec":$sec%.2f,${after(e, root)}}""")
      }
    } finally q.stop()
  }

  /** A decorrelated 10% corpus slice per epoch: epoch-suffixed tokens
    * under epoch-strided ids, so every batch brings fresh content.
    */
  private def freshSlices(spark: SparkSession, sfDir: String): Int => Seq[Doc] = {
    import spark.implicits._
    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
      .where($"doc_id" % 10 === 0)
    val stride = Rehearsal.stride(base, "doc_id")
    e => base.select(($"doc_id" + lit(e.toLong * stride)).as("doc_id"),
        Rehearsal.suffixed($"text", "e" + e).as("text"))
      .as[Doc].collect().toSeq
  }

  /** `--live [nEpochs] [maxChain]` (default 32, 8): drive the REAL
    * passage-dedup stream — MemoryStream → [[Streams.passageDedupStream]]
    * with its auto-compaction policy — one decorrelated slice per epoch
    * (fresh passages every epoch — worst case for index growth), so
    * without the policy the chain would reach `nEpochs`. The
    * unattended-operation face: the on-disk chain must never exceed
    * maxChain+1 and per-epoch cost must stay flat with ZERO manual
    * compaction calls. Reported per epoch: batch wall time (probe +
    * epoch writes + any auto-compaction) and the chain length the NEXT
    * batch will probe.
    */
  private def runLive(spark: SparkSession, sfDir: String, nEpochs: Int,
      maxChain: Int): Unit =
    liveCurve(spark, "graft-live-stream", nEpochs, freshSlices(spark, sfDir))(
      (in, root) => Streams.passageDedupStream(in, s"$root/index",
        s"$root/out", s"$root/cp", "doc_id", "text", window = 8,
        maxChain = maxChain)) { (e, root) =>
      val c = Rehearsal.chainLength(s"$root/index")
      require(c <= maxChain + 1,
        s"auto-compaction failed to bound the chain: $c at epoch $e")
      s""""chain_parts":$c"""
    }

  /** `--qlive [nEpochs] [maxChain]` (default 24, 6): drive the REAL
    * quotation-flag stream (MemoryStream → [[Streams.quotationFlagStream]])
    * under the r14 auto-compaction policy — the unattended-operation
    * face of the `--quote` curve. Each epoch ingests a decorrelated
    * fresh slice (new shingle universe) PLUS a verbatim re-crawl of the
    * same epoch-0 slice under fresh ids, so every epoch ≥ 1 must flag
    * exactly that re-crawled slice against epoch 0's containers — a
    * per-epoch correctness invariant that crosses every compaction
    * boundary — while the on-disk chain must never exceed maxChain+1
    * with ZERO manual compaction calls.
    */
  private def runQuotationLive(spark: SparkSession, sfDir: String,
      nEpochs: Int, maxChain: Int): Unit = {
    import spark.implicits._
    val docsAll = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val fresh = docsAll.where($"doc_id" % 10 === 0)
    val quoted = docsAll.where($"doc_id" % 50 === 5) // re-crawled every epoch
    val stride = Rehearsal.stride(docsAll, "doc_id")
    // only docs with >= n tokens have shingles and can flag
    val nQuoted = quoted
      .where(size(TextAnalysis.tokens($"text")) >= 3).count()
    // fresh content is token-suffixed (new shingle universe per epoch);
    // epoch 0 ALSO carries the quoted slice VERBATIM at its original
    // (< stride) ids — the containers every later epoch's re-crawl must
    // flag against
    def epochBatch(e: Int): Seq[Doc] = {
      val f = fresh.select(($"doc_id" + lit(e.toLong * 2 * stride)).as("doc_id"),
        Rehearsal.suffixed($"text", "e" + e).as("text"))
      val q =
        if (e == 0) quoted
        else quoted.select(
          ($"doc_id" + lit((e.toLong * 2 + 1) * stride)).as("doc_id"), $"text")
      f.unionByName(q).as[Doc].collect().toSeq
    }
    liveCurve(spark, "graft-qlive", nEpochs, epochBatch)(
      (in, root) => Streams.quotationFlagStream(in, s"$root/index",
        s"$root/out", s"$root/cp", "doc_id", "text", n = 3, threshold = 0.6,
        maxChain = maxChain)) { (e, root) =>
      val c = Rehearsal.chainLength(s"$root/index")
      require(c <= maxChain + 1,
        s"auto-compaction failed to bound the chain: $c at epoch $e")
      // every epoch >= 1 must flag its whole re-crawled slice against
      // the ORIGINAL epoch-0 docs (ids < stride), across any number of
      // compactions of the containers' partition
      if (e >= 1) {
        val vsOriginal = spark.read.parquet(s"$root/out/epoch=$e")
          .where(col("quoted_from") < stride)
          .select(countDistinct(col("doc_id"))).head().getLong(0)
        require(vsOriginal == nQuoted,
          s"epoch $e flagged $vsOriginal of $nQuoted re-crawls vs epoch 0")
      }
      s""""chain_parts":$c"""
    }
  }

  /** `--hh [nEpochs] [k]` (default 32, 64): drive
    * [[Streams.heavyHittersStream]] over decorrelated slices (fresh
    * vocabulary every batch — worst case for Misra-Gries churn: nothing
    * repeats, every counter fights for its slot). The flat-cost claim:
    * per-batch wall time must not trend with the number of epochs
    * already ingested (chain state is ONE k-sized map), and every
    * committed summary must respect capacity k.
    */
  private def runHeavyHitters(spark: SparkSession, sfDir: String,
      nEpochs: Int, k: Int): Unit =
    liveCurve(spark, "graft-hh-stream", nEpochs, freshSlices(spark, sfDir))(
      (in, root) => Streams.heavyHittersStream(in, s"$root/out", s"$root/cp",
        "text", k)) { (e, root) =>
      val summary = spark.read.parquet(s"$root/out/epoch=$e").count()
      require(summary <= k,
        s"summary exceeded capacity at epoch $e: $summary > $k")
      s""""summary_rows":$summary"""
    }
}
