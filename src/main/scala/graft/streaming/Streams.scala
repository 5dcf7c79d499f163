package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.load.GraftSink

/** Structured Streaming surface: the reference's rate-limited polling
  * loop (README.md:13) is micro-batch-shaped, so every batch transform
  * in `graft.etl` applies unchanged to a streaming DataFrame — these
  * helpers add the stream-only pieces: watermarks, event-time windows,
  * stateful processing, and sink wiring.
  *
  * Scale notes: watermark + windowed aggregation keeps state bounded by
  * (watermark horizon × key cardinality); dropDuplicates carries its
  * own watermark-scoped state; `flatMapGroupsWithState` state is
  * per-key and explicitly timed out.
  */
object Streams {

  /** Tumbling event-time counts with late-data handling. Works on both
    * batch and streaming inputs (same plan, different incrementalization).
    */
  def tumblingStats(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Session windows (gap-based) per user. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup by key, state bounded by the watermark. */
  def dedupeStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming mixture-drift monitor: per closed event-time window,
    * the total-variation distance between the observed domain mix and
    * a target mix — the alarm a continuous-ingest curation pipeline
    * runs so a crawler going rogue (one domain flooding the feed)
    * pages someone before it skews a training shard.
    *
    * Mechanics: one watermarked windowed aggregation (state bounded by
    * horizon × |domains|) in APPEND mode, so a window's per-domain
    * counts all arrive in the same micro-batch exactly once, closed and
    * complete; `foreachBatch` then folds them against the broadcast
    * target (a handful of rows) into one row per window:
    * (window_start, n_docs, tv_drift, alert). TV = ½·Σ_d |obs_d −
    * tgt_d| over the union of observed and target domains, exact
    * small-integer ratios rounded to 10⁻⁶. Crash replay re-emits a
    * closed window's rows into the same epoch-keyed location.
    */
  def mixtureDriftStream(docs: DataFrame, target: Map[String, Double],
      outPath: String, checkpoint: String, domainCol: String,
      windowLen: String = "1 hour", watermark: String = "30 minutes",
      alertAt: Double = 0.25): StreamingQuery = {
    require(target.nonEmpty && math.abs(target.values.sum - 1.0) < 1e-9,
      "target mix must be a distribution over domains")
    val counts = docs
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(domainCol).as("__d"))
      .agg(count(lit(1)).as("__n"))
      .select(col("window.start").as("window_start"), col("__d"), col("__n"))
    counts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val tgt = target.toSeq.toDF("__d", "__tw")
        // grid = (window × union of observed/target domains); missing
        // side contributes 0 — both absences matter to TV
        val wins = batch.groupBy(col("window_start"))
          .agg(sum(col("__n")).as("__tot"))
        val grid = wins.select(col("window_start"), col("__tot"))
          .crossJoin(broadcast(
            batch.select(col("__d")).union(tgt.select(col("__d"))).distinct()))
        val out = grid
          .join(batch, Seq("window_start", "__d"), "left")
          .join(broadcast(tgt), Seq("__d"), "left")
          .select(col("window_start"), col("__tot"),
            abs(coalesce(col("__n"), lit(0L)).cast("double") / col("__tot") -
              coalesce(col("__tw"), lit(0.0))).as("__gap"))
          .groupBy(col("window_start"))
          .agg(max(col("__tot")).cast("long").as("n_docs"),
            round(sum(col("__gap")) / 2.0, 6).as("tv_drift"))
          .withColumn("alert", col("tv_drift") >= alertAt)
        out.write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      }
      .start()
  }

  /** Streaming quality-gate monitor — the ingest-health face of the
    * x60 Gopher rule gates: per micro-batch, the fraction of arriving
    * docs passing the conjunctive gate, one committed snapshot row per
    * epoch (epoch-keyed location ⇒ crash replay rewrites identical
    * bytes; no evolving state — each epoch is a pure function of its
    * batch). A crawler starting to emit boilerplate, binary junk, or
    * truncated pages shows up as a pass-rate cliff long before any
    * downstream dedup sees it; `alertBelow` marks the row.
    *
    * Cost: the gate is closed-form projections fused into the batch
    * scan + one count aggregate — per-batch work is one pass over the
    * batch, nothing corpus-sized, no index.
    */
  /** The per-epoch snapshot row, extracted so the empty-batch contract
    * is unit-testable: an idle epoch records (0, 0, 1.0, false, 0…) —
    * the coalesces matter because sums over zero rows are NULL, which
    * would break non-nullable downstream readers of the snapshot table.
    * Per-gate violator counts (`fail_g_*`, the r13 audit shape shared
    * with the capstone's stage report) ride every row: a pass-rate
    * cliff names WHICH rule is eating the crawl in the same snapshot
    * that alerts on it.
    *
    * Schema note (r13 upgrade): the `fail_g_*` columns changed the
    * snapshot parquet schema, so an `outPath` holding pre-upgrade
    * epochs is MIXED-schema — point upgraded monitors at a fresh
    * `outPath`, or read old roots with `.option("mergeSchema", "true")`
    * (a plain read samples one footer and may drop or reject the new
    * columns depending on which it picks).
    */
  private[streaming] def qualityGateSnapshot(batch: DataFrame, idCol: String,
      textCol: String, minWords: Long, alertBelow: Double): DataFrame = {
    val gateCols = graft.ops.TextAnalysis.gopherGateCols
    graft.ops.TextAnalysis
      .gopherRules(batch, idCol, textCol, minWords = minWords, perGate = true)
      .agg(count(lit(1)).as("n_docs"),
        (coalesce(sum(col("pass")), lit(0L)).cast("long").as("n_pass") +:
          gateCols.map(c =>
            coalesce(sum(when(col(c) === 0, 1L).otherwise(0L)), lit(0L))
              .as(s"fail_$c"))): _*)
      .select(col("n_docs") +: col("n_pass") +:
        round(when(col("n_docs") > 0,
          col("n_pass").cast("double") / col("n_docs")).otherwise(1.0), 6)
          .as("pass_rate") +:
        gateCols.map(c => col(s"fail_$c")): _*)
      .withColumn("alert", col("pass_rate") < alertBelow)
  }

  def qualityGateStream(docs: DataFrame, outPath: String,
      checkpoint: String, idCol: String, textCol: String,
      minWords: Long = 50L, alertBelow: Double = 0.5): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        qualityGateSnapshot(batch, idCol, textCol, minWords, alertBelow)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      }
      .start()

  final case class UserRunning(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom keyed state: running per-user totals emitted on every
    * update — the `flatMapGroupsWithState` pattern for logic windows
    * can't express. Pass `idleTimeout = Some("1 hour")` in production to
    * evict idle keys (processing-time timeouts make micro-batches fire
    * continuously, so tests run with no timeout).
    */
  def runningUserTotals(spark: SparkSession, events: Dataset[EventRow],
      idleTimeout: Option[String] = None): Dataset[UserRunning] = {
    import spark.implicits._
    val conf = idleTimeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](OutputMode.Append, conf) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[UserRunning]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(last)
          } else {
            val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
            val batch = rows.toSeq
            val next = UserRunning(userId,
              prev.nEvents + batch.size,
              prev.totalValue + batch.map(_.value).sum)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(next)
          }
      }
  }

  /** Stream-stream inner join with event-time bounds: match rows of two
    * streams on a key within a ± time window. Both sides carry
    * watermarks so the join state is bounded — without the time-range
    * condition the state would grow forever.
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String = "ts", rightTs: String = "ts",
      within: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"))
  }

  /** Streaming NEAR-dup suppression: drop events whose content
    * fingerprint (SimHash of the text column) repeats within the
    * watermark horizon — the streaming face of the dedup family.
    * Exact-duplicate and boilerplate-variant suppression at ingest
    * time; state is bounded by (watermark × distinct fingerprints).
    * SimHash collisions conflate only near-identical token streams —
    * precisely the rows an ingest near-dup filter wants to drop.
    */
  def dedupeNearStream(df: DataFrame, textCol: String,
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    df.withColumn("__fp", graft.ops.Dedup.simHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Streaming as-of join: for every left event, the payload of the
    * LATEST right row with `rTime <= lTime` within `lookback` on the
    * same key — the batch as-of with tolerance
    * ([[graft.ops.AsOfJoin.sortMerge]] t06 semantics; ties on time
    * break by greatest payload, matching the batch operator).
    *
    * A FINITE lookback is mandatory in a stream: it is exactly what
    * bounds the join state (batch's unbounded lookback would mean
    * remembering every right row forever). Formulation: two chained
    * stateful operators — a time-bounded stream-stream LEFT OUTER join
    * (unmatched left rows emit once the watermark closes them), then a
    * per-left-row max_by aggregation selecting the latest matching
    * right row. Append mode is legal because the grouping keys include
    * the watermarked left event time.
    *
    * Contract: left rows must be ROW-UNIQUE (carry an event id) — the
    * per-left-row selection groups by all left columns, so fully
    * identical duplicate left rows collapse into one output row,
    * unlike the batch operator which preserves multiplicity.
    */
  def asOfStream(left: DataFrame, right: DataFrame, key: String,
      timeCol: String, payloadCol: String,
      lookback: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(timeCol, watermark).alias("l")
    val r = right.withWatermark(timeCol, watermark).alias("r")
    val lTs = col(s"l.$timeCol")
    val rTs = col(s"r.$timeCol")
    val joined = l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        rTs <= lTs && rTs >= lTs - expr(s"INTERVAL $lookback"),
      "left_outer")
    val leftCols = left.columns.toSeq.map(c => col(s"l.$c"))
    // max_by ignores rows whose ordering expression is null, so the
    // left-outer null row (and nothing else) never wins; ordering by
    // (time, payload) reproduces the batch tie-break
    joined
      .groupBy(leftCols: _*)
      .agg(max_by(col(s"r.$payloadCol"),
        when(rTs.isNotNull, struct(rTs, col(s"r.$payloadCol"))))
        .as(s"asof_$payloadCol"))
  }

  /** L1 streaming load: route every micro-batch through a batch
    * [[GraftSink]] — upsert semantics and consistency checks carry over
    * unchanged (exactly-once per sink idempotence).
    */
  /** Continuous-ingest passage dedup against an EPOCH-PARTITIONED
    * passage index. Each micro-batch e:
    *   1. cleans against the index partitions committed strictly
    *      before e ([[graft.ops.Dedup.incrementalPassageDedup]] — one
    *      anti-join; earlier corpus text is never re-chunked),
    *   2. overwrites its own output dir `outPath/epoch=<e>`,
    *   3. overwrites its own index partition `indexPath/epoch=<e>`
    *      with the batch's new-to-index distinct passages (chunked
    *      from the ORIGINAL batch text — a rebuilt text would re-chunk
    *      on shifted window boundaries).
    *
    * Exactly-once without a transactional sink: every step is a pure
    * function of (batch contents, index partitions < e), and both
    * writes target only epoch-e locations with overwrite — so a replay
    * after a crash at ANY point rewrites identical bytes. A flat
    * append-mode index would break this: a crash after the index
    * append would make the replayed batch dedup against its own
    * passages and overwrite its output with an empty epoch.
    *
    * Documents with no `[a-z0-9]` tokens (e.g. non-Latin text) have no
    * passages and are absent from the dedup output — but they are NOT
    * duplicates, so they pass through with their original text
    * (`n_kept = n_dropped = 0`), mirroring CurateMain's batch guard.
    * Documents whose EVERY passage was index-suppressed drop BY DESIGN:
    * they are entirely repeated content.
    *
    * `maxChain` bounds the epoch chain WITHOUT operator action: when
    * the next batch would probe more than `maxChain` partitions, the
    * batch tail-calls [[compactPassageIndex]] up to the previous
    * epoch, folding everything below the current partition into one.
    * The mid-stream call keeps the crash-replay contract: inside
    * foreachBatch(e) every partition ≤ e-1 is committed (the engine
    * logs batch e-1's commit before planning e), the only possible
    * replay target is e itself — the newest partition, which the
    * compaction never absorbs — and the merged partition preserves
    * the exact passage set any epoch ≥ e dedups against. 0 disables
    * (manual compaction only).
    */
  /** Streaming decontamination against a PERSISTED benchmark index
    * ([[graft.ops.Decontam.writeBenchIndex]]): every micro-batch keeps
    * only its docs with zero n-gram overlap with the benchmark.
    *
    * Unlike the dedup streams there is NO evolving state — the
    * benchmark is fixed — so each batch is a pure function of (batch,
    * committed index): the bloom prefilter + verify join run inside
    * foreachBatch and crash replay rewrites identical bytes into the
    * epoch-scoped output location. Per-batch cost is O(batch n-grams
    * surviving the bloom); the index is never re-hashed or shuffled.
    */
  /** Streaming heavy-hitter vocabulary monitor: maintain a Misra-Gries
    * top-k token summary of EVERYTHING ingested so far, one committed
    * snapshot per micro-batch — the continuous face of x26 (what is
    * flooding the crawl right now, without ever storing a full
    * vocabulary).
    *
    * Epoch discipline (the index-family rule): epoch e's summary =
    * merge(epoch e−1's summary, MG(batch e)). The distributed work is
    * the per-batch sketch — partitions each keep k counters, the
    * shuffle carries k rows per partition — and the merge touches two
    * k-sized maps, so per-batch driver cost is O(k) whatever the
    * stream's volume. Crash replay of batch e rewrites epoch e from
    * the committed epoch e−1 byte-identically. The Misra-Gries bound
    * survives: merge() preserves "count under-estimates truth by ≤
    * N/(k+1)" over the whole ingested prefix.
    *
    * Retention: only epoch e−1 is ever READ (each snapshot already
    * summarizes the whole ingested prefix), so old snapshot dirs are
    * pure small-file debt — epoch e's batch deletes every epoch
    * < e − `keepLast` after committing its own snapshot. The trailing
    * `keepLast` window (default 8) keeps recent history for drift
    * inspection and stays far clear of the crash-replay contract
    * (replay of batch e needs exactly e−1; e and e−1 are never
    * touched). 0 keeps everything.
    */
  def heavyHittersStream(docs: DataFrame, outPath: String,
      checkpoint: String, textCol: String, k: Int,
      keepLast: Int = 8): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val agg = new graft.ops.HeavyHitters.MisraGries(k)
        val batchSum: Map[String, Long] = batch
          .select(explode(graft.ops.TextAnalysis.tokens(col(textCol)))
            .as("t")).as[String]
          .select(agg.toColumn).as[Seq[(String, Long)]]
          .head().toMap
        val prev: Map[String, Long] =
          if (epoch == 0) Map.empty
          else spark.read.parquet(s"$outPath/epoch=${epoch - 1}")
            .select(col("token"), col("est_count"))
            .as[(String, Long)].collect().toMap
        val merged = agg.finish(agg.merge(prev, batchSum))
        merged.toDF("token", "est_count")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        if (keepLast > 0) {
          val base = new org.apache.hadoop.fs.Path(outPath)
          val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(base)) fs.listStatus(base).foreach { st =>
            val nm = st.getPath.getName
            if (nm.startsWith("epoch=")) {
              val en = scala.util.Try(nm.stripPrefix("epoch=").toLong).toOption
              // strict < e−keepLast: a replayed epoch e sees the same
              // retention frontier it committed the first time
              if (en.exists(_ < epoch - keepLast))
                fs.delete(st.getPath, true): Unit
            }
          }
        }
      }
      .start()

  /** Streaming DSIR scoring against a PERSISTED model
    * ([[graft.ops.Dsir.writeModel]]): every micro-batch gets per-doc
    * importance log-weights toward the fixed target. Like
    * [[decontamStream]] there is no evolving state — the model is
    * immutable — so each epoch is a pure function of (batch, committed
    * model) and crash replay rewrites identical bytes. Per-batch cost:
    * one gram explode + two keyed shuffles + one O(buckets) broadcast.
    */
  def dsirScoreStream(docs: DataFrame, modelPath: String, outPath: String,
      checkpoint: String, idCol: String, textCol: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.ops.Dsir
          .scoreIndexed(batch, modelPath, idCol, textCol)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      }
      .start()

  def decontamStream(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, idCol: String, textCol: String,
      n: Int = 5): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.ops.Decontam
          .removeContaminatedIndexed(batch, indexPath, idCol, textCol, n)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      }
      .start()

  def passageDedupStream(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, idCol: String, textCol: String,
      window: Int = 8, nBuckets: Int = 32, maxChain: Int = 16): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) => graft.ops.Staged.scoped {
        // one frame PER committed epoch partition, each a bucketed table:
        // chained anti-joins keep every index scan Exchange-free (a
        // unioned read would re-shuffle the whole accumulated index
        // every batch — the posture round 9 fixed for the batch indexes)
        val idxParts = indexPartsBefore(batch.sparkSession, indexPath, epoch)
        // the staged pair shares ONE batch-chunking + index anti-join
        // between the clean output and the index registration
        val (cleaned, fresh) = graft.ops.Dedup
          .incrementalPassageDedupStaged(batch, idxParts, idCol, textCol, window)
        // token-less docs: pure function of the batch → replay-idempotent
        val tokenless = batch
          .where(size(graft.ops.TextAnalysis.tokens(col(textCol))) === 0)
          .select(col(idCol), col(textCol).as("clean_text"),
            lit(0).as("n_kept"), lit(0).as("n_dropped"))
        cleaned.unionByName(tokenless)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        // the epoch partition is itself a bucketed+sorted table on the
        // probe key, so FUTURE batches join it Exchange-free; the
        // drop-and-rewrite inside writeBucketedIndex preserves the
        // replay-idempotence contract above, and its bucket-aligned
        // repartition writes exactly one file per nonempty bucket.
        graft.ops.Dedup.writeBucketedIndex(
          fresh.select(col("chunk_text")).distinct(),
          s"$indexPath/epoch=$epoch", Seq("chunk_text"), nBuckets)
        // auto-compaction (see the maxChain scaladoc): fires when the
        // NEXT batch's chain (the partitions just probed plus epoch e's
        // fresh one) would exceed the bound; runs after this epoch's
        // writes so a crash inside the compaction replays epoch e
        // against the same — merged or unmerged — passage set
        if (maxChain > 0 && idxParts.size + 1 > maxChain)
          compactPassageIndex(batch.sparkSession, indexPath,
            upToEpoch = epoch - 1, nBuckets = nBuckets)
        // Staged.scoped (the wrapping above): the epoch releases ONLY
        // the frames it staged itself — a global release from here
        // could drain (persisted) or destroy (checkpointed) frames a
        // CONCURRENT pipeline in the same session is mid-consuming
      } }
      .start()

  /** One micro-batch of [[substringDedupStream]], exposed so the spec
    * can replay an epoch exactly as the engine would after a crash:
    * probe the committed span-index epochs (< e, chained Exchange-free
    * anti-joins — the passage stream's index discipline on the sliding-
    * span family), write the cleaned batch to `outPath/epoch=<e>`, and
    * register the batch's FRESH spans as the bucketed partition
    * `indexPath/epoch=<e>`. Every step is a pure function of (batch,
    * committed prefix) and epoch-e writes are drop-and-rewrite, so
    * crash replay rewrites identical bytes. Fresh spans are DISJOINT
    * from every earlier epoch by construction (they are exactly the
    * spans the probe found uncommitted), so compaction merges without
    * a distinct — the novelty index's property.
    */
  def processSubstringBatch(batch: DataFrame, epoch: Long,
      indexPath: String, outPath: String, idCol: String, textCol: String,
      window: Int, nBuckets: Int, maxChain: Int,
      hashed: Boolean = true): Unit =
    graft.ops.Staged.scoped {
      val idxParts = spanIndexPartsBefore(batch.sparkSession, indexPath, epoch)
      // ONE batch span frame + index probe feeds both the clean output
      // and the index registration (the staged pair)
      val (cleaned, freshSpans) = graft.ops.Dedup
        .incrementalSubstringDedupStaged(batch, idxParts, idCol, textCol,
          window, hashed)
      // the substring contract covers every batch doc (tokenless docs
      // ride through at n_tokens=0), so no side union is needed here
      cleaned.write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      graft.ops.Dedup.writeBucketedIndex(freshSpans,
        s"$indexPath/epoch=$epoch", Seq("gram"), nBuckets)
      // auto-compaction, the passage stream's policy verbatim: fires
      // when the NEXT batch's chain would exceed the bound; runs after
      // this epoch's writes so a crash inside compaction replays epoch
      // e against the same — merged or unmerged — span set
      if (maxChain > 0 && idxParts.size + 1 > maxChain)
        compactSpanIndex(batch.sparkSession, indexPath,
          upToEpoch = epoch - 1, nBuckets = nBuckets)
    }

  /** Seed a [[substringDedupStream]] index with a day-1 corpus's spans
    * committed as `epoch=-1` — BELOW every engine epoch (a fresh
    * checkpoint's first batch is 0), so batch 0 probes the corpus
    * without its own registration ever overwriting the seed. Every
    * streamed batch then dedups against the corpus exactly as
    * [[graft.ops.Dedup.incrementalSubstringDedup]] probes a
    * [[graft.ops.Dedup.writeSpanIndex]] artifact.
    */
  def seedSpanIndex(corpus: DataFrame, indexPath: String, idCol: String,
      textCol: String, window: Int = 8, nBuckets: Int = 32,
      hashed: Boolean = true): Unit =
    graft.ops.Dedup.writeBucketedIndex(
      graft.ops.Dedup.spanGrams(corpus, idCol, textCol, window, hashed),
      s"$indexPath/epoch=-1", Seq("gram"), nBuckets)

  /** Continuous-ingest sliding-span (ExactSubstr) dedup — the streaming
    * face of [[graft.ops.Dedup.substringDedup]], structured exactly
    * like [[passageDedupStream]]: spans committed by the corpus or any
    * earlier epoch cover every later occurrence, fresh spans are
    * first-occurrence-win within their batch and then registered into
    * the epoch-partitioned span index, so batch e dedups against
    * everything that survived before it. Seed the index from a day-1
    * corpus with [[seedSpanIndex]] (or start empty). When every
    * epoch's ids exceed all earlier ids, the stream's outputs equal
    * the one-shot [[graft.ops.Dedup.substringDedup]] over the
    * concatenated prefix restricted to each batch — the x97 identity,
    * which the spec pins per epoch. `maxChain` bounds the live epoch
    * chain via [[compactSpanIndex]] (0 = manual only).
    *
    * 100 TB shape: per epoch the batch's spans shuffle once into the
    * shared bucket layout and chain anti-joins through the committed
    * partitions Exchange-free — O(batch · epochs) network with the
    * chain length capped by compaction; nothing corpus-sized moves.
    * `hashed = true` — the DEFAULT (r20) — registers and probes
    * xxhash64 span keys, the production keying (x98): the index and
    * every span exchange carry 8-byte longs instead of window-token
    * strings, identical output absent a 64-bit collision;
    * `hashed = false` is the test/oracle-parity string keying (the
    * x95/x97 faces pass it explicitly). One index, one keying: seed
    * and stream must agree (the probe refuses a mismatched schema).
    */
  def substringDedupStream(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, idCol: String, textCol: String,
      window: Int = 8, nBuckets: Int = 32, maxChain: Int = 16,
      hashed: Boolean = true): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processSubstringBatch(batch, epoch, indexPath, outPath,
          idCol, textCol, window, nBuckets, maxChain, hashed)
      }
      .start()

  /** Offline compaction for the epoch-partitioned passage index: merge
    * the partitions with epoch ≤ `upToEpoch` — EXCLUDING the newest
    * partition, see below — into one partition carrying the HIGHEST
    * label it absorbed. Keeping the max absorbed label (never the
    * caller's argument) means [[indexBefore]] for any later epoch sees
    * exactly the same passage set; a caller-supplied label above the
    * max would hide the merged passages from the epochs between (they
    * read `< e`) and eventually be OVERWRITTEN by the stream when it
    * reaches that epoch. The newest partition is never absorbed: it
    * may belong to the one epoch the restarted stream can replay (its
    * checkpoint commit may not have landed), and replay must find the
    * partitions strictly below it intact. Run with the stream down
    * when small per-batch partitions accumulate (the classic
    * streaming small-files debt).
    *
    * Crash-RECOVERABLE, x25's versioned-publish spirit: the merged set
    * is first written to `__compact_tmp_<label>`, whose parquet
    * `_SUCCESS` is the commit point. Every invocation FIRST finishes
    * any tmp dir found on disk regardless of its own argument (a
    * committed tmp holds passages that may exist nowhere else; an
    * uncommitted one is discarded — its victims are untouched), so a
    * crashed swap completes on the next run instead of stranding data.
    * All delete/rename results are checked: Hadoop FileSystems report
    * most failures by returning false, not throwing.
    */
  def compactPassageIndex(spark: SparkSession, indexPath: String,
      upToEpoch: Long, nBuckets: Int = 32): Unit =
    compactEpochChain(spark, indexPath, upToEpoch, nBuckets,
      Seq("chunk_text"), dedup = true)

  /** Offline compaction for the novelty monitor's first-seen gram
    * index ([[noveltyMonitorStream]]): the passage discipline verbatim
    * — merge epochs ≤ `upToEpoch` (never the newest) into one bucketed
    * partition under the max absorbed label with the finish-tmp-first
    * crash-recoverable swap. No distinct on the merge: novel-only
    * registration makes epoch gram sets DISJOINT by construction, so
    * the union is already duplicate-free.
    */
  def compactNoveltyIndex(spark: SparkSession, indexPath: String,
      upToEpoch: Long, nBuckets: Int = 32): Unit =
    compactEpochChain(spark, indexPath, upToEpoch, nBuckets,
      Seq("gram"), dedup = false)

  /** Offline compaction for the span index
    * ([[substringDedupStream]]): the novelty discipline verbatim —
    * epoch span sets are disjoint by construction (fresh-only
    * registration), so the merge needs no distinct.
    */
  def compactSpanIndex(spark: SparkSession, indexPath: String,
      upToEpoch: Long, nBuckets: Int = 32): Unit =
    compactEpochChain(spark, indexPath, upToEpoch, nBuckets,
      Seq("gram"), dedup = false)

  private def compactEpochChain(spark: SparkSession, indexPath: String,
      upToEpoch: Long, nBuckets: Int, keyCols: Seq[String],
      dedup: Boolean): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    def mustDelete(p: org.apache.hadoop.fs.Path): Unit =
      require(fs.delete(p, true), s"compaction: delete failed for $p")
    def promote(tmp: org.apache.hadoop.fs.Path, label: Long): Unit = {
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch=") &&
          s.getPath.getName.stripPrefix("epoch=").toLong <= label)
        .foreach { s =>
          mustDelete(s.getPath)
          // a bucketed victim's catalog entry now points at a deleted
          // location; drop it by its stable raw-path-derived name so a
          // later partition at the same path re-registers cleanly
          spark.sql("DROP TABLE IF EXISTS " +
            graft.ops.Dedup.indexTableName(s"$indexPath/${s.getPath.getName}")): Unit
        }
      val dest = new org.apache.hadoop.fs.Path(root, s"epoch=$label")
      require(fs.rename(tmp, dest), s"compaction: rename $tmp -> $dest failed")
      // the tmp-path entry points at the renamed dir; the merged
      // partition re-registers under its final path on first probe
      spark.sql("DROP TABLE IF EXISTS " +
        graft.ops.Dedup.indexTableName(s"$indexPath/${tmp.getName}")): Unit
    }
    // recovery: finish (or discard) any swap a previous run left behind
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__compact_tmp_"))
      .foreach { s =>
        val label = s.getPath.getName.stripPrefix("__compact_tmp_").toLong
        if (fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
          promote(s.getPath, label)
        else mustDelete(s.getPath) // victims intact; clean slate
      }
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(s => (s.getPath.getName.stripPrefix("epoch=").toLong, s.getPath))
    if (dirs.isEmpty) return
    val newest = dirs.map(_._1).max
    val victims = dirs.filter { case (l, _) => l <= upToEpoch && l < newest }
    if (victims.size < 2) return // nothing worth merging
    val label = victims.map(_._1).max
    // the merged partition is itself a bucketed table, so post-compaction
    // probes keep the Exchange-free layout. Commit-point nuance: parquet's
    // _SUCCESS (written inside saveAsTable) is still the promote gate; the
    // bucket-spec marker lands just after it, so a crash in that tiny
    // window promotes a partition that reads as PLAIN parquet — correct,
    // merely un-bucketed until the next compaction rebuilds it.
    val merged = spark.read.parquet(victims.map(_._2.toString): _*)
      .select(keyCols.map(col): _*)
    graft.ops.Dedup.writeBucketedIndex(
      if (dedup) merged.distinct() else merged,
      s"$indexPath/__compact_tmp_$label", keyCols, nBuckets)
    promote(new org.apache.hadoop.fs.Path(root, s"__compact_tmp_$label"), label)
  }

  /** Offline compaction for the quotation index's two-table epochs
    * ([[quotationFlagStream]]'s `sets/` + `posts/` layout): merge
    * epochs ≤ `upToEpoch` — never the globally newest, which may be a
    * restarted stream's replay target — into one partition carrying
    * the HIGHEST absorbed label, so [[quotationFlags]] for any later
    * epoch probes exactly the same container set through ONE
    * candidates+verify leg instead of one per absorbed epoch. Both
    * unions are duplicate-free by construction (a container id lives
    * in exactly one epoch). The swap is the passage pattern with one
    * difference forced by the two-subdir shape: parquet's _SUCCESS
    * lands per SUBDIR, so the tmp's commit point is an explicit `_OK`
    * marker created only after both tables are fully written —
    * recovery promotes a tmp with `_OK` and discards one without
    * (victims untouched either way).
    */
  def compactQuotationIndex(spark: SparkSession, indexPath: String,
      upToEpoch: Long, nBuckets: Int = 32): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    def mustDelete(p: org.apache.hadoop.fs.Path): Unit =
      require(fs.delete(p, true), s"quotation compaction: delete failed for $p")
    def promote(tmp: org.apache.hadoop.fs.Path, label: Long): Unit = {
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch=") &&
          s.getPath.getName.stripPrefix("epoch=").toLong <= label)
        .foreach { s =>
          mustDelete(s.getPath)
          spark.sql("DROP TABLE IF EXISTS " + graft.ops.Dedup
            .indexTableName(s"$indexPath/${s.getPath.getName}/posts")): Unit
        }
      val dest = new org.apache.hadoop.fs.Path(root, s"epoch=$label")
      require(fs.rename(tmp, dest),
        s"quotation compaction: rename $tmp -> $dest failed")
      spark.sql("DROP TABLE IF EXISTS " + graft.ops.Dedup
        .indexTableName(s"$indexPath/${tmp.getName}/posts")): Unit
    }
    // recovery: finish a committed swap, discard an uncommitted one
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__compact_tmp_"))
      .foreach { s =>
        val label = s.getPath.getName.stripPrefix("__compact_tmp_").toLong
        if (fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_OK")))
          promote(s.getPath, label)
        else mustDelete(s.getPath)
      }
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
    if (dirs.isEmpty) return
    val newest = dirs.max
    val victims = dirs.filter(l => l <= upToEpoch && l < newest).sorted
    if (victims.size < 2) return // nothing worth merging
    val label = victims.max
    val tmp = s"$indexPath/__compact_tmp_$label"
    spark.read.parquet(victims.map(e => s"$indexPath/epoch=$e/sets"): _*)
      .write.mode("overwrite").parquet(s"$tmp/sets")
    graft.ops.Dedup.writeBucketedIndex(
      spark.read.parquet(victims.map(e => s"$indexPath/epoch=$e/posts"): _*)
        .select(col("tok"), col("id"), col("hn")),
      s"$tmp/posts", Seq("tok"), nBuckets)
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_OK"), true).close()
    promote(new org.apache.hadoop.fs.Path(tmp), label)
  }

  /** The union of index partitions committed before `epoch` (empty
    * 1-column frame when none exist — the first batch's view). Listed
    * through the Hadoop FileSystem API, not java.io.File: at cluster
    * scale the index lives on HDFS/S3, where a local listing would
    * silently see nothing and every batch would dedup against an
    * empty index.
    */
  /** One micro-batch of [[quotationFlagStream]], exposed for crash-
    * replay testing — a pure function of (batch, committed prefix):
    * the batch's shingle-set frame probes committed epochs ∪ the batch
    * itself (container side), keeping only containments in EARLIER
    * docs (`id_b < id_a` — the stream contract is ids increase with
    * arrival), and commits (idCol, quoted_from, containment) flags to
    * `outPath/epoch=<e>`. EVERY batch doc with shingles then registers
    * — quotation is advisory (flag, not drop), so a flagged doc is
    * still a valid container for later arrivals.
    *
    * Index layout (the 100 TB point): each committed epoch holds
    * `posts/` — the container side EXPLODED ONCE at registration time
    * into (tok, id, hn) posting rows, a bucketed table on the shingle
    * key — plus `sets/` (id, h, hn) for verification. The per-epoch
    * candidate probe is then the batch's O(batch-prefix) explode
    * equi-joined against bucketed postings (index side never
    * re-explodes, never crosses an Exchange), and the verify join
    * re-attaches full sets for the O(candidates) pairs only. A first
    * cut stored only the sets and re-exploded EVERY committed doc's
    * hash array on EVERY batch — per-epoch cost O(corpus), the exact
    * failure the passage/novelty indexes exist to avoid.
    */
  /** The flag computation alone (no writes, no registration): the
    * batch's prefix explode probes each committed epoch's bucketed
    * posting table, per-epoch verify joins re-attach full sets for the
    * candidates, and the within-batch leg adds lower-id same-batch
    * containers. Returns (id_a, id_b, containment). Exposed so the
    * scale rehearsal can measure the probe against a growing index
    * without mutating it.
    */
  private[streaming] def quotationFlags(batch: DataFrame, epoch: Long,
      indexPath: String, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val D = graft.ops.Dedup
    val sets = graft.ops.Staged(
      D.containmentSets(batch, idCol, textCol, None, n).drop("block"))
    val prefA = graft.ops.Staged(sets.select(col("id"), col("hn"),
      explode(slice(col("h"), lit(1), D.containPrefix(threshold))).as("tok")))
    def candidates(posts: DataFrame): DataFrame =
      prefA.as("x").join(posts.as("y"),
          col("x.tok") === col("y.tok") && col("x.id") =!= col("y.id") &&
            col("y.hn") >= col("x.hn") * lit(threshold))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
    def verify(cand: DataFrame, bSets: DataFrame): DataFrame =
      cand
        .join(sets.select(col("id").as("id_a"), col("h").as("__ha")),
          Seq("id_a"))
        .join(bSets.select(col("id").as("id_b"), col("h").as("__hb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("__ha"), col("__hb")))
            .cast("double") / size(col("__ha")), 6).as("containment"))
        .where(col("containment") >= threshold)
    // committed epochs: bucketed posting probe + per-epoch verify (a
    // container id lives in exactly one epoch, so the union is
    // duplicate-free across epochs by construction)
    val epochFlags = epochsBefore(spark, indexPath, epoch).map { e =>
      verify(candidates(
          D.readIndexTable(spark, s"$indexPath/epoch=$e/posts")),
        spark.read.parquet(s"$indexPath/epoch=$e/sets"))
    }
    // within-batch: explode the batch's own container side (O(batch))
    val fullB = sets.select(col("id"), col("hn"), explode(col("h")).as("tok"))
    val inBatch = verify(candidates(fullB), sets)
      .where(col("id_b") < col("id_a"))
    (epochFlags :+ inBatch).reduce(_ unionByName _)
  }

  /** Register a batch's shingle sets as committed epoch `epoch`:
    * `sets/` (id, h, hn) for verification + `posts/` — the container
    * side exploded ONCE into (tok, id, hn) posting rows as a bucketed
    * table on the shingle key, so future batches probe it without
    * re-exploding anything committed.
    */
  private[streaming] def registerQuotationEpoch(batch: DataFrame,
      epoch: Long, indexPath: String, idCol: String, textCol: String,
      n: Int, nBuckets: Int): Unit = {
    val D = graft.ops.Dedup
    val sets = graft.ops.Staged(
      D.containmentSets(batch, idCol, textCol, None, n).drop("block"))
    sets.write.mode("overwrite").parquet(s"$indexPath/epoch=$epoch/sets")
    D.writeBucketedIndex(
      sets.select(col("id"), col("hn"), explode(col("h")).as("tok"))
        .select("tok", "id", "hn"),
      s"$indexPath/epoch=$epoch/posts", Seq("tok"), nBuckets)
  }

  def processQuotationBatch(batch: DataFrame, epoch: Long,
      indexPath: String, outPath: String, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, nBuckets: Int = 32,
      maxChain: Int = 16): Unit = graft.ops.Staged.scoped {
    // same domain guard as the batch operator: outside (0,1] the
    // prefix arithmetic breaks mid-job, and a stream would break on
    // EVERY epoch — validate before the first one
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    require(n > 0, s"shingle size must be positive, got $n")
    require(nBuckets > 0, s"bucket count must be positive, got $nBuckets")
    val committed = epochsBefore(batch.sparkSession, indexPath, epoch)
    quotationFlags(batch, epoch, indexPath, idCol, textCol, n, threshold)
      .select(col("id_a").as(idCol), col("id_b").as("quoted_from"),
        col("containment"))
      .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
    registerQuotationEpoch(batch, epoch, indexPath, idCol, textCol, n,
      nBuckets)
    // auto-compaction, the passage stream's policy: fires when the NEXT
    // batch's chain (the epochs just probed plus epoch e's fresh one)
    // would exceed the bound; runs after this epoch's writes so a crash
    // inside the compaction replays epoch e against the same — merged
    // or unmerged — container set. Without it, the per-batch plan grows
    // one candidates+verify leg per committed epoch forever (the r13
    // verdict's one named scale gap). 0 disables (manual only).
    if (maxChain > 0 && committed.size + 1 > maxChain)
      compactQuotationIndex(batch.sparkSession, indexPath,
        upToEpoch = epoch - 1, nBuckets = nBuckets)
    // scoped (the `= Staged.scoped` wrapping): only THIS epoch's staged
    // frames release here, never a concurrent pipeline's
  }

  /** Streaming quotation suppression — the dedup family's asymmetric
    * case as a continuous monitor: new docs whose shingle set is ≥
    * `threshold` CONTAINED in an earlier (committed or same-batch,
    * lower-id) doc get FLAGGED, not dropped — tiny-Jaccard inclusions
    * (a short doc quoted verbatim inside a long one) that symmetric
    * near-dup suppression structurally misses. Epoch-partitioned
    * index + overwrite-committed flags: the [[passageDedupStream]]
    * replay contract, applied to x66's batch operator.
    *
    * 100 TB shape: per batch, only the BATCH side's lossless prefixes
    * explode (O(batch shingles)); the committed side is an
    * equi-joined parquet scan on the shingle-hash key — no corpus
    * re-hashing, no all-pairs product; the verify join re-attaches
    * full sets by id for the candidates only.
    */
  def quotationFlagStream(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, maxChain: Int = 16): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processQuotationBatch(batch, epoch, indexPath, outPath,
          idCol, textCol, n, threshold, maxChain = maxChain)
      }
      .start()

  /** One micro-batch of [[noveltyMonitorStream]], exposed for crash-
    * replay testing — a pure function of (batch, committed prefix):
    * the batch's distinct `n`-gram shingles are anti-joined against
    * every committed gram partition (each a bucketed table on the gram
    * key, so the index side never crosses an Exchange — the passage-
    * index discipline; only the O(batch) gram side shuffles into the
    * bucket layout), one snapshot row (n_docs, n_grams, n_novel,
    * novelty, alert) commits to `outPath/epoch=<e>`, and the NOVEL
    * grams (only — epoch partitions stay disjoint, the index is the
    * first-seen attribution) register as `indexPath/epoch=<e>`.
    */
  def processNoveltyBatch(batch: DataFrame, epoch: Long, indexPath: String,
      outPath: String, idCol: String, textCol: String, n: Int,
      alertBelow: Double, nBuckets: Int = 32,
      maxChain: Int = 16): Unit = graft.ops.Staged.scoped {
    require(n > 0, s"shingle size must be positive, got $n")
    val grams = graft.ops.Staged(batch
      .select(explode(graft.ops.Shingles(col(textCol), n)).as("gram"))
      .distinct())
    processNoveltyBatchFromGrams(grams, batch.count(), epoch, indexPath,
      outPath, alertBelow, nBuckets, maxChain)
  }

  /** [[processNoveltyBatch]] over a PRE-STAGED distinct-gram frame (one
    * `gram` column) — the shared-frame face for callers that run the
    * whole day-2 monitor family over one batch ([[monitorFrames]]): the
    * batch is shingled ONCE and the resulting frame serves every
    * consumer, instead of each snapshot re-deriving it from text.
    * Identical math and identical committed artifacts (snapshot row,
    * registered novel grams, compaction policy) — the caller owns the
    * frame's release; this body releases only what it stages itself.
    */
  private[graft] def processNoveltyBatchFromGrams(grams: DataFrame,
      nDocs: Long, epoch: Long, indexPath: String, outPath: String,
      alertBelow: Double, nBuckets: Int = 32,
      maxChain: Int = 16): Unit = graft.ops.Staged.scoped {
    require(nBuckets > 0, s"bucket count must be positive, got $nBuckets")
    val spark = grams.sparkSession
    import spark.implicits._
    val committed = epochsBefore(spark, indexPath, epoch)
    val idxParts = committed.map(e =>
      graft.ops.Dedup.readIndexTable(spark, s"$indexPath/epoch=$e")
        .select(col("gram")))
    val novel = graft.ops.Staged(
      idxParts.foldLeft(grams.toDF)((g, idx) =>
        g.join(idx, Seq("gram"), "left_anti")))
    val (nGrams, nNovel) = (grams.count(), novel.count())
    val novelty =
      if (nGrams > 0)
        BigDecimal(nNovel.toDouble / nGrams)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 1.0
    Seq((nDocs, nGrams, nNovel, novelty, novelty < alertBelow))
      .toDF("n_docs", "n_grams", "n_novel", "novelty", "alert")
      .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
    graft.ops.Dedup.writeBucketedIndex(novel, s"$indexPath/epoch=$epoch",
      Seq("gram"), nBuckets)
    // auto-compaction under `maxChain` (the passage policy): without it
    // the per-batch anti-join fold grows one plan leg per committed
    // epoch forever. Runs after this epoch's writes, never absorbs the
    // newest partition — a crash inside it replays epoch e against the
    // same gram set, merged or not. 0 disables (manual only).
    if (maxChain > 0 && committed.size + 1 > maxChain)
      compactNoveltyIndex(spark, indexPath, upToEpoch = epoch - 1,
        nBuckets = nBuckets)
    // scoped (the `= Staged.scoped` wrapping): only THIS epoch's staged
    // frames release here, never a concurrent pipeline's
  }

  /** The per-epoch OOV snapshot, extracted for unit/replay testing —
    * a pure function of (batch, vocab files): tokens counted WITH
    * multiplicity against the frozen vocabulary; an idle epoch records
    * (0, 0, 0, 0.0, false). `n_docs` is the FULL batch count (the
    * quality-gate convention), not the count of docs that yielded
    * tokens — a batch of all-tokenless (e.g. non-Latin) docs must read
    * as "N docs arrived, none tokenized", never as an idle epoch.
    */
  /** The per-epoch unigram-KL snapshot — x91's operational face,
    * extracted for unit/replay testing: KL(batch ‖ corpus) over the
    * SHARED support (batch tokens the frozen
    * [[graft.ops.TextAnalysis.unigramCounts]] table knows), both
    * distributions renormalized to that support so the divergence is a
    * true KL (≥ 0, 0 iff the in-vocab proportions match). Out-of-vocab
    * mass is reported separately as `oov_mass` — it is the OOV
    * monitor's signal, and folding it into KL would need an arbitrary
    * smoothing constant; the two columns TOGETHER cover the batch
    * ("new words" vs "wrong proportions of known words" — a drifted
    * crawl can fire either alone). Same decimal-grid discipline as the
    * registered x91 (1e-9 per-term grid, decimal sum, round 6). An
    * idle or all-OOV epoch records NULL kl (no shared support to
    * compare — 0 would read "perfectly matched").
    *
    * Cost per epoch: one batch token count, one broadcast-sized join
    * against the O(vocab) frozen table, two 1-row aggregates — nothing
    * corpus-sized, no state.
    */
  private[graft] def klSnapshot(batch: DataFrame, countsPath: String,
      idCol: String, textCol: String, alertAbove: Double): DataFrame =
    klSnapshotFromWords(
      batch.select(
        explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("word")),
      batch.count(), countsPath, alertAbove)

  /** [[klSnapshot]] over the shared pre-exploded token frame
    * ([[monitorFrames]]'s `words` — the same frame the OOV and
    * fertility snapshots consume). Identical output values.
    *
    * The frozen count table is NOT broadcast (r20 — it was the one
    * O(vocab) broadcast in the monitor family): at a web-scale
    * vocabulary (10⁸–10⁹ token types) the frozen table is not
    * broadcast-sized. The join key is `tok`, which the batch side is
    * already hash-partitioned on by its own groupBy — so when the
    * committed table is BUCKETED on tok (the span index's own
    * discipline; [[graft.ops.Dedup.writeBucketedIndex]], as the
    * capstone now freezes it), the frozen side scans Exchange-free
    * and only the batch-sized count frame moves. Plain-parquet legacy
    * dirs still read (one tok-shuffle of the frozen side — correct,
    * merely unbucketed); at fixture sizes AQE may still pick a
    * broadcast join from the observed sizes, which is exactly the
    * size-based call the unconditional hint used to preempt.
    */
  private[graft] def klSnapshotFromWords(words: DataFrame, nDocs: Long,
      countsPath: String, alertAbove: Double): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val frozen = graft.ops.Dedup.readIndexTable(spark, countsPath)
      .select(col("tok"), col("cnt"))
    val bc = graft.ops.Staged(words
      .select(col("word").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("__cb")))
    val nTok = bc.agg(coalesce(sum($"__cb"), lit(0L))).as[Long].head()
    val shared = graft.ops.Staged(bc.join(frozen, "tok"))
    val (nInv, qSupport) = shared
      .agg(coalesce(sum($"__cb"), lit(0L)),
        coalesce(sum($"cnt"), lit(0L))).as[(Long, Long)].head()
    val kl =
      if (nInv == 0L) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(shared
        .select(round(($"__cb".cast("double") / nInv) *
            log(($"__cb".cast("double") * qSupport) /
              (lit(nInv.toDouble) * $"cnt")), 9)
          .cast("decimal(28,9)").as("__t"))
        .agg(round(coalesce(sum($"__t"), lit(java.math.BigDecimal.ZERO))
          .cast("double"), 6)).as[Double].head())
    val oovMass =
      if (nTok == 0L) 0.0
      else BigDecimal((nTok - nInv).toDouble / nTok)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nDocs, nTok, nInv, oovMass,
        Option(kl).map(_.doubleValue),
        Option(kl).exists(_.doubleValue > alertAbove)))
      .toDF("n_docs", "n_tokens", "n_in_vocab", "oov_mass", "kl", "alert")
  }

  /** Streaming unigram-KL monitor — watches arriving batches against
    * the frozen corpus unigram distribution exactly as
    * [[oovMonitorStream]] watches the frozen vocabulary, but for the
    * failure mode OOV structurally misses: a batch of 100% known words
    * in the WRONG proportions (a crawler stuck on one template, a
    * source flipping domain) reads 0 OOV and fires here. Epoch-keyed
    * overwrite snapshots, replay-pure (read-only vs the committed
    * artifact).
    */
  def klMonitorStream(docs: DataFrame, countsPath: String, outPath: String,
      checkpoint: String, idCol: String, textCol: String,
      alertAbove: Double = 0.5): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.ops.Staged.scoped {
          klSnapshot(batch, countsPath, idCol, textCol, alertAbove)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        }
      }
      .start()

  /** The day-2 monitor family's shared staged frames, derived from one
    * batch in ONE pass each: `words` (exploded tokens with
    * multiplicity — consumed by both the OOV and fertility snapshots)
    * and `grams` (distinct `n`-gram shingles — consumed by the novelty
    * batch), plus the batch count every snapshot stamps as `n_docs`.
    * Without this, each snapshot re-tokenizes the same persisted batch
    * independently — three tokenization passes and three counts where
    * one of each suffices (the x85 lesson applied to the monitors: the
    * signals share inputs, so the frames should be staged once). The
    * CALLER owns the frames' release (they register in the caller's
    * scope, or globally when none is active).
    */
  final case class MonitorFrames(nDocs: Long, words: DataFrame,
      grams: DataFrame)

  def monitorFrames(batch: DataFrame, textCol: String,
      n: Int = 3): MonitorFrames = {
    require(n > 0, s"shingle size must be positive, got $n")
    MonitorFrames(
      batch.count(),
      graft.ops.Staged(batch.select(
        explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("word"))),
      graft.ops.Staged(batch.select(
        explode(graft.ops.Shingles(col(textCol), n)).as("gram")).distinct()))
  }

  private[graft] def oovSnapshot(batch: DataFrame, vocabPath: String,
      idCol: String, textCol: String, alertAbove: Double): DataFrame =
    oovSnapshotFromWords(
      batch.select(
        explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("word")),
      batch.count(), vocabPath, alertAbove)

  /** [[oovSnapshot]] over a PRE-EXPLODED token frame (one `word` column,
    * WITH multiplicity) plus the batch's doc count — the shared-frame
    * face ([[monitorFrames]]): one tokenization pass serves both this
    * and the fertility snapshot. Identical output values.
    */
  private[graft] def oovSnapshotFromWords(words: DataFrame, nDocs: Long,
      vocabPath: String, alertAbove: Double): DataFrame = {
    val spark = words.sparkSession
    val vocab = broadcast(spark.read.parquet(vocabPath)
      .select(col("tok"), lit(1).as("__inv")))
    words
      .select(col("word").as("tok"))
      .join(vocab, Seq("tok"), "left")
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(when(col("__inv").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_oov"))
      .select(lit(nDocs).as("n_docs"), col("n_tokens"), col("n_oov"),
        round(when(col("n_tokens") > 0,
          col("n_oov").cast("double") / col("n_tokens")).otherwise(0.0), 6)
          .as("oov_rate"))
      .withColumn("alert", col("oov_rate") > alertAbove)
  }

  /** Streaming OOV monitor — the operational face of the x68
    * vocabulary-coverage signal, against the FROZEN vocabulary a
    * training run committed to ([[graft.ops.TextAnalysis.fitVocab]]
    * persisted to `vocabPath`): per micro-batch, the fraction of
    * arriving tokens (with multiplicity) outside that vocabulary, one
    * epoch-keyed snapshot row. Distinct from the novelty monitor's
    * signal: novelty watches CONTENT repetition against everything
    * seen; this watches TOKENIZER mismatch against a fixed artifact —
    * a drifting crawl can be 100% novel and still 0% OOV, or vice
    * versa. Rising OOV means the committed tokenizer will shred the
    * new data into bytes; `alertAbove` marks the epoch.
    *
    * Cost: one broadcast of the O(V) vocab + one pass over the batch's
    * tokens per epoch — nothing corpus-sized, no state.
    */
  def oovMonitorStream(docs: DataFrame, vocabPath: String, outPath: String,
      checkpoint: String, idCol: String, textCol: String,
      alertAbove: Double = 0.2): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        oovSnapshot(batch, vocabPath, idCol, textCol, alertAbove)
          .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
      }
      .start()

  /** The per-epoch subword-fertility snapshot, extracted for unit/
    * replay testing — a pure function of (batch, merges files):
    * fertility = subword tokens per word under the FROZEN merge list
    * (an x72 fit the training run committed to, persisted via
    * `Bpe.Fit.mergeTable`). Rising fertility is THE operational
    * tokenizer-mismatch metric in the units that bill compute —
    * context-window slots: a drifted crawl (new language, new domain
    * jargon, binary junk) shreds into near-character sequences long
    * before word-level OOV (x68's monitor) saturates. `n_docs` is the
    * full batch count (the quality-gate convention); an idle epoch
    * records (0, 0, 0, 0.0, false).
    *
    * Cost: the merge list is nMerges-bounded (an O(K) driver read);
    * the merges apply once per DISTINCT batch word (a typed map over
    * the batch vocabulary — bounded by the batch) and join back onto
    * the token stream. Nothing corpus-sized, no state.
    */
  private[graft] def fertilitySnapshot(batch: DataFrame, mergesPath: String,
      idCol: String, textCol: String, alertAbove: Double): DataFrame =
    fertilitySnapshotFromWords(graft.ops.Staged(batch
        .select(explode(graft.ops.TextAnalysis.tokens(col(textCol)))
          .as("word"))),
      batch.count(), mergesPath, alertAbove)

  /** [[fertilitySnapshot]] over a PRE-STAGED token frame (one `word`
    * column, with multiplicity — the same frame
    * [[oovSnapshotFromWords]] consumes) plus the batch's doc count:
    * the frame is read twice here (distinct vocabulary for the merge
    * map, then the join-back), so it must already be persisted; the
    * caller owns its release. Identical output values.
    */
  private[graft] def fertilitySnapshotFromWords(toks: DataFrame,
      nDocs: Long, mergesPath: String, alertAbove: Double): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val merges = spark.read.parquet(mergesPath)
      .orderBy(col("step")).select(col("left"), col("right"))
      .as[(String, String)].collect().toSeq
    val sub = toks.select(col("word")).distinct().as[String]
      .map(w => (w, graft.ops.Bpe.applyMerges(w, merges).size.toLong))
      .toDF("word", "n_syms")
    toks.join(sub, "word")
      .agg(count(lit(1)).as("n_words"),
        coalesce(sum(col("n_syms")), lit(0L)).as("n_subwords"))
      .select(lit(nDocs).as("n_docs"), col("n_words"), col("n_subwords"),
        round(when(col("n_words") > 0,
          col("n_subwords").cast("double") / col("n_words")).otherwise(0.0), 6)
          .as("fertility"))
      .withColumn("alert", col("fertility") > alertAbove)
  }

  /** Streaming subword-fertility monitor — the x72 family's
    * operational face, watching arriving batches against the FROZEN
    * merge list exactly as [[oovMonitorStream]] watches the frozen
    * word vocabulary. The two signals are independent: OOV counts
    * whole words the vocabulary lacks; fertility prices what the
    * committed SUBWORD tokenizer does to them. Epoch-keyed overwrite
    * snapshots, replay-pure (no evolving state).
    */
  def fertilityMonitorStream(docs: DataFrame, mergesPath: String,
      outPath: String, checkpoint: String, idCol: String, textCol: String,
      alertAbove: Double = 3.0): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.ops.Staged.scoped {
          fertilitySnapshot(batch, mergesPath, idCol, textCol, alertAbove)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        }
      }
      .start()

  /** One epoch of [[bpeMaintenanceStream]], exposed for crash-replay
    * testing — the tokenizer half of the detect→decide→repair loop
    * ([[graft.streaming.VectorStreams.maintainEpoch]]'s discipline on
    * the BPE artifact): write the epoch's fertility snapshot against
    * the COMMITTED merge list into `monitorPath/epoch=<e>`, then decide
    * from committed artifacts only — the re-fit fires when the last
    * `debounce` committed monitor epochs ALL alert and no earlier
    * repair covers any of them (the refit record at `refitPath` is the
    * actuation log; a replayed epoch re-reads the same rows and reaches
    * the same verdict, so a crash between snapshot and repair resumes
    * into the same decision instead of double-firing — and a re-fit is
    * not replay-pure, so the guard is what keeps warm replays from
    * churning the artifact). A pre-refit INTENT file commits before the
    * swap: a crash AFTER the swap but before the record would otherwise
    * replay into a healthy post-swap snapshot (fire=false — the repair
    * missing from the actuation log forever, the drifted evidence row
    * overwritten); the replay instead sees the intent, finishes the
    * repair idempotently (a completed swap is detected by its
    * deterministic marker tag, never re-fit), and backfills the record,
    * leaving the committed evidence snapshot untouched. On fire:
    * [[graft.ops.Bpe.refitCommitted]]
    * over the corpus at `corpusPath` — the caller-maintained fit corpus
    * (base plus absorbed ingest), because re-fitting on one drifted
    * batch would whiplash the vocabulary — under the crash-recoverable
    * versioned `_BPE_OK` marker swap, then the SAME instrument
    * re-measures fertility under the promoted merges into
    * `refitPath/epoch=<e>`. Consumers (x72/x74/x77/x80, packing, the
    * capstone) read the committed artifact atomically: a held Fit is a
    * driver-side snapshot of the retired generation, the next readFit
    * sees the promoted one. Returns whether a repair ran.
    */
  def maintainBpeEpoch(batch: DataFrame, epoch: Long, bpePath: String,
      corpusPath: String, monitorPath: String, refitPath: String,
      idCol: String, textCol: String, alertAbove: Double,
      debounce: Int, owner: Option[String] = None): Boolean =
      graft.ops.Staged.scoped {
    require(debounce >= 1, s"debounce must be >= 1, got $debounce")
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(refitPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val intent = new org.apache.hadoop.fs.Path(
      s"$refitPath/__refit_intent_e$epoch")
    // the artifact-path lease the index loop enforces — the BPE
    // artifact has the identical two-writers hazard (interleaved
    // re-fits under one path)
    owner.foreach(o =>
      VectorStreams.requireMaintLease(spark, bpePath, o))
    // stale-intent hygiene (r20, the ADVICE resume-over-old-paths gap):
    // intents are kept after a completed repair so same-GENERATION
    // replays of the fire epoch stay idempotent — but a stream whose
    // checkpoint was reset over retained monitor/refit paths restarts
    // epoch numbering at 0, and a reused epoch number would hit a
    // prior generation's leftover intent: its monitor snapshot would
    // be silently skipped and the old refit record overwritten with
    // the new batch's fertility, corrupting the actuation log. A fresh
    // generation announces itself as epoch 0: delete every intent
    // whose repair fully COMMITTED (its refit record landed — the
    // intent is vestigial crash-recovery debris); an intent WITHOUT a
    // record is a genuinely torn repair and stays, so the new epoch 0
    // finishes it idempotently instead of abandoning it.
    if (epoch == 0L)
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$refitPath/__refit_intent_e*"))).toSeq.flatten
        .foreach { st =>
          val e = st.getPath.getName.stripPrefix("__refit_intent_e").toLong
          if (fs.exists(new org.apache.hadoop.fs.Path(
              s"$refitPath/epoch=$e/_SUCCESS")))
            fs.delete(st.getPath, false): Unit
        }
    // pre-refit INTENT record: a crash after the swap but before the
    // refit record would otherwise replay into a monitor snapshot
    // measured against the PROMOTED merges — healthy, fire=false, the
    // actuation log permanently missing the repair and the drifted
    // evidence row overwritten. With the intent committed before the
    // swap, the replay detects the in-flight repair, FINISHES it
    // idempotently, and backfills the record — never re-deciding from
    // a rewritten snapshot and never re-churning a completed fit.
    if (fs.exists(intent)) {
      val swapDone = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$bpePath/_BPE_OK_*"))).toSeq.flatten
        .exists(_.getPath.getName.endsWith(s"_frefit_e$epoch"))
      if (swapDone)
        // roll forward any torn post-commit debris; the fit is live
        graft.ops.Bpe.recoverRefit(spark, bpePath): Unit
      else
        graft.ops.Bpe.refitCommitted(spark, bpePath,
          spark.read.parquet(corpusPath), textCol,
          corpusTag = s"refit_e$epoch")
      fertilitySnapshot(batch, s"$bpePath/merges", idCol, textCol,
          alertAbove)
        .write.mode("overwrite").parquet(s"$refitPath/epoch=$epoch")
      true
    } else {
      fertilitySnapshot(batch, s"$bpePath/merges", idCol, textCol, alertAbove)
        .write.mode("overwrite").parquet(s"$monitorPath/epoch=$epoch")
      val window = epochsBefore(spark, monitorPath, epoch + 1)
        .takeRight(debounce)
      val fire = window.size == debounce &&
        window.forall { e =>
          spark.read.parquet(s"$monitorPath/epoch=$e")
            .select(col("alert")).head().getBoolean(0)
        } &&
        epochsBefore(spark, refitPath, Long.MaxValue).forall(_ < window.head)
      if (fire) {
        fs.create(intent, true).close()
        // the tag is the firing epoch — deterministic, so a crash between
        // the swap and the record replays into the IDENTICAL marker name
        graft.ops.Bpe.refitCommitted(spark, bpePath,
          spark.read.parquet(corpusPath), textCol,
          corpusTag = s"refit_e$epoch")
        fertilitySnapshot(batch, s"$bpePath/merges", idCol, textCol,
            alertAbove)
          .write.mode("overwrite").parquet(s"$refitPath/epoch=$epoch")
      }
      fire
    }
  }

  /** The maintenance loop for the TOKENIZER artifact —
    * [[fertilityMonitorStream]] RECORDS that the committed merge list
    * shreds arriving text; this stream ACTS on it: per micro-batch,
    * measure fertility against the committed merges, debounce, re-fit
    * over the caller-maintained corpus at `corpusPath`, and re-measure
    * with the same instrument — closing for the BPE artifact the same
    * detect-without-repair gap the index family's
    * [[VectorStreams.refitMaintenanceStream]] closed for the vector
    * index. Single-writer per artifact path ([[graft.ops.Bpe
    * .fitCached]]'s contract).
    *
    * 100 TB shape: the decision reads `debounce` one-row files per
    * epoch; the fertility gauge costs one pass over the batch's
    * distinct words against the nMerges-bounded merge list; the repair
    * costs one corpus word-count pass + the merge loop, paid exactly
    * when sustained drift says so. Single-writer is ENFORCED like the
    * index loop's: the stream leases the artifact path under its
    * checkpoint as owner (override via `owner`); an accidental second
    * loop refuses loudly, a crashed owner recovers via
    * [[VectorStreams.takeoverMaintLease]].
    *
    * POLICY when the repair wall exceeds the epoch interval (r20 —
    * pinned, not assumed: the production 32k-merge fit is ~30× the
    * rehearsal's 1,024-merge default): foreachBatch SERIALIZES epochs,
    * so a repair-length epoch simply delays the next micro-batch —
    * arriving data queues at the source, no epoch is skipped, no
    * snapshot is lost, and the debounced decision replays exactly
    * (epoch numbering is the engine's, not wall-clock's). Consumers
    * never wait on the repair at any length: they read the COMMITTED
    * generation through the versioned `_BPE_OK` marker until the
    * atomic promote — the `--maintain-bpe` rehearsal proves it with a
    * concurrent reader polling straight through the swap window
    * (REQUIREd: zero torn reads, ≥ 1 read overlapping the repair
    * epoch; measured at 32k merges in SCALE.md). The only cost of a
    * long repair is monitoring LATENCY on the queued batches — the
    * alarm already fired (that is why the repair runs), so nothing
    * actionable is delayed.
    */
  def bpeMaintenanceStream(docs: DataFrame, bpePath: String,
      corpusPath: String, monitorPath: String, refitPath: String,
      checkpoint: String, idCol: String, textCol: String,
      alertAbove: Double = 4.0, debounce: Int = 2,
      owner: Option[String] = None): StreamingQuery = {
    val own = owner.getOrElse(checkpoint)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        maintainBpeEpoch(batch, epoch, bpePath, corpusPath, monitorPath,
          refitPath, idCol, textCol, alertAbove, debounce,
          owner = Some(own)): Unit
      }
      .start()
  }

  /** Streaming n-gram novelty monitor — the operational face of the
    * x65 acquisition-health signal: per micro-batch of arriving docs,
    * the fraction of their distinct shingles never seen in any earlier
    * epoch. A crawler re-reading the web shows up as a novelty
    * COLLAPSE (alert fires below `alertBelow`) long before dedup
    * starts discarding; a healthy new source holds the curve up.
    * Epoch-partitioned first-seen gram index + overwrite-committed
    * snapshots: the passage-stream replay contract.
    */
  def noveltyMonitorStream(docs: DataFrame, indexPath: String,
      outPath: String, checkpoint: String, idCol: String, textCol: String,
      n: Int = 3, alertBelow: Double = 0.1, maxChain: Int = 16): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processNoveltyBatch(batch, epoch, indexPath, outPath,
          idCol, textCol, n, alertBelow, maxChain = maxChain)
      }
      .start()

  /** The per-epoch PER-SOURCE health snapshot — the streaming face of
    * x85's acquisition table, for the question the global monitors
    * structurally cannot answer: WHICH source went bad this epoch. A
    * batch-global novelty of 0.4 can hide one source at 0.0 (a crawler
    * re-reading held content) behind nine healthy ones; this slices
    * the same three frozen-artifact signals (novelty vs the committed
    * gram index, OOV vs the frozen vocabulary, fertility vs the
    * committed merge list) plus the quality mean BY SOURCE, one row
    * per source of the arriving batch, alert per source.
    *
    * READ-ONLY against the committed artifacts (unlike
    * [[processNoveltyBatch]], nothing registers — the novelty stream
    * owns gram registration), so the snapshot is a pure function of
    * (batch, committed files) and trivially replay-pure; it reads
    * EVERY epoch partition of the gram index (its own epoch counter
    * is unrelated to the index owner's — pass a committed artifact,
    * e.g. the day-1 index or a quiesced novelty index). Per-source
    * novelty counts each source's own distinct grams against the
    * committed index only — batchmate sources do not suppress each
    * other (two sources discovering the same new gram both read
    * novel). A source whose docs are tokenless carries NULL
    * token-derived columns and cannot alert on them (x85's left-join
    * convention); an idle epoch commits an empty, schema-complete
    * table. Cost per epoch: four source-keyed aggregations over the
    * batch, one anti-join fold against the bucketed gram index (only
    * the O(batch) gram side shuffles), one O(V) vocab broadcast, one
    * merge-list application over the batch vocabulary — nothing
    * corpus-sized, no state.
    */
  private[graft] def sourceHealthSnapshot(batch: DataFrame,
      gramIndexPath: String, vocabPath: String, mergesPath: String,
      textCol: String, srcCol: String, n: Int = 3,
      alertBelowNovelty: Double = 0.02, alertAboveOov: Double = 0.5,
      alertAboveFertility: Double = 4.0,
      countsPath: Option[String] = None,
      alertAboveKl: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val src = col(srcCol).as("source")
    val quality = batch
      .select(src, round(graft.ops.TextAnalysis.qualityScore(col(textCol)), 6)
        .as("__q"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum($"__q".cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_quality"))
    val grams = graft.ops.Staged(batch
      .select(src, explode(graft.ops.Shingles(col(textCol), n)).as("gram"))
      .distinct())
    val committed = epochsBefore(spark, gramIndexPath, Long.MaxValue)
    val novel = committed.foldLeft(grams.toDF)((g, e) =>
      g.join(graft.ops.Dedup.readIndexTable(spark, s"$gramIndexPath/epoch=$e")
        .select(col("gram")), Seq("gram"), "left_anti"))
    val nov = grams.groupBy($"source").agg(count(lit(1)).as("n_grams"))
      .join(novel.groupBy($"source").agg(count(lit(1)).as("n_novel")),
        Seq("source"), "left")
      .select($"source", $"n_grams",
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        round(coalesce($"n_novel", lit(0L)).cast("double") / $"n_grams", 6)
          .as("novelty"))
    val vocab = broadcast(spark.read.parquet(vocabPath)
      .select(col("tok"), lit(1).as("__inv")))
    val oov = batch
      .select(src, explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("tok"))
      .join(vocab, Seq("tok"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"__inv".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"source",
        round($"n_oov".cast("double") / $"n_tokens", 6).as("oov_rate"))
    val merges = spark.read.parquet(mergesPath)
      .orderBy(col("step")).select(col("left"), col("right"))
      .as[(String, String)].collect().toSeq
    val toks = graft.ops.Staged(batch
      .select(src, explode(graft.ops.TextAnalysis.tokens(col(textCol))).as("word")))
    val sub = toks.select($"word").distinct().as[String]
      .map(w => (w, graft.ops.Bpe.applyMerges(w, merges).size.toLong))
      .toDF("word", "n_syms")
    val fert = toks.join(sub, "word")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_words"), sum($"n_syms").as("n_subwords"))
      .select($"source",
        round($"n_subwords".cast("double") / $"n_words", 6).as("fertility"))
    val base = quality
      .join(nov, Seq("source"), "left")
      .join(oov, Seq("source"), "left")
      .join(fert, Seq("source"), "left")
    // per-source KL vs the frozen unigram counts (r19): the drift mode
    // the row's other columns miss — known words in the WRONG
    // proportions hides behind nine healthy batchmates in the GLOBAL
    // klMonitorStream exactly as novelty does. Rides the SAME staged
    // token frame (one tokenization pass per epoch serves OOV,
    // fertility, and KL); the shared-support renormalization is the
    // global monitor's rule verbatim, so one threshold serves both.
    val gauged = countsPath match {
      case None => base.withColumn("kl", lit(null).cast("double"))
      case Some(cp) =>
        base.join(
          graft.ops.TextAnalysis.perSourceSharedKlFromWords(
              toks.select($"source", $"word".as("tok")),
              spark.read.parquet(cp))
            .select($"source", $"kl"),
          Seq("source"), "left")
    }
    gauged.withColumn("alert",
      coalesce($"novelty" < alertBelowNovelty, lit(false)) ||
      coalesce($"oov_rate" > alertAboveOov, lit(false)) ||
      coalesce($"fertility" > alertAboveFertility, lit(false)) ||
      coalesce($"kl" > alertAboveKl, lit(false)))
  }

  /** Streaming per-source acquisition-health monitor — x85's table as
    * a continuous slice: per micro-batch, one row PER SOURCE with
    * novelty/OOV/fertility against the same frozen day-1 artifacts the
    * global monitors watch, plus the quality mean; alert per source.
    * The global monitors say "this epoch drifted"; this one names the
    * source — the renew/cut signal at monitoring latency instead of
    * review latency. Epoch-keyed overwrite-committed snapshots,
    * replay-pure (read-only against the committed artifacts).
    */
  def sourceHealthStream(docs: DataFrame, gramIndexPath: String,
      vocabPath: String, mergesPath: String, outPath: String,
      checkpoint: String, textCol: String, srcCol: String, n: Int = 3,
      alertBelowNovelty: Double = 0.02, alertAboveOov: Double = 0.5,
      alertAboveFertility: Double = 4.0,
      countsPath: Option[String] = None,
      alertAboveKl: Double = 0.5): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        graft.ops.Staged.scoped {
          sourceHealthSnapshot(batch, gramIndexPath, vocabPath, mergesPath,
            textCol, srcCol, n, alertBelowNovelty, alertAboveOov,
            alertAboveFertility, countsPath, alertAboveKl)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
        }
      }
      .start()

  /** Epoch labels of the index partitions committed before `epoch`,
    * ascending. Listed through the Hadoop FileSystem API, not
    * java.io.File: at cluster scale the index lives on HDFS/S3, where
    * a local listing would silently see nothing and every batch would
    * dedup against an empty index.
    */
  private[graft] def epochsBefore(spark: SparkSession, indexPath: String,
      epoch: Long): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
      .filter(_ < epoch).sorted
  }

  /** One frame per index partition committed before `epoch`, each read
    * WITH its bucket layout (plain parquet for pre-bucketing epochs) —
    * the shape [[graft.ops.Dedup.incrementalPassageDedupStaged]] chains
    * Exchange-free. Paths are built from the caller's `indexPath`
    * string (not the qualified listing) so the catalog entry names stay
    * stable across sessions.
    */
  private[graft] def indexPartsBefore(spark: SparkSession,
      indexPath: String, epoch: Long): Seq[DataFrame] =
    epochsBefore(spark, indexPath, epoch).map(e =>
      graft.ops.Dedup.readIndexTable(spark, s"$indexPath/epoch=$e")
        .select(col("chunk_text")))

  /** [[indexPartsBefore]] for the span index's (gram) schema —
    * private[graft]: the capstone's day-2 probe reads the same
    * committed-prefix view the stream does.
    */
  private[graft] def spanIndexPartsBefore(spark: SparkSession,
      indexPath: String, epoch: Long): Seq[DataFrame] =
    epochsBefore(spark, indexPath, epoch).map(e =>
      graft.ops.Dedup.readIndexTable(spark, s"$indexPath/epoch=$e")
        .select(col("gram")))

  /** The union of index partitions committed before `epoch` (empty
    * 1-column frame when none exist — the first batch's view). For
    * whole-index consumers (tests, audits); the per-batch probe uses
    * [[indexPartsBefore]] to keep the bucket layouts visible.
    */
  private[streaming] def indexBefore(spark: SparkSession,
      indexPath: String, epoch: Long): DataFrame =
    indexPartsBefore(spark, indexPath, epoch) match {
      case Seq() =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("chunk_text",
              org.apache.spark.sql.types.StringType))))
      case parts => parts.reduce(_.unionByName(_))
    }

  /** Loads every micro-batch of `df` into `sink`. Empty micro-batches
    * are skipped: a watermarked stateful query runs a no-data batch to
    * evict state, and a keyed upsert sink would rewrite its whole
    * collection for it. The batch is held across the check and the
    * write, so the check does not re-run the batch's plan, and a sink
    * that would hold its batch itself ([[graft.load.UpsertParquetSink]])
    * reads this cache instead.
    */
  def sinkStream(df: DataFrame, sink: GraftSink, checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try { if (!batch.isEmpty) sink.write(batch): Unit }
        finally batch.unpersist(): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
}

/** Typed view of the events stream (see FIXTURES.md §B). */
final case class EventRow(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
