package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

final case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)
final case class SrcDocEvent(doc_id: Long, text: String, source: String)

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("tumbling windows aggregate event time; watermark drops late data") {
    val input = MemoryStream[EventRow](spark)
    val agg = Streams.tumblingStats(input.toDF(), windowLen = "10 minutes",
      watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      input.addData(
        EventRow(1, ts(1), 1, "click", 1.0),
        EventRow(2, ts(4), 1, "click", 2.0),
        EventRow(3, ts(12), 2, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far beyond the first window, then emit a late
      // event for it — must be dropped
      input.addData(EventRow(4, ts(40), 1, "click", 9.0))
      q.processAllAvailable()
      input.addData(EventRow(5, ts(2), 1, "click", 100.0)) // late!
      q.processAllAvailable()
      input.addData(EventRow(6, ts(59), 1, "click", 0.5)) // close last window
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("tumbling")
      .select($"window_start", $"event_type", $"n", $"total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    // first 10:00 window: the two on-time clicks only (late 100.0 dropped)
    assert(out.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0)))
    assert(out.contains((Timestamp.valueOf("2024-01-01 10:10:00"), "view", 1L, 3.0)))
  }

  test("streaming tumbling agg over the real fixture equals the batch run") {
    // the SAME stage (Streams.tumblingStats) over the same events data,
    // once as a file stream and once as a batch DataFrame, must produce
    // identical windows — the engine's batch/streaming unification claim
    // on real data rather than synthetic MemoryStream rows
    // the on-disk ts layout drifts across fixture generations; declare the
    // file's own schema and canonicalize exactly as the batch loader does
    val sch = graft.sources.Tables.rawSchema(spark, sf, "events")
    // the file stream source wants a directory; stage the fixture file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val streamIn = graft.sources.Tables.canonicalTs(
      spark.readStream.schema(sch).parquet(dir.toString))
    val agg = Streams.tumblingStats(streamIn)
    val q = agg.writeStream.format("memory").queryName("tumbling_real")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_real")
    val batch = Streams.tumblingStats(graft.sources.Tables(spark, sf, "events"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming and batch runs of the same stage must agree")
  }

  test("session windows split on the gap") {
    val input = MemoryStream[EventRow](spark)
    input.addData(
      EventRow(1, ts(0), 7, "click", 1.0),
      EventRow(2, ts(5), 7, "click", 1.0),   // same session (gap 10m)
      EventRow(3, ts(30), 7, "click", 1.0),  // new session
      EventRow(4, ts(59), 7, "click", 1.0))  // push watermark forward
    val q = Streams.sessionStats(input.toDF(), gap = "10 minutes",
      watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("sessions")
      .select($"session_start", $"n_events").as[(Timestamp, Long)].collect().toMap
    assert(out(Timestamp.valueOf("2024-01-01 10:00:00")) == 2L)
    assert(out(Timestamp.valueOf("2024-01-01 10:30:00")) == 1L)
  }

  test("streaming dedupe by key within watermark") {
    val input = MemoryStream[EventRow](spark)
    input.addData(
      EventRow(1, ts(1), 1, "click", 1.0),
      EventRow(1, ts(2), 1, "click", 1.0), // dup id
      EventRow(2, ts(3), 1, "view", 2.0))
    runToMemory(Streams.dedupeStream(input.toDF(), "10 minutes"), "deduped")
    assert(spark.table("deduped").select("event_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
  }

  test("streaming near-dup drops fingerprint repeats within the watermark") {
    val input = MemoryStream[DocEvent](spark)
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    input.addData(
      DocEvent(1, ts(1), text),
      DocEvent(2, ts(2), text),                     // exact repeat: dropped
      DocEvent(3, ts(3), text + "!"),               // near-identical tokens: same simhash
      DocEvent(4, ts(4), "completely different content about catalyst " +
        "codegen stages and tungsten memory format internals"))
    runToMemory(Streams.dedupeNearStream(input.toDF(), "text", watermark = "10 minutes"),
      "neardedup")
    val kept = spark.table("neardedup").select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L), s"got $kept")
  }

  test("flatMapGroupsWithState keeps running per-user totals") {
    val input = MemoryStream[EventRow](spark)
    val out = Streams.runningUserTotals(spark, input.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("append").start()
    try {
      input.addData(EventRow(1, ts(1), 1, "click", 10.0),
        EventRow(2, ts(2), 1, "click", 5.0))
      q.processAllAvailable()
      input.addData(EventRow(3, ts(3), 1, "view", 1.0),
        EventRow(4, ts(3), 2, "view", 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("running")
      .as[Streams.UserRunning].collect()
    assert(rows.filter(_.userId == 1).map(_.nEvents).max == 3)
    assert(rows.filter(_.userId == 1).map(_.totalValue).max == 16.0)
    assert(rows.filter(_.userId == 2).map(_.totalValue).max == 7.0)
  }

  test("foreachBatch streaming load into an upsert sink is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val sink = graft.load.UpsertParquetSink(dir.toString + "/coll", Seq("event_id"))
    val input = MemoryStream[EventRow](spark)
    input.addData(
      EventRow(1, ts(1), 1, "click", 1.0),
      EventRow(2, ts(2), 1, "view", 2.0))
    val q = Streams.sinkStream(input.toDF(), sink, dir.toString + "/ckpt")
    q.awaitTermination()
    // re-deliver the same records in a new query run (same checkpoint dir
    // would skip them; a new one simulates at-least-once redelivery)
    val input2 = MemoryStream[EventRow](spark)
    input2.addData(EventRow(2, ts(2), 1, "view", 2.0),
      EventRow(3, ts(3), 2, "click", 3.0))
    val q2 = Streams.sinkStream(input2.toDF(), sink, dir.toString + "/ckpt2")
    q2.awaitTermination()
    val back = spark.read.parquet(dir.toString + "/coll")
    assert(back.count() == 3)
    assert(back.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("sinkStream never hands an empty micro-batch to the sink") {
    // a watermarked Update-mode aggregation: once a batch moves the
    // watermark, the engine runs a no-data micro-batch to evict state,
    // and in Update mode that batch emits no rows
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-empty")
    val writes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val upsert = graft.load.UpsertParquetSink(dir.toString + "/coll", Seq("w", "user_id"))
    val sink = new graft.load.GraftSink {
      def write(df: org.apache.spark.sql.DataFrame): Long = {
        val n = upsert.write(df); writes += n; n
      }
    }
    val input = MemoryStream[EventRow](spark)
    input.addData(
      EventRow(1, ts(1), 1, "click", 1.0),
      EventRow(2, ts(2), 2, "view", 2.0),
      EventRow(3, ts(9), 1, "click", 3.0))
    val agg = input.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "5 minutes").getField("start").as("w"), $"user_id")
      .agg(sum($"value").as("total"))
    val q = Streams.sinkStream(agg, sink, dir.toString + "/ckpt")
    q.awaitTermination()
    val batches = q.recentProgress.map(_.numInputRows).toSeq
    assert(batches.count(_ > 0) == 1 && batches.contains(0L),
      s"precondition: one data batch and a no-data batch, got input rows $batches")
    assert(writes.toSeq == Seq(3L), s"sink writes (collection rows after each): $writes")
    val back = spark.read.parquet(dir.toString + "/coll")
      .select($"user_id", $"total").as[(Long, Double)].collect().sorted.toSeq
    assert(back == Seq((1L, 1.0), (1L, 3.0), (2L, 2.0)))
  }

  test("streaming as-of over the real fixture equals the batch tolerance as-of") {
    import org.apache.spark.sql.types._
    // declare the file's own (drift-prone) schema, canonicalize like batch
    val sch = graft.sources.Tables.rawSchema(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-asof")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    def streamIn = graft.sources.Tables.canonicalTs(
      spark.readStream.schema(sch).parquet(dir.toString))
    val leftS = streamIn.select($"event_id", $"user_id", $"ts")
    val rightS = streamIn.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val joined = Streams.asOfStream(leftS, rightS, key = "user_id",
      timeCol = "ts", payloadCol = "err_id",
      lookback = "10 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode only emits left rows the watermark has closed; a
      // far-future dummy event advances it past the whole fixture
      val batchEv = graft.sources.Tables(spark, sf, "events")
      val maxUs = batchEv.select(max(unix_micros($"ts"))).head().getLong(0)
      // watermarks propagate one batch late through the chained join +
      // agg operators, so two successive dummies (each its own batch)
      // are needed to close every fixture group. They must be "error"
      // rows: the right stream filters on event_type, and a watermark
      // only advances on rows that REACH it — a non-error dummy would
      // leave the right (and thus the global min) watermark pinned at
      // the last fixture error.
      for (h <- Seq(2L, 4L)) {
        val tmpOut = java.nio.file.Files.createTempDirectory("graft-asof-dummy")
        // the dummy file must carry ts in the SAME on-disk layout the
        // fixture (and thus the stream's declared schema) uses
        val dummyUs = maxUs + 3600L * h * 1000000L
        Seq((999999990L + h, dummyUs, 1L, "error", 0.0, "{}"))
          .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
          .withColumn("ts", sch("ts").dataType match {
            case LongType => $"ts_us" * 1000L // nanos-as-long layout
            case t        => timestamp_micros($"ts_us").cast(t)
          })
          .select(sch.fieldNames.map(col).toSeq: _*)
          .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
        // the file source watches dir non-recursively: drop the part file in
        val part = java.nio.file.Files.list(tmpOut)
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.copy(part, dir.resolve(s"zz-late-dummy-$h.parquet"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("asof_stream")
      .where($"event_id" < 999999990L) // exclude the watermark dummies
      .select($"event_id", $"asof_err_id").as[(Long, Option[Long])].collect().toSet
    val batchEv = graft.sources.Tables(spark, sf, "events")
    val batch = graft.ops.AsOfJoin.sortMerge(
      batchEv.select($"event_id", $"user_id", $"ts"),
      batchEv.filter($"event_type" === "error")
        .select($"user_id", $"ts", $"event_id".as("err_id")),
      timeCol = "ts", keys = Seq("user_id"), payload = Seq("err_id"),
      tolerance = Some(java.time.Duration.ofMinutes(10)))
      .select($"event_id", $"asof_err_id").as[(Long, Option[Long])].collect().toSet
    assert(streamed.nonEmpty)
    // every fixture event must have emitted and agree with batch
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
  }

  test("streaming as-of: identical duplicate left rows collapse; row-unique lefts match batch") {
    // Pins the documented asOfStream contract: the per-left-row
    // selection groups by ALL left columns, so FULLY identical
    // duplicate left rows collapse into one output row — unlike the
    // batch operator, which preserves multiplicity. Carrying a
    // row-unique id on the left (the documented requirement) restores
    // exact batch parity including multiplicity.
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def ts(m: Int) = java.sql.Timestamp.valueOf("2024-01-01 10:%02d:00".format(m))
    val fixture = Seq(
      // events 1 and 2 are identical except for their id
      (1L, ts(0), 7L, "view", 0.0),
      (2L, ts(0), 7L, "view", 0.0),
      (3L, ts(5), 7L, "view", 0.0),
      (9L, ts(0), 7L, "error", 42.0))

    def run(queryName: String, leftCols: Seq[String]): Seq[Seq[Any]] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$queryName")
      fixture.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir.toString)
      def in = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val left = in.filter($"event_type" === "view")
        .select(leftCols.map(col): _*)
      val right = in.filter($"event_type" === "error")
        .select($"user_id", $"ts", $"value")
      val joined = Streams.asOfStream(left, right, key = "user_id",
        timeCol = "ts", payloadCol = "value",
        lookback = "10 minutes", watermark = "10 minutes")
      val q = joined.writeStream.format("memory").queryName(queryName)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // two far-future dummy batches close the fixture through the
        // chained join + agg watermarks; both streams filter by
        // event_type, so each dummy file carries both types
        for (h <- Seq(2, 4)) {
          val far = java.sql.Timestamp.valueOf(s"2024-01-0${1 + h} 10:00:00")
          val tmp = java.nio.file.Files.createTempDirectory("graft-asof-dummy")
          Seq((900L + h, far, 99L, "view", 0.0), (910L + h, far, 99L, "error", 0.0))
            .toDF("event_id", "ts", "user_id", "event_type", "value")
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp)
            .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.copy(part, dir.resolve(s"zz-dummy-$h.parquet"))
          q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(queryName).where($"user_id" === 7L)
        .collect().map(_.toSeq).toSeq
    }

    val batchAll = fixture.toDF("event_id", "ts", "user_id", "event_type", "value")
    def batchAsOf(leftCols: Seq[String]) = graft.ops.AsOfJoin.sortMerge(
      batchAll.filter($"event_type" === "view").select(leftCols.map(col): _*),
      batchAll.filter($"event_type" === "error").select($"user_id", $"ts", $"value"),
      timeCol = "ts", keys = Seq("user_id"), payload = Seq("value"),
      tolerance = Some(java.time.Duration.ofMinutes(10)))

    // batch preserves the duplicate left row (3 output rows); the
    // stream collapses the two identical lefts (2 rows) but agrees on
    // the distinct result set
    val collapsed = run("asof_dup", Seq("user_id", "ts"))
    val batchDup = batchAsOf(Seq("user_id", "ts")).collect().map(_.toSeq)
    assert(batchDup.length == 3)
    assert(collapsed.length == 2,
      s"identical duplicate lefts must collapse to one row: $collapsed")
    assert(collapsed.toSet == batchDup.toSet)

    // with a row-unique event id on the left, stream == batch exactly,
    // multiplicity included
    val uniq = run("asof_uniq", Seq("event_id", "user_id", "ts"))
    val batchUniq = batchAsOf(Seq("event_id", "user_id", "ts")).collect().map(_.toSeq)
    assert(uniq.length == 3)
    assert(uniq.sortBy(_.head.asInstanceOf[Long]) ==
      batchUniq.sortBy(_.head.asInstanceOf[Long]).toSeq)
  }

  test("stream-stream join matches pairs within the time bound") {
    val clicks = MemoryStream[EventRow](spark)
    val buys = MemoryStream[EventRow](spark)
    clicks.addData(
      EventRow(1, ts(0), 1, "click", 1.0),
      EventRow(2, ts(30), 2, "click", 1.0))
    buys.addData(
      EventRow(10, ts(5), 1, "purchase", 9.0),   // within 10m of click 1
      EventRow(11, ts(50), 2, "purchase", 9.0),  // 20m after click 2: out
      EventRow(12, ts(59), 1, "purchase", 9.0))  // advances watermark
    val joined = Streams.streamStreamJoin(
      clicks.toDF().select($"event_id".as("click_id"), $"user_id", $"ts"),
      buys.toDF().select($"event_id".as("buy_id"), $"user_id",
        $"ts".as("buy_ts")),
      key = "user_id", leftTs = "ts", rightTs = "buy_ts")
      .select("click_id", "buy_id")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssjoin").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("streaming passage dedup: cross-batch suppression, epoch-replay idempotence") {
    val root = java.nio.file.Files.createTempDirectory("graft-pstream").toString
    val (idxP, outP, cp) = (s"$root/index", s"$root/out", s"$root/cp")
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"doc_id", $"text")
    val q = Streams.passageDedupStream(docs, idxP, outP, cp,
      "doc_id", "text", window = 3)
    try {
      input.addData(DocEvent(1L, ts(1), "a1 a2 a3 b1 b2 b3"))
      q.processAllAvailable()
      input.addData(
        DocEvent(2L, ts(2), "a1 a2 a3 c1 c2 c3"), // first passage repeats doc 1's
        DocEvent(3L, ts(3), "b1 b2 b3"))          // nothing new at all
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outP)
      .select($"epoch".cast("long"), $"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, Long, String, Int, Int)].collect().toSet
    assert(out == Set(
      (0L, 1L, "a1 a2 a3 b1 b2 b3", 2, 0),
      (1L, 2L, "c1 c2 c3", 1, 1)), // doc 3: every passage suppressed -> gone
      s"stream output drifted: $out")
    // the index holds exactly the distinct passages, epoch-attributed
    val idx = spark.read.parquet(idxP)
      .select($"epoch".cast("long"), $"chunk_text")
      .as[(Long, String)].collect().toSet
    assert(idx == Set((0L, "a1 a2 a3"), (0L, "b1 b2 b3"), (1L, "c1 c2 c3")))
    // replay idempotence: every epoch step is a pure function of
    // (batch, index partitions < e) — recompute epoch 1 exactly as the
    // foreachBatch body would after a crash at any point and compare
    // to what the live run committed
    val batch2 = Seq((2L, "a1 a2 a3 c1 c2 c3"), (3L, "b1 b2 b3"))
      .toDF("doc_id", "text")
    val replayed = graft.ops.Dedup.incrementalPassageDedup(
      batch2, Streams.indexBefore(spark, idxP, 1L), "doc_id", "text", window = 3)
      .as[(Long, String, Int, Int)].collect().toSet
    val committed = spark.read.parquet(s"$outP/epoch=1")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(replayed == committed, "replay must rewrite identical content")
  }

  test("streaming passage dedup passes token-less docs through unchanged") {
    // docs with no [a-z0-9] tokens have no passages — they must NOT be
    // silently dropped from the cleaned epoch output (they aren't
    // duplicates); they ride through with original text and 0/0 counts
    val root = java.nio.file.Files.createTempDirectory("graft-pstream-tok").toString
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.passageDedupStream(
      input.toDF().select($"doc_id", $"text"),
      s"$root/index", s"$root/out", s"$root/cp", "doc_id", "text", window = 3)
    try {
      input.addData(
        DocEvent(1L, ts(1), "a1 a2 a3"),
        DocEvent(2L, ts(1), "漢字の文書、非ラテン!"),
        DocEvent(3L, ts(1), "!!! ???"))
      q.processAllAvailable()
      // token-less docs never enter the passage index, so a later
      // token-less repeat also passes through (no false dedup)
      input.addData(DocEvent(4L, ts(2), "漢字の文書、非ラテン!"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(out == Set(
      (1L, "a1 a2 a3", 1, 0),
      (2L, "漢字の文書、非ラテン!", 0, 0),
      (3L, "!!! ???", 0, 0),
      (4L, "漢字の文書、非ラテン!", 0, 0)),
      s"token-less docs must pass through: $out")
  }

  test("generative: epoch-sequential stream equals one-shot batch passage dedup") {
    // when ids are epoch-ordered (every earlier epoch's ids precede
    // every later one's), the streamed per-epoch results must union to
    // EXACTLY passageDedup over the whole corpus — the multi-batch
    // generalization of the x33 differential identity, here exercised
    // through the real stream (index partitioning, epoch writes, all
    // of it). Tiny vocab + short docs force heavy passage collisions.
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("v0", "v1", "v2", "v3", "v4")
    def doc(): String =
      Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val batches = (0 until 3).map { e =>
      (0 until 40).map(i => DocEvent(e * 1000L + i, ts(e), doc()))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-pstream-gen").toString
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.passageDedupStream(
      input.toDF().select($"doc_id", $"text"),
      s"$root/index", s"$root/out", s"$root/cp", "doc_id", "text", window = 2)
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, String, Int, Int)].collect().toSet
    val all = batches.flatten.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val oneShot = graft.ops.Dedup.passageDedup(all, "doc_id", "text", window = 2)
      .as[(Long, String, Int, Int)].collect().toSet
    assert(streamed == oneShot,
      s"stream/batch diverged: ${(streamed diff oneShot).take(3)} vs ${(oneShot diff streamed).take(3)}")
  }

  test("streaming substring dedup: seeded corpus + cross-batch spans suppress; epoch replay is pure") {
    val root = java.nio.file.Files.createTempDirectory("graft-sstream").toString
    val (idxP, outP, cp) = (s"$root/index", s"$root/out", s"$root/cp")
    // day-1 corpus committed below every engine epoch (epoch=-1).
    // hashed = false EXPLICITLY (r20, the default is now the hashed
    // production keying): this test reads the registered SPAN STRINGS
    // back — it is the text/oracle-parity face; the hashed face has
    // its own seed+stream ≡ one-shot leg below
    Streams.seedSpanIndex(
      Seq((0L, "c1 c2 c3 z1")).toDF("doc_id", "text"),
      idxP, "doc_id", "text", window = 3, hashed = false)
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.substringDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, outP, cp, "doc_id", "text", window = 3, hashed = false)
    try {
      input.addData(
        // the corpus span at an UNALIGNED offset — the case the passage
        // face misses — plus a within-batch template stamp
        DocEvent(10L, ts(1), "p1 c1 c2 c3 p2"),
        DocEvent(11L, ts(1), "d1 d2 d3 d1 d2 d3"))
      q.processAllAvailable()
      input.addData(
        DocEvent(20L, ts(2), "x1 d1 d2 d3 x2"),  // epoch-0 span, new offset
        DocEvent(21L, ts(2), "c1 c2 c3 z1"))     // exact corpus re-crawl
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outP)
      .select($"epoch".cast("long"), $"doc_id", $"n_tokens", $"n_dropped",
        $"clean_text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (0L, 10L, 5L, 3L, "p1 p2"),
      (0L, 11L, 6L, 3L, "d1 d2 d3"),     // stamp: first survives
      (1L, 20L, 5L, 3L, "x1 x2"),        // epoch-0 span covers epoch 1
      (1L, 21L, 4L, 4L, "")),            // re-crawl: fully covered, row kept
      s"stream output drifted: $out")
    // the index registers FRESH spans only, epoch-attributed, with the
    // seed intact below the engine epochs
    val idx = spark.read.parquet(idxP)
      .select($"epoch".cast("long"), $"gram")
      .as[(Long, String)].collect().toSet
    assert(idx == Set(
      (-1L, "c1 c2 c3"), (-1L, "c2 c3 z1"),
      (0L, "p1 c1 c2"), (0L, "c2 c3 p2"),
      (0L, "d1 d2 d3"), (0L, "d2 d3 d1"), (0L, "d3 d1 d2"),
      (1L, "x1 d1 d2"), (1L, "d2 d3 x2")), s"index drifted: $idx")
    // replay: epoch 1 is a pure function of (batch, partitions < 1) —
    // recompute it exactly as the foreachBatch body would after a crash
    val batch2 = Seq((20L, "x1 d1 d2 d3 x2"), (21L, "c1 c2 c3 z1"))
      .toDF("doc_id", "text")
    val (cleaned, fresh) = graft.ops.Dedup.incrementalSubstringDedupStaged(
      batch2, Streams.spanIndexPartsBefore(spark, idxP, 1L),
      "doc_id", "text", window = 3, hashed = false)
    assert(cleaned.as[(Long, Long, Long, String)].collect().toSet ==
      spark.read.parquet(s"$outP/epoch=1")
        .as[(Long, Long, Long, String)].collect().toSet,
      "replay must rewrite identical cleaned content")
    assert(fresh.as[String].collect().toSet == Set("x1 d1 d2", "d2 d3 x2"),
      "replay must re-register identical fresh spans")
    graft.ops.Staged.releaseAll()
  }

  test("generative: substring stream ≡ one-shot batch dedup across auto-compactions") {
    // epoch-ordered ids ⇒ the streamed per-epoch outputs union to
    // EXACTLY substringDedup over the concatenated corpus (the x97
    // identity generalized to many epochs), and maxChain=2 keeps the
    // probed chain bounded via mid-stream compactions without moving a
    // single verdict. Tiny vocab + short docs force heavy span reuse.
    val rnd = new scala.util.Random(777)
    val vocab = Vector("s0", "s1", "s2", "s3")
    def doc(): String =
      Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val batches = (0 until 5).map { e =>
      (0 until 25).map(i => DocEvent(e * 1000L + i, ts(e), doc()))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-sstream-gen").toString
    val idxP = s"$root/index"
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.substringDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, s"$root/out", s"$root/cp", "doc_id", "text", window = 2,
      maxChain = 2)
    def epochDirs = Option(new java.io.File(idxP).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
      assert(epochDirs.size <= 3, // maxChain + 1 (merged + fresh tail)
        s"auto-compaction must bound the chain, got $epochDirs")
    } finally q.stop()
    assert(Option(new java.io.File(idxP).listFiles()).toSeq.flatten
      .forall(!_.getName.startsWith("__compact_tmp_")),
      "every mid-stream compaction must complete its swap")
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"n_tokens", $"n_dropped", $"clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val all = batches.flatten.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val oneShot = graft.ops.Dedup.substringDedup(all, "doc_id", "text", window = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == oneShot,
      s"stream/batch diverged: ${(streamed diff oneShot).take(3)} vs ${(oneShot diff streamed).take(3)}")
    graft.ops.Staged.releaseAll()
  }

  test("hashed streaming span index: seed+stream ≡ one-shot across compactions; 8-byte epochs") {
    // the x99 keying on the STREAMING artifact: seed and every epoch
    // registration store xxhash64 longs, auto-compaction merges the
    // long-keyed partitions, and the verdicts stay byte-identical to
    // the one-shot text closure (no 64-bit collision at test scale)
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("h0", "h1", "h2", "h3")
    def doc(): String =
      Seq.fill(2 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (0 until 20).map(i => (i.toLong, doc()))
    val batches = (0 until 4).map { e =>
      (0 until 20).map(i => DocEvent((e + 1) * 1000L + i, ts(e), doc()))
    }
    val root = java.nio.file.Files
      .createTempDirectory("graft-sstream-hash").toString
    val idxP = s"$root/index"
    Streams.seedSpanIndex(corpus.toDF("doc_id", "text"), idxP,
      "doc_id", "text", window = 2, hashed = true)
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.substringDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, s"$root/out", s"$root/cp", "doc_id", "text", window = 2,
      maxChain = 2, hashed = true)
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    // every committed partition — seed, fresh epochs, compacted merges
    // — stores 8-byte keys
    val idx = spark.read.parquet(idxP)
    assert(idx.schema("gram").dataType ==
      org.apache.spark.sql.types.LongType,
      s"hashed stream index must store long keys: ${idx.schema}")
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"n_tokens", $"n_dropped", $"clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val all = (corpus ++ batches.flatten.map(d => (d.doc_id, d.text)))
      .toDF("doc_id", "text")
    val oneShot = graft.ops.Dedup
      .substringDedup(all, "doc_id", "text", window = 2)
      .where($"doc_id" >= 1000L)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == oneShot,
      s"hashed stream/batch diverged: ${(streamed diff oneShot).take(3)} " +
        s"vs ${(oneShot diff streamed).take(3)}")
    graft.ops.Staged.releaseAll()
  }

  test("passage index compaction preserves the view and recovers mid-swap") {
    val root = java.nio.file.Files.createTempDirectory("graft-pcompact").toString
    val idxP = s"$root/index"
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.passageDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, s"$root/out", s"$root/cp", "doc_id", "text", window = 2)
    try (0 until 3).foreach { e =>
      input.addData(DocEvent(e.toLong, ts(e), s"w${e}a w${e}b w${e}c w${e}d"))
      q.processAllAvailable()
    } finally q.stop()
    def epochDirs = Option(new java.io.File(idxP).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    def view(e: Long) =
      Streams.indexBefore(spark, idxP, e).as[String].collect().toSet
    assert(epochDirs == Set("epoch=0", "epoch=1", "epoch=2"))
    val full = view(99L)
    val upTo1 = view(2L)
    // upToEpoch beyond everything: the NEWEST partition must never be
    // absorbed (it may be the restarted stream's replay target), and
    // the merged dir takes the max ABSORBED label, not the argument
    Streams.compactPassageIndex(spark, idxP, upToEpoch = 99L)
    assert(epochDirs == Set("epoch=1", "epoch=2"), s"got $epochDirs")
    assert(view(99L) == full && view(2L) == upTo1,
      "compaction must not change what any later epoch dedups against")
    // fabricate a crash after the commit point but before the rename:
    // the merged dir (which WAS the tmp, _SUCCESS included) back to tmp
    assert(new java.io.File(s"$idxP/epoch=1")
      .renameTo(new java.io.File(s"$idxP/__compact_tmp_1")))
    // recovery must trigger regardless of the CURRENT call's argument
    Streams.compactPassageIndex(spark, idxP, upToEpoch = 0L)
    assert(epochDirs == Set("epoch=1", "epoch=2"), s"got $epochDirs")
    assert(view(99L) == full, "recovery must restore the full passage set")
    // an UNCOMMITTED tmp (no _SUCCESS — crash before the commit point)
    // is discarded: its victims were never touched
    assert(new java.io.File(s"$idxP/__compact_tmp_0").mkdir())
    Streams.compactPassageIndex(spark, idxP, upToEpoch = 99L)
    assert(!new java.io.File(s"$idxP/__compact_tmp_0").exists())
    assert(epochDirs == Set("epoch=1", "epoch=2") && view(99L) == full)
  }

  test("auto-compaction bounds the epoch chain with suppression unchanged") {
    // maxChain=2 over 6 epochs: without the policy the index would
    // accumulate 6 partitions; with it the chain any batch probes stays
    // <= maxChain and the on-disk partition count stays <= maxChain+1
    // (merged + at most maxChain fresh). Epoch-ordered ids make the
    // stream comparable to the one-shot batch dedup — the same
    // differential identity the generative spec pins, now across
    // repeated mid-stream compactions.
    val rnd = new scala.util.Random(1111)
    val vocab = Vector("u0", "u1", "u2", "u3")
    def doc(): String =
      Seq.fill(2 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val batches = (0 until 6).map { e =>
      (0 until 20).map(i => DocEvent(e * 1000L + i, ts(e), doc()))
    }
    val root = java.nio.file.Files.createTempDirectory("graft-pstream-auto").toString
    val idxP = s"$root/index"
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.passageDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, s"$root/out", s"$root/cp", "doc_id", "text", window = 2,
      maxChain = 2)
    def epochDirs = Option(new java.io.File(idxP).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("epoch=")).toSet
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
      assert(epochDirs.size <= 3, // maxChain + 1
        s"auto-compaction must bound the chain, got $epochDirs")
    } finally q.stop()
    // no tmp debris: every mid-stream compaction completed its swap
    assert(Option(new java.io.File(idxP).listFiles()).toSeq.flatten
      .forall(!_.getName.startsWith("__compact_tmp_")))
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"clean_text", $"n_kept", $"n_dropped")
      .as[(Long, String, Int, Int)].collect().toSet
    val all = batches.flatten.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val oneShot = graft.ops.Dedup.passageDedup(all, "doc_id", "text", window = 2)
      .as[(Long, String, Int, Int)].collect().toSet
    assert(streamed == oneShot,
      s"compacted stream diverged from batch: ${(streamed diff oneShot).take(3)} vs ${(oneShot diff streamed).take(3)}")
  }

  test("streaming epoch index stays off the shuffle path of the per-batch probe") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // The exact plan a micro-batch at epoch e executes: the accumulated
    // epoch partitions (including a compacted one) probed via chained
    // anti-joins. Same invariant DedupSpec pins for the batch indexes —
    // each epoch scan is bucketed and meets its first join with no
    // ShuffleExchange in between — asserted on the worst-case static
    // plan (AQE off, broadcast off).
    val root = java.nio.file.Files.createTempDirectory("graft-pstream-plan").toString
    val (idxP, outP, cp) = (s"$root/index", s"$root/out", s"$root/cp")
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.passageDedupStream(
      input.toDF().select($"doc_id", $"text"),
      idxP, outP, cp, "doc_id", "text", window = 2)
    try (0 until 3).foreach { e =>
      input.addData(DocEvent(e.toLong, ts(e), s"w${e}a w${e}b w${e}c w${e}d"))
      q.processAllAvailable()
    } finally q.stop()
    // compact epochs 0-1 so the probe also crosses a POST-compaction
    // merged partition — the layout must survive the merge
    Streams.compactPassageIndex(spark, idxP, upToEpoch = 99L)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = Seq((100L, "w1a w1b fresh stuff")).toDF("doc_id", "text")
      val probe = graft.ops.Dedup.incrementalPassageDedup(
        batch, Streams.indexPartsBefore(spark, idxP, 99L),
        "doc_id", "text", window = 2)
      probe.collect() // materialize so staged subplans exist
      def deepPlans(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
          .flatMap(deepPlans)
      def isEpochScan(f: FileSourceScanExec): Boolean =
        f.relation.location.rootPaths.exists(rp =>
          rp.toString.contains(new java.io.File(idxP).getName) &&
            rp.getName.startsWith("epoch="))
      def pathsToEpochScans(p: SparkPlan,
          anc: List[SparkPlan]): Seq[(FileSourceScanExec, List[SparkPlan])] =
        p match {
          case f: FileSourceScanExec if isEpochScan(f) => Seq((f, anc))
          case other => other.children.flatMap(pathsToEpochScans(_, other :: anc))
        }
      val paths = deepPlans(probe.queryExecution.executedPlan)
        .flatMap(pathsToEpochScans(_, Nil))
      assert(paths.size >= 2, s"expected scans of both live epoch partitions, got ${paths.size}")
      paths.foreach { case (scan, ancestors) =>
        assert(scan.bucketedScan, s"epoch index scan must be bucketed:\n$scan")
        val preJoin = ancestors.takeWhile {
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case _ => true
        }
        assert(!preJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"Exchange between an epoch index scan and its probe join:\n" +
            s"${probe.queryExecution.executedPlan}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      graft.ops.Staged.releaseAll()
    }
  }

  test("streaming decontamination equals the batch probe, epoch by epoch") {
    val root = java.nio.file.Files.createTempDirectory("graft-dstream").toString
    val (idxP, outP, cp) = (s"$root/index", s"$root/out", s"$root/cp")
    val benchText = "the capital of france is paris and the capital " +
      "of italy is rome while the capital of spain is madrid"
    graft.ops.Decontam.writeBenchIndex(
      Seq((100L, benchText)).toDF("doc_id", "text"), "text", idxP)
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"doc_id", $"text")
    val q = Streams.decontamStream(docs, idxP, outP, cp, "doc_id", "text")
    val e0 = Seq(
      (1L, "trivia corner the capital of france is paris which tourists love"),
      (2L, "paris serves as the french capital and rome as the italian one"))
    val e1 = Seq(
      (3L, benchText), // full benchmark copy
      (4L, "spark shuffles partition data across executors during wide stages"))
    try {
      input.addData(e0.map { case (i, t) => DocEvent(i, ts(1), t) }: _*)
      q.processAllAvailable()
      input.addData(e1.map { case (i, t) => DocEvent(i, ts(2), t) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outP)
      .select($"epoch".cast("long"), $"doc_id").as[(Long, Long)].collect().toSet
    // doc 1 leaks a 5-gram span, doc 3 is a full copy — both suppressed
    assert(out == Set((0L, 2L), (1L, 4L)), s"stream output drifted: $out")
    // replay contract: each epoch ≡ the batch indexed probe of its batch
    Seq((0L, e0), (1L, e1)).foreach { case (epoch, batch) =>
      val replayed = graft.ops.Decontam.removeContaminatedIndexed(
        batch.toDF("doc_id", "text"), idxP, "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
      val committed = spark.read.parquet(s"$outP/epoch=$epoch")
        .select($"doc_id").as[Long].collect().toSet
      assert(replayed == committed, s"epoch $epoch replay drifted")
    }
  }

  test("streaming heavy hitters: epoch-chained MG summary with its bound") {
    val root = java.nio.file.Files.createTempDirectory("graft-hhstream").toString
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"text")
    val q = Streams.heavyHittersStream(docs, s"$root/out", s"$root/cp",
      "text", k = 4)
    try {
      input.addData(DocEvent(1, ts(1), "flood flood flood rare1 rare2"),
        DocEvent(2, ts(2), "flood flood other words"))
      q.processAllAvailable()
      input.addData(DocEvent(3, ts(3), "flood flood flood flood quiet"))
      q.processAllAvailable()
    } finally q.stop()
    val e1 = spark.read.parquet(s"$root/out/epoch=1")
      .select($"token", $"est_count").as[(String, Long)].collect().toMap
    // 'flood' truth = 9 of N=14 tokens; MG bound: est in [9 - N/(k+1), 9]
    assert(e1.contains("flood"), s"the flood must be in the summary: $e1")
    assert(e1("flood") <= 9L && e1("flood") >= 9L - 14 / 5,
      s"MG bound violated: ${e1("flood")}")
    assert(e1.size <= 4, "summary must respect capacity k")
    // replay contract: epoch 1 ≡ merge(committed epoch 0, MG(batch 1))
    val agg = new graft.ops.HeavyHitters.MisraGries(4)
    val e0 = spark.read.parquet(s"$root/out/epoch=0")
      .select($"token", $"est_count").as[(String, Long)].collect().toMap
    val b1 = graft.ops.HeavyHitters.topK(
      Seq("flood", "flood", "flood", "flood", "quiet").toDS(), 4).toMap
    assert(agg.finish(agg.merge(e0, b1)).toMap == e1,
      "epoch 1 must replay from epoch 0 + batch 1")
  }

  test("streaming heavy hitters: snapshot retention bounds the epoch dirs " +
    "without changing the summary") {
    val root = java.nio.file.Files.createTempDirectory("graft-hhret").toString
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"text")
    val keepLast = 2
    val q = Streams.heavyHittersStream(docs, s"$root/out", s"$root/cp",
      "text", k = 4, keepLast = keepLast)
    val epochs = 9 // N >> keepLast
    try {
      (0 until epochs).foreach { i =>
        input.addData(DocEvent(i.toLong, ts(i + 1), s"flood flood tok$i"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val dirs = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName).sorted
    assert(dirs.length <= keepLast + 2,
      s"retention must bound snapshot dirs: ${dirs.mkString(",")}")
    assert(dirs.contains(s"epoch=${epochs - 1}") &&
      dirs.contains(s"epoch=${epochs - 2}"),
      "the crash-replay pair (e, e-1) must survive retention")
    // the retained latest summary still covers the WHOLE ingested prefix
    val last = spark.read.parquet(s"$root/out/epoch=${epochs - 1}")
      .select($"token", $"est_count").as[(String, Long)].collect().toMap
    assert(last.get("flood").exists(c =>
      c <= 2L * epochs && c >= 2L * epochs - (3L * epochs) / 5),
      s"MG bound on the full prefix violated after retention: $last")
  }

  test("quality-gate monitor: pass-rate snapshot per epoch, alert on a junk flood") {
    val root = java.nio.file.Files.createTempDirectory("graft-qgate").toString
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"doc_id", $"text")
    val good = "the quick brown fox is a fine animal and it runs to the river"
    val junk = "#x #x #x #x #x #x #x #x"
    val q = Streams.qualityGateStream(docs, s"$root/out", s"$root/cp",
      "doc_id", "text", minWords = 5L, alertBelow = 0.5)
    try {
      input.addData(DocEvent(1, ts(1), good), DocEvent(2, ts(2), good),
        DocEvent(3, ts(3), junk))
      q.processAllAvailable()
      input.addData(DocEvent(4, ts(4), junk), DocEvent(5, ts(5), junk),
        DocEvent(6, ts(6), good))
      q.processAllAvailable()
    } finally q.stop()
    val e0 = spark.read.parquet(s"$root/out/epoch=0")
      .select($"n_docs", $"n_pass", $"pass_rate", $"alert")
      .as[(Long, Long, Double, Boolean)].head()
    assert(e0 == ((3L, 2L, 0.666667, false)), s"healthy epoch drifted: $e0")
    val e1 = spark.read.parquet(s"$root/out/epoch=1")
      .select($"n_docs", $"n_pass", $"pass_rate", $"alert")
      .as[(Long, Long, Double, Boolean)].head()
    assert(e1 == ((3L, 1L, 0.333333, true)), s"junk flood must alert: $e1")
    // per-gate accounting names the rules the junk trips: "#x" docs
    // fail the hash-ratio, word-length, and stopword gates, never the
    // word-count/ellipsis/alpha ones
    val gates = spark.read.parquet(s"$root/out/epoch=1")
      .select($"fail_g_words", $"fail_g_word_len", $"fail_g_hash",
        $"fail_g_ellipsis", $"fail_g_alpha", $"fail_g_stop")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(gates == ((0L, 2L, 2L, 0L, 0L, 2L)),
      s"per-gate violator counts drifted: $gates")
  }

  test("quality-gate monitor: an idle epoch records n_pass=0, not NULL") {
    // sum over an empty batch is NULL; the snapshot must coalesce it so
    // an idle-stream epoch stays consistent with n_docs=0 (pass_rate
    // defaults to 1.0 — no docs means nothing failed, no alert)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = Streams.qualityGateSnapshot(empty, "doc_id", "text",
      minWords = 5L, alertBelow = 0.5)
      .select($"n_docs", $"n_pass", $"pass_rate", $"alert")
      .as[(Long, Long, Double, Boolean)].head()
    assert(row == ((0L, 0L, 1.0, false)), s"idle epoch snapshot drifted: $row")
  }

  test("quotation flag stream ≡ batch containment restricted to earlier ids; flags don't drop") {
    val root = java.nio.file.Files.createTempDirectory("graft-quote").toString
    val host = "to be or not to be that is the question whether tis nobler " +
      "in the mind to suffer the slings and arrows of outrageous fortune " +
      "or to take arms against a sea of troubles and by opposing end them"
    val quote = "whether tis nobler in the mind to suffer the slings and arrows"
    val novel = "spark catalyst rewrites logical plans into physical operators " +
      "with pushdown pruning and whole stage code generation for columnar scans"
    val chain = "pushdown pruning and whole stage code generation"
    // epochs: host+its quoter arrive TOGETHER (within-batch flag);
    // the novel doc's quoter arrives an epoch LATER (cross-epoch flag);
    // doc 30 quotes doc 10 — a doc that was itself FLAGGED in epoch 0 —
    // proving flagged docs still register as containers (flag ≠ drop)
    val epochs = Seq(
      Seq(DocEvent(1L, ts(1), host), DocEvent(10L, ts(2), quote),
        DocEvent(11L, ts(3), novel)),
      Seq(DocEvent(20L, ts(4), chain), DocEvent(21L, ts(5),
        "completely unrelated text about minhash bands and lsh buckets " +
          "for large scale near duplicate detection work")),
      Seq(DocEvent(30L, ts(6), quote)))
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.quotationFlagStream(input.toDF().select($"doc_id", $"text"),
      s"$root/index", s"$root/out", s"$root/cp", "doc_id", "text",
      n = 3, threshold = 0.6)
    try epochs.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.read.parquet(s"$root/out")
      .select($"doc_id", $"quoted_from", $"containment")
      .as[(Long, Long, Double)].collect().toSet
    // the batch operator over the full corpus, restricted to the
    // arrival order (id_b earlier than id_a) — must agree EXACTLY,
    // values included
    val all = epochs.flatten.map(e => (e.doc_id, e.text)).toDF("doc_id", "text")
      .withColumn("blk", lit(0))
    val batch = graft.ops.Dedup.ngramContainmentBlocked(all, "doc_id",
      "text", "blk", n = 3, threshold = 0.6)
      .where($"id_b" < $"id_a")
      .select($"id_a", $"id_b", $"containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream/batch diverged: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    // the planted structure is all present: within-batch (10⊂1),
    // cross-epoch (20⊂11), and quoting a FLAGGED doc (30⊂10, plus 30⊂1
    // transitively since quote⊂host)
    val pairs = streamed.map { case (a, b, _) => (a, b) }
    assert(Set((10L, 1L), (20L, 11L), (30L, 10L), (30L, 1L)).subsetOf(pairs),
      s"planted quotations missing from: $pairs")
    assert(!pairs.exists { case (a, b) => a <= b }, "flags must point backward")
    // replay idempotence: re-running the last epoch rewrites identical rows
    val before = spark.read.parquet(s"$root/out/epoch=2")
      .as[(Long, Long, Double)].collect().toSet
    Streams.processQuotationBatch(
      Seq((30L, quote)).toDF("doc_id", "text"), epoch = 2L,
      s"$root/index", s"$root/out", "doc_id", "text",
      n = 3, threshold = 0.6)
    val after = spark.read.parquet(s"$root/out/epoch=2")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before, "replay must rewrite identical flags")
  }

  test("quotation auto-compaction: flags invariant under maxChain, chain bounded, " +
      "crash-recoverable swap") {
    val root = java.nio.file.Files.createTempDirectory("graft-quotecomp").toString
    // five epochs of disjoint content, then a quoter of epoch 0's doc
    val t0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val texts = Seq(t0,
      "one two three four five six seven eight nine ten",
      "red orange yellow green blue indigo violet pink brown black",
      "north south east west up down left right front back",
      "sun moon star comet planet meteor nebula galaxy cluster void")
    val quoter = "gamma delta epsilon zeta eta theta" // ⊂ t0's shingles
    def run(idx: String, out: String, maxChain: Int): Unit = {
      texts.zipWithIndex.foreach { case (t, e) =>
        Streams.processQuotationBatch(
          Seq((e + 1L, t)).toDF("doc_id", "text"), e.toLong,
          idx, out, "doc_id", "text", n = 3, threshold = 0.6,
          maxChain = maxChain)
      }
      Streams.processQuotationBatch(
        Seq((100L, quoter)).toDF("doc_id", "text"), 5L,
        idx, out, "doc_id", "text", n = 3, threshold = 0.6,
        maxChain = maxChain)
    }
    run(s"$root/idx_c", s"$root/out_c", maxChain = 2)
    run(s"$root/idx_u", s"$root/out_u", maxChain = 0)
    def flags(out: String): Set[(Long, Long, Long, Double)] =
      (0 to 5).flatMap { e =>
        spark.read.parquet(s"$out/epoch=$e")
          .select($"doc_id", $"quoted_from", $"containment")
          .as[(Long, Long, Double)].collect()
          .map(r => (e.toLong, r._1, r._2, r._3))
      }.toSet
    // the compacted run's flags — every epoch — equal the uncompacted
    // run's: compaction preserves the exact container set
    assert(flags(s"$root/out_c") == flags(s"$root/out_u"),
      "compaction changed the flag stream")
    assert(flags(s"$root/out_c").map { case (_, a, b, _) => (a, b) }
      .contains((100L, 1L)), "the planted quotation must flag")
    def chain(idx: String): Int =
      Option(new java.io.File(idx).listFiles()).toSeq.flatten
        .count(_.getName.startsWith("epoch="))
    assert(chain(s"$root/idx_u") == 6, "maxChain=0 never compacts")
    assert(chain(s"$root/idx_c") <= 3,
      s"auto-compaction failed to bound the chain: ${chain(s"$root/idx_c")}")
    // crash recovery, uncommitted tmp: a swap that died before its _OK
    // marker is discarded — victims untouched, probe unchanged
    val idxU = s"$root/idx_u"
    val junk = new java.io.File(s"$idxU/__compact_tmp_3/sets")
    junk.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idxU/__compact_tmp_3/sets/part-junk"),
      "garbage".getBytes)
    Streams.compactQuotationIndex(spark, idxU, upToEpoch = 3L)
    assert(!new java.io.File(s"$idxU/__compact_tmp_3").exists(),
      "uncommitted tmp must be discarded")
    assert(chain(idxU) == 3, s"victims 0..3 must have merged: ${chain(idxU)}")
    val probeAfter = Streams.quotationFlags(
      Seq((200L, quoter)).toDF("doc_id", "text"), 99L, idxU,
      "doc_id", "text", n = 3, threshold = 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(probeAfter == Set((200L, 1L), (200L, 100L)),
      s"post-recovery probe drifted: $probeAfter")
    // crash recovery, COMMITTED tmp (died after _OK, before the swap):
    // plant a tmp holding epochs {3,4 merged-equivalent} and assert the
    // next invocation promotes it and the probe still sees everything
    val setsDf = spark.read.parquet(s"$idxU/epoch=3/sets", s"$idxU/epoch=4/sets")
    setsDf.write.mode("overwrite").parquet(s"$idxU/__compact_tmp_4/sets")
    graft.ops.Dedup.writeBucketedIndex(
      spark.read.parquet(s"$idxU/epoch=3/posts", s"$idxU/epoch=4/posts")
        .select($"tok", $"id", $"hn"),
      s"$idxU/__compact_tmp_4/posts", Seq("tok"), 32)
    new java.io.File(s"$idxU/__compact_tmp_4/_OK").createNewFile()
    Streams.compactQuotationIndex(spark, idxU, upToEpoch = -1L) // recovery only
    assert(new java.io.File(s"$idxU/epoch=4/_OK").exists() &&
      !new java.io.File(s"$idxU/__compact_tmp_4").exists(),
      "committed tmp must promote on the next run")
    assert(chain(idxU) == 2, s"promotion must absorb its victims: ${chain(idxU)}")
    val probeFinal = Streams.quotationFlags(
      Seq((201L, quoter)).toDF("doc_id", "text"), 99L, idxU,
      "doc_id", "text", n = 3, threshold = 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(probeFinal == Set((201L, 1L), (201L, 100L)),
      s"post-promotion probe drifted: $probeFinal")
  }

  test("novelty auto-compaction: snapshots invariant under maxChain, chain bounded") {
    val root = java.nio.file.Files.createTempDirectory("graft-novcomp").toString
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six",
      "red orange yellow green blue indigo",
      "north south east west up down",
      // epoch 4 re-crawls epoch 0 + adds fresh content: its novelty
      // depends on grams committed in an epoch the compaction MERGED —
      // the probe-invariance witness
      "alpha beta gamma delta epsilon zeta sun moon star comet planet")
    def run(idx: String, out: String, maxChain: Int): Unit =
      texts.zipWithIndex.foreach { case (t, e) =>
        Streams.processNoveltyBatch(
          Seq((e + 1L, t)).toDF("doc_id", "text"), e.toLong,
          idx, out, "doc_id", "text", n = 3, alertBelow = 0.1,
          maxChain = maxChain)
      }
    run(s"$root/idx_c", s"$root/out_c", maxChain = 2)
    run(s"$root/idx_u", s"$root/out_u", maxChain = 0)
    def snaps(out: String) = (0 to 4).map { e =>
      spark.read.parquet(s"$out/epoch=$e")
        .select($"n_docs", $"n_grams", $"n_novel", $"novelty", $"alert")
        .as[(Long, Long, Long, Double, Boolean)].head()
    }
    assert(snaps(s"$root/out_c") == snaps(s"$root/out_u"),
      "compaction changed the novelty curve")
    // the re-crawl epoch suppressed exactly epoch 0's 4 grams of its 9
    assert(snaps(s"$root/out_c")(4) == ((1L, 9L, 5L, 0.555556, false)),
      s"mixed epoch drifted: ${snaps(s"$root/out_c")(4)}")
    def chain(idx: String): Int =
      Option(new java.io.File(idx).listFiles()).toSeq.flatten
        .count(_.getName.startsWith("epoch="))
    assert(chain(s"$root/idx_u") == 5, "maxChain=0 never compacts")
    assert(chain(s"$root/idx_c") <= 3,
      s"auto-compaction failed to bound the chain: ${chain(s"$root/idx_c")}")
    // the merged index holds exactly the union of first-seen grams: a
    // full re-crawl of everything earlier still registers nothing
    Streams.processNoveltyBatch(
      texts.take(4).zipWithIndex.map { case (t, i) => (50L + i, t) }
        .toDF("doc_id", "text"), 9L,
      s"$root/idx_c", s"$root/out_c", "doc_id", "text", n = 3,
      alertBelow = 0.1, maxChain = 0)
    val re = spark.read.parquet(s"$root/out_c/epoch=9")
      .select($"n_novel").as[Long].head()
    assert(re == 0L, s"re-crawl against the merged index must be 0-novel: $re")
  }

  test("OOV monitor: vocabulary shift raises the rate and alerts; idle epoch clean") {
    val root = java.nio.file.Files.createTempDirectory("graft-oov").toString
    // freeze a vocabulary from a base corpus (the artifact a training
    // run commits to), then stream in-vocab and shifted batches
    val base = Seq((1L, "the cat and the dog run to the house by the river"))
      .toDF("doc_id", "text")
    graft.ops.TextAnalysis.fitVocab(base, "text", vocabSize = 100)
      .write.mode("overwrite").parquet(s"$root/vocab")
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.oovMonitorStream(input.toDF().select($"doc_id", $"text"),
      s"$root/vocab", s"$root/out", s"$root/cp", "doc_id", "text",
      alertAbove = 0.2)
    try {
      input.addData(DocEvent(10L, ts(1), "the cat run to the river"))
      q.processAllAvailable()
      // shifted batch: 4 of 6 tokens outside the frozen vocabulary
      input.addData(DocEvent(11L, ts(2), "quantum flux capacitors destabilize the dog"))
      q.processAllAvailable()
    } finally q.stop()
    def snap(e: Int) = spark.read.parquet(s"$root/out/epoch=$e")
      .select($"n_docs", $"n_tokens", $"n_oov", $"oov_rate", $"alert")
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(snap(0) == ((1L, 6L, 0L, 0.0, false)),
      s"in-vocab epoch drifted: ${snap(0)}")
    assert(snap(1) == ((1L, 6L, 4L, 0.666667, true)),
      s"shifted epoch must alert: ${snap(1)}")
    // idle epoch + replay purity via the extracted snapshot
    val idle = Streams.oovSnapshot(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$root/vocab",
      "doc_id", "text", alertAbove = 0.2)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(idle == ((0L, 0L, 0L, 0.0, false)), s"idle snapshot drifted: $idle")
    // a batch of all-TOKENLESS docs is not an idle epoch: n_docs counts
    // the batch itself (the quality-gate convention), not the docs that
    // yielded tokens — "2 docs arrived, none tokenized" must be visible
    val tokenless = Streams.oovSnapshot(
      Seq((20L, "官話 官話"), (21L, "!!! ???")).toDF("doc_id", "text"),
      s"$root/vocab", "doc_id", "text", alertAbove = 0.2)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(tokenless == ((2L, 0L, 0L, 0.0, false)),
      s"tokenless batch must report its doc count: $tokenless")
    val replay = Streams.oovSnapshot(
      Seq((11L, "quantum flux capacitors destabilize the dog"))
        .toDF("doc_id", "text"),
      s"$root/vocab", "doc_id", "text", alertAbove = 0.2)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(replay == snap(1), s"replay drifted: $replay vs ${snap(1)}")
  }

  test("fertility monitor: drift shreds to characters and alerts; in-fit text stays cheap") {
    val root = java.nio.file.Files.createTempDirectory("graft-fert").toString
    // freeze a merge list fitted on the classic corpus (low×5 lower×2
    // newest×6 widest×3 → merges (e,s)(es,t)(l,o)(lo,w))
    val corpus = Seq(
      (1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    val fit = graft.ops.Bpe.fit(corpus, "text", nMerges = 4)
    fit.mergeTable(spark).write.mode("overwrite").parquet(s"$root/merges")
    graft.ops.Staged.releaseAll()
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.fertilityMonitorStream(
      input.toDF().select($"doc_id", $"text"),
      s"$root/merges", s"$root/out", s"$root/cp", "doc_id", "text",
      alertAbove = 3.5)
    try {
      // in-distribution: low(1) + lower(3) + newest(4) = 8 subwords / 3
      input.addData(DocEvent(10L, ts(1), "low lower newest"))
      q.processAllAvailable()
      // drifted crawl: nothing merges — near-character shredding
      input.addData(DocEvent(11L, ts(2), "zzzz qqqqq"))
      q.processAllAvailable()
    } finally q.stop()
    def snap(e: Int) = spark.read.parquet(s"$root/out/epoch=$e")
      .select($"n_docs", $"n_words", $"n_subwords", $"fertility", $"alert")
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(snap(0) == ((1L, 3L, 8L, 2.666667, false)),
      s"in-fit epoch drifted: ${snap(0)}")
    assert(snap(1) == ((1L, 2L, 9L, 4.5, true)),
      s"drift epoch must alert: ${snap(1)}")
    // idle + tokenless conventions + replay purity via the snapshot
    val idle = Streams.fertilitySnapshot(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$root/merges",
      "doc_id", "text", alertAbove = 3.5)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(idle == ((0L, 0L, 0L, 0.0, false)), s"idle snapshot drifted: $idle")
    val tokenless = Streams.fertilitySnapshot(
      Seq((20L, "!!! ???")).toDF("doc_id", "text"), s"$root/merges",
      "doc_id", "text", alertAbove = 3.5)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(tokenless == ((1L, 0L, 0L, 0.0, false)),
      s"tokenless batch must report its doc count: $tokenless")
    val replay = Streams.fertilitySnapshot(
      Seq((11L, "zzzz qqqqq")).toDF("doc_id", "text"), s"$root/merges",
      "doc_id", "text", alertAbove = 3.5)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(replay == snap(1), s"replay drifted: $replay vs ${snap(1)}")
    graft.ops.Staged.releaseAll()
  }

  test("KL monitor: wrong proportions of known words alert at 0 OOV; matched batch reads 0; no-support epochs read NULL") {
    val root = java.nio.file.Files.createTempDirectory("graft-kl").toString
    // frozen corpus distribution: the:2 cat:1 and:1 dog:1
    graft.ops.TextAnalysis.unigramCounts(
      Seq((1L, "the cat and the dog")).toDF("doc_id", "text"), "text")
      .write.mode("overwrite").parquet(s"$root/counts")
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.klMonitorStream(input.toDF().select($"doc_id", $"text"),
      s"$root/counts", s"$root/out", s"$root/cp", "doc_id", "text",
      alertAbove = 0.3)
    try {
      // exact proportion match → KL exactly 0, no OOV
      input.addData(DocEvent(10L, ts(1), "the cat and the dog"))
      q.processAllAvailable()
      // 100% KNOWN words, wrong proportions — the OOV monitor reads 0
      // here; this is the failure mode the KL face exists for
      input.addData(DocEvent(11L, ts(2), "dog dog dog dog the"))
      q.processAllAvailable()
      // OOV-heavy: the one shared word trivially matches → KL 0, but
      // oov_mass carries the signal (the OOV monitor's jurisdiction)
      input.addData(DocEvent(12L, ts(3), "zzz qqq the"))
      q.processAllAvailable()
    } finally q.stop()
    def snap(e: Int) = spark.read.parquet(s"$root/out/epoch=$e")
      .select($"n_docs", $"n_tokens", $"n_in_vocab", $"oov_mass", $"kl",
        $"alert")
      .as[(Long, Long, Long, Double, Option[Double], Boolean)].head()
    assert(snap(0) == ((1L, 5L, 5L, 0.0, Some(0.0), false)),
      s"matched epoch drifted: ${snap(0)}")
    // grid replay: p=(4/5,1/5) vs q renormalized over {dog,the}=(1/3,2/3)
    def g9(d: Double) = BigDecimal(java.math.BigDecimal.valueOf(d))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expect = (g9(0.8 * math.log((4.0 * 3) / (5.0 * 1))) +
      g9(0.2 * math.log((1.0 * 3) / (5.0 * 2))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(snap(1) == ((1L, 5L, 5L, 0.0, Some(expect), true)),
      s"skewed epoch drifted: ${snap(1)} vs kl=$expect")
    assert(snap(2) == ((1L, 3L, 1L, 0.666667, Some(0.0), false)),
      s"oov-heavy epoch drifted: ${snap(2)}")
    // idle and all-OOV epochs: no shared support → NULL kl, never 0
    val idle = Streams.klSnapshot(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$root/counts",
      "doc_id", "text", alertAbove = 0.3)
      .as[(Long, Long, Long, Double, Option[Double], Boolean)].head()
    assert(idle == ((0L, 0L, 0L, 0.0, None, false)),
      s"idle epoch drifted: $idle")
    val allOov = Streams.klSnapshot(
      Seq((20L, "xxx yyy")).toDF("doc_id", "text"), s"$root/counts",
      "doc_id", "text", alertAbove = 0.3)
      .as[(Long, Long, Long, Double, Option[Double], Boolean)].head()
    assert(allOov == ((1L, 2L, 0L, 1.0, None, false)),
      s"all-OOV epoch must read NULL kl, not 0: $allOov")
    // replay purity: the snapshot is a pure function of (batch, artifact)
    val replay = Streams.klSnapshot(
      Seq((11L, "dog dog dog dog the")).toDF("doc_id", "text"),
      s"$root/counts", "doc_id", "text", alertAbove = 0.3)
      .as[(Long, Long, Long, Double, Option[Double], Boolean)].head()
    assert(replay == snap(1), s"replay drifted: $replay vs ${snap(1)}")
    graft.ops.Staged.releaseAll()
  }

  test("shared monitor frames: one tokenize/shingle pass feeds OOV, fertility, novelty byte-identically") {
    val root = java.nio.file.Files.createTempDirectory("graft-monfr").toString
    val base = Seq(
      (1L, "low low low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"),
      (4L, "widest widest widest")).toDF("doc_id", "text")
    graft.ops.TextAnalysis.fitVocab(base, "text", vocabSize = 3)
      .write.mode("overwrite").parquet(s"$root/vocab")
    graft.ops.Bpe.fit(base, "text", nMerges = 4).mergeTable(spark)
      .write.mode("overwrite").parquet(s"$root/merges")
    graft.ops.Staged.releaseAll()
    // a committed day-1 gram index for the novelty leg
    Streams.processNoveltyBatch(base, 0L, s"$root/idx_a", s"$root/out_a",
      "doc_id", "text", n = 3, alertBelow = 0.1)
    Streams.processNoveltyBatch(base, 0L, s"$root/idx_b", s"$root/out_b",
      "doc_id", "text", n = 3, alertBelow = 0.1)
    // the day-2 batch: part re-crawl, part fresh, one tokenless doc
    val batch = Seq((10L, "low lower newest widest"),
      (11L, "quantum flux capacitors destabilize everything"),
      (12L, "!!! ???")).toDF("doc_id", "text")
    val mon = Streams.monitorFrames(batch, "text", n = 3)
    assert(mon.nDocs == 3L)
    def s5(df: org.apache.spark.sql.DataFrame,
        cols: Seq[String]): (Long, Long, Long, Double, Boolean) =
      df.select(cols.head, cols.tail: _*)
        .as[(Long, Long, Long, Double, Boolean)].head()
    val oovCols = Seq("n_docs", "n_tokens", "n_oov", "oov_rate", "alert")
    assert(s5(Streams.oovSnapshotFromWords(mon.words, mon.nDocs,
        s"$root/vocab", 0.2), oovCols) ==
      s5(Streams.oovSnapshot(batch, s"$root/vocab", "doc_id", "text", 0.2),
        oovCols), "shared-frame OOV snapshot drifted from the batch face")
    val fertCols = Seq("n_docs", "n_words", "n_subwords", "fertility", "alert")
    assert(s5(Streams.fertilitySnapshotFromWords(mon.words, mon.nDocs,
        s"$root/merges", 3.5), fertCols) ==
      s5(Streams.fertilitySnapshot(batch, s"$root/merges", "doc_id", "text",
        3.5), fertCols),
      "shared-frame fertility snapshot drifted from the batch face")
    // novelty: identical snapshot row AND identical registered gram set
    Streams.processNoveltyBatchFromGrams(mon.grams, mon.nDocs, 1L,
      s"$root/idx_a", s"$root/out_a", alertBelow = 0.1)
    Streams.processNoveltyBatch(batch, 1L, s"$root/idx_b", s"$root/out_b",
      "doc_id", "text", n = 3, alertBelow = 0.1)
    val novCols = Seq("n_docs", "n_grams", "n_novel", "novelty", "alert")
    assert(s5(spark.read.parquet(s"$root/out_a/epoch=1"), novCols) ==
      s5(spark.read.parquet(s"$root/out_b/epoch=1"), novCols),
      "shared-frame novelty snapshot drifted from the batch face")
    val regA = graft.ops.Dedup.readIndexTable(spark, s"$root/idx_a/epoch=1")
      .select($"gram").as[String].collect().sorted.toSeq
    val regB = graft.ops.Dedup.readIndexTable(spark, s"$root/idx_b/epoch=1")
      .select($"gram").as[String].collect().sorted.toSeq
    assert(regA == regB && regA.nonEmpty,
      "shared-frame novelty registered a different gram set")
    graft.ops.Staged.releaseAll()
  }

  test("novelty monitor: re-crawl collapses the curve; novel-only registration; replay-pure") {
    val root = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    val d1 = "the quick brown fox jumps over the lazy dog near the river"
    val d2 = "spark catalyst rewrites logical plans into efficient physical operators"
    val d3 = "minhash bands hash shingle sets into lsh buckets for dedup"
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.noveltyMonitorStream(input.toDF().select($"doc_id", $"text"),
      s"$root/index", s"$root/out", s"$root/cp", "doc_id", "text",
      n = 3, alertBelow = 0.1)
    try {
      input.addData(DocEvent(1L, ts(1), d1), DocEvent(2L, ts(2), d2))
      q.processAllAvailable()
      // epoch 1: pure re-crawl — every gram already committed
      input.addData(DocEvent(3L, ts(3), d1), DocEvent(4L, ts(4), d2))
      q.processAllAvailable()
      // epoch 2: one old doc, one new doc
      input.addData(DocEvent(5L, ts(5), d1), DocEvent(6L, ts(6), d3))
      q.processAllAvailable()
    } finally q.stop()
    def snap(e: Int) = spark.read.parquet(s"$root/out/epoch=$e")
      .select($"n_docs", $"n_grams", $"n_novel", $"novelty", $"alert")
      .as[(Long, Long, Long, Double, Boolean)].head()
    // distinct 3-gram shingles per doc: 12/9/10 tokens → 10/7/8 grams,
    // no cross-doc trigram overlap by construction
    val g1 = 10L; val g2 = 7L; val g3 = 8L
    assert(snap(0) == ((2L, g1 + g2, g1 + g2, 1.0, false)),
      s"first epoch is all-novel: ${snap(0)}")
    assert(snap(1) == ((2L, g1 + g2, 0L, 0.0, true)),
      s"pure re-crawl must collapse novelty and alert: ${snap(1)}")
    assert(snap(2) == ((2L, g1 + g3, g3, 0.444444, false)),
      s"half-new epoch drifted: ${snap(2)}")
    // the index registers ONLY novel grams: epoch dirs are disjoint and
    // their union is exactly the distinct grams ever seen
    val e0 = graft.ops.Dedup.readIndexTable(spark, s"$root/index/epoch=0")
      .select($"gram").as[String].collect().toSet
    val e1 = graft.ops.Dedup.readIndexTable(spark, s"$root/index/epoch=1")
      .select($"gram").as[String].collect().toSet
    val e2 = graft.ops.Dedup.readIndexTable(spark, s"$root/index/epoch=2")
      .select($"gram").as[String].collect().toSet
    assert(e1.isEmpty, "re-crawl epoch registers nothing")
    assert(e0.intersect(e2).isEmpty && e2.size == g3.toInt,
      "later epochs register exactly their first-seen grams")
    // replay idempotence: recomputing epoch 2 off-stream rewrites the row
    Streams.processNoveltyBatch(
      Seq((5L, d1), (6L, d3)).toDF("doc_id", "text"), epoch = 2L,
      s"$root/index", s"$root/out", "doc_id", "text", n = 3,
      alertBelow = 0.1)
    assert(snap(2) == ((2L, g1 + g3, g3, 0.444444, false)),
      "replay must rewrite the identical snapshot")
  }

  test("per-source health monitor: the drifting source is NAMED; frozen-artifact slices exact; replay-pure") {
    val root = java.nio.file.Files.createTempDirectory("graft-srchealth").toString
    // day-1 committed artifacts: gram index (novelty), vocabulary
    // (OOV), merge list (fertility) — all frozen from one base corpus
    val base = Seq((1L, "the cat and the dog run to the house by the river"))
      .toDF("doc_id", "text")
    graft.ops.Dedup.writeBucketedIndex(
      base.select(explode(graft.ops.Shingles($"text", 3)).as("gram")).distinct(),
      s"$root/grams/epoch=0", Seq("gram"), 8)
    graft.ops.TextAnalysis.fitVocab(base, "text", vocabSize = 100)
      .write.mode("overwrite").parquet(s"$root/vocab")
    graft.ops.Bpe.fit(base, "text", nMerges = 4)
      .mergeTable(spark).write.mode("overwrite").parquet(s"$root/merges")
    graft.ops.Staged.releaseAll()
    val input = MemoryStream[SrcDocEvent](spark)
    val q = Streams.sourceHealthStream(input.toDF(),
      s"$root/grams", s"$root/vocab", s"$root/merges",
      s"$root/out", s"$root/cp", "text", "source",
      alertBelowNovelty = 0.02, alertAboveOov = 0.5)
    try {
      input.addData(
        // healthy: base words in a NEW order — novel grams, zero OOV
        SrcDocEvent(10L, "the dog run by the cat to the river and the house", "fresh"),
        // re-crawl: byte-identical to held content — novelty exactly 0
        SrcDocEvent(11L, "the cat and the dog run to the house by the river", "recrawl"),
        // vocabulary drift: every word outside the frozen vocab
        SrcDocEvent(12L, "quantum flux capacitors destabilize everything", "alien"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$root/out/epoch=0")
      .select($"source", $"novelty", $"oov_rate", $"alert")
      .as[(String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows.keySet == Set("fresh", "recrawl", "alien"),
      s"one row per source: ${rows.keySet}")
    assert(rows("recrawl") == ((0.0, 0.0, true)),
      s"the re-crawl source must be NAMED at novelty 0: ${rows("recrawl")}")
    assert(rows("fresh")._1 > 0.5 && rows("fresh")._2 == 0.0 && !rows("fresh")._3,
      s"the healthy source must not alert: ${rows("fresh")}")
    assert(rows("alien")._2 == 1.0 && rows("alien")._3,
      s"the OOV source must alert: ${rows("alien")}")
    // the global novelty over this batch would read healthy — the
    // whole point of the slice: (fresh+alien novel grams) dwarf the
    // recrawl's zeros in one averaged number
    val novAll = spark.read.parquet(s"$root/out/epoch=0")
      .agg(sum($"n_novel"), sum($"n_grams")).as[(Long, Long)].head()
    assert(novAll._1.toDouble / novAll._2 > 0.3,
      s"fixture sanity: the batch-global average hides the re-crawl: $novAll")
    // replay purity: the snapshot is a pure function of (batch, files)
    val replay = Streams.sourceHealthSnapshot(
      Seq((10L, "the dog run by the cat to the river and the house", "fresh"),
        (11L, "the cat and the dog run to the house by the river", "recrawl"),
        (12L, "quantum flux capacitors destabilize everything", "alien"))
        .toDF("doc_id", "text", "source"),
      s"$root/grams", s"$root/vocab", s"$root/merges", "text", "source",
      alertBelowNovelty = 0.02, alertAboveOov = 0.5)
    val committed = spark.read.parquet(s"$root/out/epoch=0")
    assert(replay.collect().toSet == committed.collect().toSet,
      "replay drifted from the committed epoch")
    // a tokenless source carries NULL token-derived columns (x85's
    // left-join convention) and cannot alert on them; an idle epoch is
    // an empty, schema-complete table
    val tokenless = Streams.sourceHealthSnapshot(
      Seq((20L, "!!! ???", "binary")).toDF("doc_id", "text", "source"),
      s"$root/grams", s"$root/vocab", s"$root/merges", "text", "source")
      .select($"source", $"novelty", $"oov_rate", $"fertility", $"alert")
      .collect().toSeq
    assert(tokenless.length == 1 && tokenless.head.getString(0) == "binary" &&
      tokenless.head.isNullAt(1) && tokenless.head.isNullAt(2) &&
      tokenless.head.isNullAt(3) && !tokenless.head.getBoolean(4),
      s"tokenless source must surface as NULLs, never alert: $tokenless")
    val idle = Streams.sourceHealthSnapshot(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
      s"$root/grams", s"$root/vocab", s"$root/merges", "text", "source")
    assert(idle.isEmpty && idle.columns.contains("mean_quality"),
      "idle epoch must be empty and schema-complete")
    graft.ops.Staged.releaseAll()
  }

  test("per-source KL: the proportion-drifted source fires its row while the global gauge stays green") {
    // r19 (the VERDICT ask): one source emitting KNOWN words in the
    // WRONG proportions hides behind healthy batchmates in the global
    // KL monitor exactly the way novelty does — the health row's
    // per-source KL (same frozen table, same renormalized-shared-
    // support rule) names it
    val root = java.nio.file.Files.createTempDirectory("graft-srckl").toString
    val base = Seq((1L, "the cat and the dog run to the house by the river"))
      .toDF("doc_id", "text")
    graft.ops.TextAnalysis.unigramCounts(base, "text")
      .write.mode("overwrite").parquet(s"$root/uc")
    graft.ops.Dedup.writeBucketedIndex(
      base.select(explode(graft.ops.Shingles($"text", 3)).as("gram")).distinct(),
      s"$root/grams/epoch=0", Seq("gram"), 8)
    graft.ops.TextAnalysis.fitVocab(base, "text", vocabSize = 100)
      .write.mode("overwrite").parquet(s"$root/vocab")
    graft.ops.Bpe.fit(base, "text", nMerges = 4)
      .mergeTable(spark).write.mode("overwrite").parquet(s"$root/merges")
    graft.ops.Staged.releaseAll()
    // three healthy sources emit PERMUTATIONS of the corpus's word
    // multiset: unigram proportions exactly the corpus's (per-source
    // KL identically 0) while the trigrams are novel (the novelty
    // gauge must not alert — a verbatim re-crawl would); one source
    // emits only known words — zero OOV, the mode the other columns
    // miss — in inverted proportions
    val healthy = Seq(
      (11L, "the dog run by the cat to the river and the house", "src1"),
      (12L, "the house and the river run to the dog by the cat", "src2"),
      (13L, "the river to the house and the cat run by the dog", "src3"))
    val drifted =
      (20L, "river river river river river river river the", "templated")
    val batch = (healthy :+ drifted).toDF("doc_id", "text", "source")
    // the GLOBAL gauge over the same batch stays under the floor: 33
    // perfectly-proportioned tokens dilute the 8 drifted ones
    val globalKl = Streams.klSnapshotFromWords(
      graft.ops.Staged(batch.select(
        explode(graft.ops.TextAnalysis.tokens($"text")).as("word"))),
      4L, s"$root/uc", alertAbove = 0.5)
      .select($"kl", $"alert").as[(Double, Boolean)].head()
    assert(!globalKl._2 && globalKl._1 < 0.5,
      s"fixture sanity: the global gauge must hide the drift: $globalKl")
    val rows = Streams.sourceHealthSnapshot(batch,
      s"$root/grams", s"$root/vocab", s"$root/merges", "text", "source",
      // fertility disarmed: the 4-merge toy tokenizer prices 5-char
      // words near their char count either way — the fixture isolates
      // the KL axis (the gauges compose by disjunction, so any armed
      // co-firing gauge would mask whether KL alone names the source)
      alertAboveFertility = 100.0,
      countsPath = Some(s"$root/uc"), alertAboveKl = 0.5)
      .select($"source", $"kl", $"oov_rate", $"alert")
      .as[(String, Option[Double], Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rows("templated")._1.exists(_ > 0.5) && rows("templated")._3,
      s"the drifted source's row must fire on KL: ${rows("templated")}")
    assert(rows("templated")._2 == 0.0,
      s"the drift mode must be invisible to OOV: ${rows("templated")}")
    (1 to 3).foreach { i =>
      assert(rows(s"src$i")._1.contains(0.0) && !rows(s"src$i")._3,
        s"corpus-proportioned sources read KL exactly 0: ${rows(s"src$i")}")
    }
    // the per-source number IS the global formula restricted to one
    // source: a single-source batch's health KL equals the global
    // monitor's snapshot over the same docs — one threshold, two faces
    val alone = Seq(drifted).toDF("doc_id", "text", "source")
    val perSrc = graft.ops.TextAnalysis.perSourceSharedKl(
      alone, "text", "source", spark.read.parquet(s"$root/uc"))
      .select($"kl").as[Option[Double]].head()
    val globalAlone = Streams.klSnapshotFromWords(
      graft.ops.Staged(alone.select(
        explode(graft.ops.TextAnalysis.tokens($"text")).as("word"))),
      1L, s"$root/uc", alertAbove = 0.5)
      .select($"kl").as[Option[Double]].head()
    assert(perSrc == globalAlone && perSrc.isDefined,
      s"per-source and global KL must be the same arithmetic: " +
        s"$perSrc vs $globalAlone")
    graft.ops.Staged.releaseAll()
  }

  test("BPE maintenance loop: vocabulary drift re-fits the tokenizer mid-stream; fertility restored; swap crash-recoverable") {
    // base vocabulary shares no letter with the drift vocabulary, so
    // the committed merges apply NOTHING to drifted words (fertility =
    // exactly chars/word = 4.0); after the re-fit over the caller-
    // maintained corpus the drift words collapse to one symbol each
    // (fertility exactly 1.0) — BPE fits are deterministic, so these
    // are exact pins, not KMeans-style differentials
    val root = java.nio.file.Files.createTempDirectory("graft-bmaint").toString
    val (bpeP, corpusP, mon, ref) =
      (s"$root/bpe", s"$root/corpus", s"$root/mon", s"$root/ref")
    val base = (0 until 20).map(i =>
      (i.toLong, "hello world spark stream data")).toDF("doc_id", "text")
    // 30 docs: the drift words' composed pairs (freq 60) outrank every
    // base pair (freq 20) in the greedy merge order, so the re-fit
    // collapses them to ONE symbol each — fertility exactly 1.0
    val drift = (0 until 30).map(i =>
      (100L + i, "qzvx vxqz qzvx vxqz")).toDF("doc_id", "text")
    graft.ops.Bpe.fitCached(base, "text", nMerges = 16, bpeP,
      corpusTag = "day1"): Unit
    // the fit corpus the repair reads: base plus the absorbed ingest
    base.unionByName(drift).write.mode("overwrite").parquet(corpusP)
    val batch = drift.as[(Long, String)].collect()
      .map { case (id, t) => DocEvent(id, ts(1), t) }.toSeq
    val input = MemoryStream[DocEvent](spark)
    val q = Streams.bpeMaintenanceStream(
      input.toDF().select($"doc_id", $"text"), bpeP, corpusP, mon, ref,
      s"$root/cp", "doc_id", "text", alertAbove = 3.0, debounce = 2)
    try (0 until 3).foreach { _ =>
      input.addData(batch: _*); q.processAllAvailable()
    } finally q.stop()
    def row(path: String) = spark.read.parquet(path)
      .select($"fertility", $"alert").as[(Double, Boolean)].head()
    val e0 = row(s"$mon/epoch=0")
    val e1 = row(s"$mon/epoch=1")
    val e2 = row(s"$mon/epoch=2")
    assert(e0 == ((4.0, true)) && e1 == ((4.0, true)),
      s"drifted epochs must shred to characters and alert: $e0 / $e1")
    // debounce: the repair record starts exactly at epoch 1
    assert(new java.io.File(s"$ref/epoch=1").exists() &&
      !new java.io.File(s"$ref/epoch=0").exists(),
      "the re-fit must fire at the second consecutive alert, not the first")
    assert(row(s"$ref/epoch=1") == ((1.0, false)),
      s"the re-measured fertility must read the promoted merges: " +
        s"${row(s"$ref/epoch=1")}")
    // post-repair epochs read the promoted artifact atomically
    assert(e2 == ((1.0, false)), s"post-repair epoch must read healthy: $e2")
    // the promoted marker carries the deterministic refit tag; exactly
    // one generation is committed
    val markers = new java.io.File(bpeP).listFiles()
      .map(_.getName).filter(_.startsWith("_BPE_OK_")).toSeq
    assert(markers == Seq("_BPE_OK_v1_text_m16_frefit_e1"),
      s"marker generations drifted: $markers")
    // the stream leased the artifact under its checkpoint: an
    // accidental second loop refuses loudly (the index loop's enforced
    // single-writer rule, applied to the tokenizer artifact)
    intercept[IllegalStateException] {
      VectorStreams.requireMaintLease(spark, bpeP, "second-loop")
    }
    // crash-replay of the firing epoch (r19, the intent record): the
    // pre-refit intent committed before the swap means the replay
    // DETECTS the in-flight repair instead of re-deciding from a
    // snapshot that now reads the promoted merges as healthy — it
    // reports the repair (true), leaves the drifted EVIDENCE row
    // untouched, backfills the actuation record, and never re-churns
    // the completed fit (the merge bytes are byte-identical after)
    val mergeBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$bpeP/merges").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath).toSeq
    assert(Streams.maintainBpeEpoch(drift, 1L, bpeP, corpusP, mon, ref,
      "doc_id", "text", alertAbove = 3.0, debounce = 2),
      "replaying the firing epoch must report the committed repair")
    assert(row(s"$mon/epoch=1") == ((4.0, true)),
      "the drifted evidence row must survive the replay untouched")
    assert(row(s"$ref/epoch=1") == ((1.0, false)),
      "the replay must backfill the actuation record")
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$bpeP/merges").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath).toSeq
      == mergeBytes,
      "the replay must not re-churn the completed fit")
    assert(new java.io.File(bpeP).listFiles()
      .map(_.getName).count(_.startsWith("_BPE_OK_")) == 1)
    // the exact crash window the intent exists for: swap completed,
    // record missing. Fabricate it by deleting the record; the replay
    // must backfill rather than read the healthy post-swap fertility
    // and conclude no repair ever happened.
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rmTree); f.delete(): Unit
    }
    rmTree(new java.io.File(s"$ref/epoch=1"))
    assert(!new java.io.File(s"$ref/epoch=1").exists())
    assert(Streams.maintainBpeEpoch(drift, 1L, bpeP, corpusP, mon, ref,
      "doc_id", "text", alertAbove = 3.0, debounce = 2),
      "the crash-window replay must detect the completed swap")
    assert(row(s"$ref/epoch=1") == ((1.0, false)),
      "the crash-window replay must backfill the actuation record")
    // crash INSIDE a later refit: committed tmp (crash after the commit
    // point, before the swap) rolls FORWARD on the next recover...
    graft.ops.Bpe.buildRefitTmp(spark, bpeP,
      spark.read.parquet(corpusP), "text", corpusTag = "crash_tag")
    assert(new java.io.File(s"$bpeP/__refit_tmp/_REFIT_COMMIT").exists())
    assert(graft.ops.Bpe.recoverRefit(spark, bpeP),
      "a committed tmp must roll forward")
    assert(new java.io.File(bpeP).listFiles()
      .map(_.getName).filter(_.startsWith("_BPE_OK_")).toSeq ==
      Seq("_BPE_OK_v1_text_m16_fcrash_tag"),
      "the rolled-forward swap must promote the staged marker")
    assert(!new java.io.File(s"$bpeP/__refit_tmp").exists(),
      "no refit debris after recovery")
    // ...and an UNCOMMITTED tmp (crash before the commit point) is
    // discarded whole: the live artifact never stopped serving
    assert(new java.io.File(s"$bpeP/__refit_tmp").mkdir())
    assert(!graft.ops.Bpe.recoverRefit(spark, bpeP),
      "an uncommitted tmp is debris, not a swap")
    assert(!new java.io.File(s"$bpeP/__refit_tmp").exists())
    assert(graft.ops.Bpe.readFit(spark, bpeP).merges.nonEmpty,
      "the live artifact must survive a discarded build")
    graft.ops.Staged.releaseAll()
  }

  test("BPE maintenance: a checkpoint reset over retained paths must not replay a stale intent") {
    // the r19 ADVICE gap: intents are deliberately kept after a
    // completed repair (same-generation replays of the fire epoch stay
    // idempotent), but a stream resumed with a RESET checkpoint over
    // retained monitor/refit paths restarts epoch numbering at 0 — the
    // reused epoch number used to hit the prior generation's intent,
    // silently skip its monitor snapshot, and overwrite the old refit
    // record with the new batch's fertility
    val root = java.nio.file.Files
      .createTempDirectory("graft-bmaint-stale").toString
    val (bpeP, corpusP, mon, ref) =
      (s"$root/bpe", s"$root/corpus", s"$root/mon", s"$root/ref")
    val base = (0 until 20).map(i =>
      (i.toLong, "hello world spark stream data")).toDF("doc_id", "text")
    val drift = (0 until 30).map(i =>
      (100L + i, "qzvx vxqz qzvx vxqz")).toDF("doc_id", "text")
    graft.ops.Bpe.fitCached(base, "text", nMerges = 16, bpeP,
      corpusTag = "day1"): Unit
    base.unionByName(drift).write.mode("overwrite").parquet(corpusP)
    def row(path: String) = spark.read.parquet(path)
      .select($"fertility", $"alert").as[(Double, Boolean)].head()
    // generation 1 (debounce 1): the drifted epoch 0 fires — intent
    // and actuation record both commit
    assert(Streams.maintainBpeEpoch(drift, 0L, bpeP, corpusP, mon, ref,
      "doc_id", "text", alertAbove = 3.0, debounce = 1),
      "generation 1's drifted epoch 0 must fire")
    assert(new java.io.File(s"$ref/__refit_intent_e0").exists(),
      "the completed repair leaves its intent behind by design")
    val committed = row(s"$ref/epoch=0")
    assert(committed == ((1.0, false)),
      s"generation 1's repair must restore fertility: $committed")
    // plant a TORN repair's intent too (no record): the hygiene sweep
    // must preserve it — only vestigial intents of COMPLETED repairs go
    val fs = new org.apache.hadoop.fs.Path(ref)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$ref/__refit_intent_e5"), true).close()
    // generation 2: checkpoint reset, same paths, epoch 0 again — the
    // batch now prices healthy under the promoted merges. The stale
    // e0 intent must be swept (its repair committed), the monitor
    // snapshot WRITTEN rather than skipped, and the old actuation
    // record left untouched.
    assert(!Streams.maintainBpeEpoch(drift, 0L, bpeP, corpusP, mon, ref,
      "doc_id", "text", alertAbove = 3.0, debounce = 1),
      "a healthy new-generation epoch 0 must not report a repair")
    assert(!new java.io.File(s"$ref/__refit_intent_e0").exists(),
      "the completed repair's stale intent must be swept at epoch 0")
    assert(new java.io.File(s"$ref/__refit_intent_e5").exists(),
      "a torn repair's intent (no record) must survive the sweep")
    assert(row(s"$mon/epoch=0") == ((1.0, false)),
      "the new generation's evidence snapshot must land, not be skipped")
    assert(row(s"$ref/epoch=0") == committed,
      "the old actuation record must survive the path reuse untouched")
    graft.ops.Staged.releaseAll()
  }

  test("streaming DSIR scoring equals the batch probe of the model") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsirstream").toString
    val (mP, outP, cp) = (s"$root/model", s"$root/out", s"$root/cp")
    val target = Seq((100L, "quality prose about careful analysis")).toDF("doc_id", "text")
    val rawRef = Seq((200L, "quality prose spam spam lottery winner"),
      (201L, "careful analysis of lottery outcomes")).toDF("doc_id", "text")
    graft.ops.Dsir.writeModel(rawRef, target, "text", mP, buckets = 64)
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"doc_id", $"text")
    val q = Streams.dsirScoreStream(docs, mP, outP, cp, "doc_id", "text")
    val batch = Seq((1L, "quality prose about lottery spam"),
      (2L, "careful analysis wins quality prose"))
    try {
      input.addData(batch.map { case (i, t) => DocEvent(i, ts(1), t) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outP/epoch=0")
      .select($"doc_id", $"n_grams", $"ilw")
      .as[(Long, Long, Double)].collect().toSet
    val replayed = graft.ops.Dsir.scoreIndexed(
      batch.toDF("doc_id", "text"), mP, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == replayed && streamed.nonEmpty,
      s"stream $streamed != batch $replayed")
  }

  test("mixture drift monitor: TV per closed window, alert on flood") {
    val root = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val input = MemoryStream[DocEvent](spark)
    val docs = input.toDF().select($"ts", $"text")
    val q = Streams.mixtureDriftStream(docs, Map("a" -> 0.5, "b" -> 0.5),
      s"$root/out", s"$root/cp", "text",
      windowLen = "10 minutes", watermark = "5 minutes", alertAt = 0.25)
    try {
      // window 10:00: balanced a,a,b,b; window 10:10: an 'a' flood
      input.addData(
        DocEvent(1, ts(1), "a"), DocEvent(2, ts(2), "a"),
        DocEvent(3, ts(3), "b"), DocEvent(4, ts(4), "b"),
        DocEvent(5, ts(11), "a"), DocEvent(6, ts(12), "a"),
        DocEvent(7, ts(13), "a"), DocEvent(8, ts(14), "a"))
      q.processAllAvailable()
      // watermark push: closes both windows; its own window stays open
      input.addData(DocEvent(9, ts(45), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$root/out")
      .select($"window_start".cast("string"), $"n_docs", $"tv_drift", $"alert")
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(out == Set(
      ("2024-01-01 10:00:00", 4L, 0.0, false),
      ("2024-01-01 10:10:00", 4L, 0.5, true)),
      s"drift rows: $out")
  }
}
