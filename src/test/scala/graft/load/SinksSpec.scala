package graft.load

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** File-format sinks/scans beyond parquet, the sinks' one-write loads and
  * the upsert's crash recovery, and bucketed co-located joins (the
  * storage-layout piece of the 100 TB story).
  */
class SinksSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val events = Tables(spark, sf, "events")
    .select($"event_id", $"user_id", $"event_type", $"value")

  test("csv round-trip preserves content") {
    val dir = Files.createTempDirectory("graft-csv").toString + "/out"
    events.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(events.schema).csv(dir)
    assert(Consistency.verify(events, back))
  }

  test("json round-trip preserves content") {
    val dir = Files.createTempDirectory("graft-json").toString + "/out"
    events.write.json(dir)
    val back = spark.read.schema(events.schema).json(dir)
    assert(Consistency.verify(events, back))
  }

  test("orc round-trip preserves content, with pushdown + pruning at the scan") {
    val dir = Files.createTempDirectory("graft-orc").toString + "/out"
    val n = FormatSink(dir, "orc").write(events)
    assert(n == events.count())
    val back = spark.read.orc(dir)
    assert(Consistency.verify(events, back))
    // the columnar contract: filters and projection reach the ORC scan
    // exactly as the parquet plan specs assert
    val plan = back.where($"value" > 0.5).select($"event_id", $"value")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(value), GreaterThan(value,0.5)]"),
      s"ORC scan must take pushed filters:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("event_id") && !readSchema.contains("user_id"),
      s"ORC scan must prune to the projected columns: $readSchema")
  }

  test("FormatSink appends like ParquetSink (same collection contract)") {
    val dir = Files.createTempDirectory("graft-orc-append").toString + "/out"
    val sink = FormatSink(dir, "orc")
    sink.write(events.limit(10))
    sink.write(events.limit(5))
    assert(spark.read.orc(dir).count() == 15)
  }

  test("FormatSink.write is one SQL action and returns the rows it wrote") {
    val input = events // resolved before the listener counts anything
    for (format <- Seq("parquet", "orc")) {
      val dir = Files.createTempDirectory(s"graft-$format-actions").toString + "/out"
      val actions = new AtomicInteger()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          actions.incrementAndGet(): Unit
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          actions.incrementAndGet(): Unit
      }
      ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      val n = try FormatSink(dir, format).write(input) finally {
        ListenerBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      assert(actions.get == 1, s"$format: SQL actions in one write")
      assert(n == spark.read.format(format).load(dir).count(), s"$format: rows written")
      assert(n == input.count(), s"$format: rows in")
    }
  }

  test("upsert recovers from a crash at each point of its commit") {
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.toDF("id", "v").write.parquet(dir)
    val base = Seq(1L -> "a", 2L -> "b")
    // a load merged and staged, but never acknowledged, before the crash
    val staged = base :+ (4L -> "d")
    val batch = Seq(2L -> "B", 3L -> "c")
    val cases: Seq[(String, String => Unit, Seq[(Long, String)])] = Seq(
      ("(a) staging complete, path present",
        p => { write(base, p); write(staged, p + ".staging") },
        Seq(1L -> "a", 2L -> "B", 3L -> "c")),
      ("(b) path renamed to .old, staging complete",
        p => { write(base, p + ".old"); write(staged, p + ".staging") },
        Seq(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d")),
      ("(c) staging without _SUCCESS, path present",
        p => {
          write(base, p); write(staged, p + ".staging")
          assert(new File(p + ".staging/_SUCCESS").delete())
        },
        Seq(1L -> "a", 2L -> "B", 3L -> "c")),
      ("(d) only .old present",
        p => write(base, p + ".old"),
        Seq(1L -> "a", 2L -> "B", 3L -> "c")))
    for ((state, setUp, expected) <- cases) {
      val path = Files.createTempDirectory("graft-upsert-crash").toString + "/coll"
      setUp(path)
      val n = UpsertParquetSink(path, Seq("id")).write(batch.toDF("id", "v"))
      val got = spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == expected, state)
      assert(n == spark.read.parquet(path).count(), s"$state: rows written")
      assert(!new File(path + ".staging").exists() && !new File(path + ".old").exists(),
        s"$state: the commit leaves no .staging or .old")
    }
  }

  test("overwrite and append recover from a crash at each point of their commits") {
    import org.apache.spark.sql.SaveMode
    def write(rows: Seq[(Long, String)], dir: String): Unit =
      rows.toDF("id", "v").repartition(3).write.parquet(dir)
    def read(dir: String): Seq[(Long, String)] =
      spark.read.parquet(dir).as[(Long, String)].collect().toSeq.sorted
    def dataFiles(dir: String): Seq[File] =
      new File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-"))
    val base = Seq(1L -> "a", 2L -> "b")
    // a load staged, but never acknowledged, before the crash
    val staged = Seq(4L -> "d", 5L -> "e", 6L -> "f")
    val batch = Seq(2L -> "B", 3L -> "c")
    // (state, mode, crash state, the collection once recovered)
    val cases: Seq[(String, SaveMode, String => Unit, Seq[(Long, String)])] = Seq(
      ("overwrite (a) staging complete, path present", SaveMode.Overwrite,
        p => { write(base, p); write(staged, p + ".staging") }, base),
      ("overwrite (b) path renamed to .old, staging complete", SaveMode.Overwrite,
        p => { write(base, p + ".old"); write(staged, p + ".staging") }, staged),
      ("overwrite (c) staging without _SUCCESS, path present", SaveMode.Overwrite,
        p => {
          write(base, p); write(staged, p + ".staging")
          assert(new File(p + ".staging/_SUCCESS").delete())
        }, base),
      ("overwrite (d) only .old present", SaveMode.Overwrite,
        p => write(base, p + ".old"), base),
      ("append (e) complete staging, partly moved", SaveMode.Append,
        p => {
          write(base, p); write(staged, p + ".append")
          val files = dataFiles(p + ".append")
          assert(files.size > 1, "the staged load spans several files")
          val f = files.head
          assert(f.renameTo(new File(p, f.getName)))
          new File(f.getParent, s".${f.getName}.crc").renameTo(new File(p, s".${f.getName}.crc"))
        }, base ++ staged),
      ("append (f) staging without _SUCCESS", SaveMode.Append,
        p => {
          write(base, p); write(staged, p + ".append")
          assert(new File(p + ".append/_SUCCESS").delete())
        }, base))
    for ((state, mode, setUp, recovered) <- cases) {
      val path = Files.createTempDirectory("graft-sink-crash").toString + "/coll"
      setUp(path)
      def clean(when: String): Unit =
        assert(Seq(".staging", ".old", ".append").forall(s => !new File(path + s).exists()),
          s"$state: $when leaves no staging directory")
      // an empty load commits nothing, so it shows what recovery made of the crash
      assert(ParquetSink(path, mode).write(Seq.empty[(Long, String)].toDF("id", "v")) == 0)
      assert(read(path) == recovered.sorted, s"$state: recovered collection")
      clean("recovery")
      assert(ParquetSink(path, mode).write(batch.toDF("id", "v")) == batch.size, state)
      val expected = if (mode == SaveMode.Overwrite) batch else recovered ++ batch
      assert(read(path) == expected.sorted, s"$state: collection after the load")
      clean("the commit")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft-warehouse").toString
    val s2 = graft.GraftSession.builder("graft-bucketing")
      .master("local[4]")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .getOrCreate()
    try {
      Tables(s2, sf, "orders").write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      Tables(s2, sf, "lineitem").write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val joined = s2.table("lineitem_b")
        .join(s2.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      joined.collect() // materialize so AQE finalizes the plan
      val shuffles = collect(joined.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      // the bucketed join itself must be shuffle-free; the only allowed
      // exchange is the final 3-group aggregation
      assert(shuffles.size <= 1,
        s"expected co-located bucket join, got ${shuffles.size} shuffles")
      // cross-check the result against the plain join
      val plain = Tables(s2, sf, "lineitem")
        .join(Tables(s2, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      val bucketed = joined.as[(String, Long)].collect().toMap
      assert(plain == bucketed)
    } finally {
      s2.sql("DROP TABLE IF EXISTS orders_b")
      s2.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
