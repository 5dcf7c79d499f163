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
