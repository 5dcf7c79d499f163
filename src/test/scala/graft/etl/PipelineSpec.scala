package graft.etl

import graft.SparkSpec
import graft.load.{Consistency, FormatSink, GraftSink, ParquetSink, UpsertParquetSink}
import graft.sources.http.{HttpPagedSource, MockTransport}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {

  test("ETL pipeline: parse → sanitize → validate → stamp over events") {
    val out = graft.queries.EtlQueries.pipeline(spark, sf)
    assert(out.count() > 0)
    assert(out.columns.contains("ingested_at"))
    assert(out.columns.contains("props_k"))
    // sanitation guarantee: every column BSON-legal
    assert(out.columns.forall(c => !c.contains(".") && !c.startsWith("$")))
  }

  test("empty-payload short-circuit (README.md:33)") {
    import spark.implicits._
    val cfg = ConnectorConfig(
      name = "empty",
      source = s => { import s.implicits._; Seq.empty[(Long, String)].toDF("id", "v") },
      stages = Seq(Transforms.requireNonNull("id")),
      sink = ParquetSink(Files.createTempDirectory("graft-empty").toString + "/c", SaveMode.Overwrite))
    val res = ConnectorRunner.run(spark, cfg)
    assert(res.rowsWritten == 0 && res.consistent)
  }

  /** Every entry under `root`: relative name -> (size, bytes), with
    * directories as (-1, empty).
    */
  private def snapshot(root: File): Map[String, (Long, Seq[Byte])] = {
    val walk = Files.walk(root.toPath)
    try walk.iterator().asScala.map { p =>
      root.toPath.relativize(p).toString ->
        (if (Files.isDirectory(p)) (-1L, Seq.empty[Byte])
         else (Files.size(p), Files.readAllBytes(p).toSeq))
    }.toMap finally walk.close()
  }

  test("an empty payload commits nothing: an existing collection keeps its files, a missing one is not created") {
    import spark.implicits._
    val seed = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val sinks: Seq[(String, String, String => GraftSink)] = Seq(
      ("ParquetSink Overwrite", "parquet", ParquetSink(_, SaveMode.Overwrite)),
      ("ParquetSink Append", "parquet", ParquetSink(_, SaveMode.Append)),
      ("FormatSink orc", "orc", FormatSink(_, "orc")),
      ("UpsertParquetSink", "parquet", UpsertParquetSink(_, Seq("id"))))
    // an empty API payload, and a payload whose every record fails validation
    val sources: Seq[(String, SparkSession => DataFrame, Seq[Transforms.Stage])] = Seq(
      ("no records", s => { import s.implicits._; Seq.empty[(Long, String)].toDF("id", "v") },
        Seq(Transforms.requireNonNull("id"))),
      ("no valid records", _ => seed, Seq(Transforms.validate(col("id") < 0))))
    for ((label, format, sink) <- sinks; (kind, source, stages) <- sources;
         existing <- Seq(true, false)) {
      val what = s"$label, $kind, ${if (existing) "existing" else "missing"} collection"
      val root = Files.createTempDirectory("graft-empty-load").toFile
      val path = new File(root, "coll").getPath
      if (existing) seed.write.format(format).save(path)
      val before = snapshot(root)
      val res = ConnectorRunner.run(spark, ConnectorConfig("empty", source, stages, sink(path)))
      assert(res == ConnectorRunner.Result("empty", 0L, consistent = true), what)
      assert(snapshot(root) == before, s"$what: the load changed the directory")
    }
  }

  test("a connector load is one SQL action and reads each page once") {
    val pageSchema = StructType(Seq(
      StructField("data", ArrayType(StructType(Seq(
        StructField("id", LongType),
        StructField("user.name", StringType),
        StructField("value", LongType))))),
      StructField("next_offset", LongType)))
    // 10 pages of 25 records; pages 2, 5 and 8 answer 429 to their first request
    val source: SparkSession => DataFrame = s =>
      s.read.format(classOf[HttpPagedSource].getName)
        .option("url", "http://mock.local/api?mock_total=250&mock_fail_every=3")
        .option("pageSize", "25")
        .option("totalRecords", "250")
        .option("transport", classOf[MockTransport].getName)
        .option("ratePerSec", "10000")
        .load()
    val stages: Seq[Transforms.Stage] = Seq(
      df => df.select(explode(from_json(col("body"), pageSchema).getField("data")).as("r"))
        .select(col("r.*")),
      Transforms.sanitizeFields,
      Transforms.requireNonNull("id"),
      Transforms.addIngestionTimestamp())
    val requests = 10 + 3

    val actions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet(): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.incrementAndGet(): Unit
    }
    def load(sink: GraftSink): (Long, Int) = {
      MockTransport.reset()
      ListenerBus.drain(spark.sparkContext)
      actions.set(0)
      spark.listenerManager.register(listener)
      val res = try ConnectorRunner.run(spark, ConnectorConfig("http", source, stages, sink))
        finally {
          ListenerBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(listener)
        }
      assert(MockTransport.requests.size == requests, s"$sink: requests of one load")
      (res.rowsWritten, actions.get)
    }
    /** Rows per distinct `ingested_at`: one load stamps one value. */
    def stamps(format: String, path: String): Seq[Long] =
      spark.read.format(format).load(path).groupBy("ingested_at").count()
        .collect().map(_.getLong(1)).toSeq

    val dir = Files.createTempDirectory("graft-one-action").toString
    val loads: Seq[(String, String, String => GraftSink, Int)] = Seq(
      ("parquet", "overwrite", ParquetSink(_, SaveMode.Overwrite), 1),
      ("parquet", "append", ParquetSink(_, SaveMode.Append), 2),
      ("orc", "overwrite", FormatSink(_, "orc", SaveMode.Overwrite), 1),
      ("orc", "append", FormatSink(_, "orc"), 2))
    for ((format, mode, sink, times) <- loads) {
      val path = s"$dir/$format-$mode"
      for (k <- 1 to times) {
        val (rows, n) = load(sink(path))
        assert(rows == 250 && n == 1, s"$format $mode, load $k: (rows, SQL actions)")
      }
      assert(stamps(format, path) == Seq.fill(times)(250L), s"$format $mode")
    }
    // the upsert persists its batch for the merge's two reads: still one extract
    val upsert = UpsertParquetSink(s"$dir/upsert", Seq("id"))
    for (k <- 1 to 2) {
      assert(load(upsert)._1 == 250, s"upsert, load $k")
      assert(stamps("parquet", upsert.path) == Seq(250L), s"upsert, load $k")
    }
  }

  test("upsert sink is idempotent (L2)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert").toString + "/coll"
    val sink = UpsertParquetSink(dir, Seq("id"))
    val batch1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(sink.write(batch1) == 2)
    // re-load of the same batch must not duplicate
    assert(sink.write(batch1) == 2)
    // new batch updates key 2, inserts key 3
    val batch2 = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    assert(sink.write(batch2) == 3)
    val got = spark.read.parquet(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("consistency check matches across partitionings (V2)") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val c1 = Consistency.of(df.repartition(7))
    val c2 = Consistency.of(df.repartition(3))
    assert(c1 == c2 && c1.rows == 1000)
    val tampered = df.withColumn("v", when(col("id") === 500, "X").otherwise(col("v")))
    assert(Consistency.of(tampered) != c1)
  }

  test("connector secrets resolve from env only") {
    assert(ConnectorRunner.secret("GRAFT_NO_SUCH_VAR").isEmpty)
    intercept[IllegalArgumentException] {
      ConnectorRunner.run(spark, ConnectorConfig(
        "needs-env", s => s.range(1).toDF(), Nil,
        ParquetSink("/tmp/never", SaveMode.Overwrite),
        requiredEnv = Seq("GRAFT_NO_SUCH_VAR")))
    }
  }

  test("quarantine splits invalid rows with a reason instead of dropping") {
    import spark.implicits._
    val df = Seq((1L, 5.0), (2L, -1.0), (3L, 10.0)).toDF("id", "value")
    val (ok, bad) = Transforms.quarantine(df, $"value" >= 0, "negative value")
    assert(ok.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val rejects = bad.select("id", "reject_reason").as[(Long, String)].collect()
    assert(rejects.toSeq == Seq((2L, "negative value")))
    assert(ok.count() + bad.count() == df.count())
  }
}
