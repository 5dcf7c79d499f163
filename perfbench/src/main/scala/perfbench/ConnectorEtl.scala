package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{ConnectorConfig, ConnectorRunner, Transforms}
import graft.load.{GraftSink, ParquetSink, UpsertParquetSink}
import graft.sources.http.{HttpPagedSource, MockTransport}

/** `connector_etl`: paginated HTTP extract (offset pagination over
  * `MockTransport`, with planted 429s) → JSON parse + explode →
  * `sanitizeFields` → `requireNonNull` → `validate` →
  * `addIngestionTimestamp` → `ConnectorRunner.run` into a fresh
  * `ParquetSink` collection; then an overlapping page window re-loaded
  * through `UpsertParquetSink` on `id`.
  */
object ConnectorEtl {
  val PageSize = 100
  /** Pages per window: 4 partitions of 16 pages, one per core. With 16
    * partitions of 4 pages a pass was a third slower and spread more
    * from run to run: its time was mostly per-task overhead.
    */
  val Pages = 64
  val PagesPerPartition = 16
  /** Every 16th page answers 429 to its first request. */
  val FailEvery = 16
  /** Timed rounds of an untraced run; each phase reports its fastest.
    * A traced run alternates untraced and traced rounds, starting and
    * ending untraced: `TracedRounds` traced ones among
    * `2 * TracedRounds + 1`.
    */
  val MinRounds = 5
  val TracedRounds = 3
  /** Untimed rounds before the first timed one: a pass's time still
    * falls by a third over its first four or five calls in a JVM.
    */
  val WarmupRounds = 3

  /** First page of the appended window; the upsert window starts half a
    * window later, so the two overlap on `Pages / 2` pages.
    */
  def firstPage(seed: Long): Int = 8 * (math.abs(seed) % 997).toInt

  private val pageSchema = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("user.name", StringType),
      StructField("$meta", StructType(Seq(StructField("k", LongType)))),
      StructField("value", LongType))))),
    StructField("next_offset", LongType)))

  private def pages(spark: SparkSession, first: Int): DataFrame = {
    val end = (first + Pages) * PageSize
    spark.read.format(classOf[HttpPagedSource].getName)
      .option("url", s"http://mock.local/api?mock_total=$end&mock_fail_every=$FailEvery")
      .option("pageSize", PageSize.toString)
      .option("totalRecords", end.toString)
      .option("pagesPerPartition", PagesPerPartition.toString)
      .option("transport", classOf[MockTransport].getName)
      .option("ratePerSec", "1000000")
      .load()
      .where(col("page") >= first)
  }

  private val parse: Transforms.Stage = df =>
    df.select(explode(from_json(col("body"), pageSchema).getField("data")).as("rec"))
      .select(col("rec.*"))

  private val stages: Seq[Transforms.Stage] = Seq(parse,
    Transforms.sanitizeFields,
    Transforms.requireNonNull("id"),
    Transforms.validate(col("value") >= 0),
    Transforms.addIngestionTimestamp())

  /** In a traced run the sink first materializes the (persisted)
    * transformed frame under `etl.transform`, then writes under `layer`.
    */
  private final class TracedSink(t: Tracer, inner: GraftSink, layer: String,
      out: Long => Unit) extends GraftSink {
    def write(df: DataFrame): Long = {
      out(t.span("etl.transform")(df.count()))
      t.span(layer)(inner.write(df))
    }
  }

  final case class Pass(rows: Long, seconds: Double, requests: Int,
      distinctUrls: Int, recordsIn: Long, recordsOut: Long)

  /** One connector pass over the window starting at `first`. */
  private def pass(spark: SparkSession, t: Tracer, name: String,
      first: Int, sink: GraftSink, layer: String): Pass = {
    MockTransport.reset()
    var raw: Option[DataFrame] = None
    var recordsOut = -1L
    val source: SparkSession => DataFrame =
      if (!t.enabled) s => pages(s, first)
      else s => t.span("sources.http.extract") {
        val r = pages(s, first).persist()
        r.count()
        raw = Some(r)
        r
      }
    val cfg = ConnectorConfig(name = "perfbench_connector", source = source,
      stages = stages,
      sink = if (t.enabled) new TracedSink(t, sink, layer, n => recordsOut = n) else sink)
    val t0 = System.nanoTime()
    val res = t.span(name)(ConnectorRunner.run(spark, cfg))
    val secs = (System.nanoTime() - t0) / 1e9
    val reqs = MockTransport.requests
    val recordsIn = raw.map { r =>
      val n = parse(r).count()
      r.unpersist()
      n
    }.getOrElse(-1L)
    Pass(res.rowsWritten, secs, reqs.size, reqs.map(_._1).distinct.size,
      recordsIn, recordsOut)
  }

  private def dirBytes(f: File): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.endsWith(".parquet")) (f.length(), 1)
    else (0L, 0)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath): Unit

  def run(spark: SparkSession, t: Tracer, seed: Long, seconds: Int,
      work: String, timing: Timing): Result = {
    val first = firstPage(seed)
    val second = first + Pages / 2
    var passLog = List.empty[String]

    def round(dir: File, check: Boolean): (Pass, Pass, Map[String, Double]) = {
      val coll = new File(dir, "collection").getPath
      val a = pass(spark, t, "connector.append", first,
        ParquetSink(coll, SaveMode.Overwrite), "load.append")
      val (appendBytes, appendFiles) = dirBytes(new File(coll))
      if (check) copyTree(new File(coll), new File(work, "check/append"))
      val u = pass(spark, t, "connector.upsert", second,
        UpsertParquetSink(coll, Seq("id")), "load.upsert")
      val (collBytes, _) = dirBytes(new File(coll))
      if (check) {
        copyTree(new File(coll), new File(work, "check/upsert"))
        passLog = Seq(("append", first, a), ("upsert", second, u)).map { case (k, p, x) =>
          Json.obj(Seq("pass" -> Json.str(k), "first_page" -> p.toString,
            "pages" -> Pages.toString, "page_size" -> PageSize.toString,
            "fail_every" -> FailEvery.toString, "rows" -> x.rows.toString,
            "requests" -> x.requests.toString))
        }.toList
      }
      deleteTree(dir)
      val layer = if (!t.enabled) Map.empty[String, Double] else {
        def rereg(name: String) = t.inclusive(t.named(name).last).getOrElse("reregistrations", 0.0)
        // each round runs two passes, so two extract and two transform spans
        def secs(name: String) = t.named(name).takeRight(2).map(_.seconds).sum
        val upsertSpan = t.named("load.upsert").last
        val upsertWritten = t.inclusive(upsertSpan).getOrElse("bytes_written", 0.0)
        Map(
          "sources.http.pages" -> (a.distinctUrls + u.distinctUrls).toDouble,
          "sources.http.requests" -> (a.requests + u.requests).toDouble,
          "sources.http.retries" ->
            (a.requests - a.distinctUrls + u.requests - u.distinctUrls).toDouble,
          "sources.http.extract_s" -> secs("sources.http.extract"),
          "etl.records_in" -> (a.recordsIn + u.recordsIn).toDouble,
          "etl.records_out" -> (a.recordsOut + u.recordsOut).toDouble,
          "etl.transform_s" -> secs("etl.transform"),
          "load.append_s" -> t.named("load.append").last.seconds,
          "load.append_bytes" -> appendBytes.toDouble,
          "load.files" -> appendFiles.toDouble,
          "load.upsert_s" -> upsertSpan.seconds,
          "load.upsert_bytes_written" -> upsertWritten,
          "load.upsert_write_amp" -> upsertWritten / collBytes,
          "functions.reregistrations" -> (rereg("connector.append") + rereg("connector.upsert")))
      }
      Heap.sample()
      (a, u, layer)
    }

    // untimed rounds warm the JIT and the source/sink code paths; the
    // first leaves the collections the checks read
    t.enabled = false
    (0 until WarmupRounds).foreach(w => round(new File(work, s"coll/warm$w"), check = w == 0))
    val plain = ArrayBuffer.empty[(Pass, Pass)]
    val traced = ArrayBuffer.empty[(Pass, Pass)]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    timing.start()
    var k = 0
    def more = if (t.traced) k < 2 * TracedRounds + 1 else k < MinRounds
    while (more || !timing.expired(seconds)) {
      t.enabled = t.traced && k % 2 == 1
      val (a, u, layer) = round(new File(work, s"coll/r$k"), check = false)
      if (t.enabled) { traced += ((a, u)); layers += layer } else plain += ((a, u))
      k += 1
    }
    t.enabled = t.traced
    def phases(ps: Seq[(Pass, Pass)]) =
      (Stats.best(ps.map(_._1.seconds)), Stats.best(ps.map(_._2.seconds)))
    val (p1, p2) = phases(plain.toSeq)
    val overhead = if (!t.traced) Map.empty[String, Double] else {
      val (t1, t2) = phases(traced.toSeq)
      Map("tracing_overhead_pct" -> 100.0 * ((t1 + t2) / (p1 + p2) - 1.0))
    }
    Result(attempted = 2 * k, failed = 0, rounds = k,
      figures = Stats.medians(layers.toSeq) ++ overhead ++
        Map("phase1_s" -> p1, "phase2_s" -> p2),
      detail = Seq("passes" -> passLog.mkString("[", ",", "]"),
        "window_records" -> (Pages * PageSize).toString,
        "append_s" -> plain.map(x => Json.num(x._1.seconds)).mkString("[", ",", "]"),
        "upsert_s" -> plain.map(x => Json.num(x._2.seconds)).mkString("[", ",", "]")))
  }
}
