package perfbench

import java.nio.file.{Files, Paths}

/** What one workload measured: its timed operations, its figures (medians
  * over its rounds), and free-form details as JSON values.
  */
final case class Result(attempted: Int, failed: Int, rounds: Int,
    figures: Map[String, Double], detail: Seq[(String, String)])

/** Start of the first timed call, and the end of the measuring window. */
final class Timing {
  private var t0Ns = 0L
  var firstMs = 0L
  def start(): Unit = if (t0Ns == 0L) {
    t0Ns = System.nanoTime()
    firstMs = System.currentTimeMillis()
  }
  def expired(seconds: Int): Boolean = System.nanoTime() - t0Ns >= seconds * 1000000000L
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The run's figure for a timed call: its fastest repetition. On a
    * shared machine one call's time varies by about a fifth from call to
    * call; the fastest is the one least disturbed.
    */
  def best(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.min

  /** Per key, the median over the maps that have it. */
  def medians(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.flatMap(_.keys).distinct.map(k => k -> median(rounds.flatMap(_.get(k)))).toMap
}

object DiskUsage {
  /** Bytes of the regular files under `f`. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()
}

/** JVM side of the benchmark: runs one workload in a
  * `GraftSession.local` session and writes its figures as JSON.
  *
  * Arguments: --workload --seed --seconds --trace --data --work
  * --t0-ms (epoch ms at which the run started) --out --trace-out
  * --data-ready (a file that appears once the inputs under --data are
  * complete: they are generated while the JVM and the session start)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val t0Ms = a("t0-ms").toLong

    val spark = graft.GraftSession.local("perfbench")
    val ready = Paths.get(a("data-ready"))
    while (!Files.exists(ready)) Thread.sleep(20)
    val tracer = new Tracer(spark, traced, workload)
    val timing = new Timing
    val res = try workload match {
      case "connector_etl" => ConnectorEtl.run(spark, tracer, seed, seconds, work, timing)
      case "query_sweep" => QuerySweep.run(spark, tracer, a("data"), work, seconds, timing)
      case other => sys.error(s"unknown workload $other")
    } finally spark.stop()

    val figures = res.figures.toSeq.sortBy(_._1) ++ Seq(
      "setup_s" -> (timing.firstMs - t0Ms) / 1000.0,
      "peak_heap_mb" -> Heap.peakMb)
    val out = Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "rounds" -> res.rounds.toString,
      "first_timed_ms" -> timing.firstMs.toString,
      "figures" -> Json.obj(figures.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(res.detail)))
    Files.writeString(Paths.get(a("out")), out)
    if (traced) Files.writeString(Paths.get(a("trace-out")), tracer.json)
  }
}
