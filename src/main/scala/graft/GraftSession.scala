package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's SparkSession is built: every main, the
  * benchmark and the test suites go through [[builder]] or [[local]], so
  * they all run the same configuration, and [[GraftExtensions]] installs
  * the native SQL functions and the as-of join strategy into each
  * session as it is built.
  *
  * Design notes (100 TB posture): everything here is plan-level
  * configuration — AQE on (runtime re-plan of shuffles / skew joins),
  * shuffle partitions sized to the local core count instead of the
  * 200 default (on a real cluster this would be set to ~2-3x total
  * cores or left to AQE's coalescing), UTC session time zone so
  * results are reproducible against the DuckDB oracle.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Local session for mains/tests; master defaults to all local cores. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
