package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // oracle side-channel: queries whose fitted/seeded artifacts the
    // DuckDB oracle reads back dump them only under Verify
    sys.props(graft.queries.OracleDump.prop) = "true"
    // optional comma-separated name filter for iterating on one query
    // (the driver sets no filter and always dumps everything)
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = filter match {
      case Some(f) =>
        val sel = SparkEntry.queries.filter { case (n, _) => f(n) }
        // a typo'd filter would otherwise dump nothing and exit 0 — a
        // dev iterating on one query must not mistake that for a pass
        if (sel.isEmpty) {
          System.err.println(
            s"[verify] SPARK_GRAFT_VERIFY_FILTER matched no queries: $f")
          sys.exit(2)
        }
        sel
      case None => SparkEntry.queries
    }
    // fail CLOSED: a query that throws must surface as (a) a recorded
    // error the driver can turn into a red CORRECTNESS row and (b) a
    // nonzero exit — round 9 proved that "skip and continue" lets a
    // broken query silently vanish from the correctness file.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) =
          Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      // bound cache footprint across the 70+ sequential pipelines
      finally graft.ops.Staged.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(graft.queries.OracleDump.substitute(v, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // dump-failure manifest: lets the driver emit explicit `err` rows for
    // queries with no parquet dir instead of a silently shorter file
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // sanity: an unfiltered run must have dumped exactly the registry
    if (filter.isEmpty) {
      val dumped = Option(new java.io.File(outDir).listFiles()).getOrElse(Array())
        .filter(_.isDirectory).map(_.getName).toSet
      val missing = SparkEntry.queries.keySet -- dumped
      if (missing.nonEmpty)
        System.err.println(s"[verify] missing dumps: ${missing.toSeq.sorted.mkString(",")}")
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.mkString(",")}")
      sys.exit(1)
    }
  }
}
