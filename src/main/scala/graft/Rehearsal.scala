package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Staged, TextAnalysis}

/** The scaffold every `ScaleRehearsal*` runner shares: the session, the
  * corpus directory, argument parsing, the clock, replica ids and token
  * suffixes, corpus-keyed caches, and the invariance REQUIRE. A runner
  * is a body over a session, so a spec can run it on its shared session
  * and a main runs it through [[run]].
  */
object Rehearsal {

  /** The corpus a rehearsal reads: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Run `body` on a [[GraftSession.local]] session (plus `conf`, which
    * must be set at build time) and stop the session when it ends.
    */
  def run(appName: String, conf: Map[String, String] = Map.empty)(
      body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(appName, conf)
    try body(spark) finally spark.stop()
  }

  /** A list argument: the given integers, or `defaults` when none. */
  def ints(args: Seq[String], defaults: Int*): Seq[Int] =
    if (args.nonEmpty) args.map(_.toInt) else defaults

  /** Positional argument `i` as an integer, or `default` when absent. */
  def intAt(args: Seq[String], i: Int, default: Int): Int =
    args.lift(i).map(_.toInt).getOrElse(default)

  /** Seconds `body` took, and its result. Staged intermediates are
    * released after the clock stops, so the next measurement starts
    * from an empty block manager and the release is never billed.
    */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    Staged.releaseAll()
    (sec, r)
  }

  /** Replica id stride: one past the largest id. Derived from the data,
    * never a constant, so replica ids cannot collide on a corpus with
    * large ids.
    */
  def stride(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head().getLong(0) + 1L

  /** `text` with `tag` appended to every token: a replica (or epoch)
    * whose n-gram and passage universe is disjoint from the base's, so
    * the duplicate rate stays the base's while the corpus grows.
    */
  def suffixed(text: Column, tag: String): Column =
    array_join(transform(TextAnalysis.tokens(text),
      x => concat(x, lit(tag))), " ")

  /** Number of committed `epoch=` partitions under an index dir. */
  def chainLength(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("epoch="))

  /** Delete a directory tree (a no-op when absent). */
  def rmrf(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      f.delete(): Unit
    }
    walk(new java.io.File(path))
  }

  /** A rehearsal cache under `/tmp`, keyed on the corpus: the path
    * carries `OracleDump.sfTag(sfDir)`, so a run under another
    * `SPARK_GRAFT_SF_DIR` never measures an artifact built from a
    * different corpus. `build` writes the artifact into the path; it
    * reruns on a clean dir whenever the `_OK` marker is missing (a
    * build that died half-way) or `valid` rejects the cached dir.
    */
  def cached(name: String, sfDir: String,
      valid: String => Boolean = _ => true)(build: String => Unit): String = {
    val path = s"/tmp/$name-${graft.queries.OracleDump.sfTag(sfDir)}"
    val marker = new java.io.File(s"$path/_OK")
    if (!marker.exists() || !valid(path)) {
      rmrf(path)
      build(path)
      marker.getParentFile.mkdirs()
      marker.createNewFile(): Unit
    }
    path
  }

  /** The invariance REQUIRE of a curve: the first value checked becomes
    * the expectation, and any later value that differs throws
    * `"$label $at: $value != $expected"`.
    */
  final class Same[T](what: String) {
    private var first: Option[T] = None
    def apply(at: Any, v: T, label: String = what): Unit = {
      if (first.isEmpty) first = Some(v)
      require(v == first.get, s"$label $at: $v != ${first.get}")
    }
  }

  def same[T](what: String): Same[T] = new Same[T](what)
}
