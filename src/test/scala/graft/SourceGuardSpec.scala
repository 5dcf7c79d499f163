package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards on `src/main/scala`: every session is built by
  * `GraftSession` (so every main runs the configuration and the
  * extension the tests run), and no code reaches a native function by
  * its registry name (the column helpers build the expressions
  * directly, so a DataFrame pipeline never depends on a registry), and
  * the `ScaleRehearsal*` runners take the corpus dir and the clock from
  * the one [[Rehearsal]] scaffold.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, Seq[String])] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  private def hits(pred: (Path, String) => Boolean): Seq[String] =
    for {
      (p, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if pred(p, line)
    } yield s"$p:${i + 1}: ${line.trim}"

  test("the source tree is where the guards look") {
    assert(Files.isRegularFile(root.resolve("graft/GraftSession.scala")))
  }

  test("SparkSession.builder( appears only in GraftSession.scala") {
    val found = hits((p, line) =>
      line.contains("SparkSession.builder(") &&
        p.getFileName.toString != "GraftSession.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no native function is called by its registry name") {
    val native = graft.functions.GraftFunctions.builders.map(_._1)
    val found = hits((_, line) =>
      native.exists(n => line.contains("call_function(\"" + n + "\"")))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("ScaleRehearsal* files use Rehearsal's sfDir and clock") {
    val found = hits((p, line) =>
      p.getFileName.toString.startsWith("ScaleRehearsal") &&
        (line.contains("\"SPARK_GRAFT_SF_DIR\"") ||
          line.contains("System.nanoTime")))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
