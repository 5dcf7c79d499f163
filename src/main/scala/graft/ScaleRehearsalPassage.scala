package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Staged, TextAnalysis}
import graft.sources.Tables

/** Scale rehearsal for passage-level dedup (x32). Two replication modes
  * separate the operator's two scale risks:
  *
  *  - DECORRELATED: replica r's tokens carry an r-suffix, so passage
  *    universes are disjoint across replicas — the duplicate RATE stays
  *    the base corpus's while the corpus grows m×. Time must grow
  *    ~linearly (the aggregations and equi-joins are all partial-agg
  *    shapes with no cross-replica interaction).
  *  - VERBATIM: replicas share every passage, so duplicate MULTIPLICITY
  *    grows m× — the hot-passage face. The winner design (two partial
  *    aggs + equi-joins, never a row_number window partitioned by
  *    passage content) must absorb it: a window formulation would put
  *    all m× occurrences of each passage in one partition.
  *
  * Built-in invariants, required per step: verbatim keeps EXACTLY the
  * base corpus's distinct passages regardless of m (one winner
  * globally), decorrelated keeps exactly m× them.
  *
  * Usage: runMain graft.ScaleRehearsalPassage [multipliers...] (default 1 2 5 10)
  */
object ScaleRehearsalPassage {

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5, 10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-passage")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val nDocs = base.count()
    require(nDocs > 0, s"no documents under $sfDir — nothing to rehearse")
    // replica id stride derives from the corpus (a fixed constant would
    // silently collide ids on a corpus with large doc_ids — the exact
    // unguarded-offset defect class CurateMain was cited for)
    val stride = base.agg(max($"doc_id")).head().getLong(0) + 1L
    val w = 3
    var baseKept = -1L

    multipliers.foreach { m =>
      def replicas(suffixed: Boolean) = (0 until m).map { r =>
        val text =
          if (suffixed)
            array_join(transform(TextAnalysis.tokens($"text"),
              x => concat(x, lit("x" + r))), " ")
          else $"text"
        base.select(($"doc_id" + lit(r * stride)).as("doc_id"),
          text.as("text"))
      }.reduce(_ unionByName _)

      def run(df: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val k = Dedup.passageDedup(df, "doc_id", "text", w)
          .agg(sum($"n_kept"), sum($"n_dropped")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        Staged.releaseAll()
        (sec, k.getLong(0), k.getLong(1))
      }

      val (decSec, decKept, decDropped) = run(replicas(suffixed = true))
      val (verbSec, verbKept, verbDropped) = run(replicas(suffixed = false))
      if (baseKept < 0) baseKept = verbKept
      // the correctness faces of the curve, not just wall-clock
      require(verbKept == baseKept,
        s"verbatim m=$m must keep exactly the base distinct passages: " +
          s"$verbKept != $baseKept")
      require(decKept == m * baseKept,
        s"decorrelated m=$m must keep m x base distinct passages: " +
          s"$decKept != ${m * baseKept}")
      println(f"""{"mult":$m,"docs":${nDocs * m},"window":$w,""" +
        f""""dec_sec":$decSec%.2f,"dec_kept":$decKept,"dec_dropped":$decDropped,""" +
        f""""verb_sec":$verbSec%.2f,"verb_kept":$verbKept,"verb_dropped":$verbDropped}""")
    }
    spark.stop()
  }
}
