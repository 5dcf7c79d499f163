package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Staged}

/** Scale rehearsal for connected components (VERDICT r5 item 7): the
  * round-5 CC restructure (checkpointed edge leaf, self-loop rounds,
  * verified convergence) pays an eager localCheckpoint + witness cost
  * PER ROUND — visible as the x20 toy-scale regression. This harness
  * measures that trade against graph size and diameter instead of
  * arguing it: planted chain-cluster graphs (n/L chains of length L →
  * component diameter L−1, so the loop runs ~L−1 rounds) across
  *  - a SIZE sweep (edges ×1..×10 at fixed diameter): per-round cost
  *    must scale with the edge count, round count must not;
  *  - a DIAMETER sweep (fixed edges, L ×4..×16): total time must scale
  *    with rounds (the per-round fixed overhead is the measured trade),
  *    pinned against maxIter.
  * Cluster count is asserted (= n/L) so a curve can never come from a
  * wrong answer.
  *
  * Usage: runMain graft.ScaleRehearsalCc
  */
object ScaleRehearsalCc {

  /** n/L chains over node ids 0..n-1: edges (i, i+1) except across
    * chain boundaries. Diameter of each component = L-1.
    */
  def chainGraph(spark: SparkSession, n: Long, chainLen: Int): DataFrame =
    spark.range(n).toDF("u")
      .where(col("u") % chainLen =!= (chainLen - 1))
      .select(col("u").as("id_a"), (col("u") + 1).as("id_b"))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-scale-cc")

    def measure(n: Long, chainLen: Int): Unit = {
      val pairs = chainGraph(spark, n, chainLen)
        .repartition(32).localCheckpoint() // input cost off the clock
      val t0 = System.nanoTime()
      val cc = Dedup.connectedComponents(pairs, maxIter = chainLen + 2)
      val clusters = cc.select(col("cluster_rep")).distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      val expected = n / chainLen
      assert(clusters == expected,
        s"CC wrong at n=$n L=$chainLen: $clusters clusters, want $expected")
      Staged.releaseAll()
      // free the checkpointed input blocks: Dataset.rdd builds a NEW
      // deserializing RDD, so unpersisting IT is a no-op — the blocks
      // live on the RDD inside the plan's LogicalRDD leaf (the same
      // reason Dedup.releaseLabels walks the analyzed plan)
      pairs.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
      }: Unit
      println(s"""{"nodes":$n,"chain_len":$chainLen,"edges":${n - expected},""" +
        s""""rounds_needed":${chainLen - 1},"clusters":$clusters,"sec":$sec}""")
    }

    // warm-up: JIT/codegen for the loop's join+agg shapes
    measure(10000, 4)
    println("--- size sweep (fixed diameter 9) ---")
    Seq(100000L, 200000L, 500000L, 1000000L).foreach(measure(_, 10))
    println("--- diameter sweep (fixed 1M nodes) ---")
    Seq(4, 8, 16).foreach(measure(1000000L, _))
    spark.stop()
  }
}
