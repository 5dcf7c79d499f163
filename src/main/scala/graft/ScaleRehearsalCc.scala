package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Scale rehearsal for connected components (VERDICT r5 item 7): the
  * one CC loop ([[Dedup.connectedComponents]], primitive-long pair RDDs
  * with pointer jumping — string ids ride the same loop after a dense
  * encoding) pays a fixed scheduling + witness cost PER ROUND. This
  * harness measures that trade against graph size and diameter instead
  * of arguing it: planted chain-cluster graphs (n/L chains of length L
  * → component diameter L−1) across
  *  - a SIZE sweep (edges ×1..×10 at fixed diameter): per-round cost
  *    must scale with the edge count, round count must not;
  *  - a DIAMETER sweep (fixed edges, L ×4..×16): total time must scale
  *    with rounds, O(log L) under pointer jumping, pinned against
  *    maxIter.
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

  def main(args: Array[String]): Unit = Rehearsal.run("graft-scale-cc") { spark =>
    def measure(n: Long, chainLen: Int): Unit = {
      val pairs = chainGraph(spark, n, chainLen)
        .repartition(32).localCheckpoint() // input cost off the clock
      val (sec, clusters) = Rehearsal.timed {
        Dedup.connectedComponents(pairs, maxIter = chainLen + 2)
          .select(col("cluster_rep")).distinct().count()
      }
      val expected = n / chainLen
      assert(clusters == expected,
        s"CC wrong at n=$n L=$chainLen: $clusters clusters, want $expected")
      // free the checkpointed input blocks: Dataset.rdd builds a NEW
      // deserializing RDD, so unpersisting IT is a no-op — the blocks
      // live on the RDD inside the plan's LogicalRDD leaf
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
  }
}
