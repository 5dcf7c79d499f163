package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curriculum, Layout, Sharding, TextAnalysis}
import graft.sources.Tables

/** Scale rehearsal for the capstone's EXPORT stage (CurateMain stage
  * 9): replicate sf0.1 documents K× under fresh ids, derive the
  * curriculum order and a quality score, then measure the two
  * loader-facing writes —
  *
  *  - `Sharding.writeShards(..., orderCol = seq)`: hash membership +
  *    within-shard curriculum sort. Shard count scales with K (fixed
  *    target shard size — the 100 TB knob), so the per-shard sort is
  *    constant work and the wall clock should grow ~linearly in rows.
  *  - `Layout.zorderWrite` on (source index, quality bucket): one range
  *    shuffle, file count scaled with data.
  *
  * What must hold at 100 TB: both writes are ONE shuffle each over the
  * final kept set (the pipeline's smallest frame); neither cost grows
  * super-linearly, and the curriculum join adds one broadcast-sized
  * (O(#sources)) closed-form projection, no extra shuffle beyond the
  * interleave's own rank.
  *
  * Usage: runMain graft.ScaleRehearsalExport [multipliers...] (default 1 2 5)
  */
object ScaleRehearsalExport {

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-export")
    import spark.implicits._

    val base = Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"source")

    multipliers.foreach { k =>
      val lift = 10000000L
      val data = (0 until k).map(i => base.select(
          ($"doc_id" + lift * i).as("doc_id"), $"text", $"source"))
        .reduce(_ unionByName _)
        .withColumn("quality", TextAnalysis.qualityScore($"text"))
        .localCheckpoint()
      val rows = data.count()
      val seqd = Curriculum.interleave(data, "doc_id", "source",
        Map.empty[String, Int])
      val curated = data
        .join(seqd.select($"doc_id", $"seq"), Seq("doc_id"))
        .localCheckpoint()
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val nShards = 16 * k // fixed target shard size
      val tS = time(Sharding.writeShards(curated, "doc_id", nShards,
        s"/tmp/graft-export-shards-${k}x", orderCol = Some("seq")))
      val srcs = curated.select($"source").distinct()
        .orderBy($"source").as[String].collect()
      val srcIdx = map(srcs.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i))
      }: _*)
      val zBits = math.max(4,
        32 - Integer.numberOfLeadingZeros(math.max(1, srcs.length - 1)))
      val lim = 1 << zBits
      val tZ = time(Layout.zorderWrite(
        curated.withColumn("src_idx", element_at(srcIdx, $"source").cast("long"))
          .withColumn("q_bucket",
            least(floor($"quality" * lim), lit(lim - 1)).cast("long")),
        "src_idx", "q_bucket", s"/tmp/graft-export-z-${k}x",
        numFiles = nShards, bits = zBits))
      println(f"k=$k%2d rows=$rows%9d shards=$nShards%3d | " +
        f"shard_write=$tS%6.2fs zorder_write=$tZ%6.2fs")
    }
    spark.stop()
  }
}
