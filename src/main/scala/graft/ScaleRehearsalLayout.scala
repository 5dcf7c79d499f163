package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout
import graft.sources.Tables

/** Scale rehearsal for the z-order clustered layout: replicate sf0.1
  * lineitem K×, write the same data z-ordered on (l_partkey%256,
  * l_suppkey%256) and linearly sorted on the first dimension alone,
  * and measure the row groups a stats-aware reader must touch for a
  * conjunctive 1/16-of-domain box predicate — straight from the
  * parquet footers, so the number is reader-independent.
  *
  * What must hold at 100 TB: the touched FRACTION is a property of the
  * curve geometry, not the row count — z-order's fraction stays at
  * ~box selectivity while linear's stays at the a-slice width — so the
  * box-scan cost stays proportional to result size as the corpus (and
  * file count) grows. The write cost is one range shuffle either way:
  * z-order's clustering is free relative to the sort the linear
  * layout already pays.
  *
  * Usage: runMain graft.ScaleRehearsalLayout [multipliers...] (default 1 2 5)
  */
object ScaleRehearsalLayout {

  def main(args: Array[String]): Unit = {
    val multipliers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-scale-layout")

    val base = Tables(spark, sfDir, "lineitem")
      .select((col("l_partkey") % 256).cast("long").as("a"),
        (col("l_suppkey") % 256).cast("long").as("b"),
        col("l_orderkey"), col("l_quantity"))
    val box = ((0L, 63L), (0L, 63L)) // 1/16 of the 256×256 key domain

    multipliers.foreach { k =>
      val data = (0 until k).map(_ => base).reduce(_ unionByName _)
      val rows = data.count()
      val files = 16 * k // fixed target file size: files grow with data
      val zPath = s"/tmp/graft-layout-z-${k}x"
      val lPath = s"/tmp/graft-layout-linear-${k}x"

      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val tZ = time(Layout.zorderWrite(data, "a", "b", zPath, files))
      val tL = time(data.repartitionByRange(files, col("a"))
        .sortWithinPartitions("a").write.mode("overwrite").parquet(lPath))

      val (zT, zN) = Layout.rowGroupsTouched(spark, zPath, "a", box._1, "b", box._2)
      val (lT, lN) = Layout.rowGroupsTouched(spark, lPath, "a", box._1, "b", box._2)
      println(f"k=$k%2d rows=$rows%9d files=$files%3d | " +
        f"zorder: write=$tZ%6.2fs touched=$zT%3d/$zN%3d (${100.0 * zT / zN}%5.1f%%) | " +
        f"linear: write=$tL%6.2fs touched=$lT%3d/$lN%3d (${100.0 * lT / lN}%5.1f%%)")
    }
    spark.stop()
  }
}
