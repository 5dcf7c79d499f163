package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Scans stay fully declarative (`spark.read.parquet`) so Catalyst keeps
  * predicate pushdown / column pruning / partition coalescing — at 100 TB
  * these would be partitioned+bucketed catalog tables, but the read
  * surface is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has drifted across fixture generations: parquet
    // TIMESTAMP(NANOS) (read as long, truncated to µs — exactly DuckDB's
    // ns→µs cast) and µs-precision TIMESTAMP_NTZ (cast to TimestampType;
    // the session TZ is pinned UTC so the cast is value-preserving and
    // functions like unix_micros that reject NTZ keep working). Either
    // way every downstream consumer sees a canonical `ts: TimestampType`.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    canonicalTs(spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Normalize the drift-prone `ts` column to `TimestampType`, whatever
    * layout the fixture generation wrote. Shared by the batch loader and
    * the streaming specs (which must read the same file with an explicit
    * schema) so both faces canonicalize identically.
    */
  def canonicalTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                      => df
    }

  /** On-disk schema of a fixture table — what `readStream` (which requires
    * an explicit schema) must declare before [[canonicalTs]] normalizes it.
    */
  def rawSchema(spark: SparkSession, dir: String, name: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet").schema
  }

  /** Register every table as a temp view (SQL entry point, SURVEY §7.7). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
