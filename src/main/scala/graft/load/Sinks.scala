package graft.load

import java.io.{File, IOException}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

/** The reference's Load stage (README.md:24, :27-29): insert transformed
  * documents into a named collection, with idempotent re-load (L2) and a
  * post-write consistency check (V2, README.md:34).
  *
  * In production this would be `df.write.format("mongodb")` (one
  * collection per connector); offline, the sink abstraction writes
  * parquet so the rest of the pipeline is identical.
  */
trait GraftSink {
  /** Write a batch; returns the number of rows written. */
  def write(df: DataFrame): Long
}

object GraftSink {
  /** Runs `save` on `df` and returns the rows it wrote, counted by an
    * [[Observation]] on the write itself rather than by a second action
    * over the same frame.
    */
  def countingWrite(df: DataFrame)(save: DataFrame => Unit): Long = {
    val obs = Observation()
    save(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }
}

/** Append/overwrite a parquet "collection" ([[FormatSink]] fixed to
  * parquet — kept as the named default sink of the load stage).
  */
final case class ParquetSink(path: String, mode: SaveMode = SaveMode.Append)
    extends GraftSink {
  def write(df: DataFrame): Long = FormatSink(path, "parquet", mode).write(df)
}

/** [[ParquetSink]]'s contract in any Spark file format — `format` is
  * the DataSource name ("orc", "csv", "json", "parquet"). ORC is the
  * case that matters for 100 TB parity: columnar, splittable, and —
  * like parquet — predicate pushdown and column pruning reach the scan
  * (SinksSpec pins PushedFilters + pruned ReadSchema on the
  * read-back), so a warehouse standardized on ORC keeps the scan
  * behavior every plan spec in this repo asserts for parquet. The
  * row-based formats (csv/json) ride the same code path for
  * interchange use; they trade the columnar properties away.
  */
final case class FormatSink(path: String, format: String,
    mode: SaveMode = SaveMode.Append,
    options: Map[String, String] = Map.empty) extends GraftSink {
  def write(df: DataFrame): Long =
    GraftSink.countingWrite(df)(_.write.mode(mode).options(options).format(format).save(path))
}

/** L2 — idempotent keyed upsert: incoming rows win over existing rows
  * with the same key; re-running the same load leaves the collection
  * unchanged. The anti-join touches only the key column of the incoming
  * side, so at scale the build side stays small enough to broadcast; a
  * left-anti join keeps the same rows whether or not build-side keys
  * repeat, so the keys are not de-duplicated (which would shuffle).
  *
  * Cost: one write of the merged collection, whose row count rides that
  * write as an [[Observation]]. Every load rewrites the whole collection;
  * rewriting only the files whose keys overlap the batch (file-level
  * copy-on-write) would need a per-file key index, which the sink does
  * not keep.
  *
  * Commit protocol. The merged collection is written to
  * `<path>.staging`, whose parquet `_SUCCESS` marker is the commit
  * point; then `rename(path -> path.old)`, `rename(staging -> path)`,
  * delete `.old`. `path` is never rewritten in place, and `.old` only
  * exists once the staging write has committed. Every write first
  * recovers from a crash at any of these points:
  *  - `path` present: a `.staging`, complete or not, is a load whose
  *    swap never began (its call never returned), and an `.old` is the
  *    previous collection of a finished swap; both are deleted;
  *  - `path` missing, `.staging` complete: the crash came between the
  *    two renames, or before a first load's only rename; roll forward by
  *    renaming `.staging` to `path`, then delete any `.old`;
  *  - `path` missing, `.staging` incomplete or absent, `.old` present:
  *    roll back by renaming `.old` to `path`.
  * Without this, a crash between the renames would make the next load
  * see no collection and keep only its own batch.
  */
final case class UpsertParquetSink(path: String, keys: Seq[String])
    extends GraftSink {
  def write(incoming: DataFrame): Long = {
    val live = new File(path)
    val staging = new File(path + ".staging")
    val old = new File(path + ".old")
    recover(live, staging, old)
    val exists = live.exists()
    val merged =
      if (!exists) incoming
      else incoming.sparkSession.read.parquet(path)
        .join(broadcast(incoming.select(keys.map(incoming.col): _*)), keys, "left_anti")
        .unionByName(incoming)
    val n = GraftSink.countingWrite(merged)(_.write.parquet(staging.getPath))
    if (exists) rename(live, old)
    rename(staging, live)
    deleteRecursively(old)
    n
  }

  private def recover(live: File, staging: File, old: File): Unit = {
    if (!live.exists()) {
      if (new File(staging, "_SUCCESS").exists()) rename(staging, live)
      else if (old.exists()) rename(old, live)
    }
    deleteRecursively(staging)
    deleteRecursively(old)
  }

  private def rename(from: File, to: File): Unit =
    if (!from.renameTo(to)) throw new IOException(s"upsert: cannot rename $from to $to")

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}

/** V2 — insertion-consistency check (README.md:34): count + two
  * order-independent content checksums over per-row xxhash64 — XOR and
  * exact decimal SUM. XOR alone is blind to even-multiplicity changes
  * ({A,A} vs {B,B} both xor to 0); the sum breaks that symmetry, so the
  * triple detects any multiset difference short of an engineered hash
  * collision.
  */
object Consistency {
  final case class Check(rows: Long, xor: Long, sum: BigDecimal)

  def of(df: DataFrame): Check = {
    val hashed = df.select(xxhash64(df.columns.map(df.col): _*).as("h"))
    val row = hashed.agg(count(lit(1)).as("n"),
      // bit_xor and decimal sum are order- and partitioning-independent
      coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
        .as("s")).head()
    Check(row.getLong(0), row.getLong(1), BigDecimal(row.getDecimal(2)))
  }

  /** True iff the sink contains exactly the rows of `source`. */
  def verify(source: DataFrame, sinkContents: DataFrame): Boolean =
    of(source) == of(sinkContents.select(source.columns.map(sinkContents.col): _*))
}
