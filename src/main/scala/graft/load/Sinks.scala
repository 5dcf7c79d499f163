package graft.load

import java.io.{File, IOException}
import java.nio.file.FileAlreadyExistsException

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's Load stage (README.md:24, :27-29): insert transformed
  * documents into a named collection, with idempotent re-load (L2) and a
  * post-write consistency check (V2, README.md:34).
  *
  * In production this would be `df.write.format("mongodb")` (one
  * collection per connector); offline, the sink abstraction writes
  * parquet so the rest of the pipeline is identical.
  */
trait GraftSink {
  /** Loads one batch and returns the number of rows it wrote. `df` is
    * run once. An empty batch is a valid load that commits nothing: the
    * collection is left exactly as it was (a missing one is not
    * created), and the result is 0.
    */
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

/** The sinks' crash-safe commits. A load is written into a staging
  * directory beside the collection at `path`; the staging write's
  * `_SUCCESS` marker is its commit point, and only a load that wrote
  * rows is committed:
  *  - [[replace]] stages into `<path>.staging`, then renames
  *    `path -> <path>.old` and `.staging -> path`, and deletes `.old`;
  *  - [[append]] stages into `<path>.append`, then moves its data files
  *    into `path` one by one and deletes `.append`.
  * `path` is never rewritten in place. Every commit first runs
  * [[recover]], which finishes or undoes a commit that a crash cut
  * short. The two staging names keep a crashed swap and a crashed
  * append apart.
  */
private[load] object StagedCommit {

  /** Replaces the collection at `path` by what `stage(dir)` writes into
    * `dir`, when it reports more than 0 rows; returns that count.
    */
  def replace(path: String)(stage: String => Long): Long = {
    val live = new File(path)
    val staging = new File(path + ".staging")
    val old = new File(path + ".old")
    recover(path)
    val n = stage(staging.getPath)
    if (n > 0) {
      if (live.exists()) rename(live, old)
      rename(staging, live)
    }
    deleteRecursively(staging)
    deleteRecursively(old)
    n
  }

  /** Adds the files `stage(dir)` writes into `dir` to the collection at
    * `path`, when it reports more than 0 rows; returns that count.
    */
  def append(path: String)(stage: String => Long): Long = {
    val staging = new File(path + ".append")
    recover(path)
    val n = stage(staging.getPath)
    if (n > 0) moveFiles(staging, new File(path))
    deleteRecursively(staging)
    n
  }

  /** Brings `path` to a committed state after a crash at any point of
    * either commit:
    *  - `path` present: a `.staging`, complete or not, is a load whose
    *    swap never began (its call never returned), and an `.old` is the
    *    previous collection of a finished swap; both are deleted;
    *  - `path` missing, `.staging` complete: the crash came between the
    *    two renames, or before a first load's only rename; roll forward
    *    by renaming `.staging` to `path`, then delete any `.old`;
    *  - `path` missing, `.staging` incomplete or absent, `.old` present:
    *    roll back by renaming `.old` to `path`;
    *  - `.append` complete: roll forward by moving its remaining files
    *    (a moved file is gone from `.append`, so this is idempotent);
    *    `.append` incomplete: delete it.
    * Without this, a crash between the renames would make the next load
    * see no collection and keep only its own batch.
    */
  private def recover(path: String): Unit = {
    val live = new File(path)
    val staging = new File(path + ".staging")
    val old = new File(path + ".old")
    if (!live.exists()) {
      if (committed(staging)) rename(staging, live)
      else if (old.exists()) rename(old, live)
    }
    deleteRecursively(staging)
    deleteRecursively(old)
    val appending = new File(path + ".append")
    if (committed(appending)) moveFiles(appending, live)
    deleteRecursively(appending)
  }

  private def committed(staging: File): Boolean = new File(staging, "_SUCCESS").exists()

  /** Moves every file of `from` but its `_SUCCESS` marker into `to`. */
  private def moveFiles(from: File, to: File): Unit = {
    if (!to.isDirectory && !to.mkdirs()) throw new IOException(s"sink: cannot create $to")
    Option(from.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName != "_SUCCESS" && f.getName != "._SUCCESS.crc")
      .foreach(f => rename(f, new File(to, f.getName)))
  }

  private def rename(from: File, to: File): Unit =
    if (!from.renameTo(to)) throw new IOException(s"sink: cannot rename $from to $to")

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
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
  *
  * A load is one Spark action: one write into a staging directory, whose
  * row count rides the write as an [[Observation]]. That count decides
  * the commit ([[StagedCommit]]): a load of 0 rows deletes its staging
  * directory and leaves `path` as it was. `Append` moves the staged data
  * files into `path`; `Overwrite` swaps the staged directory in. For an
  * existing `path`, `ErrorIfExists` throws and `Ignore` writes nothing,
  * as in Spark; for a missing one, both load like `Overwrite`.
  */
final case class FormatSink(path: String, format: String,
    mode: SaveMode = SaveMode.Append,
    options: Map[String, String] = Map.empty) extends GraftSink {
  def write(df: DataFrame): Long = {
    def stage(dir: String): Long =
      GraftSink.countingWrite(df)(_.write.options(options).format(format).save(dir))
    mode match {
      case SaveMode.Append => StagedCommit.append(path)(stage)
      case SaveMode.Overwrite => StagedCommit.replace(path)(stage)
      case _ => StagedCommit.replace(path) { dir =>
        if (!new File(path).exists()) stage(dir)
        else if (mode == SaveMode.Ignore) 0L
        else throw new FileAlreadyExistsException(path, null, s"$mode: $path already exists")
      }
    }
  }
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
  * The merge reads the batch twice (its keys for the broadcast, its rows
  * for the union), so the sink persists the batch unless the caller
  * already has. An emptiness probe on the persisted batch fills the cache
  * both reads use, and an empty batch stops there: it never rewrites the
  * collection. A non-empty one commits through [[StagedCommit.replace]]'s
  * crash-safe directory swap.
  */
final case class UpsertParquetSink(path: String, keys: Seq[String])
    extends GraftSink {
  def write(incoming: DataFrame): Long = {
    val owned = incoming.storageLevel == StorageLevel.NONE
    val batch = if (owned) incoming.persist() else incoming
    try StagedCommit.replace(path) { staging =>
      if (batch.isEmpty) 0L
      else {
        val merged =
          if (!new File(path).exists()) batch
          else batch.sparkSession.read.parquet(path)
            .join(broadcast(batch.select(keys.map(batch.col): _*)), keys, "left_anti")
            .unionByName(batch)
        GraftSink.countingWrite(merged)(_.write.parquet(staging))
      }
    } finally if (owned) batch.unpersist(): Unit
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
