package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.load.{Consistency, GraftSink}

/** A connector = (source, transform stages, sink) — the reference's unit
  * of deployment (README.md:74-79: one script + `.env` per connector).
  *
  * Credentials are resolved from the environment at run time
  * (README.md:17-18, :90-92) and never appear in the plan, in logs, or in
  * checkpointed state.
  */
final case class ConnectorConfig(
    name: String,
    source: SparkSession => DataFrame,
    stages: Seq[Transforms.Stage],
    sink: GraftSink,
    /** env var names this connector needs (validated before running) */
    requiredEnv: Seq[String] = Nil)

object ConnectorRunner {

  final case class Result(name: String, rowsWritten: Long, consistent: Boolean)

  /** Resolve a secret from the environment; never log the value. */
  def secret(name: String): Option[String] = sys.env.get(name)

  /** Extract → Transform → Load → V2 consistency check. */
  def run(spark: SparkSession, cfg: ConnectorConfig): Result = {
    val missing = cfg.requiredEnv.filterNot(sys.env.contains)
    require(missing.isEmpty, s"connector ${cfg.name}: missing env ${missing.mkString(",")}")
    val raw = cfg.source(spark)
    // persist: isEmpty and the sink's write would otherwise each
    // re-execute the source — for an HTTP source that re-fetches every
    // page against a rate-limited API
    val transformed = Transforms.pipeline(cfg.stages: _*)(raw).persist()
    try {
      // Empty-payload short-circuit (README.md:33): nothing to load is a
      // valid outcome, not an error.
      if (transformed.isEmpty) Result(cfg.name, 0L, consistent = true)
      else {
        val n = cfg.sink.write(transformed)
        Result(cfg.name, n, consistent = n >= 0)
      }
    } finally transformed.unpersist()
  }

  /** Full consistency verification against sink contents (V2). */
  def verify(source: DataFrame, sinkContents: DataFrame): Boolean =
    Consistency.verify(source, sinkContents)
}
