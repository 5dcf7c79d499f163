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

  /** Extract → Transform → Load, as one write: the sink runs the
    * transformed frame once, so the source (for an HTTP source, every
    * page against a rate-limited API) is read once. An empty payload is a
    * valid outcome, not an error (README.md:33): the sink commits nothing
    * for it and reports 0 rows ([[GraftSink.write]]).
    */
  def run(spark: SparkSession, cfg: ConnectorConfig): Result = {
    val missing = cfg.requiredEnv.filterNot(sys.env.contains)
    require(missing.isEmpty, s"connector ${cfg.name}: missing env ${missing.mkString(",")}")
    val n = cfg.sink.write(Transforms.pipeline(cfg.stages: _*)(cfg.source(spark)))
    Result(cfg.name, n, consistent = n >= 0)
  }

  /** Full consistency verification against sink contents (V2). */
  def verify(source: DataFrame, sinkContents: DataFrame): Boolean =
    Consistency.verify(source, sinkContents)
}
