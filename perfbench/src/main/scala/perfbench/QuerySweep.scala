package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.ops.{Dedup, Ivf}
import graft.queries._
import graft.sources.Tables
import graft.streaming.Streams

/** `query_sweep`: a fixed subset of the registry at sf0.1, one query at a
  * time. Each query's untimed warm-up call also writes its result (with
  * the oracle side-channel dumps on) for the DuckDB check; the timed
  * calls then run with dumps off and are fully executed, as the engine's
  * `Bench` does.
  */
object QuerySweep {
  /** One or more queries of every registry module, covering every
    * corpus operator family: exact dedup, MinHash-LSH + connected
    * components, BPE and IVF + PQ.
    */
  val Subset: Seq[(String, String)] = Seq(
    "RelationalQueries" -> "q01_pricing_summary",
    "AdvancedQueries" -> "q33_filtered_agg",
    "TemporalQueries" -> "t03_asof_join",
    "EtlQueries" -> "e01_json_parse",
    "ExtensionQueries" -> "x01_dedup_exact",
    "ExtensionQueries" -> "x20_dedup_clusters",
    "ExtensionQueries" -> "x72_bpe_tokenize",
    "AnalyticsQueries" -> "a05_sim_ivfpq_topk")

  /** Timed rounds of an untraced run; each query reports its fastest
    * call. A traced run alternates untraced and traced rounds, starting
    * and ending untraced (`TracedRounds` traced ones among
    * `2 * TracedRounds + 1`), then times the day-1 index builders.
    */
  val MinRounds = 3
  val TracedRounds = 1

  val Relational = Set("RelationalQueries", "AdvancedQueries", "TemporalQueries", "EtlQueries")
  val Modules = Seq("RelationalQueries", "AdvancedQueries", "TemporalQueries",
    "EtlQueries", "ExtensionQueries", "AnalyticsQueries")

  private def modules: Map[String, Seq[GraftQuery]] = Map(
    "RelationalQueries" -> RelationalQueries.all,
    "AdvancedQueries" -> AdvancedQueries.all,
    "TemporalQueries" -> TemporalQueries.all,
    "EtlQueries" -> EtlQueries.all,
    "ExtensionQueries" -> ExtensionQueries.all,
    "AnalyticsQueries" -> AnalyticsQueries.all)

  def run(spark: SparkSession, t: Tracer, data: String, work: String,
      seconds: Int, timing: Timing): Result = {
    val mods = modules
    val selected = Subset.map { case (m, n) =>
      val q = mods(m).find(_.name == n)
        .getOrElse(sys.error(s"query $n is not in $m"))
      (m, q)
    }
    // warm-up + check dump, untimed
    sys.props(OracleDump.prop) = "true"
    val warmup = selected.map { case (_, q) =>
      val t0 = System.nanoTime()
      q.run(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/check/queries/${q.name}")
      graft.ops.Staged.releaseAll()
      q.name -> Json.num((System.nanoTime() - t0) / 1e9)
    }
    sys.props(OracleDump.prop) = "false"
    val oracle = selected.flatMap { case (_, q) =>
      q.oracle.map(sql => q.name -> Json.str(OracleDump.substitute(sql, data)))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/check/queries/oracle_sql.json"), Json.obj(oracle))
    Heap.sample()

    val layers = ArrayBuffer.empty[Map[String, Double]]
    val plain, traced = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    timing.start()
    var k = 0
    def more = if (t.traced) k < 2 * TracedRounds + 1 else k < MinRounds
    while (more || !timing.expired(seconds)) {
      t.enabled = t.traced && k % 2 == 1
      val times = if (t.enabled) traced else plain
      t.span("queries") {
        selected.foreach { case (m, q) =>
          val t0 = System.nanoTime()
          t.span(s"queries.$m.${q.name}") {
            q.run(spark, data).queryExecution.toRdd.count()
          }
          times(q.name) = (System.nanoTime() - t0) / 1e9 :: times(q.name)
          graft.ops.Staged.releaseAll()
        }
      }
      Heap.sample()
      if (t.enabled) {
        val c = t.inclusive(t.named("queries").last)
        layers += Seq("jobs", "tasks", "job_s", "outside_jobs_s", "shuffle_bytes",
          "spill_bytes").map(n => s"queries.$n" -> c.getOrElse(n, 0.0)).toMap +
          ("functions.reregistrations" -> c.getOrElse("reregistrations", 0.0))
      }
      k += 1
    }
    t.enabled = t.traced
    // each query's fastest call, summed per phase and per module
    def best(times: mutable.Map[String, List[Double]]) =
      selected.map { case (m, q) => (m, q.name, Stats.best(times(q.name))) }
    def phases(b: Seq[(String, String, Double)]) = (
      b.filter(x => Relational(x._1)).map(_._3).sum,
      b.filterNot(x => Relational(x._1)).map(_._3).sum)
    val fastest = best(plain)
    val (rel, corp) = phases(fastest)
    val layer = if (!t.traced) Map.empty[String, Double] else {
      val tb = best(traced)
      val byModule = tb.groupMapReduce(_._1)(_._3)(_ + _)
      val (trel, tcorp) = phases(tb)
      Modules.map(m => s"queries.${m}_s" -> byModule.getOrElse(m, 0.0)).toMap ++
        Map("tracing_overhead_pct" -> 100.0 * ((trel + tcorp) / (rel + corp) - 1.0)) ++
        indexBuilds(spark, t, data, s"$work/indexes")
    }
    Result(attempted = k * selected.size, failed = 0, rounds = k,
      figures = Stats.medians(layers.toSeq) ++ layer ++ Map(
        "phase1_s" -> rel, "phase2_s" -> corp),
      detail = Seq(
        "queries" -> Json.obj(fastest.map(x => x._2 -> Json.num(x._3))),
        "calls_s" -> Json.obj(selected.map { case (_, q) =>
          q.name -> plain(q.name).reverse.map(Json.num).mkString("[", ",", "]") }),
        "warmup_s" -> Json.obj(warmup)))
  }

  /** The capstone's day-1 index build (`CurateMain.ingestDay`'s four
    * builders) on the sweep's corpus, each call in its own span, and the
    * bytes the indexes leave on disk.
    */
  private def indexBuilds(spark: SparkSession, t: Tracer, data: String,
      dir: String): Map[String, Double] = {
    val corpus = Tables(spark, data, "documents")
      .select("doc_id", "text", "lang", "source")
    val embeddings = Tables(spark, data, "embeddings").select("vec_id", "embedding")
    val builds = Seq(
      "ops.Dedup.writeLshIndex" -> (() =>
        Dedup.writeLshIndex(corpus, "doc_id", "text", s"$dir/lsh_index", threshold = 0.8)),
      "ops.Dedup.writePassageIndex" -> (() =>
        Dedup.writePassageIndex(corpus, "doc_id", "text", window = 8, s"$dir/passage_index")),
      "streaming.Streams.seedSpanIndex" -> (() =>
        Streams.seedSpanIndex(corpus, s"$dir/span_index", "doc_id", "text",
          window = 8, hashed = true)),
      "ops.Ivf.ensurePersistent" -> (() =>
        Ivf.ensurePersistent(embeddings, s"$dir/ivf_index", "vec_id", "embedding"): Unit))
    val secs = builds.map { case (name, build) =>
      t.span(name)(build())
      graft.ops.Staged.releaseAll()
      s"${name}_s" -> t.named(name).last.seconds
    }
    secs.toMap ++ Map(
      "index_build_s" -> secs.map(_._2).sum,
      "index_mb" -> DiskUsage.bytes(new java.io.File(dir)) / 1048576.0)
  }
}
