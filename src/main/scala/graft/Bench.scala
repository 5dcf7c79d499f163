package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Per-query history parsed from the previous sweep's
    * BENCH_FULL.json: that sweep's median plus the ratcheting
    * cross-sweep best at the same sf.
    */
  final case class Hist(med: Option[Double], best: Option[Double])

  /** Lenient regex parse (deliberately not a JSON lib) so a
    * hand-edited or older-schema file degrades to "no history", and a
    * history from a different sf or core count (or one that does not
    * record its cores) degrades to empty — a 2x threshold is only
    * meaningful against a sweep at the SAME scale factor on the SAME
    * number of cores.
    */
  def parseHistory(txt: String, sfDir: String, cores: Int): Map[String, Hist] = try {
    val histSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
    val histCores = """"cores":([0-9]+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    if (!histSf.contains(sfDir) || !histCores.contains(cores)) Map.empty
    else {
      def num(body: String, field: String): Option[Double] =
        ("\"" + field + "\":([-0-9.Ee]+)").r
          .findFirstMatchIn(body).map(_.group(1).toDouble)
      // entry bodies always open with "min" (timed), "name" (short-key
      // schema), or "load" (error): anchoring on that keeps the outer
      // "queries":{ wrapper — whose brace is followed by a query NAME —
      // from matching and eating the first real entry
      """"([A-Za-z0-9_]+)":\{((?:"min"|"name"|"load")[^}]*)""".r.findAllMatchIn(txt).flatMap { m =>
        val h = Hist(num(m.group(2), "med"), num(m.group(2), "best"))
        if (h.med.isEmpty && h.best.isEmpty) None else Some(m.group(1) -> h)
      }.toMap
    }
  } catch { case _: Throwable => Map.empty }

  /** The self-defense trigger: rerun when the sweep's best-of-N exceeds
    * 2x the previous sweep's median OR 2x the ratcheting cross-sweep
    * best. The second clause is the round-10 lesson: when the previous
    * sweep itself ran hot its median inflates the first threshold and
    * genuine outliers skate (x20/t05/x07 did exactly that) — the
    * historical BEST can't be inflated by a hot sweep, only lowered by
    * a good one, so it survives any run of contaminated history.
    */
  def shouldRerun(sweepMin: Double, h: Hist): Boolean =
    h.med.exists(m => m > 0 && sweepMin > 2 * m) ||
      h.best.exists(b => b > 0 && sweepMin > 2 * b)

  /** The round-11 lesson's second half: entries measured on a hot box
    * carry inflated numbers that no history threshold can catch for NEW
    * queries (no best yet) and that burn adjudication time for old
    * ones. Any entry measured above the gate gets the end-of-sweep
    * rerun regardless of history.
    *
    * r21 measurement-bug fix (documented in OPTIMIZATION_r21.md): the
    * hot signal is the entry's HYPERVISOR STEAL%% — loadavg stopped
    * being usable as the contention signal the moment the engine
    * started actually using its cores. Through r20 most heavy stages
    * ran 1-4 tasks (single-row-group scans + AQE byte-coalescing), so
    * the bench's own loadavg stayed ~2-3 and any load above cores/8
    * really was external. The r21 parallelism work (Spread) runs
    * 32-task stages, the sweep's OWN 1-min loadavg legitimately sits
    * near core count during heavy queries, and a loadavg gate stalls
    * the sweep against itself and flags its own measurements hot (the
    * r21 filtered sweep self-gated nearly every entry to its ratchet
    * number — and, in hindsight, the 9-rounds-standing "driver sweep
    * not clean at loads to 8.5" saga was the same self-load, since this
    * VM runs nothing but the driver). Steal is immune to self-load: it
    * counts only jiffies the hypervisor gave to OTHER tenants, exactly
    * the contamination the gate exists to catch (observed clean sweeps:
    * ≤ 0.6%%; contaminated sessions: 1.9-8.7%%). Loadavg is still
    * recorded per entry as evidence.
    */
  def hotMeasurement(steal: Double, gate: Double): Boolean =
    gate > 0 && steal > gate

  /** Default steal gate, in %% of the measurement window's jiffies:
    * above observed same-HEAD clean-sweep maxima (~1.0), below every
    * adjudicated-contaminated session (1.9+). Overridable via
    * SPARK_GRAFT_BENCH_STEALGATE; <= 0 disables.
    */
  def defaultStealGate: Double = 1.5

  /** The reported number for an entry: normally best of (sweep min,
    * end-of-sweep rerun). When no clean measurement exists (both were
    * taken above the steal gate, or the sweep was hot and no rerun
    * completed) the measured min is reported, flagged `hot`: the flag
    * carries the "this entry ran dirty" signal, and a historical best
    * is never reported in place of what was measured.
    *
    * Hot sweep + CLEAN rerun (the r13 q45 edge): the rerun is the only
    * clean measurement, so it is reported ALONE — a hot sweep min that
    * happens to undercut the clean rerun is still box noise and taking
    * min-of-two would report it unflagged (q45 reported a hot 0.601 s,
    * 2.09× its ratchet, over its clean 0.780 s rerun that way). The
    * mirror quadrant (clean sweep + HOT rerun) reports the sweep min
    * alone for the same reason — a hot measurement never enters a
    * clean report from either side.
    */
  def reported(sweepMin: Double, sweepSteal: Double,
      rerun: Option[(Double, Double)], gate: Double): (Double, Boolean) =
    rerun match {
      case Some((rt, rs)) =>
        val sweepHot = hotMeasurement(sweepSteal, gate)
        val rerunHot = hotMeasurement(rs, gate)
        if (sweepHot && rerunHot) (math.min(sweepMin, rt), true)
        else if (sweepHot) (rt, false)
        else if (rerunHot) (sweepMin, false)
        else (math.min(sweepMin, rt), false)
      case None => (sweepMin, hotMeasurement(sweepSteal, gate))
    }

  /** Fold this sweep's reportable best into the historical cross-sweep
    * best: the ratchet never rises, and an absent history starts at
    * this sweep's number.
    */
  def ratchet(prev: Option[Double], sweep: Option[Double]): Option[Double] =
    (prev.toSeq ++ sweep.toSeq).reduceOption((a: Double, b: Double) => math.min(a, b))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // warm up JVM/session so init cost isn't billed to the first query;
    // best-effort — a warm-up failure must not kill the whole bench
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case _: Throwable => () }
    // steady-state timing: best of N runs per query (default 3), so
    // one-off codegen compilation / page-cache effects and scheduler
    // noise aren't billed to the operator
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3))
    // optional comma-separated name filter for iterating on one query
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // NAME-SORTED, not Map order: `queries` is a HashMap whose iteration
    // order changes whenever the key SET changes, which silently
    // reshuffles which queries run early (see below) between rounds —
    // the r10/r11 "a04 doubled" mystery was exactly this
    val selected = (filter match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None => SparkEntry.queries
    }).toSeq.sortBy(_._1)
    // full materialization via toRdd: a SQL count() on top lets Catalyst
    // prune the query's own projections/windows out of the measured plan
    // (a windowed query benched ~5x too fast that way), so execute the
    // complete physical plan instead
    def run1(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).queryExecution.toRdd.count()
    // SUITE warm-up: one untimed pass over every selected query BEFORE
    // any timing. Per-run cost for short queries is dominated by
    // driver-side planning, and that path runs ~2x faster once the JIT
    // has seen a few hundred plans — measured: a04 warm floor is
    // ~0.52 s when it runs FIRST in a fresh session vs ~0.27 s after a
    // full suite pass, with identical Spark-job times (BASELINE.md,
    // round 12). One untimed pass makes every query's timing position-independent, so
    // a key-set change can never again masquerade as a regression.
    selected.foreach { case (_, fn) =>
      try { run1(fn) } catch { case _: Throwable => () }
      graft.ops.Staged.releaseAll()
    }
    // 1-minute load average at measurement time: an entry whose min is 2x
    // its cross-round floor but whose load column reads 30+ is box state,
    // not a regression — the sweep carries its own evidence now
    // hypervisor steal over each entry's measurement window, from
    // /proc/stat's cpu line (field 8 = steal jiffies): a whole session
    // uniformly 1.3-1.45x above its ratchet bests at LOW loadavg is the
    // signature of a stolen box, and the r18/r19 sweeps could only
    // infer it — recording steal% per entry makes an inflated session
    // machine-attributable instead of a judgement call
    def cpuJiffies(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } catch { case _: Throwable => (0L, 0L) }
    val steals = scala.collection.mutable.Map[String, Double]()
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }
    // hot-box gate (r11 "stop benching on a hot box", re-keyed to STEAL
    // in r21 — see hotMeasurement): before each query, wait while the
    // hypervisor is visibly stealing cycles — bounded by a GLOBAL wait
    // budget so a persistently-contended box degrades to the old
    // behavior (measure anyway, flag via the recorded steal + rerun)
    // instead of stalling the sweep.
    val gate = sys.env.get("SPARK_GRAFT_BENCH_STEALGATE")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .getOrElse(defaultStealGate)
    // instantaneous steal%% over a short window, for the pre-query wait
    def stealNow(): Double = {
      val (s0, j0) = cpuJiffies()
      Thread.sleep(200)
      val (s1, j1) = cpuJiffies()
      if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
    }
    // global quiet-wait budget (default 5 min, SPARK_GRAFT_BENCH_WAITMS
    // to override): the sweep should WAIT out a co-tenant burst rather
    // than measure through it — a persistently busy box still degrades
    // to measure-and-flag once the budget drains
    var waitBudgetMs = sys.env.get("SPARK_GRAFT_BENCH_WAITMS")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(300000L)
    def waitForQuiet(): Unit =
      while (hotMeasurement(stealNow(), gate) && waitBudgetMs > 0) {
        Thread.sleep(1500); waitBudgetMs -= 2000
      }
    // history from the previous sweep's BENCH_FULL.json (median +
    // ratcheting cross-sweep best): the self-defense reference. Entries
    // are keyed by the same short keys as the stdout line (one schema,
    // VERDICT r11 #7); full-name keys from pre-r12 files still parse,
    // so lookups try the short key first and fall back to the full name
    // (the ratchet survives the schema transition).
    val hist: Map[String, Hist] = try {
      parseHistory(scala.io.Source.fromFile("BENCH_FULL.json").mkString, sfDir,
        GraftSession.cpus)
    } catch { case _: Throwable => Map.empty }
    def short(name: String): String = name.takeWhile(_ != '_')
    val keyOf: String => String =
      if (selected.map(p => short(p._1)).toSet.size == selected.size) short
      else identity
    def histOf(name: String): Option[Hist] =
      hist.get(keyOf(name)).orElse(hist.get(name))
    // A query that throws must surface as an ERROR, never as the (tiny)
    // time-to-throw: round 9's three analysis-broken queries showed up as
    // bogus ~50 ms "timings" and flattered the total. Each entry carries
    // its successful-run times plus the first error message, if any.
    val results = selected.map { case (name, fn) =>
      waitForQuiet()
      // one untimed warm-up so codegen/JIT compilation and staged-persist
      // materialization aren't billed to the first timed run (the suite
      // pass warmed it once already, but the codegen cache holds ~100
      // entries — a 124-query sweep can evict this query's plan between
      // its suite-pass visit and its timed runs)
      try { run1(fn) } catch { case _: Throwable => () }
      // r17: load sampled BEFORE the timed runs as well as after, the
      // entry carrying the max — a co-tenant burst already visible at
      // entry but decayed by the after-sample (1-min EMA) used to slip
      // an inflated measurement past the gate unflagged (the r16 driver
      // sweep's 4 unexplained >2x entries)
      val loadBefore = loadAvg()
      val (stealBefore, jiffiesBefore) = cpuJiffies()
      var err: Option[String] = None
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { run1(fn); true } catch { case e: Throwable =>
          if (err.isEmpty)
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          false
        }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      val load = math.max(loadBefore, loadAvg())
      val (stealAfter, jiffiesAfter) = cpuJiffies()
      steals(name) =
        if (jiffiesAfter > jiffiesBefore)
          BigDecimal(100.0 * (stealAfter - stealBefore) /
            (jiffiesAfter - jiffiesBefore))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
      // unpersist this query's staged intermediates before the next query
      // runs, so the 80-query sweep doesn't accumulate block-manager state
      graft.ops.Staged.releaseAll()
      name -> (times.sorted, load, steals(name), err)
    }
    // Self-defense pass: a query whose best-of-N still exceeds 2x its
    // previous-sweep median hit either a real regression or a box-state
    // window that outlasted all N runs (r5/r7/r8 each burned a round of
    // manual adjudication on exactly this). Re-run it once, warm, at the
    // end of the sweep — minutes later, when a transient window has
    // usually passed. Both numbers are recorded; the rerun participates
    // in the reported best so a cleared outlier stops poisoning the
    // headline, while a confirmed one stays visible (rerun ~= sweep min).
    // An entry MEASURED HOT (steal above the gate) reruns unconditionally:
    // its sweep numbers are box noise by construction, history or not.
    val reruns: Map[String, (Double, Double)] = results.flatMap { case (name, (ts, _, hotSig, _)) =>
      val fire = ts.nonEmpty && (hotMeasurement(hotSig, gate) ||
        histOf(name).exists(h => shouldRerun(ts.head, h)))
      if (fire) {
        val fn = selected.collectFirst { case (n, f) if n == name => f }.get
        def onePass(): Option[(Double, Double)] = {
          waitForQuiet()
          try { run1(fn) } catch { case _: Throwable => () } // re-warm
          val (s0, j0) = cpuJiffies()
          val t0 = System.nanoTime()
          // record the rerun ONLY if it completed — a rerun that fails
          // fast would otherwise feed a bogus tiny time into best()
          val ok = try { run1(fn); true } catch { case _: Throwable => false }
          val t = (System.nanoTime() - t0) / 1e9
          // the rerun's own steal window decides whether the entry
          // stayed hot
          val (s1, j1) = cpuJiffies()
          val rs = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else 0.0
          graft.ops.Staged.releaseAll()
          if (ok) Some((t, rs)) else None
        }
        val first = onePass()
        // r17: one more attempt when the first rerun is itself suspect
        // (measured hot, failed, or still above 2x the cross-sweep
        // best) — a transient that outlives both the sweep visit and
        // the first rerun has burned adjudication rounds before; a
        // second attempt minutes later is cheap insurance. A clean
        // attempt beats a hot one; among equals the smaller time wins.
        val suspect = first.forall { case (t, rs) =>
          hotMeasurement(rs, gate) ||
            histOf(name).flatMap(_.best).exists(b => b > 0 && t > 2 * b)
        }
        val second = if (suspect) onePass() else None
        val attempts = first.toSeq ++ second.toSeq
        val clean = attempts.filterNot(p => hotMeasurement(p._2, gate))
        (if (clean.nonEmpty) clean else attempts)
          .sortBy(_._1).headOption.map(name -> _)
      } else None
    }.toMap
    // The harness keeps only the last ~2000 chars of stdout, so the
    // one-line JSON must stay short: per-query keys are the unique
    // "q01"/"x04" prefixes (fall back to full names if ever ambiguous)
    // and values are rounded to 0.1 ms. BENCH_FULL.json uses the SAME
    // keys (full name carried in a "name" field) so the two artifacts
    // cross-reference without a decoder ring.
    def fmt(v: Double): String = f"$v%.4f"
    // the reported number is best of (sweep runs ++ self-defense rerun),
    // flagged "hot" when no clean measurement exists (see `reported`): a
    // cleared box-state outlier stops poisoning the headline, a real
    // regression reproduces in the rerun and stays
    def best(k: String, ts: Seq[Double], hotSig: Double): (Double, Boolean) =
      reported(ts.head, hotSig, reruns.get(k), gate)
    // an entry with zero successful runs is an ERROR: it gets no timing
    // in "queries", is excluded from the total, and is named loudly in a
    // top-level "errors" list
    val (okResults, errResults) = results.partition { case (_, (ts, _, _, _)) => ts.nonEmpty }
    val qs = okResults.map { case (k, (ts, _, hotSig, _)) =>
      "\"" + keyOf(k) + "\":" + fmt(best(k, ts, hotSig)._1) }
      .mkString("{", ",", "}")
    // the compact line's error keys must match its "queries" keys
    // (keyOf-shortened) so a consumer can cross-reference them
    val errList = errResults.map { case (k, _) => "\"" + keyOf(k) + "\"" }.mkString("[", ",", "]")
    // BENCH_FULL.json records the per-query SPREAD (min/median/max over
    // the timed runs): a best-of number whose siblings are 5× larger is
    // external contention, not a regression — the spread is what tells
    // a reader which it was. "load" is /proc/loadavg's 1-min column at
    // measurement time (evidence only since r21 — it is dominated by
    // the sweep's own parallelism); "steal" is the entry's hypervisor
    // steal%% (the hot signal); "rerun" appears when the self-defense
    // pass fired (sweep min > 2x history, or measured above the steal
    // gate).
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qsFull = results.map { case (k, (ts, load, hotSig, err)) =>
      val rerun = reruns.get(k).map { case (rt, rs) =>
        s""","rerun":$rt,"rerun_steal":$rs""" }.getOrElse("")
      val errF = err.map(m => s""","err":${jstr(m)}""").getOrElse("")
      // "hot": no clean measurement exists — the reported number is the
      // measured min, and the min/med/max columns are box noise,
      // recorded as evidence
      val hotF = if (ts.nonEmpty && best(k, ts, hotSig)._2) ""","hot":true""" else ""
      // "best" is the ratcheting cross-sweep minimum at this sf: this
      // sweep's reportable best folded into the history's best. An
      // error entry carries the history's best forward unchanged so a
      // one-round breakage doesn't erase the regression floor; the
      // ratchet can only be LOWERED by a later sweep.
      val hb = ratchet(histOf(k).flatMap(_.best),
        if (ts.isEmpty) None else Some(best(k, ts, hotSig)._1))
      val bestF = hb.map(b => s""","best":$b""").getOrElse("")
      val stealF = steals.get(k)
        .map(s => s""","steal":$s""").getOrElse("")
      if (ts.isEmpty)
        "\"" + keyOf(k) + s"""\":{"name":${jstr(k)},"load":$load$stealF$bestF$errF}"""
      else {
        // conventional median: average the two middle elements when the
        // timed-run count is even (ts is already sorted)
        val med = if (ts.size % 2 == 1) ts(ts.size / 2)
                  else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
        "\"" + keyOf(k) + s"""\":{"name":${jstr(k)},"min":${ts.head},"med":$med,"max":${ts.last},"load":$load$stealF$hotF$bestF$rerun$errF}"""
      }
    }.mkString("{", ",", "}")
    val total = if (okResults.nonEmpty)
      okResults.map { case (k, (ts, _, hotSig, _)) => best(k, ts, hotSig)._1 }.sum else 0.0
    val errField = if (errResults.nonEmpty) s""","errors":$errList""" else ""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$errField,"sf":"$sfDir","cores":${GraftSession.cpus}}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","gate":$gate,"queries":$qsFull$errField,"sf":"$sfDir","cores":${GraftSession.cpus}}"""
    // a FILTERED run must not clobber the full-sweep median history —
    // overwriting would silently disable the self-defense pass for every
    // query outside the filter on the next full sweep
    if (filter.isEmpty) {
      try {
        val w = new java.io.PrintWriter("BENCH_FULL.json")
        try w.println(full) finally w.close()
      } catch { case _: Throwable => () } // best-effort; the stdout line is the contract
    }
    println(line)
    spark.stop()
  }
}
