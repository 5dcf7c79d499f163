package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-defense reference: history parsing and the rerun
  * trigger. The round-10 failure mode this pins: a previous sweep that
  * ran HOT inflates the 2x-of-median threshold, so a query 2x above
  * its historical best skated without a rerun — the ratcheting `best`
  * field closes that hole because a hot sweep can never raise it.
  */
class BenchHistorySpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"
  private val cores = 4

  private def full(entries: String, sfDir: String = sf,
      histCores: Option[Int] = Some(cores)): String = {
    val coresF = histCores.map(c => s""","cores":$c""").getOrElse("")
    s"""{"metric":"total","value":1.0,"unit":"sec","queries":{$entries},"sf":"$sfDir"$coresF}"""
  }

  test("parseHistory reads med and best per query") {
    val txt = full(
      """"q01_a":{"min":0.10,"med":0.12,"max":0.30,"load":1.5,"best":0.08},""" +
        """"x20_b":{"min":2.95,"med":4.03,"max":4.97,"load":4.97}""")
    val h = Bench.parseHistory(txt, sf, cores)
    assert(h("q01_a") === Bench.Hist(Some(0.12), Some(0.08)))
    assert(h("x20_b") === Bench.Hist(Some(4.03), None))
  }

  test("history from a different sf degrades to empty") {
    val txt = full(""""q01_a":{"min":0.1,"med":0.2,"max":0.3,"load":1.0}""",
      sfDir = "/root/testdata/sf0.01")
    assert(Bench.parseHistory(txt, sf, cores).isEmpty)
  }

  test("history from a different core count degrades to empty") {
    val txt = full(""""q01_a":{"min":0.1,"med":0.2,"max":0.3,"load":1.0,"best":0.1}""",
      histCores = Some(32))
    assert(Bench.parseHistory(txt, sf, cores).isEmpty)
  }

  test("history that does not record its cores degrades to empty") {
    val txt = full(""""q01_a":{"min":0.1,"med":0.2,"max":0.3,"load":1.0,"best":0.1}""",
      histCores = None)
    assert(Bench.parseHistory(txt, sf, cores).isEmpty)
  }

  test("garbage input degrades to empty, never throws") {
    assert(Bench.parseHistory("not json at all", sf, cores).isEmpty)
    assert(Bench.parseHistory("", sf, cores).isEmpty)
  }

  test("an error entry still contributes its carried-forward best") {
    val txt = full(""""q09_c":{"load":2.0,"best":0.4,"err":"boom {brace}"}""")
    assert(Bench.parseHistory(txt, sf, cores)("q09_c") === Bench.Hist(None, Some(0.4)))
  }

  test("rerun fires on 2x the previous sweep's median (the original gate)") {
    val h = Bench.Hist(med = Some(1.0), best = None)
    assert(Bench.shouldRerun(2.1, h))
    assert(!Bench.shouldRerun(1.9, h))
  }

  test("THE round-10 hole: hot previous sweep masks a real regression " +
    "without the ratchet, catches it with one") {
    // previous sweep ran hot: median 2.0 (real class is ~0.7). A query
    // now at 1.5 is >2x its historical best but <2x the inflated median.
    val noRatchet = Bench.Hist(med = Some(2.0), best = None)
    assert(!Bench.shouldRerun(1.5, noRatchet),
      "precondition: the median-only gate misses it")
    val ratcheted = Bench.Hist(med = Some(2.0), best = Some(0.7))
    assert(Bench.shouldRerun(1.5, ratcheted),
      "the cross-sweep best fires the rerun even under a hot history")
  }

  test("rerun does not fire at or below 2x the historical best") {
    val h = Bench.Hist(med = Some(2.0), best = Some(0.7))
    assert(!Bench.shouldRerun(1.39, h))
  }

  test("non-positive history values never fire (degenerate/hand-edited file)") {
    assert(!Bench.shouldRerun(5.0, Bench.Hist(Some(0.0), Some(-1.0))))
  }

  test("short-key schema (r12+): entries opening with \"name\" parse, " +
    "keyed by the short key") {
    val txt = full(
      """"q01":{"name":"q01_pricing_summary","min":0.10,"med":0.12,"max":0.30,"load":1.5,"best":0.08},""" +
        """"x20":{"name":"x20_dedup_clusters","load":2.0,"best":0.4,"err":"boom"}""")
    val h = Bench.parseHistory(txt, sf, cores)
    assert(h("q01") === Bench.Hist(Some(0.12), Some(0.08)))
    assert(h("x20") === Bench.Hist(None, Some(0.4)))
  }

  test("steal gate: an entry measured above the gate is a hot measurement; " +
    "a non-positive gate disables") {
    assert(Bench.hotMeasurement(8.1, 8.0))
    assert(!Bench.hotMeasurement(7.9, 8.0))
    assert(!Bench.hotMeasurement(100.0, 0.0))
    assert(!Bench.hotMeasurement(100.0, -1.0))
  }

  test("default steal gate sits between clean-sweep maxima and " +
    "adjudicated-contaminated sessions") {
    assert(Bench.defaultStealGate > 1.0)  // clean sweeps measured <= ~1.0
    assert(Bench.defaultStealGate < 1.9)  // contaminated sessions >= 1.9
  }

  test("reported: hot entries keep their measured min, flagged") {
    // sweep hot AND rerun hot → no clean measurement exists; report the
    // measured min with hot=true, never a historical best in its place
    assert(Bench.reported(2.0, 9.0, Some((1.9, 9.5)), 4.0) === ((1.9, true)))
    assert(Bench.reported(0.5, 9.0, Some((0.6, 9.5)), 4.0) === ((0.5, true)))
    // sweep hot but the rerun ran clean → the rerun is a real number
    assert(Bench.reported(2.0, 9.0, Some((0.95, 2.0)), 4.0) === ((0.95, false)))
    // THE r13 q45 edge: hot sweep min UNDERCUTS the clean-but-slower
    // rerun — the rerun is the only clean measurement and must be
    // reported alone; min-of-two would print the hot 0.601 unflagged
    assert(Bench.reported(0.601, 4.63, Some((0.780, 2.42)), 4.0)
      === ((0.780, false)))
    // the MIRROR quadrant (r14): clean sweep + HOT rerun that undercuts
    // it — the hot rerun is box noise and must not enter the report
    assert(Bench.reported(0.780, 2.0, Some((0.601, 9.0)), 4.0)
      === ((0.780, false)))
    // no rerun fired, sweep clean → plain sweep min, never flagged
    assert(Bench.reported(1.0, 2.0, None, 4.0) === ((1.0, false)))
    // no rerun COMPLETED but the sweep was hot → the measured min, flagged
    assert(Bench.reported(2.0, 9.0, None, 4.0) === ((2.0, true)))
    // gate disabled (<= 0) → hotMeasurement is always false
    assert(Bench.reported(2.0, 9.0, Some((1.9, 9.5)), 0.0) === ((1.9, false)))
  }

  test("ratchet keeps the cross-sweep minimum and never rises") {
    assert(Bench.ratchet(Some(0.5), Some(0.8)) === Some(0.5))
    assert(Bench.ratchet(Some(0.8), Some(0.5)) === Some(0.5))
    assert(Bench.ratchet(None, Some(0.5)) === Some(0.5))
    assert(Bench.ratchet(Some(0.5), None) === Some(0.5))
    assert(Bench.ratchet(None, None) === None)
  }
}
