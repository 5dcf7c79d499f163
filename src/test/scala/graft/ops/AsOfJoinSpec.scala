package graft.ops

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("as-of join picks the most recent right row at-or-before") {
    val trades = Seq(
      (1L, "A", ts(1)), (2L, "A", ts(5)), (3L, "A", ts(9)),
      (4L, "B", ts(3)), (5L, "B", ts(4))
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(0), 100L), ("A", ts(5), 105L), ("A", ts(8), 108L),
      ("B", ts(4), 200L)
    ).toDF("sym", "ts", "px")

    val out = AsOfJoin(trades, quotes, "ts", Seq("sym"), Seq("px"))
      .select($"trade_id", $"asof_px").as[(Long, Option[Long])]
      .collect().toMap

    assert(out(1L).contains(100L)) // only the ts(0) quote precedes
    assert(out(2L).contains(105L)) // equal timestamp matches
    assert(out(3L).contains(108L))
    assert(out(4L).isEmpty)        // no quote at-or-before ts(3)
    assert(out(5L).contains(200L))
  }

  test("as-of join preserves left row count (no multiplication)") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val out = AsOfJoin(ev.select($"event_id", $"user_id", $"ts"), errors,
      "ts", Seq("user_id"), Seq("err_id"))
    assert(out.count() == ev.count())
  }

  test("sortMerge (custom Catalyst operator) matches the tiny oracle") {
    val trades = Seq(
      (1L, "A", ts(1)), (2L, "A", ts(5)), (3L, "A", ts(9)),
      (4L, "B", ts(3)), (5L, "B", ts(4))
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(0), 100L), ("A", ts(5), 105L), ("A", ts(8), 108L),
      ("B", ts(4), 200L)
    ).toDF("sym", "ts", "px")

    val out = AsOfJoin.sortMerge(trades, quotes, "ts", Seq("sym"), Seq("px"))
      .select($"trade_id", $"asof_px").as[(Long, Option[Long])]
      .collect().toMap

    assert(out(1L).contains(100L))
    assert(out(2L).contains(105L)) // equal timestamp matches
    assert(out(3L).contains(108L))
    assert(out(4L).isEmpty)
    assert(out(5L).contains(200L))
  }

  test("sortMerge and union+window agree on real data (self as-of join)") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val probe = ev.select($"event_id", $"user_id", $"ts")
    val a = AsOfJoin(probe, errors, "ts", Seq("user_id"), Seq("err_id"))
      .select($"event_id", $"user_id", $"ts", $"asof_err_id")
    val b = AsOfJoin.sortMerge(probe, errors, "ts", Seq("user_id"), Seq("err_id"))
    assert(b.columns.toSeq == Seq("event_id", "user_id", "ts", "asof_err_id"))
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "custom operator must reproduce the window formulation exactly")
  }

  test("sortMerge plans as AsOfJoinExec with one shuffle+sort per side") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = graft.sources.Tables(spark, sf, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id".as("err_id"))
    val out = AsOfJoin.sortMerge(ev.select($"event_id", $"user_id", $"ts"),
      errors, "ts", Seq("user_id"), Seq("err_id"))
    out.collect() // finalize AQE
    val plan = out.queryExecution.executedPlan
    val asof = collect(plan) { case e: graft.plans.AsOfJoinExec => e }
    assert(asof.size == 1, s"expected AsOfJoinExec in:\n$plan")
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"expected ≤2 shuffles, got ${shuffles.size}")
  }

  test("sortMerge tolerance nulls out matches older than the lookback") {
    val trades = Seq(
      (1L, "A", ts(1)), (2L, "A", ts(5)), (3L, "A", ts(20))
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(("A", ts(0), 100L), ("A", ts(5), 105L))
      .toDF("sym", "ts", "px")
    val out = AsOfJoin.sortMerge(trades, quotes, "ts", Seq("sym"), Seq("px"),
      tolerance = Some(java.time.Duration.ofMinutes(4)))
      .select($"trade_id", $"asof_px").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(100L)) // 1 min back: within tolerance
    assert(out(2L).contains(105L)) // exact-time match: zero age
    assert(out(3L).isEmpty, "15-minute-old quote must not match")
  }

  test("sortMerge forward matches the earliest at-or-after right row") {
    val trades = Seq(
      (1L, "A", ts(1)), (2L, "A", ts(5)), (3L, "A", ts(9)),
      (4L, "B", ts(3)), (5L, "B", ts(5))
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(0), 100L), ("A", ts(5), 105L), ("A", ts(8), 108L),
      ("B", ts(4), 200L)
    ).toDF("sym", "ts", "px")
    val out = AsOfJoin.sortMerge(trades, quotes, "ts", Seq("sym"), Seq("px"),
      forward = true)
      .select($"trade_id", $"asof_px").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(105L)) // next quote after ts(1)
    assert(out(2L).contains(105L)) // exact-time match
    assert(out(3L).isEmpty, "no quote at-or-after ts(9)")
    assert(out(4L).contains(200L))
    assert(out(5L).isEmpty)
    // forward + tolerance: the ts(5) quote is 4 min ahead of trade 1
    val tight = AsOfJoin.sortMerge(trades, quotes, "ts", Seq("sym"), Seq("px"),
      tolerance = Some(java.time.Duration.ofMinutes(3)), forward = true)
      .select($"trade_id", $"asof_px").as[(Long, Option[Long])]
      .collect().toMap
    assert(tight(1L).isEmpty, "4-minute lookahead exceeds 3-minute tolerance")
    assert(tight(2L).contains(105L))
  }

  test("sortMerge ≡ union+window on randomized data (ties, nulls, skew)") {
    // differential property test: the custom physical operator must
    // agree with the built-ins formulation on adversarial inputs —
    // duplicate timestamps on both sides, keys with no right rows, keys
    // with no left rows, null payloads, heavy per-key skew
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 3) {
      val nKeys = 1 + round * 3
      val left = (1 to 400).map { i =>
        (i.toLong, rnd.nextInt(nKeys).toLong, ts(rnd.nextInt(50)))
      }.toDF("l_id", "k", "ts")
      val right = (1 to 300).map { i =>
        (rnd.nextInt(nKeys + 2).toLong, ts(rnd.nextInt(50)),
          if (rnd.nextInt(5) == 0) null
          else s"p${rnd.nextInt(10)}")
      }.toDF("k", "ts", "payload")

      val a = AsOfJoin(left, right, "ts", Seq("k"), Seq("payload"))
        .select($"l_id", $"k", $"ts", $"asof_payload")
      val b = AsOfJoin.sortMerge(left, right, "ts", Seq("k"), Seq("payload"))
        .select($"l_id", $"k", $"ts", $"asof_payload")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"round $round: formulations diverge")
      assert(b.count() == 400, s"round $round: left rows must be preserved")

      // same adversarial data with STRING keys: long keys take the
      // fixed-width ordinal merge, string keys the generic
      // projection+ordering merge — both must agree with the built-ins
      val leftS = left.withColumn("k", concat(lit("k"), $"k"))
      val rightS = right.withColumn("k", concat(lit("k"), $"k"))
      val aS = AsOfJoin(leftS, rightS, "ts", Seq("k"), Seq("payload"))
        .select($"l_id", $"k", $"ts", $"asof_payload")
      val bS = AsOfJoin.sortMerge(leftS, rightS, "ts", Seq("k"), Seq("payload"))
        .select($"l_id", $"k", $"ts", $"asof_payload")
      assert(aS.exceptAll(bS).isEmpty && bS.exceptAll(aS).isEmpty,
        s"round $round (string keys): formulations diverge")
    }
  }

  test("sortMerge ≡ brute-force reference across direction × tolerance") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map { i =>
      (i.toLong, rnd.nextInt(8).toLong, ts(rnd.nextInt(50)))
    }.toDF("l_id", "k", "ts")
    val right = (1 to 200).map { i =>
      (rnd.nextInt(10).toLong, ts(rnd.nextInt(50)),
        if (rnd.nextInt(5) == 0) null else s"p${rnd.nextInt(6)}")
    }.toDF("k", "ts", "payload")

    for (fwd <- Seq(false, true); tolMin <- Seq(None, Some(7))) {
      val custom = AsOfJoin.sortMerge(left, right, "ts", Seq("k"),
          Seq("payload"),
          tolerance = tolMin.map(m => java.time.Duration.ofMinutes(m.toLong)),
          forward = fwd)
        .select($"l_id", $"asof_payload")

      // brute force: every in-window candidate, rank by the documented
      // tie-break (backward: latest time then greatest payload, null
      // last; forward: earliest time then smallest payload, null first)
      val r = right.select($"k".as("rk"), $"ts".as("rts"), $"payload")
      val timeCond =
        if (fwd) unix_micros($"rts") >= unix_micros($"ts")
        else unix_micros($"rts") <= unix_micros($"ts")
      val tolCond = tolMin.map { m =>
        abs(unix_micros($"rts") - unix_micros($"ts")) <= m * 60L * 1000000L
      }.getOrElse(lit(true))
      val ord = if (fwd) Seq($"rts".asc, $"payload".asc_nulls_first)
                else Seq($"rts".desc, $"payload".desc_nulls_last)
      val w = Window.partitionBy($"l_id").orderBy(ord: _*)
      val best = left.join(r, $"k" === $"rk" && timeCond && tolCond)
        .withColumn("rn", row_number().over(w)).where($"rn" === 1)
        .select($"l_id", $"payload".as("ref_payload"))
      val reference = left.join(best, Seq("l_id"), "left")
        .select($"l_id", $"ref_payload".as("asof_payload"))

      assert(custom.exceptAll(reference).isEmpty &&
        reference.exceptAll(custom).isEmpty,
        s"diverges from brute force (forward=$fwd, tol=$tolMin)")
    }
  }

  test("SQL extension functions resolve via GraftExtensions") {
    val r = spark.sql(
      "SELECT jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) AS j," +
      " simhash64(array(7L)) AS s").head()
    assert(r.getDouble(0) == 0.5)
    assert(r.getLong(1) == 7L)
  }
}
