package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import graft.plans.AsOfJoinNode

/** As-of join: for every left row, attach the most recent right row with
  * `rightTime <= leftTime` (within the same partition keys).
  *
  * Implementation is the scalable union+window formulation rather than a
  * pairwise join: tag both sides, union them, and run one
  * `last(_, ignoreNulls)` window per key ordered by (time, side). Cost
  * is a single shuffle on the partition keys — no row multiplication,
  * no range-join explosion — which is the formulation that survives
  * 100 TB (a pairwise time-condition join degenerates to
  * broadcast-nested-loop).
  *
  * Semantics:
  *  - the payload is carried as ONE struct, so the attached values always
  *    come from a single right row (per-column `last` would stitch
  *    together a row that never existed whenever a payload field is null);
  *  - a right row at exactly leftTime matches (right sorts before left at
  *    equal timestamps);
  *  - ties among right rows at the same (keys, time) break
  *    deterministically by the packed payload struct's ordering (max
  *    wins).
  */
object AsOfJoin {

  /** @param left       left (probe) side
    * @param right      right (reference) side
    * @param timeCol    event-time column name present on both sides
    * @param keys       equality partition keys present on both sides
    * @param payload    right-side columns to attach (prefixed `asof_`)
    */
  def apply(left: DataFrame, right: DataFrame, timeCol: String,
      keys: Seq[String], payload: Seq[String]): DataFrame = {
    val leftExtras = left.columns.toSeq
      .filterNot(c => keys.contains(c) || c == timeCol)
    val payloadStructType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))

    val taggedLeft = left
      .withColumn("__side", lit(1))
      .select((keys ++ Seq(timeCol, "__side")).map(col) ++
        leftExtras.map(col) :+
        lit(null).cast(payloadStructType).as("__p"): _*)
    val taggedRight = right
      .withColumn("__side", lit(0))
      .select((keys ++ Seq(timeCol, "__side")).map(col) ++
        leftExtras.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as("__p"): _*)

    // __p in the sort order makes right-row ties deterministic (max
    // payload struct wins); left rows (__p null) sort before right rows
    // with equal (time, side) never happen since sides differ.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("__side").asc, col("__p").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    taggedLeft.unionByName(taggedRight)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select((keys ++ Seq(timeCol)).map(col) ++ leftExtras.map(col) ++
        payload.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }

  /** The same as-of semantics as a first-class Catalyst operator
    * ([[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinExec]]):
    * co-partition on the keys, sort each side, one streaming merge per
    * partition. Same column contract as [[apply]]; output column order
    * follows the left DataFrame (plus `asof_*`).
    *
    * @param tolerance maximum lookback (or lookahead when `forward`),
    *   à la pandas merge_asof: a right row further than `tolerance`
    *   from the left time does not match and the payload comes back
    *   null. Requires a timestamp/long time column.
    * @param forward match the EARLIEST right row at-or-after the left
    *   time (ties: smallest payload) instead of the latest at-or-before
    *   (ties: greatest payload).
    */
  def sortMerge(left: DataFrame, right: DataFrame, timeCol: String,
      keys: Seq[String], payload: Seq[String],
      tolerance: Option[java.time.Duration] = None,
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    // alias the right side's columns: fresh exprIds make self-joins
    // (left and right reading the same table) unambiguous
    val rCols = ((keys :+ timeCol) ++ payload).distinct
    val rPrep = right.select(rCols.map(c => col(c).as(s"__r_$c")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    // exact match first, then case-insensitive — mirrors apply()'s
    // col()-based resolution under Spark's default caseSensitive=false
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n)
        .orElse(p.output.find(_.name.equalsIgnoreCase(n)))
        .getOrElse(throw new IllegalArgumentException(
          s"as-of join: column '$n' not found in ${p.output.map(_.name)}"))
    val payloadAttrs = payload.map(c => attr(rPlan, s"__r_$c"))
    val payloadOut = payload.zip(payloadAttrs).map { case (c, a) =>
      AttributeReference(s"asof_$c", a.dataType, nullable = true)()
    }
    PlanBridge.ofRows(spark, AsOfJoinNode(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"__r_$k")),
      attr(lPlan, timeCol), attr(rPlan, s"__r_$timeCol"),
      payloadAttrs, payloadOut,
      // saturate rather than throw for "effectively unbounded" durations
      // (Duration.toNanos overflows past ~292 years)
      toleranceUs = tolerance.map { d =>
        try d.toNanos / 1000
        catch { case _: ArithmeticException => Long.MaxValue }
      },
      forward = forward))
  }
}
