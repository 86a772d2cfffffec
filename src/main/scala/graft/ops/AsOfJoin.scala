package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.bridge

import graft.pushdown.{ChAsOfJoin, ClickHouseFunctionPushdown}

/** Point-in-time (as-of) join: for every left row, the latest right row
  * with `rightTs <= leftTs` in the same key group.
  *
  * Spark lacks this operator. Every entry point builds the one logical
  * [[graft.pushdown.ChAsOfJoin]] node and lowers it through
  * [[graft.pushdown.ChAsOfJoin.expand]]: both sides union into one
  * tagged stream, a single window pass per key (ordered by time,
  * right-before-left on ties) carries the most recent right payload
  * forward via last(ignoreNulls), and left rows filter out with their
  * match attached.
  *
  * Scale shape: ONE shuffle on the key column (vs the naive
  * range-join/correlated-subquery which explodes to |L|x|R| per key);
  * the window is a linear scan per partition. Ties resolve
  * deterministically: among equal timestamps the right row latest in
  * `rightOrder` wins, and an equal-timestamp right row DOES match
  * (rightTs <= leftTs inclusive).
  */
object AsOfJoin {

  /** @param left       rows to enrich
    * @param right      rows providing the as-of payload
    * @param keyCol     equi-key column name (present on both sides)
    * @param leftTs     left event-time column (same type as `rightTs`)
    * @param rightTs    right event-time column
    * @param rightOrder tie-break column on the right side
    * @param payload    right-side columns to attach (prefixed `asof_`)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, Seq(keyCol), leftTs, rightTs, rightOrder, payload,
      leftJoin = true, planned = false)

  /** Multi-key variant: the match requires EVERY key pair equal (the
    * symbol+venue quote lookup; ClickHouse ASOF accepts any number of
    * equality conjuncts before the one inequality).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, keyCols, leftTs, rightTs, rightOrder, payload,
      leftJoin = true, planned = false)

  /** Inner variant (ClickHouse `ASOF JOIN` without LEFT): left rows with
    * no match are DROPPED instead of NULL-padded. Matched-ness is the
    * match struct's non-nullness — a payload field may be legitimately
    * NULL in a matched row.
    */
  def asofJoinInner(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, Seq(keyCol), leftTs, rightTs, rightOrder, payload,
      leftJoin = false, planned = false)

  /** Direction/strictness variant: `op` is the ON inequality
    * `rightTs OP leftTs`, one of `<=` (default elsewhere: latest right
    * at-or-before), `<` (latest strictly before), `>=` (EARLIEST right
    * at-or-after — the "next event" lookup), `>` (earliest strictly
    * after). `leftJoin = false` drops unmatched left rows (server
    * `ASOF JOIN` vs `ASOF LEFT JOIN`).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String],
      op: String,
      leftJoin: Boolean): DataFrame =
    join(left, right, keyCols, leftTs, rightTs, rightOrder, payload,
      leftJoin, planned = false, op)

  /** Planner-aware as-of join: identical semantics and output schema to
    * [[asofJoin]], but the [[graft.pushdown.ChAsOfJoin]] node is handed
    * to the optimizer unexpanded so the pushdown rule can collapse it to
    * server-native `ASOF LEFT JOIN` when both sides reach one ClickHouse
    * store — the events×quotes workload then executes entirely in the
    * store instead of pulling both streams into Spark. Any shape the rule
    * cannot collapse (cross-store, local tables, unparseable children)
    * lowers through the same `expand` during optimization; a session
    * without the pushdown rule installed gets the expansion directly.
    */
  def asofJoinPlanned(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, Seq(keyCol), leftTs, rightTs, rightOrder, payload,
      leftJoin = true, planned = true)

  /** Planner-aware multi-key variant (every key pair must match). */
  def asofJoinPlanned(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, keyCols, leftTs, rightTs, rightOrder, payload,
      leftJoin = true, planned = true)

  /** Planner-aware [[asofJoinInner]]: collapses to server-native
    * `ASOF JOIN` (inner) on one store, lowers locally otherwise.
    */
  def asofJoinPlannedInner(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String]): DataFrame =
    join(left, right, Seq(keyCol), leftTs, rightTs, rightOrder, payload,
      leftJoin = false, planned = true)

  /** Planner-aware direction/strictness variant: `op` as in the
    * eight-argument [[asofJoin]]; collapses to server-native
    * `ASOF [LEFT] JOIN ... AND rightTs OP leftTs` on one store, lowers
    * locally otherwise.
    */
  def asofJoinPlanned(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String],
      op: String,
      leftJoin: Boolean): DataFrame =
    join(left, right, keyCols, leftTs, rightTs, rightOrder, payload,
      leftJoin, planned = true, op)

  /** Build the [[graft.pushdown.ChAsOfJoin]] node over the analyzed
    * plans. `planned` keeps the node for the pushdown rule when the rule
    * is installed; otherwise it is expanded here, so the node never
    * reaches the optimizer. The node's `require`s reject a bad operator
    * or an empty key list.
    */
  private def join(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrder: String,
      payload: Seq[String],
      leftJoin: Boolean,
      planned: Boolean,
      op: String = "<="): DataFrame = {
    val spark = left.sparkSession
    // narrow the right side to what the join consumes, under fresh exprIds:
    // when both sides are filters of one DataFrame (shared lineage) their
    // outputs carry the same exprIds, and the analyzer's relation
    // deduplication would then renew the right side's ids underneath the
    // node's right-side references
    val rCols = (keyCols ++ Seq(rightTs, rightOrder) ++ payload).distinct
    val r = right.select(rCols.map(c => right(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): AttributeReference =
      p.output.collectFirst { case a: AttributeReference if a.name == name => a }
        .getOrElse(throw new IllegalArgumentException(
          s"as-of join: no column `$name` in ${p.output.map(_.name).mkString(", ")}"))
    val payloadAttrs = payload.map(attr(rPlan, _))
    val node = ChAsOfJoin(
      lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      attr(rPlan, rightOrder),
      payloadAttrs,
      payload.map(c => s"asof_$c"),
      payloadAttrs.map(_ => NamedExpression.newExprId),
      leftJoin = leftJoin,
      op = op)
    val keep = planned &&
      spark.experimental.extraOptimizations.contains(ClickHouseFunctionPushdown)
    bridge.ofRows(spark, if (keep) node else node.expand)
  }
}
