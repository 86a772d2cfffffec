package graft.pushdown

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Last}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

/** Logical as-of join marker (point-in-time join): for every left row,
  * the CLOSEST right row satisfying `rightTime OP leftTime` in the same
  * `leftKey = rightKey` group (latest for the backward ops `<=`/`<`,
  * earliest for the forward ops `>=`/`>`), left rows kept (NULL payload
  * when no match) — ClickHouse's `ASOF LEFT JOIN` semantics with its
  * full direction/strictness surface.
  *
  * The node exists so [[ClickHouseFunctionPushdown]] can SEE the as-of
  * intent: when both children collapse to the same store, the join ships
  * as server-native `ASOF LEFT JOIN` (the events×quotes 100 TB workload
  * — neither event stream crosses the wire; extends the join-placement
  * model of reference src/sql.rs:47-59 to the one join type DataFusion's
  * unparser could not express). Otherwise [[expand]] lowers it to a
  * tagged-union + window composition — one shuffle on the key, no
  * |L|×|R| blow-up — so the node NEVER reaches the planner. Every entry
  * point of [[graft.ops.AsOfJoin]] builds this node, so [[expand]] is
  * the only local as-of lowering.
  *
  * Tie semantics: among equal (key, time) right rows the server's ASOF
  * pick is unspecified (same contract as ClickHouse itself); the local
  * expansion breaks ties deterministically on `rightOrder`. Keep
  * (key, time) unique on the right side when cross-engine hashes matter
  * (the FINAL-read rule, CLAUDE.md).
  */
case class ChAsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[AttributeReference],
    rightKeys: Seq[AttributeReference],
    leftTime: AttributeReference,
    rightTime: AttributeReference,
    rightOrder: AttributeReference,
    payload: Seq[AttributeReference],
    payloadOutNames: Seq[String],
    payloadOutIds: Seq[ExprId],
    /** false = ASOF (inner): left rows without a match are dropped. */
    leftJoin: Boolean = true,
    /** The ON inequality `rightTime OP leftTime` — ClickHouse accepts all
      * four: `<=` (default: latest right at-or-before), `<` (latest right
      * strictly before), `>=` (EARLIEST right at-or-after — the "next
      * event" lookup), `>` (earliest right strictly after).
      */
    op: String = "<=")
  extends BinaryNode {

  require(ChAsOfJoin.Ops(op),
    s"as-of join inequality must be one of ${ChAsOfJoin.Ops.mkString(", ")}: $op")
  require(payload.length == payloadOutNames.length &&
    payload.length == payloadOutIds.length, "payload arity mismatch")
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs at least one equi-key pair, sides aligned")
  leftKeys.lazyZip(rightKeys).foreach { (lk, rk) =>
    require(lk.dataType == rk.dataType,
      s"as-of join key types differ: ${lk.dataType} vs ${rk.dataType}")
  }
  require(leftTime.dataType == rightTime.dataType,
    s"as-of join time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  /** Payload outputs are nullable (unmatched left rows pad with NULL). */
  lazy val payloadOut: Seq[Attribute] =
    payload.lazyZip(payloadOutNames).lazyZip(payloadOutIds).map { (p, n, id) =>
      AttributeReference(n, p.dataType, nullable = true)(exprId = id)
    }

  override def output: Seq[Attribute] = left.output ++ payloadOut

  // payload outputs are minted here, not received from children
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ChAsOfJoin =
    copy(left = newLeft, right = newRight)

  /** Lower to the local composition: both sides union into one tagged
    * stream, a single running `last(payload, ignoreNulls)` window per key
    * carries the latest right payload forward, left rows filter out with
    * their match attached. Output attributes reuse this node's exprIds, so
    * parents resolve unchanged.
    */
  def expand: LogicalPlan = {
    val payloadType = StructType(payload.map(a =>
      StructField(a.name, a.dataType, nullable = true)))
    val leftType = StructType(left.output.map(a =>
      StructField(a.name, a.dataType, nullable = true)))
    def struct(attrs: Seq[Attribute]): Expression =
      CreateNamedStruct(attrs.flatMap(a => Seq(Literal(a.name), a)))
    // right branch: (__k0.., __t, __kind=0, __ord, __payload, __left=NULL)
    val n = leftKeys.length
    val rProj = Project(
      rightKeys.zipWithIndex.map { case (k, i) => Alias(k, s"__k$i")() } ++ Seq(
      Alias(rightTime, "__t")(),
      Alias(Literal(0), "__kind")(),
      Alias(rightOrder, "__ord")(),
      Alias(struct(payload), "__payload")(),
      Alias(Literal(null, leftType), "__left")()), right)
    // left branch: (__k0.., __t, __kind=1, __ord=NULL, __payload=NULL, __left)
    val lProj = Project(
      leftKeys.zipWithIndex.map { case (k, i) => Alias(k, s"__k$i")() } ++ Seq(
      Alias(leftTime, "__t")(),
      Alias(Literal(1), "__kind")(),
      Alias(Literal(null, rightOrder.dataType), "__ord")(),
      Alias(Literal(null, payloadType), "__payload")(),
      Alias(struct(left.output), "__left")()), left)
    val u = Union(Seq(rProj, lProj))
    val kAs = u.output.take(n)
    val Seq(tA, kindA, ordA, payA, leftA) = u.output.drop(n)
    // One running scan per key group, direction-aware:
    //  - backward ops (<=, <) scan time ASCENDING: the running last()
    //    right payload is the LATEST right at-or-before each left row;
    //  - forward ops (>=, >) scan time DESCENDING: the running last()
    //    is the EARLIEST right at-or-after.
    // At equal time, INCLUSIVE ops put right rows first (kind 0 < 1: an
    // equal-time right row DOES match); STRICT ops put left rows first
    // (an equal-time right row must NOT match). Among equal-time right
    // rows the greatest __ord wins in either direction (deterministic
    // tie-break; the server leaves this unspecified).
    val forward = op == ">=" || op == ">"
    val strict = op == "<" || op == ">"
    val spec = WindowSpecDefinition(
      partitionSpec = kAs,
      orderSpec = Seq(
        SortOrder(tA, if (forward) Descending else Ascending),
        SortOrder(kindA, if (strict) Descending else Ascending),
        SortOrder(ordA, Ascending, NullsLast, Seq.empty)),
      frameSpecification = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val matchAlias = Alias(WindowExpression(
      AggregateExpression(Last(payA, ignoreNulls = true), Complete, isDistinct = false),
      spec), "__match")()
    val w = Window(Seq(matchAlias), kAs, spec.orderSpec, u, None)
    val f = Filter(EqualTo(kindA, Literal(1)), w)
    val matchA = matchAlias.toAttribute
    // inner variant: matched-ness IS the match struct's non-nullness
    // (a payload FIELD may be legitimately NULL in a matched row)
    val f2 = if (leftJoin) f else Filter(IsNotNull(matchA), f)
    // surface the original exprIds: left columns out of __left, payload
    // out of __match as asof_<name>
    val leftOut = left.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(leftA, i, Some(a.name)), a.name)(exprId = a.exprId)
    }
    val payOut = payloadOut.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(matchA, i, Some(payload(i).name)), a.name)(exprId = a.exprId)
    }
    Project(leftOut ++ payOut, f2)
  }
}

object ChAsOfJoin {
  /** The four ON inequalities ClickHouse ASOF accepts, `rightTime OP
    * leftTime` orientation.
    */
  val Ops: Set[String] = Set("<=", "<", ">=", ">")
}
