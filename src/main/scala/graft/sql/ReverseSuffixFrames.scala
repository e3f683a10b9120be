package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Rewrites suffix window frames (`ROWS/RANGE BETWEEN x FOLLOWING AND
  * UNBOUNDED FOLLOWING`) onto a REVERSED-order running frame
  * (optimization rounds 18/19, guide §1.2 step 1).
  *
  * Spark evaluates a frame whose upper bound is UNBOUNDED FOLLOWING with
  * `UnboundedFollowingWindowFunctionFrame`, which rebuilds the aggregate
  * from the current row to the partition end FOR EVERY ROW — O(n²) per
  * partition. The EXCLUDE lowerings (w15/w16/w19 family) emit exactly
  * this shape for their "after the current row" leg, and at 5,600 rows
  * per partition the leg was the entire cost of w15 (47M aggregate
  * updates for 17k rows).
  *
  * The same row set enumerated in the OPPOSITE order is a prefix: a
  * frame [cur+x, end] under ORDER BY k ASC is the frame
  * [start, cur−x] under ORDER BY k DESC. Prefix frames evaluate with
  * `UnboundedPrecedingWindowFunctionFrame` — one incremental update per
  * row, O(n) — at the price of extra partition-local sorts (no new
  * exchange: every stacked Window keeps the same partitioning).
  *
  * Exactness (round-19 hardening of the round-18 rule, ADVICE items):
  *   - RANGE frames address rows by ORDER-KEY VALUE, so the frame's row
  *     SET is identical under either enumeration, ties included. The
  *     RANGE arm additionally requires a non-nullable order key (null
  *     keys take a separate comparison path in the frame machinery).
  *   - ROWS frames address rows POSITIONALLY; with tied order keys a
  *     DESC sort is NOT the exact reverse permutation of the ASC sort
  *     (a sort has no stability contract), so naive reversal could
  *     change frame membership for legal user queries. The rule
  *     therefore pins ONE enumeration explicitly: a `row_number()` over
  *     the node's (partition, order) is injected below the rewrite, the
  *     reversed legs order by that index DESC (the exact reverse of the
  *     pinned enumeration, by construction), and every OTHER positional
  *     leg in the node is re-keyed to the index ASC (positionally
  *     identical frames over the same pinned enumeration). All
  *     positional legs of the node therefore see one consistent legal
  *     enumeration — bit-equal to stock for tie-free keys, and a result
  *     stock itself could produce under ties.
  *   - The rewrite fires only when EVERY window expression in the node
  *     classifies as positionally re-keyable (order-insensitive
  *     aggregate over a ROWS frame), value-addressed (order-insensitive
  *     aggregate over a RANGE frame; rank/dense_rank/percent_rank/
  *     cume_dist, whose results depend on key VALUES only), or a
  *     reversible suffix. Anything else (row_number/ntile/lag/lead,
  *     order-sensitive or DISTINCT/FILTER aggregates) refuses the WHOLE
  *     node — a split node could otherwise evaluate its legs under
  *     different tie enumerations where stock guarantees one.
  *   - The aggregate must be ORDER-INSENSITIVE over the set: MIN/MAX of
  *     any orderable type, COUNT, and SUM over integral/decimal (a
  *     double SUM accumulates in row order and is not reversible
  *     bitwise). Under ANSI mode integral SUM is additionally refused:
  *     an intermediate Long overflow raises in an accumulation-order-
  *     dependent way, so the reversed sum could throw (or not throw)
  *     where stock would not. DecimalType keeps its +10 digits of
  *     headroom and stays eligible.
  *   - A FOLLOWING bound whose literal is the type's MinValue cannot be
  *     negated (-MinValue == MinValue); mirror() refuses it.
  */
object ReverseSuffixFrames extends Rule[LogicalPlan] {

  private def ansiEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  private def orderInsensitive(agg: AggregateExpression): Boolean =
    !agg.isDistinct && agg.filter.isEmpty && (agg.aggregateFunction match {
      case _: Min | _: Max | _: Count => true
      case s: Sum => s.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          // ANSI: intermediate overflow of a long accumulator throws, and
          // whether it overflows depends on accumulation order — refuse
          // rather than raise errors stock evaluation would not
          !ansiEnabled
        case _: DecimalType => true
        case _ => false
      }
      case _ => false
    })

  /** x FOLLOWING (literal) → x PRECEDING, and vice versa; CurrentRow is
    * its own mirror. Only integral literals and the special boundaries
    * are handled — anything else (including a MinValue literal, whose
    * negation does not round-trip) refuses the rewrite.
    */
  private def mirror(bound: Expression): Option[Expression] = bound match {
    case CurrentRow => Some(CurrentRow)
    case Literal(v, t @ (ByteType | ShortType | IntegerType | LongType)) =>
      negate(v).map(Literal.create(_, t))
    case UnaryMinus(e, _) => Some(e)
    case _ => None
  }

  private def negate(v: Any): Option[Any] = v match {
    case i: java.lang.Integer if i.intValue() != Int.MinValue =>
      Some(-i.intValue())
    case l: java.lang.Long if l.longValue() != Long.MinValue =>
      Some(-l.longValue())
    case s: java.lang.Short if s.shortValue() != Short.MinValue =>
      Some((-s.shortValue()).toShort)
    case b: java.lang.Byte if b.byteValue() != Byte.MinValue =>
      Some((-b.byteValue()).toByte)
    case _ => None
  }

  private def reverse(so: SortOrder): SortOrder = {
    val dir = so.direction match {
      case Ascending => Descending
      case Descending => Ascending
    }
    val nulls = so.nullOrdering match {
      case NullsFirst => NullsLast
      case NullsLast => NullsFirst
    }
    SortOrder(so.child, dir, nulls, Seq.empty)
  }

  /** How one window expression participates in the rewrite. */
  private sealed trait Leg
  /** ROWS suffix — reversed onto the injected index, DESC. */
  private case object RowSuffix extends Leg
  /** Other positional (ROWS) leg — re-keyed to the injected index, ASC. */
  private case object RowOther extends Leg
  /** RANGE suffix — reversed onto the mirrored VALUE order. */
  private case object RangeSuffix extends Leg
  /** Value-addressed leg (RANGE aggregate / rank family) — unchanged. */
  private case object ValueSafe extends Leg

  /** Rank-family functions depend on order-key VALUES only (ties share a
    * result), so they are safe on the original spec in a split node.
    */
  private def valueBasedRank(fn: Expression): Boolean = fn match {
    case _: Rank | _: DenseRank | _: PercentRank | _: CumeDist => true
    case _ => false
  }

  private def suffixShape(lower: Expression, upper: Expression): Boolean =
    upper == UnboundedFollowing && lower != UnboundedPreceding &&
      mirror(lower).isDefined

  /** Classify; None = the node must be left alone. */
  private def classify(e: Expression, order: Seq[SortOrder]): Option[Leg] =
    e match {
      case WindowExpression(agg: AggregateExpression,
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RowFrame, lo, hi)))
          if orderInsensitive(agg) =>
        if (suffixShape(lo, hi) && order.nonEmpty) Some(RowSuffix)
        else Some(RowOther)
      case WindowExpression(agg: AggregateExpression,
          WindowSpecDefinition(_, _, SpecifiedWindowFrame(RangeFrame, lo, hi)))
          if orderInsensitive(agg) =>
        if (suffixShape(lo, hi) && order.nonEmpty &&
          order.forall(!_.child.nullable)) Some(RangeSuffix)
        else Some(ValueSafe)
      case WindowExpression(fn,
          WindowSpecDefinition(_, _, _: SpecifiedWindowFrame))
          if valueBasedRank(fn) =>
        Some(ValueSafe)
      case _ => None
    }

  /** An ordered Window node whose expressions all classify, at least one
    * as a suffix leg; yields each alias with its leg, classified once.
    */
  private object SuffixWindow {
    def unapply(w: Window): Option[Seq[(Alias, Leg)]] =
      if (w.orderSpec.isEmpty) None
      else {
        val legs = w.windowExpressions.map {
          case al @ Alias(we: WindowExpression, _) =>
            classify(we, w.orderSpec).map(al -> _)
          case _ => None
        }
        if (legs.forall(_.isDefined) &&
            legs.exists(_.exists(l => l._2 == RowSuffix || l._2 == RangeSuffix)))
          Some(legs.flatten)
        else None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case w @ SuffixWindow(legged) =>
        val Window(_, part, order, child, hint) = w
        val rowSuffix = legged.filter(_._2 == RowSuffix).map(_._1)
        val rowOther = legged.filter(_._2 == RowOther).map(_._1)
        val rangeSuffix = legged.filter(_._2 == RangeSuffix).map(_._1)
        val valueSafe = legged.filter(_._2 == ValueSafe).map(_._1)

        def respec(al: Alias, newOrder: Seq[SortOrder],
                   newFrame: Option[WindowFrame]): Alias = al match {
          case Alias(WindowExpression(fn,
              WindowSpecDefinition(p, _, frame)), name) =>
            Alias(WindowExpression(fn, WindowSpecDefinition(p, newOrder,
              newFrame.getOrElse(frame))), name)(al.exprId, al.qualifier,
              al.explicitMetadata, al.nonInheritableMetadataKeys)
        }

        def mirrored(al: Alias): WindowFrame = al.child match {
          case WindowExpression(_, WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(ft, lower, UnboundedFollowing))) =>
            SpecifiedWindowFrame(ft, UnboundedPreceding, mirror(lower).get)
        }

        var cur: LogicalPlan = child
        // positional legs pin one enumeration: row_number over the node's
        // own (partition, order); reversed legs enumerate its exact
        // reverse (index DESC), re-keyed legs its exact self (index ASC)
        if (rowSuffix.nonEmpty) {
          val rnAlias = Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(part, order,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
            "__rev_rn")()
          cur = Window(Seq(rnAlias), part, order, cur, hint)
          val rn = rnAlias.toAttribute
          val rnDesc = Seq(SortOrder(rn, Descending, NullsLast, Seq.empty))
          val rnAsc = Seq(SortOrder(rn, Ascending, NullsFirst, Seq.empty))
          cur = Window(rowSuffix.map(al =>
            respec(al, rnDesc, Some(mirrored(al)))), part, rnDesc, cur, hint)
          if (rowOther.nonEmpty)
            cur = Window(rowOther.map(al => respec(al, rnAsc, None)),
              part, rnAsc, cur, hint)
        } else if (rowOther.nonEmpty) {
          // no positional reversal → positional legs keep the stock spec
          cur = Window(rowOther, part, order, cur, hint)
        }
        if (rangeSuffix.nonEmpty) {
          val revOrder = order.map(reverse)
          cur = Window(rangeSuffix.map(al =>
            respec(al, revOrder, Some(mirrored(al)))), part, revOrder, cur,
            hint)
        }
        if (valueSafe.nonEmpty)
          cur = Window(valueSafe, part, order, cur, hint)
        // the injected index must not escape the node: restore the exact
        // original output (attributes resolve by exprId, order preserved)
        Project(w.output, cur)
    }
}
