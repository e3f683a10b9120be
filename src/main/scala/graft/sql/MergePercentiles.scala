package graft.sql

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, GetArrayItem, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Merges several exact-percentile aggregates over the same column into
  * ONE array-argument [[Percentile]] call (optimization round 18).
  *
  * `percentile(x, 0.25), percentile(x, 0.5), percentile(x, 0.9)` — the
  * shape every percentile-report query lowers to (np.percentile /
  * np.quantile / np.median via the Registry, `median` / `percentile_cont
  * WITHIN GROUP` via Spark's own runtime replacement) — builds one
  * value→count OpenHashMap buffer PER CALL: N calls hold N copies of the
  * column in memory, serialize N buffers between partial and final
  * aggregation, and sort N times at eval. Spark's array form
  * (`percentile(x, array(0.25, 0.5, 0.9))`) computes every requested
  * point from ONE shared buffer and one sort; per-point results are
  * bitwise identical because the array path runs the same
  * `getPercentile` over the same sorted counts (probed at sf0.1:
  * 2.45 s → 1.26 s for the 3-point shape, bitwise-equal outputs).
  *
  * The rule rewrites each merged scalar call site to element i of the
  * shared array result. One [[AggregateExpression]] instance (one
  * resultId) backs every site, so physical planning deduplicates it
  * into a single buffer. Merging applies only when provably safe:
  * same child and frequency (canonically), no DISTINCT, no FILTER,
  * non-reverse, foldable double percentage — anything else is left
  * untouched.
  *
  * Installed through `spark.experimental.extraOptimizations` (runs
  * after the main optimizer batches, so percentage expressions are
  * already constant-folded and `median`/`percentile_cont` are already
  * [[Percentile]]s).
  */
object MergePercentiles extends Rule[LogicalPlan] {

  private def pctOf(e: Expression): Option[Double] =
    if (e.foldable && e.dataType == DoubleType) e.eval() match {
      case d: java.lang.Double => Some(d.doubleValue())
      case _ => None
    } else None

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      // candidate scalar exact percentiles, grouped by (child, frequency)
      final case class Group(rep: Percentile, mode: AggregateExpression) {
        val members = mutable.LinkedHashMap.empty[Expression, (AggregateExpression, Double)]
      }
      val groups = mutable.LinkedHashMap.empty[(Expression, Expression), Group]
      agg.aggregateExpressions.foreach(_.foreach {
        case ae @ AggregateExpression(p: Percentile, _, false, None, _)
            if p.getClass == classOf[Percentile] && !p.reverse =>
          pctOf(p.percentageExpression).foreach { d =>
            val g = groups.getOrElseUpdate(
              (p.child.canonicalized, p.frequencyExpression.canonicalized),
              Group(p, ae))
            if (!g.members.contains(ae.canonicalized))
              g.members.put(ae.canonicalized, (ae, d))
          }
        case _ =>
      })
      // unit frequency is the precondition for the primitive-buffer swap
      def unitFreq(p: Percentile): Boolean =
        p.frequencyExpression.foldable &&
          (p.frequencyExpression.eval() match {
            case l: java.lang.Long => l.longValue() == 1L
            case i: java.lang.Integer => i.intValue() == 1
            case _ => false
          })
      val candidates = groups.values.filter { g =>
        // merge when ≥2 points share a buffer; a single scalar call
        // still gains the primitive-key buffer when the child is DOUBLE
        g.members.size >= 2 ||
          (g.rep.child.dataType == DoubleType && unitFreq(g.rep))
      }.toSeq
      // array-percentage calls (e.g. percentile(x, array(...)) written
      // directly — ap01's shape) can't merge further but still gain the
      // primitive-key buffer
      val arrayCands = mutable.LinkedHashMap.empty[Expression, AggregateExpression]
      agg.aggregateExpressions.foreach(_.foreach {
        case ae @ AggregateExpression(p: Percentile, _, false, None, _)
            if p.getClass == classOf[Percentile] && !p.reverse &&
              p.child.dataType == DoubleType &&
              p.percentageExpression.foldable &&
              p.percentageExpression.dataType.isInstanceOf[ArrayType] &&
              unitFreq(p) =>
          if (!arrayCands.contains(ae.canonicalized))
            arrayCands.put(ae.canonicalized, ae)
        case _ =>
      })
      if (candidates.isEmpty && arrayCands.isEmpty) agg
      else {
        val repl = mutable.HashMap.empty[Expression, Expression]
        arrayCands.foreach { case (canon, ae) =>
          val p = ae.aggregateFunction.asInstanceOf[Percentile]
          repl(canon) = AggregateExpression(
            graft.functions.FastPercentileDouble(
              p.child, p.percentageExpression),
            ae.mode, isDistinct = false, filter = None)
        }
        candidates.foreach { g =>
          val ps = g.members.values.map(_._2).toSeq
          val fast = g.rep.child.dataType == DoubleType && unitFreq(g.rep)
          val pctExpr: Expression =
            if (ps.size >= 2) CreateArray(ps.map(Literal(_, DoubleType)))
            else Literal(ps.head, DoubleType)
          val fn =
            if (fast)
              graft.functions.FastPercentileDouble(g.rep.child, pctExpr)
            else new Percentile(g.rep.child, pctExpr,
              g.rep.frequencyExpression)
          val merged = AggregateExpression(
            fn, g.mode.mode, isDistinct = false, filter = None)
          if (ps.size >= 2)
            g.members.keys.zipWithIndex.foreach { case (canon, i) =>
              repl(canon) = GetArrayItem(merged, Literal(i))
            }
          else if (fast) repl(g.members.keys.head) = merged
        }
        if (repl.isEmpty) agg
        else {
          val newExprs = agg.aggregateExpressions.map(_.transformUp {
            case ae: AggregateExpression if repl.contains(ae.canonicalized) =>
              repl(ae.canonicalized)
          }.asInstanceOf[NamedExpression])
          agg.copy(aggregateExpressions = newExprs)
        }
      }
  }
}
