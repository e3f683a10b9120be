package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Defers expensive scalar projections past a global Sort
  * (optimization round 18, guide §1.2 step 1 / §2.4).
  *
  * A global `ORDER BY` plans as a range-partitioning exchange, and
  * computing the range bounds SAMPLES the child: the child RDD executes
  * once for the sampler and once for the shuffle write, so every
  * expression below the sort is evaluated TWICE per row. On this
  * corpus's single-row-group parquet files the pre-exchange stage is
  * also a single task, so those two evaluations are serial; rows after
  * the exchange sit in many partitions. Moving a projection above the
  * sort therefore (a) halves its evaluation count and (b) parallelizes
  * it — while the sampler now reads only the raw sort keys.
  *
  * The move is semantics-preserving and bitwise-exact: a deterministic
  * scalar projection commutes with a sort that references none of its
  * outputs (`Project(p, Sort(o, c))` ≡ `Sort(o', Project(p, c))` when
  * `o` only needs columns `p` passes through unchanged — the identical
  * expressions run over the identical rows, only later and in a
  * different task). Spark itself never reorders this way (ColumnPruning
  * only prunes; there is no defer rule), so the rewrite lives here.
  *
  * Guards — the rule fires only when ALL hold:
  *   - the Sort is global (local sorts do not sample);
  *   - every sort key references only pass-through outputs of the
  *     projection (an [[Attribute]], or an [[Alias]] of one);
  *   - every moved expression is deterministic;
  *   - at least one moved expression is EXPENSIVE (transcendental /
  *     round / power / regex — the per-row costs that dominate a map
  *     stage; cheap arithmetic is not worth a plan change);
  *   - every column the move newly sends through the exchange is
  *     FIXED-WIDTH (numeric/date/bool). This is the 100 TB guard
  *     (guide §2.3 "project before the exchange"): deferring
  *     `md5(text)` would swap a 32-byte hash for the whole document in
  *     the shuffle. Fixed-width sources cap the widening at
  *     sizeof(inputs) vs sizeof(outputs), which the width check below
  *     also bounds.
  */
object DeferExpensiveProjection extends Rule[LogicalPlan] {

  /** Per-row-expensive scalar nodes: Spark's Round/BRound on doubles go
    * through BigDecimal.valueOf (a Double.toString per row); the
    * transcendentals are StrictMath; regexes allocate matchers.
    */
  private def isExpensiveNode(e: Expression): Boolean = e match {
    case _: Round | _: BRound => true
    case _: Sin | _: Cos | _: Tan | _: Asin | _: Acos | _: Atan |
         _: Sinh | _: Cosh | _: Tanh | _: Atan2 => true
    case _: Log | _: Log10 | _: Log2 | _: Log1p | _: Exp | _: Expm1 => true
    case _: Pow | _: Sqrt | _: Cbrt | _: Hypot => true
    case _: RegExpReplace | _: RegExpExtract | _: RegExpExtractAll => true
    case _: FormatNumber | _: Conv => true
    case _ => false
  }

  private def isExpensive(e: Expression): Boolean = e.exists(isExpensiveNode)

  private def fixedWidth(t: DataType): Boolean = t match {
    case _: NumericType | DateType | BooleanType | TimestampType |
         TimestampNTZType | NullType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case s @ Sort(order, true, p @ Project(projList, child), _)
          if deferable(order, projList, child) =>
        val (identity, computed) = split(projList)
        // sort keys rewritten onto the child attributes behind the
        // pass-through outputs (an aliased key keeps its child attr)
        val toChild: Map[ExprId, Attribute] = identity.map {
          case a: Attribute => a.exprId -> a
          case al @ Alias(a: Attribute, _) => al.exprId -> a
        }.toMap
        val orderOnChild = order.map(_.transform {
          case a: Attribute if toChild.contains(a.exprId) => toChild(a.exprId)
        }.asInstanceOf[SortOrder])
        // columns the sort's child must now emit: everything the moved
        // expressions reference plus the sort keys and pass-throughs
        val needed = AttributeSet(
          computed.flatMap(_.references) ++
            orderOnChild.flatMap(_.references) ++ identity.map {
              case a: Attribute => a
              case Alias(a: Attribute, _) => a
            })
        val pruned =
          if (needed == child.outputSet) child
          else Project(child.output.filter(needed.contains), child)
        // the ORIGINAL project list runs above the sort: identity
        // outputs keep their exprIds (pass-through / re-alias), computed
        // aliases are reused verbatim, so parent plans resolve unchanged
        Project(projList, s.copy(order = orderOnChild, child = pruned))
    }

  private def split(projList: Seq[NamedExpression])
      : (Seq[NamedExpression], Seq[NamedExpression]) =
    projList.partition {
      case _: Attribute => true
      case Alias(_: Attribute, _) => true
      case _ => false
    }

  private def deferable(order: Seq[SortOrder], projList: Seq[NamedExpression],
                        child: LogicalPlan): Boolean = {
    val (identity, computed) = split(projList)
    if (computed.isEmpty) return false
    // every moved expression: deterministic, and none is itself an
    // aggregate/window leftover (those never appear in a bare Project,
    // but cheap to assert)
    if (!computed.forall(_.deterministic)) return false
    if (!computed.exists(isExpensive)) return false
    // sort keys only touch pass-through outputs
    val passIds = identity.map(_.exprId).toSet ++
      identity.collect { case a: Attribute => a.exprId }
    val orderRefs = order.flatMap(_.references)
    if (!orderRefs.forall(r => passIds.contains(r.exprId))) return false
    // 100 TB guard: newly-shuffled source columns must be fixed-width
    val passSrc = AttributeSet(identity.map {
      case a: Attribute => a
      case Alias(a: Attribute, _) => a
    })
    val extra = AttributeSet(computed.flatMap(_.references)) -- passSrc
    if (!extra.forall(a => fixedWidth(a.dataType))) return false
    // and the move must not narrow the exchange: bytes of the computed
    // outputs (what the exchange used to carry) must cover the bytes of
    // the newly-carried sources
    val computedBytes = computed.map(_.dataType.defaultSize).sum
    val extraBytes = extra.toSeq.map(_.dataType.defaultSize).sum
    computedBytes >= extraBytes
  }
}
