package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Max, Median, Min, Percentile, StddevPop, Sum, VariancePop}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** SQL function surface of the graft engine.
  *
  * Covers the reference's scalar-function library (casts, math, datetime,
  * string — reference: vinum/core/functions.py:353-387) and its NumPy-style
  * `np.*` namespace (reference: vinum/core/udf.py:48-55 resolves arbitrary
  * `np.` names via eval; here that unbounded surface is bounded to a curated
  * mapping table onto Catalyst expressions, per SURVEY §7 "what's hard").
  *
  * Every function builds a *native* Catalyst expression — no Scala UDFs —
  * so the whole surface stays inside whole-stage codegen and pushes down
  * like any built-in.
  *
  * `Dialect.rewrite` turns `np.name(...)` into `np_name(...)` before
  * parsing, which resolves against the `np_*` entries registered here.
  */
object Registry {

  /** Default seed for all hashing operators; fixed for reproducibility. */
  val DefaultSeed = 42L

  /** register_numpy analog (reference: vinum/core/udf.py:138-218): register
    * a named SQL function whose body is assembled from whole [[Column]]s,
    * so the implementation can use ANY Column-level construct — arithmetic,
    * built-ins, and window aggregates. Usable from `Table.sql` text like
    * any built-in; names are case-insensitive and re-registration replaces
    * (reference UDF-registry semantics, vinum/core/udf.py:221-247).
    *
    * Whole-column semantics at scale (SURVEY §7 decision): the reference
    * hands the ENTIRE column to the function as one numpy array — a
    * single-node luxury. [[wholeColumn]] expresses a whole-column
    * statistic as an aggregate over an unbounded window
    * (`Window.partitionBy()`), which Spark plans as an Exchange
    * SinglePartition — the full frame flows through ONE task. That is
    * the faithful translation and fine up to a few tens of millions of
    * rows; for 100 TB inputs compute the statistic with a tree-reduced
    * aggregate and attach it back with a broadcast cross-join
    * (`df.crossJoin(broadcast(df.agg(...)))`) instead — same result, no
    * single-task bottleneck. The function-registry surface cannot make
    * that rewrite (a Column builder has no handle on the source
    * relation), so the scale path is a two-line pattern, not a named
    * function. Example, the reference README z-score (README.rst:189-207):
    * {{{
    * Registry.registerColumnFn(spark, "score", { case Seq(x) =>
    *   (x - Registry.wholeColumn(avg(x))) / Registry.wholeColumn(stddev_pop(x)) })
    * spark.sql("SELECT x, score(x) FROM t")
    * }}}
    */
  def registerColumnFn(spark: SparkSession, name: String,
                       fn: Seq[Column] => Column): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => GraftColumnBridge.toExpression(fn(exprs.map(GraftColumnBridge.toColumn))),
      "scala_udf")

  /** Aggregate over the whole (unpartitioned) column — the Spark shape of
    * the reference's whole-array numpy argument. Use inside
    * [[registerColumnFn]] bodies for global statistics.
    */
  def wholeColumn(agg: Column): Column = agg.over(Window.partitionBy())

  /** Spark's internal bloom-filter sketch aggregate surfaced as a Column:
    * builds the filter distributively (partial sketches merged, only the
    * final bitset reaches the driver). Input is hashed — pass the
    * xxhash64 of the dedup key. Sized from (expectedItems, fpp) via the
    * sketch library's optimal-bits formula.
    */
  def bloomAgg(c: Column, expectedItems: Long, fpp: Double = 0.01): Column = {
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    GraftColumnBridge.toColumn(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        Cast(GraftColumnBridge.toExpression(c), LongType),
        Literal(expectedItems), Literal(bits)).toAggregateExpression())
  }

  /** Membership probe against a [[bloomAgg]] sketch (no false negatives;
    * false-positive rate per the build's fpp). The sketch side must be a
    * constant (a collected literal) — Catalyst enforces it.
    */
  def bloomMightContain(bloom: Column, value: Column): Column =
    GraftColumnBridge.toColumn(BloomFilterMightContain(
      GraftColumnBridge.toExpression(bloom),
      Cast(GraftColumnBridge.toExpression(value), LongType)))

  /** The graft optimizer rules, in install order: N same-column exact
    * percentiles share one buffer ([[graft.sql.MergePercentiles]]),
    * expensive projections move past global sorts
    * ([[graft.sql.DeferExpensiveProjection]]), and O(n²) suffix window
    * frames become reversed running frames
    * ([[graft.sql.ReverseSuffixFrames]]). To A/B one, run a scratch
    * session whose `spark.experimental.extraOptimizations` leaves it out.
    */
  val OptimizerRules: Seq[Rule[LogicalPlan]] = Seq(graft.sql.MergePercentiles,
    graft.sql.DeferExpensiveProjection, graft.sql.ReverseSuffixFrames)

  def registerAll(spark: SparkSession): Unit = {
    // session optimizer rules (idempotent install), see [[OptimizerRules]]
    OptimizerRules.foreach { rule =>
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ rule
    }
    // planner strategy (idempotent install): a root ORDER BY or global
    // aggregate finishes on the driver under collect() — see
    // [[graft.sql.CollectOnDriver]].
    if (!spark.experimental.extraStrategies.contains(graft.sql.CollectOnDriver))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.sql.CollectOnDriver
    val reg = spark.sessionState.functionRegistry
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")

    // ---- casts (reference: vinum/core/functions.py:148-193) ----
    // numpy astype semantics: float->int truncates (matches Spark cast);
    // the variadic form packs all args into one array column
    // (reference: vinum/tests/test_query_results.py:792-796).
    def castFn(t: DataType): Seq[Expression] => Expression = {
      case Seq(e)  => Cast(e, t)
      case many    => Cast(CreateArray(many), ArrayType(t))
    }
    // ---- w22: the order-free exact folds behind sum/avg(DISTINCT x)
    // OVER — see [[graft.functions.ArrayFoldExact]]; float element
    // types refuse at analysis time
    f("array_sum_exact") {
      case Seq(a) => ArrayFoldExact(a, isAvg = false)
      case other => throw new IllegalArgumentException(
        s"array_sum_exact() takes 1 array argument, got ${other.length}")
    }
    f("array_avg_exact") {
      case Seq(a) => ArrayFoldExact(a, isAvg = true)
      case other => throw new IllegalArgumentException(
        s"array_avg_exact() takes 1 array argument, got ${other.length}")
    }
    // the AGGREGATE forms — sum/avg(DISTINCT) OVER lowers onto these
    // (the set lives in the aggregation buffer, folded once at eval:
    // O(partition) on whole-partition specs; see
    // [[graft.functions.SumDistinctExact]])
    f("sum_distinct_exact") {
      case Seq(a) => SumDistinctExact(a, isAvg = false)
      case other => throw new IllegalArgumentException(
        s"sum_distinct_exact() takes 1 argument, got ${other.length}")
    }
    f("avg_distinct_exact") {
      case Seq(a) => SumDistinctExact(a, isAvg = true)
      case other => throw new IllegalArgumentException(
        s"avg_distinct_exact() takes 1 argument, got ${other.length}")
    }

    f("to_int")(castFn(LongType))
    f("to_long")(castFn(LongType))
    f("to_float")(castFn(DoubleType))
    f("to_double")(castFn(DoubleType))
    f("to_str")(castFn(StringType))
    f("to_bool")(castFn(BooleanType))

    // ---- datetime (reference: vinum/core/functions.py:25-145) ----
    // date(str|'now'): 'now' -> current date, else cast.
    f("date") {
      case Seq(Literal(v, StringType))
          if v != null && v.toString.equalsIgnoreCase("now") =>
        CurrentDate()
      case Seq(e) => Cast(e, DateType)
      case other  => throw new IllegalArgumentException(
        s"date() takes 1 argument, got ${other.length}")
    }
    // datetime(str) / datetime(int[, unit]): numeric input is epoch in
    // `unit` (default seconds). Cast(numeric -> timestamp) already means
    // epoch seconds in Spark, so the 1-arg form handles both strings
    // (ISO8601, incl. partials like '2020-10') and numerics.
    def epochToTs(e: Expression, unit: String): Expression = unit match {
      case "D"  => SecondsToTimestamp(Multiply(Cast(e, LongType), Literal(86400L)))
      case "h"  => SecondsToTimestamp(Multiply(Cast(e, LongType), Literal(3600L)))
      case "m"  => SecondsToTimestamp(Multiply(Cast(e, LongType), Literal(60L)))
      case "s"  => SecondsToTimestamp(Cast(e, LongType))
      case "ms" => MillisToTimestamp(Cast(e, LongType))
      case "us" => MicrosToTimestamp(Cast(e, LongType))
      case "ns" => MicrosToTimestamp(IntegralDivide(Cast(e, LongType), Literal(1000L)))
      case u    => throw new IllegalArgumentException(s"unsupported datetime unit '$u'")
    }
    def unitOf(e: Expression, dflt: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case _ => dflt
    }
    // datetime(temporal-or-string, unit) truncates to the unit — the
    // reference builds np.array(arg, dtype=datetime64[unit]), and numpy
    // TRUNCATES string/datetime input to the requested resolution
    // (reference: vinum/core/functions.py:34-120, UNITS = D/s/ms/us/ns).
    // Unit 'D' yields a DATE (datetime64[D] maps to arrow date32); 'ns'
    // caps at Spark's native microsecond resolution. Numeric input stays
    // epoch-expressed-in-unit, as before.
    f("datetime") {
      case Seq(e)    => Cast(e, TimestampType)
      case Seq(e, u) =>
        val unit = unitOf(u, "s")
        val temporal = e.resolved && (e.dataType match {
          case _: StringType | DateType | TimestampType | TimestampNTZType => true
          case _ => false
        })
        if (temporal) {
          val ts = Cast(e, TimestampType)
          unit match {
            case "D"         => Cast(ts, DateType)
            case "s"         => TruncTimestamp(Literal("SECOND"), ts)
            case "ms"        => TruncTimestamp(Literal("MILLISECOND"), ts)
            case "us" | "ns" => TruncTimestamp(Literal("MICROSECOND"), ts)
            case u0 => throw new IllegalArgumentException(
              s"unsupported datetime unit '$u0'")
          }
        } else if (unit == "D") Cast(epochToTs(e, "D"), DateType)
        else epochToTs(e, unit)
      case other     => throw new IllegalArgumentException(
        s"datetime() takes 1-2 arguments, got ${other.length}")
    }
    f("from_timestamp") {
      case Seq(e)    => SecondsToTimestamp(Cast(e, LongType))
      case Seq(e, u) => epochToTs(e, unitOf(u, "s"))
      case other     => throw new IllegalArgumentException(
        s"from_timestamp() takes 1-2 arguments, got ${other.length}")
    }
    // timedelta(n, unit), units Y/M/W/D/h/m/s/ms/us/ns
    // (reference: vinum/core/functions.py:106-126)
    f("timedelta") {
      case Seq(e, u) =>
        val zero = Literal(0)
        // MakeDTInterval asserts the seconds decimal has scale exactly 6
        val zeroSec = Literal.create(
          Decimal(new java.math.BigDecimal("0.000000")), DecimalType(18, 6))
        unitOf(u, "D") match {
          case "Y" => MakeYMInterval(Cast(e, IntegerType), zero)
          case "M" => MakeYMInterval(zero, Cast(e, IntegerType))
          case "W" => MakeDTInterval(Multiply(Cast(e, IntegerType), Literal(7)), zero, zero, zeroSec)
          case "D" => MakeDTInterval(Cast(e, IntegerType), zero, zero, zeroSec)
          case "h" => MakeDTInterval(zero, Cast(e, IntegerType), zero, zeroSec)
          case "m" => MakeDTInterval(zero, zero, Cast(e, IntegerType), zeroSec)
          case "s" => MakeDTInterval(zero, zero, zero, Cast(e, DecimalType(18, 6)))
          case "ms" => MakeDTInterval(zero, zero, zero, Cast(Divide(Cast(e, DoubleType), Literal(1e3)), DecimalType(18, 6)))
          case "us" => MakeDTInterval(zero, zero, zero, Cast(Divide(Cast(e, DoubleType), Literal(1e6)), DecimalType(18, 6)))
          case "ns" => MakeDTInterval(zero, zero, zero, Cast(Divide(Cast(e, DoubleType), Literal(1e9)), DecimalType(18, 6)))
          case u0  => throw new IllegalArgumentException(s"unsupported timedelta unit '$u0'")
        }
      case other => throw new IllegalArgumentException(
        s"timedelta() takes 2 arguments, got ${other.length}")
    }
    // now() truncates to seconds (reference: vinum/core/functions.py:25-33
    // returns np.datetime64(datetime.now(), 's')); overrides the
    // microsecond-resolution Spark builtin for parity.
    f("now") {
      case Seq() => TruncTimestamp(Literal("SECOND"), CurrentTimestamp())
      case other => throw new IllegalArgumentException(
        s"now() takes no arguments, got ${other.length}")
    }

    // is_busday(date): Mon..Fri (reference: vinum/core/functions.py:129-138,
    // numpy busday semantics). WeekDay: Monday=0 .. Sunday=6.
    f("is_busday") {
      case Seq(e) => LessThan(WeekDay(Cast(e, DateType)), Literal(5))
      case other  => throw new IllegalArgumentException(
        s"is_busday() takes 1 argument, got ${other.length}")
    }

    // ---- overflow-safe big sum (SURVEY §2.4: reference promotes int64
    // sums to hugeint/Decimal128 on overflow; we fix the type statically) --
    f("sum_big") {
      case Seq(e) => Sum(Cast(e, DecimalType(38, 0)))
      case other  => throw new IllegalArgumentException(
        s"sum_big() takes 1 argument, got ${other.length}")
    }

    // ---- np.* namespace (bounded mapping; SURVEY §2.8) ----
    def unary(name: String)(mk: Expression => Expression): Unit =
      f(name) {
        case Seq(e) => mk(e)
        case other  => throw new IllegalArgumentException(
          s"$name() takes 1 argument, got ${other.length}")
      }
    def binary(name: String)(mk: (Expression, Expression) => Expression): Unit =
      f(name) {
        case Seq(a, b) => mk(a, b)
        case other     => throw new IllegalArgumentException(
          s"$name() takes 2 arguments, got ${other.length}")
      }
    unary("np_log")(Log(_))
    unary("np_log2")(Log2(_))
    unary("np_log10")(Log10(_))
    unary("np_log1p")(Log1p(_))
    unary("np_sqrt")(Sqrt(_))
    unary("np_cbrt")(Cbrt(_))
    unary("np_exp")(Exp(_))
    unary("np_expm1")(Expm1(_))
    unary("np_abs")(Abs(_))
    unary("np_negative")(UnaryMinus(_))
    unary("np_sin")(Sin(_))
    unary("np_cos")(Cos(_))
    unary("np_tan")(Tan(_))
    unary("np_arcsin")(Asin(_))
    unary("np_arccos")(Acos(_))
    unary("np_arctan")(Atan(_))
    unary("np_sinh")(Sinh(_))
    unary("np_cosh")(Cosh(_))
    unary("np_tanh")(Tanh(_))
    unary("np_floor")(Floor(_))
    unary("np_ceil")(Ceil(_))
    unary("np_sign")(Signum(_))
    unary("np_degrees")(ToDegrees(_))
    unary("np_radians")(ToRadians(_))
    unary("np_isnan")(IsNaN(_))
    unary("np_square")(e => Pow(e, Literal(2.0)))
    unary("np_reciprocal")(e => Divide(Literal(1.0), e))
    binary("np_power")(Pow(_, _))
    binary("np_arctan2")(Atan2(_, _))
    binary("np_mod")(Remainder(_, _))
    binary("np_fmod")(Remainder(_, _))
    binary("np_minimum")((a, b) => Least(Seq(a, b)))
    binary("np_maximum")((a, b) => Greatest(Seq(a, b)))
    // on-demand extensions of the bounded table (r8 VERDICT "missing"
    // #1: the reference eval-resolves ANY np name; we map names as users
    // need them and error clearly otherwise)
    unary("np_exp2")(e => Pow(Literal(2.0), e))
    unary("np_rint")(e => BRound(e, Literal(0)))   // half-to-even, like numpy
    unary("np_trunc")(e =>                          // toward zero, double out
      Cast(If(GreaterThanOrEqual(e, Literal(0.0)), Floor(e), Ceil(e)),
        DoubleType))
    binary("np_hypot")(Hypot(_, _))
    binary("np_round")((e, d) => Round(e, d))
    f("np_clip") {
      case Seq(x, lo, hi) => Least(Seq(Greatest(Seq(x, lo)), hi))
      case other => throw new IllegalArgumentException(
        s"np_clip() takes 3 arguments, got ${other.length}")
    }
    f("np_where") {
      case Seq(c, a, b) => If(Cast(c, BooleanType), a, b)
      case other => throw new IllegalArgumentException(
        s"np_where() takes 3 arguments, got ${other.length}")
    }
    // round-9 on-demand extensions: elementwise arithmetic names (numpy
    // spells operators as functions), bitwise ops, inf/finite
    // predicates, copysign/logaddexp. floor_divide floors (numpy) where
    // SQL `div` truncates — implemented as floor over double division,
    // exact for |operands| < 2^53, long out like numpy's int//int.
    binary("np_add")(Add(_, _))
    binary("np_subtract")(Subtract(_, _))
    binary("np_multiply")(Multiply(_, _))
    binary("np_divide")((a, b) =>
      Divide(Cast(a, DoubleType), Cast(b, DoubleType)))
    binary("np_true_divide")((a, b) =>
      Divide(Cast(a, DoubleType), Cast(b, DoubleType)))
    // floor_divide follows numpy's output-type rule (long for int//int,
    // double once a float is involved) — the branch needs resolved child
    // types, so it lives in the expression's dataType, not here.
    binary("np_floor_divide")(NpFloorDivide(_, _))
    // copysign must read b's IEEE sign BIT (copysign(3, -0.0) = -3.0);
    // a `b >= 0` predicate can't see it, Math.copySign can.
    binary("np_copysign")((a, b) =>
      NpCopySign(Cast(a, DoubleType), Cast(b, DoubleType)))
    // numerically stable log(exp(a)+exp(b)) — the naive form overflows
    // to +inf above ~709 and rounds to max(a,b) for widely separated
    // operands, which is exactly what numpy.logaddexp exists to avoid:
    //   max(a,b) + log1p(exp(-|a-b|)), with a==b short-circuited to
    // a + ln 2 so equal infinities don't produce inf-inf = NaN.
    binary("np_logaddexp") { (a0, b0) =>
      val a = Cast(a0, DoubleType)
      val b = Cast(b0, DoubleType)
      If(EqualTo(a, b),
        Add(a, Literal(math.log(2.0))),
        Add(Greatest(Seq(a, b)),
          Log1p(Exp(UnaryMinus(Abs(Subtract(a, b)))))))
    }
    binary("np_bitwise_and")(BitwiseAnd(_, _))
    binary("np_bitwise_or")(BitwiseOr(_, _))
    binary("np_bitwise_xor")(BitwiseXor(_, _))
    unary("np_invert")(BitwiseNot(_))
    binary("np_left_shift")(ShiftLeft(_, _))
    binary("np_right_shift")(ShiftRight(_, _))
    unary("np_positive")(e => e)
    unary("np_isinf")(e =>
      EqualTo(Abs(Cast(e, DoubleType)), Literal(Double.PositiveInfinity)))
    unary("np_isfinite")(e => And(Not(IsNaN(Cast(e, DoubleType))),
      Not(EqualTo(Abs(Cast(e, DoubleType)), Literal(Double.PositiveInfinity)))))

    // np aggregates, usable anywhere an aggregate is legal
    // (reference: vinum/core/functions.py:402-406 aliases np.min/max/sum)
    // np.std/np.var are POPULATION moments (numpy ddof=0), deliberately
    // not SQL's sample stddev/variance; np.median is exact.
    unary("np_min")(Min(_))
    unary("np_max")(Max(_))
    unary("np_sum")(Sum(_))
    unary("np_mean")(Average(_))
    unary("np_std")(e => StddevPop(Cast(e, DoubleType)))
    unary("np_var")(e => VariancePop(Cast(e, DoubleType)))
    unary("np_median")(e => Median(e))
    // np.percentile (q in 0-100) / np.quantile (q in 0-1): numpy's default
    // 'linear' interpolation is exactly Spark's Percentile and DuckDB's
    // quantile_cont (the p05 precedent). q/100 is one correctly-rounded
    // division, so 90 -> the same double 0.9 literal the oracle writes.
    binary("np_percentile")((x, q) =>
      new Percentile(x, Divide(Cast(q, DoubleType), Literal(100.0))))
    binary("np_quantile")((x, q) => new Percentile(x, Cast(q, DoubleType)))

    // ---- hashing / vector operators (engine extensions) ----
    def isIntegral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v, dt) if v != null && isIntegral(dt) => v.toString.toInt
      case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
    }
    def longLit(e: Expression, what: String): Long = e match {
      case Literal(v, dt) if v != null && isIntegral(dt) => v.toString.toLong
      case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
    }
    // the custom expressions skip Catalyst's implicit-cast machinery
    // (private[sql]); builders insert the casts explicitly instead
    def darr(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
    def larr(e: Expression): Expression = Cast(e, ArrayType(LongType))
    f("cosine_sim") {
      case Seq(a, b) => CosineSim(darr(a), darr(b))
      case other     => throw new IllegalArgumentException(
        s"cosine_sim() takes 2 arguments, got ${other.length}")
    }
    f("cms_estimate") {
      case Seq(sk, it) => CmsEstimate(Cast(sk, BinaryType), Cast(it, LongType))
      case other       => throw new IllegalArgumentException(
        s"cms_estimate() takes 2 arguments, got ${other.length}")
    }
    f("jaccard_sorted") {
      case Seq(a, b) => JaccardSorted(a, b)
      case other     => throw new IllegalArgumentException(
        s"jaccard_sorted() takes 2 arguments, got ${other.length}")
    }
    f("jaro_winkler") {
      case Seq(a, b) => JaroWinkler(Cast(a, StringType), Cast(b, StringType))
      case other     => throw new IllegalArgumentException(
        s"jaro_winkler() takes 2 arguments, got ${other.length}")
    }
    f("minhash_sig") {
      case Seq(a, n)    => MinHashSig(larr(a), intLit(n, "numHashes"), DefaultSeed)
      case Seq(a, n, s) => MinHashSig(larr(a), intLit(n, "numHashes"), longLit(s, "seed"))
      case other        => throw new IllegalArgumentException(
        s"minhash_sig() takes 2-3 arguments, got ${other.length}")
    }
    f("simhash64") {
      case Seq(a)    => SimHash64(larr(a), DefaultSeed)
      case Seq(a, s) => SimHash64(larr(a), longLit(s, "seed"))
      case other     => throw new IllegalArgumentException(
        s"simhash64() takes 1-2 arguments, got ${other.length}")
    }
    f("window_hashes") {
      case Seq(a, kk)    => WindowHashes(larr(a), intLit(kk, "k"), DefaultSeed)
      case Seq(a, kk, s) => WindowHashes(larr(a), intLit(kk, "k"), longLit(s, "seed"))
      case other         => throw new IllegalArgumentException(
        s"window_hashes() takes 2-3 arguments, got ${other.length}")
    }
    f("point_in_polygon") {
      case Seq(px, py, xs, ys) =>
        PointInPolygon(Cast(px, LongType), Cast(py, LongType),
          larr(xs), larr(ys))
      case other => throw new IllegalArgumentException(
        s"point_in_polygon() takes 4 arguments, got ${other.length}")
    }
    def strLit(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case _ => throw new IllegalArgumentException(s"$what must be a string literal")
    }
    // content-defined chunking: fixed window w=8 / base 31 (the exact
    // long-arithmetic envelope), divisor selects the expected chunk size
    // (boundary probability 1/div per position), rem pinned to div-1
    f("cdc_chunks") {
      case Seq(e)    => CdcChunks(Cast(e, StringType), 8, 31L, 64L, 63L)
      case Seq(e, d) =>
        val dv = longLit(d, "div")
        CdcChunks(Cast(e, StringType), 8, 31L, dv, dv - 1)
      case other     => throw new IllegalArgumentException(
        s"cdc_chunks() takes 1-2 arguments, got ${other.length}")
    }
    f("unicode_normalize") {
      case Seq(e)    => UnicodeNormalize(Cast(e, StringType), "NFC")
      case Seq(e, m) => UnicodeNormalize(Cast(e, StringType), strLit(m, "form"))
      case other     => throw new IllegalArgumentException(
        s"unicode_normalize() takes 1-2 arguments, got ${other.length}")
    }
    // merges table arrives as a foldable array<string> literal of
    // "left right" entries — extracted once at plan time, so the vocab is
    // a per-task reference object, never per-row work
    def mergesLit(e: Expression, what: String): Seq[(String, String)] = e match {
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData,
                   ArrayType(StringType, _)) if v != null =>
        (0 until v.numElements()).map { i =>
          val s = v.getUTF8String(i).toString
          val sp = s.indexOf(' ')
          require(sp > 0 && sp < s.length - 1,
            s"$what entries must be 'left right', got '$s'")
          (s.substring(0, sp), s.substring(sp + 1))
        }
      case _ => throw new IllegalArgumentException(
        s"$what must be an array<string> literal of 'left right' pairs")
    }
    f("bpe_token_count") {
      case Seq(t, m) => BpeTokenCount(Cast(t, StringType), mergesLit(m, "merges"))
      case other     => throw new IllegalArgumentException(
        s"bpe_token_count() takes 2 arguments, got ${other.length}")
    }
    f("bpe_tokens") {
      case Seq(t, m) => BpeTokens(Cast(t, StringType), mergesLit(m, "merges"))
      case other     => throw new IllegalArgumentException(
        s"bpe_tokens() takes 2 arguments, got ${other.length}")
    }
    f("bloom_agg") {
      case Seq(e, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          Cast(e, LongType), longLit(n, "expectedItems")).toAggregateExpression()
      case Seq(e, n, b) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          Cast(e, LongType), Literal(longLit(n, "expectedItems")),
          Literal(longLit(b, "numBits"))).toAggregateExpression()
      case other => throw new IllegalArgumentException(
        s"bloom_agg() takes 2-3 arguments, got ${other.length}")
    }
    f("bloom_might_contain") {
      case Seq(b, v) => BloomFilterMightContain(b, Cast(v, LongType))
      case other     => throw new IllegalArgumentException(
        s"bloom_might_contain() takes 2 arguments, got ${other.length}")
    }
    f("vec_sum") {
      case Seq(e)  => VecSumAgg(darr(e), isLong = false).toAggregateExpression()
      case other   => throw new IllegalArgumentException(
        s"vec_sum() takes 1 argument, got ${other.length}")
    }
    f("vec_sum_long") {
      case Seq(e)  => VecSumAgg(larr(e), isLong = true).toAggregateExpression()
      case other   => throw new IllegalArgumentException(
        s"vec_sum_long() takes 1 argument, got ${other.length}")
    }
    f("topk_by") {
      case Seq(score, id, kk) =>
        TopKByScore(Cast(score, DoubleType), Cast(id, LongType), intLit(kk, "k"))
      case other => throw new IllegalArgumentException(
        s"topk_by() takes 3 arguments, got ${other.length}")
    }
    f("sign_bits") {
      case Seq(a, n)    => SignBits(darr(a), intLit(n, "bits"), DefaultSeed)
      case Seq(a, n, s) => SignBits(darr(a), intLit(n, "bits"), longLit(s, "seed"))
      case other        => throw new IllegalArgumentException(
        s"sign_bits() takes 2-3 arguments, got ${other.length}")
    }

    // ---- DuckDB list/text surface (q65): spelling aliases onto the
    // native collection / higher-order builtins, so DuckDB-dialect
    // statements run SAME-TEXT on both engines. Pure name delegation
    // (UnresolvedFunction → the analyzer's own resolution): everything
    // stays a codegen'd builtin. Only semantically IDENTICAL pairs are
    // aliased — list_position (0 vs NULL on miss) and list_sum (typing)
    // are deliberately absent.
    def dialectAlias(name: String, target: String): Unit =
      f(name)(exprs => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq(target), exprs, isDistinct = false))
    dialectAlias("unnest", "explode")
    // lambda arguments must land DIRECTLY in a higher-order expression —
    // the analyzer rejects a lambda under UnresolvedFunction
    f("list_transform") {
      case Seq(xs, lf) => ArrayTransform(xs, lf)
      case other => throw new IllegalArgumentException(
        s"list_transform() takes (list, lambda), got ${other.length} args")
    }
    f("list_filter") {
      case Seq(xs, lf) => ArrayFilter(xs, lf)
      case other => throw new IllegalArgumentException(
        s"list_filter() takes (list, lambda), got ${other.length} args")
    }
    dialectAlias("list_distinct", "array_distinct")
    dialectAlias("list_contains", "array_contains")
    dialectAlias("list_max", "array_max")
    dialectAlias("list_min", "array_min")
    dialectAlias("list_append", "array_append")
    // DuckDB spells list_prepend(element, list); Spark's builtin takes
    // (list, element) — swap at the alias boundary
    f("list_prepend") {
      case Seq(e, xs) => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq("array_prepend"), Seq(xs, e),
          isDistinct = false)
      case other => throw new IllegalArgumentException(
        s"list_prepend() takes (element, list), got ${other.length} args")
    }
    dialectAlias("list_concat", "concat")
    dialectAlias("array_length", "size")
    // array_to_string(arr, sep) ≡ array_join (both skip NULL elements —
    // probed 'a',NULL,'b' → "a,b" on both engines)
    dialectAlias("array_to_string", "array_join")
    // DuckDB's list(x) aggregate ≡ collect_list (both insertion-ordered,
    // both order-nondeterministic without the q67 ORDER BY form, which
    // the ordered-aggregate rewrite handles before name resolution)
    dialectAlias("list", "collect_list")
    // DuckDB aggregate spellings (q74): arg_max/arg_min are Spark's
    // max_by/min_by; quantile_cont is the exact interpolating
    // percentile (the np_quantile lowering — Spark's median/percentile
    // use the same interpolation, probed equal against DuckDB)
    dialectAlias("arg_max", "max_by")
    dialectAlias("arg_min", "min_by")
    f("quantile_cont") {
      case Seq(x, q) => new Percentile(x, Cast(q, DoubleType))
      case other => throw new IllegalArgumentException(
        s"quantile_cont() takes (value, q), got ${other.length} args")
    }
    // strftime/strptime (q77): DuckDB's %-directive formats translate
    // to Spark's Java datetime patterns at ANALYSIS time (the format
    // must be a literal — a runtime-varying format cannot translate);
    // literal runs with letters get Java-pattern quoting. Curated
    // directive map; an unmapped %x refuses loudly.
    def strfArgs(name: String, exprs: Seq[Expression],
                 build: (Expression, String) => Expression): Expression =
      exprs match {
        case Seq(v, Literal(fmt: org.apache.spark.unsafe.types.UTF8String,
                            StringType)) =>
          build(v, strftimeToJava(fmt.toString))
        case Seq(_, _) => throw new IllegalArgumentException(
          s"$name() needs a LITERAL format string — a runtime-varying " +
            "%-format cannot translate to a Spark datetime pattern")
        case other => throw new IllegalArgumentException(
          s"$name() takes (value, format), got ${other.length} args")
      }
    f("strftime")(exprs => strfArgs("strftime", exprs, (v, jf) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("date_format"), Seq(v, Literal(jf)), isDistinct = false)))
    f("strptime")(exprs => strfArgs("strptime", exprs, (v, jf) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
        Seq("to_timestamp"), Seq(v, Literal(jf)), isDistinct = false)))
    // len: Spark's builtin is a pure length alias (strings/binary); the
    // DuckDB spelling is polymorphic — arrays/maps count elements
    // (q71: len([x FOR x IN …]) is idiomatic there). LenPoly dispatches
    // on the resolved child type and replaces with the native Size /
    // Length, so nothing leaves codegen.
    f("len") {
      case Seq(e) => LenPoly(e)
      case other => throw new IllegalArgumentException(
        s"len() takes 1 argument, got ${other.length}")
    }
    dialectAlias("string_split_regex", "split")
    // generate_series: both ends inclusive like Spark sequence, BUT the
    // engines disagree off the happy path (probed): DuckDB returns []
    // when the step's sign cannot reach stop from start (including
    // step = 0), while Spark's sequence(1, 0) DESCENDS to [1, 0] and a
    // sign-mismatched 3-arg form throws — a bare name alias would
    // silently diverge on any data-dependent, possibly-empty range
    // (advice r16). Guarded lowering: emit the range only when the
    // direction reaches, else an empty array of the argument type.
    def guardedSeries(args: Seq[Expression], cond: Expression): Expression =
      CaseWhen(Seq(
        // any NULL argument → NULL (DuckDB, probed; the ELSE arm would
        // otherwise turn a null-bounded range into [] silently)
        (args.map(IsNull(_): Expression).reduce(Or),
          Literal.create(null, NullType)),
        (cond, org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq("sequence"), args, isDistinct = false))),
        // unreachable-direction ELSE: an empty array of the bound type
        Some(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq("slice"),
          Seq(CreateArray(Seq(args.head)), Literal(1), Literal(0)),
          isDistinct = false)))
    f("generate_series") {
      case Seq(a, b) => guardedSeries(Seq(a, b), GreaterThanOrEqual(b, a))
      case Seq(a, b, s) => guardedSeries(Seq(a, b, s),
        Or(And(GreaterThan(s, Literal(0)), GreaterThanOrEqual(b, a)),
          And(LessThan(s, Literal(0)), LessThanOrEqual(b, a))))
      case other => throw new IllegalArgumentException(
        s"generate_series() takes 2-3 arguments, got ${other.length}")
    }
    // list_extract: 1-based, NULL out of bounds (DuckDB) — Spark's ANSI
    // element_at THROWS there, try_element_at matches
    dialectAlias("list_extract", "try_element_at")
    f("list_sort") {
      case Seq(e) => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq("sort_array"), Seq(e), isDistinct = false)
      case other => throw new IllegalArgumentException(
        s"list_sort() takes 1 argument, got ${other.length}")
    }
    f("list_reverse_sort") {
      case Seq(e) => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq("sort_array"), Seq(e, Literal(false)),
          isDistinct = false)
      case other => throw new IllegalArgumentException(
        s"list_reverse_sort() takes 1 argument, got ${other.length}")
    }
    f("list_unique") {
      case Seq(e) => org.apache.spark.sql.catalyst.analysis
        .UnresolvedFunction(Seq("size"), Seq(
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq("array_distinct"), Seq(e), isDistinct = false)),
          isDistinct = false)
      case other => throw new IllegalArgumentException(
        s"list_unique() takes 1 argument, got ${other.length}")
    }
    // DuckDB string_split takes a LITERAL separator; Spark split takes a
    // regex — quote the literal so both split identically. A non-literal
    // separator refuses loudly (quoting must happen at plan time).
    f("string_split") {
      case Seq(s, Literal(sep, StringType)) if sep != null =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq("split"), Seq(s, Literal(
            java.util.regex.Pattern.quote(sep.toString))),
          isDistinct = false)
      case _ => throw new IllegalArgumentException(
        "string_split(str, sep) needs a literal separator — use " +
          "string_split_regex for pattern splits")
    }
  }
  /** DuckDB/C strftime %-directives → Spark's Java datetime pattern
    * (q77). Curated map; unmapped directives refuse loudly. Literal
    * runs containing letters (or quotes) are Java-pattern-quoted so
    * free text like "at" never becomes a pattern letter.
    */
  private[functions] def strftimeToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      val s = lit.toString
      if (s.exists(_.isLetter) || s.contains("'"))
        out.append('\'').append(s.replace("'", "''")).append('\'')
      else out.append(s)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val dash = fmt.charAt(i + 1) == '-' && i + 2 < fmt.length
        val dir = if (dash) fmt.substring(i, i + 3) else fmt.substring(i, i + 2)
        val mapped = dir match {
          case "%Y" => "yyyy"
          case "%y" => "yy"
          case "%m" => "MM"
          case "%d" => "dd"
          case "%H" => "HH"
          case "%M" => "mm"
          case "%S" => "ss"
          case "%I" => "hh"
          case "%p" => "a"
          case "%a" => "EEE"
          case "%A" => "EEEE"
          case "%b" => "MMM"
          case "%B" => "MMMM"
          case "%j" => "DDD"
          case "%f" => "SSSSSS"
          case "%g" => "SSS"
          case "%-d" => "d"
          case "%-m" => "M"
          case "%-H" => "H"
          case "%-M" => "m"
          case "%-S" => "s"
          case "%-j" => "D"
          case "%%" => ""
          case other => throw new IllegalArgumentException(
            s"strftime/strptime directive '$other' has no Spark datetime " +
              "pattern mapping - supported: %Y %y %m %d %H %M %S %I %p " +
              "%a %A %b %B %j %f %g (%-variants for no-pad) %%")
        }
        if (dir == "%%") lit.append('%')
        else { flush(); out.append(mapped) }
        i += dir.length
      } else { lit.append(fmt.charAt(i)); i += 1 }
    }
    flush()
    out.toString
  }
}
