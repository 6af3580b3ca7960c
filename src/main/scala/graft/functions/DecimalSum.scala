package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Exact decimal sums over i64 unscaled values — the reference's Decimal64
  * representation (`arrays/datatype.rs`: the default decimal is
  * Decimal64(18,3) stored as physical Int64) applied to Spark aggregation.
  *
  * Spark's built-in `Sum` over DecimalType keeps a Decimal buffer of
  * precision `p+10`; above 18 digits that leaves the compact-long
  * representation and every row pays a BigDecimal allocation (measured on
  * sf0.1 q01: decimal sums 690 ms vs 300 ms for double sums over the same
  * 590k rows). `SumUnscaled128` instead sums *unscaled* i64 values into a
  * 128-bit (hi, lo) accumulator with branch-free carry arithmetic — plain
  * long adds in whole-stage codegen, exact at any realistic corpus size
  * (2^127 / 10^4 ≈ 1.7e34 in value units, ~19 orders beyond a 100 TB
  * fact table's sum).
  */
object DecimalKernels {
  private val POWS: Array[Double] = (0 to 15).map(i => math.pow(10, i)).toArray
  private val TWO_64 = java.math.BigInteger.ONE.shiftLeft(64)
  private val POW10L: Array[Long] = {
    val a = new Array[Long](19); a(0) = 1L
    var i = 1; while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }; a
  }

  /** Exact unscaled-long conversion matching Spark's double→decimal cast
    * (`Decimal.fromDecimal(BigDecimal.decimal(d).setScale(s, HALF_UP))`,
    * i.e. shortest-representation semantics via BigDecimal.valueOf).
    * Fast path: one multiply + rint when the scaled value is nowhere near
    * a .5 rounding boundary. The boundary band scales with magnitude —
    * fl(d*10^s) can deviate from the exact product by ~2.2e-16·|y|, so a
    * fixed band would mis-round above |y|≈5e11 — and anything still inside
    * the band falls back to the exact BigDecimal path. */
  def toUnscaled(d: Double, scale: Int): Long = {
    val y = d * POWS(scale)
    val ay = math.abs(y)
    if (ay < 1e15) {
      val r = Math.rint(y)
      val fromHalf = math.abs(math.abs(y - r) - 0.5)
      if (fromHalf > math.max(1e-4, 4e-16 * ay)) return r.toLong
    }
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  /** `toUnscaled` with non-ANSI decimal-cast range semantics: returns null
    * (boxed) when the rounded value would not fit DECIMAL(precision, scale)
    * — mirroring CAST(double AS DECIMAL(p,s)) yielding NULL on overflow so
    * the rewritten Sum skips exactly the rows the unrewritten Sum skips.
    * NaN/Infinity → null, like the decimal cast. */
  def toUnscaledChecked(d: Double, precision: Int, scale: Int): java.lang.Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
    val bound = POW10L(math.min(precision, 18))
    val y = d * POWS(scale)
    val ay = math.abs(y)
    if (ay < 1e15) {
      val r = Math.rint(y)
      val fromHalf = math.abs(math.abs(y - r) - 0.5)
      if (fromHalf > math.max(1e-4, 4e-16 * ay)) {
        val l = r.toLong
        return if (l > -bound && l < bound) java.lang.Long.valueOf(l) else null
      }
    }
    val u = java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue()
    if (u.bitLength > 63) return null
    val l = u.longValue()
    if (l > -bound && l < bound) java.lang.Long.valueOf(l) else null
  }

  /** Primitive-return variant of `toUnscaledChecked` for generated code:
    * out-of-range / NaN / Infinity → `Long.MinValue` sentinel instead of a
    * boxed null. The sentinel is unreachable as a real result — valid
    * unscaled values are bounded by ±10^18 (< 2^63) — so the caller can
    * branch on it without ambiguity, keeping the default non-ANSI hot path
    * allocation-free (a per-row java.lang.Long boxing measured 1.7x on the
    * sf0.1 decimal-sum suite). */
  final val OVERFLOW_SENTINEL: Long = java.lang.Long.MIN_VALUE
  def toUnscaledSentinel(d: Double, precision: Int, scale: Int): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return OVERFLOW_SENTINEL
    val bound = POW10L(math.min(precision, 18))
    val y = d * POWS(scale)
    val ay = math.abs(y)
    if (ay < 1e15) {
      val r = Math.rint(y)
      val fromHalf = math.abs(math.abs(y - r) - 0.5)
      if (fromHalf > math.max(1e-4, 4e-16 * ay)) {
        val l = r.toLong
        return if (l > -bound && l < bound) l else OVERFLOW_SENTINEL
      }
    }
    val u = java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue()
    if (u.bitLength > 63) return OVERFLOW_SENTINEL
    val l = u.longValue()
    if (l > -bound && l < bound) l else OVERFLOW_SENTINEL
  }

  /** ANSI-mode variant: out-of-range throws (matching the ANSI decimal
    * cast's NUMERIC_VALUE_OUT_OF_RANGE) instead of nulling. Primitive
    * return — the hot path must not box (a per-row java.lang.Long
    * allocation measured 3x on a 6M-row sum). */
  def toUnscaledAnsi(d: Double, precision: Int, scale: Int): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) ansiOverflow(d, precision, scale)
    val bound = POW10L(math.min(precision, 18))
    val y = d * POWS(scale)
    val ay = math.abs(y)
    if (ay < 1e15) {
      val r = Math.rint(y)
      val fromHalf = math.abs(math.abs(y - r) - 0.5)
      if (fromHalf > math.max(1e-4, 4e-16 * ay)) {
        val l = r.toLong
        if (l > -bound && l < bound) return l
        ansiOverflow(d, precision, scale)
      }
    }
    val u = java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue()
    if (u.bitLength > 63) ansiOverflow(d, precision, scale)
    val l = u.longValue()
    if (l > -bound && l < bound) l
    else ansiOverflow(d, precision, scale)
  }

  private def ansiOverflow(d: Double, precision: Int, scale: Int): Nothing =
    throw new ArithmeticException(
      s"$d cannot be represented as Decimal($precision, $scale). " +
        "If necessary set \"spark.sql.ansi.enabled\" to \"false\" to bypass " +
        "this error, and return NULL instead.")

  /** (hi, lo) 128-bit signed accumulator → double at `outScale`, matching
    * `sum(decimal) |> round(outScale) |> cast(double)` exactly. */
  def i128ToDouble(hi: Long, lo: Long, inScale: Int, outScale: Int): Double = {
    val loBig =
      if (lo >= 0) java.math.BigInteger.valueOf(lo)
      else java.math.BigInteger.valueOf(lo).add(TWO_64)
    val total = java.math.BigInteger.valueOf(hi).shiftLeft(64).add(loBig)
    new java.math.BigDecimal(total, inScale)
      .setScale(outScale, java.math.RoundingMode.HALF_UP)
      .doubleValue()
  }
}

/** Double → unscaled long at `scale` (codegen'd, exact HALF_UP), carrying
  * the range semantics of the decimal cast it replaces: ANSI mode throws on
  * DECIMAL(precision, scale) overflow, non-ANSI emits null (so Sum skips
  * exactly the rows the unrewritten plan skips). */
case class ToUnscaledLong(child: Expression, precision: Int, scale: Int,
    ansi: Boolean)
    extends UnaryExpression with UnaryLike[Expression] {
  override def dataType: DataType = LongType
  override def nullable: Boolean = !ansi || child.nullable
  override protected def nullSafeEval(v: Any): Any =
    if (ansi) DecimalKernels.toUnscaledAnsi(v.asInstanceOf[Double], precision, scale)
    else DecimalKernels.toUnscaledChecked(v.asInstanceOf[Double], precision, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (ansi)
        s"${ev.value} = graft.functions.DecimalKernels.toUnscaledAnsi($c, $precision, $scale);"
      else {
        // Primitive sentinel, not a boxed nullable Long: Long.MIN_VALUE is
        // unreachable as a valid unscaled value (bounded by ±10^18), and a
        // per-row java.lang.Long allocation here regressed every rewritten
        // decimal-sum bench query (q03 0.24→0.40 s at sf0.1).
        val tmp = ctx.freshName("unscaled")
        s"""long $tmp =
           |  graft.functions.DecimalKernels.toUnscaledSentinel($c, $precision, $scale);
           |if ($tmp == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp; }""".stripMargin
      })
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Wrapping i64 add (2's-complement, no ANSI overflow check) — the limb
  * primitive for the 128-bit accumulator, where wrap-around is the point. */
case class WrappingAddLong(left: Expression, right: Expression)
    extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    a.asInstanceOf[Long] + b.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $a + $b;")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Final step: (hi, lo, cnt) → double (null when no inputs). Runs once per
  * group; real codegen (a CodegenFallback here would break whole-stage
  * codegen of ungrouped aggregates, where ctx.INPUT_ROW is null). */
case class I128ScaledToDouble(hi: Expression, lo: Expression, cnt: Expression,
    inScale: Int, outScale: Int)
    extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, cnt)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val n = cnt.eval(input).asInstanceOf[Long]
    if (n == 0L) null
    else DecimalKernels.i128ToDouble(
      hi.eval(input).asInstanceOf[Long], lo.eval(input).asInstanceOf[Long],
      inScale, outScale)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val (h, l, c) = (hi.genCode(ctx), lo.genCode(ctx), cnt.genCode(ctx))
    ev.copy(code = code"""
      ${h.code}
      ${l.code}
      ${c.code}
      boolean ${ev.isNull} = ${c.value} == 0L;
      double ${ev.value} = ${ev.isNull} ? 0.0 :
        graft.functions.DecimalKernels.i128ToDouble(
          ${h.value}, ${l.value}, $inScale, $outScale);""")
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(hi = c(0), lo = c(1), cnt = c(2))
}

/** SUM of unscaled i64 values into a 128-bit (hi, lo) accumulator;
  * evaluates to double at `outScale` (sumd semantics: exact sum, HALF_UP
  * rescale, correctly-rounded double). Carry chain is branch-free long
  * bit-math, so the whole update stays in whole-stage codegen. */
case class SumUnscaled128(child: Expression, inScale: Int, outScale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  /** Unsigned carry out of `a + b` (= newLo): majority(a, b, ~newLo) at
    * bit 63. */
  private def carryOf(a: Expression, b: Expression, newLo: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(newLo))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    // sign-extend v to 128 bits and add: hi += (v >> 63) + carry(lo + v)
    val v = Coalesce(Seq(child, Literal(0L))) // null input → no-op add of 0
    val newLo = WrappingAddLong(lo, v)
    val newHi = WrappingAddLong(hi,
      WrappingAddLong(ShiftRight(v, Literal(63)), carryOf(lo, v, newLo)))
    Seq(newHi, newLo,
      If(IsNull(child), cnt, WrappingAddLong(cnt, Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // limb-wise 128-bit add: both sides' sign context lives in their hi limb
    val newLo = WrappingAddLong(lo.left, lo.right)
    val newHi = WrappingAddLong(WrappingAddLong(hi.left, hi.right),
      carryOf(lo.left, lo.right, newLo))
    Seq(newHi, newLo, WrappingAddLong(cnt.left, cnt.right))
  }

  override lazy val evaluateExpression: Expression =
    I128ScaledToDouble(hi, lo, cnt, inScale, outScale)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Optimizer rule: rewrite the engine's exact-decimal sum pattern
  *
  *   CAST(ROUND(SUM(decimal-expr), 4) AS DOUBLE)          (SQL `sql.sumd`)
  *   CAST(CAST(SUM(decimal-expr) AS DECIMAL(24,4)) AS DOUBLE)  (`QueryDsl.sumd`)
  *
  * into SumUnscaled128 over unscaled i64 arithmetic whenever every leaf of
  * the summed expression is a double→decimal cast or a decimal literal and
  * the combined scale stays ≤ 12. Every Multiply/Add/Subtract the rewrite
  * constructs is forced to ANSI eval mode (the engine itself runs non-ANSI,
  * so the session default would wrap silently) — an i64 overflow in the
  * unscaled arithmetic fails loudly instead of producing a wrong sum.
  * Bit-exact
  * with the decimal path by construction: same per-leaf HALF_UP cast, exact
  * integer sum, same final rescale+double conversion. */
object DecimalSumRewrite extends Rule[LogicalPlan] {

  private val maxScale = 12

  /** ANSI eval context for every arithmetic node the rewrite constructs:
    * i64 overflow must throw, never wrap, whatever the session mode.
    * (Measured at sf0.1: ANSI MathUtils.*Exact arithmetic benches within
    * noise of plain ops here — Math.multiplyExact is a JIT intrinsic and
    * the overflow branch never trains hot.) */
  private val ansi = NumericEvalContext(EvalMode.ANSI, allowDecimalPrecisionLoss = true)

  /** An unscaled-long rewrite of a decimal subtree: the long expression,
    * its decimal scale, an upper bound on the unscaled value's decimal
    * digits (from declared precisions), and whether any leaf came through
    * the bare-column [[UnscaledValue]] fallback. The digit bound gates
    * Multiply rewrites over fallback leaves: a bare decimal(18, s) column
    * really can hold 10^18, so an i64 product over two of them could throw
    * (forced-ANSI) on values vanilla Spark sums fine — whereas the
    * Cast-from-double leaves carry precisions this repo's queries declare
    * tightly, where the ANSI throw is the intended loud backstop. */
  private case class Unscaled(expr: Expression, scale: Int, digits: Int,
      hasFallback: Boolean)

  /** decimal expr → equivalent unscaled-long expr + its scale. Structural
    * decompositions first (they avoid materializing intermediate decimals
    * entirely); any other narrow-decimal expression — an attribute from a
    * CTE or cached relation whose double→decimal cast happened upstream,
    * a decimal-typed function result — falls back to [[UnscaledValue]],
    * which is exact for precision ≤ 18 (the value is stored as a compact
    * long) and keeps the aggregation itself on the i64 fast path. */
  private def toUnscaledExpr(e: Expression): Option[Unscaled] =
    structural(e).orElse(e.dataType match {
      case dt: DecimalType if dt.precision <= 18 && dt.scale <= 6 &&
          dt.scale >= 0 && e.deterministic =>
        Some(Unscaled(UnscaledValue(e), dt.scale, dt.precision, hasFallback = true))
      case _ => None
    })

  private def structural(e: Expression): Option[Unscaled] = e match {
    case Cast(x, dt: DecimalType, _, mode)
        if x.dataType == DoubleType && dt.precision <= 18 && dt.scale <= 6 =>
      Some(Unscaled(ToUnscaledLong(x, dt.precision, dt.scale,
        ansi = mode == EvalMode.ANSI), dt.scale, dt.precision, hasFallback = false))
    // the integral promote Spark inserts for decimal*int (e.g. q11's
    // supplycost * ps_availqty): the unscaled value IS the integer, and
    // the digit bound is a HARD type bound (int < 10^10), not a declared
    // precision — so this is a trusted leaf, not a fallback
    case Cast(x, dt: DecimalType, _, _)
        if dt.scale == 0 && dt.precision <= 18 &&
          (x.dataType == IntegerType || x.dataType == ShortType ||
            x.dataType == ByteType) =>
      val digits = x.dataType match {
        case ByteType => 3
        case ShortType => 5
        case _ => 10
      }
      Some(Unscaled(Cast(x, LongType), 0, digits, hasFallback = false))
    case Literal(d: Decimal, dt: DecimalType) if dt.precision <= 18 =>
      Some(Unscaled(Literal(d.toUnscaledLong), dt.scale,
        math.max(1, math.abs(d.toUnscaledLong).toString.length), hasFallback = false))
    case Multiply(a, b, _) =>
      for { ua <- toUnscaledExpr(a); ub <- toUnscaledExpr(b)
            if ua.scale + ub.scale <= maxScale &&
              // product of fallback (bare-column) leaves must provably fit
              // i64 — their declared precision is all we know about them
              (!(ua.hasFallback || ub.hasFallback) || ua.digits + ub.digits <= 18) }
        yield Unscaled(Multiply(ua.expr, ub.expr, ansi), ua.scale + ub.scale,
          ua.digits + ub.digits, ua.hasFallback || ub.hasFallback)
    case Add(a, b, _) =>
      for { ua <- toUnscaledExpr(a); ub <- toUnscaledExpr(b) } yield {
        val s = ua.scale max ub.scale
        Unscaled(Add(align(ua.expr, ua.scale, s), align(ub.expr, ub.scale, s), ansi), s,
          math.max(ua.digits + (s - ua.scale), ub.digits + (s - ub.scale)) + 1,
          ua.hasFallback || ub.hasFallback)
      }
    case Subtract(a, b, _) =>
      for { ua <- toUnscaledExpr(a); ub <- toUnscaledExpr(b) } yield {
        val s = ua.scale max ub.scale
        Unscaled(Subtract(align(ua.expr, ua.scale, s), align(ub.expr, ub.scale, s), ansi), s,
          math.max(ua.digits + (s - ua.scale), ub.digits + (s - ub.scale)) + 1,
          ua.hasFallback || ub.hasFallback)
      }
    case UnaryMinus(a, _) =>
      toUnscaledExpr(a).map(ua =>
        ua.copy(expr = UnaryMinus(ua.expr, failOnError = true)))
    // the TPC-DS shape: SUM(CASE WHEN <day> THEN price END) — convert every
    // branch value (missing ELSE = null, which the aggregate skips)
    case cw: CaseWhen =>
      val branches = cw.branches.map { case (_, v) => toUnscaledExpr(v) }
      val els = cw.elseValue.map(toUnscaledExpr)
      if (branches.exists(_.isEmpty) || els.exists(_.isEmpty)) None
      else {
        val all = branches.flatten ++ els.flatten
        val s = if (all.isEmpty) 0 else all.map(_.scale).max
        val newBranches = cw.branches.map(_._1).zip(
          branches.flatten.map(u => align(u.expr, u.scale, s)))
        val newElse = els.flatten.map(u => align(u.expr, u.scale, s))
        val digits = if (all.isEmpty) 1 else all.map(u => u.digits + (s - u.scale)).max
        Some(Unscaled(CaseWhen(newBranches, newElse), s, digits,
          all.exists(_.hasFallback)))
      }
    case Literal(null, _: DecimalType) =>
      Some(Unscaled(Literal(null, LongType), 0, 1, hasFallback = false))
    case _ => None
  }

  private def align(u: Expression, from: Int, to: Int): Expression =
    if (from == to) u
    else Multiply(u, Literal(math.pow(10, to - from).toLong), ansi)

  /** AggregateExpression(Sum(decimal)) → AggregateExpression(SumUnscaled128). */
  private def rewriteSum(e: Expression, outScale: Int): Option[Expression] = e match {
    case ae @ AggregateExpression(Sum(inner, _), _, false, None, _)
        if inner.dataType.isInstanceOf[DecimalType] =>
      toUnscaledExpr(inner).map { u =>
        ae.copy(aggregateFunction = SumUnscaled128(u.expr, u.scale, outScale))
      }
    case _ => None
  }

  /** The two sumd-shaped output casts, with `rw` supplying the Sum
    * replacement (expression-local or Project-alias-aware). */
  private def rewriteShapes(e: Expression,
      rw: (Expression, Int) => Option[Expression]): Option[Expression] =
    e match {
      // CAST(ROUND(SUM(..), k) AS DOUBLE)
      case Cast(r: Round, DoubleType, _, _) =>
        r.scale match {
          case Literal(k: Int, IntegerType) if k >= 0 && k <= 6 =>
            rw(r.child, k)
          case _ => None
        }
      // CAST(CAST(SUM(..) AS DECIMAL(p, k)) AS DOUBLE)
      case Cast(Cast(inner, dt: DecimalType, _, _), DoubleType, _, _)
          if dt.precision >= 20 && dt.scale <= 6 =>
        rw(inner, dt.scale)
      case _ => None
    }

  def apply(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    // Pass 1 — aggregate-over-Project aliases (the q09 shape): the Sum's
    // child is an attribute whose defining expression lives one node down
    // (`amount = disc - supplycost*qty` in a subquery select), often at a
    // precision the bare-column fallback must refuse (21,8). Resolve the
    // alias, convert the DEFINITION to unscaled longs, materialize it as a
    // new long column in the same Project (column pruning drops the unused
    // decimal original), and aggregate the long.
    val aliased = plan.transform {
      case agg @ Aggregate(groupings, aggs, proj @ Project(projList, projChild), hint) =>
        val env = AttributeMap(projList.collect {
          case a: Alias if a.child.dataType.isInstanceOf[DecimalType] =>
            (a.toAttribute, a.child)
        })
        if (env.isEmpty) agg
        else {
          val extra = scala.collection.mutable.ArrayBuffer[Alias]()
          def rwAlias(e: Expression, outScale: Int): Option[Expression] = e match {
            case ae @ AggregateExpression(Sum(attr: Attribute, _), _, false, None, _)
                if env.contains(attr) =>
              toUnscaledExpr(env(attr)).map { u =>
                val col = Alias(u.expr, attr.name + "_unscaled")()
                extra += col
                ae.copy(aggregateFunction =
                  SumUnscaled128(col.toAttribute, u.scale, outScale))
              }
            case _ => None
          }
          var changed = false
          def subst(e: Expression): Expression =
            rewriteShapes(e, rwAlias) match {
              case Some(r) => changed = true; r
              case None => e.mapChildren(subst)
            }
          val newAggs = aggs.map(a => subst(a).asInstanceOf[NamedExpression])
          if (!changed) agg
          else Aggregate(groupings, newAggs,
            Project(projList ++ extra, projChild), hint)
        }
    }
    // Pass 2 — expression-local shapes (Sum directly over the conversion).
    aliased.transformAllExpressions {
      case c @ Cast(_, DoubleType, _, _) =>
        rewriteShapes(c, rewriteSum).getOrElse(c)
    }
  }
}

/** SQL declarations for the unscaled-long kernels, for STORED-unscaled
  * layouts (operators/Skew.writeBucketedTpch stages the q01 money/rate
  * columns as unscaled i64 at ingest — the Decimal64 storage idea applied
  * where the scan IS the query):
  *   - `to_unscaled64(d, precision, scale)`: double → unscaled long, exact
  *     HALF_UP, non-ANSI null-on-overflow (identical to the decimal cast
  *     the oracle path applies, so stored values match row-for-row);
  *   - `sum_unscaled128(u, inScale, outScale)`: 128-bit exact sum of
  *     unscaled longs surfaced as double — identical finishing to
  *     `sumd(decimal-expr)` (same rescale + HALF_UP + double), so plans
  *     over stored-unscaled columns stay bit-identical to the decimal
  *     plans they replace.
  */
object DecimalFunctions {
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val functions: Seq[Declare.Fn] = Seq(
    Declare.fn("to_unscaled64")(es => ToUnscaledLong(Cast(es(0), DoubleType),
      intArg(es(1)), intArg(es(2)), ansi = false)),
    Declare.fn("sum_unscaled128")(es =>
      SumUnscaled128(es(0), intArg(es(1)), intArg(es(2))).toAggregateExpression()))
}
