package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, First, Last, ListAgg}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._

/** Tight JVM loops the gcd/lcm codegen calls into (static forwarders make
  * `graft.functions.NumKernels.gcd(...)` resolvable from generated Java). */
object NumKernels {
  def gcd(a: Long, b: Long): Long = {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0) { val t = x % y; x = y; y = t }
    x
  }
  def lcm(a: Long, b: Long): Long = {
    val x = math.abs(a); val y = math.abs(b)
    if (x == 0 || y == 0) 0L else x / gcd(x, y) * y
  }
  /** Postgres initcap: a letter following any non-alphanumeric is a word
    * start (Spark's initcap only splits on spaces). */
  def pgInitcap(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var prevAlnum = false
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      sb.append(if (prevAlnum) Character.toLowerCase(c)
                else Character.toUpperCase(c))
      prevAlnum = Character.isLetterOrDigit(c)
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
  /** Postgres regexp_replace: replaces the FIRST match unless the flags
    * contain 'g'; 'i' = case-insensitive (Spark's builtin replaces all). */
  def pgRegexpReplace(
      src: org.apache.spark.unsafe.types.UTF8String,
      pattern: org.apache.spark.unsafe.types.UTF8String,
      rep: org.apache.spark.unsafe.types.UTF8String,
      flags: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val fs = if (flags == null) "" else flags.toString
    var f = 0
    if (fs.contains('i')) f |= java.util.regex.Pattern.CASE_INSENSITIVE
    val m = java.util.regex.Pattern.compile(pattern.toString, f)
      .matcher(src.toString)
    // Postgres replacement semantics: \1..\9 backrefs (a reference to a
    // group beyond the pattern's count is EMPTY, not an error), `\\N` is a
    // literal \N, `$` is literal. Java's replaceAll differs on each, so
    // the replacement is applied manually per match.
    val rs = rep.toString
    def applyRep(): String = {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < rs.length) {
        val c = rs.charAt(i)
        if (c == '\\' && i + 1 < rs.length && rs.charAt(i + 1) == '\\' &&
          i + 2 < rs.length && rs.charAt(i + 2).isDigit) {
          sb.append('\\').append(rs.charAt(i + 2)); i += 3
        } else if (c == '\\' && i + 1 < rs.length && rs.charAt(i + 1).isDigit) {
          val g = rs.charAt(i + 1) - '0'
          if (g <= m.groupCount() && m.group(g) != null) sb.append(m.group(g))
          i += 2
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    val out = new java.lang.StringBuilder()
    var last = 0
    var first = true
    while (m.find() && (first || fs.contains('g'))) {
      out.append(src.toString, last, m.start()).append(applyRep())
      last = m.end()
      first = false
      if (m.end() == m.start()) { // zero-width match safety
        if (last < src.toString.length) out.append(src.toString.charAt(last))
        last += 1
        if (last > src.toString.length) last = src.toString.length
      }
    }
    out.append(src.toString.substring(math.min(last, src.toString.length)))
    org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
  }
}

/** factorial(n) — the reference returns Int128
  * (functions/scalar/builtin/numeric/factorial.rs), so factorial(25) must
  * not overflow at Int64 like Spark's builtin. Surfaced as DECIMAL(38,0)
  * (covers 0!..33!, same ceiling as Int128 minus one bit). Only integral
  * inputs are accepted — the reference rejects Int128 as an input, so
  * factorial(factorial(3)) must stay an analysis error. */
case class GlareFactorial(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def prettyName: String = "factorial"
  override def dataType: DataType = DecimalType(38, 0)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"factorial requires an integer argument, got ${other.simpleString}")
    }
  override def nullSafeEval(v: Any): Any = {
    val n = v.asInstanceOf[Number].longValue()
    if (n < 0 || n > 33) null // negative: reference TODO (null); >33: overflow
    else {
      var acc = BigInt(1)
      var i = 2L
      while (i <= n) { acc *= i; i += 1 }
      Decimal(BigDecimal(acc), 38, 0)
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** graft_list_cmp(a, b) — the reference's list comparison semantics
  * (functions/scalar/builtin/list comparisons;
  * slt/standard/functions/scalar/list_comparisons.slt): element-wise
  * lexicographic, NULL elements compare EQUAL to each other and GREATER
  * than any value (nulls-high), shorter prefix sorts first. Returns
  * -1/0/1; the dialect rewrites `listA < listB` to
  * `graft_list_cmp(listA, listB) < 0`. */
case class GlareListCmp(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "graft_list_cmp"
  override def dataType: DataType = IntegerType
  private lazy val ordering: Ordering[Any] = {
    val elem = (left.dataType, right.dataType) match {
      case (ArrayType(e, _), _) if e != NullType => e
      case (_, ArrayType(e, _)) => e
      case _ => NullType
    }
    elem match {
      case NullType => new Ordering[Any] { def compare(a: Any, b: Any) = 0 }
      case other =>
        org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(other)
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    val (le, re) = (left.dataType, right.dataType) match {
      case (ArrayType(e1, _), ArrayType(e2, _)) => (e1, e2)
      case _ => (NullType, NullType)
    }
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      val (xv, yv) = (if (x.isNullAt(i)) null else x.get(i, le),
        if (y.isNullAt(i)) null else y.get(i, re))
      (xv, yv) match {
        case (null, null) => // equal, keep scanning
        case (null, _) => return 1 // NULL sorts high
        case (_, null) => return -1
        case (xn, yn) =>
          val c = ordering.compare(xn, yn)
          if (c != 0) return if (c < 0) -1 else 1
      }
      i += 1
    }
    Integer.compare(x.numElements(), y.numElements())
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** div(a, b) — the reference's polymorphic division
  * (functions/scalar/builtin/arith/div.rs): integer division when both
  * sides are integral, float division otherwise (div(1.0, 2) = 0.5). */
case class GlareDiv(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "div"
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def intMode: Boolean =
    integral(left.dataType) && integral(right.dataType)
  override def dataType: DataType = if (intMode) LongType else DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    if (intMode)
      a.asInstanceOf[Number].longValue() / b.asInstanceOf[Number].longValue()
    else {
      val (x, y) = (toD(a), toD(b))
      x / y
    }
  private def toD(v: Any): Double = v match {
    case d: java.math.BigDecimal => d.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode) =
    if (intMode)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = (long) $a / (long) $b;")
    else defineCodeGen(ctx, ev, (a, b) => {
      def d(e: String, dt: DataType) = dt match {
        case _: DecimalType => s"$e.toDouble()"
        case _ => s"(double) $e"
      }
      s"${d(a, left.dataType)} / ${d(b, right.dataType)}"
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** initcap with Postgres word boundaries (string/case.rs). */
case class PgInitcap(child: Expression) extends UnaryExpression {
  override def prettyName: String = "initcap"
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    NumKernels.pgInitcap(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode) =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NumKernels.pgInitcap($c);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** regexp_replace with Postgres first-match default + flags
  * (string/regexp_replace.rs). CodegenFallback: SLT-surface only, never in
  * a hot path (pipeline operators use Spark's codegen regexp_replace). */
case class PgRegexpReplace(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "regexp_replace"
  override def dataType: DataType = StringType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.take(3).contains(null)) return null
    val u = vs.map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    NumKernels.pgRegexpReplace(u(0), u(1), u(2),
      if (u.length > 3) u(3) else null)
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(children = cs)
}

/** gcd(a, b) — greatest common divisor of two longs (GlareDB
  * `functions/scalar/builtin/numeric/gcd.rs`; Spark has no built-in). */
case class Gcd(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "gcd"
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    NumKernels.gcd(a.asInstanceOf[Number].longValue(),
      b.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NumKernels.gcd((long) $a, (long) $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** lcm(a, b) — least common multiple (numeric/lcm.rs). */
case class Lcm(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "lcm"
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    NumKernels.lcm(a.asInstanceOf[Number].longValue(),
      b.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NumKernels.lcm((long) $a, (long) $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Function-name compatibility layer: declares the reference's function
  * surface (SURVEY.md §2.4/2.5) under GlareDB's names, so a query written
  * for the reference resolves unchanged. Aliases map to Spark built-in
  * expressions (codegen preserved); only gcd/lcm are new expressions.
  */
object GlareCompat {

  private def inf = Literal(Double.PositiveInfinity)
  private def ninf = Literal(Double.NegativeInfinity)
  private def dbl(e: Expression) = Cast(e, DoubleType)

  /** Scalar and aggregate functions under the reference's names. Some
    * redefine a name Spark already has (trim, regexp_replace, concat, ...);
    * [[graft.GraftExtensions]] installs those only in GlareDB-dialect
    * sessions. */
  val functions: Seq[Declare.Fn] = {
    val decls = Seq.newBuilder[Declare.Fn]
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      decls += Declare.fn(name)(builder)

    // string (string/strpos.rs, trim.rs, case.rs, ...)
    f("strpos")(es => StringLocate(es(1), es(0), Literal(1)))
    f("byte_length")(es => OctetLength(es.head))
    f("ends_with")(es => EndsWith(es(0), es(1)))
    f("starts_with")(es => StartsWith(es(0), es(1)))
    f("suffix")(es => EndsWith(es(0), es(1)))
    f("prefix")(es => StartsWith(es(0), es(1)))
    // Postgres negative-length semantics for left/right (string/case.rs
    // family): right(s,-n) drops the first n chars, left(s,-n) the last n.
    f("right") { es =>
      val (s, n) = (es(0), Cast(es(1), IntegerType))
      If(LessThan(n, Literal(0)),
        Substring(s, Add(UnaryMinus(n), Literal(1)), Literal(Int.MaxValue)),
        If(EqualTo(n, Literal(0)), Literal(""),
          Substring(s, UnaryMinus(n), Literal(Int.MaxValue))))
    }
    f("left") { es =>
      val (s, n) = (es(0), Cast(es(1), IntegerType))
      If(LessThan(n, Literal(0)),
        Substring(s, Literal(1),
          Greatest(Seq(Add(Length(s), n), Literal(0)))),
        Substring(s, Literal(1), n))
    }
    // function-form operators (arith/add.rs … binary/shl.rs, boolean.rs,
    // is.rs, negate.rs — GlareDB exposes every operator as a function; and/
    // or are variadic)
    f("factorial")(es => GlareFactorial(es.head))
    f("graft_list_cmp")(es => GlareListCmp(es(0), es(1)))
    f("add")(es => Add(es(0), es(1)))
    f("sub")(es => Subtract(es(0), es(1)))
    f("mul")(es => Multiply(es(0), es(1)))
    f("div")(es => GlareDiv(es(0), es(1)))
    f("rem")(es => Remainder(es(0), es(1)))
    f("negate")(es => UnaryMinus(es.head))
    f("and")(es => es.reduceLeft(And))
    f("or")(es => es.reduceLeft(Or))
    f("not")(es => Not(es.head))
    f("bitand")(es => BitwiseAnd(es(0), es(1)))
    f("bitor")(es => BitwiseOr(es(0), es(1)))
    f("xor")(es => BitwiseXor(es(0), es(1)))
    f("bitnot")(es => BitwiseNot(es.head))
    // shifts wrap at the LEFT operand's width in the reference
    // (shl(1::TINYINT, 7) = -128): cast the result back with legacy
    // (two's-complement truncating) semantics
    def widthWrap(e: Expression, like: Expression): Expression = {
      val dt = try Some(like.dataType) catch { case _: Exception => None }
      dt match {
        case Some(d @ (ByteType | ShortType | IntegerType | LongType)) =>
          Cast(e, d, None, EvalMode.LEGACY)
        case _ => e
      }
    }
    f("shl")(es => widthWrap(ShiftLeft(es(0), es(1)), es(0)))
    f("shr")(es => widthWrap(ShiftRight(es(0), es(1)), es(0)))
    f("is_true")(es => EqualNullSafe(es.head, Literal(true)))
    f("is_false")(es => EqualNullSafe(es.head, Literal(false)))
    f("is_not_true")(es => Not(EqualNullSafe(es.head, Literal(true))))
    f("is_not_false")(es => Not(EqualNullSafe(es.head, Literal(false))))
    f("is_null")(es => IsNull(es.head))
    f("is_not_null")(es => IsNotNull(es.head))
    f("is_distinct_from")(es => Not(EqualNullSafe(es(0), es(1))))
    f("is_not_distinct_from")(es => EqualNullSafe(es(0), es(1)))
    // Postgres-semantics overrides of Spark builtins (string/case.rs,
    // string/trim.rs, string/regexp_replace.rs, string/split_part.rs):
    //  - trim/ltrim/rtrim(str, chars): Spark's two-arg form is
    //    (trimStr, srcStr) — the reference (and Postgres) is (src, chars);
    //  - initcap: word boundary at any non-alphanumeric;
    //  - regexp_replace: first match only unless flags contain 'g';
    //  - split_part: index 0 → empty string (not an error);
    //  - concat: reject the zero-arg form the reference rejects (one-arg
    //    concat('a') is accepted, per string_concat.slt); string_agg
    //    requires value+delimiter;
    //  - first/last: skip NULLs (aggregate/first.rs).
    f("trim")(es =>
      if (es.length == 1) StringTrim(es.head) else StringTrim(es(0), es(1)))
    f("ltrim")(es =>
      if (es.length == 1) StringTrimLeft(es.head)
      else StringTrimLeft(es(0), es(1)))
    f("rtrim")(es =>
      if (es.length == 1) StringTrimRight(es.head)
      else StringTrimRight(es(0), es(1)))
    f("btrim")(es =>
      if (es.length == 1) StringTrim(es.head) else StringTrim(es(0), es(1)))
    f("initcap")(es => PgInitcap(es.head))
    f("regexp_replace")(es => PgRegexpReplace(es))
    f("split_part") { es =>
      val idx = Cast(es(2), IntegerType)
      If(EqualTo(idx, Literal(0)), Literal(""), SplitPart(es(0), es(1), idx))
    }
    f("concat") { es =>
      if (es.isEmpty)
        throw new IllegalArgumentException("concat requires at least one argument")
      Concat(es.map(e => Cast(e, StringType)))
    }
    // Spark's PARSER owns the names first/last (grammar rule, not registry)
    // with ignoreNulls=false; the SLT dialect rewrites them to these.
    f("glare_first")(es =>
      First(es.head, ignoreNulls = true).toAggregateExpression())
    f("glare_last")(es =>
      Last(es.head, ignoreNulls = true).toAggregateExpression())
    // approx_quantile (aggregate/approx_quantile.rs) = t-digest quantile;
    // Spark's approx_percentile is the same contract
    f("approx_quantile")(es =>
      new ApproximatePercentile(es(0), es(1)).toAggregateExpression())
    f("string_agg") { es =>
      if (es.length < 2)
        throw new IllegalArgumentException(
          "string_agg requires a value and a delimiter")
      ListAgg(es(0), es(1)).toAggregateExpression()
    }
    f("trunc") { es =>
      if (es.length >= 2) TruncDate(es(0), es(1))
      else {
        val x = dbl(es.head)
        // toward zero, surfaced as float64 like the reference (numeric/trunc)
        Cast(If(GreaterThanOrEqual(x, Literal(0.0)), Floor(x), Ceil(x)),
          DoubleType)
      }
    }
    // nested types (list/list_extract.rs — 1-based, out-of-bounds → NULL,
    // struct_funcs.rs)
    f("list_extract")(es => ElementAt(es(0), es(1), None, failOnError = false))
    // element_at shares list_extract's out-of-bounds → NULL semantics in
    // the reference; Spark's builtin throws under ANSI
    f("element_at")(es => ElementAt(es(0), es(1), None, failOnError = false))
    f("list_value")(es => CreateArray(es))
    f("struct_extract")(es => UnresolvedExtractValue(es(0), es(1)))
    // datetime (datetime/epoch.rs:16,34)
    f("epoch")(es => SecondsToTimestamp(es.head))
    f("epoch_ms")(es => MillisToTimestamp(es.head))
    // numeric predicates (numeric/isfinite.rs family)
    f("isinf")(es =>
      Or(EqualTo(dbl(es.head), inf), EqualTo(dbl(es.head), ninf)))
    f("isfinite")(es =>
      Not(Or(IsNaN(dbl(es.head)),
        Or(EqualTo(dbl(es.head), inf), EqualTo(dbl(es.head), ninf)))))
    // spark-compat extension funcs (glaredb_ext_spark csc.rs). LEGACY eval
    // mode: 1/sin(0) is +inf like the reference, not an ANSI error.
    // at the sin=0 pole the reference returns +/-inf (IEEE), not NULL.
    // EqualTo(-0.0, 0.0) is true, so the zero branch must preserve the
    // zero's sign: Math.pow(+/-0.0, -1) is +/-Infinity (odd negative
    // exponent keeps the sign), giving csc(-0.0) = -inf like the reference.
    def overSin(num: Expression, x: Expression): Expression = {
      val s = Sin(dbl(x))
      If(EqualTo(s, Literal(0.0)), Multiply(num, Pow(s, Literal(-1.0))),
        Divide(num, s, EvalMode.LEGACY))
    }
    f("csc")(es => overSin(Literal(1.0), es.head))
    f("cot")(es => overSin(Cos(dbl(es.head)), es.head))
    // sign(NaN) is 0 in the reference (numeric/sign.rs)
    f("sign")(es => If(IsNaN(dbl(es.head)), Literal(0.0), Signum(dbl(es.head))))
    // gcd/lcm (numeric/gcd.rs, lcm.rs)
    f("gcd")(es => Gcd(es(0), es(1)))
    f("lcm")(es => Lcm(es(0), es(1)))
    // explicit cast set (cast/builtin/to_primitive.rs:53-395)
    f("to_int8")(es => Cast(es.head, ByteType))
    f("to_int16")(es => Cast(es.head, ShortType))
    f("to_int32")(es => Cast(es.head, IntegerType))
    f("to_int64")(es => Cast(es.head, LongType))
    f("to_float32")(es => Cast(es.head, FloatType))
    f("to_float64")(es => Cast(es.head, DoubleType))
    f("to_boolean")(es => Cast(es.head, BooleanType))
    f("to_string")(es => Cast(es.head, StringType))
    f("to_binary")(es => Cast(es.head, BinaryType))
    f("to_date")(es => Cast(es.head, DateType))
    decls.result()
  }

  /** Table functions: generate_series plus [[fileAndCatalogTvfs]]. */
  val tableFunctions: Seq[Declare.Tvf] = fileAndCatalogTvfs :+
    // generate_series(start, stop[, step]) — inclusive-stop table function
    // (reference functions/table/builtin/series.rs:19). Registered as a
    // real Spark TVF resolving to a Range logical node.
    Declare.tvf("generate_series") { es =>
      if (es.length < 2 || es.length > 3)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_2300",
          messageParameters = Map("message" ->
            s"generate_series expects 2 or 3 arguments, got ${es.length}"))
      def longOf(e: Expression): Long = {
        if (!e.foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_2300",
            messageParameters = Map("message" ->
              "generate_series arguments must be constant"))
        e.eval().asInstanceOf[Number].longValue()
      }
      val start = longOf(es(0))
      val stop = longOf(es(1))
      val step = if (es.length > 2) longOf(es(2)) else 1L
      if (step == 0)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_2300",
          messageParameters = Map("message" -> "generate_series step must not be zero"))
      // Range is exclusive of end; generate_series is inclusive
      val end = if (step > 0) stop + 1 else stop - 1
      org.apache.spark.sql.catalyst.plans.logical.Range(start, end, step, None)
    }

  // -- system/file table functions (reference functions/table/builtin/) ------

  /** Base dir for relative paths in SLT corpus files (the reference harness
    * resolves them against its repo's slt/ dir). */
  private def sltBase: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props.getOrElse("graft.slt.base", "/root/reference/slt"))

  /** Expand a possibly-glob path into (display, absolute) pairs, sorted.
    * Display paths keep the caller's relative prefix (`../testdata/x/a.txt`)
    * like the reference's `_filename`/glob output. */
  private def expandPath(pattern: String, filesOnly: Boolean = true)
      : Seq[(String, java.nio.file.Path)] = {
    import java.nio.file._
    val hasGlob = pattern.exists("*?[{".contains(_))
    if (!hasGlob) {
      val p = sltBase.resolve(pattern).normalize()
      if (!Files.exists(p))
        throw new java.io.FileNotFoundException(s"$pattern: No such file or directory")
      Seq(pattern -> p)
    } else {
      // deepest static prefix dir, then walk + match the remainder
      val parts = pattern.split("/").toSeq
      val static = parts.takeWhile(!_.exists("*?[{".contains(_)))
      val staticStr = static.mkString("/")
      val dir = (if (staticStr.isEmpty) sltBase
                 else sltBase.resolve(staticStr)).normalize()
      if (!Files.isDirectory(dir)) return Nil
      val rest = parts.drop(static.length).mkString("/")
      val recursive = rest.contains("**")
      val matcher = dir.getFileSystem.getPathMatcher("glob:" + rest)
      val maxDepth = if (recursive) 64 else rest.count(_ == '/') + 1
      val out = Seq.newBuilder[(String, java.nio.file.Path)]
      val stream = Files.walk(dir, maxDepth)
      try {
        stream.forEach { p =>
          if ((Files.isRegularFile(p) || (!filesOnly && p != dir)) &&
            matcher.matches(dir.relativize(p))) {
            val rel = dir.relativize(p).toString
            val display = if (staticStr.isEmpty) rel else s"$staticStr/$rel"
            out += (display -> p)
          }
        }
      } finally stream.close()
      out.result().sortBy(_._1)
    }
  }

  private def utf8Rows(rows: Seq[Seq[Any]]): Seq[org.apache.spark.sql.catalyst.InternalRow] =
    rows.map(r => org.apache.spark.sql.catalyst.InternalRow.fromSeq(r.map {
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case x => x
    }))

  private def localRel(cols: Seq[(String, DataType)], rows: Seq[Seq[Any]]) =
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      cols.map { case (n, t) => AttributeReference(n, t, nullable = true)() },
      utf8Rows(rows))

  /** System-catalog and file TVFs, resolvable from plain `spark.sql` text
    * (reference `functions/table/builtin/`: glob.rs, read_text.rs,
    * system/list_tables… — evaluated eagerly at analysis time, which is the
    * same binding point the reference uses). The catalog TVFs read the
    * session analysing the query.
    */
  private def fileAndCatalogTvfs: Seq[Declare.Tvf] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val decls = Seq.newBuilder[Declare.Tvf]
    def tf(name: String)(b: Seq[Expression] => LogicalPlan): Unit =
      decls += Declare.tvf(name)(b)
    def session = SparkSession.active
    def evalString(e: Expression): String =
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => String.valueOf(other)
      }

    tf("glob") { es =>
      // recursive ** yields files only (reference glob.slt counts 27 files);
      // single-level patterns list directories too
      val pat = evalString(es.head)
      val files = expandPath(pat, filesOnly = pat.contains("**"))
      localRel(Seq("filename" -> StringType), files.map(f => Seq(f._1)))
    }

    // read_text(path | glob | [paths]) → one row per file, column `content`,
    // metadata columns _filename/_rowid via a DSv2 table (TextV2)
    tf("read_text") { es =>
      val paths: Seq[(String, java.nio.file.Path)] = es.head.dataType match {
        case _: ArrayType =>
          val arr = es.head.eval()
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until arr.numElements()).flatMap(i =>
            expandPath(arr.getUTF8String(i).toString))
        case _ => expandPath(evalString(es.head))
      }
      val table = new graft.sources.textv2.TextTable(
        paths.map(_._1), paths.map(_._2.toString))
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None,
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap()))
    }

    // unnest(list) as a table function (table/builtin/unnest.rs)
    tf("unnest") { es =>
      val e = es.head
      e.dataType match {
        case _: ArrayType =>
          Project(
            Seq(Alias(org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute("col"), "unnest")()),
            Generate(Explode(e), Nil, outer = false, None, Nil, OneRowRelation()))
        case _ => // unnest(NULL) → empty relation with a null-typed column
          localRel(Seq("unnest" -> NullType), Nil)
      }
    }

    // the reference session exposes exactly two databases: temp + system
    // (slt/standard/join/system_join.slt counts 2)
    tf("list_databases") { _ =>
      localRel(Seq("database_name" -> StringType, "access_mode" -> StringType),
        Seq(Seq("temp", "ReadWrite"), Seq("system", "ReadOnly")))
    }

    tf("list_tables") { _ =>
      val rows = session.sessionState.catalog.listTables("default")
        .filterNot(_.table.startsWith("graft_path_")) // internal scan views
        .map(t => Seq(t.table, "temp"))
      localRel(Seq("table_name" -> StringType,
        "database_name" -> StringType), rows)
    }

    tf("list_views") { _ =>
      val cat = session.sessionState.catalog
      val temp = cat.getTempViewNames()
        .filterNot(_.startsWith("graft_path_")).map(n => Seq(n))
      localRel(Seq("view_name" -> StringType), temp)
    }

    tf("list_functions") { _ =>
      val aggNames = Set("count", "sum", "avg", "min", "max", "stddev",
        "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance",
        "corr", "covar_pop", "covar_samp", "first", "last", "string_agg",
        "bit_and", "bit_or", "bit_xor", "bool_and", "bool_or",
        "approx_count_distinct", "percentile", "median", "collect_list",
        "collect_set", "regr_count", "regr_avgx", "regr_avgy", "regr_r2",
        "regr_slope", "regr_intercept", "regr_sxx", "regr_syy", "regr_sxy")
      val aliasOf = Map("ceiling" -> "ceil", "char_length" -> "length",
        "character_length" -> "length", "lcase" -> "lower",
        "ucase" -> "upper", "pow" -> "power", "sign" -> "signum")
      val names = session.sessionState.functionRegistry.listFunction()
        .map(_.funcName).distinct.sorted
      val rows = names.map { n =>
        val typ = if (aggNames.contains(n)) "aggregate" else "scalar"
        Seq(n, typ, aliasOf.get(n).orNull)
      }
      localRel(Seq("function_name" -> StringType, "function_type" -> StringType,
        "alias_of" -> StringType), rows)
    }
    decls.result()
  }
}
