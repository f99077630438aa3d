package graft.engine

import graft.functions.{DuckBoolCast, DuckComplexToVarchar, DuckCompositeCast,
  DuckFloorDiv, DuckInstantToVarchar, DuckIntCast, DuckIntervalToVarchar,
  DuckSlice, DuckSubscript, DuckTstzCast}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  CaseWhen, Cast, Coalesce, DateDiff, Divide, EvalMode, ExprId, Expression,
  FromUTCTimestamp, Greatest, If, IntegralDivide, Least, Remainder,
  SubqueryExpression, SubtractDates, TimestampAddInterval,
  TimestampAddYMInterval, ToUTCTimestamp, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  First, Last, Max, Min}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** DuckDB's expression semantics, installed once on the gateway's own
  * session (`ColumnShim.gatewaySession`), so every `spark.sql`, `expr`
  * and DataFrame the gateway builds — SELECT and DML alike — means what
  * DuckDB 1.0 means by the same spelling. Two hooks:
  *
  *  - [[Parser]] swaps the nodes Spark's parser builds from a USER
  *    spelling whose behavior differs from DuckDB's. Only user spellings
  *    exist in a parsed tree: the analyzer's own coercion casts and
  *    synthesized extractions are inserted later and keep Spark
  *    semantics, exactly as DuckDB's implicit coercions are not
  *    user-visible rounding sites.
  *  - [[PlanRule]] swaps the nodes whose DuckDB meaning depends on an
  *    operand TYPE, inside the analyzer's resolution batch, so type
  *    coercion sees the swapped nodes.
  *
  * The session's optimizer also reads small parquet scans from the
  * gateway's driver images (`images.rule`), as DuckDB serves a small
  * table from memory. */
object DuckSemantics {

  def extensions(images: DriverImages): SparkSessionExtensions = {
    val e = new SparkSessionExtensions
    e.injectParser((_, delegate) => new Parser(delegate))
    e.injectResolutionRule(_ => PlanRule)
    e.injectOptimizerRule(_ => images.rule)
    e
  }

  /** Spark's parser, then one transform of the parsed tree:
    *
    *  - `x[i]` → [[DuckSubscript]] (`UnresolvedExtractValue` is the only
    *    node the parser builds for bracket syntax; [[PlanRule]] replaces
    *    it by the operand type's tree);
    *  - casts to LIST/MAP/STRUCT → [[DuckCompositeCast]] (DuckDB parses
    *    its own text grammar from a STRING operand; a non-string operand
    *    goes back to the plain Cast in [[PlanRule]]);
    *  - `div` → [[DuckFloorDiv]]: Spark's IntegralDivide truncates
    *    DECIMAL/DOUBLE operands to BIGINT, DuckDB 1.0 plain-divides them;
    *    on all-integral operands the two agree;
    *  - casts to an integer type → [[DuckIntCast]] (Spark truncates a
    *    fraction, DuckDB rounds);
    *  - casts to BOOLEAN → [[DuckBoolCast]] (Spark's string→bool trims
    *    and accepts yes/no/y/n, DuckDB's set is strict);
    *  - `/` and `%` evaluate in TRY mode: DuckDB's division and modulo
    *    by zero are NULL, never an error (probed for INT/DOUBLE/DECIMAL);
    *  - every ORDER BY key with no NULLS FIRST/LAST gets DuckDB 1.0's
    *    default NULLS LAST ([[explicitNulls]], on the text: the parsed
    *    tree cannot tell an explicit NULLS FIRST from Spark's ASC
    *    default). */
  final class Parser(delegate: ParserInterface) extends ParserInterface {
    private def swapped(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressionsWithSubqueries(parsedSwap)
    override def parsePlan(sql: String): LogicalPlan =
      swapped(delegate.parsePlan(explicitNulls(sql)))
    override def parseQuery(sql: String): LogicalPlan =
      swapped(delegate.parseQuery(explicitNulls(sql)))
    override def parseExpression(sql: String): Expression =
      delegate.parseExpression(explicitNulls(sql)).transformDown(parsedSwap.orElse {
        case s: SubqueryExpression => s.withNewPlan(swapped(s.plan))
      })
    override def parseTableIdentifier(sql: String): TableIdentifier =
      delegate.parseTableIdentifier(sql)
    override def parseFunctionIdentifier(sql: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sql)
    override def parseMultipartIdentifier(sql: String): Seq[String] =
      delegate.parseMultipartIdentifier(sql)
    override def parseTableSchema(sql: String): StructType =
      delegate.parseTableSchema(sql)
    override def parseDataType(sql: String): DataType = delegate.parseDataType(sql)
    override def parseRoutineParam(sql: String): StructType =
      delegate.parseRoutineParam(sql)
  }

  private val IntTargets: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** A cast source inside DuckIntCast's/DuckBoolCast's domain; any other
    * type (interval, date/time) keeps Spark's own cast — e.g. EXTRACT(EPOCH
    * FROM INTERVAL ...) lowers to CAST(interval-second AS BIGINT). */
  private def scalarSource(e: Expression): Boolean = !e.resolved || (e.dataType match {
    case _: NumericType | StringType | BooleanType | NullType => true
    case _ => false
  })

  private val parsedSwap: PartialFunction[Expression, Expression] = {
    case UnresolvedExtractValue(child, key) => DuckSubscript(child, key)
    case c: Cast if (c.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        }) =>
      DuckCompositeCast(c.child, c.dataType, tryMode = c.evalMode == EvalMode.TRY)
    case d: IntegralDivide => DuckFloorDiv(d.left, d.right)
    case c: Cast if IntTargets.contains(c.dataType) && scalarSource(c.child) =>
      DuckIntCast(c.child, c.dataType, tryMode = c.evalMode == EvalMode.TRY)
    case c: Cast if c.dataType == BooleanType && scalarSource(c.child) =>
      DuckBoolCast(c.child, tryMode = c.evalMode == EvalMode.TRY)
    case d: Divide if d.evalContext.evalMode != EvalMode.TRY =>
      d.copy(evalContext = d.evalContext.copy(evalMode = EvalMode.TRY))
    case r: Remainder if r.evalContext.evalMode != EvalMode.TRY =>
      r.copy(evalContext = r.evalContext.copy(evalMode = EvalMode.TRY))
  }

  private val OrderByRe = """(?i)\border\s+by\b""".r

  /** Append DuckDB 1.0's default `NULLS LAST` (probed: the default for
    * BOTH sort directions) to every ORDER BY key that spells no explicit
    * NULLS FIRST/LAST, so explicit and default placements coexist exactly
    * as DuckDB reads them; `ORDER BY ALL` takes the tag like any key.
    * Scans quote- and paren-aware; a key list ends at a top-level
    * LIMIT/OFFSET/FETCH, a window frame spelling (ROWS/RANGE/GROUPS), a
    * set operator, a closing paren, `;`, or end of text. */
  private def explicitNulls(sql0: String): String = {
    val NullsTail = """(?is).*\bnulls\s+(?:first|last)\s*$""".r
    val Stop = """(?is)^(?:limit|offset|fetch|rows|range|groups|union|intersect|except|window)\b""".r
    var text = sql0
    var from = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val lx = SqlLex(text)
      val mk = lx.masked
      lx.find(OrderByRe).find(_.start >= from) match {
        case None => return text
        case Some(mm) =>
          val listStart = mm.end
          var i = listStart; var depth = 0
          var end = text.length
          var done = false
          while (i < mk.length && !done) {
            val c = mk.charAt(i)
            if (c == '(') { depth += 1; i += 1 }
            else if (c == ')') {
              if (depth == 0) { end = i; done = true } else { depth -= 1; i += 1 }
            } else if (c == ';' && depth == 0) { end = i; done = true }
            else if (depth == 0 && (i == listStart ||
                !(Character.isLetterOrDigit(mk.charAt(i - 1)) ||
                  mk.charAt(i - 1) == '_')) &&
                Stop.findPrefixMatchOf(mk.substring(i)).isDefined) {
              end = i; done = true
            } else i += 1
          }
          val items = SqlLex.splitTopLevel(text.substring(listStart, end))
            .map(_.trim).filter(_.nonEmpty)
          if (items.isEmpty) { from = listStart }
          else {
            val tagged = items.map {
              case it if NullsTail.matches(it) => it
              case it => s"$it NULLS LAST"
            }
            val repl = " " + tagged.mkString(", ") + " "
            text = text.substring(0, listStart) + repl + text.substring(end)
            from = listStart + repl.length
          }
      }
    }
    text
  }

  /** The analyzed-plan swaps, run in the analyzer's resolution batch on
    * each node once its operands resolve (operators already analyzed
    * are skipped). Every swap is idempotent, as the batch runs to a
    * fixed point.
    *
    *  1. DuckDB's `DATE - DATE` is a BIGINT day count, Spark's an
    *     INTERVAL DAY. The analyzer builds `SubtractDates` ONLY from a
    *     user-written subtraction of two dates, so the swap is scoped to
    *     the user's spelling. The [[DuckSubscript]]/[[DuckSlice]]
    *     placeholders (planted by the parser and the `graft_duck_slice`
    *     text emission) become their concrete trees for the operand type
    *     (semantics on the expressions' scaladoc; an unresolvable
    *     placeholder never resolves, so analysis refuses it), and a
    *     composite cast of a non-string operand becomes the plain Cast.
    *     This step runs first, so step 2 sees a day count's type.
    *  2. Casts to VARCHAR of LIST/STRUCT/MAP and interval operands render
    *     DuckDB's own spelling ([[DuckComplexToVarchar]],
    *     [[DuckIntervalToVarchar]]); Spark's cast renders structs
    *     `{1, x}`-style and the ANSI interval spelling. AT TIME ZONE /
    *     timezone() chains over a declared-TIMESTAMPTZ column dispatch
    *     to DuckDB's instant overload here, where the column's declared
    *     type is known (the text pass emits the naive to_utc), and an
    *     instant cast to VARCHAR carries the '+00' suffix.
    *  3. Every instant-typed derived alias is tagged with the declared-
    *     type metadata, so `Results` reports TIMESTAMP WITH TIME ZONE and
    *     the '+00' value text at the boundary; references to a tagged
    *     alias carry the tag too. Render-only: execution and parquet
    *     values are unchanged. */
  object PlanRule extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      tagInstants(plan.resolveExpressions(operandSwap).resolveExpressions(varcharSwap))

    private val operandSwap: PartialFunction[Expression, Expression] = {
      case sd: SubtractDates if sd.resolved => Cast(DateDiff(sd.left, sd.right), LongType)
      case s: DuckSubscript if s.resolved => s.duckTree
      case s: DuckSlice if s.resolved => s.duckTree
      case c: DuckCompositeCast if c.child.resolved && c.child.dataType != StringType =>
        if (c.tryMode) Cast(c.child, c.target, None, EvalMode.TRY)
        else Cast(c.child, c.target, None)
    }

    private val varcharSwap: PartialFunction[Expression, Expression] = {
      case c: Cast if c.dataType.isInstanceOf[StringType] && c.child.resolved &&
          isComplex(c.child.dataType) =>
        DuckComplexToVarchar(c.child)
      case c: Cast if c.dataType.isInstanceOf[StringType] && c.child.resolved &&
          isInterval(c.child.dataType) =>
        DuckIntervalToVarchar(c.child)
      case c: Cast if c.dataType.isInstanceOf[StringType] && c.child.resolved =>
        // one fixTzChain per node; returning `c` is a no-op for ordinary
        // string casts
        val f = fixTzChain(c.child)
        if (instantNess(f).contains(true)) DuckInstantToVarchar(f)
        else if (f ne c.child) c.copy(child = f) // chain fixed, result naive
        else c
      case t: ToUTCTimestamp if t.childrenResolved => fixTzChain(t)
      case f: FromUTCTimestamp if f.childrenResolved => fixTzChain(f)
    }

    private def isComplex(dt: DataType): Boolean =
      dt.isInstanceOf[ArrayType] || dt.isInstanceOf[MapType] || dt.isInstanceOf[StructType]

    private def isInterval(dt: DataType): Boolean =
      dt.isInstanceOf[DayTimeIntervalType] || dt.isInstanceOf[YearMonthIntervalType] ||
        dt == CalendarIntervalType

    private def isTsType(dt: DataType): Boolean =
      dt.isInstanceOf[TimestampType] || dt == TimestampNTZType

    /** Post-fix instant-ness of a (possibly chained) tz expression; None =
      * unknown (a folded literal — the text dispatch already chose from
      * its spelling and is trusted). Instant-typedness reaches through
      * Max/Min/First/Last aggregates, interval arithmetic and the
      * analyzer's ts→ts re-cast (DuckDB: max(tstz) and tstz + INTERVAL
      * stay TIMESTAMPTZ, probed), each recursing through [[fixTzChain]]
      * so a FIXED chain under them keeps its instant-ness. */
    private def instantNess(e: Expression): Option[Boolean] = e match {
      case _ if !e.resolved => None
      case _: ToUTCTimestamp => Some(true)
      case _: FromUTCTimestamp => Some(false)
      case _: DuckTstzCast => Some(true)
      case a: AttributeReference =>
        if (a.metadata.contains(Results.DuckTypeKey) &&
            a.metadata.getString(Results.DuckTypeKey) == TstzName) Some(true)
        else None
      case al: Alias => instantNess(fixTzChain(al.child))
      case agg: AggregateExpression => agg.aggregateFunction match {
        case m: Max => instantNess(fixTzChain(m.child))
        case m: Min => instantNess(fixTzChain(m.child))
        case f: First => instantNess(fixTzChain(f.child))
        case l: Last => instantNess(fixTzChain(l.child))
        case _ => None
      }
      case ta: TimestampAddInterval => instantNess(fixTzChain(ta.start))
      case ta: TimestampAddYMInterval => instantNess(fixTzChain(ta.timestamp))
      // instant-PRESERVING wrappers: DuckDB coerces coalesce/CASE/IF/
      // greatest/least to TIMESTAMPTZ when ANY branch is one (probed; the
      // naive branch re-interprets in the UTC session zone — identity on
      // the stored micros, so any-instant-child ⇒ instant is value- AND
      // type-exact here)
      case c: Coalesce => anyInstant(c.children)
      case cw: CaseWhen => anyInstant(cw.branches.map(_._2) ++ cw.elseValue)
      case i: If => anyInstant(Seq(i.trueValue, i.falseValue))
      case g: Greatest => anyInstant(g.children)
      case l: Least => anyInstant(l.children)
      case w: WindowExpression => instantNess(fixTzChain(w.windowFunction))
      // never through string/date casts, whose semantics the text pass
      // already owns — only the analyzer's ts→ts wrapper
      case c: Cast if isTsType(c.dataType) && isTsType(c.child.dataType) =>
        instantNess(fixTzChain(c.child))
      case _ => None
    }

    private def anyInstant(es: Seq[Expression]): Option[Boolean] =
      if (es.exists(e => instantNess(fixTzChain(e)).contains(true))) Some(true)
      else None

    /** Re-derive a whole AT TIME ZONE / timezone() CHAIN bottom-up: DuckDB
      * alternates instant↔naive per application, and a single flip at the
      * chain's bottom (a declared-tstz column) must cascade — in
      * `t AT NY AT Tokyo`, flipping only the inner node would leave the
      * outer one running the wrong way. */
    private def fixTzChain(e: Expression): Expression = e match {
      case t: ToUTCTimestamp =>
        val l = fixTzChain(t.left)
        instantNess(l) match {
          case Some(true) => FromUTCTimestamp(l, t.right)
          case _ => if (l eq t.left) t else ToUTCTimestamp(l, t.right)
        }
      case f: FromUTCTimestamp =>
        val l = fixTzChain(f.left)
        instantNess(l) match {
          case Some(false) => ToUTCTimestamp(l, f.right)
          case _ => if (l eq f.left) f else FromUTCTimestamp(l, f.right)
        }
      case other => other
    }

    private val TstzName = "TIMESTAMP WITH TIME ZONE"

    private def needsTag(al: Alias): Boolean =
      al.resolved && isTsType(al.dataType) && !al.metadata.contains(Results.DuckTypeKey) &&
        instantNess(fixTzChain(al.child)).contains(true)

    private def withKey(md: Metadata): Metadata =
      new MetadataBuilder().withMetadata(md).putString(Results.DuckTypeKey, TstzName).build()

    private def tagInstants(plan: LogicalPlan): LogicalPlan = {
      var tagged = Set.empty[ExprId]
      val p1 = plan.resolveExpressions {
        case al: Alias if needsTag(al) =>
          tagged += al.exprId
          Alias(al.child, al.name)(al.exprId, al.qualifier,
            Some(withKey(al.metadata)), al.nonInheritableMetadataKeys)
      }
      // a reference resolved before its alias was tagged (an outer
      // Project's bare attribute) carries the pre-tag metadata
      if (tagged.isEmpty) p1
      else p1.resolveExpressions {
        case a: AttributeReference if tagged.contains(a.exprId) &&
            !a.metadata.contains(Results.DuckTypeKey) =>
          a.withMetadata(withKey(a.metadata))
      }
    }
  }
}
