package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB's cast-to-integer semantics, exactly as DuckDB 1.0 evaluates
  * them (every corner probed against the oracle engine) — Spark's CAST
  * TRUNCATES fractional values toward zero; DuckDB ROUNDS, with a rounding
  * mode that depends on the SOURCE type:
  *
  *   - DECIMAL → half away from zero (`CAST(2.5 AS INT)` = 3, `-2.5` → -3);
  *   - DOUBLE/FLOAT → half to even (`CAST(2.5::DOUBLE AS INT)` = 2,
  *     `3.5::DOUBLE` → 4) — `Math.rint`;
  *   - VARCHAR → parsed as a decimal, then half away from zero
  *     (`CAST('3.9' AS INT)` = 4); a non-numeric string raises DuckDB's
  *     loud Conversion Error (or NULL under TRY_CAST);
  *   - BOOLEAN → 1/0; integrals pass through.
  *
  * Out-of-range values raise like DuckDB ("can't be cast"), or NULL in
  * `tryMode` (TRY_CAST). The gateway swaps every EXPLICIT user cast to an
  * integer type in the parsed plan for this node (implicit analyzer casts
  * are inserted later and keep Spark semantics) — see
  * `graft.engine.DuckSemantics.Parser`. */
case class DuckIntCast(child: Expression, override val dataType: DataType,
    tryMode: Boolean) extends UnaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | StringType | BooleanType | NullType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cannot cast ${other.catalogString} to ${dataType.catalogString}")
  }

  /** Boxed cast usable from both interpreted eval and generated code;
    * null = TRY_CAST absorbed a conversion/range failure. */
  def castBoxed(v: Any): Any = {
    try {
      val bd: JBigDecimal = child.dataType match {
        case DoubleType =>
          val d = v.asInstanceOf[Double]
          if (d.isNaN || d.isInfinite) throw new ArithmeticException(
            s"Could not convert double $d to ${dataType.catalogString}")
          JBigDecimal.valueOf(Math.rint(d)) // half to even, like DuckDB
        case FloatType =>
          val d = v.asInstanceOf[Float].toDouble
          if (d.isNaN || d.isInfinite) throw new ArithmeticException(
            s"Could not convert float $d to ${dataType.catalogString}")
          JBigDecimal.valueOf(Math.rint(d))
        case _: DecimalType =>
          v.asInstanceOf[Decimal].toJavaBigDecimal
            .setScale(0, RoundingMode.HALF_UP) // half away from zero
        case StringType =>
          val s = v.toString.trim
          // DuckDB parses unsigned 0x/0X hex and 0b/0B binary literals in
          // string→int casts (probed: '0x10'::INT = 16, '0b101'::INT = 5;
          // a sign or empty digits is a Conversion Error)
          if (s.length > 2 && (s.startsWith("0x") || s.startsWith("0X")))
            new JBigDecimal(new java.math.BigInteger(s.substring(2), 16))
          else if (s.length > 2 && (s.startsWith("0b") || s.startsWith("0B")))
            new JBigDecimal(new java.math.BigInteger(s.substring(2), 2))
          else new JBigDecimal(s).setScale(0, RoundingMode.HALF_UP)
        case BooleanType =>
          if (v.asInstanceOf[Boolean]) JBigDecimal.ONE else JBigDecimal.ZERO
        case ByteType | ShortType | IntegerType | LongType =>
          JBigDecimal.valueOf(v.asInstanceOf[java.lang.Number].longValue())
        case other => throw new UnsupportedOperationException(
          s"cast ${other.catalogString} to ${dataType.catalogString}")
      }
      val l = bd.longValueExact() // overflow past BIGINT raises, like DuckDB
      dataType match {
        case LongType => java.lang.Long.valueOf(l)
        case IntegerType =>
          if (l < Int.MinValue || l > Int.MaxValue) throw new ArithmeticException(
            s"value $l can't be cast to ${dataType.catalogString}")
          java.lang.Integer.valueOf(l.toInt)
        case ShortType =>
          if (l < Short.MinValue || l > Short.MaxValue) throw new ArithmeticException(
            s"value $l can't be cast to ${dataType.catalogString}")
          java.lang.Short.valueOf(l.toShort)
        case ByteType =>
          if (l < Byte.MinValue || l > Byte.MaxValue) throw new ArithmeticException(
            s"value $l can't be cast to ${dataType.catalogString}")
          java.lang.Byte.valueOf(l.toByte)
        case other => throw new UnsupportedOperationException(
          s"DuckIntCast target ${other.catalogString}")
      }
    } catch {
      // only expected cast failures become NULL; fatal errors propagate
      case scala.util.control.NonFatal(_) if tryMode => null
    }
  }

  override def nullSafeEval(input: Any): Any = castBoxed(input match {
    case s: UTF8String => s.toString
    case other => other
  })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("duckIntCast", this, classOf[DuckIntCast].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dic")
      s"""
         |Object $tmp = $ref.castBoxed($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ($boxed) $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DuckIntCast =
    copy(child = newChild)
}

/** DuckDB's cast-to-BOOLEAN for VARCHAR sources, exactly as probed on
  * 1.0: case-insensitive `true`/`false`, single-letter `t`/`f`, or
  * `0`/`1` — with NO whitespace trimming (`' t '` and `' true '` raise
  * Conversion Error; Spark's lenient cast trims and accepts yes/no/y/n,
  * which would be silently wrong here). Failures raise, or NULL under
  * TRY_CAST. Non-string sources agree between the engines already
  * (numeric nonzero → true) and keep the same semantics here. */
case class DuckBoolCast(child: Expression, tryMode: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | StringType | BooleanType | NullType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cannot cast ${other.catalogString} to boolean")
  }

  def castBoxed(v: Any): Any = child.dataType match {
    case StringType =>
      val s = v.toString
      if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("t") || s == "1")
        java.lang.Boolean.TRUE
      else if (s.equalsIgnoreCase("false") || s.equalsIgnoreCase("f") ||
          s == "0") java.lang.Boolean.FALSE
      else if (tryMode) null
      else throw new IllegalArgumentException(
        s"Could not convert string '$s' to BOOL")
    case BooleanType => v
    case ByteType | ShortType | IntegerType | LongType =>
      java.lang.Boolean.valueOf(v.asInstanceOf[java.lang.Number].longValue != 0L)
    case FloatType | DoubleType =>
      java.lang.Boolean.valueOf(v.asInstanceOf[java.lang.Number].doubleValue != 0.0)
    case _: DecimalType =>
      java.lang.Boolean.valueOf(
        v.asInstanceOf[Decimal].toJavaBigDecimal.signum != 0)
    case _ => null // NullType
  }

  override def nullSafeEval(input: Any): Any = castBoxed(input match {
    case s: UTF8String => s.toString
    case other => other
  })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("duckBoolCast", this, classOf[DuckBoolCast].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dbc")
      s"""
         |Object $tmp = $ref.castBoxed($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (java.lang.Boolean) $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DuckBoolCast =
    copy(child = newChild)
}
