package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils,
  GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DuckDB's VARCHAR → LIST/STRUCT/MAP cast — its own text grammar, NOT
  * JSON (every rule probed on duckdb 1.0):
  *
  *   - list: `[e1, e2, ...]`, elements split on top-level commas
  *     (quote-aware), trimmed; element text is taken VERBATIM for VARCHAR
  *     targets (quotes survive as characters: `'[''a,b'']'::VARCHAR[]` →
  *     `['a,b']` with the quotes in the value);
  *   - struct: `{k: v, ...}`; keys may be bare or quoted (quotes
  *     stripped), matched CASE-SENSITIVELY against the target fields
  *     (`{'A': 1}`::STRUCT(a INT) errors); VALUES have surrounding quotes
  *     stripped (unlike list elements); unspelled fields → NULL;
  *   - map: `{k=v, ...}` — `=` separator, not `:` (the `:` spelling
  *     errors in DuckDB); quotes stripped both sides;
  *   - the exact-case token `NULL` is SQL NULL (`null`/`Null` are data);
  *   - malformed element: strict cast ERRORS (as DuckDB's Conversion
  *     Error), TRY_CAST nulls the element (scalar) or the whole value
  *     (shape mismatch) — probed: `TRY_CAST('[1,x]' AS INT[])` →
  *     `[1, NULL]`, `TRY_CAST('oops' AS INT[])` → NULL.
  *
  * Swapped onto user casts by the gateway's parsed-plan pass; when the
  * operand turns out NOT to be a string, `DuckSemantics.PlanRule`
  * replaces this node with the plain Spark Cast (list→list etc.).
  * The parse stays one boxed call per row ([[evalBoxed]]); `doGenCode`
  * emits a reference-object call so the whole-stage-codegen span around
  * the expression stays intact (was CodegenFallback through r15).
  */
case class DuckCompositeCast(child: Expression, target: DataType,
    tryMode: Boolean) extends UnaryExpression {

  override def dataType: DataType = target
  override def nullable: Boolean = true
  override lazy val resolved: Boolean = childrenResolved

  private class Shape(msg: String) extends IllegalArgumentException(msg)

  private def fail(msg: String): Nothing = throw new Shape(
    s"Conversion Error: $msg (DuckDB string-to-${target.simpleString} cast)")

  /** split on top-level `sep`, respecting ' " [ ] { } nesting */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Vector.newBuilder[String]
    var d = 0; var q = '\u0000'; var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != '\u0000') { if (c == q) q = '\u0000' }
      else if (c == '\'' || c == '"') q = c
      else if (c == '[' || c == '{') d += 1
      else if (c == ']' || c == '}') d -= 1
      else if (c == sep && d == 0) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  private def stripQuotes(s0: String): String = {
    val s = s0.trim
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1).replace(s"${s.head}${s.head}", s.head.toString)
    else s
  }

  /** scalar token → Spark internal value; quotes pre-stripped by caller
    * where DuckDB strips them */
  private def scalar(tok: String, dt: DataType): Any = {
    if (tok == "NULL") return null
    try dt match {
      case StringType => UTF8String.fromString(tok)
      case IntegerType => tok.trim.toInt
      case LongType => tok.trim.toLong
      case ShortType => tok.trim.toShort
      case ByteType => tok.trim.toByte
      case DoubleType => tok.trim.toDouble
      case FloatType => tok.trim.toFloat
      case BooleanType => tok.trim.toLowerCase match {
        case "true" | "t" => true
        case "false" | "f" => false
        case _ => fail(s"could not convert '$tok' to BOOLEAN")
      }
      case d: DecimalType =>
        val v = Decimal(BigDecimal(tok.trim))
        if (v.changePrecision(d.precision, d.scale)) v
        else fail(s"'$tok' out of range for ${d.simpleString}")
      case DateType =>
        DateTimeUtils.stringToDate(UTF8String.fromString(tok.trim))
          .getOrElse(fail(s"could not convert '$tok' to DATE"))
      case TimestampType =>
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(tok.trim),
            java.time.ZoneOffset.UTC)
          .getOrElse(fail(s"could not convert '$tok' to TIMESTAMP"))
      case other => fail(s"unsupported element type ${other.simpleString}")
    } catch {
      case s: Shape => throw s
      case _: NumberFormatException =>
        fail(s"could not convert string '$tok' to ${dt.simpleString}")
    }
  }

  /** element conversion: tryMode nulls failed SCALAR leaves (the probed
    * TRY_CAST behavior); shape errors propagate to the caller */
  private def elem(tok: String, dt: DataType, verbatim: Boolean): Any =
    dt match {
      case _: ArrayType | _: StructType | _: MapType => conv(tok, dt)
      case _ =>
        val t = if (verbatim) tok else stripQuotes(tok)
        if (tryMode)
          try scalar(t, dt) catch { case _: Shape => null }
        else scalar(t, dt)
    }

  private def conv(raw: String, dt: DataType): Any = {
    val s = raw.trim
    if (s == "NULL") return null
    dt match {
      case ArrayType(et, _) =>
        if (!(s.startsWith("[") && s.endsWith("]")))
          fail(s"'$s' is not a list literal")
        val body = s.substring(1, s.length - 1)
        if (body.trim.isEmpty) new GenericArrayData(Array.empty[Any])
        else new GenericArrayData(
          splitTop(body, ',').map(t => elem(t.trim, et,
            verbatim = et == StringType)).toArray)
      case st: StructType =>
        if (!(s.startsWith("{") && s.endsWith("}")))
          fail(s"'$s' is not a struct literal")
        val body = s.substring(1, s.length - 1)
        val vals = new Array[Any](st.fields.length)
        if (body.trim.nonEmpty) splitTop(body, ',').foreach { pair =>
          val colon = splitTop(pair, ':')
          if (colon.length != 2) fail(s"bad struct entry '$pair'")
          val key = stripQuotes(colon(0))
          val ix = st.fields.indexWhere(_.name == key) // case-sensitive (probed)
          if (ix < 0) fail(s"unknown struct field '$key'")
          vals(ix) = elem(colon(1).trim, st.fields(ix).dataType,
            verbatim = false)
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      case MapType(kt, vt, _) =>
        if (!(s.startsWith("{") && s.endsWith("}")))
          fail(s"'$s' is not a map literal")
        val body = s.substring(1, s.length - 1)
        if (body.trim.isEmpty)
          ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
        else {
          val pairs = splitTop(body, ',').map { pair =>
            val eq = splitTop(pair, '=')
            if (eq.length != 2) fail(s"bad map entry '$pair'")
            (elem(eq(0).trim, kt, verbatim = false),
              elem(eq(1).trim, vt, verbatim = false))
          }
          ArrayBasedMapData(pairs.map(_._1).toArray, pairs.map(_._2).toArray)
        }
      case other => fail(s"unsupported cast target ${other.simpleString}")
    }
  }

  /** Boxed core for a NON-NULL child value; may return null under tryMode
    * (failed shape) — shared by the interpreted path and generated code. */
  def evalBoxed(v: Any): Any = {
    val s = v.toString
    if (tryMode) try conv(s, target) catch { case _: Shape => null }
    else conv(s, target)
  }

  override def nullSafeEval(v: Any): Any = evalBoxed(v)

  // real codegen (was CodegenFallback, r16 optimization round): the parse
  // stays one call per row through the reference object, but the
  // expression no longer severs the whole-stage-codegen span it sits in;
  // tryMode's null result re-raises the null flag after the child gate
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("duckCompositeCast", this,
      classOf[DuckCompositeCast].getName)
    val jt = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dcc")
      s"""
         |Object $tmp = $ref.evalBoxed($c);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ($jt) $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DuckCompositeCast =
    copy(child = newChild)
}
