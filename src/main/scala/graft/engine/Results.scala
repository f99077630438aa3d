package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The reference service's wire/result model (reference `db/db.go:39-47`):
  * writes return `{rows_affected}`, reads return
  * `{columns, types, values}` with DuckDB-style type-name strings
  * (`db/db.go:89-93` surfaces `DatabaseTypeName()` verbatim — INTEGER,
  * VARCHAR, ...). We map Spark's DataType to those names so a client of
  * the reference sees the same shapes here (SURVEY.md §7.4 item 3).
  */
final case class ExecuteResult(rowsAffected: Long)

final case class QueryResult(
    columns: Seq[String],
    types: Seq[String],
    values: Seq[Seq[Any]],
    truncated: Boolean = false)

object Results {
  /** Field metadata key carrying a declared DuckDB type that Spark has no
    * native equivalent for (UUID, TIME, HUGEINT, ENUM, TIMESTAMPTZ). The
    * gateway's CREATE TABLE stamps it; `DatabaseTypeName` rendering
    * (`db/db.go:89-93`) then surfaces the declared name, not the storage
    * type. Spark persists field metadata in the catalog schema AND in
    * parquet footers, so the declaration survives DML rewrites and
    * EXPORT/IMPORT round trips. */
  val DuckTypeKey = "graft.ducktype"

  /** Declared-type-aware rendering: the column's declared DuckDB type if
    * the field carries one, else the storage type's mapping.
    *
    * TIMESTAMPTZ results report duck's TIMESTAMP WITH TIME ZONE type
    * name and '+00' wire text end-to-end (r15, closing the r14
    * residual): declared columns carry the metadata from CREATE TABLE,
    * and the gateway's analyzed-plan pass tags every DERIVED
    * instant-typed alias — tstz literals/casts (wrapped in the identity
    * `DuckTstzCast` at rewrite time), naive→instant tz conversions,
    * Max/Min/First/Last aggregates, interval arithmetic, and
    * coalesce/CASE/IF/greatest/least over any instant branch
    * (`DuckSemantics.PlanRule`). Remaining corner, documented:
    * an instant that reaches the boundary through a wrapper OUTSIDE
    * that list (e.g. a lead/lag window over a tstz column) renders
    * naive UTC text — same instant, no suffix. */
  def duckTypeName(f: StructField): String =
    if (f.metadata.contains(DuckTypeKey)) f.metadata.getString(DuckTypeKey)
    else duckTypeName(f.dataType)

  /** Spark DataType → DuckDB-style type name. */
  def duckTypeName(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case _: TimestampType => "TIMESTAMP"
    // NTZ is a distinct DatetimeType in Spark 4.1 (typeName "timestamp_ntz")
    // and must not fall into the TIME case below.
    case TimestampNTZType => "TIMESTAMP"
    case _: TimeType => "TIME"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case a: ArrayType => s"${duckTypeName(a.elementType)}[]"
    case m: MapType => s"MAP(${duckTypeName(m.keyType)}, ${duckTypeName(m.valueType)})"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${duckTypeName(f.dataType)}")
        .mkString("STRUCT(", ", ", ")")
    case _: DayTimeIntervalType | _: YearMonthIntervalType |
         CalendarIntervalType => "INTERVAL"
    case other => other.sql
  }

  /** DuckDB's canonical interval rendering (probed, v1.0): months split
    * into `N year(s) N month(s)`, then `N day(s)`, then a `HH:MM:SS[.f]`
    * clock (printed when micros ≠ 0 or everything is zero; hours
    * unnormalized — duck renders 25:00:00, not 1 day; fraction trimmed
    * of trailing zeros; negative components carry their own sign:
    * `-1 year -2 months`, `2 days -03:00:00`). */
  def duckIntervalString(months: Long, days: Long, micros: Long): String = {
    val parts = Seq.newBuilder[String]
    def unit(n: Long, name: String): Unit =
      if (n != 0) parts += s"$n $name${if (math.abs(n) != 1) "s" else ""}"
    unit(months / 12, "year")
    unit(months % 12, "month")
    unit(days, "day")
    if (micros != 0 || (months == 0 && days == 0)) {
      val sign = if (micros < 0) "-" else ""
      val m = math.abs(micros)
      val frac = m % 1000000
      val clock = f"${m / 3600000000L}%02d:${m / 60000000 % 60}%02d:${m / 1000000 % 60}%02d"
      parts += sign + clock + (if (frac == 0) ""
        else ("." + f"$frac%06d").reverse.dropWhile(_ == '0').reverse)
    }
    parts.result().mkString(" ")
  }

  /** Boundary value conversion: interval objects become DuckDB's
    * canonical interval TEXT (the reference's driver stringifies them
    * the same way on the wire, `db/db.go:89-93`). A Spark `Duration`
    * (timestamp subtraction, day-time literals) splits whole days out —
    * duck's own subtraction renders `65 days`, not `1560:00:00` —
    * UNLESS the column's declared interval starts past DAY (r14: duck
    * stores days and micros separately and never normalizes micros at
    * render, so a pure-time literal or pure-time arithmetic keeps its
    * hours — `INTERVAL '26:00:00'` renders `26:00:00`; Spark's
    * `DayTimeIntervalType.startField` carries exactly that provenance).
    * Remaining residual, documented: a literal MIXING days with >24 h
    * clock text (`'2 days 26:00:00'`) widens to a DAY-start type whose
    * total-micros value erases the split — ours renders the day-
    * normalized equivalent (`3 days 02:00:00`), value-equal as a
    * duration. Runs recursively through nested rows/arrays/maps (which
    * lose the field type and keep the day-split default). */
  private def convertValue(v: Any, f: StructField): Any = (v, f.dataType) match {
    case (d: java.time.Duration, t: DayTimeIntervalType)
        if t.startField > DayTimeIntervalType.DAY =>
      val micros = d.getSeconds * 1000000L + d.getNano / 1000
      duckIntervalString(0, 0, micros)
    // a TIMESTAMPTZ-typed field (declared column metadata, or the
    // gateway's instant-typedness tag on a derived expression) renders
    // duck's '+00' wire text — the type name above already reports
    // TIMESTAMP WITH TIME ZONE from the same metadata (r15)
    case _ if f.metadata.contains(DuckTypeKey) &&
        f.metadata.getString(DuckTypeKey) == "TIMESTAMP WITH TIME ZONE" =>
      instantMicros(v) match {
        case Some(m) =>
          graft.functions.DuckTstzCast.microsToUtcText(m) + "+00"
        case None => convertValue(v)
      }
    case _ => convertValue(v)
  }

  /** UTC-instant micros of a collected timestamp value, whatever object
    * shape the session's java8-API setting produced. */
  private def instantMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case l: java.time.LocalDateTime =>
      Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L)
    case _ => None
  }

  private def convertValue(v: Any): Any = v match {
    case ci: org.apache.spark.unsafe.types.CalendarInterval =>
      duckIntervalString(ci.months, ci.days, ci.microseconds)
    case d: java.time.Duration =>
      // seconds-based micros: toNanos overflows Long past ~292 years,
      // and duck happily renders millennia-wide subtractions (probed:
      // '3652058 days' for TIMESTAMP 9999 - TIMESTAMP 0001)
      val micros = d.getSeconds * 1000000L + d.getNano / 1000
      duckIntervalString(0, micros / 86400000000L, micros % 86400000000L)
    case p: java.time.Period =>
      duckIntervalString(p.toTotalMonths, p.getDays, 0)
    case r: org.apache.spark.sql.Row =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.map(convertValue))
    case s: scala.collection.Seq[_] => s.map(convertValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => (convertValue(k), convertValue(mv)) }
    case other => other
  }

  /** Result-set cap: the reference collects unboundedly (`db/db.go:95-113`
    * — and OOMs on a huge SELECT); at 100 TB the service layer must not
    * reproduce that. Configurable via `graft.query.maxResultRows`; the
    * default is generous for an interactive JSON API. */
  val DefaultMaxRows = 100000

  /** Collect a DataFrame into the reference's row-major result shape.
    * Boundary-only materialization, capped: we fetch capacity+1 rows via
    * `limit` (pushed into the plan — a global sort still collapses to
    * TakeOrderedAndProject) and flag `truncated` instead of collecting an
    * unbounded result into the driver. */
  def fromDataFrame(df: DataFrame): QueryResult = {
    val cap = df.sparkSession.conf.getOption("graft.query.maxResultRows")
      .map(_.toInt).getOrElse(DefaultMaxRows)
    val schema = df.schema
    val rows = df.limit(cap + 1).collect()
    QueryResult(
      columns = schema.fields.map(_.name).toSeq,
      types = schema.fields.map(f => duckTypeName(f)).toSeq,
      values = rows.take(cap).map(_.toSeq.zip(schema.fields).map {
        case (v, f) => convertValue(v, f)
      }).toSeq,
      truncated = rows.length > cap)
  }
}
