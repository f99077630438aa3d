package graft

import graft.engine.SqlGateway
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/** Column-driven (codegen-path) coverage for the two native expressions
  * behind the r7 dialect-exactness work — [[graft.functions.DuckFloorDiv]]
  * (`//`) and [[graft.functions.DuckRegexpReplace]] — plus the
  * verbatim-literal pass. The corpus spec pins literal-only spellings;
  * these run over DataFrame columns so whole-stage codegen actually
  * compiles the generated Java (a Janino error would silently fall back
  * to interpreted eval — the failure mode this repo has hit before). */
class DuckDialectFunctionsSpec extends SparkTestBase {
  lazy val gw = new SqlGateway(spark)

  private def one(sql: String): Seq[Any] = gw.query(sql).values.head

  test("// over columns: truncation toward zero, null divisor, two sites in one projection") {
    import gw.spark.implicits._
    Seq((7L, 2L), (-7L, 2L), (5L, 0L), (-5L, 2L), (100L, 7L))
      .toDF("a", "b").createOrReplaceTempView("fldiv_t")
    val rows = gw.query(
      "SELECT a // b AS q, (a + 1) // (b + 1) AS q2 FROM fldiv_t ORDER BY a")
      .values
    // two `//` sites in ONE projection: codegen locals must not collide
    assert(rows.map(_.toList) == Seq(
      List(-3L, -2L), // -7//2 = -3 (toward zero), -6//3 = -2
      List(-2L, -1L), // -5//2 = -2, -4//3 = -1
      List(null, 6L), // 5//0 = NULL, 6//1 = 6
      List(3L, 2L),   // 7//2, 8//3
      List(14L, 12L)), s"got $rows")
    gw.spark.catalog.dropTempView("fldiv_t")
  }

  test("// fractional operands take DuckDB 1.0's plain-division path") {
    import gw.spark.implicits._
    Seq((5.5, 2.0), (1.0, 0.0)).toDF("x", "y").createOrReplaceTempView("fldiv_d")
    val rows = gw.query("SELECT x // y AS q FROM fldiv_d ORDER BY x").values
    assert(rows.map(_.head) == Seq(null, 2.75))
    gw.spark.catalog.dropTempView("fldiv_d")
  }

  test("// overflow on Long.MinValue / -1 raises loudly like DuckDB") {
    import gw.spark.implicits._
    Seq((Long.MinValue, -1L)).toDF("a", "b").createOrReplaceTempView("fldiv_o")
    val e = intercept[Exception] {
      gw.query("SELECT a // b AS q FROM fldiv_o").values
    }
    assert(e.getMessage != null)
    gw.spark.catalog.dropTempView("fldiv_o")
  }

  test("duck regexp_replace over columns: per-row patterns, flags, backrefs") {
    import gw.spark.implicits._
    Seq(("abcb", "(b)", "[\\1]", "g"),   // RE2 backref, global
        ("abcb", "(b)", "[\\1]", ""),    // first-only default
        ("aAa", "a", "x", "gi"),         // case-insensitive global
        ("a+b", "+", "X", "l"),          // literal pattern
        ("cost: $5", "(\\d)", "\\1\\1", "g")) // literal $ in subject, \1\1 rewrite
      .toDF("s", "p", "r", "f").createOrReplaceTempView("rr_t")
    val rows = gw.query(
      "SELECT regexp_replace(s, p, r, f) AS out FROM rr_t").values.map(_.head)
    assert(rows == Seq("a[b]c[b]", "a[b]cb", "xxx", "aXb", "cost: $55"))
    gw.spark.catalog.dropTempView("rr_t")
  }

  test("duck regexp_replace: dollar in replacement is literal (RE2), not a Java group ref") {
    assert(one("SELECT regexp_replace('price', 'p', '$', 'g') AS r") == Seq("$rice"))
  }

  test("string literals are verbatim like DuckDB: backslashes carry no escapes") {
    assert(one("SELECT '\\n' AS s") == Seq("\\n"))       // two chars, not newline
    assert(one("SELECT 'C:\\tmp' AS s") == Seq("C:\\tmp"))
    assert(one("SELECT length('\\\\') AS l") == Seq(2L)) // '\\' = two backslashes
  }

  test("DuckFloorDiv survives a plan with the gateway's own div-emitting rewrites") {
    // date_diff('hour', …) emits ` div ` internally; `//` in the same
    // statement swaps BOTH nodes to DuckFloorDiv — integral semantics match
    val r = one("SELECT date_diff('hour', TIMESTAMP '2024-01-01 01:59:00', " +
      "TIMESTAMP '2024-01-01 03:01:00') + 10 // 3 AS v")
    assert(r == Seq(5L)) // 2 boundary crossings + 3
  }

  test("similarity kernels over columns (codegen path, not constant-folded)") {
    import gw.spark.implicits._
    Seq(("duck", "luck"), ("martha", "marhta"), ("ca", "abc"))
      .toDF("a", "b").createOrReplaceTempView("sim_t")
    val rows = gw.query(
      "SELECT jaccard(a, b) AS j, damerau_levenshtein(a, b) AS d, " +
        "jaro_similarity(a, b) AS js FROM sim_t ORDER BY a").values
    assert(rows.map(_.toList) == Seq(                    // all duckdb-verified
      List(0.6666666666666666, 2L, 0.0),                 // ca/abc
      List(0.6, 1L, 0.8333333333333334),                 // duck/luck
      List(1.0, 1L, 0.9444444444444445)), s"got $rows")  // martha/marhta
    gw.spark.catalog.dropTempView("sim_t")
  }

  test("gcd/lcm over columns with implicit int->long cast") {
    import gw.spark.implicits._
    Seq((-4, 6), (0, 5), (12, 18)).toDF("a", "b").createOrReplaceTempView("gcd_t")
    val rows = gw.query(
      "SELECT gcd(a, b) AS g, lcm(a, b) AS l FROM gcd_t ORDER BY a").values
    assert(rows.map(_.toList) == Seq(List(2L, 12L), List(5L, 0L), List(6L, 36L)))
    gw.spark.catalog.dropTempView("gcd_t")
  }

  test("duck_strftime over columns with a PER-ROW format string") {
    import gw.spark.implicits._
    Seq(("2007-03-04", "%-d/%-m/%y"), ("2007-03-04", "%U"), ("2007-03-04", "%A"))
      .toDF("d", "f").createOrReplaceTempView("sft_t")
    val rows = gw.query(
      "SELECT strftime(CAST(d AS DATE), f) AS s FROM sft_t").values.map(_.head)
    assert(rows == Seq("4/3/07", "09", "Sunday"))
    gw.spark.catalog.dropTempView("sft_t")
  }

  test("DuckIntCast over columns: per-source-type rounding in one projection") {
    import gw.spark.implicits._
    Seq((2.5, "2.5"), (3.5, "3.49")).toDF("d", "s").createOrReplaceTempView("ic_t")
    val rows = gw.query(
      "SELECT CAST(d AS INTEGER) AS di, CAST(s AS INTEGER) AS si " +
        "FROM ic_t ORDER BY d").values
    // DOUBLE column: half-to-even (2.5→2, 3.5→4); VARCHAR: half away (2.5→3)
    assert(rows.map(_.toList) == Seq(List(2, 3), List(4, 3)), s"got $rows")
    gw.spark.catalog.dropTempView("ic_t")
  }

  test("column-API entry: DuckRegexpReplace composes as a Column expression") {
    import gw.spark.implicits._
    val df = Seq("mississippi").toDF("s")
    val out = df.select(ColumnShim.column(graft.functions.DuckRegexpReplace(
      ColumnShim.expression(col("s")),
      ColumnShim.expression(lit("ss")),
      ColumnShim.expression(lit("S")),
      ColumnShim.expression(lit("")))).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("miSissippi"))
  }
}
