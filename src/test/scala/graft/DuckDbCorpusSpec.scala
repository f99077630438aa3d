package graft

import graft.engine.SqlGateway
import org.apache.spark.sql.Row

/** Breadth measurement of the SQL-text passthrough against a corpus of
  * real DuckDB statements (spellings taken from DuckDB's public
  * documentation examples; the reference accepts all of them verbatim via
  * its embedded-DuckDB passthrough, `db/db.go:70`).
  *
  * The contract under test is NOT "accept everything" — it is the gateway's
  * documented failure mode: every statement must either return the
  * DuckDB-correct result or REFUSE loudly. A statement that is accepted but
  * returns something DuckDB would not is the one forbidden outcome.
  *
  * Mechanics: each entry runs through `SqlGateway.query`/`execute`. Where
  * DuckDB's documented output is deterministic, it is declared here and
  * compared value-normalized (numeric-type widths and DATE-vs-TIMESTAMP
  * rendering are normalized away; row order ignored unless the entry is
  * order-sensitive). Declared DIVERGENCES — places where Spark's semantics
  * for the same accepted spelling differ from DuckDB's and no safe rewrite
  * exists — are pinned: the spec fails if one silently starts matching
  * (stale note) and documents each with the DuckDB-expected value.
  *
  * The final test prints the measured accept/match/refuse counts; SURVEY.md
  * §2 cites them.
  */
class DuckDbCorpusSpec extends SparkTestBase {
  lazy val gw = new SqlGateway(spark)

  /** One corpus statement. `expect`: DuckDB's documented rows (None = no
    * deterministic documented output; only accept-vs-refuse is measured).
    * `ordered`: compare without row-sorting. `divergent`: documented
    * Spark-vs-DuckDB semantic gap — outcome must NOT be a silent Match. */
  case class C(sql: String, expect: Option[Seq[Seq[Any]]] = None,
      ordered: Boolean = false, divergent: Option[String] = None,
      expectErr: Option[String] = None)

  private def q(sql: String, rows: Seq[Any]*): C = C(sql, Some(rows))
  private def s(sql: String): C = C(sql)
  /** MUST refuse, with the fragment in the message (DuckDB errors too) —
    * a plain s() would also pass if the statement silently succeeded. */
  private def err(sql: String, frag: String): C = C(sql, expectErr = Some(frag))
  private def div(sql: String, why: String, rows: Seq[Any]*): C =
    C(sql, Some(rows), divergent = Some(why))

  // --------------------------------------------------------------------
  // The corpus. Statements run IN ORDER (DDL creates state later ones use).
  // --------------------------------------------------------------------
  private def corpusA: Seq[C] = Seq(
    // --- scalar expressions / math (DuckDB docs: numeric functions) ---
    q("SELECT 42 AS a", Seq(42)),
    q("SELECT 1 + 2 AS s", Seq(3)),
    q("SELECT 1 / 2 AS d", Seq(0.5)),
    q("SELECT 7 % 3 AS m", Seq(1)),
    q("SELECT abs(-17.4) AS a", Seq(17.4)),
    q("SELECT round(42.4332, 2) AS r", Seq(42.43)),
    q("SELECT ceil(17.4) AS c", Seq(18)),
    q("SELECT floor(17.4) AS f", Seq(17)),
    q("SELECT sqrt(9) AS s", Seq(3)),
    q("SELECT power(2, 10) AS p", Seq(1024)),
    q("SELECT greatest(3, 5, 1) AS g", Seq(5)),
    q("SELECT least(3, 5, 1) AS l", Seq(1)),
    q("SELECT log(100) AS l", Seq(2)),         // DuckDB log = log10 (pinned)
    q("SELECT log(2, 8) AS l", Seq(3)),        // 2-arg: base-first in both
    q("SELECT ln(1) AS l", Seq(0)),
    s("SELECT pi() AS p"),
    q("SELECT sign(-3) AS s", Seq(-1)),

    // --- strings (DuckDB docs: text functions) ---
    q("SELECT concat('duck', 'db') AS c", Seq("duckdb")),
    q("SELECT 'duck' || 'db' AS c", Seq("duckdb")),
    q("SELECT upper('quack') AS u", Seq("QUACK")),
    q("SELECT lower('QUACK') AS l", Seq("quack")),
    q("SELECT length('hello') AS l", Seq(5)),
    q("SELECT len('hello') AS l", Seq(5)),     // DuckDB len → length
    q("SELECT substring('hello', 2, 3) AS s", Seq("ell")),
    q("SELECT trim('  hi  ') AS t", Seq("hi")),
    q("SELECT replace('hello', 'l', 'r') AS r", Seq("herro")),
    q("SELECT reverse('abc') AS r", Seq("cba")),
    q("SELECT left('hello', 2) AS l", Seq("he")),
    q("SELECT right('hello', 2) AS r", Seq("lo")),
    q("SELECT lpad('5', 3, '0') AS p", Seq("005")),
    q("SELECT repeat('ab', 2) AS r", Seq("abab")),
    q("SELECT split_part('a,b,c', ',', 2) AS p", Seq("b")),
    q("SELECT instr('test', 'es') AS i", Seq(2)),
    q("SELECT strpos('test', 'es') AS i", Seq(2)), // DuckDB strpos → instr
    q("SELECT contains('abcd', 'cd') AS c", Seq(true)),
    q("SELECT starts_with('abcd', 'ab') AS s", Seq(true)),
    q("SELECT ends_with('abcd', 'cd') AS e", Seq(true)),
    q("SELECT 'DUCK' ILIKE '%dUcK%' AS i", Seq(true)),
    q("SELECT concat_ws('-', 'a', 'b') AS c", Seq("a-b")),
    q("SELECT ascii('a') AS a", Seq(97)),
    q("SELECT chr(97) AS c", Seq("a")),
    q("SELECT md5('abc') AS h", Seq("900150983cd24fb0d6963f7d28e17f72")),
    q("SELECT levenshtein('duck', 'db') AS l", Seq(3)),
    q("SELECT printf('%d wins', 42) AS p", Seq("42 wins")),
    q("SELECT format('{} wins', 42) AS f", Seq("42 wins")),  // plain {} placeholders (r7)
    q("SELECT format('{} and {}', 1, 'two') AS f", Seq("1 and two")),
    // fmt spec subset (r7 third batch — every rendering duckdb-1.0-verified)
    q("SELECT format('{:.2f}', 3.14159) AS f", Seq("3.14")),
    q("SELECT format('{:d}', 42) AS f", Seq("42")),
    q("SELECT format('{:,}', 1234567) AS f", Seq("1,234,567")),
    q("SELECT format('{:x}', 255) AS f", Seq("ff")),
    q("SELECT format('{:X}', 255) AS f", Seq("FF")),
    q("SELECT format('{:o}', 8) AS f", Seq("10")),
    q("SELECT format('{:5d}|', 42) AS f", Seq("   42|")),
    q("SELECT format('{:05d}|', 42) AS f", Seq("00042|")),
    q("SELECT format('{:08.2f}', 3.14159) AS f", Seq("00003.14")),
    q("SELECT format('{:+.1f}', 3.14) AS f", Seq("+3.1")),
    q("SELECT format('{:.3e}', 12345.678) AS f", Seq("1.235e+04")),
    q("SELECT format('{:E}', 12345.678) AS f", Seq("1.234568E+04")),
    q("SELECT format('{:>6}|', 'x') AS f", Seq("     x|")),
    q("SELECT format('{:<6}|', 'x') AS f", Seq("x     |")),
    q("SELECT format('{:6s}|', 'x') AS f", Seq("x     |")), // fmt strings left-align by default
    q("SELECT format('{:6d}|', 42) AS f", Seq("    42|")),  // fmt numbers right-align
    q("SELECT format('{1} {0}', 'a', 'b') AS f", Seq("b a")), // manual indexing
    q("SELECT format('{0} {1} {0}', 'a', 'b') AS f", Seq("a b a")),
    q("SELECT format('{{}} {}', 1) AS f", Seq("{} 1")),     // {{ }} brace escapes
    q("SELECT format('100%: {}', 42) AS f", Seq("100%: 42")), // literal % passes through
    q("SELECT format('{}', 2.5) AS f", Seq("2.5")),
    // {:g}: Java %g + trailing-zero trim = fmt's %g (r7)
    q("SELECT format('{:g}', 12345.678) AS f", Seq("12345.7")),
    q("SELECT format('{:g}', 1.5) AS f", Seq("1.5")),
    q("SELECT format('{:g}', 2.0) AS f", Seq("2")),
    q("SELECT format('{:g}', 1234567.0) AS f", Seq("1.23457e+06")),
    q("SELECT format('{:g}', 0.000012345) AS f", Seq("1.2345e-05")),
    q("SELECT format('{:b}', 5) AS f", Seq("101")), // binary via conv() (literal args)
    q("SELECT format('{:6}|', 42) AS f", Seq("    42|")),  // bare width: literal arg
    q("SELECT format('{:6}|', 'x') AS f", Seq("x     |")), // type decides alignment
    err("SELECT format('{:,.2f}', 1234.567) AS f", "format"), // fmt itself errors (grouping on float)
    err("SELECT format('{0} {}', 'a', 'b') AS f", "format"), // mixed manual+auto: fmt errors

    // --- regex ---
    q("SELECT regexp_replace('hello', 'l+', 'L') AS r", Seq("heLo")),
    // DuckDB replaces the FIRST match only unless 'g' — r7: exact via the
    // native duck_regexp_replace expression (was a documented divergence)
    q("SELECT regexp_replace('aaa', 'a', 'b') AS r", Seq("baa")),
    q("SELECT regexp_replace('aaa', 'a', 'b', 'g') AS r", Seq("bbb")),
    q("SELECT regexp_replace('aaa', 'A', 'b', 'i') AS r", Seq("baa")), // 'i' keeps first-only
    q("SELECT regexp_replace('aAa', 'a', 'b', 'gi') AS r", Seq("bbb")),
    q("SELECT regexp_replace('abcb', '(b)', '[\\1]') AS r", Seq("a[b]cb")), // RE2 \1 backref
    q("SELECT regexp_replace('abcb', '(b)', '[\\1]', 'g') AS r", Seq("a[b]c[b]")),
    q("SELECT regexp_replace('a+b', '+', 'X', 'l') AS r", Seq("aXb")), // 'l' literal pattern
    q("SELECT regexp_replace('a+b+c', '+', 'X', 'lg') AS r", Seq("aXbXc")),
    q("SELECT regexp_replace('abc', 'x*', 'Y') AS r", Seq("Yabc")), // zero-width first match
    err("SELECT regexp_replace('x', 'x', 'y', 'z') AS r", "option"), // duckdb errors too
    // 'm'/'n' select newline-SENSITIVE matching — probed identical to the
    // DuckDB 1.0 default (and Java's): accepted as a no-op
    q("SELECT regexp_replace('x', '^x', 'y', 'm') AS r", Seq("y")),
    q("SELECT regexp_extract('abc123', '[0-9]+') AS e", Seq("123")), // 2-arg = group 0 (pinned)
    q("SELECT regexp_extract('hello', '([a-z])([a-z])', 2) AS e", Seq("e")),
    q("SELECT regexp_matches('anabanana', '(an)*') AS m", Seq(true)),

    // --- dates / times / intervals ---
    q("SELECT DATE '1992-09-20' AS d", Seq("1992-09-20")),
    q("SELECT extract(year FROM DATE '1992-09-20') AS y", Seq(1992)),
    q("SELECT date_part('year', DATE '1992-09-20') AS y", Seq(1992)),
    q("SELECT year(DATE '1992-09-20') AS y", Seq(1992)),
    q("SELECT make_date(1992, 9, 20) AS d", Seq("1992-09-20")),
    q("SELECT last_day(DATE '2024-02-05') AS d", Seq("2024-02-29")),
    q("SELECT DATE '2023-07-23' + INTERVAL 5 DAY AS d", Seq("2023-07-28")),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 90 MINUTE AS t",
      Seq("2024-01-01 01:30:00")),
    q("SELECT date_trunc('month', TIMESTAMP '2024-03-15 11:22:33') AS t",
      Seq("2024-03-01")),
    q("SELECT date_diff('day', DATE '2024-01-01', DATE '2024-01-10') AS d", Seq(9)),
    q("SELECT epoch(TIMESTAMP '1970-01-01 00:01:00') AS e", Seq(60)),
    q("SELECT strftime(DATE '1992-01-01', '%Y') AS s", Seq("1992")),
    q("SELECT strftime(DATE '1992-01-01', 'year %Y!') AS s", Seq("year 1992!")),
    q("SELECT strftime(DATE '2022-11-07', '%A %d %B') AS s",
      Seq("Monday 07 November")),
    q("SELECT strptime('1992-03-02', '%Y-%m-%d') AS t", Seq("1992-03-02")),
    // %-X no-pad codes (r7: single-letter JVM patterns are the exact twins)
    q("SELECT strftime(DATE '1992-01-01', '%-d') AS s", Seq("1")),
    q("SELECT strftime(DATE '1992-01-05', '%-d/%-m/%Y') AS s", Seq("5/1/1992")),
    q("SELECT strftime(DATE '1992-01-10', '%-d') AS s", Seq("10")),
    q("SELECT strftime(TIMESTAMP '1992-01-05 03:07:09', '%-H:%-M:%-S') AS s",
      Seq("3:7:9")),
    q("SELECT strftime(DATE '1992-01-05', '%-j') AS s", Seq("5")),
    // full code table via the native duck_strftime fallback (r7)
    q("SELECT strftime(DATE '1992-01-01', '%-y') AS s", Seq("92")),
    q("SELECT strftime(DATE '2007-06-01', '%-y') AS s", Seq("7")),
    q("SELECT strftime(DATE '2007-01-01', '%U %W %w %u') AS s", Seq("00 01 1 1")),
    q("SELECT strftime(DATE '2006-01-01', '%U %W %w %u') AS s", Seq("01 00 0 7")),
    q("SELECT strftime(DATE '2010-12-31', '%V %G') AS s", Seq("52 2010")),
    q("SELECT strftime(TIMESTAMP '2007-03-04 05:06:07.123456', '%g %f %n') AS s",
      Seq("123 123456 123456000")),
    q("SELECT strftime(TIMESTAMP '2020-06-01 00:30:00', '%I %p') AS s", Seq("12 AM")),
    q("SELECT strftime(TIMESTAMP '2007-03-04 05:06:07', '%c / %x / %X') AS s",
      Seq("2007-03-04 05:06:07 / 2007-03-04 / 05:06:07")),
    q("SELECT strftime(TIMESTAMP '0044-03-15 01:02:03', '%Y %y') AS s", Seq("0044 44")),
    err("SELECT strftime(DATE '1992-01-01', '%e') AS s", "%e"), // duckdb errors too
    q("SELECT dayname(DATE '2022-11-07') AS d", Seq("Monday")), // full name (r7: date_format twin)
    q("SELECT monthname(DATE '2022-11-07') AS m", Seq("November")),
    s("SELECT current_date AS d"),
    q("SELECT DATE '2024-01-01' + 5 AS d", Seq("2024-01-06")), // date ± int agree
    q("SELECT DATE '2024-01-10' - 3 AS d", Seq("2024-01-07")),
    // DATE - DATE = BIGINT day count like DuckDB (analyzed-plan
    // SubtractDates swap — Spark alone would yield INTERVAL DAY)
    q("SELECT DATE '2024-01-10' - DATE '2024-01-01' AS d", Seq(9)),
    q("SELECT DATE '2024-01-01' - DATE '2024-01-10' AS d", Seq(-9)),
    q("SELECT 'abc' || 123 AS c", Seq("abc123")),
    q("SELECT 1 = '1' AS e", Seq(true)),
    q("SELECT '2024-01-01'::DATE AS d", Seq("2024-01-01")),
    q("SELECT '3.14'::DOUBLE AS d", Seq(3.14)),
    q("SELECT 42::VARCHAR AS s", Seq("42")),

    // --- casts ---
    q("SELECT CAST('42' AS INTEGER) AS i", Seq(42)),
    q("SELECT TRY_CAST('abc' AS INTEGER) AS i", Seq(null)),
    // r7: explicit casts to integer types round like DuckDB (DuckIntCast —
    // DECIMAL/VARCHAR half-away-from-zero, DOUBLE half-to-even)
    q("SELECT CAST(3.7 AS INTEGER) AS i", Seq(4)),
    q("SELECT CAST(2.5 AS INTEGER) AS i", Seq(3)),   // decimal: half away
    q("SELECT CAST(-2.5 AS INTEGER) AS i", Seq(-3)),
    q("SELECT CAST(2.5::DOUBLE AS INTEGER) AS i", Seq(2)), // double: half even
    q("SELECT CAST(3.5::DOUBLE AS INTEGER) AS i", Seq(4)),
    q("SELECT CAST('3.9' AS INTEGER) AS i", Seq(4)), // string parses then rounds
    q("SELECT TRY_CAST(3.7 AS INTEGER) AS i", Seq(4)),
    q("SELECT CAST(2.7 AS BIGINT) AS i", Seq(3)),
    q("SELECT 2.5::INTEGER AS i", Seq(3)),

    // --- conditional / null handling ---
    q("SELECT CASE WHEN 1 < 2 THEN 'yes' ELSE 'no' END AS c", Seq("yes")),
    q("SELECT coalesce(NULL, 42) AS c", Seq(42)),
    q("SELECT ifnull(NULL, 42) AS i", Seq(42)),
    q("SELECT nullif(5, 5) AS n", Seq(null)),

    // --- DuckDB container literals (r7 rewrite: exact Spark constructors) ---
    q("SELECT [1, 2, 3] AS l", Seq(Seq(1, 2, 3))),
    q("SELECT [1, 2, 3][2] AS v", Seq(2)),       // 1-based list subscript
    q("SELECT [1, 2, 3][-1] AS v", Seq(3)),      // negative = from the end
    q("SELECT list_value(1, 2, 3)[2] AS v", Seq(2)),
    q("SELECT 'abc'[2] AS c", Seq("b")),         // 1-based char pick
    q("SELECT ['a', 'b'] || ['c'] AS l", Seq(Seq("a", "b", "c"))),
    q("SELECT {'a': 1} AS s", Seq(Seq(1))),
    q("SELECT {'a': 1, 'b': 'x'}.b AS v", Seq("x")),
    q("SELECT {'p': {'q': 7}}.p.q AS v", Seq(7)),
    q("SELECT struct_pack(a := 1) AS s", Seq(Seq(1))),
    q("SELECT struct_pack(a := 1, b := 'x').b AS v", Seq("x")),
    s("SELECT MAP {'k': 42} AS m"),
    q("SELECT unnest([1, 2, 3]) AS u", Seq(1), Seq(2), Seq(3)),

    // --- `//` division (r7: ` div ` + DuckFloorDiv plan swap; every corner
    //     is DuckDB 1.0's typed behavior, including truncation toward zero
    //     on integers and PLAIN division on any fractional operand) ---
    q("SELECT 5 // 2 AS d", Seq(2)),
    q("SELECT -5 // 2 AS d", Seq(-2)),  // truncates toward zero, not floor
    q("SELECT -7 // 2 AS d", Seq(-3)),
    q("SELECT 7 // 2 + 1 AS d", Seq(4)),  // multiplicative precedence kept
    q("SELECT 5.5 // 2 AS d", Seq(2.75)), // duckdb 1.0: fractional → plain /
    q("SELECT 5 // 0 AS d", Seq(null)),   // divide by zero → NULL
    q("SELECT '//' AS s", Seq("//")),     // quoted // stays text

    // --- list comprehensions (r7 fourth batch: transform/filter rewrite) ---
    q("SELECT [x*2 for x in [1,2,3]] AS l", Seq(Seq(2, 4, 6))),
    q("SELECT [x for x in [1,2,3] if x > 1] AS l", Seq(Seq(2, 3))),
    q("SELECT [upper(x) for x in ['a','b']] AS l", Seq(Seq("A", "B"))),

    // --- list folds (r7 fourth batch) ---
    q("SELECT list_aggregate([1,2,3], 'sum') AS s", Seq(6)),
    q("SELECT list_aggregate([1,2,3], 'min') AS m", Seq(1)),
    q("SELECT list_aggregate([1,2,3], 'max') AS x", Seq(3)),
    q("SELECT list_aggregate([1,2,3], 'avg') AS a", Seq(2)),
    q("SELECT list_aggregate([1,NULL,3], 'count') AS c", Seq(2)),
    q("SELECT list_aggregate([1,2,3], 'median') AS m", Seq(2)),   // sorted-middle, interpolated
    q("SELECT list_aggregate([1,2,3,4], 'median') AS m", Seq(2.5)),
    q("SELECT list_aggregate([2,1,2], 'histogram') AS m",
      Seq(Map(1 -> 1, 2 -> 2))),
    q("SELECT list_aggregate([1,1,2,2], 'mode') AS m", Seq(1)), // ties: first occurrence
    q("SELECT list_aggregate([3,3,1,1], 'mode') AS m", Seq(3)),
    q("SELECT list_aggregate([1,2,2], 'mode') AS m", Seq(2)),
    q("SELECT list_aggregate([1,2,3], 'product') AS p", Seq(6)),
    q("SELECT list_aggregate([1,2,3], 'first') AS f", Seq(1)),
    q("SELECT list_aggregate([1,2,3], 'last') AS l", Seq(3)),
    err("SELECT list_aggregate([1,2,3], 'xyzzy') AS m", "list_aggregate"), // duckdb errors too
    // r8: NULL elements ignored; empty/all-NULL folds to NULL (probed)
    q("SELECT list_aggregate([1,NULL,3], 'sum') AS s", Seq(4)),
    q("SELECT list_aggregate([NULL,NULL], 'sum') AS s", Seq(null)),
    q("SELECT list_aggregate([1,NULL,3], 'avg') AS a", Seq(2.0)),
    q("SELECT list_aggregate([NULL], 'avg') AS a", Seq(null)),
    q("SELECT list_aggregate([2,NULL,3], 'product') AS p", Seq(6.0)),
    q("SELECT list_aggregate([NULL,NULL], 'product') AS p", Seq(null)),
    q("SELECT list_aggregate([1,NULL,2], 'median') AS m", Seq(1.5)),
    q("SELECT list_aggregate([NULL], 'median') AS m", Seq(null)),
    // --- r8 breadth: list slicing + negative indexing (duckdb-probed) ---
    q("SELECT [1,2,3,4,5][2:4] AS s", Seq(Seq(2, 3, 4))),
    q("SELECT [1,2,3,4,5][:3] AS s", Seq(Seq(1, 2, 3))),
    q("SELECT [1,2,3,4,5][3:] AS s", Seq(Seq(3, 4, 5))),
    q("SELECT [1,2,3,4,5][-2:] AS s", Seq(Seq(4, 5))),
    q("SELECT [1,2,3,4,5][:-2] AS s", Seq(Seq(1, 2, 3, 4))),
    q("SELECT ['a','b','c'][-1] AS s", Seq("c")),
    q("SELECT 'hello'[2:4] AS s", Seq("ell")),
    q("SELECT 'hello'[-3:] AS s", Seq("llo")),
    q("SELECT list_slice([1,2,3,4,5], 2, 4) AS s", Seq(Seq(2, 3, 4))),
    q("SELECT array_slice('hello', 2, 4) AS s", Seq("ell")),

    // --- r8 breadth: VALUES with column aliases ---
    C("SELECT * FROM (VALUES (1,'x'),(2,'y')) AS t(a,b) ORDER BY a",
      Some(Seq(Seq(1, "x"), Seq(2, "y"))), ordered = true),
    q("SELECT t.b FROM (VALUES (1,'x')) t(a,b)", Seq("x")),

    // --- r8 breadth: string-function corners (duckdb-probed) ---
    q("SELECT repeat('ab', 3) AS s", Seq("ababab")),
    q("SELECT reverse('abc') AS s", Seq("cba")),
    q("SELECT md5('x') AS s", Seq("9dd4e461268c8034f5c8564e155c67a6")),
    q("SELECT left('hello', 2) AS s, right('hello', 2) AS t", Seq("he", "lo")),
    q("SELECT left('hello', -2) AS s", Seq("hel")),   // negative trims the end
    q("SELECT right('hello', -2) AS s", Seq("llo")),  // negative trims the start
    q("SELECT ltrim('xxyx', 'x') AS a", Seq("yx")),
    q("SELECT replace('aaa', 'a', 'b') AS s", Seq("bbb")),
    q("SELECT contains('hello', 'ell') AS c", Seq(true)),
    q("SELECT position('ll' IN 'hello') AS p", Seq(3)),
    q("SELECT split_part('a,b,c', ',', 2) AS s", Seq("b")),
    q("SELECT split_part('a,b,c', ',', 5) AS s", Seq("")),
    q("SELECT split_part('a,b,c', ',', -1) AS s", Seq("c")),
    q("SELECT chr(65) AS s, ascii('A') AS n", Seq("A", 65)),
    q("SELECT lcase('AB') AS a, ucase('ab') AS b", Seq("ab", "AB")),
    // concat SKIPS NULL arguments (probed; all-NULL → ''), unlike `||`
    q("SELECT concat('a', NULL, 'b') AS s", Seq("ab")),
    q("SELECT concat(NULL, NULL) AS s", Seq("")),
    q("SELECT concat(1, 2.5, 'x') AS s", Seq("12.5x")),
    q("SELECT 'a' || NULL AS s", Seq(null)),          // || stays NULL-strict
    q("SELECT concat_ws('-', 'a', NULL, 'b') AS s", Seq("a-b")),
    q("SELECT to_hex(255) AS s", Seq("FF")),
    q("SELECT base64(CAST('abc' AS BLOB)) AS s", Seq("YWJj")),

    // --- r8 breadth: date/time-function corners (duckdb-probed) ---
    q("SELECT date_part('year', DATE '2020-03-15') AS y", Seq(2020)),
    q("SELECT datepart('month', DATE '2020-03-15') AS m", Seq(3)),
    q("SELECT date_diff('day', DATE '2020-01-01', DATE '2020-03-01') AS d",
      Seq(60)),
    q("SELECT datediff('month', DATE '2020-01-15', DATE '2020-04-10') AS m",
      Seq(3)),
    q("SELECT date_trunc('week', DATE '2020-03-15') AS d", Seq("2020-03-09")),
    q("SELECT dayname(DATE '2020-03-15') AS s, monthname(DATE '2020-03-15') AS m",
      Seq("Sunday", "March")),
    q("SELECT dayofweek(DATE '2020-03-15') AS d, isodow(DATE '2020-03-15') AS i",
      Seq(0, 7)),  // duckdb: 0 = Sunday; isodow 7 = Sunday
    q("SELECT weekofyear(DATE '2020-03-15') AS w", Seq(11)),
    q("SELECT last_day(DATE '2020-02-10') AS d", Seq("2020-02-29")),
    q("SELECT make_date(2020, 3, 15) AS d", Seq("2020-03-15")),
    q("SELECT make_timestamp(2020, 3, 15, 10, 30, 1.5) AS t",
      Seq("2020-03-15 10:30:01.5")),
    q("SELECT epoch(TIMESTAMP '2020-01-01 00:00:00') AS e", Seq(1577836800)),
    q("SELECT epoch_ms(TIMESTAMP '2020-01-01 00:00:00') AS e",
      Seq(1577836800000L)),
    q("SELECT to_timestamp(1577836800) AS t", Seq("2020-01-01 00:00:00+00")),
    q("SELECT greatest(DATE '2020-01-01', DATE '2021-01-01') AS d",
      Seq("2021-01-01")),

    // --- r8 breadth: math/regex corners (duckdb-probed) ---
    q("SELECT factorial(5) AS f", Seq(120)),
    q("SELECT even(2.5) AS e, even(-2.5) AS f", Seq(4.0, -4.0)),
    q("SELECT even(2.0) AS e", Seq(2.0)),
    q("SELECT cot(1.0) AS c", Seq(0.6420926159343306)),
    q("SELECT atan2(1.0, 2.0) AS a", Seq(0.4636476090008061)),
    q("SELECT log2(8) AS l, log10(100) AS m", Seq(3.0, 2.0)),
    // cbrt differs from DuckDB by a platform-libm ulp on SOME inputs
    // (duck calls system cbrt: 27 → 3.0000000000000004, 1000 → 10.0) —
    // pinned under the repo's round-6 libm contract
    q("SELECT round(cbrt(27), 6) AS c", Seq(3.0)),
    q("SELECT round(cbrt(-27), 6) AS c", Seq(-3.0)),
    q("SELECT degrees(pi()) AS d, radians(180) AS r",
      Seq(180.0, 3.141592653589793)),
    q("SELECT isnan('nan'::DOUBLE) AS n, isinf('inf'::DOUBLE) AS i, " +
      "isfinite(1.0) AS f", Seq(true, true, true)),
    q("SELECT bit_count(7) AS b", Seq(3)),
    q("SELECT xor(5, 3) AS x", Seq(6)),
    q("SELECT 5 % 3 AS m", Seq(2)),
    q("SELECT -5 % 3 AS m, 5 % -3 AS n", Seq(-2, 2)), // truncated, both engines
    q("SELECT fmod(5.5, 2) AS f, fdiv(5.5, 2) AS d", Seq(1.5, 2.0)),
    q("SELECT fmod(-5.5, 2) AS f, fdiv(-7, 2) AS d", Seq(0.5, -4.0)), // FLOORED
    q("SELECT regexp_extract('abc123', '([a-z]+)(\\d+)', 2) AS r", Seq("123")),
    q("SELECT regexp_extract_all('a1b2', '\\d') AS r", Seq(Seq("1", "2"))),
    q("SELECT regexp_full_match('abc', '[a-c]+') AS r", Seq(true)),
    q("SELECT regexp_full_match('abcd', '[a-c]+') AS r", Seq(false)),
    q("SELECT regexp_escape('a.b') AS r", Seq("a\\.b")),

    // --- r8 breadth: operator spellings (duckdb-probed) ---
    q("SELECT 'abc' ILIKE 'A%' AS a, 'abc' NOT ILIKE 'B%' AS b",
      Seq(true, true)),
    q("SELECT 'abc' SIMILAR TO 'a.c' AS s", Seq(true)),
    q("SELECT 'abc' SIMILAR TO 'b' AS s", Seq(false)),   // FULL match
    q("SELECT 'abc' NOT SIMILAR TO 'xyz' AS s", Seq(true)),
    q("SELECT 'abc' ~ 'a.c' AS r, 'abc' !~ 'xyz' AS n", Seq(true, true)),
    q("SELECT 'abc' ~ 'b' AS r", Seq(false)),            // ~ is FULL match
    q("SELECT 'a.c' GLOB 'a?c' AS g, 'abc' GLOB 'a[bc]c' AS h",
      Seq(true, true)),
    q("SELECT 'abc' GLOB 'a*' AS g, 'abc' GLOB 'b*' AS h", Seq(true, false)),
    q("SELECT 1 IS DISTINCT FROM NULL AS a, " +
      "NULL IS NOT DISTINCT FROM NULL AS b", Seq(true, true)),
    q("SELECT IFNULL(NULL, 5) AS a", Seq(5)),
    q("SELECT 2 ** 10 AS p", Seq(1024.0)),
    q("SELECT 2 ** 3 ** 2 AS p", Seq(64.0)),   // LEFT-associative (probed)
    q("SELECT 10 - 2 ** 2 AS p", Seq(6.0)),
    q("SELECT 5! AS f", Seq(120)),
    q("SELECT @(-7) AS a", Seq(7)),
    q("SELECT 1/0 AS d", Seq(null)),    // duckdb: division by zero is NULL
    q("SELECT 1//0 AS d", Seq(null)),
    q("SELECT greatest(1, NULL, 3) AS g, least('b', 'a') AS l", Seq(3, "a")),
    q("SELECT 0.1 + 0.2 = 0.3 AS exact", Seq(true)), // DECIMAL literal math
    q("SELECT printf('%d-%s', 7, 'x') AS p", Seq("7-x")),
    q("WITH m AS MATERIALIZED (SELECT 1 AS x) SELECT x FROM m", Seq(1)),
    q("WITH m AS NOT MATERIALIZED (SELECT 2 AS x) SELECT x FROM m", Seq(2)),
    q("SELECT [x*2 for x in [1,2,3] if x != 2] AS l", Seq(Seq(2, 6))),

    // --- r8 breadth batch 2: text/path/bytes/time scalars (probed) ---
    q("SELECT translate('abc','ab','xy') AS t, translate('abc','ab','x') AS u," +
      " translate('abc','','x') AS w", Seq("xyc", "xc", "abc")),
    q("SELECT strip_accents('ÁÉñü žß') AS s", Seq("AEnu zß")),
    q("SELECT nfc_normalize('e\u0301') AS n, " +
      "length(nfc_normalize('e\u0301')) AS l", Seq("\u00e9", 1)),
    q("SELECT parse_path('/a/b/c.txt') AS p",
      Seq(Seq("/", "a", "b", "c.txt"))),
    q("SELECT parse_path('a//b') AS p, parse_path('') AS e",
      Seq(Seq("a", "b"), Seq())),
    q("SELECT parse_path('C:\\x\\y') AS p", Seq(Seq("C:", "x", "y"))),
    q("SELECT parse_dirname('/a/b/c.txt') AS a, parse_dirpath('/a/b/c.txt') AS b",
      Seq("/", "/a/b")),
    q("SELECT parse_dirname('a/b/c') AS a, parse_dirpath('a/b/c') AS b, " +
      "parse_dirname('x') AS c, parse_dirpath('/x') AS d",
      Seq("a", "a/b", "", "")),
    q("SELECT parse_filename('/a/b/c.txt') AS a, " +
      "parse_filename('/a/b/c.txt', true) AS b", Seq("c.txt", "c")),
    q("SELECT parse_filename('/a/b/.hidden', true) AS a, " +
      "parse_filename('/a/b/c.tar.gz', true) AS b, " +
      "parse_filename('/a/b/') AS c", Seq("", "c.tar", "")),
    q("SELECT parse_path('\\a\\b', 'backslash') AS p, " +
      "parse_filename('a/b\\c', 'forward_slash') AS f",
      Seq(Seq("\\", "a", "b"), "b\\c")),
    q("SELECT format_bytes(0) AS a, format_bytes(1023) AS b, " +
      "format_bytes(1024) AS c, format_bytes(1536) AS d",
      Seq("0 bytes", "1023 bytes", "1.0 KiB", "1.5 KiB")),
    q("SELECT format_bytes(-2048) AS a, format_bytes(1152921504606846976) " +
      "AS b, format_bytes(1075) AS c",
      Seq("-2.0 KiB", "1024.0 PiB", "1.0 KiB")),
    q("SELECT time_bucket(INTERVAL '15 minutes', " +
      "TIMESTAMP '2024-01-01 10:23:00') AS t", Seq("2024-01-01 10:15:00")),
    q("SELECT time_bucket(INTERVAL '2 hours', " +
      "TIMESTAMP '2024-01-01 11:00:00') AS t", Seq("2024-01-01 10:00:00")),
    q("SELECT time_bucket(INTERVAL '7 days', DATE '2024-01-10') AS w, " +
      "time_bucket(INTERVAL '10 days', DATE '2024-01-01') AS t",
      Seq("2024-01-08", "2023-12-28")),
    q("SELECT time_bucket(INTERVAL '1 month', DATE '2024-05-15') AS m, " +
      "time_bucket(INTERVAL '3 months', DATE '2024-05-15') AS q, " +
      "time_bucket(INTERVAL '1 year', DATE '2024-05-15') AS y",
      Seq("2024-05-01", "2024-04-01", "2024-01-01")),
    q("SELECT time_bucket(INTERVAL '1 month', " +
      "TIMESTAMP '2024-05-15 10:00:00') AS m", Seq("2024-05-01")),

    // --- r8 breadth batch 2: map/struct corners (probed) ---
    q("SELECT map_keys(MAP {'a': 1, 'b': 2}) AS k, " +
      "map_values(MAP {'a': 1, 'b': 2}) AS v",
      Seq(Seq("a", "b"), Seq(1, 2))),
    q("SELECT map_entries(MAP {'a': 1}) AS e", Seq(Seq(Seq("a", 1)))),
    q("SELECT cardinality(MAP {'a': 1, 'b': 2}) AS c", Seq(2)),
    q("SELECT map_extract(MAP {'a': 1}, 'a') AS x, " +
      "map_extract(MAP {'a': 1}, 'z') AS m", Seq(Seq(1), Seq())),
    q("SELECT element_at(MAP {'a': 1}, 'a') AS e", Seq(Seq(1))),
    q("SELECT map_extract(MAP {'a': NULL}, 'a') AS mn", Seq(Seq(null))),
    q("SELECT map_entries(map_concat(MAP {'a':1}, MAP {'a':9, 'b':2})) AS m",
      Seq(Seq(Seq("a", 9), Seq("b", 2)))),
    q("SELECT map_entries(map_from_entries([{'k':'a','v':1}])) AS m",
      Seq(Seq(Seq("a", 1)))),
    q("SELECT struct_extract({'a': 7, 'b': 8}, 'b') AS x", Seq(8)),
    q("SELECT {'a': 1}.a AS dot", Seq(1)),
    q("SELECT row(1, 'x') AS r", Seq(Seq(1, "x"))),

    // --- r8 breadth batch 2: list/regex/numeric scalars (probed) ---
    q("SELECT list_where([1,NULL,3],[true,true,false]) AS a, " +
      "list_where([1,2],[true]) AS c", Seq(Seq(1, null), Seq(1))),
    q("SELECT list_select([10,20,30],[3,1]) AS s, " +
      "list_select([10,20],[5]) AS oob, list_select([10,20],[0]) AS z",
      Seq(Seq(30, 10), Seq(null), Seq(null))),
    q("SELECT list_grade_up([30,10,20]) AS g", Seq(Seq(2, 3, 1))),
    q("SELECT list_grade_up([NULL,2,1]) AS g, list_grade_up([2,2,1]) AS t",
      Seq(Seq(3, 2, 1), Seq(3, 1, 2))),
    q("SELECT regexp_split_to_table('a,b,,c', ',') AS t",
      Seq("a"), Seq("b"), Seq(""), Seq("c")),
    q("SELECT sha256('x') AS s",
      Seq("2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881")),
    q("SELECT signbit(-3) AS a, signbit(0) AS b, signbit(3.0) AS c, " +
      "signbit('-inf'::DOUBLE) AS d", Seq(true, false, false, true)),
    q("SELECT even(2.5) AS a, even(-2.5) AS b, even(0.1) AS c, " +
      "even(-0.1) AS d, even(0) AS e, even(3) AS f, even(2.0) AS g",
      Seq(4, -4, 2, -2, 0, 4, 2)),
    q("SELECT isfinite(1.0) AS f, isinf('inf'::DOUBLE) AS i, " +
      "isfinite('nan'::DOUBLE) AS n, isinf(5.0) AS j",
      Seq(true, true, false, false)),
    q("SELECT xor(5, 3) AS x, xor(NULL, 3) AS n", Seq(6, null)),
    // (cbrt deliberately unpinned: DuckDB rides glibc cbrt, Spark rides
    // Java's — they disagree in the last ulp on e.g. cbrt(27))
    q("SELECT bit_count(7) AS b, bit_count(255) AS b2", Seq(3, 8)),
    q("SELECT position('b' IN 'abc') AS p", Seq(2)),
    q("SELECT prefix('abc','ab') AS p, suffix('abc','bc') AS s",
      Seq(true, true)),

    // --- r8 breadth batch 2: aggregate corners (probed) ---
    q("SELECT skewness(x) AS s, kurtosis(x) AS k " +
      "FROM (VALUES (1.0),(2.0),(4.0),(8.0)) t(x)",
      Seq(1.1376243669576889, 0.7576559546313808)),
    q("SELECT skewness(x) AS s FROM (VALUES (1.0),(2.0)) t(x)", Seq(null)),
    q("SELECT kurtosis(x) AS k FROM (VALUES (1.0),(2.0),(3.0)) t(x)",
      Seq(null)),
    q("SELECT skewness(x) AS s FROM (VALUES (1.0),(1.0),(1.0),(2.0)) t(x)",
      Seq(2)),
    q("SELECT kurtosis(x) AS k " +
      "FROM (VALUES (1.0),(2.0),(4.0),(8.0),(16.0)) t(x)",
      Seq(1.3037634408602148)),
    q("SELECT regr_slope(y, x) AS r " +
      "FROM (VALUES (1.0, 2.0),(2.0, 3.5),(3.0, 5.0)) t(x,y)", Seq(1.5)),
    q("SELECT quantile_disc(x, 0.5) AS m FROM (VALUES (1),(2),(3),(4)) t(x)",
      Seq(2)),
    q("SELECT quantile_disc(x, [0.25, 0.75]) AS q " +
      "FROM (VALUES (1),(2),(3),(4)) t(x)", Seq(Seq(1, 3))),
    q("SELECT quantile(x, 0.5) AS m FROM (VALUES (1),(2),(3),(4)) t(x)",
      Seq(2)),
    q("SELECT grouping(grp) AS g, count(*) AS c " +
      "FROM (VALUES ('a'),('b')) t(grp) GROUP BY CUBE(grp)",
      Seq(0, 1), Seq(0, 1), Seq(1, 2)),

    // --- r8 breadth batch 3: json / typeof / date parts / misc (probed) ---
    q("""SELECT json_extract('{"a":"x"}', '$.a') AS j""", Seq("\"x\"")),
    q("""SELECT json_extract('{"a":{"b":1}}', '$.a') AS j""",
      Seq("{\"b\":1}")),
    q("""SELECT json_extract('{"a":[1,2]}', '$.a[1]') AS j""", Seq("2")),
    q("""SELECT json_extract('{"a":1}', 'a') AS j""", Seq("1")),
    q("""SELECT json_extract_string('{"a":"x"}', '$.a') AS s""", Seq("x")),
    q("""SELECT json_extract_string('{"a":{"b":1}}', '$.a') AS s""",
      Seq("{\"b\":1}")),
    q("""SELECT '{"a":1}' ->> 'a' AS arrow""", Seq("1")),
    q("""SELECT json_array_length('[1,2,3]') AS l""", Seq(3)),
    q("""SELECT json_valid('{"a":1}') AS v, json_valid('[1,') AS n, """ +
      """json_valid('1') AS s""", Seq(true, false, true)),
    q("""SELECT json_keys('{"a":1,"b":2}') AS k, json_keys('{}') AS e""",
      Seq(Seq("a", "b"), Seq())),
    q("SELECT typeof(1) AS a, typeof(1::BIGINT) AS b, typeof('x') AS c, " +
      "typeof(1.5) AS d, typeof(1.5::DOUBLE) AS e",
      Seq("INTEGER", "BIGINT", "VARCHAR", "DECIMAL(2,1)", "DOUBLE")),
    q("SELECT typeof(NULL) AS n, typeof([1,2]) AS l, typeof({'a':1}) AS s, " +
      "typeof(DATE '2024-01-01') AS d",
      Seq("\"NULL\"", "INTEGER[]", "STRUCT(a INTEGER)", "DATE")),
    q("SELECT century(DATE '2000-12-31') AS a, century(DATE '2001-01-01') " +
      "AS b, decade(DATE '2020-01-01') AS c", Seq(20, 21, 202)),
    q("SELECT DATE '2024-01-01' + to_days(5) AS d", Seq("2024-01-06")),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' + to_hours(3) AS h",
      Seq("2024-01-01 03:00:00")),
    q("SELECT constant_or_null(7, NULL) AS a, constant_or_null(7, 1) AS b, " +
      "constant_or_null(7, 1, NULL) AS c", Seq(null, 7, null)),
    q("SELECT strlen('héllo') AS b", Seq(6)),
    q("SELECT string_to_array('a.b', '.') AS s", Seq(Seq("a", "b"))),
    q("SELECT current_schema() AS s", Seq("main")),
    q("SELECT count_if(x > 1) AS c FROM (VALUES (1),(2),(3)) t(x)", Seq(2)),
    q("SELECT product(x) AS p FROM (VALUES (2),(3),(4)) t(x)", Seq(24.0)),
    q("SELECT product(x) AS p FROM (VALUES (2),(NULL),(4)) t(x)", Seq(8.0)),
    q("SELECT product(x) AS p FROM (VALUES (2.5),(-4.0)) t(x)", Seq(-10.0)),
    q("SELECT product(x) AS p FROM (VALUES (1)) t(x) WHERE false",
      Seq(null)),
    q("SELECT v, cume_dist() OVER (ORDER BY v) AS c, percent_rank() OVER " +
      "(ORDER BY v) AS p FROM (VALUES (1),(2),(2)) t(v)",
      Seq(1, 1.0 / 3, 0.0), Seq(2, 1.0, 0.5), Seq(2, 1.0, 0.5)),
    q("SELECT v, nth_value(v, 2) OVER (ORDER BY v) AS n " +
      "FROM (VALUES (1),(2),(3)) t(v)",
      Seq(1, null), Seq(2, 2), Seq(3, 2)),
    q("SELECT v, first_value(v) OVER (ORDER BY v ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING) AS f FROM (VALUES (1),(2),(3)) t(v)",
      Seq(1, 1), Seq(2, 1), Seq(3, 2)),

    // --- r8 breadth batch 4: embedding/list math + misc (probed) ---
    q("SELECT list_dot_product([1.0,2.0],[3.0,4.0]) AS d, " +
      "list_inner_product([1.0,2.0],[3.0,4.0]) AS i, " +
      "list_dot_product([1,2],[3,4]) AS ints", Seq(11.0, 11.0, 11.0)),
    q("SELECT list_cosine_similarity([1.0,2.0],[2.0,4.0]) AS c",
      Seq(0.9999999999999998)),
    q("SELECT list_cosine_similarity([3.0,4.0],[4.0,3.0]) AS c", Seq(0.96)),
    q("SELECT list_distance([0.0,0.0],[3.0,4.0]) AS e, " +
      "list_distance([1,2],[4,6]) AS ints", Seq(5.0, 5.0)),
    q("SELECT list_concat([1,2],[3]) AS c, list_cat([1],[2]) AS c2, " +
      "array_concat([1],[2]) AS a", Seq(Seq(1, 2, 3), Seq(1, 2), Seq(1, 2))),
    q("SELECT list_concat(NULL, [1]) AS ln, list_concat([1], NULL) AS rn",
      Seq(Seq(1), Seq(1))),
    q("SELECT list_unique([1,1,2,NULL]) AS u", Seq(2)),
    q("SELECT list_any_value([NULL, 3, 4]) AS a, list_any_value([NULL]) AS n",
      Seq(3, null)),
    q("SELECT list_count([1,NULL,2]) AS c", Seq(2)),
    q("SELECT list_sum([1,NULL,2]) AS s, list_avg([2,4]) AS a",
      Seq(3, 3.0)),
    q("SELECT array_pop_front([1,2,3]) AS f, array_pop_back([1,2,3]) AS b, " +
      "array_pop_front([1]) AS e", Seq(Seq(2, 3), Seq(1, 2), Seq())),
    q("SELECT list_prepend(0, [1,2]) AS p", Seq(Seq(0, 1, 2))),
    q("SELECT like_escape('a%c', 'a$%c', '$') AS a, " +
      "not_like_escape('abc', 'a$%c', '$') AS b, " +
      "ilike_escape('A%C', 'a$%c', '$') AS c", Seq(true, true, true)),
    q("SELECT ord('A') AS o, ord('€') AS e", Seq(65, 8364)),
    q("SELECT map_entries(histogram(x)) AS h FROM (VALUES (1),(1),(2)) t(x)",
      Seq(Seq(Seq(1, 2), Seq(2, 1)))),
    q("SELECT map_entries(histogram(x)) AS h " +
      "FROM (VALUES ('b'),('a'),('b')) t(x)",
      Seq(Seq(Seq("a", 1), Seq("b", 2)))),
    q("SELECT hex('ab'::BLOB) AS h", Seq("6162")),
    q("SELECT to_base64('ab'::BLOB) AS b, from_base64('YWI=')::VARCHAR AS f",
      Seq("YWI=", "ab")),

    // --- r8 breadth batch 5: order/limit/series/window sugar (probed) ---
    q("SELECT 2 AS b, 1 AS a ORDER BY ALL", Seq(2, 1)),
    C("SELECT v FROM (VALUES (3),(1),(2)) t(v) ORDER BY ALL DESC",
      Some(Seq(Seq(3), Seq(2), Seq(1))), ordered = true),
    C("SELECT v FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) " +
      "t(v) ORDER BY v LIMIT 25%", Some(Seq(Seq(1), Seq(2))), ordered = true),
    C("SELECT v FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) " +
      "t(v) ORDER BY v LIMIT 28%", Some(Seq(Seq(1), Seq(2))), ordered = true),
    q("VALUES (1, 'x'), (2, 'y')", Seq(1, "x"), Seq(2, "y")),
    q("SELECT * FROM generate_series(DATE '2024-01-01', DATE '2024-01-03', " +
      "INTERVAL 1 DAY)",
      Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-03")),
    q("SELECT * FROM range(DATE '2024-01-01', DATE '2024-01-04', " +
      "INTERVAL 1 DAY)",
      Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-01-03")),
    q("SELECT * FROM range(TIMESTAMP '2024-01-01 00:00:00', " +
      "TIMESTAMP '2024-01-01 03:00:00', INTERVAL 1 HOUR)",
      Seq("2024-01-01"), Seq("2024-01-01 01:00:00"),
      Seq("2024-01-01 02:00:00")),
    q("""SELECT regexp_extract('a1', '([a-z])(\d)', ['l','d']) AS s""",
      Seq(Seq("a", "1"))),
    q("SELECT count(*) FILTER (WHERE v > 1) OVER () AS c " +
      "FROM (VALUES (1),(2),(3)) t(v)", Seq(2), Seq(2), Seq(2)),
    q("SELECT v, sum(v) FILTER (WHERE v <> 2) OVER (ORDER BY v) AS s " +
      "FROM (VALUES (1),(2),(3)) t(v)",
      Seq(1, 1), Seq(2, 1), Seq(3, 4)),
    q("SELECT list_apply([1,2], x -> x * 2) AS la, " +
      "apply([1,2], x -> x + 1) AS ap, list_pack(1,2,3) AS lp",
      Seq(Seq(2, 4), Seq(2, 3), Seq(1, 2, 3))),
    q("SELECT string_agg(DISTINCT v, ',' ORDER BY v) AS s " +
      "FROM (VALUES ('b'),('a'),('b')) t(v)", Seq("a,b")),
    q("SELECT i, last_value(v IGNORE NULLS) OVER (ORDER BY i) AS lv " +
      "FROM (VALUES (1,1),(2,NULL)) t(i,v)", Seq(1, 1), Seq(2, 1)),
    q("SELECT i, lag(v, 1 IGNORE NULLS) OVER (ORDER BY i) AS l " +
      "FROM (VALUES (1,1),(2,NULL),(3,3)) t(i,v)",
      Seq(1, null), Seq(2, 1), Seq(3, 1)),
    q("SELECT i, lead(v, 1 IGNORE NULLS) OVER (ORDER BY i) AS l " +
      "FROM (VALUES (1,1),(2,NULL),(3,3)) t(i,v)",
      Seq(1, 3), Seq(2, 3), Seq(3, null)),
    q("SELECT nextafter(1.0, 2.0) AS a, nextafter(0.0, -1.0) AS b",
      Seq(1.0000000000000002, -4.9e-324)),
    q("SELECT round(2.5::DOUBLE) AS a, round(-2.5::DOUBLE) AS b, " +
      "round(3.5::DOUBLE) AS c", Seq(3.0, -3.0, 4.0)),
    q("SELECT round(2.5) AS a, round(-2.5) AS b, round(1.2345, 2) AS c",
      Seq(3, -3, 1.23)),
    q("SELECT pow(2, 10) AS p", Seq(1024.0)),
    q("SELECT DATE '2024-01-01' + 7 AS p, DATE '2024-01-01' - 7 AS m",
      Seq("2024-01-08", "2023-12-25")),

    // --- r8 breadth batch 6: operator aliases / date_sub / misc (probed) ---
    q("SELECT 'abc' ~~ 'a%' AS l, 'abc' !~~ 'b%' AS nl, 'ABC' ~~* 'a%' AS i",
      Seq(true, true, true)),
    q("SELECT 'abc' ^@ 'ab' AS sw, 'abc' ^@ 'bc' AS nsw", Seq(true, false)),
    q("SELECT list_extract([1,2], 2) AS l, list_element([1,2], 1) AS e, " +
      "array_extract([1,2], 9) AS oob", Seq(2, 1, null)),
    q("SELECT array_slice([1,2,3,4,5], 2, 4, 2) AS s, " +
      "array_slice([1,2,3,4,5], 4, 2, -2) AS n",
      Seq(Seq(2, 4), Seq(4, 2))),
    // date_sub counts ELAPSED FULL units; date_diff counts boundaries
    q("SELECT date_sub('month', DATE '2024-01-15', DATE '2024-03-10') AS m, " +
      "date_diff('month', DATE '2024-01-15', DATE '2024-03-10') AS b",
      Seq(1, 2)),
    q("SELECT date_sub('day', TIMESTAMP '2024-01-08 12:00:00', " +
      "TIMESTAMP '2024-01-01 00:00:00') AS n", Seq(-7)),
    q("SELECT date_sub('month', TIMESTAMP '2024-01-15 10:00:00', " +
      "TIMESTAMP '2024-03-15 09:59:00') AS m", Seq(1)),
    q("SELECT date_sub('month', DATE '2024-03-10', DATE '2024-01-15') AS m",
      Seq(-1)),
    q("SELECT date_sub('year', DATE '2023-06-01', DATE '2024-05-01') AS y, " +
      "date_sub('quarter', DATE '2024-01-01', DATE '2024-07-15') AS q, " +
      "date_sub('week', DATE '2024-01-01', DATE '2024-01-20') AS w",
      Seq(0, 2, 2)),
    q("SELECT datesub('day', DATE '2024-01-01', DATE '2024-01-08') AS d",
      Seq(7)),
    q("SELECT datetrunc('month', TIMESTAMP '2024-05-05 10:30:00') AS m",
      Seq("2024-05-01")),
    q("SELECT today() = current_date AS t", Seq(true)),
    q("SELECT length(gen_random_uuid()::VARCHAR) AS l, uuid() <> uuid() AS d",
      Seq(36, true)),
    q("SELECT version() AS v", Seq("v1.0.0")),
    q("SELECT quantile_cont(x::DOUBLE, [0.25, 0.75]) AS q " +
      "FROM (VALUES (1.0),(2.0),(3.0),(4.0)) t(x)", Seq(Seq(1.75, 3.25))),
    q("SELECT substring('abcdef', 2, 3) AS s, substring('abcdef', -3, 2) AS n",
      Seq("bcd", "de")),
    q("SELECT CAST('t' AS BOOLEAN) AS t1, CAST('0' AS BOOLEAN) AS f1",
      Seq(true, false)),

    // --- r8 breadth batch 7: indexed lambdas / quantifiers / frames ---
    // DuckDB's 2-param lambdas pass a 1-BASED index (probed — the alias
    // to Spark's 0-based transform/filter was silently wrong before r8)
    q("SELECT list_transform([1,2,3], (x, i) -> x + i) AS t",
      Seq(Seq(2, 4, 6))),
    q("SELECT list_filter([10,20,30], (x, i) -> i > 1) AS f",
      Seq(Seq(20, 30))),
    q("SELECT 1 = ANY (SELECT 1) AS a, 3 <> ALL (SELECT 1) AS c",
      Seq(true, true)),
    q("SELECT v, sum(v) OVER (ORDER BY v ROWS BETWEEN 1 PRECEDING AND " +
      "1 FOLLOWING EXCLUDE NO OTHERS) AS s FROM (VALUES (1),(2)) t(v)",
      Seq(1, 3), Seq(2, 3)),
    q("SELECT v, avg(v) OVER w AS a, sum(v) OVER w AS s " +
      "FROM (VALUES (1),(2)) t(v) WINDOW w AS (ORDER BY v)",
      Seq(1, 1.0, 1), Seq(2, 1.5, 3)),
    q("SELECT TRY_CAST('2024-13-01' AS DATE) AS bad, " +
      "TRY_CAST('2024-01-01' AS DATE) AS ok", Seq(null, "2024-01-01")),
    q("SELECT INTERVAL (7) DAY + DATE '2024-01-01' AS d",
      Seq("2024-01-08")),
    q("SELECT [[y for y in [1,x]] for x in [2,3]] AS ll",
      Seq(Seq(Seq(1, 2), Seq(1, 3)))),
    q("SELECT EXISTS (SELECT 1 WHERE false) AS e, " +
      "(SELECT 1) + (SELECT 2) AS s", Seq(false, 3)),
    q("SELECT CAST(1.50 AS VARCHAR) AS d, CAST(true AS VARCHAR) AS b, " +
      "CAST(DATE '2024-01-01' AS VARCHAR) AS dt",
      Seq("1.50", "true", "2024-01-01")),

    // --- r8 breadth batch 8: aliases-in-WHERE / describe-select /
    //     pivot / sampling counts (probed) ---
    s("CREATE TABLE bt8 (city VARCHAR, yr INTEGER, amt INTEGER)"),
    s("INSERT INTO bt8 VALUES ('a',2020,1),('a',2021,2),('b',2020,3)"),
    C("SELECT amt*10 AS big FROM bt8 WHERE big > 15 ORDER BY 1",
      Some(Seq(Seq(20), Seq(30))), ordered = true),
    // a real column named like the alias wins (probed)
    C("SELECT yr AS amt FROM bt8 WHERE amt > 1 ORDER BY 1",
      Some(Seq(Seq(2020), Seq(2021))), ordered = true),
    // lateral alias reuse inside the SELECT list
    C("SELECT amt*10 AS big, big + 1 AS bigger FROM bt8 ORDER BY 1, 2",
      Some(Seq(Seq(10, 11), Seq(20, 21), Seq(30, 31))), ordered = true),
    C("SELECT amt AS a FROM bt8 GROUP BY a HAVING a > 1 ORDER BY a",
      Some(Seq(Seq(2), Seq(3))), ordered = true),
    C("SELECT city, list(amt ORDER BY amt DESC) AS l FROM bt8 " +
      "GROUP BY city ORDER BY city",
      Some(Seq(Seq("a", Seq(2, 1)), Seq("b", Seq(3)))), ordered = true),
    q("DESCRIBE SELECT city, amt FROM bt8",
      Seq("city", "VARCHAR", "YES", null, null, null),
      Seq("amt", "INTEGER", "YES", null, null, null)),
    s("SUMMARIZE SELECT * FROM bt8"),
    q("SELECT * FROM bt8 PIVOT (sum(amt) FOR yr IN (2020, 2021))",
      Seq("a", 1, 2), Seq("b", 3, null)),
    q("SELECT count(*) AS c FROM (SELECT * FROM bt8 USING SAMPLE 2) s",
      Seq(2)),
    q("SELECT count(*) AS c FROM bt8 USING SAMPLE 100% (bernoulli)",
      Seq(3)),
    q("WITH t(x) AS (VALUES (1),(2)) SELECT sum(x) AS s FROM t", Seq(3)),
    C("FROM bt8 SELECT city WHERE amt > 1 ORDER BY city",
      Some(Seq(Seq("a"), Seq("b"))), ordered = true),
    C("SELECT amt, IF(amt > 1, 'big', 'small') AS s FROM bt8 ORDER BY amt",
      Some(Seq(Seq(1, "small"), Seq(2, "big"), Seq(3, "big"))),
      ordered = true),

    // --- r8 breadth batch 9: format specs / comparisons (probed) ---
    q("SELECT printf('%5.2f|%05d|%x', 3.14159, 42, 255) AS p",
      Seq(" 3.14|00042|ff")),
    q("SELECT printf('%s=%d%%', 'x', 9) AS p", Seq("x=9%")),
    q("SELECT format('{:.3f}|{:x}', 2.5, 255) AS f", Seq("2.500|ff")),
    q("SELECT concat('a', 1, DATE '2024-01-01') AS m", Seq("a12024-01-01")),
    q("SELECT concat_ws('-', 'a', NULL, 'b') AS c", Seq("a-b")),
    q("SELECT repeat('-', 0) AS a, repeat('ab', -1) AS b", Seq("", "")),
    q("SELECT substring('abc' FROM 2 FOR 1) AS s", Seq("b")),
    q("SELECT 0.1::FLOAT::VARCHAR AS f", Seq("0.1")),
    q("SELECT regexp_extract('2024-01-02', '(\\d+)-(\\d+)-(\\d+)', 0) AS g",
      Seq("2024-01-02")),
    q("SELECT {'a':1} = {'a':1} AS eq, {'a':1} = {'a':2} AS ne",
      Seq(true, false)),
    q("SELECT row(1,2) = row(1,2) AS teq", Seq(true)),
    q("SELECT [1,2] < [1,3] AS lc, [1,2] = [1,2] AS le", Seq(true, true)),
    q("SELECT NULL IN ('a') AS n, 'b' IN ('a','b') AS y", Seq(null, true)),
    q("SELECT str_split('a b', ' ') AS s", Seq(Seq("a", "b"))),

    // --- r8 breadth batch 10: stats aggregates / frames / unions ---
    q("SELECT corr(y, x) AS c, covar_pop(y, x) AS cp, covar_samp(y, x) " +
      "AS cs FROM (VALUES (1.0,2.0),(2.0,4.0),(3.0,5.0)) t(x,y)",
      Seq(0.9819805060619659, 1.0, 1.5)),
    q("SELECT regr_intercept(y,x) AS ri, regr_r2(y,x) AS r2, " +
      "regr_count(y,x) AS rc " +
      "FROM (VALUES (1.0,2.0),(2.0,4.0),(3.0,5.0)) t(x,y)",
      Seq(0.6666666666666665, 0.9642857142857145, 3)),
    // (regr_syy deliberately unpinned: DuckDB's Welford accumulation
    // order differs from Spark's central-moment merge in the last ulp)
    q("SELECT regr_avgx(y,x) AS ax, regr_avgy(y,x) AS ay, " +
      "regr_sxx(y,x) AS sxx, regr_sxy(y,x) AS sxy " +
      "FROM (VALUES (1.0,2.0),(2.0,4.0),(3.0,5.0)) t(x,y)",
      Seq(2.0, 3.6666666666666665, 2.0, 3.0)),
    C("SELECT ts, sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY " +
      "PRECEDING AND CURRENT ROW) AS s FROM (VALUES " +
      "(TIMESTAMP '2024-01-01 00:00:00', 1), " +
      "(TIMESTAMP '2024-01-01 12:00:00', 2), " +
      "(TIMESTAMP '2024-01-03 00:00:00', 4)) t(ts, v) ORDER BY ts",
      Some(Seq(Seq("2024-01-01", 1), Seq("2024-01-01 12:00:00", 3),
        Seq("2024-01-03", 4))), ordered = true),
    q("SELECT sum(x ORDER BY x) AS s, count(DISTINCT x ORDER BY x) AS c " +
      "FROM (VALUES (1),(2)) t(x)", Seq(3, 2)),
    q("SELECT union_extract(u, 'num') AS ue, union_tag(u) AS ut " +
      "FROM (SELECT union_value(num := 2) AS u) t", Seq(2, "num")),
    q("SELECT grouping_id(g) AS gid, count(*) AS c " +
      "FROM (VALUES ('a')) t(g) GROUP BY ROLLUP(g)",
      Seq(1, 1), Seq(0, 1)),
    q("SELECT arg_max(g, v) AS am " +
      "FROM (VALUES ('a',NULL),('b',1)) t(g,v)", Seq("b")),
    q("SELECT bool_and(b) AS ba FROM (VALUES (true),(NULL)) t(b)",
      Seq(true)),

    // complex-to-VARCHAR casts render DuckDB-style (probed: string
    // elements unquoted, struct keys quoted, maps k=v, NULL spelled)
    q("SELECT CAST(['a','b c'] AS VARCHAR) AS l", Seq("[a, b c]")),
    q("SELECT CAST([1.5, NULL] AS VARCHAR) AS n", Seq("[1.5, NULL]")),
    q("SELECT CAST([[1],[2,3]] AS VARCHAR) AS x", Seq("[[1], [2, 3]]")),
    q("SELECT CAST({'a': 1, 'b': 'x y'} AS VARCHAR) AS s",
      Seq("{'a': 1, 'b': x y}")),
    q("SELECT CAST({'a': [1,2]} AS VARCHAR) AS s", Seq("{'a': [1, 2]}")),
    q("SELECT CAST(MAP {'k1': 1, 'k2': NULL} AS VARCHAR) AS m",
      Seq("{k1=1, k2=NULL}")),
    q("SELECT CAST([DATE '2024-01-01'] AS VARCHAR) AS d",
      Seq("[2024-01-01]")),
    q("SELECT CAST([0.5::DOUBLE, 2.0::DOUBLE, 0.1::DOUBLE] AS VARCHAR) AS f",
      Seq("[0.5, 2.0, 0.1]")),
    q("SELECT CAST([TIMESTAMP '2024-01-01 10:00:00', " +
      "TIMESTAMP '2024-01-01 10:00:00.5'] AS VARCHAR) AS t",
      Seq("[2024-01-01 10:00:00, 2024-01-01 10:00:00.5]")),
    q("SELECT CAST([true, NULL] AS VARCHAR) AS b", Seq("[true, NULL]")),

    // r8 batch 15: json aggregates/type, map ctor, collations (probed)
    q("""SELECT json_group_array(v) AS a FROM (VALUES (1),(2)) t(v)""",
      Seq("[1,2]")),
    q("SELECT json_group_object(k, v) AS o " +
      "FROM (VALUES ('a',1),('b',2)) t(k,v)", Seq("{\"a\":1,\"b\":2}")),
    q("""SELECT json_type('[1,2]') AS a, json_type('{"a":1}') AS o, """ +
      """json_type('"x"') AS s, json_type('true') AS b""",
      Seq("ARRAY", "OBJECT", "VARCHAR", "BOOLEAN")),
    q("SELECT to_json([1,2]) AS a, to_json({'a':1}) AS s",
      Seq("[1,2]", "{\"a\":1}")),
    q("SELECT map_entries(map(['a','b'], [1,2])) AS m",
      Seq(Seq(Seq("a", 1), Seq("b", 2)))),
    q("SELECT 'ABC' = 'abc' COLLATE NOCASE AS nc, " +
      "'e' = 'é' COLLATE NOACCENT AS na", Seq(true, true)),
    q("SELECT INTERVAL 1 DAY * 3 = INTERVAL 3 DAY AS m, " +
      "INTERVAL 6 HOUR / 2 = INTERVAL 3 HOUR AS d", Seq(true, true)),
    q("SELECT generate_subscripts([10,20,30], 1) AS g",
      Seq(1), Seq(2), Seq(3)),
    q("SELECT editdist3('kitten','sitting') AS e", Seq(3)),
    q("SELECT list_sort([3,1,NULL], 'ASC', 'NULLS FIRST') AS a, " +
      "list_sort([3,1,NULL], 'DESC', 'NULLS FIRST') AS b",
      Seq(Seq(null, 1, 3), Seq(null, 3, 1))),
    q("SELECT regexp_matches('aBc', 'abc', 'i') AS m, " +
      "regexp_extract('aBc', 'a(b)c', 1, 'i') AS e", Seq(true, "B")),
    q("SELECT ucase('ab') AS u, lcase('AB') AS l", Seq("AB", "ab")),

    // r8 batch 14: shifts, containment ops, literal sugar (probed)
    q("SELECT 1 << 10 AS a, 1024 >> 3 AS b, -8 >> 1 AS c",
      Seq(1024, 128, -4)),
    q("SELECT [1,2,3] @> [2] AS a, [2] <@ [1,2,3] AS b, [1] @> [9] AS c",
      Seq(true, true, false)),
    q("SELECT 1_000_000 AS u", Seq(1000000)),
    q("SELECT .5 AS a, 5. AS b, +5 AS c", Seq(0.5, 5, 5)),
    q("SELECT strptime('02/15/2024', '%m/%d/%Y') AS a", Seq("2024-02-15")),
    q("SELECT strptime('15 Jan 2024', '%d %b %Y') AS a", Seq("2024-01-15")),
    q("SELECT to_timestamp(1704067200) AS t", Seq("2024-01-01 00:00:00+00")),
    q("SELECT v, count(*) AS c FROM (VALUES (1),(1)) t(v) " +
      "GROUP BY GROUPING SETS ((v), ())", Seq(1, 2), Seq(null, 2)),
    q("SELECT 5 % 3 AS a, -5 % 3 AS b, 5.5 % 2 AS c", Seq(2, -2, 1.5)),
    q("SELECT 3 NOT IN (1, NULL) AS a, NULL AND false AS b, " +
      "NULL OR true AS c", Seq(null, false, true)),
    q("SELECT CASE 2 WHEN 1 THEN 'a' WHEN 2 THEN 'b' END AS s", Seq("b")),
    q("SELECT 'abc' BETWEEN 'abb' AND 'abd' AS s", Seq(true)),

    // r8 batch 13: iso-year family, sub-minute extracts (probed)
    q("SELECT isoyear(DATE '2021-01-01') AS iy, " +
      "yearweek(DATE '2021-01-01') AS yw", Seq(2020, 202053)),
    q("SELECT isoyear(DATE '2024-06-15') AS iy", Seq(2024)),
    q("SELECT microsecond(TIMESTAMP '2024-01-01 00:00:01.123456') AS us, " +
      "millisecond(TIMESTAMP '2024-01-01 00:00:01.123456') AS ms",
      Seq(1123456, 1123)),
    q("SELECT dayofmonth(DATE '2024-02-05') AS dm, " +
      "dayofyear(DATE '2024-02-05') AS dy, quarter(DATE '2024-05-05') AS q, " +
      "millennium(DATE '2024-05-05') AS m", Seq(5, 36, 2, 3)),
    q("SELECT make_timestamp(1704067201000000) AS t",
      Seq("2024-01-01 00:00:01")),
    q("SELECT TRY_CAST('1.5' AS INTEGER) AS a, " +
      "TRY_CAST('  7 ' AS INTEGER) AS b, TRY_CAST(1e40 AS INTEGER) AS c",
      Seq(2, 7, null)),
    q("SELECT DATE '2024-01-31' + INTERVAL 1 MONTH AS c", Seq("2024-02-29")),
    q("SELECT INTERVAL 1 DAY = INTERVAL 24 HOUR AS e", Seq(true)),
    q("SELECT nullif(3, 3) AS n, nullif(3, 4) AS m", Seq(null, 3)),
    q("SELECT greatest(DATE '2024-01-01', DATE '2023-01-01') AS g",
      Seq("2024-01-01"))
  ) // split: a single Seq literal exceeds the JVM 64KB method limit

  private def corpusB: Seq[C] = Seq(

    // r8 batch 12: math/slices/substr-0 (probed)
    q("SELECT bin(10) AS b", Seq("1010")),
    q("SELECT degrees(pi()) AS d, radians(180.0) AS r",
      Seq(180.0, 3.141592653589793)),
    q("SELECT log2(8) AS a, log(100) AS b, ln(exp(1.0)) AS c, " +
      "log(2, 8) AS d", Seq(3.0, 2.0, 1.0, 3.0)),
    q("SELECT mod(7, 3) AS m, mod(-7, 3) AS n", Seq(1, -1)),
    q("SELECT sign(-5) AS s, sign(0) AS z", Seq(-1, 0)),
    q("SELECT ceiling(1.1) AS c, floor(-1.1) AS f", Seq(2, -2)),
    q("SELECT substr('abc', 0) AS a, substr('abc', 0, 2) AS b, " +
      "substr('abc', -2, 1) AS c", Seq("abc", "a", "b")),
    q("SELECT 'abc'[-2:-1] AS n, [1,2,3][:2] AS o1, [1,2,3][2:] AS o2",
      Seq("bc", Seq(1, 2), Seq(2, 3))),
    q("SELECT [1] || [2] AS c, 'a' || 'b' || NULL AS s",
      Seq(Seq(1, 2), null)),
    q("SELECT array_position([5,6],6) AS a, list_position([5,6],9) AS z",
      Seq(2, 0)),

    // date_part list form / epoch_ns / txid (probed)
    q("SELECT date_part(['year','month'], DATE '2024-05-06') AS p",
      Seq(Seq(2024, 5))),
    q("SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:01') AS n",
      Seq(1704067201000000000L)),
    q("SELECT txid_current() >= 0 AS t", Seq(true)),

    // enum introspection (0-based enum_code — probed)
    s("CREATE TYPE corpus_mood AS ENUM ('sad','happy')"),
    q("SELECT enum_range(NULL::corpus_mood) AS r", Seq(Seq("sad", "happy"))),
    q("SELECT enum_first(NULL::corpus_mood) AS f, " +
      "enum_last(NULL::corpus_mood) AS l, " +
      "enum_code('happy'::corpus_mood) AS c", Seq("sad", "happy", 1)),
    // enum_range_boundary: inclusive slice; a NULL bound extends to that
    // end (probed; both-NULL segfaults DuckDB 1.0 — not in the corpus)
    q("SELECT enum_range_boundary(NULL, 'happy'::corpus_mood) AS a, " +
      "enum_range_boundary('happy'::corpus_mood, NULL) AS b, " +
      "enum_range_boundary('sad'::corpus_mood, 'happy'::corpus_mood) AS c",
      Seq(Seq("sad", "happy"), Seq("happy"), Seq("sad", "happy"))),

    // len/length dispatch: chars for VARCHAR, element count (NULLs
    // included) for lists — BIGINT both ways (probed)
    q("SELECT len('héllo') AS a, len([1,2]) AS b, len([1,2,NULL]) AS c, " +
      "length([4,5]) AS d, length('abc') AS e", Seq(5, 2, 3, 2, 3)),

    // --- r8 batch 16: array_* aliases of the list family (probed) ---
    q("SELECT array_aggregate([1,NULL,3], 'sum') AS a, " +
      "array_apply([1,2,3], x -> x * 2) AS b", Seq(4, Seq(2, 4, 6))),
    q("SELECT array_filter([1,2,3,4], x -> x > 2) AS a, " +
      "array_reduce([1,2,3,4], (a,b) -> a + b) AS b", Seq(Seq(3, 4), 10)),
    q("SELECT array_indexof([10,20,30], 30) AS a, array_has([1,2,3], 2) " +
      "AS b, array_unique([1,1,2,NULL]) AS c", Seq(3, true, 2)),
    q("SELECT array_resize([1,2], 4) AS a, array_resize([1,2], 4, 9) AS b",
      Seq(Seq(1, 2, null, null), Seq(1, 2, 9, 9))),
    q("SELECT array_reverse_sort([3,1,2]) AS a, " +
      "array_grade_up([30,10,20]) AS b",
      Seq(Seq(3, 2, 1), Seq(2, 3, 1))),
    q("SELECT array_select([10,20,30], [3,1]) AS a, " +
      "array_where([10,20,30], [true,false,true]) AS b",
      Seq(Seq(30, 10), Seq(10, 30))),
    q("SELECT array_zip([1,2], [3,4]) AS a, array_value(1, 2, 3) AS b",
      Seq(Seq(Seq(1, 3), Seq(2, 4)), Seq(1, 2, 3))),
    q("SELECT array_cosine_similarity(array_value(1.0::FLOAT, 0.0::FLOAT), " +
      "array_value(0.0::FLOAT, 1.0::FLOAT)) AS a, " +
      "array_distance(array_value(1.0::FLOAT, 2.0::FLOAT), " +
      "array_value(4.0::FLOAT, 6.0::FLOAT)) AS b", Seq(0.0, 5.0)),
    q("SELECT array_inner_product(array_value(1.0::FLOAT, 2.0::FLOAT), " +
      "array_value(3.0::FLOAT, 4.0::FLOAT)) AS a, " +
      "array_dot_product(array_value(1.0::FLOAT, 2.0::FLOAT), " +
      "array_value(3.0::FLOAT, 4.0::FLOAT)) AS b", Seq(11.0, 11.0)),
    q("SELECT array_cross_product(array_value(1.0::FLOAT, 0.0::FLOAT, " +
      "0.0::FLOAT), array_value(0.0::FLOAT, 1.0::FLOAT, 0.0::FLOAT)) AS a",
      Seq(Seq(0.0, 0.0, 1.0))),

    // --- r8 batch 16: arg_max family NULL semantics (probed: DuckDB's
    // arg_max/max_by SKIP rows whose value is NULL; the *_null variants
    // keep them — Spark's same-named natives do the opposite, so both
    // directions are rewritten, not renamed) ---
    q("SELECT arg_max(x, y) AS a, max_by(x, y) AS b, argmax(x, y) AS c " +
      "FROM (VALUES (1,9),(CAST(NULL AS INT),30),(2,3)) t(x,y)",
      Seq(1, 1, 1)),
    q("SELECT arg_min(x, y) AS a, min_by(x, y) AS b " +
      "FROM (VALUES (1,9),(CAST(NULL AS INT),1),(2,3)) t(x,y)", Seq(2, 2)),
    q("SELECT arg_max_null(x, y) AS a " +
      "FROM (VALUES (1,9),(CAST(NULL AS INT),30),(2,3)) t(x,y)", Seq(null)),
    q("SELECT arg_min_null(x, y) AS a " +
      "FROM (VALUES (1,9),(CAST(NULL AS INT),1),(2,3)) t(x,y)", Seq(null)),
    q("SELECT arg_max(x, y) AS a " +
      "FROM (VALUES (1,CAST(NULL AS INT)),(2,3)) t(x,y)", Seq(2)),

    // --- r8 batch 16: aggregate spellings (probed) ---
    q("SELECT count_star() AS a FROM (VALUES (1),(2)) t(x)", Seq(2)),
    q("SELECT count_star() FILTER (x > 1) AS a FROM (VALUES (1),(2)) t(x)",
      Seq(1)),
    q("SELECT group_concat(x) AS a FROM (VALUES (1),(2)) t(x)", Seq("1,2")),
    q("SELECT group_concat(x, '|') AS a FROM (VALUES ('a'),('b')) t(x)",
      Seq("a|b")),
    s("SELECT group_concat(DISTINCT x) AS a FROM (VALUES (1),(1),(2)) t(x)"),
    q("SELECT listagg(x, ',') AS a, listagg(x) AS b " +
      "FROM (VALUES ('a'),('b')) t(x)", Seq("a,b", "a,b")),
    q("SELECT kahan_sum(x) AS a, fsum(x) AS b, sumkahan(x) AS c, " +
      "favg(x) AS d FROM (VALUES (1.5),(2.5)) t(x)",
      Seq(4.0, 4.0, 4.0, 2.0)),
    q("SELECT kurtosis_pop(x) AS a " +
      "FROM (VALUES (1.0),(2.0),(3.0),(10.0)) t(x)",
      Seq(-0.7696000000000001)),
    q("SELECT kurtosis_pop(x) AS a, kurtosis_pop(y) AS b " +
      "FROM (VALUES (1.0, 2.0),(2.0, 2.0)) t(x, y)", Seq(-2.0, null)),
    q("SELECT kurtosis_pop(x) AS a FROM (VALUES (1.0),(2.0),(3.0)) t(x)",
      Seq(-1.4999999999999787)),
    q("SELECT approx_quantile(x, 0.5) AS a, reservoir_quantile(x, 0.5) " +
      "AS b FROM (VALUES (1),(2),(3),(4)) t(x)", Seq(2, 2)),
    // 3-arg substr with DuckDB's general index algebra: start 0 counts
    // against the length, a negative length selects |len| chars BEFORE
    // start, negative starts count from the end UNCLAMPED (all probed)
    q("SELECT substr('abc', 2, -1) AS a, substr('abc', 3, -2) AS b, " +
      "substr('abc', -1, -1) AS c, substr('abcde', 4, -2) AS d, " +
      "substr('abc', -5, 4) AS e, substr('abc', 1, -1) AS f",
      Seq("a", "ab", "b", "bc", "ab", "")),
    q("SELECT bitstring_agg(x, 1, 6) AS a FROM (VALUES (1),(3),(5)) t(x)",
      Seq("101010")),
    q("SELECT bitstring_agg(x, 1, 6) AS a " +
      "FROM (VALUES (1),(NULL),(5)) t(x)", Seq("100010")),

    // --- r8 batch 16: BIT / binary scalars (probed; BIT models as a
    // '0'/'1' string, bit_length dispatches on the ::BIT marker) ---
    q("SELECT bit_length('abc') AS a, bit_length('101'::BIT) AS b",
      Seq(24, 3)),
    q("SELECT bit_position('010'::BIT, '0110101'::BIT) AS a, " +
      "bit_position('110'::BIT, '0011'::BIT) AS b", Seq(4, 0)),
    q("SELECT get_bit('0110'::BIT, 1) AS a, get_bit('0110'::BIT, 0) AS b",
      Seq(1, 0)),
    q("SELECT set_bit('0110'::BIT, 1, 0) AS a, " +
      "set_bit('0110'::BIT, 3, 1) AS b", Seq("0010", "0111")),
    q("SELECT hex(unbin('0110')) AS a, hex(unbin('1111111100000001')) AS b",
      Seq("06", "FF01")),
    q("SELECT hex(from_binary('0110')) AS a, hex(from_hex('ABC')) AS b, " +
      "hex(from_hex('2A')) AS c", Seq("06", "0ABC", "2A")),
    q("SELECT to_binary(42) AS a", Seq("101010")),
    q("SELECT md5_number_lower('abc') = 8250560606382298838 AS a, " +
      "md5_number_upper('abc') = 12704604231530709392 AS b, " +
      "md5_number_lower(NULL) AS c", Seq(true, true, null)),

    // --- r8 batch 16: temporal spellings (probed) ---
    q("SELECT julian(DATE '2000-01-01') AS a, " +
      "julian(TIMESTAMP '2000-01-01 18:00:00') AS b, " +
      "julian(DATE '1969-07-20') AS c",
      Seq(2451545.0, 2451545.75, 2440423.0)),
    q("SELECT timezone_hour(TIMESTAMP '2021-01-01 00:00:00') AS a, " +
      "timezone_minute(TIMESTAMP '2021-01-01 00:00:00') AS b", Seq(0, 0)),
    q("SELECT DATE '2000-01-01' + to_decades(1) AS a, " +
      "DATE '2000-01-01' + to_quarters(2) AS b",
      Seq("2010-01-01", "2000-07-01")),
    q("SELECT DATE '2000-01-01' + to_centuries(1) AS a, " +
      "DATE '2000-01-01' + to_millennia(1) AS b",
      Seq("2100-01-01", "3000-01-01")),
    q("SELECT TIMESTAMP '2000-01-01 00:00:00' + to_milliseconds(1500) AS a, " +
      "TIMESTAMP '2000-01-01 00:00:00' + to_microseconds(2500000) AS b",
      Seq("2000-01-01 00:00:01.5", "2000-01-01 00:00:02.5")),
    q("SELECT try_strptime('2021-13-01', '%Y-%m-%d') AS a, " +
      "try_strptime('2021-02-01', '%Y-%m-%d') AS b",
      Seq(null, "2021-02-01")),
    q("SELECT make_timestamptz(2021, 3, 4, 5, 6, 7.5) AS a",
      Seq("2021-03-04 05:06:07.5+00")),
    q("SELECT transaction_timestamp() = now() AS a, " +
      "get_current_timestamp() = now() AS b", Seq(true, true)),
    q("SELECT current_database() AS a", Seq("memory")),

    // --- r8 batch 16: grapheme-cluster text functions (native UAX #29
    // expressions — GraphemeExpressions; every index corner probed, flag
    // pairs / ZWJ sequences / combining marks count as ONE cluster) ---
    q("SELECT length_grapheme('hello') AS a, " +
      "length_grapheme('🇩🇪🇺🇸') " +
      "AS b, length_grapheme('ébc') AS c", Seq(5, 2, 3)),
    q("SELECT left_grapheme('🇩🇪🇺\uD83C" +
      "\uDDF8', 1) AS a, right_grapheme('🇩🇪\uD83C" +
      "\uDDFA🇸', 1) AS b",
      Seq("🇩🇪", "🇺🇸")),
    q("SELECT left_grapheme('hello', 2) AS a, right_grapheme('hello', 2) " +
      "AS b, left_grapheme('abc', -1) AS c, right_grapheme('abc', -1) AS d",
      Seq("he", "lo", "ab", "bc")),
    q("SELECT substring_grapheme('hello', 2, 3) AS a, " +
      "substring_grapheme('abc', 0, 2) AS b, " +
      "substring_grapheme('abc', -2, 2) AS c, " +
      "substring_grapheme('abc', 3, -2) AS d", Seq("ell", "a", "bc", "ab")),
    q("SELECT substring_grapheme('🇩🇪abc', 2, 2) AS a",
      Seq("ab")),
    q("SELECT length_grapheme(NULL) AS a, left_grapheme(NULL, 1) AS b",
      Seq(null, null)),
    // entropy: Shannon log2 of the value distribution, NULLs skipped,
    // empty group 0.0 (probed; only exactly-representable distributions
    // pinned — the JVM has no libm log2, ln-ratio is 1 ulp off on e.g.
    // a 3:1 split)
    q("SELECT entropy(x) AS a FROM (VALUES ('a'),('a'),('b'),('c')) t(x)",
      Seq(1.5)),
    q("SELECT entropy(x) AS a FROM (VALUES (1),(NULL),(2)) t(x)", Seq(1.0)),
    q("SELECT entropy(x) AS a FROM (VALUES (CAST(NULL AS INT))) t(x)",
      Seq(0.0)),
    q("SELECT entropy(x) AS a FROM (VALUES (1.5),(2.5),(1.5),(9.0)) t(x)",
      Seq(1.5)),
    s("SELECT entropy(x) AS a FROM (VALUES ('a'),('a'),('a'),('b')) t(x)"),

    // --- r8 batch 16: json path twins / renderers (probed) ---
    q("""SELECT json_extract_path('{"a":{"b":7}}', '$.a.b') AS a, """ +
      """json_extract_path_text('{"a":{"b":7}}', '$.a.b') AS b""",
      Seq("7", "7")),
    q("SELECT row_to_json(struct_pack(a := 1, b := 'x')) AS a",
      Seq("{\"a\":1,\"b\":\"x\"}")),
    q("SELECT array_to_json([1,2,3]) AS a", Seq("[1,2,3]")),
    q("SELECT unpivot_list('a','b') AS a", Seq(Seq("a", "b"))),
    // from_json/json_transform with a literal structure: translated to a
    // Spark schema; malformed input errors in BOTH engines (FAILFAST),
    // wrong-typed/missing fields are NULL in both (probed)
    q("""SELECT from_json('{"a":1,"b":[2,3]}', """ +
      """'{"a":"INTEGER","b":["BIGINT"]}') AS a""",
      Seq(Seq(1, Seq(2, 3)))),
    q("""SELECT from_json('[1,2]', '["INTEGER"]') AS a""", Seq(Seq(1, 2))),
    q("""SELECT from_json('{"a":"2021-01-01"}', '{"a":"DATE"}') AS a""",
      Seq(Seq("2021-01-01"))),
    q("""SELECT from_json('{"a":1}', '{"a":"VARCHAR"}') AS a""",
      Seq(Seq("1"))),
    q("""SELECT from_json('{"a":null}', '{"a":"INTEGER"}') AS a, """ +
      """from_json('{"b":1}', '{"a":"INTEGER"}') AS b""",
      Seq(Seq(null), Seq(null))),
    // json_merge_patch: RFC 7386 nested, DuckDB's probed top-level
    // deviation (non-object/NULL target → patch VERBATIM, nulls kept)
    q("""SELECT json_merge_patch('{"a":1,"b":2}', '{"b":3}') AS a""",
      Seq("{\"a\":1,\"b\":3}")),
    q("""SELECT json_merge_patch('{"a":{"x":1,"y":2}}', """ +
      """'{"a":{"y":null,"z":3}}') AS a""", Seq("{\"a\":{\"x\":1,\"z\":3}}")),
    q("""SELECT json_merge_patch('{"a":1}', '"str"') AS a, """ +
      """json_merge_patch('{"a":[1,2]}', '{"a":[9]}') AS b""",
      Seq("\"str\"", "{\"a\":[9]}")),
    q("""SELECT json_merge_patch('{"a":1}', '{"b":null}') AS a, """ +
      """json_merge_patch('5', '{"a":null}') AS b""",
      Seq("{\"a\":1}", "{\"a\":null}")),
    q("""SELECT json_merge_patch(NULL, '{"a":{"y":null,"z":3}}') AS a, """ +
      """json_merge_patch('{"a":1}', NULL) AS b""",
      Seq("{\"a\":{\"y\":null,\"z\":3}}", null)),
    q("""SELECT json_merge_patch('{"x":{"k":1}}', """ +
      """'{"x":{"k":null,"m":4}}') AS a""", Seq("{\"x\":{\"m\":4}}")),
    // json_contains: recursive-descent subset match (probed: object
    // needles are key-subsets, array needles set-subsets, scalars strict)
    q("""SELECT json_contains('{"a":{"b":7}}', '7') AS a, """ +
      """json_contains('[1,[2,3]]', '[2,3]') AS b, """ +
      """json_contains('[1,2]', '3') AS c""", Seq(true, true, false)),
    q("""SELECT json_contains('{"a":{"x":1,"y":2}}','{"a":{"x":1}}') AS a, """ +
      """json_contains('[3,2,1]','[1,3]') AS b, """ +
      """json_contains('[[1,2]]','[2]') AS c""", Seq(true, true, true)),
    q("""SELECT json_contains('{"a":1,"b":2}','{"a":1,"c":3}') AS a, """ +
      """json_contains('[1.0]', '1') AS b, """ +
      """json_contains('"xy"','"x"') AS c""", Seq(false, false, false)),
    q("""SELECT json_contains('[{"a":1,"b":2}]','{"a":1}') AS a, """ +
      """json_contains('[1,2]','[2,2]') AS b, """ +
      """json_contains('{"a":[1,2]}','{"a":[2]}') AS c""",
      Seq(true, true, true)),
    q("SELECT json_quote(42) AS a, json_quote('abc') AS b, " +
      "json_quote([1,2]) AS c", Seq("42", "\"abc\"", "[1,2]")),
    // json_structure: DuckDB's type-inference rendering (rules probed:
    // UBIGINT/BIGINT/DOUBLE numerics, element-merge with key-union
    // objects, mixed types collapse to "JSON", empty array ["NULL"])
    q("""SELECT json_structure('{"a":1,"b":[1,2]}') AS a, """ +
      """json_structure('{"a":-1}') AS b, json_structure('{"a":1.5}') AS c""",
      Seq("{\"a\":\"UBIGINT\",\"b\":[\"UBIGINT\"]}", "{\"a\":\"BIGINT\"}",
        "{\"a\":\"DOUBLE\"}")),
    q("""SELECT json_structure('{"a":"x","b":true,"c":null}') AS a""",
      Seq("{\"a\":\"VARCHAR\",\"b\":\"BOOLEAN\",\"c\":\"NULL\"}")),
    q("""SELECT json_structure('[1,"x"]') AS a, """ +
      """json_structure('[{"a":1},{"b":2}]') AS b, """ +
      """json_structure('[]') AS c""",
      Seq("[\"JSON\"]", "[{\"a\":\"UBIGINT\",\"b\":\"UBIGINT\"}]",
        "[\"NULL\"]")),
    q("""SELECT json_structure('[1,2.5]') AS a, """ +
      """json_structure('[1,-2]') AS b, json_structure('[null,1]') AS c, """ +
      """json_structure('9223372036854775808') AS d""",
      Seq("[\"DOUBLE\"]", "[\"BIGINT\"]", "[\"UBIGINT\"]", "\"UBIGINT\"")),
    q("""SELECT json_structure('[{"a":1},{"a":"x"}]') AS a, """ +
      """json_structure('[[1],[2,3]]') AS b""",
      Seq("[{\"a\":\"JSON\"}]", "[[\"UBIGINT\"]]")),
    // misc session introspection (probed against the reference layout)
    q("SELECT rpad('ab', 5, '*') AS a, lpad('ab', 5, '*') AS b",
      Seq("ab***", "***ab")),
    q("SELECT current_query() AS a", Seq("SELECT current_query() AS a")),
    q("SELECT current_schemas(true) AS a, current_schemas(false) AS b",
      Seq(Seq("main", "main", "main", "pg_catalog"), Seq())),
    q("SELECT in_search_path('memory', 'main') AS a, " +
      "in_search_path('memory', 'pg_catalog') AS b, " +
      "in_search_path('x', 'main') AS c", Seq(true, false, false)),
    q("SELECT setseed(0.5) AS a", Seq(null)),
    // statement sugar: ~~~ glob operator, combined EXCLUDE+REPLACE star,
    // struct unnest (field expansion), aliased series TVFs (all probed)
    q("SELECT 'abc' ~~~ 'a*' AS a, 'a.c' ~~~ 'a?c' AS b, " +
      "'abc' ~~~ 'b*' AS c", Seq(true, true, false)),
    q("SELECT * EXCLUDE (s) REPLACE (i*2 AS i) " +
      "FROM (VALUES (1,'a'),(2,'b')) t(i,s) ORDER BY i",
      Seq(2), Seq(4)),
    q("SELECT unnest({'x':1,'y':2})", Seq(1, 2)),
    q("SELECT * FROM range(2,5) AS r(x)", Seq(2), Seq(3), Seq(4)),
    q("SELECT * FROM range(2,5) r", Seq(2), Seq(3), Seq(4)),
    q("SELECT * FROM generate_series(1,3) AS g(n)",
      Seq(1), Seq(2), Seq(3)),
    // DML RETURNING (probed: INSERT returns the inserted rows, UPDATE the
    // post-image, DELETE the deleted rows; expressions/aliases project)
    s("CREATE TABLE corpus_ret(i INTEGER, s VARCHAR)"),
    q("INSERT INTO corpus_ret VALUES (1,'a') RETURNING i, s", Seq(1, "a")),
    q("INSERT INTO corpus_ret VALUES (2,'b') RETURNING *", Seq(2, "b")),
    q("INSERT INTO corpus_ret VALUES (7,'x'),(8,'y') RETURNING i",
      Seq(7), Seq(8)),
    q("UPDATE corpus_ret SET s='z' WHERE i=1 RETURNING i, s", Seq(1, "z")),
    q("DELETE FROM corpus_ret WHERE i=2 RETURNING *", Seq(2, "b")),
    q("INSERT INTO corpus_ret VALUES (5,'q') RETURNING i*10 AS ten",
      Seq(50)),
    // SHOW TABLES renders DuckDB's single name column; SHOW <t> is
    // DESCRIBE's six-column shape (probed)
    q("SHOW corpus_ret",
      Seq("i", "INTEGER", "YES", null, null, null),
      Seq("s", "VARCHAR", "YES", null, null, null)),
    s("SHOW TABLES"),
    s("DROP TABLE corpus_ret"),
    // column DEFAULTs: CREATE-time, the DEFAULT keyword in VALUES, ALTER
    // SET/DROP DEFAULT, ADD COLUMN DEFAULT backfill + future inserts,
    // ADD COLUMN IF NOT EXISTS, and ALTER TYPE read-cast-swap incl. the
    // USING form (all probed; a failing conversion errors like DuckDB)
    s("CREATE TABLE corpus_def(a INTEGER, b INTEGER DEFAULT 5, " +
      "c VARCHAR DEFAULT 'x')"),
    s("INSERT INTO corpus_def (a) VALUES (1)"),
    q("INSERT INTO corpus_def VALUES (2, DEFAULT, DEFAULT) RETURNING *",
      Seq(2, 5, "x")),
    q("SELECT * FROM corpus_def ORDER BY a",
      Seq(1, 5, "x"), Seq(2, 5, "x")),
    s("ALTER TABLE corpus_def ALTER COLUMN b SET DEFAULT 9"),
    s("INSERT INTO corpus_def (a) VALUES (3)"),
    q("SELECT b FROM corpus_def WHERE a = 3", Seq(9)),
    s("ALTER TABLE corpus_def ALTER COLUMN b DROP DEFAULT"),
    s("INSERT INTO corpus_def (a) VALUES (4)"),
    q("SELECT b FROM corpus_def WHERE a = 4", Seq(null)),
    s("ALTER TABLE corpus_def ADD COLUMN d INTEGER DEFAULT 7"),
    q("SELECT d FROM corpus_def WHERE a = 1", Seq(7)),
    s("INSERT INTO corpus_def (a) VALUES (5)"),
    q("SELECT d FROM corpus_def WHERE a = 5", Seq(7)),
    s("ALTER TABLE corpus_def ADD COLUMN IF NOT EXISTS d INTEGER"),
    s("ALTER TABLE corpus_def ALTER COLUMN a TYPE BIGINT"),
    s("ALTER TABLE corpus_def ALTER d SET DATA TYPE DOUBLE USING d * 2"),
    q("SELECT a, d FROM corpus_def WHERE a = 1", Seq(1, 14.0)),
    s("DROP TABLE corpus_def"),
    // INSERT BY NAME aligns the batch to the target by column NAME (an
    // absent column takes its DEFAULT — probed); operator-name functions
    // divide (the // plan swap) / multiply / add / subtract; signbit's
    // two probed corners (the parser folds literal -0.0, a runtime
    // negative zero keeps its bit); TABLE statement
    s("CREATE TABLE corpus_bn(a INTEGER, b INTEGER DEFAULT 5)"),
    s("INSERT INTO corpus_bn BY NAME SELECT 9 AS b"),
    q("SELECT * FROM corpus_bn", Seq(null, 9)),
    q("TABLE corpus_bn", Seq(null, 9)),
    s("DROP TABLE corpus_bn"),
    q("SELECT divide(7,2) AS a, divide(-7,2) AS b, divide(7.0,2) AS c",
      Seq(3, -3, 3.5)),
    q("SELECT multiply(3,4) AS a, add(1,2) AS b, subtract(5,3) AS c, " +
      "factorial(5) AS d", Seq(12, 3, 2, 120)),
    q("SELECT signbit(-0.0) AS a, signbit('-0.0'::DOUBLE) AS b",
      Seq(false, true)),
    // weekday is DuckDB's dayofweek twin (0 = Sunday — Spark's native
    // weekday is 0 = Monday, fixed); era; struct-form make_date;
    // timezone offset/identity; live threads setting (all probed)
    q("SELECT weekday(DATE '2024-01-01') AS a, " +
      "weekday(DATE '2024-01-07') AS b, weekday(DATE '2024-01-06') AS c",
      Seq(1, 0, 6)),
    q("SELECT era(DATE '2024-01-01') AS a", Seq(1)),
    q("SELECT make_date({'year': 2024, 'month': 11, 'day': 2}) AS a",
      Seq("2024-11-02")),
    q("SELECT last_day(DATE '2024-02-05') AS a, " +
      "last_day(TIMESTAMP '2023-01-10 11:00:00') AS b",
      Seq("2024-02-29", "2023-01-31")),
    q("SELECT timezone(TIMESTAMP '2021-01-01 00:00:00') AS a, " +
      "timezone('UTC', TIMESTAMP '2021-01-01 00:00:00') AS b",
      Seq(0, "2021-01-01 00:00:00+00")),
    q("SELECT current_setting('threads') > 0 AS a", Seq(true)),
    // list twins of the aggregate surface + set/session sugar (probed;
    // list_intersect's result order is hash-arbitrary in DuckDB → sorted)
    q("SELECT list_bool_and([true,true,NULL]) AS a, " +
      "list_bool_or([false,NULL]) AS b", Seq(true, false)),
    q("SELECT list_bit_and([6,3]) AS a, list_bit_or([1,2]) AS b, " +
      "list_bit_xor([5,3]) AS c", Seq(2, 3, 6)),
    q("SELECT list_sort(list_intersect([1,2,2,3],[2,3,9])) AS a",
      Seq(Seq(2, 3))),
    q("SELECT array_has_all([1,2,3],[2]) AS a, " +
      "array_has_any([1,2],[9]) AS b", Seq(true, false)),
    q("SELECT array_push_back([1,2], 3) AS a, " +
      "array_push_front([1,2], 0) AS b",
      Seq(Seq(1, 2, 3), Seq(0, 1, 2))),
    q("SELECT list_string_agg([1,2,3]) AS a, list_string_agg(['a','b']) " +
      "AS b", Seq("1,2,3", "a,b")),
    q("SELECT list_stddev_samp([1.0,2.0,3.0]) AS a, " +
      "list_stddev_pop([1.0,2.0,3.0]) AS b, list_var_samp([1.0,2.0,3.0]) " +
      "AS c, list_var_pop([1.0,2.0,3.0]) AS d",
      Seq(1.0, 0.816496580927726, 1.0, 0.6666666666666666)),
    q("SELECT list_skewness([1.0,2.0,3.0,10.0]) AS a, " +
      "list_kurtosis([1.0,2.0,3.0,10.0]) AS b, " +
      "list_kurtosis_pop([1.0,2.0,3.0,10.0]) AS c",
      Seq(1.763632614803888, 3.227999999999999, -0.7696000000000001)),
    q("SELECT list_sem([1.0,2.0,3.0]) AS a, list_mad([1.0,2.0,3.0,9.0]) " +
      "AS b, sem(x) AS c FROM (VALUES (1.0),(2.0),(3.0)) t(x)",
      Seq(0.47140452079103173, 1.0, 0.47140452079103173)),
    q("SELECT list_entropy([1,1,2,3]) AS a, " +
      "list_approx_count_distinct([1,1,2]) AS b", Seq(1.5, 2)),
    q("SELECT geomean(x) AS a FROM (VALUES (2.0),(8.0)) t(x)", Seq(4.0)),
    q("SELECT geometric_mean(x) AS a FROM (VALUES (1.0),(4.0),(16.0)) t(x)",
      Seq(4.0)),
    q("SELECT round_even(2.5, 0) AS a, roundbankers(3.5, 0) AS b, " +
      "round_even(2.345, 2) AS c", Seq(2, 4, 2.34)),
    q("SELECT pg_typeof(42) AS a, pg_typeof('x') AS b",
      Seq("integer", "varchar")),
    q("SELECT current_user AS a, session_user AS b, current_role AS c, " +
      "current_catalog AS d", Seq("duckdb", "duckdb", "duckdb", "memory")),
    q("SELECT pg_size_pretty(1024) AS a, pg_size_pretty(10485760) AS b",
      Seq("1.0 KiB", "10.0 MiB")),
    // age: Postgres-style calendar difference (native DuckAge — the
    // day borrow takes the EARLIER month's length; anchored pins because
    // INTERVAL values have no cross-engine comparable rendering)
    q("SELECT TIMESTAMP '2000-01-01' + age(TIMESTAMP '2001-04-10', " +
      "TIMESTAMP '1957-06-13') AS a", Seq("2043-10-28")),
    q("SELECT TIMESTAMP '2000-01-01' + age(TIMESTAMP '2024-03-01', " +
      "TIMESTAMP '2024-01-31') AS a, TIMESTAMP '2000-01-01' + " +
      "age(TIMESTAMP '2024-03-30', TIMESTAMP '2024-01-31') AS b",
      Seq("2000-02-02", "2000-03-02")),
    q("SELECT TIMESTAMP '2000-01-01' + age(TIMESTAMP '2024-01-01 " +
      "10:00:30', TIMESTAMP '2023-12-31 23:59:45.5') AS a",
      Seq("2000-01-01 10:00:44.5")),
    q("SELECT TIMESTAMP '2000-01-01' + age(TIMESTAMP '1957-06-13', " +
      "TIMESTAMP '2001-04-10') AS a, TIMESTAMP '2000-01-01' + " +
      "age(DATE '2024-05-15', DATE '2023-03-20') AS b",
      Seq("1956-03-05", "2001-02-27")),
    q("SELECT age(NULL, TIMESTAMP '2024-01-01') AS a", Seq(null)),

    // --- r8 breadth batch 2: unnest corners (probed) ---
    q("SELECT unnest([1,2]) AS u, 'x' AS t", Seq(1, "x"), Seq(2, "x")),
    q("SELECT unnest([{'a':1,'b':2}], recursive := true)", Seq(1, 2)),

    // --- r8 breadth: aggregate-function corners (duckdb-probed; the
    //     fixture mirrors corpus_t, which is created further down) ---
    s("CREATE TABLE corpus_lit (id INTEGER, grp VARCHAR, v INTEGER)"),
    s("INSERT INTO corpus_lit VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'b', 5), (4, 'b', NULL)"),
    q("SELECT bool_and(v > 0) AS a, bool_or(v > 15) AS o FROM corpus_lit",
      Seq(true, true)),
    q("SELECT bit_and(v) AS a, bit_or(v) AS o, bit_xor(v) AS x FROM corpus_lit",
      Seq(0, 31, 27)),
    q("SELECT sum(DISTINCT v) AS s FROM corpus_lit", Seq(35)),
    q("SELECT median(v) AS m FROM corpus_lit", Seq(10.0)),
    // tie-free mode fixture (a tied mode breaks arbitrarily in BOTH
    // engines — not pinnable); variance over small ints whose moments are
    // exact dyadics, where the one-pass and two-pass algorithms agree
    // bit-for-bit (corpus_lit's values differ in the last ulp)
    q("SELECT mode(x) AS m FROM (VALUES (1),(2),(2)) t(x)", Seq(2)),
    q("SELECT var_pop(x) AS v1, var_samp(x) AS v2 " +
      "FROM (VALUES (1),(2),(3),(4)) t(x)", Seq(1.25, 1.6666666666666667)),
    q("SELECT stddev_pop(x) AS s1 FROM (VALUES (1),(2),(3),(4)) t(x)",
      Seq(1.118033988749895)),
    q("SELECT stddev_samp(v) AS s2 FROM corpus_lit", Seq(7.637626158259733)),
    q("SELECT corr(id, v) AS c FROM corpus_lit", Seq(-0.3273268353539886)),
    q("SELECT covar_pop(id, v) AS c FROM corpus_lit", Seq(-1.6666666666666667)),
    q("SELECT any_value(grp) AS a FROM corpus_lit WHERE grp = 'a'", Seq("a")),
    q("SELECT count(DISTINCT grp) FILTER (WHERE v > 5) AS c FROM corpus_lit",
      Seq(1)),

    // --- r8 breadth: struct field access chains ---
    q("SELECT {'x': 1, 'y': 'two'}.y AS v", Seq("two")),
    q("SELECT ({'a': {'b': 42}}).a.b AS v", Seq(42)),

    // --- r8 breadth: INTERVAL literal grammar variants ---
    q("SELECT DATE '2020-01-15' + INTERVAL 2 MONTH AS d", Seq("2020-03-15")),
    q("SELECT DATE '2020-01-15' + INTERVAL '2 months' AS d", Seq("2020-03-15")),
    q("SELECT DATE '2020-01-15' + INTERVAL '1 year 2 months 3 days' AS d",
      Seq("2021-03-18")),
    q("SELECT TIMESTAMP '2020-01-01 00:00:00' + INTERVAL '90 minutes' AS t",
      Seq("2020-01-01 01:30:00")),
    q("SELECT INTERVAL (1+1) DAY + DATE '2020-01-01' AS d", Seq("2020-01-03")),

    // --- r8 breadth: TRY_CAST corners (duckdb: string→int rounds
    //     half-away; out-of-range and malformed → NULL, never error) ---
    q("SELECT TRY_CAST('abc' AS INTEGER) AS x", Seq(null)),
    q("SELECT TRY_CAST('12.7' AS INTEGER) AS x", Seq(13)),
    q("SELECT TRY_CAST('2020-13-40' AS DATE) AS x", Seq(null)),
    q("SELECT TRY_CAST('2020-02-29' AS DATE) AS x", Seq("2020-02-29")),
    q("SELECT TRY_CAST(1e30 AS INTEGER) AS x", Seq(null)),
    q("SELECT TRY_CAST('inf' AS DOUBLE) AS x", Seq(Double.PositiveInfinity)),

    // --- r8 breadth: list/struct update + constructor functions ---
    q("SELECT list_append([1,2], 3) AS l", Seq(Seq(1, 2, 3))),
    q("SELECT list_concat([1], [2,3]) AS l", Seq(Seq(1, 2, 3))),
    q("SELECT list_resize([1,2], 4) AS l", Seq(Seq(1, 2, null, null))),
    q("SELECT list_resize([1,2], 4, 9) AS l", Seq(Seq(1, 2, 9, 9))),
    q("SELECT struct_insert({'a': 1}, b := 2) AS s", Seq(Seq(1, 2))),
    q("SELECT list_zip([1,2],[3,4]) AS z",
      Seq(Seq(Seq(1, 3), Seq(2, 4)))),
    q("SELECT list_transform([1,2,3], x -> x * x) AS t", Seq(Seq(1, 4, 9))),
    q("SELECT flatten([[1,2],[3]]) AS f", Seq(Seq(1, 2, 3))),
    q("SELECT list_contains([1,2,3], 2) AS c", Seq(true)),
    q("SELECT list_position([5,6,7], 7) AS p", Seq(3)),
    q("SELECT array_reverse([1,2,3]) AS r", Seq(Seq(3, 2, 1))),
    q("SELECT list_has_any([1,2],[2,5]) AS a, list_has_all([1,2,3],[1,3]) AS b",
      Seq(true, true)),
    q("SELECT range(1,6,2) AS r", Seq(Seq(1, 3, 5))),       // end EXCLUSIVE
    q("SELECT generate_series(1,5,2) AS r", Seq(Seq(1, 3, 5))), // end INCLUSIVE
    C("SELECT unnest(generate_series(1,3)) AS u",
      Some(Seq(Seq(1), Seq(2), Seq(3)))),
    q("SELECT [[y*2 for y in x] for x in [[1,2],[3]]] AS l",
      Seq(Seq(Seq(2, 4), Seq(6)))),

    q("SELECT list_reduce([1,2,3], (a,b) -> a + b) AS r", Seq(6)),
    q("SELECT list_reduce([10,2,3], (a,b) -> a - b) AS r", Seq(5)), // left fold, seed = head

    // --- aggregate sugar (r7 fourth batch) ---
    q("SELECT array_agg(x ORDER BY x DESC) AS a FROM (VALUES (1),(3),(2)) t(x)",
      Seq(Seq(3, 2, 1))),
    q("SELECT string_agg(x, ',' ORDER BY x) AS s FROM (VALUES ('b'),('a')) t(x)",
      Seq("a,b")),
    q("SELECT last(x ORDER BY x) AS l FROM (VALUES (2),(9),(1)) t(x)", Seq(9)),
    q("SELECT first(x ORDER BY x DESC) AS f FROM (VALUES (2),(9),(1)) t(x)", Seq(9)),
    // r8: default NULLS LAST ordering → last lands ON a NULL when one
    // exists; first never sees the trailing NULLs (probed)
    q("SELECT first(x ORDER BY x) AS f FROM (VALUES (1),(NULL),(3)) t(x)", Seq(1)),
    q("SELECT last(x ORDER BY x) AS l FROM (VALUES (1),(NULL),(3)) t(x)", Seq(null)),
    q("SELECT first(x ORDER BY x DESC) AS f FROM (VALUES (1),(NULL),(3)) t(x)", Seq(3)),
    q("SELECT last(x ORDER BY x DESC) AS l FROM (VALUES (1),(NULL),(3)) t(x)", Seq(null)),
    q("SELECT last(x ORDER BY x) AS l FROM (VALUES (CAST(NULL AS INT))) t(x)", Seq(null)),
    q("SELECT count(*) FILTER (x > 1) AS c FROM (VALUES (1),(2),(3)) t(x)",
      Seq(2)), // DuckDB's bare FILTER shorthand (no WHERE keyword)
    q("SELECT bool_and(x > 0) AS b FROM (VALUES (1),(2)) t(x)", Seq(true)),
    q("SELECT bool_or(x > 8) AS b FROM (VALUES (1),(9)) t(x)", Seq(true)),

    // --- string-similarity kernels + integer gcd/lcm (r7: native
    //     expressions under the DuckDB names; Spark has no builtins) ---
    q("SELECT jaccard('duck', 'luck') AS j", Seq(0.6)),
    q("SELECT jaccard('aab', 'ab') AS j", Seq(1)), // char-SET jaccard
    q("SELECT hamming('duck', 'luck') AS h", Seq(1)),
    q("SELECT mismatches('duck', 'luck') AS m", Seq(1)),
    err("SELECT hamming('ab', 'abc') AS h", "equal length"), // duckdb errors too
    q("SELECT damerau_levenshtein('ca', 'abc') AS d", Seq(2)), // full DL, not OSA's 3
    q("SELECT damerau_levenshtein('ab', 'ba') AS d", Seq(1)),
    q("SELECT jaro_similarity('martha', 'marhta') AS j", Seq(0.9444444444444445)),
    q("SELECT jaro_winkler_similarity('dwayne', 'duane') AS j", Seq(0.8400000000000001)),
    q("SELECT jaro_winkler_similarity('duck', 'luck') AS j", Seq(0.8333333333333334)),
    q("SELECT gcd(-4, 6) AS g", Seq(2)),
    q("SELECT gcd(0, 0) AS g", Seq(0)),
    q("SELECT lcm(4, 6) AS l", Seq(12)),
    q("SELECT lcm(0, 5) AS l", Seq(0)),

    // --- misc scalar spellings (r7 fourth batch) ---
    q("SELECT to_base(255, 16) AS h", Seq("FF")),
    q("SELECT to_base(7, 2) AS b", Seq("111")),
    q("SELECT unicode('ü') AS u", Seq(252)),
    q("SELECT bit_count(7::BIGINT) AS b", Seq(3)),

    // --- list functions (DuckDB spellings over array() inputs) ---
    q("SELECT list_value(1, 2, 3) AS l", Seq(Seq(1, 2, 3))),
    q("SELECT list_contains(list_value(1, 2, 3), 2) AS c", Seq(true)),
    q("SELECT array_length(list_value(1, 2, 3)) AS n", Seq(3)),
    q("SELECT list_transform(list_value(1, 2, 3), x -> x + 1) AS t",
      Seq(Seq(2, 3, 4))),
    q("SELECT list_filter(list_value(1, 2, 3), x -> x > 1) AS f",
      Seq(Seq(2, 3))),
    // --- list/range spellings, r7 third batch (corners verified vs duckdb) ---
    q("SELECT list_sort([3, 1, NULL, 2]) AS l", Seq(Seq(1, 2, 3, null))),
    q("SELECT list_sort([3, 1], 'DESC') AS l", Seq(Seq(3, 1))),
    q("SELECT list_reverse_sort([3, NULL, 1]) AS l", Seq(Seq(3, 1, null))),
    q("SELECT list_unique([1, 1, NULL, 2]) AS u", Seq(2)),
    q("SELECT list_sort(list_distinct([1, 1, NULL, 2])) AS d", Seq(Seq(1, 2))),
    q("SELECT list_position([4, 5, 6], 5) AS p", Seq(2)),
    q("SELECT list_position([4, 5, 6], 9) AS p", Seq(0)),
    q("SELECT list_append([1, 2], 3) AS l", Seq(Seq(1, 2, 3))),
    q("SELECT list_prepend(0, [1, 2]) AS l", Seq(Seq(0, 1, 2))),
    q("SELECT list_max([1, 9, 2]) AS mx, list_min([1, 9, 2]) AS mn", Seq(9, 1)),
    q("SELECT list_slice([1, 2, 3, 4], 2, 3) AS s", Seq(Seq(2, 3))),
    q("SELECT list_slice([1, 2, 3, 4], 2, 10) AS s", Seq(Seq(2, 3, 4))),
    q("SELECT flatten([[1, 2], [3]]) AS f", Seq(Seq(1, 2, 3))),
    q("SELECT array_to_string([1, NULL, 3], '-') AS s", Seq("1-3")),
    q("SELECT array_to_string([], '-') AS s", Seq(null)),  // empty → NULL
    q("SELECT string_split('a,b,', ',') AS l", Seq(Seq("a", "b", ""))),
    q("SELECT string_split('a.b', '.') AS l", Seq(Seq("a", "b"))), // plain-text sep
    q("SELECT string_split_regex('a1b2c', '[0-9]') AS l", Seq(Seq("a", "b", "c"))),
    q("SELECT range(5) AS r", Seq(Seq(0, 1, 2, 3, 4))),        // half-open
    q("SELECT range(2, 5) AS r", Seq(Seq(2, 3, 4))),
    q("SELECT range(5, 0, -2) AS r", Seq(Seq(5, 3, 1))),
    q("SELECT range(0, 0) AS r", Seq(Seq())),                  // empty corner
    q("SELECT generate_series(1, 4) AS g", Seq(Seq(1, 2, 3, 4))), // inclusive
    q("SELECT generate_series(0, 10, 3) AS g", Seq(Seq(0, 3, 6, 9))),
    q("SELECT generate_series(1, 0) AS g", Seq(Seq())),        // empty corner
    q("SELECT * FROM range(3)", Seq(0), Seq(1), Seq(2)),
    q("SELECT * FROM generate_series(1, 4)", Seq(1), Seq(2), Seq(3), Seq(4)),
    q("SELECT * FROM generate_series(DATE '2024-01-01', DATE '2024-03-01', " +
      "INTERVAL 1 MONTH)", Seq("2024-01-01"), Seq("2024-02-01"), Seq("2024-03-01")),

    // --- DDL + DML flow (gateway write path) ---
    s("CREATE TABLE corpus_t (id INTEGER, grp VARCHAR, v INTEGER)"),
    s("INSERT INTO corpus_t VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 5), (4, 'b', NULL)"),
    q("SELECT sum(v) AS s FROM corpus_t", Seq(35)),
    q("SELECT avg(v) AS a FROM corpus_t", Seq(35.0 / 3)),
    q("SELECT count(*) AS c FROM corpus_t", Seq(4)),
    q("SELECT count(v) AS c FROM corpus_t", Seq(3)),
    q("SELECT count(DISTINCT grp) AS c FROM corpus_t", Seq(2)),
    q("SELECT min(v) AS mn, max(v) AS mx FROM corpus_t", Seq(5, 20)),
    // r8: COLUMNS expansion — star, name-lambda, regex, aggregate-wrapped
    q("SELECT min(COLUMNS(*)) FROM corpus_t", Seq(1, "a", 5)),
    q("SELECT COLUMNS(c -> c LIKE 'v%') FROM corpus_t",
      Seq(10), Seq(20), Seq(5), Seq(null)),
    q("SELECT count(COLUMNS(*)) FROM corpus_t WHERE id < 3", Seq(2, 2, 2)),
    q("SELECT max(COLUMNS('^.$')) FROM corpus_t", Seq(20)),
    q("SELECT grp, sum(v) AS s FROM corpus_t GROUP BY ALL ORDER BY grp",
      Seq("a", 30), Seq("b", 5)),
    q("SELECT count(*) FILTER (WHERE v > 10) AS c FROM corpus_t", Seq(1)),
    q("SELECT median(v) AS m FROM corpus_t", Seq(10)),
    q("SELECT quantile_cont(v, 0.5) AS m FROM corpus_t", Seq(10)),
    q("SELECT arg_max(grp, v) AS a FROM corpus_t", Seq("a")),
    q("SELECT arg_min(grp, v) AS a FROM corpus_t", Seq("b")),
    q("SELECT bool_and(v > 0) AS b FROM corpus_t", Seq(true)),
    q("SELECT list(grp) AS l FROM corpus_t WHERE grp = 'a'", Seq(Seq("a", "a"))),
    q("SELECT string_agg(grp, ';') AS s FROM corpus_t WHERE id = 1", Seq("a")),
    s("SELECT approx_count_distinct(v) AS a FROM corpus_t"),

    // --- window functions ---
    q("SELECT id, row_number() OVER (ORDER BY id) AS rn FROM corpus_t",
      Seq(1, 1), Seq(2, 2), Seq(3, 3), Seq(4, 4)),
    q("SELECT id, lag(v) OVER (ORDER BY id) AS lv FROM corpus_t",
      Seq(1, null), Seq(2, 10), Seq(3, 20), Seq(4, 5)),
    q("SELECT id, first_value(v) OVER (ORDER BY id) AS fv FROM corpus_t",
      Seq(1, 10), Seq(2, 10), Seq(3, 10), Seq(4, 10)),
    q("SELECT id, ntile(2) OVER (ORDER BY id) AS nt FROM corpus_t",
      Seq(1, 1), Seq(2, 1), Seq(3, 2), Seq(4, 2)),
    q("SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM corpus_t",
      Seq(1, 10), Seq(2, 30), Seq(3, 25), Seq(4, 5)),
    q("SELECT id, v FROM corpus_t QUALIFY row_number() OVER (ORDER BY id) = 1",
      Seq(1, 10)),

    // --- SELECT sugar (DuckDB dialect) ---
    q("SELECT * EXCLUDE (grp) FROM corpus_t WHERE id = 1", Seq(1, 10)),
    q("SELECT * REPLACE (v * 2 AS v) FROM corpus_t WHERE id = 1", Seq(1, "a", 20)),
    q("SELECT DISTINCT ON (grp) grp, v FROM corpus_t ORDER BY grp, v",
      Seq("a", 10), Seq("b", 5)),
    q("SELECT COLUMNS('v') FROM corpus_t", Seq(10), Seq(20), Seq(5), Seq(null)),
    q("SELECT date_diff('month', DATE '2024-01-31', DATE '2024-02-01') AS d", Seq(1)),
    q("SELECT date_diff('hour', TIMESTAMP '2024-01-01 01:59:00', " +
      "TIMESTAMP '2024-01-01 03:01:00') AS d", Seq(2)),  // boundary crossings
    s("FROM corpus_t SELECT id"),
    C("FROM corpus_t",
      Some(Seq(Seq(1, "a", 10), Seq(2, "a", 20), Seq(3, "b", 5), Seq(4, "b", null)))),
    s("SELECT * FROM corpus_t USING SAMPLE 2 ROWS"),
    // r7: DuckDB's default null ordering (NULLS LAST for ASC; DESC already
    // agrees) is applied whenever the statement spells no explicit NULLS
    C("SELECT v FROM corpus_t ORDER BY v",
      Some(Seq(Seq(5), Seq(10), Seq(20), Seq(null))), ordered = true),
    C("SELECT v FROM corpus_t ORDER BY v DESC",
      Some(Seq(Seq(20), Seq(10), Seq(5), Seq(null))), ordered = true),
    C("SELECT v FROM corpus_t ORDER BY v NULLS LAST",
      Some(Seq(Seq(5), Seq(10), Seq(20), Seq(null))), ordered = true),
    // ...and a statement MIXING explicit and default orderings applies
    // the per-key default only to the UNSPELLED keys (r8: explicitNulls
    // text pass tags them before parsing — was a documented divergence)
    C("SELECT grp, v FROM corpus_t WHERE grp = 'b' ORDER BY grp NULLS FIRST, v",
      Some(Seq(Seq("b", 5), Seq("b", null))), ordered = true),
    C("SELECT grp, v FROM corpus_t ORDER BY grp NULLS FIRST, v",
      Some(Seq(Seq("a", 10), Seq("a", 20), Seq("b", 5), Seq("b", null))),
      ordered = true),
    C("SELECT grp, v FROM corpus_t ORDER BY grp DESC, v NULLS FIRST",
      Some(Seq(Seq("b", null), Seq("b", 5), Seq("a", 10), Seq("a", 20))),
      ordered = true),
    C("SELECT grp, v FROM corpus_t ORDER BY v DESC, grp NULLS LAST",
      Some(Seq(Seq("a", 20), Seq("a", 10), Seq("b", 5), Seq("b", null))),
      ordered = true),
    C("SELECT v FROM corpus_t ORDER BY v DESC NULLS FIRST, v",
      Some(Seq(Seq(null), Seq(20), Seq(10), Seq(5))), ordered = true),
    C("SELECT grp, v FROM corpus_t ORDER BY grp, v DESC",
      Some(Seq(Seq("a", 20), Seq("a", 10), Seq("b", 5), Seq("b", null))),
      ordered = true),

    // --- r8 breadth: JOIN ... USING (multi-key, LEFT with dedup) ---
    q("SELECT a.grp AS g, b.v AS v FROM corpus_t a JOIN corpus_t b " +
      "USING (id, grp) WHERE a.id = 1", Seq("a", 10)),
    C("SELECT * FROM corpus_t a LEFT JOIN (SELECT 1 AS id, 9 AS w) b " +
      "USING (id) ORDER BY a.id",
      Some(Seq(Seq(1, "a", 10, 9), Seq(2, "a", 20, null),
        Seq(3, "b", 5, null), Seq(4, "b", null, null))), ordered = true),

    // --- r8 breadth: DISTINCT ON multi-key / expression keys ---
    C("SELECT DISTINCT ON (grp) grp, v FROM corpus_t ORDER BY grp, v DESC",
      Some(Seq(Seq("a", 20), Seq("b", 5))), ordered = true),
    C("SELECT DISTINCT ON (grp, v IS NULL) grp, v FROM corpus_t " +
      "ORDER BY grp, v IS NULL, v",
      Some(Seq(Seq("a", 10), Seq("b", 5), Seq("b", null))), ordered = true),

    // --- r8 breadth: SQL-spelled window frames through the gateway ---
    C("SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND " +
      "1 FOLLOWING) AS s FROM corpus_t ORDER BY id",
      Some(Seq(Seq(1, 30), Seq(2, 35), Seq(3, 25), Seq(4, 5))), ordered = true),
    C("SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND " +
      "1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM corpus_t ORDER BY id",
      Some(Seq(Seq(1, 20), Seq(2, 15), Seq(3, 20), Seq(4, 5))), ordered = true),
    C("SELECT id, sum(v) OVER (ORDER BY id RANGE BETWEEN 1 PRECEDING AND " +
      "1 FOLLOWING) AS s FROM corpus_t ORDER BY id",
      Some(Seq(Seq(1, 30), Seq(2, 35), Seq(3, 25), Seq(4, 5))), ordered = true),
    C("SELECT id, sum(v) OVER (PARTITION BY grp ORDER BY id ROWS UNBOUNDED " +
      "PRECEDING) AS s FROM corpus_t ORDER BY id",
      Some(Seq(Seq(1, 10), Seq(2, 30), Seq(3, 5), Seq(4, 5))), ordered = true),
    C("SELECT id, sum(v) OVER w AS s FROM corpus_t WINDOW w AS (ORDER BY id " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) ORDER BY id",
      Some(Seq(Seq(1, 10), Seq(2, 30), Seq(3, 25), Seq(4, 5))), ordered = true),
    C("SELECT id, first_value(v) OVER (ORDER BY id ROWS BETWEEN 1 FOLLOWING " +
      "AND 2 FOLLOWING) AS s FROM corpus_t ORDER BY id",
      Some(Seq(Seq(1, 20), Seq(2, 5), Seq(3, null), Seq(4, null))), ordered = true),

    // --- ASOF JOIN statements (r7: routed to the engine's first-class
    //     AsofJoin operator; every expectation duckdb-1.0-verified) ---
    s("CREATE TABLE trades(tk INTEGER, tts INTEGER, qty INTEGER)"),
    s("CREATE TABLE quotes(qk INTEGER, qts INTEGER, px INTEGER)"),
    s("INSERT INTO trades VALUES (1, 10, 100), (1, 25, 200), (2, 15, 300), (3, 5, 400)"),
    s("INSERT INTO quotes VALUES (1, 8, 50), (1, 20, 55), (2, 15, 70), (2, 30, 75)"),
    C("SELECT * FROM trades t ASOF JOIN quotes q ON t.tk = q.qk AND " +
      "t.tts >= q.qts ORDER BY t.tts", // INNER: unmatched tk=3 row drops
      Some(Seq(Seq(1, 10, 100, 1, 8, 50), Seq(2, 15, 300, 2, 15, 70),
        Seq(1, 25, 200, 1, 20, 55))), ordered = true),
    C("SELECT * FROM trades t ASOF LEFT JOIN quotes q ON t.tk = q.qk AND " +
      "t.tts >= q.qts ORDER BY t.tts", // LEFT keeps tk=3 NULL-padded
      Some(Seq(Seq(3, 5, 400, null, null, null), Seq(1, 10, 100, 1, 8, 50),
        Seq(2, 15, 300, 2, 15, 70), Seq(1, 25, 200, 1, 20, 55))),
      ordered = true),
    q("SELECT t.qty AS qty, q.px AS px FROM trades t ASOF JOIN quotes q " +
      "ON t.tk = q.qk AND t.tts <= q.qts ORDER BY t.qty", // forward form
      Seq(100, 55), Seq(300, 70)),
    q("SELECT qty, px FROM trades ASOF JOIN quotes ON trades.tk = quotes.qk " +
      "AND trades.tts >= quotes.qts ORDER BY qty", // bare table names as aliases
      Seq(100, 50), Seq(200, 55), Seq(300, 70)),
    // strict inequalities (r7: one-unit shift on a hidden right-ts column —
    // exact over discrete ts types; duckdb-verified)
    C("SELECT * FROM trades t ASOF JOIN quotes q ON t.tk = q.qk AND " +
      "t.tts > q.qts ORDER BY t.tts", // tts=15 has only qts=15: strict drops it
      Some(Seq(Seq(1, 10, 100, 1, 8, 50), Seq(1, 25, 200, 1, 20, 55))),
      ordered = true),
    q("SELECT t.qty AS qty, q.px AS px FROM trades t ASOF JOIN quotes q " +
      "ON t.tk = q.qk AND t.tts < q.qts ORDER BY qty", // forward strict
      Seq(100, 55), Seq(300, 75)),
    // strict over a FRACTIONAL ts column (4.5 < 5.0 but ties at 6.5 must
    // drop): exercised through the operator's native exclusive-bound mode
    // (r8; pinned with DuckDB's true rows so an accept only counts exact)
    s("CREATE TABLE ftr(k INTEGER, fts DOUBLE, v INTEGER)"),
    s("INSERT INTO ftr VALUES (1, 5.0, 10), (1, 6.5, 20)"),
    s("CREATE TABLE fqu(k INTEGER, fts DOUBLE, p INTEGER)"),
    s("INSERT INTO fqu VALUES (1, 4.5, 7), (1, 6.5, 9)"),
    q("SELECT t.v AS v, q.p AS p FROM ftr t ASOF JOIN fqu q " +
      "ON t.k = q.k AND t.fts > q.fts ORDER BY v",
      Seq(10, 7), Seq(20, 7)),
    // r8: richer ASOF statement shapes, each DuckDB-probed.
    // Side-local extra ON conjuncts pre-filter their side — and a left
    // row failing its conjunct drops even under ASOF LEFT JOIN (probed)
    s("CREATE TABLE asof_l (k INTEGER, ts INTEGER, v INTEGER)"),
    s("INSERT INTO asof_l VALUES (1, 20, 200), (1, 25, 40)"),
    s("CREATE TABLE asof_r (k INTEGER, ts INTEGER, p INTEGER)"),
    s("INSERT INTO asof_r VALUES (1, 10, 7), (1, 22, 9)"),
    q("SELECT t.v AS v, q.p AS p FROM asof_l t ASOF LEFT JOIN asof_r q " +
      "ON t.k = q.k AND t.ts >= q.ts AND q.p > 8 ORDER BY v",
      Seq(40, 9), Seq(200, null)),
    q("SELECT t.v AS v, q.p AS p FROM asof_l t ASOF LEFT JOIN asof_r q " +
      "ON t.k = q.k AND t.ts >= q.ts AND t.v > 100 ORDER BY v",
      Seq(200, 7)),
    // the candidate set is filtered BEFORE the nearest-pick (probed:
    // nearest overall is ts=22/p=9, but p<9 restricts to ts=10/p=7)
    q("SELECT t.v AS v, q.p AS p FROM asof_l t ASOF JOIN asof_r q " +
      "ON t.k = q.k AND t.ts >= q.ts AND q.p < 9 ORDER BY v",
      Seq(40, 7), Seq(200, 7)),
    // multiple equalities = composite key; NULL in any key never matches
    s("CREATE TABLE asof_m1 (x INTEGER, y INTEGER, ts INTEGER, v INTEGER)"),
    s("INSERT INTO asof_m1 VALUES (1,2,20,5), (1,3,20,6), (1,NULL,20,99)"),
    s("CREATE TABLE asof_m2 (x INTEGER, y INTEGER, ts INTEGER, p INTEGER)"),
    s("INSERT INTO asof_m2 VALUES (1,2,10,77), (1,3,15,88), (1,NULL,10,55)"),
    q("SELECT a.v AS v, b.p AS p FROM asof_m1 a ASOF JOIN asof_m2 b " +
      "ON a.x = b.x AND a.y = b.y AND a.ts >= b.ts ORDER BY v",
      Seq(5, 77), Seq(6, 88)),
    // USING: the LAST column is the backward inequality (probed); bare
    // references to USING columns resolve to the left side
    q("SELECT k, t.v AS v, q.p AS p FROM asof_l t ASOF LEFT JOIN asof_r q " +
      "USING (k, ts) ORDER BY v",
      Seq(1, 40, 9), Seq(1, 200, 7)),
    q("SELECT * FROM asof_l ASOF JOIN asof_r USING (k, ts)",
      Seq(1, 20, 200, 7), Seq(1, 25, 40, 9)),
    // single-column USING = keyless ASOF (one global merge)
    s("CREATE TABLE asof_s1 (ts INTEGER, v INTEGER)"),
    s("INSERT INTO asof_s1 VALUES (20, 1)"),
    s("CREATE TABLE asof_s2 (ts INTEGER, p INTEGER)"),
    s("INSERT INTO asof_s2 VALUES (5, 6), (15, 7)"),
    q("SELECT * FROM asof_s1 ASOF JOIN asof_s2 USING (ts)",
      Seq(20, 1, 7)),
    // three-column USING: two equalities + inequality on the last
    q("SELECT a.v AS v, b.p AS p FROM asof_m1 a ASOF JOIN asof_m2 b " +
      "USING (x, y, ts) ORDER BY v", Seq(5, 77), Seq(6, 88)),

    // --- joins / subqueries ---
    q("SELECT a.id AS i FROM corpus_t a JOIN corpus_t b USING (id) WHERE a.id = 1", Seq(1)),
    // NULL = NULL is not true, so the v-NULL row drops in BOTH engines
    q("SELECT count(*) AS c FROM corpus_t a NATURAL JOIN corpus_t b", Seq(3)),
    q("SELECT count(*) AS c FROM corpus_t a CROSS JOIN corpus_t b", Seq(16)),
    q("SELECT a.id AS i FROM corpus_t a SEMI JOIN corpus_t b ON a.id = b.id",
      Seq(1), Seq(2), Seq(3), Seq(4)),
    q("SELECT a.id AS i FROM corpus_t a ANTI JOIN corpus_t b ON a.id = b.id + 10",
      Seq(1), Seq(2), Seq(3), Seq(4)),
    // positional pairing property (row ORDER without ORDER BY is
    // unspecified SQL; the corpus compares row-sorted): every row pairs
    // with its same-position partner
    q("SELECT a.id AS ai, b.id AS bi FROM corpus_t a POSITIONAL JOIN corpus_t b",
      Seq(1, 1), Seq(2, 2), Seq(3, 3), Seq(4, 4)),
    q("SELECT t.id AS i, u.x FROM corpus_t t, LATERAL (SELECT t.v * 2 AS x) u WHERE t.id = 1",
      Seq(1, 20)),
    q("SELECT (SELECT max(v) FROM corpus_t) AS m", Seq(20)),
    q("SELECT count(*) AS c FROM corpus_t WHERE v IN (SELECT v FROM corpus_t WHERE grp = 'a')",
      Seq(2)),
    q("SELECT count(*) AS c FROM corpus_t t WHERE EXISTS (SELECT 1 FROM corpus_t u WHERE u.id = t.id)",
      Seq(4)),

    // --- set operations / CTEs / VALUES ---
    q("SELECT 1 AS x UNION SELECT 2 ORDER BY x", Seq(1), Seq(2)),
    q("SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 20 AS b, 10 AS a",
      Seq(1, 2), Seq(10, 20)),
    q("SELECT 1 AS x INTERSECT SELECT 1", Seq(1)),
    q("SELECT 1 AS x EXCEPT SELECT 2", Seq(1)),
    q("WITH cte AS (SELECT 42 AS x) SELECT x FROM cte", Seq(42)),
    q("WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5) SELECT sum(n) AS s FROM t",
      Seq(15)),
    q("VALUES (1, 'one'), (2, 'two')", Seq(1, "one"), Seq(2, "two")),
    q("SELECT x FROM (VALUES (1), (2)) t(x)", Seq(1), Seq(2)),

    // --- dialect statements ---
    s("EXPLAIN SELECT 1"),
    s("DESCRIBE corpus_t"),
    s("SUMMARIZE corpus_t"),
    s("SHOW TABLES"),
    s("PRAGMA table_info('corpus_t')"),
    s("PRAGMA show_tables"),
    s("PRAGMA version"),
    s("PRAGMA database_size"),
    s("SET threads = 4"),
    s("SET memory_limit = '2GB'"),
    q("SELECT current_setting('memory_limit') AS v", Seq("2GB")),
    s("CHECKPOINT"),
    s("BEGIN TRANSACTION"),
    s("COMMIT"),

    // --- sequences / macros / prepared statements ---
    s("CREATE SEQUENCE corpus_seq START 100"),
    q("SELECT nextval('corpus_seq') AS n", Seq(100)),
    s("CREATE MACRO corpus_add(a, b) AS a + b"),
    q("SELECT corpus_add(40, 2) AS r", Seq(42)),
    s("PREPARE corpus_q AS SELECT $1 + 1 AS r"),
    q("EXECUTE corpus_q(41)", Seq(42)),

    // --- constraints / upsert flow ---
    s("CREATE TABLE corpus_pk (id INTEGER PRIMARY KEY, s VARCHAR)"),
    s("INSERT INTO corpus_pk VALUES (1, 'x')"),
    s("INSERT INTO corpus_pk VALUES (1, 'y') ON CONFLICT DO NOTHING"),
    q("SELECT count(*) AS c FROM corpus_pk", Seq(1)),
    s("INSERT OR REPLACE INTO corpus_pk VALUES (1, 'z')"),
    q("SELECT s FROM corpus_pk WHERE id = 1", Seq("z")),
    s("UPDATE corpus_pk SET s = 'w' WHERE id = 1"),
    q("SELECT s FROM corpus_pk WHERE id = 1", Seq("w")),
    s("DELETE FROM corpus_pk WHERE id = 1"),
    q("SELECT count(*) AS c FROM corpus_pk", Seq(0)),
    s("TRUNCATE corpus_pk"),
    q("SELECT count(*) AS c FROM corpus_pk", Seq(0)),

    // --- views / indexes / table admin ---
    s("CREATE VIEW corpus_v AS SELECT id FROM corpus_t"),
    q("SELECT count(*) AS c FROM corpus_v", Seq(4)),
    s("CREATE INDEX corpus_idx ON corpus_t (id)"),
    s("CREATE OR REPLACE TABLE corpus_s AS SELECT 42 AS answer"),
    q("SELECT answer FROM corpus_s", Seq(42)),
    s("ALTER TABLE corpus_s RENAME TO corpus_s2"),
    s("DROP TABLE IF EXISTS corpus_s2"),
    s("DROP TABLE IF EXISTS corpus_s"),

    // --- file I/O (COPY + read_* table functions) ---
    s("COPY corpus_t TO '/tmp/graft_corpus_copy.parquet' (FORMAT PARQUET)"),
    q("SELECT count(*) AS c FROM read_parquet('/tmp/graft_corpus_copy.parquet')", Seq(4)),
    // whole-file readers over the fixture this spec writes in its setup
    // (read_text decodes UTF-8, read_blob keeps bytes; filename is the
    // bare filesystem path in both engines — probed)
    q("SELECT filename, content, size " +
      "FROM read_text('/tmp/graft_corpus_text.txt')",
      Seq("/tmp/graft_corpus_text.txt", "hello\nworld", 11)),
    q("SELECT hex(content) AS h, size " +
      "FROM read_blob('/tmp/graft_corpus_text.txt')",
      Seq("68656C6C6F0A776F726C64", 11)),
    s("EXPORT DATABASE '/tmp/graft_corpus_export' (FORMAT PARQUET)")
  )

  private def corpusC: Seq[C] = Seq(

    // --- r8 batch 17: bracket subscripts by OPERAND TYPE over table
    // columns (DuckSubscript/DuckSlice analyzed-plan swap; every value
    // probed on duckdb 1.0) ---
    s("CREATE TABLE subt (id INT, l INT[], m MAP(VARCHAR, INT), " +
      "s STRUCT(a INT, b VARCHAR), v VARCHAR)"),
    s("INSERT INTO subt VALUES " +
      "(1, [10,20,30], MAP {'k': 5}, {'a': 1, 'b': 'x'}, 'hello'), " +
      "(2, [7], MAP {'z': 9}, {'a': 2, 'b': 'y'}, ''), " +
      "(3, NULL, NULL, NULL, NULL)"),
    q("SELECT id, l[1] AS f, l[-1] AS lst, l[0] AS z, l[9] AS oob " +
      "FROM subt ORDER BY id",
      Seq(1, 10, 30, null, null), Seq(2, 7, 7, null, null),
      Seq(3, null, null, null, null)),
    q("SELECT id, l[2:3] AS sl, l[:2] AS hd, l[2:] AS tl " +
      "FROM subt ORDER BY id",
      Seq(1, Seq(20, 30), Seq(10, 20), Seq(20, 30)),
      Seq(2, Seq(), Seq(7), Seq()), Seq(3, null, null, null)),
    q("SELECT id, l[-2:] AS ntl FROM subt ORDER BY id",
      Seq(1, Seq(20, 30)), Seq(2, Seq(7)), Seq(3, null)),
    // map[k] is a LIST: [v] on hit, [] on miss/NULL key/NULL map
    q("SELECT id, m['k'] AS mk, m['nope'] AS mn FROM subt ORDER BY id",
      Seq(1, Seq(5), Seq()), Seq(2, Seq(), Seq()), Seq(3, Seq(), Seq())),
    q("SELECT m['k'][1] AS unwrap FROM subt WHERE id = 1", Seq(5)),
    // struct key lookup is case-insensitive in both engines
    q("SELECT id, s['a'] AS sa, s['B'] AS sb FROM subt ORDER BY id",
      Seq(1, 1, "x"), Seq(2, 2, "y"), Seq(3, null, null)),
    // varchar: 1-char pick, 0/out-of-range → '' (NOT NULL), NULL op → NULL
    q("SELECT id, v[2] AS c, v[-1] AS lst, v[0] AS z, v[99] AS oob " +
      "FROM subt ORDER BY id",
      Seq(1, "e", "o", "", ""), Seq(2, "", "", "", ""),
      Seq(3, null, null, null, null)),
    q("SELECT id, v[2:4] AS sl, v[-3:] AS tl FROM subt ORDER BY id",
      Seq(1, "ell", "llo"), Seq(2, "", ""), Seq(3, null, null)),
    q("SELECT l[1] + l[2] AS add2 FROM subt WHERE id = 1", Seq(30)),
    q("SELECT id FROM subt WHERE l[1] > 8", Seq(1)),
    q("SELECT ([1,2] || [9])[3] AS v", Seq(9)),
    q("SELECT [[1,2],[3]][1][2] AS v", Seq(2)),
    q("SELECT string_split('a,b,c', ',')[2] AS v", Seq("b")),
    q("SELECT [1,2,3]['2'] AS si", Seq(2)), // varchar index converts
    // slice bounds are arbitrary integral expressions; NULL bound → NULL
    q("SELECT [1,2,3,4][1+1:2*2] AS a", Seq(Seq(2, 3, 4))),
    q("SELECT v[1+1:6-2] AS a FROM subt WHERE id = 1", Seq("ell")),
    q("SELECT [1,2,3][NULL:2] AS a", Seq(null)),
    q("SELECT map(['a'],[[1,2]])['a'][1][2] AS n2", Seq(2)),
    q("SELECT {'a': [5,6]}['a'][2] AS sf", Seq(6)),
    q("SELECT [{'x':1}][1]['x'] AS lsx", Seq(1)),
    q("SELECT [{'x':1}][1].x AS lsd", Seq(1)),
    s("DROP TABLE subt"),

    // --- r8 batch 17: dollar-quoted + escape-string literals (probed) ---
    q("SELECT $$quack's$$ AS s", Seq("quack's")),
    q("SELECT $tag$ -- not a comment $tag$ AS s", Seq(" -- not a comment ")),
    q("SELECT $$a$$ || $$b$$ AS s", Seq("ab")),
    q("SELECT lower($$ABC$$) AS s", Seq("abc")),
    q("SELECT e'a\\tb' AS s", Seq("a\tb")),
    q("SELECT e'\\x41\\x42' AS s", Seq("AB")),
    q("SELECT e'\\101' AS s", Seq("A")),
    q("SELECT e'don''t' AS s", Seq("don't")),
    q("SELECT e'\\q' AS s", Seq("q")), // unknown escape → the char itself
    q("SELECT E'a\\nb' AS s", Seq("a\nb")),
    q("SELECT length(e'a\\nb') AS n", Seq(3)),

    // --- r8 batch 18: SQL-spelled window frame EXCLUDE (probed; DuckDB's
    // grammar requires an explicit ROWS/RANGE frame before EXCLUDE) ---
    s("CREATE TABLE exw (id INT, v INT)"),
    s("INSERT INTO exw VALUES (1,10),(2,10),(3,20),(4,5)"),
    q("SELECT id, sum(v) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      "UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS s FROM exw ORDER BY id",
      Seq(1, 35), Seq(2, 35), Seq(3, 25), Seq(4, 40)),
    q("SELECT id, sum(v) OVER (ORDER BY v RANGE BETWEEN 5 PRECEDING AND " +
      "5 FOLLOWING EXCLUDE GROUP) AS s FROM exw ORDER BY id",
      Seq(1, 5), Seq(2, 5), Seq(3, null), Seq(4, 20)),
    q("SELECT id, avg(v) OVER (ORDER BY v RANGE BETWEEN 5 PRECEDING AND " +
      "5 FOLLOWING EXCLUDE GROUP) AS a FROM exw ORDER BY id",
      Seq(1, 5.0), Seq(2, 5.0), Seq(3, null), Seq(4, 10.0)),
    q("SELECT id, count(v) OVER (ORDER BY v RANGE BETWEEN 5 PRECEDING AND " +
      "5 FOLLOWING EXCLUDE TIES) AS c FROM exw ORDER BY id",
      Seq(1, 2), Seq(2, 2), Seq(3, 1), Seq(4, 3)),
    // a frame that cannot hold the current row: exclusion is a no-op
    q("SELECT id, sum(v) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING AND " +
      "1 PRECEDING EXCLUDE CURRENT ROW) AS s FROM exw ORDER BY id",
      Seq(1, null), Seq(2, 10), Seq(3, 20), Seq(4, 40)),
    s("DROP TABLE exw"),

    // --- r8 batch 18: string → composite casts (DuckDB's own text
    // grammar, NOT JSON — DuckCompositeCast scaladoc, every value probed) ---
    q("SELECT '[1,2]'::INT[] AS a", Seq(Seq(1, 2))),
    q("SELECT '[ 1 , 2 ]'::INT[] AS a", Seq(Seq(1, 2))),
    q("SELECT '[a, b]'::VARCHAR[] AS a", Seq(Seq("a", "b"))),
    q("SELECT '[[1],[2, 3]]'::INT[][] AS a", Seq(Seq(Seq(1), Seq(2, 3)))),
    q("SELECT '[]'::INT[] AS a", Seq(Seq())),
    q("SELECT '[1, NULL, 3]'::INT[] AS a", Seq(Seq(1, null, 3))),
    q("SELECT '[null]'::VARCHAR[] AS a", Seq(Seq("null"))), // exact-case NULL only
    q("SELECT TRY_CAST('[1,x]' AS INT[]) AS a", Seq(Seq(1, null))),
    q("SELECT TRY_CAST('oops' AS INT[]) AS a", Seq(null)),
    q("SELECT '{''a'': 1, ''b'': x}'::STRUCT(a INT, b VARCHAR) AS s",
      Seq(Seq(1, "x"))),
    q("SELECT '{''b'': 2, ''a'': 1}'::STRUCT(a INT, b INT) AS s",
      Seq(Seq(1, 2))),
    q("SELECT '{a: 1}'::STRUCT(a INT) AS s", Seq(Seq(1))),
    q("SELECT '{}'::STRUCT(a INT) AS s", Seq(Seq(null))), // missing → NULL
    q("SELECT TRY_CAST('{''a'': x}' AS STRUCT(a INT)) AS s", Seq(Seq(null))),
    q("SELECT '[1.5, 2]'::DOUBLE[] AS a", Seq(Seq(1.5, 2.0))),
    q("SELECT '[true,false]'::BOOLEAN[] AS a", Seq(Seq(true, false))),
    q("SELECT '[{''a'': 1}]'::STRUCT(a INT)[] AS a", Seq(Seq(Seq(1)))),
    q("SELECT [1,2]::BIGINT[] AS v", Seq(Seq(1, 2))), // list→list stays a cast

    // --- r8 batch 18: interval grammar + list/map breadth (probed) ---
    q("SELECT INTERVAL 2 DAYS + DATE '2024-01-01' AS d", Seq("2024-01-03")),
    q("SELECT INTERVAL '1 year 2 months 3 days' + DATE '2024-01-01' AS d",
      Seq("2025-03-04")),
    q("SELECT INTERVAL (1+1) DAY + DATE '2024-01-01' AS d", Seq("2024-01-03")),
    q("SELECT '2 days'::INTERVAL + DATE '2024-01-01' AS d", Seq("2024-01-03")),
    q("SELECT list_has_any([1,2],[2,9]) AS a, list_has_all([1,2,3],[2,3]) AS b",
      Seq(true, true)),
    q("SELECT list_resize([1,2],4) AS a, list_resize([1,2],4,9) AS b",
      Seq(Seq(1, 2, null, null), Seq(1, 2, 9, 9))),
    q("SELECT list_where([10,20,30],[true,false,true]) AS a", Seq(Seq(10, 30))),
    q("SELECT list_grade_up([30,10,20]) AS a", Seq(Seq(2, 3, 1))),
    q("SELECT list_reverse([1,2,3]) AS a", Seq(Seq(3, 2, 1))),
    q("SELECT list_unique([1,1,2,NULL]) AS a", Seq(2)),
    q("SELECT list_position([7,8,9], 8) AS p, list_contains([7,8],7) AS c",
      Seq(2, true)),
    q("SELECT struct_insert({'a':1}, b := 2) AS s", Seq(Seq(1, 2))),
    q("SELECT cardinality(MAP {'k':5, 'j':6}) AS c", Seq(2)),

    // --- r8 batch 19: misc scalar breadth (probed) ---
    // format_bytes TRUNCATES its one decimal (976.5625 → "976.5", a
    // %.1f round was a silent wrong before this batch)
    q("SELECT format_bytes(1000000) AS a, format_bytes(1024) AS b, " +
      "format_bytes(999) AS c, format_bytes(-2048) AS d",
      Seq("976.5 KiB", "1.0 KiB", "999 bytes", "-2.0 KiB")),
    // bar(): eighth-block glyphs, clamped fraction, BYTE-width padding
    q("SELECT bar(5.5, 0, 10, 10) AS a", Seq("█████▌")),
    q("SELECT bar(5.25, 0, 10, 10) AS a", Seq("█████▎")),
    q("SELECT bar(1, 0, 3, 10) AS a", Seq("███▎")),
    q("SELECT bar(15, 0, 10, 10) AS oob, bar(-5, 0, 10, 10) AS neg",
      Seq("██████████", "          ")),
    q("SELECT bar(2.0, 0, 10, 10) AS pad", Seq("██    ")),
    q("SELECT length(bar(5, 0, 10)) AS dlen", Seq(40)), // default width 80
    // gamma family via commons-math3 — every pinned double verified
    // identical to DuckDB's C tgamma/lgamma output
    q("SELECT gamma(5) AS a, gamma(0.5) AS c, gamma(3.5) AS d",
      Seq(24.0, 1.772453850905516, 3.3233509704478426)),
    q("SELECT lgamma(5) AS b, lgamma(0.5) AS e",
      Seq(3.1780538303479458, 0.5723649429247001)),
    // epoch_ms is overloaded by argument type (probed both ways)
    q("SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS b",
      Seq(1704067200000L)),
    q("SELECT epoch_ms(1700000000000) AS a", Seq("2023-11-14 22:13:20")),
    q("SELECT hex(encode('ab')) AS a, decode('ab'::BLOB) AS b",
      Seq("6162", "ab")),
    q("SELECT array_length([1,2],1) AS a", Seq(2)),
    q("SELECT xor(5, 3) AS a", Seq(6)),
    q("SELECT bit_count(255::BIGINT) AS a", Seq(8)),
    q("SELECT to_base64('AB'::BLOB) AS a", Seq("QUI=")),
    q("SELECT hex(from_base64('QUI=')) AS b", Seq("4142")),
    q("SELECT 1 AS a UNION ALL BY NAME SELECT 2 AS a", Seq(1), Seq(2)),
    q("SELECT * FROM (SELECT 1 AS a, 2 AS b) UNION BY NAME " +
      "(SELECT 3 AS b, 4 AS a) ORDER BY a", Seq(1, 2), Seq(4, 3)),

    // --- r8 batch 20: datepart/EXTRACT part table (probed — Spark's own
    // date_part returns Sunday=1 for dow where DuckDB says 0: a silent
    // wrong before the part→function mapping) ---
    q("SELECT datepart('dow', DATE '2024-01-07') AS a, " +
      "datepart('dow', DATE '2024-01-08') AS b", Seq(0, 1)),
    q("SELECT datepart('isodow', DATE '2024-01-07') AS sun, " +
      "datepart('isodow', DATE '2024-01-08') AS mon", Seq(7, 1)),
    q("SELECT datepart('doy', DATE '2024-01-07') AS doy, " +
      "datepart('week', DATE '2024-01-07') AS w, " +
      "datepart('yearweek', DATE '2024-01-07') AS yw, " +
      "datepart('era', DATE '2024-01-07') AS era", Seq(7, 1, 202401, 1)),
    q("SELECT datepart('epoch', TIMESTAMP '2024-01-07 10:20:30.123456') " +
      "AS ep", Seq(1.704622830123456e9)),
    q("SELECT datepart('microseconds', " +
      "TIMESTAMP '2024-01-07 10:20:30.123456') AS us, " +
      "datepart('milliseconds', TIMESTAMP '2024-01-07 10:20:30.123456') " +
      "AS ms", Seq(30123456, 30123)),
    q("SELECT datepart('decade', DATE '2024-01-07') AS d, " +
      "datepart('century', DATE '2024-01-07') AS c, " +
      "datepart('millennium', DATE '2024-01-07') AS m", Seq(202, 21, 3)),
    q("SELECT datepart('isoyear', DATE '2024-01-07') AS iy", Seq(2024)),
    q("SELECT extract(dow FROM DATE '2024-01-07') AS e, " +
      "extract(isodow FROM DATE '2024-01-08') AS i", Seq(0, 1)),
    q("SELECT extract(epoch FROM TIMESTAMP '2024-01-07 10:20:30.5') AS ep",
      Seq(1.7046228305e9)),
    q("SELECT extract(timezone FROM TIMESTAMP '2024-01-07 10:20:30') AS tz",
      Seq(0)),
    q("SELECT date_part(['dow','epoch'], TIMESTAMP '2024-01-07 00:00:00') " +
      "AS s", Seq(Seq(0, 1.7045856e9))),
    // timezone()/AT TIME ZONE: naive ts interpreted in tz → the instant
    // (rendered in the UTC session zone); TIMESTAMPTZ operands refuse
    q("SELECT timezone('America/New_York', " +
      "TIMESTAMP '2024-01-01 12:00:00') AS a", Seq("2024-01-01 17:00:00+00")),
    q("SELECT TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE " +
      "'America/New_York' AS a", Seq("2024-01-01 17:00:00+00")),
    q("SELECT timezone('UTC', TIMESTAMP '2024-01-01 12:00:00') AS u",
      Seq("2024-01-01 12:00:00+00")),
    // misc breadth probed alongside
    q("SELECT DISTINCT ON (a, b) a, b, c FROM (VALUES (1,1,'x'),(1,1,'y')," +
      "(1,2,'z')) t(a,b,c) ORDER BY a, b, c", Seq(1, 1, "x"), Seq(1, 2, "z")),
    q("SELECT quantile_cont(x, [0.25, 0.5, 0.75]) AS q FROM " +
      "(VALUES (1),(2),(3),(4)) t(x)", Seq(Seq(1.75, 2.5, 3.25))),
    q("SELECT last_day(DATE '2024-02-05') AS a", Seq("2024-02-29")),
    q("SELECT date_diff('month', DATE '2024-01-15', DATE '2024-03-10') AS a",
      Seq(2)),
    q("SELECT a, b FROM (VALUES (1,2)) t(a,b) NATURAL JOIN " +
      "(VALUES (1,3)) s(a,c)", Seq(1, 2)),
    q("SELECT t.x, l.y FROM (VALUES (1)) t(x), LATERAL " +
      "(SELECT t.x + 1 AS y) l", Seq(1, 2)),
    q("SELECT 'a%c' LIKE 'a$%c' ESCAPE '$' AS e", Seq(true)),
    q("SELECT printf('%-5d|', 42) AS a, printf('%05.2f', 3.14159) AS b, " +
      "printf('%x', 255) AS c", Seq("42   |", "03.14", "ff")),
    q("SELECT left('hello', -2) AS a, right('hello', -2) AS b",
      Seq("hel", "llo")),
    q("SELECT trim('xxhixx', 'x') AS a, ltrim('xxhi', 'x') AS b, " +
      "rtrim('hixx', 'x') AS c", Seq("hi", "hi", "hi")),
    q("SELECT [[y*2 for y in x] for x in [[1],[2,3]]] AS n",
      Seq(Seq(Seq(2), Seq(4, 6)))),

    // --- r8 batch 21: nested comments, math domain errors, misc (probed) ---
    q("SELECT /* outer /* inner */ still comment */ 1 AS a", Seq(1)),
    q("SELECT 1_000_000 AS a", Seq(1000000)),
    // DuckDB raises Out of Range on these; the gateway raises too (error
    // parity — these count as refusals of statements DuckDB errors on)
    err("SELECT sqrt(-1) AS a", "Out of Range"),
    err("SELECT ln(0) AS a", "Out of Range"),
    err("SELECT asin(2) AS a", "ASIN"),
    q("SELECT sqrt(9) AS s, ln(1) AS l, log2(8) AS l2, asin(0.5) AS a",
      Seq(3.0, 0.0, 3.0, 0.5235987755982989)),
    q("SELECT a, b, sum(c) AS s FROM (VALUES (1,1,10),(1,2,20),(2,1,30)) " +
      "t(a,b,c) GROUP BY GROUPING SETS ((a), (b), ()) " +
      "ORDER BY a NULLS LAST, b NULLS LAST",
      Seq(1, null, 30), Seq(2, null, 30), Seq(null, 1, 40),
      Seq(null, 2, 20), Seq(null, null, 60)),
    q("SELECT a, grouping(a) AS g FROM (VALUES (1),(2)) t(a) " +
      "GROUP BY ROLLUP(a) ORDER BY a NULLS LAST",
      Seq(1, 0), Seq(2, 0), Seq(null, 1)),
    q("SELECT 1 IS DISTINCT FROM NULL AS a, " +
      "NULL IS NOT DISTINCT FROM NULL AS b", Seq(true, true)),
    q("SELECT greatest(1, NULL, 3) AS a", Seq(3)),
    q("SELECT mode(x) AS m FROM (VALUES (1),(2),(2)) t(x)", Seq(2)),
    q("SELECT skewness(x) AS s FROM (VALUES (1.0),(2.0),(4.0)) t(x)",
      Seq(0.935219529582821)),
    q("SELECT corr(x, y) AS c, covar_pop(x, y) AS cp FROM " +
      "(VALUES (1,2),(2,4),(3,5)) t(x,y)", Seq(0.9819805060619659, 1.0)),
    q("SELECT s.* FROM (SELECT {'a': 1, 'b': 2} AS s) q", Seq(1, 2)),
    q("SELECT EXISTS (SELECT 1 WHERE 1=0) AS e", Seq(false)),
    q("SELECT repeat('ab', -1) AS a", Seq("")),

    // --- r8 batch 22: UNION-distinct recursion, DISTINCT ordered aggs,
    // named windows, misc (probed) ---
    // plain UNION recursion (Spark native recursive CTE is UNION ALL
    // only): driver fixpoint loop, frontier-only steps, full-row dedup —
    // fib's duplicate (a=1) survives because UNION dedups (a,b) PAIRS
    C("WITH RECURSIVE t(x) AS (SELECT 1 UNION SELECT x+1 FROM t " +
      "WHERE x < 3) SELECT * FROM t ORDER BY x",
      Some(Seq(Seq(1), Seq(2), Seq(3))), ordered = true),
    C("WITH RECURSIVE fib(a, b) AS (SELECT 0, 1 UNION SELECT b, a+b " +
      "FROM fib WHERE b < 20) SELECT a FROM fib ORDER BY a",
      Some(Seq(Seq(0), Seq(1), Seq(1), Seq(2), Seq(3), Seq(5), Seq(8),
        Seq(13))), ordered = true),
    q("SELECT array_agg(DISTINCT x ORDER BY x) AS a FROM " +
      "(VALUES (2),(1),(2)) t(x)", Seq(Seq(1, 2))),
    q("SELECT array_agg(DISTINCT x ORDER BY x DESC) AS a FROM " +
      "(VALUES (2),(1),(2)) t(x)", Seq(Seq(2, 1))),
    q("SELECT string_agg(DISTINCT x, ',' ORDER BY x) AS s FROM " +
      "(VALUES ('b'),('a'),('a')) t(x)", Seq("a,b")),
    q("SELECT sum(x) OVER w AS s FROM (VALUES (1),(2)) t(x) " +
      "WINDOW w AS (ORDER BY x)", Seq(1), Seq(3)),
    q("SELECT [1,2] < [1,3] AS a, {'a':1} = {'a':1} AS b", Seq(true, true)),
    q("SELECT 2 = ANY(SELECT * FROM (VALUES (1),(2)) t(x)) AS a", Seq(true)),
    q("SELECT TRIM(BOTH 'x' FROM 'xxhixx') AS a, TRIM(LEADING 'x' FROM " +
      "'xxhi') AS b, TRIM(TRAILING 'x' FROM 'hixx') AS c",
      Seq("hi", "hi", "hi")),
    q("SELECT nextafter(1.0, 2.0) AS a", Seq(1.0000000000000002)),
    q("SELECT isfinite(1.0) AS a, isinf('inf'::DOUBLE) AS b, " +
      "isnan('nan'::DOUBLE) AS c", Seq(true, true, true)),
    q("SELECT 0.1 + 0.2 = 0.3 AS exact", Seq(true)), // DECIMAL arithmetic
    s("CREATE TABLE colx (a INT, b INT, c INT)"),
    s("INSERT INTO colx VALUES (1,2,3)"),
    q("SELECT COLUMNS(* EXCLUDE (b)) FROM colx", Seq(1, 3)),
    q("SELECT min(COLUMNS(* EXCLUDE (b))) FROM colx", Seq(1, 3)),
    s("DROP TABLE colx"),

    // --- r8 batch 23: quantified comparisons, prepared named params,
    // TABLE statement, csv auto-sniffing (probed) ---
    s("CREATE TABLE qt (a INT, b VARCHAR)"),
    s("INSERT INTO qt VALUES (1, 'x')"),
    s("INSERT INTO qt BY POSITION VALUES (2, 'y')"), // explicit default
    C("TABLE qt", Some(Seq(Seq(1, "x"), Seq(2, "y")))),
    q("SELECT 2 = ALL(SELECT a FROM qt) AS e", Seq(false)),
    q("SELECT 2 >= ALL(SELECT a FROM qt) AS ge", Seq(true)),
    q("SELECT 0 < ALL(SELECT a FROM qt) AS l", Seq(true)),
    q("SELECT 2 <> ANY(SELECT a FROM qt) AS ne", Seq(true)),
    q("SELECT 5 > ANY(SELECT a FROM qt) AS ga", Seq(true)),
    q("SELECT 2 = SOME(SELECT a FROM qt) AS so", Seq(true)),
    q("SELECT 2 = ALL(SELECT a FROM qt WHERE a > 99) AS emp", Seq(true)),
    q("SELECT 2 = ALL(SELECT CASE WHEN a = 1 THEN NULL ELSE a END " +
      "FROM qt) AS nl", Seq(null)),
    s("PREPARE qp AS SELECT $x + $y"),
    q("EXECUTE qp(x := 2, y := 3)", Seq(5)),
    s("DEALLOCATE qp"),
    s("PREPARE qq AS SELECT a FROM qt WHERE b = ?"),
    q("EXECUTE qq('y')", Seq(2)),
    s("DEALLOCATE qq"),
    s("COPY qt TO '/tmp/graft_corpus_pipe.csv' " +
      "(FORMAT CSV, HEADER, DELIMITER '|')"),
    // the delimiter sniffer: '|' detected with no delim option spelled
    q("SELECT * FROM read_csv_auto('/tmp/graft_corpus_pipe.csv') " +
      "ORDER BY a", Seq(1, "x"), Seq(2, "y")),
    s("CHECKPOINT"),
    s("VACUUM"),
    s("DROP TABLE qt"),

    // --- r8 batch 24: pivot defaults, interval overloads, lambda alias
    // breadth (probed) ---
    s("CREATE TABLE pv (city VARCHAR, yr INT, amt INT)"),
    s("INSERT INTO pv VALUES ('a',2020,1),('a',2021,2),('b',2020,3)"),
    // bare PIVOT: count(*) per pivot value, ZERO-filled, grouped by
    // every non-pivot column
    q("PIVOT pv ON yr",
      Seq("a", 1, 1, 0), Seq("a", 2, 0, 1), Seq("b", 3, 1, 0)),
    q("PIVOT pv ON yr USING first(amt)",
      Seq("a", 1, 2), Seq("b", 3, null)),
    q("UNPIVOT (SELECT 1 AS a, 2 AS b) ON a, b INTO NAME k VALUE v",
      Seq("a", 1), Seq("b", 2)),
    q("SELECT reduce([1,2,3], (a,b) -> a+b) AS r", Seq(6)),
    q("SELECT list_apply([1,2], x -> x * 10) AS a, " +
      "apply([3], x -> x + 1) AS b", Seq(Seq(10, 20), Seq(4))),
    q("SELECT date_add(DATE '2024-01-01', INTERVAL 1 MONTH) AS d",
      Seq("2024-02-01")),
    q("SELECT DATE '2024-01-31' + INTERVAL 1 MONTH AS d", Seq("2024-02-29")),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' - INTERVAL '90 minutes' AS t",
      Seq("2023-12-31 22:30:00")),
    q("SELECT generate_series(DATE '2024-01-01', DATE '2024-01-22', " +
      "INTERVAL 1 WEEK) AS g",
      Seq(Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22"))),
    q("SELECT strptime('05/2024/01', '%d/%Y/%m') AS t", Seq("2024-01-05")),
    q("SELECT strftime(strptime('2024-01-05', '%Y-%m-%d'), '%A %d') AS s",
      Seq("Friday 05")),
    q("""SELECT to_json({'a': 1, 'b': [1,2]}) AS j""",
      Seq("""{"a":1,"b":[1,2]}""")),
    q("SELECT json_group_array(x) AS j FROM (VALUES (1),(2)) t(x)",
      Seq("[1,2]")),
    q("SELECT json_group_object(k, v) AS j FROM " +
      "(VALUES ('a',1),('b',2)) t(k,v)", Seq("""{"a":1,"b":2}""")),
    q("SELECT regexp_matches('hello', 'el+') AS m, " +
      "regexp_full_match('hello', 'h.*o') AS f", Seq(true, true)),
    q("SELECT suffix('hello', 'llo') AS s, prefix('hello', 'he') AS p",
      Seq(true, true)),
    q("SELECT string_split_regex('a1b22c', '\\d+') AS s",
      Seq(Seq("a", "b", "c"))),
    s("DROP TABLE pv"),

    // --- r8 batch 25: set-op/limit spellings, contains NULL algebra ---
    q("SELECT count(DISTINCT (a, b)) AS c FROM " +
      "(VALUES (1,1),(1,1),(1,2)) t(a,b)", Seq(2)),
    q("SELECT 1 IN (1, NULL) AS a, 3 IN (1, NULL) AS b, " +
      "3 NOT IN (1, NULL) AS c", Seq(true, null, null)),
    q("SELECT x FROM (VALUES (1),(2),(3)) t(x) OFFSET 1", Seq(2), Seq(3)),
    q("SELECT x FROM (VALUES (1),(2),(3)) t(x) ORDER BY x LIMIT ALL",
      Seq(1), Seq(2), Seq(3)),
    C("SELECT x FROM (VALUES (3),(1),(2)) t(x) ORDER BY x " +
      "FETCH FIRST 2 ROWS ONLY", Some(Seq(Seq(1), Seq(2))), ordered = true),
    q("SELECT a FROM (VALUES (1),(2),(2)) t(a) INTERSECT ALL " +
      "SELECT a FROM (VALUES (2),(2),(3)) s(a)", Seq(2), Seq(2)),
    q("SELECT a FROM (VALUES (1),(2),(2)) t(a) EXCEPT ALL " +
      "SELECT a FROM (VALUES (2)) s(a)", Seq(1), Seq(2)),
    q("SELECT a, b, sum(c) AS s FROM (VALUES (1,1,10),(2,1,20)) t(a,b,c) " +
      "GROUP BY CUBE(a, b) ORDER BY a NULLS LAST, b NULLS LAST",
      Seq(1, 1, 10), Seq(1, null, 10), Seq(2, 1, 20), Seq(2, null, 20),
      Seq(null, 1, 30), Seq(null, null, 30)),
    // DuckDB contains is NULL only for NULL needle/list — a null ELEMENT
    // does not smear membership (Spark's raw array_contains 3VL would)
    q("SELECT list_contains([1,2], NULL) AS a, " +
      "list_contains([1,NULL], 3) AS b", Seq(null, false)),
    q("SELECT list_contains([1,NULL], 1) AS d, " +
      "array_contains([1,2], 2) AS e", Seq(true, true)),
    q("SELECT count(*) FILTER (a > 1) AS c FROM (VALUES (1),(2)) t(a)",
      Seq(1)),
    q("SELECT last(x ORDER BY x DESC) AS l FROM (VALUES (1),(3),(2)) t(x)",
      Seq(1)),
    q("SELECT bit_and(x) AS a FROM (VALUES (6),(3)) t(x)", Seq(2)),
    q("SELECT list(DISTINCT x) AS l FROM (VALUES (1),(1),(2)) t(x)",
      Seq(Seq(1, 2))),
    // r9: NULL start/length propagate through the 3-arg substr index
    // algebra (probed — the general rewrite's CASE would otherwise land
    // on ELSE -1 and return a non-NULL slice)
    q("SELECT substr('abc', NULL, 2) AS a, substr('abc', 2, NULL) AS b, " +
      "substr('abc', NULL) AS c, substr(NULL, 1, 2) AS d",
      Seq(null, null, null, null)),
    q("SELECT substring(x, n, 2) AS s FROM " +
      "(VALUES ('abc', 2), ('xyz', NULL)) t(x, n) ORDER BY x",
      Seq("bc"), Seq(null)),
    // DuckDB binder-errors on BY NAME + explicit column list; the gateway
    // must refuse, not silently realign (probed: Binder Error)
    s("CREATE TABLE corpus_byname(a INT, b INT)"),
    err("INSERT INTO corpus_byname BY NAME (a, b) SELECT 1 AS a, 2 AS b",
      "cannot be combined"),

    // --- r9: view bodies carry full duck-dialect semantics (every result
    // probed against live DuckDB; bodies exercise the plan-level passes a
    // Spark catalog view would silently lose: 1-based/negative subscripts,
    // //, % 0 → NULL, duck casts, slices, DATE-DATE day counts, default
    // NULLS LAST, QUALIFY) ---
    s("CREATE TABLE vc_t(id INT, xs INT[], s VARCHAR, d DATE)"),
    s("INSERT INTO vc_t VALUES (1, [5,6,7], 'alpha', DATE '2024-03-15'), " +
      "(2, [8], 'beta', DATE '2024-07-01'), (3, [], 'gamma', DATE '2024-12-31')"),
    s("CREATE VIEW vc_sub AS SELECT id, xs[1] AS hd, xs[-1] AS tl FROM vc_t"),
    q("SELECT * FROM vc_sub ORDER BY id",
      Seq(1, 5, 7), Seq(2, 8, 8), Seq(3, null, null)),
    s("CREATE VIEW vc_div AS SELECT id, id // 2 AS fd, id % 0 AS mz, " +
      "1 / 0 AS dz FROM vc_t"),
    q("SELECT * FROM vc_div ORDER BY id",
      Seq(1, 0, null, null), Seq(2, 1, null, null), Seq(3, 1, null, null)),
    s("CREATE VIEW vc_cast AS SELECT '3.7'::DOUBLE AS dd, 3.7::INT AS ri, " +
      "'[1, 2]'::INT[] AS li FROM vc_t WHERE id = 1"),
    q("SELECT * FROM vc_cast", Seq(3.7, 4, Seq(1, 2))),
    s("CREATE VIEW vc_str AS SELECT id, strftime(d, '%Y/%m') AS ym, " +
      "s[2:3] AS mid FROM vc_t"),
    q("SELECT * FROM vc_str ORDER BY id",
      Seq(1, "2024/03", "lp"), Seq(2, "2024/07", "et"), Seq(3, "2024/12", "am")),
    s("CREATE VIEW vc_date AS SELECT id, d - DATE '2024-01-01' AS days, " +
      "date_part('month', d) AS m FROM vc_t"),
    q("SELECT * FROM vc_date ORDER BY id",
      Seq(1, 74, 3), Seq(2, 182, 7), Seq(3, 365, 12)),
    s("CREATE VIEW vc_ord AS SELECT id, " +
      "CASE WHEN id = 2 THEN NULL ELSE id END AS k FROM vc_t"),
    C("SELECT k FROM vc_ord ORDER BY k",
      Some(Seq(Seq(1), Seq(3), Seq(null))), ordered = true),
    C("SELECT k FROM vc_ord ORDER BY k DESC",
      Some(Seq(Seq(3), Seq(1), Seq(null))), ordered = true),
    s("CREATE VIEW vc_agg(grp, n) AS SELECT len(xs) > 0, count(*) " +
      "FROM vc_t GROUP BY 1"),
    q("SELECT * FROM vc_agg ORDER BY grp", Seq(false, 1), Seq(true, 2)),
    s("CREATE VIEW vc_joined AS SELECT a.id, b.hd FROM vc_t a " +
      "JOIN vc_sub b ON a.id = b.id WHERE b.hd IS NOT NULL"),
    q("SELECT count(*) AS n FROM vc_joined", Seq(2)),
    s("CREATE VIEW vc_win AS SELECT id, " +
      "row_number() OVER (ORDER BY d DESC) AS rn FROM vc_t"),
    q("SELECT id, rn FROM vc_win ORDER BY id", Seq(1, 3), Seq(2, 2), Seq(3, 1)),
    q("SELECT v.hd + w.fd AS c FROM vc_sub v JOIN vc_div w USING (id) " +
      "ORDER BY c", Seq(5), Seq(9), Seq(null)),
    // OR REPLACE re-binds dependents lazily: vc_joined follows the NEW
    // vc_sub definition on its next query (probed)
    s("CREATE OR REPLACE VIEW vc_sub AS SELECT id, xs[1] * 100 AS hd FROM vc_t"),
    q("SELECT max(hd) AS m FROM vc_sub", Seq(800)),
    q("SELECT count(*) AS n FROM vc_joined", Seq(2)),
    s("CREATE VIEW vc_lst AS SELECT list_aggregate(xs, 'sum') AS ls, " +
      "xs[2:] AS rest FROM vc_t WHERE id = 1"),
    q("SELECT * FROM vc_lst", Seq(18, Seq(6, 7))),
    // lazy binding: an insert AFTER create is visible through the view
    s("INSERT INTO vc_t VALUES (4, [9], 'delta', DATE '2025-01-01')"),
    q("SELECT count(*) AS n FROM vc_sub", Seq(4)),
    s("CREATE VIEW vc_q AS SELECT id FROM vc_t " +
      "QUALIFY row_number() OVER (ORDER BY id) <= 2"),
    q("SELECT * FROM vc_q ORDER BY id", Seq(1), Seq(2)),
    s("CREATE VIEW vc_sum AS SELECT sum(id) AS s, " +
      "quantile_cont(id, 0.5) AS med FROM vc_t"),
    q("SELECT * FROM vc_sum", Seq(10, 2.5)),

    // --- r9: WITHIN GROUP ordered-set aggregates (all probed) ---
    s("CREATE TABLE wg_t(g VARCHAR, v INT)"),
    s("INSERT INTO wg_t VALUES ('a',1),('a',2),('a',3),('b',10),('b',20)," +
      "(NULL,5)"),
    q("SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS p FROM wg_t",
      Seq(4.0)),
    q("SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY v) AS p FROM wg_t",
      Seq(2.25)),
    q("SELECT g, percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS p " +
      "FROM wg_t GROUP BY g ORDER BY g NULLS LAST",
      Seq("a", 2.0), Seq("b", 15.0), Seq(null, 5.0)),
    q("SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p FROM wg_t",
      Seq(3)),
    // DESC ordered-set: probed value (not the naive 1-q mapping)
    q("SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY v DESC) AS p " +
      "FROM wg_t", Seq(1)),
    q("SELECT mode() WITHIN GROUP (ORDER BY g) AS m FROM wg_t", Seq("a")),
    // fraction-LIST overload returns the percentile list (probed)
    q("SELECT percentile_cont([0.25, 0.75]) WITHIN GROUP (ORDER BY v) AS p " +
      "FROM wg_t", Seq(Seq(2.25, 8.75))),

    // --- r9: named WINDOW clauses incl. frame extension (probed) ---
    C("SELECT v, sum(v) OVER w AS s FROM wg_t " +
      "WINDOW w AS (PARTITION BY g ORDER BY v) ORDER BY v LIMIT 3",
      Some(Seq(Seq(1, 1), Seq(2, 3), Seq(3, 6))), ordered = true),
    C("SELECT v, rank() OVER w AS r, lead(v) OVER w AS l FROM wg_t " +
      "WINDOW w AS (ORDER BY v) ORDER BY v LIMIT 3",
      Some(Seq(Seq(1, 1, 2), Seq(2, 2, 3), Seq(3, 3, 5))), ordered = true),
    // a named-window reference EXTENDED with a frame inside OVER (...)
    C("SELECT v, sum(v) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) " +
      "AS s FROM wg_t WINDOW w AS (ORDER BY v) ORDER BY v LIMIT 3",
      Some(Seq(Seq(1, 1), Seq(2, 3), Seq(3, 5))), ordered = true),
    C("SELECT v, count(*) OVER w1 AS a, count(*) OVER w2 AS b FROM wg_t " +
      "WINDOW w1 AS (ORDER BY v), w2 AS (PARTITION BY g) ORDER BY v LIMIT 2",
      Some(Seq(Seq(1, 1, 3), Seq(2, 2, 3))), ordered = true),

    // --- r9: COLLATE breadth (probed: comparisons fold BOTH sides;
    // dotted combos compose; ORDER BY keys fold alone) ---
    q("SELECT 'HELLO' = 'hello' COLLATE NOCASE AS e", Seq(true)),
    q("SELECT 'a' < 'B' COLLATE NOCASE AS lt, 'a' < 'B' AS raw",
      Seq(true, false)),
    q("SELECT 'Ölung' = 'olung' COLLATE NOCASE.NOACCENT AS e", Seq(true)),
    q("SELECT 'ö' = 'o' COLLATE NOACCENT AS e", Seq(true)),
    q("SELECT g FROM wg_t WHERE g IS NOT NULL " +
      "ORDER BY g COLLATE NOCASE LIMIT 1", Seq("a")),

    // --- r9: multi-key DISTINCT ON + sampling spellings (probed) ---
    s("CREATE TABLE dm_t(a INT, b INT, v INT)"),
    s("INSERT INTO dm_t VALUES (1,1,9),(1,1,8),(1,2,7),(2,1,6),(2,1,5)"),
    q("SELECT DISTINCT ON (a, b) a, b, v FROM dm_t ORDER BY a, b, v",
      Seq(1, 1, 8), Seq(1, 2, 7), Seq(2, 1, 5)),
    q("SELECT DISTINCT ON (a, b) a, b, v FROM dm_t ORDER BY a, b, v DESC",
      Seq(1, 1, 9), Seq(1, 2, 7), Seq(2, 1, 6)),
    q("SELECT count(*) AS n FROM dm_t TABLESAMPLE 100%", Seq(5)),
    q("SELECT count(*) AS n FROM dm_t TABLESAMPLE 3 ROWS", Seq(3)),
    q("SELECT count(*) AS n FROM dm_t USING SAMPLE 2", Seq(2)),
    q("SELECT count(*) AS n FROM dm_t " +
      "USING SAMPLE reservoir(4 ROWS) REPEATABLE (100)", Seq(4)))

  // fixture for the read_text/read_blob entries above
  java.nio.file.Files.write(
    java.nio.file.Paths.get("/tmp/graft_corpus_text.txt"),
    "hello\nworld".getBytes("UTF-8"))

  // --------------------------------------------------------------------
  // Runner
  // --------------------------------------------------------------------
  sealed trait Outcome
  case object Matched extends Outcome
  case object Accepted extends Outcome
  case class Refused(msg: String) extends Outcome
  case class Wrong(got: Seq[Seq[Any]], want: Seq[Seq[Any]]) extends Outcome

  private val QueryLead =
    Set("select", "with", "from", "values", "show", "describe", "summarize",
      "pragma", "explain", "execute", "table", "pivot", "unpivot")

  /** Value-level normalization: numeric width and DATE/TIMESTAMP rendering
    * are not what this corpus measures. */
  private def norm(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case n: Byte => n.toLong
    case n: Short => n.toLong
    case n: Int => n.toLong
    case n: Long => n
    case f: Float => norm(f.toDouble)
    case d: Double => if (d.isWhole && math.abs(d) < 1e15) d.toLong else d
    case d: java.math.BigDecimal => norm(BigDecimal(d))
    case d: BigDecimal =>
      if (d.isWhole && d.abs < BigDecimal(Long.MaxValue)) d.toLongExact else d.toDouble
    case s: String => s
    case d: java.time.LocalDate => d.toString
    case d: java.sql.Date => d.toString
    case t: java.time.LocalTime => // duck renders seconds always
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d" +
        (if (t.getNano == 0) ""
         else ("." + f"${t.getNano}%09d").reverse.dropWhile(_ == '0').reverse)
    case t: java.sql.Timestamp => normTs(t.toString)
    case t: java.time.Instant => normTs(t.toString)
    case t: java.time.LocalDateTime => normTs(t.toString.replace("T", " "))
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v2) => (norm(k), norm(v2)) }.sortBy(_.toString)
    case xs: scala.collection.Seq[_] => xs.map(norm).toList
    case other => other.toString
  }

  private def normTs(ts: String): String = {
    val noFrac = ts.replaceAll("""\.0+$""", "").stripSuffix("Z").replace("T", " ")
    noFrac.stripSuffix(" 00:00:00")
  }

  private def runOne(c: C): Outcome = {
    val lead = c.sql.trim.split("""[\s(]""", 2)(0).toLowerCase
    // DML with RETURNING produces rows — route through the query path,
    // as the reference does (every statement goes to db.Query)
    val returning = Set("insert", "update", "delete").contains(lead) &&
      """(?i)\breturning\b""".r.findFirstIn(c.sql).isDefined
    val isQuery = QueryLead(lead) || returning
    try {
      val got: Seq[Seq[Any]] =
        if (isQuery) gw.query(c.sql).values
        else { gw.execute(c.sql); Seq.empty }
      c.expect match {
        case None => Accepted
        case Some(_) if !isQuery => Accepted
        case Some(want) =>
          def canon(rows: Seq[Seq[Any]]) = {
            val n = rows.map(_.map(norm))
            if (c.ordered) n else n.sortBy(_.toString())
          }
          if (canon(got) == canon(want)) Matched
          else Wrong(got.map(_.map(norm)), want.map(_.map(norm)))
      }
    } catch {
      case e: Throwable =>
        Refused(Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(120))
    }
  }

  // r10 batch: view bodies through the full dialect pipeline, WINDOW
  // definitions containing function calls, FILTER + WITHIN GROUP,
  // percentile fraction-list DESC, COLLATE in ORDER BY/joins, TABLESAMPLE
  // REPEATABLE, nested views, double-quoted identifiers. Every expectation
  // probed against DuckDB 1.0 before pinning.
  private def corpusD: Seq[C] = Seq(
    s("CREATE TABLE rv_t (a integer, l integer[], s text, d date)"),
    s("INSERT INTO rv_t VALUES (1, [10,20,30], 'Apple', DATE '2024-01-15'), " +
      "(2, [5], 'banana', DATE '2024-02-20'), (3, [7,9], 'Cherry', DATE '2024-03-25')"),
    // view bodies: each exercises a dialect pass a Spark catalog view
    // would silently lose (1-based subscripts, //, ::, strftime, slices,
    // div-zero NULL, FILTER, named windows, ILIKE, negative index)
    s("CREATE VIEW rv_v1 AS SELECT a, l[1] AS hd FROM rv_t"),
    q("SELECT * FROM rv_v1 ORDER BY a", Seq(1, 10), Seq(2, 5), Seq(3, 7)),
    s("CREATE VIEW rv_v2 AS SELECT a, a // 2 AS h, a % 2 AS m FROM rv_t"),
    q("SELECT * FROM rv_v2 ORDER BY a", Seq(1, 0, 1), Seq(2, 1, 0), Seq(3, 1, 1)),
    s("CREATE VIEW rv_v3 AS SELECT a, s::VARCHAR || '!' AS e, a::BIGINT * 2 AS b FROM rv_t"),
    q("SELECT * FROM rv_v3 ORDER BY a",
      Seq(1, "Apple!", 2), Seq(2, "banana!", 4), Seq(3, "Cherry!", 6)),
    s("CREATE VIEW rv_v4 AS SELECT a, strftime(d, '%Y/%m') AS ym FROM rv_t"),
    q("SELECT * FROM rv_v4 ORDER BY a",
      Seq(1, "2024/01"), Seq(2, "2024/02"), Seq(3, "2024/03")),
    s("CREATE VIEW rv_v5 AS SELECT a, list_transform(l, x -> x + 1) AS l2 FROM rv_t"),
    q("SELECT * FROM rv_v5 ORDER BY a",
      Seq(1, Seq(11, 21, 31)), Seq(2, Seq(6)), Seq(3, Seq(8, 10))),
    s("CREATE VIEW rv_v6 AS SELECT a, l[2:3] AS sl FROM rv_t"),
    q("SELECT * FROM rv_v6 ORDER BY a",
      Seq(1, Seq(20, 30)), Seq(2, Seq()), Seq(3, Seq(9))),
    s("CREATE VIEW rv_v7 AS SELECT upper(s) AS u, len(s) AS n FROM rv_t"),
    q("SELECT * FROM rv_v7 ORDER BY u",
      Seq("APPLE", 5), Seq("BANANA", 6), Seq("CHERRY", 6)),
    s("CREATE VIEW rv_v8 AS SELECT a, 1/0 AS z FROM rv_t"),
    q("SELECT a, z FROM rv_v8 ORDER BY a",
      Seq(1, null), Seq(2, null), Seq(3, null)),
    s("CREATE VIEW rv_v9 AS SELECT sum(a) FILTER (WHERE a > 1) AS f FROM rv_t"),
    q("SELECT * FROM rv_v9", Seq(5)),
    s("CREATE VIEW rv_v10 AS SELECT a, rank() OVER w AS r FROM rv_t " +
      "WINDOW w AS (ORDER BY a DESC)"),
    q("SELECT * FROM rv_v10 ORDER BY a", Seq(1, 3), Seq(2, 2), Seq(3, 1)),
    s("CREATE VIEW rv_v11(x, y) AS SELECT a, a * 10 FROM rv_t"),
    q("SELECT x, y FROM rv_v11 ORDER BY x", Seq(1, 10), Seq(2, 20), Seq(3, 30)),
    s("CREATE VIEW rv_v12 AS SELECT a, CASE WHEN a > 1 THEN 'big' ELSE 'small' END AS c FROM rv_t"),
    q("SELECT * FROM rv_v12 ORDER BY a",
      Seq(1, "small"), Seq(2, "big"), Seq(3, "big")),
    s("CREATE VIEW rv_v13 AS SELECT d, date_part('month', d) AS m, " +
      "d + INTERVAL 1 DAY AS nxt FROM rv_t"),
    q("SELECT m FROM rv_v13 ORDER BY m", Seq(1), Seq(2), Seq(3)),
    s("CREATE VIEW rv_v14 AS SELECT a FROM rv_t WHERE s ILIKE '%a%'"),
    q("SELECT * FROM rv_v14 ORDER BY a", Seq(1), Seq(2)),
    s("CREATE VIEW rv_v15 AS SELECT list_sort(l)[-1] AS mx FROM rv_t"),
    q("SELECT * FROM rv_v15 ORDER BY mx", Seq(5), Seq(9), Seq(30)),
    // nested views: 3-deep chain with dialect ops at each level
    s("CREATE VIEW rv_n1 AS SELECT a, a * 2 AS b FROM rv_t"),
    s("CREATE VIEW rv_n2 AS SELECT a, b, b // 3 AS c FROM rv_n1"),
    s("CREATE VIEW rv_n3 AS SELECT sum(c) AS s FROM rv_n2"),
    q("SELECT * FROM rv_n3", Seq(3)),
    // WINDOW definitions containing function calls (r10: the inliner's
    // balanced-paren scan — the old [^()]* regex couldn't match these)
    q("SELECT a, sum(a) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s " +
      "FROM rv_t WINDOW w AS (ORDER BY abs(a - 2), a)",
      Seq(2, 2), Seq(1, 3), Seq(3, 4)),
    q("SELECT a, sum(a) OVER (w ROWS UNBOUNDED PRECEDING) AS s " +
      "FROM rv_t WINDOW w AS (PARTITION BY a % 2 ORDER BY len(s))",
      Seq(2, 2), Seq(1, 1), Seq(3, 4)),
    q("SELECT a, first_value(a) OVER (w RANGE BETWEEN UNBOUNDED PRECEDING " +
      "AND UNBOUNDED FOLLOWING) AS f FROM rv_t WINDOW w AS (ORDER BY coalesce(a, 0))",
      Seq(1, 1), Seq(2, 1), Seq(3, 1)),
    q("SELECT a, sum(a) OVER (w1 ROWS 1 PRECEDING) AS s1, " +
      "count(*) OVER (w2 ROWS CURRENT ROW) AS c2 FROM rv_t " +
      "WINDOW w1 AS (ORDER BY round(a * 1.5)), w2 AS (PARTITION BY a // 2)",
      Seq(1, 1, 1), Seq(2, 3, 1), Seq(3, 5, 1)),
    // FILTER + WITHIN GROUP combinations
    q("SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY a) FILTER (WHERE a > 1) AS p FROM rv_t",
      Seq(2.5)),
    q("SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY a) FILTER (WHERE a < 3) AS p FROM rv_t",
      Seq(1)),
    q("SELECT mode() WITHIN GROUP (ORDER BY a) FILTER (WHERE a != 2) AS m FROM rv_t",
      Seq(1)),
    q("SELECT string_agg(s, ',' ORDER BY a) FILTER (WHERE a >= 2) AS g FROM rv_t",
      Seq("banana,Cherry")),
    q("SELECT string_agg(s, ',' ORDER BY a DESC) AS g FROM rv_t",
      Seq("Cherry,banana,Apple")),
    // percentile fraction lists with sort direction (r10: DESC = 1-q ASC)
    q("SELECT percentile_cont([0.25, 0.5]) WITHIN GROUP (ORDER BY a DESC) AS p FROM rv_t",
      Seq(Seq(2.5, 2.0))),
    q("SELECT percentile_cont([0.5]) WITHIN GROUP (ORDER BY a ASC) AS p FROM rv_t",
      Seq(Seq(2.0))),
    q("SELECT percentile_cont([0.0, 1.0]) WITHIN GROUP (ORDER BY a DESC) AS p FROM rv_t",
      Seq(Seq(3.0, 1.0))),
    q("SELECT percentile_disc([0.25, 0.75]) WITHIN GROUP (ORDER BY a) AS p FROM rv_t",
      Seq(Seq(1, 3))),
    // COLLATE in ORDER BY and join conditions
    C("SELECT s FROM rv_t ORDER BY s COLLATE NOCASE",
      Some(Seq(Seq("Apple"), Seq("banana"), Seq("Cherry"))), ordered = true),
    C("SELECT s FROM rv_t ORDER BY s COLLATE NOCASE DESC",
      Some(Seq(Seq("Cherry"), Seq("banana"), Seq("Apple"))), ordered = true),
    s("CREATE TABLE rv_u (s text)"),
    s("INSERT INTO rv_u VALUES ('APPLE'), ('cherry')"),
    q("SELECT t.s AS ts, u.s AS us FROM rv_t t JOIN rv_u u ON t.s COLLATE NOCASE = u.s ORDER BY ts",
      Seq("Apple", "APPLE"), Seq("Cherry", "cherry")),
    q("SELECT count(*) AS n FROM rv_t t, rv_u u WHERE t.s COLLATE NOCASE = u.s COLLATE NOCASE",
      Seq(2)),
    q("SELECT s FROM rv_t WHERE s COLLATE NOCASE IN ('apple', 'CHERRY') ORDER BY s",
      Seq("Apple"), Seq("Cherry")),
    // TABLESAMPLE/USING SAMPLE with REPEATABLE seeds (row-count contracts)
    q("SELECT count(*) AS n FROM rv_t TABLESAMPLE reservoir(2 ROWS) REPEATABLE (42)", Seq(2)),
    // double-quoted identifiers (DuckDB: "..." is ALWAYS an identifier)
    q("""SELECT "a" FROM rv_t ORDER BY "a"""", Seq(1), Seq(2), Seq(3)),
    q("""SELECT a AS "my col" FROM rv_t ORDER BY "my col" LIMIT 1""", Seq(1)),
    q("""SELECT "rv_t"."a" FROM "rv_t" ORDER BY 1 LIMIT 2""", Seq(1), Seq(2)))

  // r10 batch B: more view pins (SIMILAR TO / QUALIFY / GROUP BY ALL /
  // OR REPLACE / alias-list chains), COLLATE breadth over the new
  // left/both/IN/BETWEEN folds, list/struct/map corners, date/time
  // breadth, regex + string functions, window sugar, set ops. Probed.
  private def corpusE: Seq[C] = Seq(
    s("CREATE TABLE rb_t (a integer, b double, s text, ts timestamp)"),
    s("INSERT INTO rb_t VALUES (1, 1.5, 'alpha', TIMESTAMP '2024-03-15 10:30:00'), " +
      "(2, 2.5, 'Beta', TIMESTAMP '2024-03-16 22:45:30'), (3, NULL, 'GAMMA', NULL)"),
    s("CREATE VIEW rb_v1 AS SELECT a, b, coalesce(b, 0) AS b0 FROM rb_t"),
    q("SELECT a, b0 FROM rb_v1 ORDER BY a", Seq(1, 1.5), Seq(2, 2.5), Seq(3, 0.0)),
    s("CREATE VIEW rb_v2 AS SELECT s FROM rb_t WHERE s SIMILAR TO '[A-Z].*'"),
    q("SELECT * FROM rb_v2 ORDER BY s", Seq("Beta"), Seq("GAMMA")),
    s("CREATE VIEW rb_v3 AS SELECT a, ts::DATE AS d, hour(ts) AS h FROM rb_t " +
      "WHERE ts IS NOT NULL"),
    q("SELECT * FROM rb_v3 ORDER BY a",
      Seq(1, "2024-03-15", 10), Seq(2, "2024-03-16", 22)),
    s("CREATE VIEW rb_v4 AS SELECT count(*) AS n, avg(b) AS m FROM rb_t GROUP BY ALL"),
    q("SELECT * FROM rb_v4", Seq(3, 2.0)),
    s("CREATE VIEW rb_v5 AS SELECT a, s FROM rb_t " +
      "QUALIFY row_number() OVER (ORDER BY a DESC) <= 2"),
    q("SELECT * FROM rb_v5 ORDER BY a", Seq(2, "Beta"), Seq(3, "GAMMA")),
    // OR REPLACE swaps the registered body; dependents re-bind lazily
    s("CREATE OR REPLACE VIEW rb_v1 AS SELECT a * 100 AS big FROM rb_t"),
    q("SELECT max(big) AS m FROM rb_v1", Seq(300)),
    s("CREATE VIEW rb_v6(p, q) AS SELECT a, a + 1 FROM rb_t"),
    s("CREATE VIEW rb_v7 AS SELECT p + q AS r FROM rb_v6"),
    q("SELECT sum(r) AS s FROM rb_v7", Seq(15)),
    // COLLATE breadth (left-side / both-sides / IN / BETWEEN folds — r10)
    q("SELECT 'ABC' COLLATE NOCASE = 'abc' AS r", Seq(true)),
    q("SELECT 'ABC' COLLATE NOCASE = 'abc' COLLATE NOCASE AS r", Seq(true)),
    q("SELECT 'Cherry' COLLATE NOCASE BETWEEN 'cherra' AND 'cherrz' AS r", Seq(true)),
    q("SELECT 'Apple' COLLATE NOCASE NOT IN ('APPLE', 'x') AS r", Seq(false)),
    q("SELECT s FROM rb_t WHERE s COLLATE NOCASE = 'beta'", Seq("Beta")),
    q("SELECT count(*) AS n FROM rb_t WHERE s COLLATE NOCASE.NOACCENT = 'gamma'", Seq(1)),
    q("SELECT 'Ölung' COLLATE NOACCENT = 'Olung' AS r", Seq(true)),
    // list/struct/map corners
    q("SELECT list_unique([1,2,2,3,NULL]) AS u", Seq(3)),
    q("SELECT list_resize([1,2], 4, 0) AS r", Seq(Seq(1, 2, 0, 0))),
    q("SELECT list_select([10,20,30], [3,1]) AS s", Seq(Seq(30, 10))),
    q("SELECT list_where([10,20,30], [true,false,true]) AS w", Seq(Seq(10, 30))),
    q("SELECT flatten([[1,2],[3]]) AS f", Seq(Seq(1, 2, 3))),
    q("SELECT list_reduce([1,2,3,4], (x, y) -> x + y) AS r", Seq(10)),
    q("SELECT list_any_value([NULL, 7, 8]) AS v", Seq(7)),
    q("SELECT {'x': 1, 'y': 'two'}.y AS y", Seq("two")),
    q("SELECT struct_extract({'x': 1, 'y': 2}, 'x') AS x", Seq(1)),
    q("SELECT map_keys(MAP {'a': 1, 'b': 2}) AS k", Seq(Seq("a", "b"))),
    q("SELECT map_values(MAP {'a': 1, 'b': 2}) AS v", Seq(Seq(1, 2))),
    q("SELECT cardinality(MAP {'a': 1}) AS c", Seq(1)),
    q("SELECT map_extract(MAP {'k': 42}, 'k') AS e", Seq(Seq(42))),
    q("SELECT element_at(MAP {'k': 42}, 'k') AS e", Seq(Seq(42))),
    // date/time breadth
    q("SELECT date_trunc('quarter', DATE '2024-05-15') AS q", Seq("2024-04-01")),
    q("SELECT last_day(DATE '2024-02-10') AS l", Seq("2024-02-29")),
    q("SELECT monthname(DATE '2024-03-15') AS m", Seq("March")),
    q("SELECT dayname(DATE '2024-03-15') AS d", Seq("Friday")),
    q("SELECT week(DATE '2024-03-15') AS w", Seq(11)),
    q("SELECT isodow(DATE '2024-03-17') AS d", Seq(7)),
    q("SELECT quarter(DATE '2024-08-01') AS q", Seq(3)),
    q("SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS d", Seq(60)),
    q("SELECT epoch(TIMESTAMP '1970-01-02 00:00:00') AS e", Seq(86400)),
    q("SELECT make_date(2024, 3, 15) AS d", Seq("2024-03-15")),
    q("SELECT make_timestamp(2024, 3, 15, 10, 30, 0) AS t", Seq("2024-03-15 10:30:00")),
    q("SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-03-15 10:37:00') AS b",
      Seq("2024-03-15 10:30:00")),
    // regex + string breadth
    q("""SELECT regexp_extract('abc123def', '(\d+)', 1) AS r""", Seq("123")),
    q("""SELECT regexp_extract_all('a1b2c3', '\d') AS r""", Seq(Seq("1", "2", "3"))),
    q("SELECT regexp_matches('hello', 'l+') AS m", Seq(true)),
    q("SELECT regexp_split_to_array('a,b;c', '[,;]') AS a", Seq(Seq("a", "b", "c"))),
    q("""SELECT string_split_regex('a1b22c', '\d+') AS s""", Seq(Seq("a", "b", "c"))),
    q("SELECT translate('12345', '143', 'ax') AS t", Seq("a2x5")),
    q("SELECT starts_with('duckdb', 'duck') AS s", Seq(true)),
    q("SELECT suffix('duckdb', 'db') AS s", Seq(true)),
    q("SELECT strip_accents('mühleisen') AS s", Seq("muhleisen")),
    q("SELECT to_base(42, 16) AS b", Seq("2A")),
    q("SELECT to_base64('ABC'::BLOB) AS t", Seq("QUJD")),
    q("SELECT unicode('ü') AS u", Seq(252)),
    q("SELECT ascii('A') AS a", Seq(65)),
    q("SELECT chr(65) AS c", Seq("A")),
    q("SELECT md5('abc') AS m", Seq("900150983cd24fb0d6963f7d28e17f72")),
    q("SELECT sha256('abc') AS s",
      Seq("ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")),
    q("SELECT levenshtein('kitten', 'sitting') AS l", Seq(3)),
    q("SELECT jaccard('duck', 'luck') AS j", Seq(0.6)),
    q("SELECT jaro_winkler_similarity('duck', 'duck') AS j", Seq(1.0)),
    q("SELECT format_bytes(1024) AS f", Seq("1.0 KiB")),
    // window sugar
    q("SELECT a, ntile(2) OVER (ORDER BY a) AS n FROM rb_t",
      Seq(1, 1), Seq(2, 1), Seq(3, 2)),
    q("SELECT a, cume_dist() OVER (ORDER BY a) AS c FROM rb_t",
      Seq(1, 1.0 / 3), Seq(2, 2.0 / 3), Seq(3, 1.0)),
    q("SELECT a, percent_rank() OVER (ORDER BY a) AS p FROM rb_t",
      Seq(1, 0.0), Seq(2, 0.5), Seq(3, 1.0)),
    q("SELECT a, lag(a, 1, -1) OVER (ORDER BY a) AS l FROM rb_t",
      Seq(1, -1), Seq(2, 1), Seq(3, 2)),
    q("SELECT a, lead(a) OVER (ORDER BY a) AS l FROM rb_t",
      Seq(1, 2), Seq(2, 3), Seq(3, null)),
    q("SELECT a, nth_value(a, 2) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND UNBOUNDED FOLLOWING) AS n FROM rb_t",
      Seq(1, 2), Seq(2, 2), Seq(3, 2)),
    // set ops / table functions
    q("SELECT 1 AS v UNION ALL BY NAME SELECT 2 AS v", Seq(1), Seq(2)),
    q("SELECT * FROM (VALUES (1), (2)) t(v) INTERSECT " +
      "SELECT * FROM (VALUES (2), (3)) u(v)", Seq(2)),
    q("SELECT * FROM (VALUES (1), (2)) t(v) EXCEPT ALL " +
      "SELECT * FROM (VALUES (2)) u(v)", Seq(1)),
    q("SELECT 1 AS one WHERE EXISTS (SELECT 1 FROM rb_t WHERE a = 1)", Seq(1)),
    q("SELECT a FROM rb_t WHERE a = ANY (SELECT a FROM rb_t WHERE a > 1) ORDER BY a",
      Seq(2), Seq(3)),
    q("SELECT unnest([1,2,3]) AS u", Seq(1), Seq(2), Seq(3)),
    q("SELECT generate_series(1, 5, 2) AS g", Seq(Seq(1, 3, 5))),
    q("SELECT * FROM generate_series(1, 3) t(v)", Seq(1), Seq(2), Seq(3)),
    q("SELECT * FROM range(3) t(v)", Seq(0), Seq(1), Seq(2)),
    q("SELECT a, CASE a WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'many' END AS w " +
      "FROM rb_t ORDER BY a", Seq(1, "one"), Seq(2, "two"), Seq(3, "many")),
    // list comprehensions (DuckDB sugar over list_transform/list_filter)
    q("SELECT [x + 1 FOR x IN [1, 2, 3]] AS l", Seq(Seq(2, 3, 4))),
    q("SELECT [x * 2 FOR x IN [1, 2, 3] IF x > 1] AS l", Seq(Seq(4, 6))),
    q("SELECT [upper(x) FOR x IN ['a', 'b']] AS l", Seq(Seq("A", "B"))),
    // trim family (keyword and two-arg spellings)
    q("SELECT trim(BOTH 'x' FROM 'xxhixx') AS t", Seq("hi")),
    q("SELECT trim(LEADING 'x' FROM 'xxhixx') AS t", Seq("hixx")),
    q("SELECT trim(TRAILING 'x' FROM 'xxhixx') AS t", Seq("xxhi")),
    q("SELECT trim('xxhixx', 'x') AS t", Seq("hi")),
    q("SELECT ltrim('xxhixx', 'x') AS t", Seq("hixx")),
    q("SELECT rtrim('xxhixx', 'x') AS t", Seq("xxhi")),
    // substring FROM/FOR, VARCHAR subscripts
    q("SELECT substring('hello' FROM 2 FOR 3) AS s", Seq("ell")),
    q("SELECT substring('hello' FROM 3) AS s", Seq("llo")),
    q("SELECT 'abcdef'[2] AS c", Seq("b")),
    q("SELECT 'abcdef'[2:4] AS s", Seq("bcd")),
    // intervals
    q("SELECT EXTRACT(EPOCH FROM INTERVAL 2 MINUTE) AS e", Seq(120)),
    q("SELECT TIMESTAMP '2024-03-15 10:00:00' + INTERVAL 90 MINUTE AS t",
      Seq("2024-03-15 11:30:00")),
    // bit/encoding corners
    q("SELECT bin(5) AS b", Seq("101")),
    q("SELECT octet_length('ab'::BLOB) AS o", Seq(2)),
    // recursion + prepared breadth
    q("WITH RECURSIVE f(n, v) AS (SELECT 1, 1 UNION ALL " +
      "SELECT n+1, v*(n+1) FROM f WHERE n < 5) SELECT max(v) AS fact5 FROM f",
      Seq(120)),
    s("PREPARE rc_p AS SELECT a FROM rb_t WHERE a > $1 ORDER BY a"),
    q("EXECUTE rc_p(1)", Seq(2), Seq(3)),
    // views whose bodies use the r10 COLLATE fold / percentile list
    s("CREATE VIEW rc_vc AS SELECT a FROM rb_t WHERE s COLLATE NOCASE = 'beta'"),
    q("SELECT * FROM rc_vc", Seq(2)),
    s("CREATE VIEW rc_vq AS SELECT percentile_cont([0.5]) WITHIN GROUP (ORDER BY a) AS p FROM rb_t"),
    q("SELECT * FROM rc_vq", Seq(Seq(2.0))),
    q("SELECT format('{} {}', 'a', 1) AS f", Seq("a 1")),
    q("SELECT 17 // 5 AS d", Seq(3)),
    q("SELECT @(-7) AS a", Seq(7)),
    q("SELECT 2 ** 10 AS p", Seq(1024)),
    q("SELECT 'abc' LIKE 'a%' ESCAPE '!' AS l", Seq(true)),
    q("SELECT 'a_c' LIKE 'a!_c' ESCAPE '!' AS l", Seq(true)),
    q("SELECT left('hello', -2) AS l", Seq("hel")),
    // quoted view alias containing parens (probed; the alias-list regex
    // admits double-quoted names since r10)
    s("""CREATE VIEW rv_vqa ("col(1)") AS SELECT 42"""),
    q("""SELECT "col(1)" AS c FROM rv_vqa""", Seq(42)))

  // r10 batch C: JSON paths/constructors, table macros, ALTER TABLE
  // RENAME TO (new operator), sequence currval chains, null-logic corners,
  // GROUP BY ()/ordinals, TIME/UTINYINT casts. Probed against DuckDB 1.0.
  private def corpusF: Seq[C] = Seq(
    s("CREATE TABLE rd_t (a integer, j text)"),
    s("""INSERT INTO rd_t VALUES (1, '{"k": {"n": 5}, "arr": [1,2,3]}'), """ +
      """(2, '{"k": {"n": 7}}')"""),
    q("SELECT j -> 'k' ->> 'n' AS n FROM rd_t ORDER BY a", Seq("5"), Seq("7")),
    q("SELECT json_extract(j, '$.arr[1]') AS e FROM rd_t WHERE a = 1", Seq("2")),
    q("""SELECT json_array(1, 'a', NULL) AS a""", Seq("""[1,"a",null]""")),
    q("""SELECT json_object('k', 7) AS o""", Seq("""{"k":7}""")),
    // table macro: a call in FROM position expands to a subquery
    s("CREATE MACRO rd_gt(x) AS TABLE SELECT a FROM rd_t WHERE a > x"),
    q("SELECT * FROM rd_gt(1)", Seq(2)),
    // sequence currval after two nextvals
    s("CREATE SEQUENCE rd_seq START 10 INCREMENT 5"),
    q("SELECT nextval('rd_seq') AS n", Seq(10)),
    q("SELECT nextval('rd_seq') AS n", Seq(15)),
    q("SELECT currval('rd_seq') AS c", Seq(15)),
    // ALTER TABLE ... RENAME TO (r10): constraints ride along, dependent
    // views break lazily, IF EXISTS absorbs a missing source
    s("CREATE TABLE rd_alter (x integer not null primary key, y text)"),
    s("INSERT INTO rd_alter VALUES (1, 'a')"),
    s("ALTER TABLE rd_alter RENAME TO rd_alter2"),
    q("SELECT count(*) AS n FROM rd_alter2", Seq(1)),
    s("ALTER TABLE IF EXISTS rd_nosuch RENAME TO rd_x"),
    // null-logic corners
    q("SELECT count(NULL) AS c", Seq(0)),
    q("SELECT NULL AND false AS a, NULL OR true AS o", Seq(false, true)),
    q("SELECT NULL IN (1, 2) AS i", Seq(null)),
    q("SELECT 3 NOT IN (1, NULL) AS i", Seq(null)),
    q("SELECT avg(x) AS a FROM (VALUES (1), (NULL), (3)) t(x)", Seq(2.0)),
    // grouping corners
    q("SELECT count(*) AS n FROM rd_t GROUP BY ()", Seq(2)),
    q("SELECT a % 2 AS g, count(*) AS n FROM rd_t GROUP BY 1 ORDER BY 1",
      Seq(0, 1), Seq(1, 1)),
    // casts breadth
    q("SELECT '10:30:00'::TIME AS t", Seq("10:30:00")),
    q("SELECT 65::UTINYINT AS u", Seq(65)),
    q("SELECT CAST('inf' AS DOUBLE) AS i", Seq(Double.PositiveInfinity)),
    q("SELECT '5'::INTEGER + 1 AS v", Seq(6)),
    q("SELECT string_agg(s) AS g FROM (VALUES ('foo'), ('bar')) t(s)",
      Seq("foo,bar")), // 1-arg: ',' default separator (probed)
    q("SELECT quantile_cont(a, 0.5) AS q FROM (VALUES (1), (2)) t(a)",
      Seq(1.5)))

  // r10 batch D: PIVOT breadth (multi-agg USING, IN-subset, nested
  // UNPIVOT-of-PIVOT), ON CONFLICT DO UPDATE with EXCLUDED/qualified
  // refs, INSERT DEFAULT forms, COPY option breadth, ASOF LEFT JOIN,
  // GROUP BY ALL + HAVING. Probed against DuckDB 1.0.
  private def corpusG: Seq[C] = Seq(
    s("CREATE TABLE rf_t (g text, p text, v integer)"),
    s("INSERT INTO rf_t VALUES ('a', 'x', 1), ('a', 'y', 2), ('b', 'x', 3), ('b', 'y', 4)"),
    q("PIVOT rf_t ON p USING sum(v) GROUP BY g ORDER BY g",
      Seq("a", 1, 2), Seq("b", 3, 4)),
    q("PIVOT rf_t ON p IN ('x') USING sum(v), count(*) GROUP BY g ORDER BY g",
      Seq("a", 1, 1), Seq("b", 3, 1)),
    q("SELECT * FROM (PIVOT rf_t ON p USING max(v) GROUP BY g) ORDER BY g",
      Seq("a", 1, 2), Seq("b", 3, 4)),
    q("UNPIVOT (PIVOT rf_t ON p USING sum(v) GROUP BY g) ON x, y " +
      "INTO NAME part VALUE tot ORDER BY g, part",
      Seq("a", "x", 1), Seq("a", "y", 2), Seq("b", "x", 3), Seq("b", "y", 4)),
    s("CREATE TABLE rf_c (id integer primary key, v integer)"),
    s("INSERT INTO rf_c VALUES (1, 10)"),
    // DO UPDATE arms: EXCLUDED.<col> names the incoming row, a
    // table-qualified ref names the existing one (both probed)
    s("INSERT INTO rf_c VALUES (1, 20) ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v + 1"),
    q("SELECT * FROM rf_c", Seq(1, 21)),
    s("INSERT INTO rf_c VALUES (1, 99) ON CONFLICT DO NOTHING"),
    q("SELECT v FROM rf_c", Seq(21)),
    s("INSERT INTO rf_c VALUES (2, 5) ON CONFLICT (id) DO UPDATE SET v = rf_c.v * 10"),
    q("SELECT * FROM rf_c ORDER BY id", Seq(1, 21), Seq(2, 5)),
    s("CREATE TABLE rf_d (id integer, v integer DEFAULT 7, w text DEFAULT 'dflt')"),
    s("INSERT INTO rf_d VALUES (1, DEFAULT, DEFAULT)"),
    s("INSERT INTO rf_d (id) VALUES (2)"),
    s("INSERT INTO rf_d DEFAULT VALUES"),
    q("SELECT * FROM rf_d ORDER BY id NULLS LAST",
      Seq(1, 7, "dflt"), Seq(2, 7, "dflt"), Seq(null, 7, "dflt")),
    s("COPY rf_t TO '/tmp/graft_rf_copy.csv' (FORMAT CSV, HEADER, DELIMITER ';')"),
    q("SELECT count(*) AS n FROM read_csv_auto('/tmp/graft_rf_copy.csv')", Seq(4)),
    s("COPY (SELECT g, sum(v) AS s FROM rf_t GROUP BY g) TO '/tmp/graft_rf_copy2.json'"),
    q("SELECT count(*) AS n FROM read_json_auto('/tmp/graft_rf_copy2.json')", Seq(2)),
    s("CREATE TABLE rf_px (t integer, price integer)"),
    s("INSERT INTO rf_px VALUES (10, 100), (20, 200)"),
    s("CREATE TABLE rf_ev (t integer)"),
    s("INSERT INTO rf_ev VALUES (15), (25), (5)"),
    q("SELECT e.t, p.price FROM rf_ev e ASOF LEFT JOIN rf_px p ON e.t >= p.t ORDER BY e.t",
      Seq(5, null), Seq(15, 100), Seq(25, 200)),
    C("SELECT * FROM rf_t ORDER BY ALL LIMIT 2",
      Some(Seq(Seq("a", "x", 1), Seq("a", "y", 2))), ordered = true),
    q("SELECT g, count(*) AS n FROM rf_t GROUP BY ALL HAVING count(*) > 1 ORDER BY g",
      Seq("a", 2), Seq("b", 2)),
    q("SELECT alias(v) AS a FROM (SELECT 1 AS v)", Seq("a")),
    C("VALUES (1, 'a'), (2, 'b') ORDER BY 1 DESC",
      Some(Seq(Seq(2, "b"), Seq(1, "a"))), ordered = true))

  // r11 batch: bare datetime keywords, WITHIN GROUP + FILTER, COLLATE in
  // ORDER BY / join conditions, the FULL sequence-bounds surface
  // (MINVALUE/MAXVALUE/CYCLE including the probed INCREMENT-resets-bounds
  // quirk), row/list comparisons, nested CTE shadowing, DISTINCT ON over
  // expressions, boolean cast spellings, deeper view-body shapes. Every
  // expectation probed against DuckDB 1.0.0.
  private def corpusH: Seq[C] = Seq(
    // bare (parenless) datetime keywords — DuckDB grammar; Spark needs
    // the call form, supplied by rewriteBareDatetimeKeywords
    q("SELECT typeof(localtimestamp) AS t", Seq("TIMESTAMP")),
    q("SELECT typeof(localtime) AS t", Seq("TIME")),
    q("SELECT localtimestamp >= TIMESTAMP '2020-01-01' AS ok", Seq(true)),
    // ordered-set aggregate + FILTER clause combined
    q("SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY x) " +
      "FILTER (WHERE x > 1) AS p FROM (VALUES (1),(2),(3),(4)) t(x)",
      Seq(3.0)),
    q("SELECT mode() WITHIN GROUP (ORDER BY x) FILTER (WHERE x < 3) AS m " +
      "FROM (VALUES (1),(1),(3),(3),(3)) t(x)", Seq(1)),
    // COLLATE as a sort key (with a tie-breaking second key) and inside a
    // join condition
    C("SELECT x FROM (VALUES ('b'),('A'),('a')) t(x) " +
      "ORDER BY x COLLATE NOCASE, x",
      Some(Seq(Seq("A"), Seq("a"), Seq("b"))), ordered = true),
    q("SELECT a.x, b.y FROM (VALUES ('AA')) a(x) JOIN (VALUES ('aa')) b(y) " +
      "ON a.x COLLATE NOCASE = b.y", Seq("AA", "aa")),
    // --- sequences: bounds + cycle (all probed) ---
    s("CREATE SEQUENCE rh_s1 MAXVALUE 2"),
    q("SELECT nextval('rh_s1') AS a, nextval('rh_s1') AS b", Seq(1, 2)),
    err("SELECT nextval('rh_s1') AS c", "reached maximum value"),
    s("CREATE SEQUENCE rh_s2 MAXVALUE 2 CYCLE"),
    q("SELECT nextval('rh_s2') AS a, nextval('rh_s2') AS b, " +
      "nextval('rh_s2') AS c", Seq(1, 2, 1)),
    s("CREATE SEQUENCE rh_s3 INCREMENT -1"), // descending starts at max=-1
    q("SELECT nextval('rh_s3') AS a, nextval('rh_s3') AS b", Seq(-1, -2)),
    s("CREATE SEQUENCE rh_s4 INCREMENT -1 MINVALUE -2 CYCLE"),
    q("SELECT nextval('rh_s4') AS a, nextval('rh_s4') AS b, " +
      "nextval('rh_s4') AS c", Seq(-1, -2, -1)),
    s("CREATE SEQUENCE rh_s5 MINVALUE 0"), // ascending starts at minvalue
    q("SELECT nextval('rh_s5') AS a", Seq(0)),
    // the probed DuckDB quirk: INCREMENT placed AFTER the bounds RESETS
    // them to its sign's defaults — unbounded, start 1
    s("CREATE SEQUENCE rh_s6 MINVALUE 2 MAXVALUE 4 CYCLE INCREMENT 2"),
    q("SELECT nextval('rh_s6') AS a, nextval('rh_s6') AS b, " +
      "nextval('rh_s6') AS c", Seq(1, 3, 5)),
    // ...whereas INCREMENT placed FIRST keeps the later explicit bounds
    s("CREATE SEQUENCE rh_s7 INCREMENT 2 MINVALUE 2 MAXVALUE 4 CYCLE"),
    q("SELECT nextval('rh_s7') AS a, nextval('rh_s7') AS b, " +
      "nextval('rh_s7') AS c", Seq(2, 4, 2)),
    // --- row / list comparisons ---
    q("SELECT (1, 2) = (1, 2) AS e", Seq(true)),
    q("SELECT (1, 2) < (1, 3) AS l", Seq(true)),
    q("SELECT [1,2] < [1,3] AS l", Seq(true)),
    q("SELECT 5 BETWEEN 10 AND 1 AS b", Seq(false)), // empty range → false
    // nested CTE shadowing: the inner t wins inside s
    q("WITH t AS (SELECT 1 AS x), s AS (WITH t AS (SELECT 2 AS x) " +
      "SELECT x FROM t) SELECT t.x + (SELECT x FROM s) AS v FROM t", Seq(3)),
    q("WITH RECURSIVE r(n, s) AS (SELECT 1, 'a' UNION ALL " +
      "SELECT n+1, s || 'a' FROM r WHERE n < 3) " +
      "SELECT max(length(s)) AS m FROM r", Seq(3)),
    // DISTINCT ON over expressions (not bare columns)
    C("SELECT DISTINCT ON (a % 2, a % 3) a FROM " +
      "(VALUES (1),(2),(3),(4),(6),(12)) t(a) ORDER BY a % 2, a % 3, a",
      Some(Seq(Seq(6), Seq(4), Seq(2), Seq(3), Seq(1))), ordered = true),
    // boolean cast spellings (probed matrix): case-insensitive
    // true/false/t/f and 0/1 accepted; NO whitespace trimming; everything
    // else (incl. Spark's lenient yes/no/y/n) is a Conversion Error
    q("SELECT 'f'::BOOLEAN AS a, 'T'::BOOLEAN AS b, '0'::BOOLEAN AS c, " +
      "'1'::BOOLEAN AS d", Seq(false, true, false, true)),
    q("SELECT 'TrUe'::BOOLEAN AS t", Seq(true)),
    err("SELECT ' true '::BOOLEAN AS t", "convert string"),
    err("SELECT 'yes'::BOOLEAN AS y", "convert string"),
    err("SELECT ' t '::BOOLEAN AS t", "convert string"),
    q("SELECT TRY_CAST('yes' AS BOOLEAN) AS t", Seq(null)),
    q("SELECT CAST(2 AS BOOLEAN) AS n, CAST(0 AS BOOLEAN) AS z, " +
      "CAST(2.5 AS BOOLEAN) AS d", Seq(true, false, true)),
    q("SELECT b::BOOLEAN AS v FROM (VALUES ('t'),('false')) t(b) " +
      "ORDER BY v", Seq(false), Seq(true)),
    // --- view bodies: QUALIFY, COLLATE, macro calls, subscripts,
    // strftime, 3-deep chains (all through the full dialect pipeline) ---
    s("CREATE TABLE rh_vb (a integer, s text)"),
    s("INSERT INTO rh_vb VALUES (1,'x'), (2,'y'), (3,'y')"),
    s("CREATE VIEW rh_vqual AS SELECT a, s, row_number() OVER " +
      "(PARTITION BY s ORDER BY a) AS rn FROM rh_vb QUALIFY rn = 1"),
    q("SELECT a, s FROM rh_vqual ORDER BY a", Seq(1, "x"), Seq(2, "y")),
    s("CREATE VIEW rh_vcoll AS SELECT s FROM rh_vb " +
      "WHERE s COLLATE NOCASE = 'Y'"),
    q("SELECT count(*) AS n FROM rh_vcoll", Seq(2)),
    s("CREATE VIEW rh_v1 AS SELECT a * 2 AS d FROM rh_vb"),
    s("CREATE VIEW rh_v2 AS SELECT d + 1 AS e FROM rh_v1"),
    s("CREATE VIEW rh_v3 AS SELECT sum(e) AS t FROM rh_v2"),
    q("SELECT * FROM rh_v3", Seq(15)), // three-deep view chain
    s("CREATE MACRO rh_vm(x) AS x * 10"),
    s("CREATE VIEW rh_vmac AS SELECT rh_vm(a) AS m FROM rh_vb"),
    q("SELECT max(m) AS mm FROM rh_vmac", Seq(30)),
    s("CREATE VIEW rh_vsub AS SELECT [a, a+1][2] AS z FROM rh_vb"),
    q("SELECT sum(z) AS s FROM rh_vsub", Seq(9)),
    s("CREATE VIEW rh_vstr AS SELECT strftime(DATE '2024-03-15', '%Y/%m') AS f"),
    q("SELECT * FROM rh_vstr", Seq("2024/03")),
    // --- step slices [b:e:s] (r11) — negative steps walk downward from
    // the FIRST bound; strings refuse ("not implemented" in DuckDB too) ---
    q("SELECT [1,2,3,4,5][1:5:2] AS s", Seq(Seq(1, 3, 5))),
    q("SELECT [1,2,3,4,5][4:1:-2] AS s", Seq(Seq(4, 2))),
    q("SELECT [1,2,3,4,5][:3:-1] AS s", Seq(Seq(5, 4, 3))),
    q("SELECT [1,2,3,4,5][-4:5:2] AS s", Seq(Seq(2, 4))),
    q("SELECT [1,2,3,4,5][100:1:-2] AS s", Seq(Seq(5, 3, 1))),
    q("SELECT [1,2,3,4,5][1:5:-1] AS s", Seq(Seq())),
    q("SELECT [1,2,3,4,5][5:-10:-2] AS s", Seq(Seq(5, 3, 1))),
    q("SELECT list_slice([1,2,3,4,5], 5, 1, -2) AS s", Seq(Seq(5, 3, 1))),
    q("SELECT list_slice([1,2,3,4,5], -4, -2) AS s", Seq(Seq(2, 3, 4))),
    q("SELECT [1,2,3,4,5][1:5:NULL] AS s", Seq(null)),
    err("SELECT 'hello'[1:5:2] AS s", "unresolved"), // duckdb not-implemented too
    err("SELECT [1,2,3,4,5][2::2] AS s", "syntax error"), // duckdb parser error too
    // non-foldable bounds/steps: per-row evaluation over a column
    s("CREATE TABLE rh_st (a integer)"),
    s("INSERT INTO rh_st VALUES (1), (2)"),
    q("SELECT a, [a, a+1, a+2, a+3][1:4:a] AS s FROM rh_st ORDER BY a",
      Seq(1, Seq(1, 2, 3, 4)), Seq(2, Seq(2, 4))),
    q("SELECT a, [10,20,30,40][a:4:2] AS s FROM rh_st ORDER BY a",
      Seq(1, Seq(10, 30)), Seq(2, Seq(20, 40))),
    // COLUMNS over a DERIVED-TABLE source, aggregate-wrapped (r11)
    q("SELECT min(columns(*)) FROM (SELECT 1 AS a, 2 AS b)", Seq(1, 2)),
    q("SELECT count(columns(*)) FROM (SELECT 1 AS a, NULL AS b)", Seq(1, 0)),
    q("SELECT min(columns('a|b')) FROM (SELECT 1 AS a, 2 AS b, 3 AS c)",
      Seq(1, 2)),
    // tail with parens after the derived table (a greedy regex body
    // captured through the last ')' — review finding, r11)
    q("SELECT min(columns(*)) FROM (SELECT 1 AS a) t WHERE a IN (1, 2)",
      Seq(1)),
    q("SELECT columns(*) FROM (VALUES (1, 2)) t(a, b)", Seq(1, 2)),
    // an apostrophe inside a double-quoted identifier must not flip the
    // string state of the bare-keyword rewrite (review finding, r11)
    q("SELECT \"o'x\" AS v, localtime IS NOT NULL AS lt " +
      "FROM (SELECT 1 AS \"o'x\") t", Seq(1, true)),
    // int64-edge sequences (review finding: an unchecked advance silently
    // wrapped negative). DuckDB probed: WITHOUT cycle the overflowing call
    // itself errors reached-maximum and the wrapped counter makes the next
    // call report reached-MINIMUM; WITH cycle the call returns and wraps.
    s("CREATE SEQUENCE rh_ovf START 9223372036854775807"),
    err("SELECT nextval('rh_ovf') AS v", "reached maximum value"),
    err("SELECT nextval('rh_ovf') AS v", "reached minimum value"),
    s("CREATE SEQUENCE rh_ovfc START 9223372036854775807 CYCLE"),
    q("SELECT nextval('rh_ovfc') AS a", Seq(9223372036854775807L)),
    q("SELECT nextval('rh_ovfc') AS b", Seq(1)),
    q("SELECT [1,2,3][1:3:9223372036854775807] AS s", Seq(Seq(1))),
    // FILTER over WINDOW aggregates (WHERE-less shorthand too)
    C("SELECT x, sum(x) FILTER (WHERE x > 1) OVER (ORDER BY x) AS c " +
      "FROM (VALUES (1),(2),(3)) t(x) ORDER BY x",
      Some(Seq(Seq(1, null), Seq(2, 2), Seq(3, 5))), ordered = true),
    C("SELECT x, count(*) FILTER (x > 1) OVER (ORDER BY x) AS c " +
      "FROM (VALUES (1),(2)) t(x) ORDER BY x",
      Some(Seq(Seq(1, 0), Seq(2, 1))), ordered = true),
    // SQL-standard UNPIVOT spelling (the duck INTO NAME form is pinned
    // elsewhere); bare SELECT + WHERE with no FROM; window array_agg;
    // time-valued RANGE frames with interval offsets
    C("SELECT * FROM (SELECT 1 AS a, 2 AS b) UNPIVOT (v FOR k IN (a, b)) " +
      "ORDER BY k", Some(Seq(Seq("a", 1), Seq("b", 2))), ordered = true),
    q("SELECT 1 AS x WHERE 1 = 0"),
    q("SELECT array_agg(x) OVER (PARTITION BY g) AS a " +
      "FROM (VALUES (1,'a')) t(x,g)", Seq(Seq(1))),
    C("SELECT ts, count(*) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR " +
      "PRECEDING AND CURRENT ROW) AS n FROM (VALUES " +
      "(TIMESTAMP '2024-01-01 10:00:00'),(TIMESTAMP '2024-01-01 10:30:00')," +
      "(TIMESTAMP '2024-01-01 12:00:00')) t(ts) ORDER BY ts",
      Some(Seq(Seq("2024-01-01 10:00:00", 1), Seq("2024-01-01 10:30:00", 2),
        Seq("2024-01-01 12:00:00", 1))), ordered = true))

  // r11 second batch: catalog-introspection table functions (duckdb_*,
  // pragma_* function forms), parquet metadata table functions, ndjson
  // readers, sniff_csv, and a sweep of scalar/aggregate pins that were
  // gateway-supported but never value-pinned. Every expectation probed
  // against DuckDB 1.0 (two probe sessions) before pinning.
  private def corpusI: Seq[C] = Seq(
    // --- scalar/aggregate pin sweep ---
    q("SELECT acos(0.5) AS a", Seq(1.0471975511965979)),
    q("SELECT argmin(x, y) AS a, argmax(x, y) AS b " +
      "FROM (VALUES (10, 3),(20, 1),(30, 2)) t(x,y)", Seq(20, 10)),
    q("SELECT array_append([1,2], 3) AS a, array_prepend(0, [1,2]) AS b",
      Seq(Seq(1, 2, 3), Seq(0, 1, 2))),
    q("SELECT array_cat([1],[2,3]) AS a", Seq(Seq(1, 2, 3))),
    q("SELECT list_sort(array_distinct([1,1,2,NULL])) AS a", Seq(Seq(1, 2))),
    q("SELECT list_sort(array_intersect([1,2,3],[2,3,4])) AS a",
      Seq(Seq(2, 3))),
    q("SELECT array_sort([3,1,2]) AS a", Seq(Seq(1, 2, 3))),
    q("SELECT array_transform([1,2], x -> x*2) AS a", Seq(Seq(2, 4))),
    q("SELECT epoch_us(TIMESTAMP '1970-01-01 00:00:01.5') AS u, " +
      "epoch_ns(TIMESTAMP '1970-01-01 00:00:01.5') AS n",
      Seq(1500000, 1500000000L)),
    // ClickHouse-compat renderers: *Size binary KiB, *DecimalSize SI kB
    q("SELECT formatReadableDecimalSize(123456) AS a, " +
      "formatReadableSize(123456) AS b, format_bytes(123456) AS c",
      Seq("123.4 kB", "120.5 KiB", "120.5 KiB")),
    q("SELECT formatReadableDecimalSize(999) AS a, " +
      "formatReadableDecimalSize(-123456) AS b, " +
      "formatReadableDecimalSize(999999999999) AS c",
      Seq("999 bytes", "-123.4 kB", "999.9 GB")),
    q("SELECT greatest_common_divisor(42, 57) AS g, " +
      "least_common_multiple(42, 57) AS l", Seq(3, 798)),
    q("SELECT list_first([4,5,6]) AS f, list_last([4,5,6]) AS l", Seq(4, 6)),
    q("SELECT list_indexof([10,20,30], 20) AS i", Seq(2)),
    q("SELECT list_median([1,2,10]) AS m, list_mode([1,1,2]) AS o",
      Seq(2.0, 1)),
    q("SELECT list_product([2,3,4]) AS p", Seq(24.0)),
    q("SELECT 'ABC' NOT ILIKE 'a%' AS n", Seq(false)),
    q("SELECT str_split_regex('a1b', '[0-9]') AS s", Seq(Seq("a", "b"))),
    q("SELECT DATE '2024-01-01' + to_weeks(2) AS w", Seq("2024-01-15")),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' + to_minutes(90) AS m, " +
      "TIMESTAMP '2024-01-01 00:00:00' + to_seconds(61) AS s",
      Seq("2024-01-01 01:30:00", "2024-01-01 00:01:01")),
    q("SELECT DATE '2024-01-01' + to_months(3) AS m, " +
      "DATE '2024-01-01' + to_years(2) AS y",
      Seq("2024-04-01", "2026-01-01")),
    q("SELECT hex(unhex('abcd')) AS u", Seq("ABCD")),
    q("SELECT unhex('FF') = '\\xFF'::BLOB AS e", Seq(true)),
    q("SELECT current_localtimestamp() IS NOT NULL AS a", Seq(true)),
    q("SELECT list_zip([1,2],[3,4]) AS z",
      Seq(Seq(Seq(1, 3), Seq(2, 4)))),
    q("SELECT list_select([10,20,30],[3,1]) AS s, " +
      "list_where([10,20,30],[true,false,true]) AS w",
      Seq(Seq(30, 10), Seq(10, 30))),
    q("SELECT list_grade_up([3,1,2]) AS g", Seq(Seq(2, 3, 1))),
    q("SELECT list_reduce([1,2,3], (a,b) -> a+b) AS r", Seq(6)),
    q("SELECT list_cosine_similarity([1.0,0.0],[1.0,0.0]) AS c, " +
      "list_dot_product([1.0,2.0],[3.0,4.0]) AS d", Seq(1.0, 11.0)),
    q("SELECT flatten([[1,2],[3]]) AS f", Seq(Seq(1, 2, 3))),
    q("SELECT list_resize([1,2],4,0) AS r", Seq(Seq(1, 2, 0, 0))),
    q("SELECT list_any_value([NULL, 3, NULL]) AS a", Seq(3)),
    q("SELECT struct_insert({'a': 1}, b := 2) AS s", Seq(Seq(1, 2))),
    q("SELECT struct_extract({'a': 1, 'b': 2}, 'b') AS e", Seq(2)),
    q("SELECT map_concat(map([1],[2]), map([3],[4])) AS m",
      Seq(Map(1 -> 2, 3 -> 4))),
    // element_at over a MAP returns a LIST in DuckDB (probed: [2])
    q("SELECT element_at(map([1],[2]), 1) AS e", Seq(Seq(2))),
    q("SELECT generate_subscripts([10,20,30], 1) AS s",
      Seq(1), Seq(2), Seq(3)),
    q("SELECT regexp_split_to_array('a1b22c', '[0-9]+') AS a",
      Seq(Seq("a", "b", "c"))),
    q("SELECT histogram(x) AS h FROM (VALUES (1),(1),(2)) t(x)",
      Seq(Map(1 -> 2, 2 -> 1))),
    // mad: interpolated median in BOTH passes; NULLs skipped; empty
    // group NULL; single value 0.0 (all probed)
    q("SELECT mad(x) AS m FROM (VALUES (1),(2),(3),(4)) t(x)", Seq(1.0)),
    q("SELECT mad(x) AS m FROM (VALUES (1.5),(2.0),(8.5),(9.0)) t(x)",
      Seq(3.5)),
    q("SELECT mad(x) AS m FROM (VALUES (1.0),(NULL),(9.0)) t(x)", Seq(4.0)),
    q("SELECT mad(x) AS m FROM (VALUES (CAST(NULL AS DOUBLE))) t(x)",
      Seq(null)),
    q("SELECT g, mad(x) AS m FROM (VALUES ('a',1),('a',3),('b',10)) t(g,x) " +
      "GROUP BY g ORDER BY g", Seq("a", 1.0), Seq("b", 0.0)),
    q("SELECT union_tag(union_value(num := 2)) AS t", Seq("num")),
    q("SELECT union_extract(union_value(num := 2), 'num') AS v", Seq(2)),
    q("SELECT gamma(5) AS g, factorial(5) AS f, 5! AS e", Seq(24.0, 120, 120)),
    q("SELECT even(2.1) AS e, nextafter(1.0, 2.0) AS n",
      Seq(4.0, 1.0000000000000002)),
    q("SELECT xor(5, 3) AS x", Seq(6)),
    // 0x/0b string→int casts (probed: unsigned only, TRY_CAST absorbs)
    q("SELECT '0x10'::INT AS h, '0X1F'::INT AS u, '0b101'::INT AS b",
      Seq(16, 31, 5)),
    q("SELECT TRY_CAST('0xZZ' AS INT) AS z, TRY_CAST('0x' AS INT) AS e",
      Seq(null, null)),
    err("SELECT '-0x10'::INT AS n", "neither"),
    q("SELECT date_sub('month', DATE '2024-01-15', DATE '2024-03-14') AS d",
      Seq(1)),
    q("SELECT datediff('day', DATE '2024-01-01', DATE '2024-01-05') AS d",
      Seq(4)),
    q("SELECT century(DATE '1999-03-04') AS c, dayofyear(DATE '2024-02-01') AS d",
      Seq(20, 32)),
    q("SELECT weekofyear(DATE '2024-01-15') AS w, isodow(DATE '2024-01-14') AS i",
      Seq(3, 7)),
    q("SELECT julian(DATE '2000-01-01') AS j", Seq(2451545.0)),
    q("SELECT ord('u') AS o, unicode('a') AS u", Seq(117, 97)),
    q("SELECT to_base(42, 16) AS b", Seq("2A")),
    q("SELECT bar(40, 0, 100, 10) AS b", Seq("████")),
    q("SELECT parse_dirname('/a/b/c.txt') AS d, parse_dirpath('/a/b/c.txt') AS p",
      Seq("/", "/a/b")),
    q("SELECT parse_filename('/a/b/c.txt') AS f, " +
      "parse_filename('/a/b/c.txt', true) AS g", Seq("c.txt", "c")),
    q("SELECT parse_path('/a/b/c.txt') AS p",
      Seq(Seq("/", "a", "b", "c.txt"))),
    // BIT-string functions (0-based positions, probed)
    q("SELECT get_bit('0110'::BIT, 1) AS b, bit_count('0110'::BIT) AS c",
      Seq(1, 2)),
    q("SELECT set_bit('0110'::BIT, 0, 1) AS b", Seq("1110")),
    q("SELECT bitstring('0101', 8) AS b", Seq("00000101")),
    q("SELECT base64('ab'::BLOB) AS b, from_base64('YWI=') = 'ab'::BLOB AS f",
      Seq("YWI=", true)),
    q("SELECT encode('ab') = 'ab'::BLOB AS e, decode('ab'::BLOB) AS d",
      Seq(true, "ab")),
    // blob escape decoding (probed): \xHH decodes; malformed escapes and
    // non-ascii characters are loud conversion errors in DuckDB
    q("SELECT hex('\\xFF\\x01ab'::BLOB) AS h, octet_length('\\x41'::BLOB) AS n",
      Seq("FF016162", 1)),
    err("SELECT 'a\\b'::BLOB AS x", "escape"),
    err("SELECT 'é'::BLOB AS x", "non-ascii"),
    q("SELECT hex(255) AS h, octet_length('ab'::BLOB) AS o", Seq("FF", 2)),

    // --- catalog introspection table functions (CatalogInfo) ---
    s("CREATE TABLE ci_t (a INTEGER PRIMARY KEY, b VARCHAR DEFAULT 'x', " +
      "c DOUBLE NOT NULL)"),
    q("SELECT database_name, schema_name, table_name, internal, temporary, " +
      "has_primary_key, column_count, index_count, check_constraint_count " +
      "FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq("memory", "main", "ci_t", false, false, true, 3, 1, 0)),
    q("SELECT sql FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq("CREATE TABLE ci_t(a INTEGER PRIMARY KEY, b VARCHAR DEFAULT('x'), " +
        "c DOUBLE NOT NULL);")),
    q("SELECT column_name, column_index, data_type, data_type_id, " +
      "is_nullable, column_default, numeric_precision, " +
      "numeric_precision_radix, numeric_scale FROM duckdb_columns() " +
      "WHERE table_name='ci_t' ORDER BY column_index",
      Seq("a", 1, "INTEGER", 13, false, null, 32, 2, 0),
      Seq("b", 2, "VARCHAR", 25, true, "'x'", null, null, null),
      Seq("c", 3, "DOUBLE", 23, false, null, 53, 2, 0)),
    q("SELECT constraint_type, constraint_text, constraint_column_names " +
      "FROM duckdb_constraints() WHERE table_name='ci_t' " +
      "AND constraint_type='PRIMARY KEY'",
      Seq("PRIMARY KEY", "PRIMARY KEY(a)", Seq("a"))),
    // the PK column is ALSO listed as NOT NULL, like DuckDB (probed)
    q("SELECT count(*) AS n FROM duckdb_constraints() " +
      "WHERE table_name='ci_t' AND constraint_type='NOT NULL'", Seq(2)),
    s("CREATE SEQUENCE ci_seq START 5 INCREMENT 2"),
    q("SELECT sequence_name, start_value, min_value, max_value, " +
      "increment_by, cycle, last_value FROM duckdb_sequences() " +
      "WHERE sequence_name='ci_seq'",
      Seq("ci_seq", 5, 1, 9223372036854775807L, 2, false, null)),
    q("SELECT sql FROM duckdb_sequences() WHERE sequence_name='ci_seq'",
      Seq("CREATE SEQUENCE ci_seq INCREMENT BY 2 MINVALUE 1 " +
        "MAXVALUE 9223372036854775807 START 5 NO CYCLE;")),
    q("SELECT nextval('ci_seq') AS v", Seq(5)),
    // last_value turns non-NULL after the first nextval (probed)
    q("SELECT last_value FROM duckdb_sequences() " +
      "WHERE sequence_name='ci_seq'", Seq(5)),
    s("CREATE INDEX ci_idx ON ci_t(c)"),
    q("SELECT index_name, table_name, is_unique, is_primary, sql " +
      "FROM duckdb_indexes() WHERE index_name='ci_idx'",
      Seq("ci_idx", "ci_t", false, false, "CREATE INDEX ci_idx ON ci_t(c);")),
    // index_count now counts the PK's implicit index plus ci_idx (probed)
    q("SELECT index_count FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq(2)),
    s("CREATE TYPE ci_mood AS ENUM ('sad','happy')"),
    q("SELECT type_name, logical_type, labels, internal FROM duckdb_types() " +
      "WHERE type_name='ci_mood'",
      Seq("ci_mood", "ENUM", Seq("sad", "happy"), false)),
    q("SELECT type_name, type_size, logical_type, type_category " +
      "FROM duckdb_types() WHERE type_name='hugeint'",
      Seq("hugeint", 16, "HUGEINT", "NUMERIC")),
    q("SELECT keyword_name, keyword_category FROM duckdb_keywords() " +
      "WHERE keyword_name IN ('select','qualify','asof') " +
      "ORDER BY keyword_name",
      Seq("asof", "type_function"), Seq("qualify", "reserved"),
      Seq("select", "reserved")),
    q("SELECT count(*) AS n FROM duckdb_keywords()", Seq(479)),
    q("SELECT schema_name FROM duckdb_schemas() WHERE database_name='memory'",
      Seq("main")),
    q("SELECT database_name, readonly FROM duckdb_databases()",
      Seq("memory", false)),
    s("CREATE VIEW ci_v AS SELECT a, b FROM ci_t"),
    q("SELECT view_name, column_count, sql FROM duckdb_views() " +
      "WHERE view_name='ci_v'",
      Seq("ci_v", 2, "CREATE VIEW ci_v AS SELECT a, b FROM ci_t;")),
    // ALTER VIEW RENAME: registry rename, comment travels, old name gone
    s("CREATE VIEW ci_avr AS SELECT a FROM ci_t"),
    s("COMMENT ON VIEW ci_avr IS 'renamed view'"),
    s("ALTER VIEW ci_avr RENAME TO ci_avr2"),
    q("SELECT view_name, comment FROM duckdb_views() " +
      "WHERE view_name='ci_avr2'", Seq("ci_avr2", "renamed view")),
    q("SELECT count(*) AS n FROM duckdb_views() WHERE view_name='ci_avr'",
      Seq(0)),
    err("ALTER VIEW ci_missing RENAME TO x", "does not exist"),
    err("ALTER VIEW ci_t RENAME TO nope", "ALTER TABLE"),
    s("ALTER VIEW IF EXISTS ci_missing RENAME TO x"),
    s("DROP VIEW ci_avr2"),
    s("SET threads TO 4"),
    q("SELECT value, input_type, scope FROM duckdb_settings() " +
      "WHERE name='threads'", Seq("4", "BIGINT", "GLOBAL")),
    q("SELECT cid, name, type, \"notnull\", pk FROM pragma_table_info('ci_t') " +
      "ORDER BY cid",
      Seq(0, "a", "INTEGER", true, true), Seq(1, "b", "VARCHAR", false, false),
      Seq(2, "c", "DOUBLE", true, false)),
    // COMMENT ON (probed: missing target errors; IS NULL clears; VIEW is
    // lax about table targets)
    s("COMMENT ON TABLE ci_t IS 'a table'"),
    s("COMMENT ON COLUMN ci_t.a IS 'a col'"),
    s("COMMENT ON VIEW ci_v IS 'a view'"),
    s("COMMENT ON INDEX ci_idx IS 'an index'"),
    q("SELECT comment FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq("a table")),
    q("SELECT comment FROM duckdb_columns() WHERE table_name='ci_t' " +
      "AND column_name='a'", Seq("a col")),
    q("SELECT comment FROM duckdb_views() WHERE view_name='ci_v'",
      Seq("a view")),
    q("SELECT comment FROM duckdb_indexes() WHERE index_name='ci_idx'",
      Seq("an index")),
    err("COMMENT ON TABLE ci_missing IS 'x'", "does not exist"),
    s("COMMENT ON TABLE ci_t IS NULL"),
    q("SELECT comment FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq(null)),
    // COMMENT is a catalog op: it rolls back with the transaction (probed)
    s("BEGIN"),
    s("COMMENT ON TABLE ci_t IS 'oops'"),
    s("ROLLBACK"),
    q("SELECT comment FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq(null)),
    // a comment survives ALTER RENAME onto the new name (probed), and a
    // later table under the OLD name starts comment-free
    s("COMMENT ON TABLE ci_t IS 'kept'"),
    s("ALTER TABLE ci_t RENAME TO ci_t2"),
    q("SELECT comment FROM duckdb_tables() WHERE table_name='ci_t2'",
      Seq("kept")),
    s("CREATE TABLE ci_t (a INTEGER PRIMARY KEY, b VARCHAR DEFAULT 'x', " +
      "c DOUBLE NOT NULL)"),
    q("SELECT comment FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq(null)),
    s("DROP TABLE ci_t2"),
    // arguments on the no-arg catalog functions are binder errors (probed)
    err("SELECT * FROM duckdb_tables('bogus')", "argument"),
    err("SELECT * FROM pragma_version('x')", "argument"),
    // temp tables: session-scoped in DuckDB = regular tables in this
    // one-session gateway, plus the catalog flag; DuckDB's own EXPORT
    // writes them as plain CREATE TABLE (probed)
    s("CREATE TEMP TABLE ci_tt AS SELECT 42 AS x"),
    q("SELECT temporary FROM duckdb_tables() WHERE table_name='ci_tt'",
      Seq(true)),
    q("SELECT temporary FROM duckdb_tables() WHERE table_name='ci_t'",
      Seq(false)),
    q("SELECT * FROM ci_tt", Seq(42)),
    s("CREATE TEMPORARY TABLE ci_tt2(a INTEGER)"),
    s("INSERT INTO ci_tt2 VALUES (1)"),
    q("SELECT a FROM ci_tt2", Seq(1)),
    // an IF NOT EXISTS no-op must not rewrite the temp flag
    s("CREATE TABLE IF NOT EXISTS ci_tt(x INTEGER)"),
    q("SELECT temporary FROM duckdb_tables() WHERE table_name='ci_tt'",
      Seq(true)),
    // DuckDB's CTAS grammar admits only query forms (probed: SHOW/PRAGMA/
    // DML bodies are parser errors; TABLE t is fine)
    err("CREATE TABLE ci_bad AS SHOW TABLES", "syntax error"),
    s("CREATE TABLE ci_tbl AS TABLE ci_tt"),
    q("SELECT * FROM ci_tbl", Seq(42)),
    s("DROP TABLE ci_tbl"),
    s("USE memory"), s("USE memory.main"),
    err("USE nosuch", "No catalog"),
    // SET col = DEFAULT takes the declared default / NULL (probed)
    s("CREATE TABLE ci_du(a INTEGER DEFAULT 7, b VARCHAR)"),
    s("INSERT INTO ci_du VALUES (1, 'x')"),
    s("UPDATE ci_du SET a = DEFAULT"),
    q("SELECT a, b FROM ci_du", Seq(7, "x")),
    s("UPDATE ci_du SET b = DEFAULT"),
    q("SELECT a, b FROM ci_du", Seq(7, null)),
    s("DROP TABLE ci_du"),
    // ::JSON / CAST(x AS JSON): VARCHAR validates and passes VERBATIM
    // (spaces kept), anything else renders compact; malformed strings
    // error (NULL under TRY_CAST) — all probed
    q("SELECT 1::JSON AS a, true::JSON AS b, 1.5::JSON AS g",
      Seq("1", "true", "1.5")),
    q("SELECT '{\"a\":  1}'::JSON AS d", Seq("{\"a\":  1}")),
    q("SELECT TRY_CAST('hi' AS JSON) AS i", Seq(null)),
    err("SELECT 'hi'::JSON AS c", "Malformed JSON"),
    q("SELECT [1,2]::JSON AS f", Seq("[1,2]")),
    q("SELECT CAST({'a': 1} AS JSON) AS h", Seq("{\"a\":1}")),
    q("SELECT {'a': [1,2], 'b': {'c': 'x'}}::JSON AS j",
      Seq("{\"a\":[1,2],\"b\":{\"c\":\"x\"}}")),
    q("SELECT DATE '2024-01-01'::JSON AS k", Seq("\"2024-01-01\"")),
    q("SELECT TIMESTAMP '2024-01-01 10:20:30'::JSON AS t",
      Seq("\"2024-01-01 10:20:30\"")),
    q("SELECT NULL::JSON AS e", Seq(null)),
    q("SELECT col->>'b' AS x FROM (SELECT '{\"b\": 7}'::JSON AS col)",
      Seq("7")),
    q("SELECT '1'::VARCHAR::JSON AS c", Seq("1")), // chained-cast operand
    q("SELECT t.c::JSON AS j FROM (SELECT '{\"x\":1}' AS c) t",
      Seq("{\"x\":1}")),
    // strict validation (probed: empty and trailing-garbage inputs are
    // Conversion Errors), exotic doubles render bare/plain, nested casts
    err("SELECT ''::JSON AS e", "Malformed JSON"),
    err("SELECT '{\"a\":1} xyz'::JSON AS t", "Malformed JSON"),
    q("SELECT ('inf'::DOUBLE)::JSON AS i, TRY_CAST('nan'::DOUBLE AS JSON) AS n",
      Seq("Infinity", "NaN")),
    q("SELECT (1e20)::JSON AS e, 2.0::DOUBLE::JSON AS w",
      Seq("100000000000000000000.0", "2.0")),
    q("SELECT {'a': 'inf'::DOUBLE}::JSON AS j", Seq("{\"a\":Infinity}")),
    q("SELECT TIMESTAMP '2024-01-01 10:20:30.5'::JSON AS t",
      Seq("\"2024-01-01 10:20:30.5\"")),
    q("SELECT json_extract(c::JSON, 'a')::JSON AS nested " +
      "FROM (SELECT '{\"a\": {\"b\": 1}}' AS c)", Seq("{\"b\":1}")),
    // field-checked clock intervals refuse out-of-range parts like DuckDB
    err("SELECT INTERVAL '0:90' AS bad", "minute"),
    // clock-spelled interval strings (probed: '1:02:03' is H:M:S,
    // '1:02' is H:M)
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1:02:03' AS t",
      Seq("2024-01-01 01:02:03")),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1:02' AS m",
      Seq("2024-01-01 01:02:00")),
    // multi-column PIVOT: the CROSS PRODUCT of each ON column's distinct
    // values, '_'-joined names, unobserved combos as NULL columns; rows
    // with NULL in an ON column are DROPPED; column order is LEXICAL even
    // for numeric ON values; IN applies to the LAST ON column (all probed)
    s("CREATE TABLE ci_pv(g VARCHAR, c VARCHAR, v INTEGER)"),
    s("INSERT INTO ci_pv VALUES ('a','x',1),('a','y',2),('b','x',3)," +
      "(NULL,'x',5)"),
    C("PIVOT ci_pv ON c, g USING sum(v)",
      Some(Seq(Seq(1, 3, 2, null))), ordered = true),
    C("PIVOT ci_pv ON g, c IN ('x') USING sum(v)",
      Some(Seq(Seq(1, 3))), ordered = true),
    C("PIVOT ci_pv ON c IN ('x') USING sum(v), count(*) GROUP BY g " +
      "ORDER BY g NULLS LAST",
      Some(Seq(Seq("a", 1, 1), Seq("b", 3, 1), Seq(null, 5, 1))),
      ordered = true),
    s("DROP TABLE ci_pv"),
    s("CREATE TABLE ci_pvn(n INTEGER, c VARCHAR, v INTEGER)"),
    s("INSERT INTO ci_pvn VALUES (2,'x',1),(10,'x',3)"),
    C("PIVOT ci_pvn ON n, c USING sum(v)", // lexical: 10_x before 2_x
      Some(Seq(Seq(3, 1))), ordered = true),
    s("DROP TABLE ci_pvn"),
    // SHOW ALL TABLES (duck's 6-column shape), CTAS WITH NO DATA,
    // parenthesized DESCRIBE as a derived table, DROP COLUMN IF EXISTS
    // no-op (all probed)
    s("CREATE TABLE ci_sh(a INTEGER, b VARCHAR)"),
    s("INSERT INTO ci_sh VALUES (1,'x')"),
    q("SELECT database, schema, name, column_names, column_types, " +
      "temporary FROM (SHOW ALL TABLES) WHERE name='ci_sh'",
      Seq("memory", "main", "ci_sh", Seq("a", "b"),
        Seq("INTEGER", "VARCHAR"), false)),
    s("CREATE TABLE ci_nd AS SELECT * FROM ci_sh WITH NO DATA"),
    q("SELECT count(*) AS n FROM ci_nd", Seq(0)),
    q("SELECT column_name, column_type FROM (DESCRIBE ci_sh) ORDER BY 1",
      Seq("a", "INTEGER"), Seq("b", "VARCHAR")),
    s("ALTER TABLE ci_sh DROP COLUMN IF EXISTS missing"),
    q("SELECT a, b FROM ci_sh", Seq(1, "x")),
    s("DROP TABLE ci_sh"), s("DROP TABLE ci_nd"),
    // CREATE OR REPLACE SEQUENCE resets the counter (probed)
    s("CREATE OR REPLACE SEQUENCE ci_rs START 3"),
    q("SELECT nextval('ci_rs') AS v", Seq(3)),
    s("CREATE OR REPLACE SEQUENCE ci_rs START 9"),
    q("SELECT nextval('ci_rs') AS v", Seq(9)),
    s("DROP SEQUENCE ci_rs"),
    // already-working corners, value-pinned (probed)
    q("SELECT '2024-01-01'::DATE + 1 AS d", Seq("2024-01-02")),
    q("SELECT if(1 > 0, 'y', 'n') AS i", Seq("y")),
    q("SELECT 3 IN (SELECT unnest([1,2,3])) AS i", Seq(true)),
    q("SELECT position('lo' IN 'hello') AS p", Seq(4)),
    // multiple unnests in one SELECT zip to the longest list, NULL-padded;
    // a NULL list pads without shrinking the row count; scalars repeat
    // (all probed — rewriteMultiUnnest)
    C("SELECT unnest([1,2]) AS a, unnest(['a','b','c']) AS b",
      Some(Seq(Seq(1, "a"), Seq(2, "b"), Seq(null, "c"))), ordered = true),
    C("SELECT unnest([1,2]) AS a, unnest(CAST(NULL AS INT[])) AS b",
      Some(Seq(Seq(1, null), Seq(2, null))), ordered = true),
    C("SELECT 9 AS s, unnest([1,2]) AS a, unnest([7,8]) AS b",
      Some(Seq(Seq(9, 1, 7), Seq(9, 2, 8))), ordered = true),
    C("SELECT g, unnest(l1) AS a, unnest(l2) AS b FROM " +
      "(VALUES ('r1',[1,2],[10]),('r2',[3],[30,40])) t(g,l1,l2) " +
      "ORDER BY g, a NULLS LAST",
      Some(Seq(Seq("r1", 1, 10), Seq("r1", 2, null),
        Seq("r2", 3, 30), Seq("r2", null, 40))), ordered = true),
    q("SELECT unnest([]::INT[]) AS a, unnest([1]) AS b", Seq(null, 1)),
    // FROM-first bodies inside CTAS / INSERT (DuckDB's SELECT-* sugar)
    s("CREATE TABLE ci_sel AS FROM ci_tt"),
    q("SELECT * FROM ci_sel", Seq(42)),
    q("SELECT estimated_size FROM duckdb_tables() WHERE table_name='ci_sel'",
      Seq(1)),
    s("INSERT INTO ci_sel FROM ci_tt"),
    q("SELECT count(*) AS n FROM ci_sel", Seq(2)),
    s("DROP TABLE ci_sel"),
    s("DROP TABLE ci_tt"), s("DROP TABLE ci_tt2"),
    s("DROP VIEW ci_v"), s("DROP TABLE ci_t"), s("DROP SEQUENCE ci_seq"),

    // --- parquet metadata table functions (ParquetMeta) — over the
    //     driver-contract testdata file (region: 5 rows, 2 columns) ---
    q("SELECT name, type, repetition_type, num_children, converted_type " +
      "FROM parquet_schema('/root/testdata/sf0.001/region.parquet')",
      Seq("schema", null, "REQUIRED", 2, null),
      Seq("r_regionkey", "INT32", "OPTIONAL", null, null),
      Seq("r_name", "BYTE_ARRAY", "OPTIONAL", null, "UTF8")),
    // legacy stats_min is populated only for signed-comparable physical
    // types; min_value/max_value always (probed: both engines read the
    // same footer)
    q("SELECT row_group_id, row_group_num_rows, column_id, num_values, " +
      "path_in_schema, type, stats_min, stats_min_value, stats_max_value, " +
      "stats_null_count FROM " +
      "parquet_metadata('/root/testdata/sf0.001/region.parquet') " +
      "ORDER BY column_id",
      Seq(0, 5, 0, 5, "r_regionkey", "INT32", "0", "0", "4", 0),
      Seq(0, 5, 1, 5, "r_name", "BYTE_ARRAY", null, "AFRICA", "MIDDLE EAST", 0)),
    q("SELECT num_rows, num_row_groups FROM " +
      "parquet_file_metadata('/root/testdata/sf0.001/region.parquet')",
      Seq(5, 1)),
    q("SELECT decode(key) AS k FROM " +
      "parquet_kv_metadata('/root/testdata/sf0.001/region.parquet') " +
      "ORDER BY k", Seq("ARROW:schema"), Seq("pandas")),
    q("SELECT count(*) AS n FROM " +
      "parquet_scan('/root/testdata/sf0.001/region.parquet')", Seq(5)),
    q("SELECT * FROM glob('/root/testdata/sf0.001/r*.parquet')",
      Seq("/root/testdata/sf0.001/region.parquet")),

    // --- ndjson readers + sniff_csv (fixtures written below) ---
    q("SELECT * FROM read_ndjson('/tmp/graft_corpus_nd.json') ORDER BY a",
      Seq(1, "x"), Seq(2, "y")),
    q("SELECT * FROM read_ndjson_auto('/tmp/graft_corpus_nd.json') ORDER BY a",
      Seq(1, "x"), Seq(2, "y")),
    C("SELECT * FROM read_ndjson_objects('/tmp/graft_corpus_nd.json')",
      Some(Seq(Seq("""{"a": 1, "b": "x"}"""), Seq("""{"a": 2, "b": "y"}"""))),
      ordered = true),
    C("SELECT * FROM read_json_objects_auto('/tmp/graft_corpus_nd.json')",
      Some(Seq(Seq("""{"a": 1, "b": "x"}"""), Seq("""{"a": 2, "b": "y"}"""))),
      ordered = true),
    // read_json_objects defaults format='array' in DuckDB 1.0 and errors
    // on ndjson input (probed); here array input refuses too
    err("SELECT * FROM read_json_objects('/tmp/graft_corpus_nd.json')",
      "array"),
    q("SELECT Delimiter, Quote, Escape, NewLineDelimiter, SkipRows, " +
      "HasHeader, Columns, Prompt FROM sniff_csv('/tmp/graft_corpus_sniff.csv')",
      Seq(";", "\"", "\"", "\\n", 0, true,
        Seq(Seq("a", "BIGINT"), Seq("b", "VARCHAR"), Seq("c", "DOUBLE")),
        "FROM read_csv('/tmp/graft_corpus_sniff.csv', auto_detect=false, " +
          "delim=';', quote='\"', escape='\"', new_line='\\n', skip=0, " +
          "header=true, columns={'a': 'BIGINT', 'b': 'VARCHAR', " +
          "'c': 'DOUBLE'});")))

  // fixtures for the ndjson / sniff_csv entries above
  java.nio.file.Files.write(
    java.nio.file.Paths.get("/tmp/graft_corpus_nd.json"),
    "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n".getBytes("UTF-8"))
  java.nio.file.Files.write(
    java.nio.file.Paths.get("/tmp/graft_corpus_sniff.csv"),
    "a;b;c\n1;x;2.5\n2;y;3.5\n".getBytes("UTF-8"))

  // --- r12 batch: introspection combos (the functions are real tables —
  // join them, filter them, aggregate them), duckdb_functions/extensions/
  // memory/settings, view-shape pinning ("Contents of view were altered",
  // probed both engines), quantified list comparisons (ANY/ALL/SOME),
  // DESCRIBE/SHOW over every object class. All probed vs DuckDB 1.0.
  private def corpusJ: Seq[C] = Seq(
    // state the batch's pins read
    s("CREATE TABLE r12i (a integer PRIMARY KEY, b text NOT NULL, c double)"),
    s("CREATE TABLE r12j (x integer, y text)"),
    s("CREATE VIEW r12v AS SELECT a, b FROM r12i"),
    s("CREATE VIEW r12v2 AS SELECT a FROM r12v WHERE a > 0"),
    s("CREATE VIEW r12v3 AS SELECT * FROM r12v2"),
    s("CREATE MACRO r12m(p, q) AS p + q"),
    s("CREATE SEQUENCE r12s START 5"),
    s("CREATE INDEX r12x ON r12j (x)"),
    s("COMMENT ON TABLE r12i IS 'main fact'"),
    s("COMMENT ON COLUMN r12i.a IS 'pk col'"),
    s("INSERT INTO r12i VALUES (1,'u',0.5),(2,'v',1.5)"),
    // duckdb_functions(): the registered surface, DuckDB's row shape
    q("SELECT function_name, function_type, parameters, macro_definition " +
      "FROM duckdb_functions() WHERE function_name = 'r12m'",
      Seq("r12m", "macro", Seq("p", "q"), "(p + q)")),
    q("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'sum'", Seq("aggregate")),
    q("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'abs'", Seq("scalar")),
    q("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'count'", Seq("aggregate")),
    q("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'read_parquet'", Seq("table")),
    q("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'duckdb_tables'", Seq("table")),
    q("SELECT DISTINCT internal FROM duckdb_functions() " +
      "WHERE function_name = 'abs'", Seq(true)),
    q("SELECT count(*) > 100 AS many FROM duckdb_functions()", Seq(true)),
    q("SELECT count(DISTINCT function_name) > 0 AS some FROM " +
      "duckdb_functions() WHERE function_type = 'aggregate'", Seq(true)),
    // duckdb_extensions(): capability probes a reference client would run
    q("SELECT loaded, installed FROM duckdb_extensions() " +
      "WHERE extension_name = 'parquet'", Seq(true, true)),
    q("SELECT loaded, installed FROM duckdb_extensions() " +
      "WHERE extension_name = 'json'", Seq(true, true)),
    q("SELECT loaded FROM duckdb_extensions() WHERE extension_name = 'icu'",
      Seq(true)),
    q("SELECT install_mode FROM duckdb_extensions() " +
      "WHERE extension_name = 'parquet' AND loaded", Seq("STATICALLY_LINKED")),
    q("SELECT loaded FROM duckdb_extensions() WHERE extension_name = 'spatial'",
      Seq(false)),
    q("SELECT loaded FROM duckdb_extensions() WHERE extension_name = 'aws'",
      Seq(false)),
    q("SELECT aliases FROM duckdb_extensions() WHERE extension_name = 'httpfs'",
      Seq(Seq("http", "https", "s3"))),
    q("SELECT aliases FROM duckdb_extensions() " +
      "WHERE extension_name = 'sqlite_scanner'", Seq(Seq("sqlite", "sqlite3"))),
    q("SELECT extension_name FROM duckdb_extensions() WHERE 's3' = ANY(aliases)",
      Seq("httpfs")),
    q("SELECT count(*) AS n FROM duckdb_extensions() WHERE extension_name " +
      "IN ('parquet','json','icu') AND loaded", Seq(3)),
    // duckdb_memory() / duckdb_temporary_files() / duckdb_settings()
    q("SELECT count(*) AS n FROM duckdb_memory()", Seq(12)),
    q("SELECT count(*) AS n FROM duckdb_memory() WHERE tag = 'ALLOCATOR'", Seq(1)),
    q("SELECT tag FROM duckdb_memory() WHERE tag LIKE 'HASH%'", Seq("HASH_TABLE")),
    q("SELECT count(*) AS n FROM duckdb_temporary_files() WHERE size < 0", Seq(0)),
    q("SELECT name, input_type, scope FROM duckdb_settings() " +
      "WHERE name = 'threads'", Seq("threads", "BIGINT", "GLOBAL")),
    q("SELECT count(*) AS n FROM duckdb_settings() WHERE name = 'memory_limit'",
      Seq(1)),
    q("SELECT input_type FROM duckdb_settings() WHERE name = 'memory_limit'",
      Seq("VARCHAR")),
    // introspection functions are TABLES: join/filter/aggregate them
    q("SELECT t.table_name, count(*) AS cols FROM duckdb_tables() t JOIN " +
      "duckdb_columns() c ON t.table_name = c.table_name WHERE t.table_name " +
      "IN ('r12i','r12j') GROUP BY 1 ORDER BY 1",
      Seq("r12i", 3), Seq("r12j", 2)),
    q("SELECT c.column_name FROM duckdb_columns() c JOIN duckdb_tables() t " +
      "ON c.table_name = t.table_name WHERE t.has_primary_key AND " +
      "t.table_name = 'r12i' ORDER BY c.column_index",
      Seq("a"), Seq("b"), Seq("c")),
    q("SELECT table_name, column_name FROM duckdb_columns() " +
      "WHERE table_name = 'r12v' ORDER BY column_index",
      Seq("r12v", "a"), Seq("r12v", "b")),
    q("SELECT count(*) AS n FROM duckdb_constraints() WHERE table_name = " +
      "'r12i' AND constraint_type = 'PRIMARY KEY'", Seq(1)),
    q("SELECT constraint_column_names FROM duckdb_constraints() WHERE " +
      "table_name = 'r12i' AND constraint_type = 'PRIMARY KEY'",
      Seq(Seq("a"))),
    q("SELECT t.table_name FROM duckdb_tables() t WHERE EXISTS (SELECT 1 " +
      "FROM duckdb_constraints() k WHERE k.table_name = t.table_name AND " +
      "k.constraint_type = 'PRIMARY KEY') AND t.table_name LIKE 'r12%' " +
      "ORDER BY 1", Seq("r12i")),
    q("SELECT v.view_name FROM duckdb_views() v WHERE v.view_name LIKE " +
      "'r12%' ORDER BY 1", Seq("r12v"), Seq("r12v2"), Seq("r12v3")),
    q("SELECT view_name, column_count FROM duckdb_views() " +
      "WHERE view_name = 'r12v2'", Seq("r12v2", 1)),
    q("SELECT s.sequence_name, s.start_value FROM duckdb_sequences() s " +
      "WHERE sequence_name = 'r12s'", Seq("r12s", 5)),
    q("SELECT i.index_name, i.table_name, i.is_unique FROM duckdb_indexes() " +
      "i WHERE index_name = 'r12x'", Seq("r12x", "r12j", false)),
    q("SELECT comment FROM duckdb_tables() WHERE table_name = 'r12i'",
      Seq("main fact")),
    q("SELECT comment FROM duckdb_columns() WHERE table_name = 'r12i' AND " +
      "column_name = 'a'", Seq("pk col")),
    q("WITH pks AS (SELECT table_name FROM duckdb_constraints() WHERE " +
      "constraint_type = 'PRIMARY KEY') SELECT count(*) AS n FROM pks " +
      "WHERE table_name = 'r12i'", Seq(1)),
    q("SELECT data_type, count(*) AS n FROM duckdb_columns() WHERE " +
      "table_name = 'r12i' GROUP BY 1 ORDER BY 1",
      Seq("DOUBLE", 1), Seq("INTEGER", 1), Seq("VARCHAR", 1)),
    q("SELECT max(estimated_size) AS m FROM duckdb_tables() " +
      "WHERE table_name = 'r12i'", Seq(2)),
    q("SELECT keyword_category FROM duckdb_keywords() " +
      "WHERE keyword_name = 'select'", Seq("reserved")),
    q("SELECT count(*) AS n FROM duckdb_keywords() WHERE keyword_category " +
      "= 'reserved' AND keyword_name IN ('select','from','where')", Seq(3)),
    q("SELECT DISTINCT type_category FROM duckdb_types() " +
      "WHERE type_name = 'integer'", Seq("NUMERIC")),
    q("SELECT name, pk FROM pragma_table_info('r12i') WHERE pk ORDER BY cid",
      Seq("a", true)),
    q("SELECT p.name FROM pragma_table_info('r12i') p JOIN duckdb_columns() " +
      "c ON p.name = c.column_name AND c.table_name = 'r12i' WHERE " +
      "c.is_nullable = false ORDER BY 1", Seq("a"), Seq("b")),
    // PIVOT/UNPIVOT over introspection sources
    q("UNPIVOT (SELECT tag, 0 AS mem_b, 0 AS tmp_b FROM duckdb_memory() " +
      "WHERE tag = 'ALLOCATOR') ON mem_b, tmp_b INTO NAME metric VALUE v",
      Seq("ALLOCATOR", "mem_b", 0), Seq("ALLOCATOR", "tmp_b", 0)),
    q("SELECT * FROM (SELECT tag FROM duckdb_memory() WHERE tag IN " +
      "('HASH_TABLE','METADATA')) PIVOT (count(*) FOR tag IN " +
      "('HASH_TABLE', 'METADATA'))", Seq(1, 1)),
    q("UNPIVOT (SELECT table_name, column_count, index_count FROM " +
      "duckdb_tables() WHERE table_name = 'r12i') ON column_count, " +
      "index_count INTO NAME k VALUE v",
      Seq("r12i", "column_count", 3), Seq("r12i", "index_count", 1)),
    // DESCRIBE / SHOW over every object class
    q("DESCRIBE r12v", Seq("a", "INTEGER", "YES", null, null, null),
      Seq("b", "VARCHAR", "YES", null, null, null)),
    q("DESCRIBE r12v3", Seq("a", "INTEGER", "YES", null, null, null)),
    q("DESCRIBE SELECT tag FROM duckdb_memory()",
      Seq("tag", "VARCHAR", "YES", null, null, null)),
    q("SHOW r12i", Seq("a", "INTEGER", "NO", "PRI", null, null),
      Seq("b", "VARCHAR", "NO", null, null, null),
      Seq("c", "DOUBLE", "YES", null, null, null)),
    q("SHOW r12v", Seq("a", "INTEGER", "YES", null, null, null),
      Seq("b", "VARCHAR", "YES", null, null, null)),
    // view-on-view chains; shape pinned at creation (DuckDB: re-binds
    // that drift refuse with "Contents of view were altered" — probed)
    q("SELECT * FROM r12v3 ORDER BY a", Seq(1), Seq(2)),
    q("SELECT count(*) AS n FROM r12v2", Seq(2)),
    s("CREATE OR REPLACE VIEW r12v2 AS SELECT a, a * 10 AS a10 FROM r12v"),
    err("SELECT * FROM r12v3 ORDER BY a", "Contents of view were altered"),
    q("SELECT view_name, column_count FROM duckdb_views() " +
      "WHERE view_name = 'r12v2'", Seq("r12v2", 2)),
    s("ALTER VIEW r12v3 RENAME TO r12v3r"),
    err("SELECT count(*) AS n FROM r12v3r", "Contents of view were altered"),
    s("COMMENT ON VIEW r12v IS 'base view'"),
    q("SELECT comment FROM duckdb_views() WHERE view_name = 'r12v'",
      Seq("base view")),
    s("CREATE VIEW r12v4 AS SELECT r12m(a, a10) AS m FROM r12v2"),
    q("SELECT * FROM r12v4 ORDER BY m", Seq(11), Seq(22)),
    s("DROP VIEW r12v4"),
    s("DROP VIEW r12v3r"),
    s("CREATE VIEW r12meta AS SELECT table_name, column_count FROM " +
      "duckdb_tables() WHERE table_name LIKE 'r12%'"),
    q("SELECT * FROM r12meta ORDER BY table_name",
      Seq("r12i", 3), Seq("r12j", 2)),
    s("DROP VIEW r12meta"),
    q("SELECT * FROM r12v2 ORDER BY a", Seq(1, 10), Seq(2, 20)),
    // a view over an ALTERed base: DuckDB's creation-shape pin (probed:
    // added column reports types, renamed column reports names)
    s("CREATE TABLE r12alt (a integer, b text)"),
    s("CREATE VIEW r12altv AS SELECT * FROM r12alt"),
    s("ALTER TABLE r12alt ADD COLUMN c double"),
    err("SELECT * FROM r12altv", "types don't match"),
    s("DROP VIEW r12altv"),
    s("CREATE VIEW r12altv2 AS SELECT * FROM r12alt"),
    s("ALTER TABLE r12alt RENAME COLUMN a TO a2"),
    err("SELECT * FROM r12altv2", "names don't match"),
    s("DROP VIEW r12altv2"),
    s("DROP TABLE r12alt"),
    // quantified LIST comparisons (ANY/ALL/SOME over a list value)
    q("SELECT 2 = ANY([1, 2]) AS a", Seq(true)),
    q("SELECT 3 = ANY([1, 2]) AS a", Seq(false)),
    q("SELECT 3 = ANY([1, NULL]) AS a", Seq(null)),
    q("SELECT NULL = ANY([1, 2]) AS a", Seq(null)),
    q("SELECT 1 = ANY([1, NULL]) AS a", Seq(true)),
    q("SELECT 3 <> ALL([1, 2]) AS a", Seq(true)),
    q("SELECT 2 <> ALL([1, 2]) AS a", Seq(false)),
    q("SELECT 3 > ANY([1, 5]) AS a", Seq(true)),
    q("SELECT 6 > ALL([1, 5]) AS a", Seq(true)),
    q("SELECT 3 = ANY([]::INT[]) AS a", Seq(false)),
    q("SELECT 3 <> ALL([]::INT[]) AS a", Seq(true)),
    q("SELECT 2 == ANY([1,2]) AS a", Seq(true)),
    q("SELECT 3 = SOME([1, 3]) AS a", Seq(true)),
    q("SELECT 3 = ANY(NULL) AS a", Seq(false)),
    q("SELECT 3 <> ALL(NULL) AS a", Seq(true)),
    q("SELECT 3 <> ALL([1, NULL]) AS a", Seq(null)),
    q("SELECT 1 <> ALL([1, NULL]) AS a", Seq(false)),
    q("SELECT x FROM (VALUES (1),(2),(3)) t(x) WHERE x = ANY([1, 3]) ORDER BY 1",
      Seq(1), Seq(3)),
    // quantified SUBQUERY forms: = ANY(q) IS IN (q), <> ALL(q) IS NOT IN
    q("SELECT 2 = ANY(SELECT x FROM (VALUES (0),(1),(2)) t(x)) AS a", Seq(true)),
    q("SELECT 5 = ANY(SELECT x FROM (VALUES (0),(1),(2)) t(x)) AS a", Seq(false)),
    q("SELECT 5 <> ALL(SELECT x FROM (VALUES (0),(1),(2)) t(x)) AS a", Seq(true)),
    q("SELECT 2 <> ALL(SELECT x FROM (VALUES (0),(1),(2)) t(x)) AS a", Seq(false)),
    q("SELECT NULL = ANY(SELECT x FROM (VALUES (0),(1),(2)) t(x)) AS a", Seq(null)),
    q("SELECT 5 = ANY(SELECT x FROM (VALUES (1)) t(x) WHERE x < 0) AS a",
      Seq(false)),
    q("SELECT 3 = SOME(SELECT x FROM (VALUES (3),(4)) t(x)) AS a", Seq(true)),
    // batch teardown (DROP order: dependents first)
    s("DROP VIEW r12v2"), s("DROP VIEW r12v"),
    s("DROP MACRO r12m"), s("DROP SEQUENCE r12s"),
    s("DROP INDEX r12x"),
    s("DROP TABLE r12i"), s("DROP TABLE r12j"))

  // --- r12 batch K: scalar/list/json/date breadth sweep + combination
  // forms (nested lambdas, filtered comprehensions, struct/map algebra,
  // quoted datediff units, agg ORDER BY over order-insensitive aggs).
  // Every value probed against DuckDB 1.0; must-refuse entries error in
  // BOTH engines (functions absent from DuckDB 1.0 and from Spark).
  private def corpusK: Seq[C] = Seq(
    // list comprehensions with filters; nested lambdas
    q("SELECT [x * 2 FOR x IN [1, 2, 3] IF x > 1] AS l", Seq(Seq(4, 6))),
    q("SELECT [upper(s) FOR s IN ['a','b'] IF s <> 'b'] AS l", Seq(Seq("A"))),
    q("SELECT list_transform([[1,2],[3]], l -> list_transform(l, x -> x + 10)) AS n",
      Seq(Seq(Seq(11, 12), Seq(13)))),
    q("SELECT list_filter(list_transform([1,2,3,4], x -> x * x), " +
      "y -> y % 2 = 0) AS f", Seq(Seq(4, 16))),
    q("SELECT list_reduce([1,2,3,4], (acc, x) -> acc + x) AS r", Seq(10)),
    q("SELECT list_reduce(['a','b','c'], (a, b) -> concat(a, '-', b)) AS r",
      Seq("a-b-c")),
    // list breadth
    q("SELECT list_grade_up([30, 10, 20]) AS g", Seq(Seq(2, 3, 1))),
    q("SELECT list_reverse_sort([2, 3, 1]) AS r", Seq(Seq(3, 2, 1))),
    q("SELECT list_resize([1,2], 4, 0) AS r", Seq(Seq(1, 2, 0, 0))),
    q("SELECT list_resize([1,2,3], 2) AS r", Seq(Seq(1, 2))),
    q("SELECT list_any_value([NULL, 7, 8]) AS a", Seq(7)),
    q("SELECT len([1,2,3]) AS n", Seq(3)),
    q("SELECT list_position([10,20,30], 30) AS p", Seq(3)),
    q("SELECT list_contains([1,2], 2) AS c, list_has([1,2], 3) AS h",
      Seq(true, false)),
    q("SELECT list_select([10,20,30], [3,1]) AS s", Seq(Seq(30, 10))),
    q("SELECT list_where([10,20,30], [true,false,true]) AS w", Seq(Seq(10, 30))),
    q("SELECT list_zip([1,2], ['a','b']) AS z",
      Seq(Seq(Seq(1, "a"), Seq(2, "b")))),
    q("SELECT list_apply([1,2], x -> x + 100) AS a", Seq(Seq(101, 102))),
    err("SELECT list_rotate([1,2,3,4], 1) AS r", "list_rotate"),
    err("SELECT list_split([1,2,3,4,5], 3) AS s", "list_split"),
    err("SELECT list_cosine_distance([1.0, 0.0], [0.0, 1.0]) AS d",
      "list_cosine_distance"),
    err("SELECT list_negative_dot_product([1.0, 2.0], [3.0, 4.0]) AS d",
      "list_negative_dot_product"),
    // struct / map algebra
    q("SELECT struct_insert({'a': 1}, b := 2) AS s", Seq(Seq(1, 2))),
    q("SELECT struct_extract({'x': {'y': 42}}, 'x') AS s", Seq(Seq(42))),
    q("SELECT map_entries(MAP {'k1': 10, 'k2': 20}) AS e",
      Seq(Seq(Seq("k1", 10), Seq("k2", 20)))),
    q("SELECT map_concat(MAP {'a': 1}, MAP {'b': 2}) AS m",
      Seq(Map("a" -> 1, "b" -> 2))),
    q("SELECT map_extract(MAP {'a': 1, 'b': 2}, 'b') AS v", Seq(Seq(2))),
    q("SELECT cardinality(MAP {'a': 1, 'b': 2}) AS c", Seq(2)),
    q("SELECT element_at(MAP {'k': 5}, 'k') AS e", Seq(Seq(5))),
    err("SELECT map_contains(MAP {'a': 1}, 'a') AS c", "map_contains"),
    // json breadth
    q("SELECT json_keys('{\"a\":1,\"b\":{\"c\":2}}') AS k", Seq(Seq("a", "b"))),
    q("SELECT json_structure('{\"a\":1,\"b\":[1,2]}') AS s",
      Seq("{\"a\":\"UBIGINT\",\"b\":[\"UBIGINT\"]}")),
    q("SELECT json_type('{\"a\":[1]}', '$.a') AS t", Seq("ARRAY")),
    q("SELECT json_type('{\"a\":1}', '$.b') AS missing", Seq(null)),
    q("SELECT json_valid('{\"a\":1}') AS v, json_valid('{oops') AS i",
      Seq(true, false)),
    q("SELECT json_array_length('[1,2,3]') AS n", Seq(3)),
    q("SELECT json_contains('{\"a\":1}', '1') AS c", Seq(true)),
    q("SELECT json_extract_string('{\"a\":\"x\"}', '$.a') AS s", Seq("x")),
    q("SELECT json_merge_patch('{\"a\":1,\"b\":2}', '{\"b\":3}') AS m",
      Seq("{\"a\":1,\"b\":3}")),
    err("SELECT json_exists('{\"a\":1}', '$.a') AS e", "json_exists"),
    err("SELECT json_value('{\"a\":{\"b\":7}}', '$.a.b') AS v", "json_value"),
    // dates / times breadth
    q("SELECT time_bucket(INTERVAL '15 minutes', " +
      "TIMESTAMP '2024-05-01 10:37:00') AS b", Seq("2024-05-01 10:30:00")),
    q("SELECT date_trunc('quarter', DATE '2024-05-20') AS q", Seq("2024-04-01")),
    q("SELECT datetrunc('month', TIMESTAMP '2024-05-20 10:00:00') AS m",
      Seq("2024-05-01")),
    q("SELECT datepart('isoyear', DATE '2024-01-01') AS y", Seq(2024)),
    q("SELECT date_part(['year', 'month'], DATE '2024-05-20') AS parts",
      Seq(Seq(2024, 5))),
    q("SELECT timezone_hour(TIMESTAMP '2024-01-01 00:00:00') AS h", Seq(0)),
    q("SELECT era(DATE '2024-01-01') AS e", Seq(1)),
    q("SELECT epoch_us(make_timestamptz(2024, 5, 20, 10, 30, 0.0)) AS e",
      Seq(1716201000000000L)),
    q("SELECT (DATE '2000-01-01' + to_centuries(2))::DATE AS c", Seq("2200-01-01")),
    q("SELECT (DATE '2000-01-01' + to_millennia(1))::DATE AS m", Seq("3000-01-01")),
    q("SELECT (DATE '2000-01-01' + to_decades(3))::DATE AS d", Seq("2030-01-01")),
    q("SELECT date_add(DATE '2024-01-31', INTERVAL 1 MONTH) AS d",
      Seq("2024-02-29")),
    q("SELECT date_sub('month', DATE '2024-01-31', DATE '2024-03-01') AS n",
      Seq(1)),
    q("SELECT datesub('day', DATE '2024-01-01', DATE '2024-01-31') AS n",
      Seq(30)),
    q("SELECT datediff('week', DATE '2024-01-01', DATE '2024-01-31') AS w",
      Seq(4)),
    q("SELECT date_diff('quarter', DATE '2024-01-15', DATE '2024-07-15') AS n",
      Seq(2)),
    q("SELECT monthname(DATE '2024-05-01') AS m, dayname(DATE '2024-05-01') AS d",
      Seq("May", "Wednesday")),
    q("SELECT yearweek(DATE '2024-05-20') AS yw", Seq(202421)),
    q("SELECT weekofyear(DATE '2024-05-20') AS w, " +
      "dayofyear(DATE '2024-05-20') AS d", Seq(21, 141)),
    q("SELECT length(current_setting('timezone')) > 0 AS tz", Seq(true)),
    // string breadth
    q("SELECT format_bytes(1048576) AS f", Seq("1.0 MiB")),
    q("SELECT to_base(42, 16) AS h, to_base(42, 2) AS b", Seq("2A", "101010")),
    q("SELECT bin(5) AS b, hex(255) AS h", Seq("101", "FF")),
    q("SELECT decode(unhex('4142')) AS d, octet_length(unhex('4142')) AS n",
      Seq("AB", 2)),
    q("SELECT nfc_normalize('a') AS n", Seq("a")),
    q("SELECT string_to_array('a,b,c', ',') AS s", Seq(Seq("a", "b", "c"))),
    q("SELECT array_to_string([1,2,3], '-') AS s", Seq("1-2-3")),
    q("SELECT regexp_escape('a.b*c') AS e", Seq("a\\.b\\*c")),
    q("SELECT like_escape('a%b', 'a$%b', '$') AS l", Seq(true)),
    q("SELECT not_like_escape('a%b', 'a$%b', '$') AS n", Seq(false)),
    q("SELECT ilike_escape('A%b', 'a$%B', '$') AS i", Seq(true)),
    q("SELECT md5_number_lower('abc') AS l", Seq(8250560606382298838L)),
    q("SELECT md5_number_upper('abc')::VARCHAR AS u",
      Seq("12704604231530709392")),
    q("SELECT ord('abc') AS o", Seq(97)),
    q("SELECT jaro_similarity('duck', 'duckdb') AS j", Seq(0.8888888888888888)),
    q("SELECT jaro_winkler_similarity('duck', 'duckdb') AS j",
      Seq(0.9333333333333333)),
    q("SELECT damerau_levenshtein('duckdb', 'udckbd') AS d", Seq(2)),
    q("SELECT mismatches('duck', 'luck') AS m", Seq(1)),
    err("SELECT uuid_string(gen_random_uuid()) AS u", "uuid_string"),
    err("SELECT can_cast_implicitly(1::INT, 1::BIGINT) AS c",
      "can_cast_implicitly"),
    // aggregates: quantiles, FILTER shorthand, ORDER BY no-ops
    q("SELECT quantile_disc(x, [0.25, 0.75]) AS q FROM " +
      "(VALUES (1),(2),(3),(4)) v(x)", Seq(Seq(1, 3))),
    q("SELECT quantile_cont(x, 0.5) AS q FROM (VALUES (1),(2),(3),(4)) v(x)",
      Seq(2.5)),
    q("SELECT arbitrary(x) AS a FROM (VALUES (5),(5)) v(x)", Seq(5)),
    q("SELECT bit_count(255::BIGINT) AS b", Seq(8)),
    q("SELECT bool_and(x) AS a, bool_or(x) AS o FROM " +
      "(VALUES (true),(false)) v(x)", Seq(false, true)),
    q("SELECT count(*) FILTER (x > 1) AS c FROM (VALUES (1),(2),(3)) v(x)",
      Seq(2)),
    q("SELECT sum(x ORDER BY x) AS s FROM (VALUES (3),(1)) v(x)", Seq(4)),
    q("SELECT median(x ORDER BY x) AS m FROM (VALUES (1),(2),(3)) v(x)",
      Seq(2)),
    // operators
    q("SELECT 5 // 2 AS i, 5.0 // 2 AS f", Seq(2, 2.5)),
    q("SELECT 2 ** 10 AS p", Seq(1024)),
    q("SELECT 'abc' ^@ 'ab' AS starts", Seq(true)),
    q("SELECT @(-7) AS a", Seq(7)),
    q("SELECT xor(5, 3) AS x", Seq(6)),
    q("SELECT gen_random_uuid() IS NOT NULL AS ok", Seq(true)),
    q("SELECT current_schemas(true) AS s",
      Seq(Seq("main", "main", "main", "pg_catalog"))),
    q("SELECT txid_current() > 0 AS t", Seq(true)))

  // --- r13: introspection tail (duckdb_dependencies / optimizers /
  // secrets, pragma_collations / user_agent / metadata_info /
  // storage_info) + quantified comparisons with parenthesized compound
  // lhs. Every expected value probed against DuckDB 1.0 on 2026-08-16.
  private def corpusL: Seq[C] = Seq(
    s("CREATE TABLE depx (a INTEGER)"),
    s("CREATE INDEX depx_i ON depx(a)"),
    s("CREATE SEQUENCE depx_s"),
    s("CREATE TABLE depx_t (i INTEGER DEFAULT nextval('depx_s'))"),
    s("CREATE TABLE storage_empty_t (x INTEGER)"),
    q("SELECT count(*) AS c FROM duckdb_secrets()", Seq(0)),
    q("SELECT count(*) AS c FROM pragma_collations()", Seq(133)),
    q("SELECT count(*) FILTER (collname IN ('nocase','noaccent','nfc'," +
      "'en','de')) AS k FROM pragma_collations()", Seq(5)),
    q("SELECT user_agent LIKE 'duckdb/v1.0.0%' AS ok FROM pragma_user_agent()",
      Seq(true)),
    q("SELECT count(*) AS c FROM pragma_metadata_info()", Seq(0)),
    q("SELECT count(*) AS c FROM duckdb_optimizers()", Seq(18)),
    C("SELECT name FROM duckdb_optimizers() ORDER BY 1 LIMIT 3",
      Some(Seq(Seq("column_lifetime"), Seq("common_aggregate"),
        Seq("common_subexpressions"))), ordered = true),
    q("SELECT count(*) FILTER (name LIKE 'filter%') AS f " +
      "FROM duckdb_optimizers()", Seq(2)),
    // dependency edges carry the same oids the other catalog functions
    // report, so the joins a pg_depend-style tool runs work unchanged
    q("SELECT count(*) AS c FROM duckdb_dependencies() d JOIN " +
      "duckdb_indexes() i ON d.refobjid = i.index_oid " +
      "WHERE i.index_name = 'depx_i'", Seq(1)),
    q("SELECT deptype FROM duckdb_dependencies() d JOIN duckdb_indexes() i " +
      "ON d.refobjid = i.index_oid WHERE i.index_name = 'depx_i'", Seq("a")),
    q("SELECT s.sequence_name, t.table_name, d.deptype " +
      "FROM duckdb_dependencies() d " +
      "JOIN duckdb_sequences() s ON d.objid = s.sequence_oid " +
      "JOIN duckdb_tables() t ON d.refobjid = t.table_oid " +
      "WHERE s.sequence_name = 'depx_s'", Seq("depx_s", "depx_t", "n")),
    q("SELECT count(*) AS c FROM pragma_storage_info('storage_empty_t')",
      Seq(0)),
    q("PRAGMA storage_info('storage_empty_t')"),
    q("PRAGMA metadata_info"),
    s("PRAGMA collations"),   // 133 rows; full list value-pinned above
    s("PRAGMA user_agent"),   // engine prefix pinned above (clients suffix)
    err("SELECT * FROM pragma_storage_info('no_such_t')", "does not exist"),
    err("SELECT * FROM duckdb_optimizers('x')", "duckdb_optimizers"),
    err("SELECT * FROM pragma_user_agent('x')", "pragma_user_agent"),
    // quantified comparison, parenthesized compound lhs (the bare
    // spelling refuses loudly — GatewaySpec pins the refusal message)
    q("SELECT ('x' || 'y') = ANY(['xy','z']) AS t", Seq(true)),
    q("SELECT (1+1) = ANY([2]) AS t", Seq(true)),
    q("SELECT ('a' || 'b') <> ALL(['x','y']) AS t", Seq(true)),
    q("SELECT (-1) = ANY([1,-1]) AS t", Seq(true)),
    // --- quantified SUBQUERY comparisons beyond the r12 = ANY/<> ALL
    // identities (r12 verdict item 6): the full op × quantifier matrix
    // via the (count, null-count, min/max) CASE algebra — empty q, NULL
    // lhs, NULL elements, all-NULL q all probed exact vs DuckDB 1.0
    q("SELECT 5 < ANY(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(true)),
    q("SELECT 9 < ANY(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(false)),
    q("SELECT 9 < ANY(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(null)),
    q("SELECT 2 < ANY(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(true)),
    q("SELECT NULL < ANY(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(null)),
    q("SELECT 2 < ALL(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(true)),
    q("SELECT 5 < ALL(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(false)),
    q("SELECT 2 < ALL(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(null)),
    q("SELECT 5 < ALL(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(false)),
    q("SELECT NULL < ALL(SELECT * FROM (VALUES (3),(7)) t(v)) AS r", Seq(null)),
    q("SELECT 7 >= ANY(SELECT * FROM (VALUES (3),(9)) t(v)) AS r", Seq(true)),
    q("SELECT 1 >= ANY(SELECT * FROM (VALUES (3),(9)) t(v)) AS r", Seq(false)),
    q("SELECT 1 >= ANY(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(null)),
    q("SELECT 5 <= ALL(SELECT * FROM (VALUES (5),(7)) t(v)) AS r", Seq(true)),
    q("SELECT 3 = ALL(SELECT * FROM (VALUES (3),(3)) t(v)) AS r", Seq(true)),
    q("SELECT 3 = ALL(SELECT * FROM (VALUES (3),(4)) t(v)) AS r", Seq(false)),
    q("SELECT 3 = ALL(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(null)),
    q("SELECT 5 = ALL(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(false)),
    q("SELECT 3 <> ANY(SELECT * FROM (VALUES (3),(4)) t(v)) AS r", Seq(true)),
    q("SELECT 3 <> ANY(SELECT * FROM (VALUES (3),(3)) t(v)) AS r", Seq(false)),
    q("SELECT 3 <> ANY(SELECT * FROM (VALUES (3),(NULL)) t(v)) AS r", Seq(null)),
    q("SELECT 'm' < ANY(SELECT * FROM (VALUES ('a'),('z')) t(v)) AS r",
      Seq(true)),
    q("SELECT 5 > ALL(SELECT * FROM (VALUES (NULL::INT)) t(v)) AS r", Seq(null)),
    // empty subquery: ANY false (even with NULL lhs), ALL true
    q("SELECT 5 < ANY(SELECT * FROM (VALUES (3)) t(v) WHERE false) AS r",
      Seq(false)),
    q("SELECT 5 < ALL(SELECT * FROM (VALUES (3)) t(v) WHERE false) AS r",
      Seq(true)),
    q("SELECT NULL <> ANY(SELECT * FROM (VALUES (3)) t(v) WHERE false) AS r",
      Seq(false)),
    q("SELECT 3 = ALL(SELECT * FROM (VALUES (3)) t(v) WHERE false) AS r",
      Seq(true)),
    // two quantifiers in one statement; a quantifier under WHERE
    q("SELECT 2 < ANY(SELECT * FROM (VALUES (3)) t(v)) AS a, " +
      "9 >= ALL(SELECT * FROM (VALUES (3),(7)) t(v)) AS b", Seq(true, true)),
    q("SELECT count(*) AS c FROM (VALUES (1),(5),(9)) o(x) " +
      "WHERE x > ANY(SELECT * FROM (VALUES (4),(6)) t(v))", Seq(2)),
    // --- macros joined to duckdb_functions() (r12 verdict item 6) +
    // default parameters (named-only at the call site, probed) ---
    s("CREATE MACRO cadd1(x) AS x + 1"),
    q("SELECT function_name, function_type, parameters, macro_definition " +
      "FROM duckdb_functions() WHERE function_name = 'cadd1'",
      Seq("cadd1", "macro", Seq("x"), "(x + 1)")),
    q("SELECT cadd1(41) AS a", Seq(42)),
    s("CREATE MACRO cgreet(nm, punct := '!') AS 'hi ' || nm || punct"),
    q("SELECT cgreet('duck') AS g", Seq("hi duck!")),
    q("SELECT cgreet('duck', punct := '?') AS g", Seq("hi duck?")),
    q("SELECT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'cgreet'", Seq("macro")),
    q("SELECT parameters FROM duckdb_functions() " +
      "WHERE function_name = 'cgreet'", Seq(Seq("nm", "punct"))),
    q("SELECT count(*) > 400 AS many FROM duckdb_functions()", Seq(true)),
    q("SELECT count(DISTINCT function_type) >= 4 AS kinds " +
      "FROM duckdb_functions()", Seq(true)),
    q("SELECT f.function_name, length(f.macro_definition) > 0 AS has_def " +
      "FROM duckdb_functions() f WHERE f.function_type = 'macro' AND " +
      "f.function_name IN ('cadd1','cgreet') ORDER BY 1",
      Seq("cadd1", true), Seq("cgreet", true)),
    err("SELECT cgreet() AS g", "requires a single positional argument"),
    err("SELECT cgreet('a', '?') AS g", "requires a single positional argument"),
    err("SELECT cgreet(punct := '?', nm := 'x') AS g",
      "does not have default parameter"),
    // --- view-shape pinning corners (r12 verdict item 6): re-bind after
    // ALTER ADD COLUMN errors with duck's altered-contents message; a
    // view over an introspection function binds; DROP COLUMN under a
    // view errors at USE (probed: duck drops fine, then binder-errors)
    s("CREATE TABLE cvt (a INTEGER, b INTEGER)"),
    s("INSERT INTO cvt VALUES (1, 2)"),
    s("CREATE VIEW cvstar AS SELECT * FROM cvt"),
    q("SELECT * FROM cvstar", Seq(1, 2)),
    s("ALTER TABLE cvt ADD COLUMN c INTEGER"),
    err("SELECT * FROM cvstar", "Contents of view were altered"),
    s("CREATE VIEW cvintro AS SELECT table_name FROM duckdb_tables()"),
    q("SELECT count(*) >= 1 AS some FROM cvintro", Seq(true)),
    s("CREATE VIEW cvb AS SELECT b FROM cvt"),
    s("ALTER TABLE cvt DROP COLUMN c"),
    q("SELECT * FROM cvb", Seq(2)),
    s("ALTER TABLE cvt DROP COLUMN b"),
    err("SELECT * FROM cvb", "b"))

  // --- r13 breadth batch M: quantified-subquery types, list/map tail,
  // encoding/bit/date scalars. Every value probed vs DuckDB 1.0.
  private def corpusM: Seq[C] = Seq(
    q("SELECT DATE '2024-01-02' > ANY(SELECT * FROM (VALUES " +
      "(DATE '2024-01-01'),(DATE '2024-03-01')) t(v)) AS r", Seq(true)),
    q("SELECT DATE '2024-01-02' >= ALL(SELECT * FROM (VALUES " +
      "(DATE '2024-01-01'),(DATE '2024-01-02')) t(v)) AS r", Seq(true)),
    q("SELECT 1.5 < ANY(SELECT * FROM (VALUES (1.4),(1.6)) t(v)) AS r",
      Seq(true)),
    q("SELECT 2.5 <= ALL(SELECT * FROM (VALUES (2.5),(3.5)) t(v)) AS r",
      Seq(true)),
    q("SELECT 'b' = ALL(SELECT * FROM (VALUES ('b'),('b')) t(v)) AS r",
      Seq(true)),
    q("SELECT 10 <> ANY(SELECT v FROM (VALUES (10),(20)) t(v) " +
      "WHERE v > 15) AS r", Seq(true)),
    q("SELECT 3 BETWEEN 1 AND 5 AS r", Seq(true)),
    q("SELECT 5 IS DISTINCT FROM NULL AS a, " +
      "NULL IS NOT DISTINCT FROM NULL AS b", Seq(true, true)),
    q("SELECT list_sort([3, NULL, 1]) AS s", Seq(Seq(1, 3, null))),
    q("SELECT list_sort([3,1,2], 'DESC') AS s", Seq(Seq(3, 2, 1))),
    q("SELECT list_sort([NULL, 2, 1], 'ASC', 'NULLS LAST') AS s",
      Seq(Seq(1, 2, null))),
    q("SELECT list_reverse_sort([1,3,2]) AS s", Seq(Seq(3, 2, 1))),
    q("SELECT list_unique([1,1,2,NULL,NULL]) AS u", Seq(2)),
    // list_distinct's output order is engine-specific in duck — sorted pin
    q("SELECT list_sort(list_distinct([1,1,2,NULL])) AS d", Seq(Seq(1, 2))),
    q("SELECT list_zip([1,2],['a']) AS z",
      Seq(Seq(Seq(1, "a"), Seq(2, null)))),
    q("SELECT range(3) AS r", Seq(Seq(0, 1, 2))),
    q("SELECT range(0, 10, 3) AS r", Seq(Seq(0, 3, 6, 9))),
    q("SELECT generate_series(0, 10, 5) AS g", Seq(Seq(0, 5, 10))),
    q("SELECT list_position([10,20,30], 20) AS p", Seq(2)),
    q("SELECT map_keys(map {'k1': 1, 'k2': 2}) AS k", Seq(Seq("k1", "k2"))),
    q("SELECT map_values(map {'k1': 1, 'k2': 2}) AS v", Seq(Seq(1, 2))),
    q("SELECT cardinality(map {'a': 1}) AS c", Seq(1)),
    q("SELECT map_extract(map {'a': 1}, 'a') AS e", Seq(Seq(1))),
    err("SELECT map_contains(map {'a': 1}, 'a') AS c", "map_contains"),
    q("SELECT format_bytes(1000000) AS f", Seq("976.5 KiB")),
    q("SELECT to_base(255, 2) AS b", Seq("11111111")),
    q("SELECT decode(from_base64('QUJD')) AS f", Seq("ABC")),
    q("SELECT to_base64('AB'::BLOB) AS t", Seq("QUI=")),
    q("SELECT translate('hello', 'el', 'ip') AS t", Seq("hippo")),
    q("SELECT strip_accents('café') AS s", Seq("cafe")),
    q("SELECT mode(x) AS m FROM (VALUES (1),(2),(2)) v(x)", Seq(2)),
    q("SELECT product(x) AS p FROM (VALUES (2),(3),(4)) v(x)", Seq(24)),
    q("SELECT entropy(x) AS e FROM (VALUES (1),(1),(2),(2)) v(x)", Seq(1)),
    q("SELECT fsum(x) AS f FROM (VALUES (0.1),(0.2)) v(x)",
      Seq(0.30000000000000004)),
    q("SELECT favg(x) AS f FROM (VALUES (1.0),(2.0)) v(x)", Seq(1.5)),
    q("SELECT skewness(x) > 0 AS s FROM (VALUES (1),(1),(1),(10)) v(x)",
      Seq(true)),
    q("SELECT kurtosis(x) IS NOT NULL AS k FROM " +
      "(VALUES (1.0),(2.0),(3.0),(10.0)) v(x)", Seq(true)),
    q("SELECT bit_and(x) AS a, bit_or(x) AS o, bit_xor(x) AS xr " +
      "FROM (VALUES (6),(3)) v(x)", Seq(2, 7, 5)),
    q("SELECT last_day(DATE '2024-02-05') AS l", Seq("2024-02-29")),
    q("SELECT make_date(2024, 3, 7) AS d", Seq("2024-03-07")),
    q("SELECT make_timestamp(2024, 3, 7, 10, 30, 12.5) AS t",
      Seq("2024-03-07 10:30:12.5")),
    q("SELECT date_trunc('quarter', DATE '2024-05-15') AS q",
      Seq("2024-04-01")),
    q("SELECT date_trunc('week', DATE '2024-01-04') AS w", Seq("2024-01-01")),
    q("SELECT dayname(DATE '2024-01-01') AS d, " +
      "monthname(DATE '2024-01-01') AS m", Seq("Monday", "January")),
    q("SELECT week(DATE '2024-01-04') AS w, isodow(DATE '2024-01-01') AS i",
      Seq(1, 1)),
    q("SELECT yearweek(DATE '2024-01-04') AS yw", Seq(202401)),
    q("SELECT century(DATE '2001-01-01') AS c, " +
      "millennium(DATE '2001-01-01') AS m", Seq(21, 3)),
    q("SELECT to_timestamp(60) AS t", Seq("1970-01-01 00:01:00+00")),
    q("SELECT age(TIMESTAMP '2024-03-15 00:00:00', " +
      "TIMESTAMP '2024-01-10 00:00:00') AS a", Seq("2 months 5 days")),
    q("SELECT greatest(DATE '2024-01-01', DATE '2023-01-01') AS g",
      Seq("2024-01-01")),
    q("SELECT 3 & 5 AS a, 3 | 5 AS o, ~3 AS n, 1 << 4 AS sl, 32 >> 2 AS sr",
      Seq(1, 7, -4, 16, 8)),
    q("SELECT gcd(12, 18) AS g, lcm(4, 6) AS l", Seq(6, 12)),
    q("SELECT nextafter(1.0, 2.0) > 1.0 AS n", Seq(true)),
    q("SELECT cot(1) IS NOT NULL AS c", Seq(true)),
    q("SELECT degrees(pi()) AS d, radians(180) = pi() AS r", Seq(180, true)),
    q("SELECT atan2(1, 1) = pi()/4 AS a", Seq(true)),
    // duck's cbrt is pow(x, 1/3) (3.0000000000000004 raw) — rounded pin
    q("SELECT round(cbrt(27), 9) AS c", Seq(3)),
    q("SELECT exp(0) AS e", Seq(1)),
    q("SELECT bitstring('101', 8) AS b", Seq("00000101")),
    q("SELECT get_bit('0110'::BIT, 1) AS g", Seq(1)),
    q("SELECT set_bit('0110'::BIT, 0, 1) AS s", Seq("1110")),
    q("SELECT bit_position('010'::BIT, '1110101'::BIT) AS p", Seq(4)),
    q("SELECT left('hello', 2) AS l, right('hello', 2) AS r",
      Seq("he", "lo")),
    q("SELECT lpad('5', 3, '0') AS l, rpad('5', 3, 'x') AS r",
      Seq("005", "5xx")),
    q("SELECT repeat('ab', 3) AS r", Seq("ababab")),
    q("SELECT strpos('hello', 'l') AS s, instr('hello', 'l') AS i", Seq(3, 3)),
    q("SELECT ascii('A') AS a, chr(66) AS c", Seq(65, "B")),
    q("SELECT md5('') AS m", Seq("d41d8cd98f00b204e9800998ecf8427e")),
    q("SELECT sha256('abc') IS NOT NULL AS s", Seq(true)),
    q("SELECT hash('x') IS NOT NULL AS h", Seq(true)),
    q("SELECT editdist3('kitten', 'sitting') AS e", Seq(3)),
    q("SELECT prefix('hello', 'he') AS p, suffix('hello', 'lo') AS s",
      Seq(true, true)),
    q("SELECT string_split_regex('a1b2c', '[0-9]') AS s",
      Seq(Seq("a", "b", "c"))),
    q("SELECT regexp_extract('abc123', '([a-z]+)([0-9]+)', 2) AS e",
      Seq("123")),
    q("SELECT regexp_extract_all('a1b2', '[0-9]') AS e", Seq(Seq("1", "2"))),
    q("""SELECT regexp_split_to_array('a b  c', '\s+') AS s""",
      Seq(Seq("a", "b", "c"))),
    q("SELECT try_cast('abc' AS INTEGER) AS t", Seq(null)),
    q("SELECT try_cast('42' AS INTEGER) AS t", Seq(42)),
    q("SELECT try_cast('3.9' AS INTEGER) AS t", Seq(4)), // duck rounds
    q("SELECT TRY_CAST('2024-13-40' AS DATE) AS t", Seq(null)),
    q("SELECT [1,2,3,4][2:3] AS s", Seq(Seq(2, 3))),
    q("SELECT uuid() IS NOT NULL AS u", Seq(true)),
    q("SELECT CASE 2 WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END AS c",
      Seq("b")),
    q("SELECT ifnull(NULL, 7) AS i", Seq(7)),
    q("SELECT if(1 < 2, 'y', 'n') AS i", Seq("y")),
    q("SELECT coalesce(NULL, NULL, 3) AS c", Seq(3)),
    q("SELECT nullif(5, 5) AS n, nullif(5, 4) AS m", Seq(null, 5)),
    q("SELECT signbit(-0.0) AS s", Seq(false)),
    q("SELECT unicode('é') AS u", Seq(233)),
    q("SELECT substring_grapheme('hello', 2, 2) AS s", Seq("el")),
    q("SELECT starts_with('hello', 'he') AS s, ends_with('hello', 'lo') AS e",
      Seq(true, true)),
    q("SELECT ltrim('xxhixx', 'x') AS l, rtrim('xxhixx', 'x') AS r",
      Seq("hixx", "xxhi")),
    err("SELECT title('hello world') AS t", "title"),
    q("SELECT array_slice([1,2,3,4], 2, 3) AS s", Seq(Seq(2, 3))),
    q("SELECT list_append([1,2], 3) AS a, list_prepend(0, [1,2]) AS p",
      Seq(Seq(1, 2, 3), Seq(0, 1, 2))),
    q("SELECT array_concat([1], [2,3]) AS c", Seq(Seq(1, 2, 3))),
    q("SELECT list_concat([1], [2,3]) AS c", Seq(Seq(1, 2, 3))),
    q("SELECT len([1,2,3]) AS l", Seq(3)),
    q("SELECT list_max([3,1,2]) AS mx, list_min([3,1,2]) AS mn", Seq(3, 1)),
    q("SELECT list_sum([1,2,3]) AS s, list_avg([1,2,3]) AS a", Seq(6, 2)),
    q("SELECT list_any_value([NULL, 2, 3]) AS a", Seq(2)),
    q("SELECT list_reduce([1,2,3], (a, b) -> a + b) AS r", Seq(6)),
    q("SELECT list_transform([1,2], x -> x * 10) AS t", Seq(Seq(10, 20))),
    q("SELECT list_filter([1,2,3], x -> x % 2 = 1) AS f", Seq(Seq(1, 3))),
    q("SELECT TIMESTAMP '2024-01-01 00:00:00' - INTERVAL 90 MINUTE AS t",
      Seq("2023-12-31 22:30:00")),
    q("SELECT jaccard('duck','luck') AS j", Seq(0.6)),
    // list_intersect's output order is engine-specific — sorted pin
    q("SELECT list_sort(list_intersect([1,2,3],[2,3,4])) AS i",
      Seq(Seq(2, 3))),
    // --- interval RENDERING, duck-canonical at the result boundary
    // (r13: was Spark's ISO/verbal toString — every spelling probed
    // against (interval)::VARCHAR in DuckDB 1.0)
    q("SELECT (INTERVAL 3 DAY + INTERVAL 2 HOUR) AS i",
      Seq("3 days 02:00:00")),
    q("SELECT INTERVAL '1 year 2 months' AS i", Seq("1 year 2 months")),
    q("SELECT (to_years(1) + to_months(2)) AS i", Seq("1 year 2 months")),
    q("SELECT INTERVAL 90 MINUTE AS i", Seq("01:30:00")),
    q("SELECT INTERVAL '1 day 1 second' AS i", Seq("1 day 00:00:01")),
    q("SELECT INTERVAL '-3 days' AS i", Seq("-3 days")),
    q("SELECT INTERVAL '1.5 seconds' AS i", Seq("00:00:01.5")),
    q("SELECT INTERVAL '0 seconds' AS i", Seq("00:00:00")),
    q("SELECT INTERVAL '14 months' AS i", Seq("1 year 2 months")),
    q("SELECT INTERVAL '-14 months' AS i", Seq("-1 year -2 months")),
    q("SELECT (TIMESTAMP '2024-03-15 00:00:00' - " +
      "TIMESTAMP '2024-01-10 00:00:00') AS d", Seq("65 days")),
    q("SELECT INTERVAL '1 minute 30 seconds' AS i", Seq("00:01:30")),
    q("SELECT INTERVAL '1 microsecond' AS i", Seq("00:00:00.000001")),
    q("SELECT to_hours(2) AS h", Seq("02:00:00")),
    // --- TIMESTAMPTZ literals/casts (r13): offset parsed, instant
    // stored, rendered in the UTC session zone — probed value-exact
    // incl. equality against the converted naive TIMESTAMP
    q("SELECT TIMESTAMPTZ '2024-01-01 05:00:00+02' AS t",
      Seq("2024-01-01 03:00:00+00")),
    q("SELECT TIMESTAMPTZ '2024-01-01 05:00:00' AS t",
      Seq("2024-01-01 05:00:00+00")),
    q("SELECT '2024-01-01 05:00:00+0530'::TIMESTAMPTZ AS t",
      Seq("2023-12-31 23:30:00+00")),
    q("SELECT TIMESTAMPTZ '2024-01-01 05:00:00.25+02' AS t",
      Seq("2024-01-01 03:00:00.25+00")),
    q("SELECT TIMESTAMPTZ '2024-01-01 05:00:00Z' AS t",
      Seq("2024-01-01 05:00:00+00")),
    q("SELECT TIMESTAMPTZ '2024-01-01 05:00:00+02' = " +
      "TIMESTAMP '2024-01-01 03:00:00' AS eq", Seq(true)),
    q("SELECT timezone_hour(TIMESTAMPTZ '2024-01-01 00:00:00+02') AS h",
      Seq(0)),
    err("SELECT TIMESTAMPTZ 'garbage' AS t", "Conversion Error"),
    // duck rejects short/second-bearing offsets too (probed)
    err("SELECT TIMESTAMPTZ '2024-01-01 05:00:00+2' AS t", "Conversion Error"),
    // millennia-wide subtraction renders, never overflows (probed)
    q("SELECT (TIMESTAMP '9999-12-31 00:00:00' - " +
      "TIMESTAMP '0001-01-01 00:00:00') AS d", Seq("3652058 days")),
    // a macro default referencing another parameter is a binder error in
    // duck (probed: 'duplicate column name') — refused at creation here
    err("CREATE MACRO cmbad(x, y := x) AS x + y", "references parameter"))

  // --- r13 breadth batch N: window corners, aggregate tail, row/struct
  // values, IN-list 3VL, date sugar. Every value probed vs DuckDB 1.0.
  private def corpusN: Seq[C] = Seq(
    C("SELECT row_number() OVER (ORDER BY x) AS r, x FROM " +
      "(VALUES (10),(5)) v(x) ORDER BY x",
      Some(Seq(Seq(1, 5), Seq(2, 10))), ordered = true),
    C("SELECT lag(x, 1, -1) OVER (ORDER BY x) AS l FROM " +
      "(VALUES (1),(2)) v(x) ORDER BY x",
      Some(Seq(Seq(-1), Seq(1))), ordered = true),
    C("SELECT first_value(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING " +
      "AND CURRENT ROW) AS f FROM (VALUES (3),(1),(2)) v(x) ORDER BY x",
      Some(Seq(Seq(1), Seq(1), Seq(2))), ordered = true),
    q("SELECT sum(x) OVER () AS s FROM (VALUES (1),(2),(3)) v(x) LIMIT 1",
      Seq(6)),
    C("SELECT percent_rank() OVER (ORDER BY x) AS p, x FROM " +
      "(VALUES (1),(2),(3)) v(x) ORDER BY x",
      Some(Seq(Seq(0, 1), Seq(0.5, 2), Seq(1, 3))), ordered = true),
    C("SELECT x, count(*) OVER (PARTITION BY x % 2) AS c FROM " +
      "(VALUES (1),(2),(3)) v(x) ORDER BY x",
      Some(Seq(Seq(1, 2), Seq(2, 1), Seq(3, 2))), ordered = true),
    q("SELECT string_agg(x, '; ' ORDER BY x) AS s FROM " +
      "(VALUES ('b'),('a')) v(x)", Seq("a; b")),
    q("SELECT histogram(x) AS h FROM (VALUES (1),(1),(2)) v(x)",
      Seq(Map(1 -> 2, 2 -> 1))),
    q("SELECT arg_max(n, v) AS am FROM (VALUES ('a', 1),('b', 9)) t(n, v)",
      Seq("b")),
    q("SELECT arg_min(n, v) AS am FROM (VALUES ('a', 1),('b', 9)) t(n, v)",
      Seq("a")),
    q("SELECT max_by(n, v) AS m FROM (VALUES ('a', 1),('b', 9)) t(n, v)",
      Seq("b")),
    q("SELECT any_value(x) AS a FROM (VALUES (7),(7)) v(x)", Seq(7)),
    q("SELECT var_pop(x) AS v, stddev_pop(x) AS s FROM " +
      "(VALUES (1.0),(3.0)) v(x)", Seq(1, 1)),
    q("SELECT corr(a, b) AS c FROM " +
      "(VALUES (1.0, 2.0),(2.0, 4.0),(3.0, 6.0)) t(a, b)", Seq(1)),
    q("SELECT covar_pop(a, b) AS c FROM " +
      "(VALUES (1.0, 2.0),(3.0, 6.0)) t(a, b)", Seq(2)),
    q("SELECT regr_slope(b, a) AS s, regr_intercept(b, a) AS i FROM " +
      "(VALUES (1.0, 3.0),(2.0, 5.0)) t(a, b)", Seq(2, 1)),
    q("SELECT struct_pack(a := 1, b := 'x') AS s", Seq(Seq(1, "x"))),
    q("SELECT {'n': 1, 's': 'x'}.n AS n", Seq(1)),
    q("SELECT ROW(1, 'a') AS r", Seq(Seq(1, "a"))),
    q("SELECT [x FOR x IN [1,2,3] IF x > 1] AS c", Seq(Seq(2, 3))),
    q("SELECT unnest(map_entries(map {'a': 1})) AS e", Seq(Seq("a", 1))),
    q("SELECT 0.1 + 0.2 = 0.3 AS exact_decimal", Seq(true)),
    q("SELECT 1e3 AS sci, 1.5e-2 AS small", Seq(1000, 0.015)),
    q("SELECT '-inf'::DOUBLE < 0 AS neg, isinf('Inf'::DOUBLE) AS i",
      Seq(true, true)),
    q("SELECT 2 IN (1, 2, 3) AS i, 5 NOT IN (1, 2) AS n", Seq(true, true)),
    q("SELECT NULL IN (1, 2) AS a, 1 IN (NULL, 1) AS b, 3 IN (NULL, 1) AS c",
      Seq(null, true, null)),
    C("SELECT grouping(x) AS g, x, sum(y) AS s FROM (VALUES (1, 10)) " +
      "t(x, y) GROUP BY ROLLUP(x) ORDER BY g, x",
      Some(Seq(Seq(0, 1, 10), Seq(1, null, 10))), ordered = true),
    q("SELECT a.x + 1 AS y FROM (SELECT 1 AS x) a", Seq(2)),
    q("SELECT * FROM (VALUES (1, 'a')) t(n, s) WHERE (n, s) = (1, 'a')",
      Seq(1, "a")),
    q("SELECT (1, 2) < (1, 3) AS lt", Seq(true)),
    q("SELECT least(NULL, 5) AS l, greatest(NULL, 5) AS g", Seq(5, 5)),
    q("SELECT bool_and(x ORDER BY x) FILTER (x IS NOT NULL) AS b FROM " +
      "(VALUES (true),(NULL)) v(x)", Seq(true)),
    q("SELECT approx_quantile(x, 0.5) BETWEEN 1 AND 4 AS ok FROM " +
      "(VALUES (1),(2),(3),(4)) v(x)", Seq(true)),
    q("SELECT reservoir_quantile(x, 0.5) BETWEEN 1 AND 4 AS ok FROM " +
      "(VALUES (1),(2),(3),(4)) v(x)", Seq(true)),
    q("SELECT datepart('month', DATE '2024-05-15') AS m", Seq(5)),
    q("SELECT datetrunc('month', DATE '2024-05-15') AS t", Seq("2024-05-01")),
    q("SELECT datesub('month', DATE '2024-01-15', DATE '2024-05-14') AS d",
      Seq(3)),
    q("SELECT current_date = today() AS t", Seq(true)),
    q("SELECT now() = get_current_timestamp() AS t", Seq(true)),
    q("SELECT CAST('5' AS INTEGER) + 1 AS c", Seq(6)),
    q("SELECT DATE '2024-01-01' - DATE '2023-12-25' AS days_int", Seq(7)))

  // --- r14 batch: the TIMESTAMPTZ direction matrix (timezone()/AT TIME
  // ZONE instant→local overloads, per-row casts, chains, arithmetic,
  // text renderings) + interval rendering provenance. Every value
  // duck-1.0-probed on 2026-08-16 with TimeZone='UTC'.
  private def corpusO: Seq[C] = Seq(
    // instant→local: a TIMESTAMPTZ operand renders as tz-local naive
    q("SELECT timezone('America/New_York', TIMESTAMPTZ '2020-06-01 12:00:00+00') AS t",
      Seq("2020-06-01 08:00:00")),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+00' AT TIME ZONE 'America/New_York' AS t",
      Seq("2020-06-01 08:00:00")),
    q("SELECT timezone('America/New_York', TIMESTAMPTZ '2021-01-15 12:00:00+00') AS t",
      Seq("2021-01-15 07:00:00")), // EST, not EDT
    q("SELECT timezone('Asia/Kolkata', TIMESTAMPTZ '2020-01-15 00:30:00+00') AS t",
      Seq("2020-01-15 06:00:00")), // half-hour zone
    q("SELECT timezone('America/New_York', '2020-06-01 12:00:00+02'::TIMESTAMPTZ) AS t",
      Seq("2020-06-01 06:00:00")),
    // DST edges: the instant decides the offset (EDT→EST 2020-11-01,
    // EST→EDT 2020-03-08)
    q("SELECT timezone('America/New_York', TIMESTAMPTZ '2020-11-01 05:30:00+00') AS t",
      Seq("2020-11-01 01:30:00")),
    q("SELECT timezone('America/New_York', TIMESTAMPTZ '2020-03-08 07:30:00+00') AS t",
      Seq("2020-03-08 03:30:00")),
    q("SELECT timezone('America/New_York', NULL::TIMESTAMPTZ) AS t",
      Seq(null)),
    q("SELECT epoch(timezone('America/New_York', TIMESTAMPTZ '2020-06-01 12:00:00+00')) AS e",
      Seq(1590998400.0)),
    q("SELECT timezone('UTC', TIMESTAMPTZ '2020-06-01 12:00:00+02') AS t",
      Seq("2020-06-01 10:00:00")),
    // chains alternate naive↔instant per application (probed)
    q("SELECT (TIMESTAMPTZ '2020-06-01 12:00:00+00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'Asia/Tokyo' AS t",
      Seq("2020-05-31 23:00:00+00")),
    q("SELECT TIMESTAMP '2020-06-01 12:00:00' AT TIME ZONE 'America/New_York' AT TIME ZONE 'Asia/Tokyo' AS t",
      Seq("2020-06-02 01:00:00")),
    q("SELECT timezone('Europe/Berlin', timezone('America/New_York', TIMESTAMP '2020-06-01 12:00:00')) AS t",
      Seq("2020-06-01 18:00:00")),
    q("SELECT timezone('Asia/Tokyo', timezone('America/New_York', TIMESTAMPTZ '2020-06-01 12:00:00+00')) AS t",
      Seq("2020-05-31 23:00:00+00")),
    // per-row string→TIMESTAMPTZ casts: duck's text grammar exactly
    q("SELECT '2020-06-01 12:00:00 America/New_York'::TIMESTAMPTZ = TIMESTAMP '2020-06-01 16:00:00' AS b",
      Seq(true)), // named zone interprets the wall-clock
    q("SELECT '2020-06-01 12:00:00 Nope/Zone'::TIMESTAMPTZ = TIMESTAMP '2020-06-01 12:00:00' AS b",
      Seq(true)), // unknown zone silently IGNORED (probed duck 1.0)
    q("SELECT '2020-2-1 2:00:00'::TIMESTAMPTZ = TIMESTAMP '2020-02-01 02:00:00' AS b",
      Seq(true)), // single-digit fields accepted
    q("SELECT '2020-06-01 24:00:00'::TIMESTAMPTZ = TIMESTAMP '2020-06-02 00:00:00' AS b",
      Seq(true)), // 24:00:00 exactly rolls to next-day midnight
    q("SELECT '2020-06-01 12:00:00.1234567+02'::TIMESTAMPTZ = TIMESTAMP '2020-06-01 10:00:00.123456' AS b",
      Seq(true)), // >6 fraction digits TRUNCATE, never round
    q("SELECT '2020-06-01 12:00:00Z'::TIMESTAMPTZ = TIMESTAMP '2020-06-01 12:00:00' AS b",
      Seq(true)),
    q("SELECT '2020-06-01 12:00:00-0230'::TIMESTAMPTZ = TIMESTAMP '2020-06-01 14:30:00' AS b",
      Seq(true)), // 4-digit colonless offset
    q("SELECT 'epoch'::TIMESTAMPTZ = TIMESTAMP '1970-01-01 00:00:00' AS b",
      Seq(true)),
    q("SELECT TRY_CAST('garbage' AS TIMESTAMPTZ) AS t", Seq(null)),
    q("SELECT TRY_CAST('2020-06-31 12:00:00' AS TIMESTAMPTZ) AS t",
      Seq(null)), // invalid calendar date
    q("SELECT TRY_CAST('2020-06-01 12:00:00+05:30' AS TIMESTAMPTZ) = TIMESTAMP '2020-06-01 06:30:00' AS b",
      Seq(true)),
    err("SELECT '2020-13-01 00:00:00'::TIMESTAMPTZ",
      "timestamp field value out of range"),
    err("SELECT '2020-06-01 12:00'::TIMESTAMPTZ",
      "timestamp field value out of range"), // seconds required
    err("SELECT '2020-06-01 12:00:00+2'::TIMESTAMPTZ",
      "timestamp field value out of range"), // short offset
    err("SELECT '2020-06-01 12:00:00+02:30:30'::TIMESTAMPTZ",
      "timestamp field value out of range"), // second-bearing offset
    err("SELECT '2020-06-01 UTC'::TIMESTAMPTZ",
      "timestamp field value out of range"), // date-only takes no zone
    q("SELECT epoch(c::TIMESTAMPTZ) AS e FROM (VALUES ('2020-06-01 12:00:00+02'), " +
      "('2020-06-01 12:00:00'), (NULL)) t(c) ORDER BY e NULLS LAST",
      Seq(1591005600.0), Seq(1591012800.0), Seq(null)),
    q("SELECT timezone('America/New_York', CAST(c AS TIMESTAMPTZ)) AS t " +
      "FROM (VALUES ('2020-06-01 12:00:00+02')) t(c)",
      Seq("2020-06-01 06:00:00")),
    q("SELECT CAST(DATE '2020-06-01' AS TIMESTAMPTZ) = TIMESTAMP '2020-06-01 00:00:00' AS b",
      Seq(true)),
    q("SELECT CAST(TIMESTAMP '2020-06-01 12:00:00' AS TIMESTAMPTZ) = TIMESTAMP '2020-06-01 12:00:00' AS b",
      Seq(true)),
    // TIMESTAMPTZ → VARCHAR renders the UTC instant with duck's '+00'
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+02'::VARCHAR AS v",
      Seq("2020-06-01 10:00:00+00")),
    q("SELECT '2020-06-01 12:00:00+02'::TIMESTAMPTZ::VARCHAR AS v",
      Seq("2020-06-01 10:00:00+00")),
    q("SELECT CAST(TIMESTAMPTZ '2020-06-01 12:00:00.5+02' AS VARCHAR) AS v",
      Seq("2020-06-01 10:00:00.5+00")),
    q("SELECT CAST('2020-06-01 12:00:00+02'::TIMESTAMPTZ AS VARCHAR) AS v",
      Seq("2020-06-01 10:00:00+00")),
    q("SELECT CAST(c::TIMESTAMPTZ AS VARCHAR) AS v FROM " +
      "(VALUES ('2020-06-01 12:00:00+02'), (NULL)) t(c) ORDER BY v NULLS LAST",
      Seq("2020-06-01 10:00:00+00"), Seq(null)),
    q("SELECT CAST(TIMESTAMP '2020-06-01 12:00:00' AT TIME ZONE 'America/New_York' AS VARCHAR) AS v",
      Seq("2020-06-01 16:00:00+00")),
    q("SELECT (TIMESTAMP '2020-06-01 12:00:00' AT TIME ZONE 'America/New_York')::VARCHAR AS v",
      Seq("2020-06-01 16:00:00+00")),
    // duck types to_timestamp(epoch) TIMESTAMP WITH TIME ZONE (r14
    // review caught the first pin of this missing the '+00')
    q("SELECT to_timestamp(1591005600)::VARCHAR AS v",
      Seq("2020-06-01 10:00:00+00")),
    // quantified comparisons with a TIMESTAMPTZ-typed-literal lhs (r13
    // advice: the QOperand alternation must capture it)
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+00' = ANY(SELECT TIMESTAMP '2020-06-01 12:00:00') AS b",
      Seq(true)),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+02' > ALL(SELECT TIMESTAMP '2020-06-01 09:59:59') AS b",
      Seq(true)),
    // TIMESTAMPTZ comparison/arithmetic matrix (literal lhs — duck 1.0
    // folds COLUMN-cast tstz comparisons back to VARCHAR compares, a
    // quirk deliberately not replicated; literals bind as instants)
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+02' = TIMESTAMP '2020-06-01 10:00:00' AS b",
      Seq(true)),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+02' < TIMESTAMPTZ '2020-06-01 12:00:00+01' AS b",
      Seq(true)),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+00' > DATE '2020-06-01' AS b",
      Seq(true)),
    q("SELECT (TIMESTAMPTZ '2020-06-01 12:00:00+00' + INTERVAL 90 MINUTE) = TIMESTAMP '2020-06-01 13:30:00' AS b",
      Seq(true)),
    q("SELECT (TIMESTAMPTZ '2020-06-01 12:00:00+00' - INTERVAL 1 DAY) = TIMESTAMP '2020-05-31 12:00:00' AS b",
      Seq(true)),
    q("SELECT (TIMESTAMPTZ '2020-06-01 12:00:00+00' - TIMESTAMPTZ '2020-05-01 00:00:00+02')::VARCHAR AS v",
      Seq("31 days 14:00:00")),
    q("SELECT date_trunc('day', TIMESTAMPTZ '2020-06-01 12:34:56+02') = TIMESTAMP '2020-06-01 00:00:00' AS b",
      Seq(true)),
    q("SELECT strftime(TIMESTAMPTZ '2020-06-01 12:00:00+02', '%Y-%m-%d %H:%M') AS s",
      Seq("2020-06-01 10:00")),
    q("SELECT year(TIMESTAMPTZ '2020-12-31 23:00:00-02') AS y", Seq(2021)),
    q("SELECT max(t) = TIMESTAMP '2020-06-01 10:00:00' AS b FROM " +
      "(SELECT c::TIMESTAMPTZ AS t FROM (VALUES ('2020-06-01 12:00:00+02'), " +
      "('2020-06-01 09:00:00+02')) v(c)) s", Seq(true)),
    // interval rendering provenance (r13 verdict item 3): duck never
    // normalizes micros into days at render — a pure-time literal or
    // pure-time arithmetic keeps its hours; subtraction results (whose
    // days field duck populates) day-split; casts render the same text
    q("SELECT (INTERVAL '26:00:00')::VARCHAR AS v", Seq("26:00:00")),
    q("SELECT (INTERVAL 26 HOUR)::VARCHAR AS v", Seq("26:00:00")),
    q("SELECT (INTERVAL '-26:00:00')::VARCHAR AS v", Seq("-26:00:00")),
    q("SELECT (INTERVAL 90 MINUTE)::VARCHAR AS v", Seq("01:30:00")),
    q("SELECT (INTERVAL 100000 SECOND)::VARCHAR AS v", Seq("27:46:40")),
    q("SELECT (INTERVAL 14 MONTH)::VARCHAR AS v", Seq("1 year 2 months")),
    q("SELECT (INTERVAL 3 DAY)::VARCHAR AS v", Seq("3 days")),
    q("SELECT CAST(INTERVAL '1 year 2 months' AS VARCHAR) AS v",
      Seq("1 year 2 months")),
    q("SELECT (INTERVAL '26:00:00' + INTERVAL 0 SECOND)::VARCHAR AS v",
      Seq("26:00:00")),
    q("SELECT (TIMESTAMP '2020-03-06 12:00:00' - TIMESTAMP '2020-01-01 00:00:00')::VARCHAR AS v",
      Seq("65 days 12:00:00")),
    q("SELECT (TIMESTAMP '2020-06-01 12:00:00' - TIMESTAMP '2020-05-01 00:00:00')::VARCHAR AS v",
      Seq("31 days 12:00:00")),
    q("SELECT INTERVAL '26:00:00' AS i", Seq("26:00:00")),
    q("SELECT INTERVAL '-26:00:00' AS i", Seq("-26:00:00")),
    q("SELECT INTERVAL 26 HOUR AS i", Seq("26:00:00")),
    q("SELECT INTERVAL 90 MINUTE AS i", Seq("01:30:00")))

  // --- r14 batch 2: dependency fences through DROP cascades,
  // pragma_storage_info over post-UPDATE versioned state, window
  // EXCLUDE × named-WINDOW × FILTER combinations, AT TIME ZONE through
  // a view. Every value duck-1.0-probed on 2026-08-16.
  private def corpusP: Seq[C] = Seq(
    s("CREATE TABLE dc_t (a INTEGER)"),
    s("CREATE INDEX dc_i ON dc_t(a)"),
    q("SELECT count(*) AS c FROM duckdb_dependencies() d JOIN " +
      "duckdb_indexes() i ON d.refobjid = i.index_oid " +
      "WHERE i.index_name = 'dc_i'", Seq(1)),
    s("DROP INDEX dc_i"),
    // the dependency edge dies with the index
    q("SELECT count(*) AS c FROM duckdb_dependencies() d JOIN " +
      "duckdb_tables() t ON d.objid = t.table_oid " +
      "WHERE t.table_name = 'dc_t'", Seq(0)),
    s("CREATE SEQUENCE dc_s"),
    s("CREATE TABLE dc_t2 (i INTEGER DEFAULT nextval('dc_s'))"),
    // duck's dependency fence: a depended-on sequence refuses DROP (the
    // message quirkily says "depends on index" — probed verbatim), and
    // IF EXISTS / RESTRICT do not bypass it
    err("DROP SEQUENCE dc_s", "because there are entries that depend on it"),
    err("DROP SEQUENCE IF EXISTS dc_s",
      "because there are entries that depend on it"),
    err("DROP SEQUENCE dc_s RESTRICT",
      "because there are entries that depend on it"),
    // CASCADE drops the dependent TABLE itself (probed)
    s("DROP SEQUENCE dc_s CASCADE"),
    q("SELECT count(*) AS c FROM duckdb_sequences() WHERE " +
      "sequence_name = 'dc_s'", Seq(0)),
    q("SELECT count(*) AS c FROM duckdb_tables() WHERE table_name = 'dc_t2'",
      Seq(0)),
    s("DROP TABLE dc_t"),
    q("SELECT count(*) AS c FROM duckdb_dependencies() d JOIN " +
      "duckdb_tables() t ON d.refobjid = t.table_oid " +
      "WHERE t.table_name = 'dc_t'", Seq(0)),
    // storage_info across a versioned UPDATE rewrite: layout-independent
    // invariants only (chunk counts are engine-internal in BOTH engines)
    s("CREATE TABLE si_t (a INTEGER, b VARCHAR)"),
    s("INSERT INTO si_t VALUES (1,'x'), (2,'y'), (3,'z')"),
    // row-group COUNTS are storage-internal in both engines (duck packs
    // 3 rows into 1 group of 2 chunks; the engine writes one parquet
    // group per insert partition) — pin only the layout-independent
    // facts: the column set, and that every column reports groups
    q("SELECT count(DISTINCT column_name) AS c FROM " +
      "pragma_storage_info('si_t')", Seq(2)),
    q("SELECT count(DISTINCT column_name) AS c FROM " +
      "pragma_storage_info('si_t') WHERE row_group_id >= 0", Seq(2)),
    s("UPDATE si_t SET b = 'u' WHERE a = 2"),
    // the post-UPDATE versioned rewrite still serves footer rows for
    // every column (duck: the rewritten row group does the same)
    q("SELECT count(DISTINCT column_name) AS c FROM " +
      "pragma_storage_info('si_t')", Seq(2)),
    q("SELECT count(*) > 0 AS ok FROM pragma_storage_info('si_t')",
      Seq(true)),
    // window EXCLUDE × named WINDOW × FILTER (r13 verdict item 4 combo)
    s("CREATE TABLE wexf (id INTEGER, v INTEGER)"),
    s("INSERT INTO wexf VALUES (1,10),(2,20),(3,30),(4,40),(5,50)"),
    C("SELECT id, sum(v) FILTER (WHERE v <> 30) OVER w AS s FROM wexf " +
      "WINDOW w AS (ORDER BY id ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING " +
      "EXCLUDE CURRENT ROW) ORDER BY id",
      Some(Seq(Seq(1, 20), Seq(2, 10), Seq(3, 60), Seq(4, 50), Seq(5, 40))),
      ordered = true),
    // GROUP/TIES take RANGE frames (the engine's documented ROWS-frame
    // refusal — peer membership there is tie-order-dependent)
    C("SELECT id, count(*) FILTER (WHERE v > 15) OVER w AS c FROM wexf " +
      "WINDOW w AS (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND " +
      "CURRENT ROW EXCLUDE GROUP) ORDER BY id",
      Some(Seq(Seq(1, 0), Seq(2, 0), Seq(3, 1), Seq(4, 2), Seq(5, 3))),
      ordered = true),
    C("SELECT id, sum(v) OVER w AS a, avg(v) FILTER (WHERE v % 20 = 0) " +
      "OVER w AS b FROM wexf WINDOW w AS (ORDER BY v RANGE BETWEEN 20 " +
      "PRECEDING AND 20 FOLLOWING EXCLUDE TIES) ORDER BY id",
      Some(Seq(Seq(1, 60, 20.0), Seq(2, 100, 30.0), Seq(3, 150, 30.0),
        Seq(4, 140, 30.0), Seq(5, 120, 40.0))), ordered = true),
    C("SELECT id, sum(v) FILTER (WHERE id <> 2) OVER w AS s FROM wexf " +
      "WINDOW w AS (ORDER BY v RANGE BETWEEN 10 PRECEDING AND 10 " +
      "FOLLOWING EXCLUDE CURRENT ROW) ORDER BY id",
      Some(Seq(Seq(1, null), Seq(2, 40), Seq(3, 40), Seq(4, 80),
        Seq(5, 40))), ordered = true),
    // TIMESTAMPTZ direction through a VIEW body (rewrites must survive
    // view re-binding)
    s("CREATE VIEW tzv AS SELECT TIMESTAMPTZ '2020-06-01 12:00:00+02' " +
      "AT TIME ZONE 'America/New_York' AS loc"),
    q("SELECT loc FROM tzv", Seq("2020-06-01 06:00:00")),
    // declared-TIMESTAMPTZ table COLUMNS (r14): the plan-level pass reads
    // the declared type the text rewrites cannot see — duck's tstz
    // overload of timezone()/AT TIME ZONE on a column, and the '+00'
    // VARCHAR text; INSERT strings parse their offsets per row
    s("CREATE TABLE tztab (id INTEGER, t TIMESTAMPTZ)"),
    s("INSERT INTO tztab VALUES (1, '2020-06-01 12:00:00+02'), " +
      "(2, '2020-06-01 08:00:00-03'), (3, NULL)"),
    C("SELECT id, t::VARCHAR AS v FROM tztab ORDER BY id",
      Some(Seq(Seq(1, "2020-06-01 10:00:00+00"),
        Seq(2, "2020-06-01 11:00:00+00"), Seq(3, null))), ordered = true),
    q("SELECT id FROM tztab WHERE t > TIMESTAMPTZ '2020-06-01 10:30:00+00'",
      Seq(2)),
    q("SELECT timezone('America/New_York', t)::VARCHAR AS v FROM tztab " +
      "WHERE id = 1", Seq("2020-06-01 06:00:00")), // instant→local on a COLUMN
    q("SELECT t AT TIME ZONE 'Asia/Tokyo' AS v FROM tztab WHERE id = 1",
      Seq("2020-06-01 19:00:00")),
    C("SELECT date_part('hour', t) AS h FROM tztab ORDER BY id",
      Some(Seq(Seq(10), Seq(11), Seq(null))), ordered = true),
    q("SELECT epoch_ms(t) AS e FROM tztab WHERE id = 1", Seq(1591005600000L)),
    q("SELECT max(t) = TIMESTAMP '2020-06-01 11:00:00' AS b FROM tztab",
      Seq(true)),
    C("SELECT strftime(t, '%H:%M') AS s FROM tztab ORDER BY id",
      Some(Seq(Seq("10:00"), Seq("11:00"), Seq(null))), ordered = true),
    q("SELECT (t - TIMESTAMPTZ '2020-06-01 00:00:00+00')::VARCHAR AS d " +
      "FROM tztab WHERE id = 1", Seq("10:00:00")),
    q("SELECT age(TIMESTAMPTZ '2020-06-01 12:00:00+00', " +
      "TIMESTAMPTZ '2020-01-01 00:00:00+00')::VARCHAR AS a",
      Seq("5 months 12:00:00")),
    q("SELECT last_day(TIMESTAMPTZ '2020-02-10 12:00:00+00') AS l",
      Seq("2020-02-29")),
    q("SELECT time_bucket(INTERVAL 30 MINUTE, " +
      "TIMESTAMPTZ '2020-06-01 12:40:00+00') = " +
      "TIMESTAMP '2020-06-01 12:30:00' AS b", Seq(true)),
    // TIMESTAMPTZ through the scalar date/time surface (all probed)
    q("SELECT hour(TIMESTAMPTZ '2020-06-01 12:00:00+02') AS h", Seq(10)),
    q("SELECT minute(TIMESTAMPTZ '2020-06-01 12:34:00+02') AS m", Seq(34)),
    q("SELECT monthname(TIMESTAMPTZ '2020-06-01 12:00:00+00') AS m",
      Seq("June")),
    q("SELECT dayname(TIMESTAMPTZ '2020-06-01 12:00:00+00') AS d",
      Seq("Monday")),
    q("SELECT century(TIMESTAMPTZ '2020-06-01 12:00:00+00') AS c", Seq(21)),
    q("SELECT decade(TIMESTAMPTZ '2020-06-01 12:00:00+00') AS d", Seq(202)),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+00' BETWEEN " +
      "TIMESTAMP '2020-06-01 00:00:00' AND TIMESTAMP '2020-06-02 00:00:00' AS b",
      Seq(true)),
    q("SELECT TIMESTAMPTZ '2020-06-01 12:00:00+00' IN " +
      "(TIMESTAMP '2020-06-01 12:00:00', TIMESTAMP '2020-01-01 00:00:00') AS b",
      Seq(true)),
    q("SELECT nullif(TIMESTAMPTZ '2020-06-01 12:00:00+00', " +
      "TIMESTAMP '2020-06-01 12:00:00') AS n", Seq(null)),
    q("SELECT date_diff('hour', TIMESTAMPTZ '2020-06-01 00:00:00+00', " +
      "TIMESTAMPTZ '2020-06-01 12:30:00+02') AS d", Seq(10)),
    q("SELECT datediff('day', TIMESTAMPTZ '2020-06-01 00:00:00+00', " +
      "TIMESTAMPTZ '2020-06-05 00:00:00+00') AS d", Seq(4)),
    q("SELECT [TIMESTAMPTZ '2020-06-01 00:00:00+00', " +
      "TIMESTAMPTZ '2020-06-02 00:00:00+02'][2] = " +
      "TIMESTAMP '2020-06-01 22:00:00' AS e", Seq(true)),
    q("SELECT extract(epoch FROM TIMESTAMPTZ '2020-06-01 12:00:00+02') AS e",
      Seq(1591005600.0)),
    q("SELECT extract(timezone FROM TIMESTAMPTZ '2020-06-01 12:00:00+02') AS tz",
      Seq(0)),
    q("SELECT make_timestamptz(2020, 6, 1, 12, 0, 0.0)::VARCHAR AS m",
      Seq("2020-06-01 12:00:00+00")),
    q("SELECT make_timestamptz(2020, 6, 1, 12, 0, 0.0, " +
      "'America/New_York')::VARCHAR AS m", Seq("2020-06-01 16:00:00+00")),
    q("SELECT date_add(TIMESTAMPTZ '2020-06-01 12:00:00+00', " +
      "INTERVAL 26 HOUR) = TIMESTAMP '2020-06-02 14:00:00' AS b", Seq(true)),
    // interval constructor family renders duck's canonical text (the
    // to_* results keep their sub-day provenance)
    q("SELECT to_hours(26)::VARCHAR AS h", Seq("26:00:00")),
    q("SELECT to_minutes(90)::VARCHAR AS m", Seq("01:30:00")),
    q("SELECT to_days(3)::VARCHAR AS d", Seq("3 days")),
    q("SELECT to_months(14)::VARCHAR AS m", Seq("1 year 2 months")),
    q("SELECT to_seconds(100000)::VARCHAR AS s", Seq("27:46:40")),
    q("SELECT to_years(2)::VARCHAR AS y", Seq("2 years")),
    q("SELECT to_milliseconds(1500)::VARCHAR AS m", Seq("00:00:01.5")),
    q("SELECT to_microseconds(1500000)::VARCHAR AS m", Seq("00:00:01.5")),
    q("SELECT (INTERVAL 90 MINUTE / 2)::VARCHAR AS v", Seq("00:45:00")),
    // r14 self-review catches, each duck-probed: chains over a DECLARED
    // column cascade the direction flip; instant-ness reaches through
    // max/min aggregates, interval arithmetic, and TRY_CAST literals
    q("SELECT t AT TIME ZONE 'America/New_York' AT TIME ZONE 'Asia/Tokyo' " +
      "AS v FROM tztab WHERE id = 1", Seq("2020-05-31 21:00:00+00")),
    q("SELECT timezone('Asia/Tokyo', timezone('America/New_York', t)) " +
      "AS v FROM tztab WHERE id = 1", Seq("2020-05-31 21:00:00+00")),
    q("SELECT timezone('America/New_York', max(t)) AS v FROM tztab",
      Seq("2020-06-01 07:00:00")),
    q("SELECT timezone('America/New_York', min(t)) AS v FROM tztab",
      Seq("2020-06-01 06:00:00")),
    q("SELECT timezone('America/New_York', t + INTERVAL 1 HOUR) AS v " +
      "FROM tztab WHERE id = 1", Seq("2020-06-01 07:00:00")),
    q("SELECT timezone('America/New_York', t + INTERVAL 1 MONTH) AS v " +
      "FROM tztab WHERE id = 1", Seq("2020-07-01 06:00:00")),
    q("SELECT (t + INTERVAL 1 HOUR)::VARCHAR AS v FROM tztab WHERE id = 1",
      Seq("2020-06-01 11:00:00+00")),
    q("SELECT max(t)::VARCHAR AS v FROM tztab", Seq("2020-06-01 11:00:00+00")),
    q("SELECT TRY_CAST(TIMESTAMPTZ '2020-06-01 12:00:00+02' AS VARCHAR) AS v",
      Seq("2020-06-01 10:00:00+00")),
    err("SELECT TRY_CAST(TIMESTAMPTZ 'garbage' AS VARCHAR)",
      "timestamp field value out of range"), // the LITERAL errors first
    // tstz through PREPARE/EXECUTE, branches, ordering, aggregation,
    // lists, epoch family, interval comparisons (all duck-probed)
    s("PREPARE ptz AS SELECT $1 + INTERVAL 1 HOUR AS r"),
    q("EXECUTE ptz(TIMESTAMPTZ '2020-06-01 12:00:00+02')",
      Seq("2020-06-01 11:00:00+00")),
    s("DEALLOCATE ptz"),
    q("SELECT coalesce(NULL::TIMESTAMPTZ, TIMESTAMPTZ '2020-06-01 00:00:00+02') " +
      "= TIMESTAMP '2020-05-31 22:00:00' AS b", Seq(true)),
    q("SELECT greatest(TIMESTAMPTZ '2020-06-01 12:00:00+02', " +
      "TIMESTAMPTZ '2020-06-01 11:00:00+00') = TIMESTAMP '2020-06-01 11:00:00' AS b",
      Seq(true)),
    q("SELECT least(t, TIMESTAMPTZ '2020-06-01 10:30:00+00') = " +
      "TIMESTAMP '2020-06-01 10:00:00' AS b FROM tztab WHERE id = 1",
      Seq(true)),
    C("SELECT id FROM tztab ORDER BY t DESC NULLS LAST",
      Some(Seq(Seq(2), Seq(1), Seq(3))), ordered = true),
    C("SELECT count(*) AS c, min(t)::VARCHAR AS m FROM tztab " +
      "GROUP BY t IS NULL ORDER BY c",
      Some(Seq(Seq(1, null), Seq(2, "2020-06-01 10:00:00+00"))),
      ordered = true),
    q("SELECT epoch(INTERVAL '26:00:00') AS e", Seq(93600)),
    q("SELECT INTERVAL 1 DAY > INTERVAL 90 MINUTE AS b", Seq(true)),
    q("SELECT INTERVAL '1 day' = INTERVAL 24 HOUR AS b", Seq(true)),
    q("SELECT now() >= TIMESTAMPTZ '2020-01-01 00:00:00+00' AS b", Seq(true)),
    q("SELECT list_sort([TIMESTAMPTZ '2020-06-02 00:00:00+00', " +
      "TIMESTAMPTZ '2020-06-01 00:00:00+00'])[1] = " +
      "TIMESTAMP '2020-06-01 00:00:00' AS b", Seq(true)),
    q("SELECT string_agg(t::VARCHAR, ',' ORDER BY t) AS s FROM tztab",
      Seq("2020-06-01 10:00:00+00,2020-06-01 11:00:00+00")),
    q("SELECT count(t) AS c FROM tztab", Seq(2)),
    q("SELECT datetrunc('month', TIMESTAMPTZ '2020-06-15 12:00:00+00') = " +
      "TIMESTAMP '2020-06-01 00:00:00' AS b", Seq(true)),
    q("SELECT epoch_ns(TIMESTAMPTZ '2020-06-01 12:00:00+02') AS e",
      Seq(1591005600000000000L)),
    q("SELECT epoch_us(TIMESTAMPTZ '2020-06-01 12:00:00+02') AS e",
      Seq(1591005600000000L)),
    q("SELECT dayofyear(TIMESTAMPTZ '2020-02-10 12:00:00+00') AS d", Seq(41)),
    q("SELECT quarter(TIMESTAMPTZ '2020-08-10 12:00:00+00') AS q", Seq(3)),
    // the session zone is UTC: a tstz value's own offset fields are 0
    q("SELECT timezone_hour(TIMESTAMPTZ '2020-06-01 12:00:00+02') AS h",
      Seq(0)),
    q("SELECT timezone_minute(TIMESTAMPTZ '2020-06-01 12:00:00+02') AS m",
      Seq(0)),
    q("SELECT (- INTERVAL '26:00:00')::VARCHAR AS v", Seq("-26:00:00")),
    // second review pass: instant-ness of a FIXED chain survives through
    // aggregates and interval arithmetic into the '+00' text
    q("SELECT (t AT TIME ZONE 'America/New_York' AT TIME ZONE 'Asia/Tokyo' " +
      "+ INTERVAL 1 HOUR)::VARCHAR AS v FROM tztab WHERE id = 1",
      Seq("2020-05-31 22:00:00+00")),
    q("SELECT max(t AT TIME ZONE 'America/New_York' AT TIME ZONE " +
      "'Asia/Tokyo')::VARCHAR AS v FROM tztab",
      Seq("2020-05-31 22:00:00+00")))

  // Quoted identifiers and string literals never change each other's
  // meaning: every gateway pass reads one lex of the statement (SqlLex).
  // Each value probed against DuckDB 1.0.0; at the per-pass quote-parity
  // scans these were silently wrong, misnamed, or refused.
  private def corpusQ: Seq[C] = Seq(
    q("SELECT 1 AS \"it's\", 'call strpos(x)' AS t", Seq(1, "call strpos(x)")),
    q("SELECT 'a' AS \"it's\", strpos('hello','l') AS p", Seq("a", 3)),
    q("SELECT 'a' AS \"it's\", 'a list_value(1) b' AS t",
      Seq("a", "a list_value(1) b")),
    q("SELECT 'a' AS \"it's\", 'x // y' AS t", Seq("a", "x // y")),
    q("SELECT 'a' AS \"it's\", 7 // 2 AS d", Seq("a", 3)),
    q("SELECT 'a' AS \"it's\", list_value(1,2) AS l", Seq("a", Seq(1, 2))),
    q("SELECT 'a' AS \"it's\", [1,2,3][2] AS e", Seq("a", 2)),
    q("SELECT 'it''s' AS \"o'x\", 'b''c' AS y, starts_with('ab','a') AS z",
      Seq("it's", "b'c", true)),
    q("SELECT 1 AS \"a--b\", 2 AS c", Seq(1, 2)),
    q("SELECT 1 AS \"/*c\", 2 AS \"*/d\"", Seq(1, 2)),
    q("SELECT 1 AS \"strpos(x)\"", Seq(1)))

  // DuckDB function rewrites touch only the calls they rewrite (`__xx_`
  // text in a literal or a name stays), rewrite a nested same-name call
  // once, arguments first, and read `name (…)` with a space as a call.
  // Each value probed against DuckDB 1.0.0.
  private def corpusR: Seq[C] = Seq(
    q("SELECT 'x__ag_y' AS s", Seq("x__ag_y")),
    q("SELECT 'x__lg_y' AS s", Seq("x__lg_y")),
    q("SELECT sqrt(4) AS r, 'a__dg_b' AS s", Seq(2, "a__dg_b")),
    q("SELECT abs(-3) AS r, 'q__ac_z' AS s", Seq(3, "q__ac_z")),
    q("SELECT 1 AS \"__ag_col\"", Seq(1)),
    q("SELECT regexp_replace(regexp_replace('aaa','a','b'),'b','c') AS r",
      Seq("caa")),
    q("SELECT struct_pack(a := struct_pack(b := 1)) AS r", Seq(Seq(Seq(1)))),
    q("SELECT regexp_extract(regexp_extract('abc1def2','[a-z]+[0-9]')," +
      "'[0-9]') AS r", Seq("1")),
    err("SELECT sqrt(sqrt(-1)) AS r", "Out of Range"),
    q("SELECT even (-0.1) AS a, even (3) AS b, xor (5, 3) AS c",
      Seq(-2, 4, 6)),
    q("SELECT cot (1.0) AS d", Seq(0.6420926159343306)),
    q("SELECT epoch (TIMESTAMP '2020-01-01 00:01:30.5') AS e",
      Seq(1577836890.5)),
    q("SELECT format ('{}-{}', 1, 'a') AS f", Seq("1-a")))

  // The 4-arg array_slice clamps its bounds to the list (the step slice
  // list_slice uses), and a lower-case `::bit` literal is a BIT. Each value
  // probed against DuckDB 1.0.0; the first refused here before and the
  // second answered [2, 4, NULL, NULL, NULL].
  private def corpusS: Seq[C] = Seq(
    q("SELECT array_slice([1,2,3,4,5], 2, 10, 2) AS s", Seq(Seq(2, 4))),
    q("SELECT array_slice([1,2,3,4,5], 0, 3, 1) AS s", Seq(Seq(1, 2, 3))),
    q("SELECT '01'::bit AS b", Seq("01")))

  // DuckDB ignores a CHAR/VARCHAR length: no length check on write, no
  // CHAR padding on read. A list or struct literal is one value in a SET
  // list and a VALUES tuple. Each value probed against DuckDB 1.0.0; the
  // INSERT refused here before, the CHAR read answered 'x ', 2, 'x |', the
  // list and struct SETs refused, and DEFAULT stored NULL.
  private def corpusT: Seq[C] = Seq(
    s("DROP TABLE IF EXISTS cv_t"), // the focused test below runs these too
    s("DROP TABLE IF EXISTS ty_t"),
    s("CREATE TABLE cv_t (a VARCHAR(3), b CHAR(2), c VARCHAR)"),
    s("INSERT INTO cv_t VALUES ('abcdef', 'x', 'q')"),
    q("SELECT a, b, length(b) AS n, b || '|' AS p, typeof(a) AS ta, typeof(b) AS tb " +
      "FROM cv_t", Seq("abcdef", "x", 1, "x|", "VARCHAR", "VARCHAR")),
    q("UPDATE cv_t SET a = 'zzzzzz' RETURNING a", Seq("zzzzzz")),
    s("ALTER TABLE cv_t ADD COLUMN d VARCHAR(2)"),
    s("UPDATE cv_t SET d = 'long'"),
    s("ALTER TABLE cv_t ALTER COLUMN c TYPE CHAR(1)"),
    s("INSERT INTO cv_t VALUES ('u', 'vvv', 'ww', 'xyz')"),
    q("SELECT a, b, c, d FROM cv_t",
      Seq("zzzzzz", "x", "q", "long"), Seq("u", "vvv", "ww", "xyz")),
    s("CREATE TABLE ty_t (id INTEGER, l INTEGER[], s STRUCT(a INTEGER, b VARCHAR), " +
      "d VARCHAR DEFAULT 'd')"),
    s("INSERT INTO ty_t VALUES (1, [1, 2], {'a': 1, 'b': 'x'}, 'e'), " +
      "(2, [3], {'a': 2, 'b': 'y'}, 'f')"),
    q("UPDATE ty_t SET l = [9, 8] WHERE id <> 2 RETURNING id", Seq(1)),
    q("UPDATE ty_t SET s = {'a': 7, 'b': 'y'} WHERE id = 2 RETURNING id", Seq(2)),
    s("INSERT INTO ty_t VALUES (3, [4, 5], {'a': 3, 'b': 'z'}, DEFAULT)"),
    q("SELECT id, l, s, d FROM ty_t",
      Seq(1, Seq(9, 8), Seq(1, "x"), "e"), Seq(2, Seq(3), Seq(7, "y"), "f"),
      Seq(3, Seq(4, 5), Seq(3, "z"), "d")),
    err("UPDATE ty_t SET l", "syntax error at end of input"),
    err("UPDATE ty_t SET d = 'x', l", "syntax error at end of input"))

  // A DML expression means what the same spelling means in a SELECT: a
  // WHERE or SET has DuckDB's casts, subscripts, date arithmetic,
  // division and function names. Each value probed against DuckDB 1.0.0;
  // the gateway stored 2, 20 and no NULL, deleted and updated no row for
  // the subscript and log() predicates, and refused the date subtraction,
  // the divisions by zero, list_contains and strpos. The double-quoted
  // `"id"` is an identifier, as in every gateway statement.
  private def corpusU: Seq[C] = Seq(
    s("DROP TABLE IF EXISTS dv"), // the focused test below runs these too
    s("DROP TABLE IF EXISTS dw"),
    s("CREATE TABLE dv (id INTEGER, d DOUBLE, l INTEGER[], a DATE, b DATE)"),
    s("INSERT INTO dv VALUES (1, 2.7, [10, 20], '2024-01-01', '2024-01-11'), " +
      "(2, 3.5, [30, 40], '2024-02-01', '2024-02-03')"),
    s("DELETE FROM dv WHERE \"id\" = 1"),
    q("SELECT id FROM dv", Seq(2)),
    s("INSERT INTO dv VALUES (1, 2.7, [10, 20], '2024-01-01', '2024-01-11')"),
    s("UPDATE dv SET id = l[1] WHERE id = 1"),
    q("SELECT id FROM dv", Seq(2), Seq(10)),
    s("UPDATE dv SET id = 1 WHERE id = 10"),
    s("UPDATE dv SET id = CAST(d AS INTEGER) WHERE id = 1"),
    q("SELECT id, d FROM dv", Seq(2, 3.5), Seq(3, 2.7)),
    s("UPDATE dv SET d = b - a WHERE id = 2"),
    q("SELECT id, d FROM dv", Seq(2, 2), Seq(3, 2.7)),
    s("UPDATE dv SET d = id / 0 WHERE id = 2"),
    q("SELECT id, d FROM dv", Seq(2, null), Seq(3, 2.7)),
    s("DELETE FROM dv WHERE l[1] = 30"),
    q("SELECT id FROM dv", Seq(3)),
    s("DELETE FROM dv WHERE d / 0 IS NULL"),
    q("SELECT count(*) AS n FROM dv", Seq(0)),
    s("CREATE TABLE dw (id INTEGER, x DOUBLE, l INTEGER[], s VARCHAR)"),
    s("INSERT INTO dw VALUES (1, 100.0, [10, 20], 'abc'), (2, 1000.0, [30, 40], 'xyz'), " +
      "(3, 10.0, [50, 60], 'qrs')"),
    s("UPDATE dw SET s = 'hit' WHERE log(x) = 2"),
    q("SELECT id, s FROM dw", Seq(1, "hit"), Seq(2, "xyz"), Seq(3, "qrs")),
    s("DELETE FROM dw WHERE list_contains(l, 30)"),
    q("SELECT id FROM dw", Seq(1), Seq(3)),
    s("DELETE FROM dw WHERE strpos(s, 'q') > 0"),
    q("SELECT id FROM dw", Seq(1)))

  lazy val corpus: Seq[C] =
    corpusA ++ corpusB ++ corpusC ++ corpusD ++ corpusE ++ corpusF ++
      corpusG ++ corpusH ++ corpusI ++ corpusJ ++ corpusK ++ corpusL ++
      corpusM ++ corpusN ++ corpusO ++ corpusP ++ corpusQ ++ corpusR ++ corpusS ++
      corpusT ++ corpusU

  test("DML WHERE and SET expressions answer like DuckDB: casts, subscripts, " +
       "date subtraction, division by zero, DuckDB function names") {
    val notMatched = corpusU.map(c => c -> runOne(c)).filterNot {
      case (_, o) => o == Matched || o == Accepted
    }.map { case (c, o) => s"${c.sql}: $o" }
    assert(notMatched.isEmpty, notMatched.mkString("\n"))
  }

  test("CHAR/VARCHAR(n) and list/struct values in SET and VALUES answer like DuckDB") {
    val notMatched = corpusT.map(c => c -> runOne(c)).filterNot {
      case (c, Refused(m)) => c.expectErr.exists(m.contains)
      case (_, o) => o == Matched || o == Accepted
    }.map { case (c, o) => s"${c.sql}: $o" }
    assert(notMatched.isEmpty, notMatched.mkString("\n"))
  }

  test("4-arg array_slice and a lower-case ::bit literal answer like DuckDB") {
    val notMatched = corpusS.map(c => c.sql -> runOne(c)).filter(_._2 != Matched)
    assert(notMatched.isEmpty, notMatched.mkString("\n"))
  }

  test("quoted identifiers and literals are lexed once: every probed " +
       "case answers like DuckDB (no refusal), with DuckDB's column names") {
    val notMatched = corpusQ.map(c => c.sql -> runOne(c)).filter(_._2 != Matched)
    assert(notMatched.isEmpty, notMatched.mkString("\n"))
    assert(gw.query("SELECT 1 AS \"/*c\", 2 AS \"*/d\"").columns == Seq("/*c", "*/d"))
    assert(gw.query("SELECT 1 AS \"strpos(x)\"").columns == Seq("strpos(x)"))
  }

  test("DuckDB function rewrites leave user text alone and rewrite nested " +
       "same-name calls once: every probed case answers like DuckDB") {
    val notMatched = corpusR.map(c => c -> runOne(c)).filterNot {
      case (c, Refused(m)) => c.expectErr.exists(m.contains)
      case (_, o) => o == Matched
    }.map { case (c, o) => s"${c.sql}: $o" }
    assert(notMatched.isEmpty, notMatched.mkString("\n"))
    assert(gw.query("SELECT 1 AS \"__ag_col\"").columns == Seq("__ag_col"))
    assert(gw.query("SELECT struct_pack(a := struct_pack(b := 1)) AS r")
      .types == Seq("STRUCT(a STRUCT(b INTEGER))"))
  }

  test("each DuckDB function rule is registered once per (name, arity)") {
    // same-name rules that overlap on purpose, as (name, first arity,
    // later arity): the first takes only the shapes named in the reason
    val ordered = Map(
      ("date_part", 2, 2) -> "the part-LIST form runs before the literal part",
      ("datepart", 2, 2) -> "the part-LIST form runs before the literal part",
      ("timezone", 2, -1) -> "direction dispatch first; 'UTC' and 1-arg after",
      ("list_concat", 2, -1) -> "NULL-side 2-arg form first; other arities after",
      ("product", 1, 1) -> "ORDER BY strip (x ORDER BY y) before the aggregate",
      ("entropy", 1, 1) -> "ORDER BY strip (x ORDER BY y) before the aggregate",
      ("skewness", 1, 1) -> "ORDER BY strip (x ORDER BY y) before the aggregate",
      ("kurtosis", 1, 1) -> "ORDER BY strip (x ORDER BY y) before the aggregate")
    val calls = gw.duckDefaultSteps.collect { case c: SqlGateway.DuckCall => c }
    val twins = for {
      (a, i) <- calls.zipWithIndex
      b <- calls.drop(i + 1)
      if a.name == b.name && (a.arity == b.arity || a.arity < 0 || b.arity < 0)
      if !ordered.contains((a.name, a.arity, b.arity))
    } yield s"${a.name}/${a.arity} then ${b.name}/${b.arity}"
    assert(twins.isEmpty, twins.mkString("rules registered twice:\n", "\n", ""))
  }

  test("every DuckDB-corpus statement is DuckDB-correct or refuses — " +
       "never silently wrong") {
    val results = corpus.map(c => c -> runOne(c))

    val silentWrong = results.collect {
      case (c, w: Wrong) if c.divergent.isEmpty => (c, w)
    }
    val staleDivergence = results.collect {
      case (c, Matched) if c.divergent.nonEmpty => c
    }
    // entries pinned as MUST-REFUSE: silently succeeding (or refusing
    // with a different error) is the forbidden outcome
    val missedRefusals = results.collect {
      case (c, o) if c.expectErr.nonEmpty && (o match {
        case Refused(m) => !m.toLowerCase.contains(c.expectErr.get.toLowerCase)
        case _ => true
      }) => (c, o)
    }
    val accepted = results.count { case (_, o) =>
      o == Matched || o == Accepted || o.isInstanceOf[Wrong] }
    val matched = results.count(_._2 == Matched)
    val refused = results.count(_._2.isInstanceOf[Refused])
    def valueChecked(c: C): Boolean = {
      val lead = c.sql.trim.split("""[\s(]""", 2)(0).toLowerCase
      QueryLead(lead) || (Set("insert", "update", "delete").contains(lead) &&
        """(?i)\breturning\b""".r.findFirstIn(c.sql).isDefined)
    }
    val expectTotal = corpus.count(c => c.expect.nonEmpty && c.divergent.isEmpty &&
      valueChecked(c))

    info(s"corpus: ${corpus.size} statements — accepted $accepted " +
      f"(${100.0 * accepted / corpus.size}%.0f%%), refused $refused, " +
      s"value-checked matches $matched/$expectTotal, " +
      s"documented divergences ${corpus.count(_.divergent.nonEmpty)}")
    results.collect { case (c, Refused(m)) =>
      info(s"  refused: ${c.sql.take(70)}  [${m.take(60)}]") }

    assert(silentWrong.isEmpty, silentWrong.map { case (c, w) =>
      s"\nSILENTLY WRONG: ${c.sql}\n  got  ${w.got}\n  want ${w.want}"
    }.mkString)
    assert(missedRefusals.isEmpty, missedRefusals.map { case (c, o) =>
      s"\nMUST-REFUSE MISSED: ${c.sql}\n  expected error containing '${c.expectErr.get}', got $o"
    }.mkString)
    assert(staleDivergence.isEmpty,
      "divergence notes now match DuckDB — remove the stale entries:\n" +
        staleDivergence.map(_.sql).mkString("\n"))
    // Breadth floor: measured accept rate must not regress silently.
    assert(accepted.toDouble / corpus.size >= 0.85,
      s"accept rate dropped: $accepted/${corpus.size}")
    // Every value-checked accepted statement matched DuckDB exactly.
    assert(matched == results.count { case (c, o) =>
      c.divergent.isEmpty && c.expect.nonEmpty && !o.isInstanceOf[Refused] &&
        valueChecked(c) })
  }
}
