package graft.engine

import scala.util.matching.Regex

/** The gateway's one SQL lexer: the only code in `engine/` that knows how
  * a statement is quoted. It recognizes
  *
  *   - `'…'` string literals, `''` doubling an apostrophe inside;
  *   - `"…"` quoted identifiers, `""` doubling a quote inside (and the
  *     backquoted identifiers the gateway's own rewrites emit, ``` `` ```
  *     doubling);
  *   - `--` line comments (the newline stays code) and `/* … */` block
  *     comments, which NEST in DuckDB (probed: `/* a /* b */ c */` is one
  *     comment).
  *
  * An unterminated literal, identifier or comment runs to the end of the
  * text. From one lex it gives a same-length MASKED view of the statement:
  * the contents of every literal and quoted identifier are blanked to
  * spaces (their own quotes stay), and every comment is blanked whole. A
  * rewrite pass matches its regex (or scans) on the mask and splices from
  * the raw text at the same offsets, so nothing inside a literal, an
  * identifier or a comment can ever look like syntax — `SELECT 1 AS
  * "it's", 'strpos(x)'` has no call and no open literal in its mask. */
private[engine] final class SqlLex private (val sql: String) {
  private[this] val hidden = new java.util.BitSet(sql.length)

  /** `sql` with literal, identifier and comment contents blanked. */
  val masked: String = {
    val a = sql.toCharArray
    def blank(from: Int, to: Int): Unit = {
      java.util.Arrays.fill(a, from, to, ' ')
      hidden.set(from, to)
    }
    var i = 0
    while (i < a.length) {
      if (SqlLex.isQuote(a(i))) {
        // content blanked; a closing quote stays visible but counts as
        // inside, so a match can only START at an opening quote
        val q = SqlLex.closingQuote(sql, i)
        val e = if (q < 0) a.length else q + 1
        blank(i + 1, if (q < 0) e else q)
        hidden.set(i + 1, e)
        i = e
      } else {
        val e = SqlLex.spanEnd(sql, i)
        if (e < 0) i += 1 else { blank(i, e); i = e }
      }
    }
    new String(a)
  }

  /** True when offset `i` lies inside a literal, quoted identifier or
    * comment: after its opening delimiter, up to and including its
    * closing one. */
  def inside(i: Int): Boolean = hidden.get(i)

  /** Index of the `)` or `]` closing the bracket at `open`, skipping
    * literals, identifiers and comments; -1 when unbalanced. */
  def close(open: Int): Int = SqlLex.close(masked, open)

  /** Unclosed `(` before offset `i`, outside literals and comments. */
  def depth(i: Int): Int = {
    var d = 0; var k = 0
    while (k < i) {
      val c = masked.charAt(k)
      if (c == '(') d += 1 else if (c == ')') d -= 1
      k += 1
    }
    d
  }

  /** Every match of `re` on the masked view, its groups read from the
    * raw text at the same offsets. */
  def find(re: Regex): Iterator[Regex.Match] = {
    val m = re.pattern.matcher(masked)
    Iterator.continually(m.find()).takeWhile(identity)
      .map(_ => new Regex.Match(sql, m, Nil).force)
  }

  /** The raw text with every masked-view match of `re` replaced by
    * `f(match)`, taken literally (no `$n` expansion). */
  def replace(re: Regex)(f: Regex.Match => String): String =
    splice(find(re), f)

  /** Matches of `re` on the RAW text that start outside every literal,
    * identifier and comment — for patterns that must read a literal's
    * contents (`'([01]+)'::BIT`). */
  def findRaw(re: Regex): Iterator[Regex.Match] =
    re.findAllMatchIn(sql).filter(m => !inside(m.start))

  /** [[replace]] over [[findRaw]]'s matches. */
  def replaceRaw(re: Regex)(f: Regex.Match => String): String =
    splice(findRaw(re), f)

  private def splice(ms: Iterator[Regex.Match],
      f: Regex.Match => String): String = {
    if (!ms.hasNext) return sql
    val sb = new java.lang.StringBuilder(sql.length + 16)
    var last = 0
    ms.foreach { m =>
      sb.append(sql, last, m.start).append(f(m))
      last = m.end
    }
    sb.append(sql, last, sql.length).toString
  }
}

private[engine] object SqlLex {
  def apply(sql: String): SqlLex = new SqlLex(sql)

  /** [[SqlLex.masked]] of `sql`. */
  def mask(sql: String): String = new SqlLex(sql).masked

  /** `re` replaced on the masked view of `sql` (see [[SqlLex.replace]]). */
  def replace(sql: String, re: Regex)(f: Regex.Match => String): String =
    new SqlLex(sql).replace(re)(f)

  /** Split a column-spec / SET list on top-level commas, on the masked
    * view: a comma inside 'x, y' or "a,b" does not split, nor one inside
    * (…), a list [1, 2] or a struct {'a': 1, …}; a bracket inside a
    * literal or identifier is not nesting. */
  def splitTopLevel(s: String): Seq[String] = {
    val mk = mask(s)
    val out = Vector.newBuilder[String]
    var depth = 0; var from = 0
    for (i <- 0 until mk.length) mk.charAt(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => out += s.substring(from, i); from = i + 1
      case _ => ()
    }
    if (from < s.length) out += s.substring(from)
    out.result()
  }

  /** Index of the `)`/`]` closing the bracket at `open` in an already
    * masked text; -1 when unbalanced. */
  def close(masked: String, open: Int): Int = {
    val o = masked.charAt(open)
    val c = if (o == '[') ']' else ')'
    var d = 0; var i = open
    while (i < masked.length) {
      val ch = masked.charAt(i)
      if (ch == o) d += 1
      else if (ch == c) { d -= 1; if (d == 0) return i }
      i += 1
    }
    -1
  }

  /** The text of `s` when it is exactly one `'…'` literal with no
    * embedded quote (the form the dialect rewrites fold at rewrite time);
    * None otherwise. */
  def plainLiteral(s: String): Option[String] =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'' &&
        s.indexOf('\'', 1) == s.length - 1) Some(s.substring(1, s.length - 1))
    else None

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  /** Index of the quote closing the literal or identifier that opens at
    * `i` (a doubled quote stays inside); -1 when unterminated. */
  private def closingQuote(s: String, i: Int): Int = {
    val q = s.charAt(i)
    var j = i + 1
    while (j < s.length) {
      if (s.charAt(j) != q) j += 1
      else if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
      else return j
    }
    -1
  }

  /** End (exclusive) of the literal, identifier or comment opening at
    * `i`; -1 when `i` is code. */
  private def spanEnd(s: String, i: Int): Int = s.charAt(i) match {
    case c if isQuote(c) =>
      val q = closingQuote(s, i)
      if (q < 0) s.length else q + 1
    case '-' if s.startsWith("--", i) =>
      val n = s.indexOf('\n', i)
      if (n < 0) s.length else n
    case '/' if s.startsWith("/*", i) =>
      var j = i + 2; var d = 1
      while (j < s.length && d > 0) {
        if (s.startsWith("*/", j)) { d -= 1; j += 2 }
        else if (s.startsWith("/*", j)) { d += 1; j += 2 }
        else j += 1
      }
      if (d > 0) s.length else j
    case _ => -1
  }

  /** A statement as every rewrite pass expects it: `E'…'` and `$$…$$`
    * literals decoded to standard ones, then comments removed. */
  def normalize(sql: String): String = stripComments(decodeAltLiterals(sql))

  /** Comments removed: a line comment up to (not including) its newline,
    * a block comment replaced by one space — a comment separates tokens,
    * so `SELECT/**/1` stays `SELECT 1`. Literals and identifiers are
    * copied verbatim, so `'--'` and `"a--b"` are data, never comments. */
  def stripComments(sql: String): String = {
    if (!sql.contains("--") && !sql.contains("/*")) return sql
    val sb = new java.lang.StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      val e = spanEnd(sql, i)
      if (e < 0) { sb.append(sql.charAt(i)); i += 1 }
      else {
        sql.charAt(i) match {
          case '-' => ()
          case '/' => sb.append(' ')
          case _ => sb.append(sql, i, e)
        }
        i = e
      }
    }
    sb.toString
  }

  /** DuckDB's standard `'…'` literals carry NO escape processing (`'[\1]'`
    * is four characters); Spark's parser reads `\` as an escape. Doubling
    * every backslash inside `'…'` literals makes Spark parse exactly the
    * characters DuckDB would. Identifiers and comments are untouched. */
  def escapeBackslashes(sql: String): String = {
    if (!sql.contains('\\')) return sql
    val sb = new java.lang.StringBuilder(sql.length + 8)
    var i = 0
    while (i < sql.length) {
      val e = spanEnd(sql, i)
      if (e < 0) { sb.append(sql.charAt(i)); i += 1 }
      else {
        val span = sql.substring(i, e)
        sb.append(if (sql.charAt(i) == '\'') span.replace("\\", "\\\\") else span)
        i = e
      }
    }
    sb.toString
  }

  /** DuckDB's two alternative string-literal spellings, decoded to the
    * standard `'…'` form (embedded quotes doubled) in one left-to-right
    * pass, so neither can desynchronize the other:
    *
    *   - dollar-quoted `$[tag]$ … $[tag]$` (raw text that may span quotes,
    *     comment markers and newlines; tag = identifier or empty — `$1`
    *     parameters never match because a tag cannot start with a digit);
    *   - escape strings `e'…'`/`E'…'` with the probed v1.0 escape set:
    *     `\n \t \r \b \f`, `\\`, `\'` (and `''`), `\xH[H]` (1-2 hex) and
    *     `\o[oo]` (1-3 octal) for 0 < value ≤ 0x7F, any other `\c` → `c`
    *     (probed: `e'\q'`→`q`, `e'\v'`→`v`). `\u`/`\U` (DuckDB parser
    *     errors even on 4-hex), NUL, and non-ASCII byte escapes leave that
    *     `e'…'` undecoded — it then refuses in Spark's parser
    *     (UNSUPPORTED_TYPED_LITERAL), never a silently-wrong string.
    *
    * Standard literals, quoted identifiers and comments are copied as
    * they are. */
  def decodeAltLiterals(sql: String): String = {
    if (!sql.contains('$') && !sql.toLowerCase.contains("e'")) return sql
    val Tag = """^\$([A-Za-z_]\w*)?\$""".r
    def quoted(body: String) = "'" + body.replace("'", "''") + "'"
    def wordBefore(i: Int) = i > 0 && {
      val p = sql.charAt(i - 1)
      p.isLetterOrDigit || p == '_' || p == '$'
    }
    val sb = new java.lang.StringBuilder(sql.length + 16)
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = spanEnd(sql, i)
      if (e >= 0) { sb.append(sql, i, e); i = e }
      else if ((c == 'e' || c == 'E') && i + 1 < sql.length &&
          sql.charAt(i + 1) == '\'' && !wordBefore(i)) {
        decodeEscapeString(sql, i) match {
          case Some((body, after)) => sb.append(quoted(body)); i = after
          case None => sb.append(c); i += 1 // undecodable → verbatim → refuses
        }
      } else if (c == '$') {
        val close = Tag.findFirstMatchIn(sql.substring(i)).map(m =>
          (m.matched, sql.indexOf(m.matched, i + m.matched.length)))
        close match {
          case Some((delim, at)) if at >= 0 =>
            sb.append(quoted(sql.substring(i + delim.length, at)))
            i = at + delim.length
          case _ => sb.append(c); i += 1 // no tag / unterminated → refuses
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Decode one `e'…'` at `at` (pointing at the e): Some((raw body, index
    * after the closing quote)), or None when an escape has no exact
    * standard-literal spelling (see [[decodeAltLiterals]]). */
  private def decodeEscapeString(sql: String, at: Int): Option[(String, Int)] = {
    val b = new StringBuilder
    var i = at + 2
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { b += '\''; i += 2 }
        else return Some((b.toString, i + 1))
      } else if (c == '\\' && i + 1 < sql.length) {
        sql.charAt(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 't' => b += '\t'; i += 2
          case 'r' => b += '\r'; i += 2
          case 'b' => b += '\b'; i += 2
          case 'f' => b += '\f'; i += 2
          case '\\' => b += '\\'; i += 2
          case '\'' => b += '\''; i += 2
          case 'u' | 'U' => return None // DuckDB 1.0 parser-errors on these
          case 'x' =>
            var j = i + 2; var v = 0; var n = 0
            while (j < sql.length && n < 2 &&
                Character.digit(sql.charAt(j), 16) >= 0) {
              v = v * 16 + Character.digit(sql.charAt(j), 16); j += 1; n += 1
            }
            if (n == 0) { b += 'x'; i += 2 } // e'\xzz' → "xzz" (probed)
            else if (v > 0 && v <= 0x7f) { b += v.toChar; i = j }
            else return None // NUL / non-ASCII byte: DuckDB parser-errors
          case d if d >= '0' && d <= '7' =>
            var j = i + 1; var v = 0; var n = 0
            while (j < sql.length && n < 3 &&
                sql.charAt(j) >= '0' && sql.charAt(j) <= '7') {
              v = v * 8 + (sql.charAt(j) - '0'); j += 1; n += 1
            }
            if (v > 0 && v <= 0x7f) { b += v.toChar; i = j }
            else return None
          case other => b += other; i += 2 // unknown escape → the char
        }
      } else { b += c; i += 1 }
    }
    None // unterminated
  }
}
