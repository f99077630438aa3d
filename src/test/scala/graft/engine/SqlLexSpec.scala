package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The gateway's one SQL lexer, unit by unit. End-to-end behavior (a
  * comment marker inside a literal is data, `e'…'`/`$$…$$` decode to the
  * DuckDB value) is pinned in GatewaySpec and DuckDbCorpusSpec; this spec
  * pins the lex itself: the masked view, the bracket matcher, and the
  * entry-time decoding and comment stripping. */
class SqlLexSpec extends AnyFunSuite {

  test("the mask keeps the length and the quotes, and blanks contents") {
    val sql = "SELECT 'it''s', \"a\"\"b\", `c` FROM t"
    val m = SqlLex.mask(sql)
    assert(m.length == sql.length)
    assert(m == "SELECT '     ', \"    \", ` ` FROM t")
  }

  test("an apostrophe inside a quoted identifier does not open a string") {
    val sql = "SELECT 1 AS \"it's\", 'call strpos(x)' AS t, strpos(a, b)"
    val lx = SqlLex(sql)
    val calls = lx.find("""strpos\(""".r).map(_.start).toList
    assert(calls == List(sql.lastIndexOf("strpos(")))
    assert(lx.masked.endsWith("AS t, strpos(a, b)"))
  }

  test("inside(): a match may start at an opening quote, never past it") {
    val sql = "x 'ab' \"c\" y"
    val lx = SqlLex(sql)
    assert(!lx.inside(2)) // opening '
    assert(lx.inside(3) && lx.inside(5)) // content and closing '
    assert(!lx.inside(7) && lx.inside(8) && lx.inside(9)) // "c"
    assert(!lx.inside(11))
  }

  test("comment markers inside literals and identifiers are data") {
    val sql = "SELECT '--x', \"/*y\", 'a*/' -- tail /* z\nFROM t"
    assert(SqlLex.stripComments(sql) == "SELECT '--x', \"/*y\", 'a*/' \nFROM t")
    assert(SqlLex.mask(sql).indexOf("tail") < 0)
    assert(SqlLex.stripComments("SELECT 1 AS \"/*c\", 2 AS \"*/d\"") ==
      "SELECT 1 AS \"/*c\", 2 AS \"*/d\"")
  }

  test("block comments nest; a quote inside a comment opens nothing") {
    assert(SqlLex.stripComments("a /* b /* c */ d */ e") == "a   e")
    assert(SqlLex.stripComments("f(1) /* don't */ + g('x')") == "f(1)   + g('x')")
    assert(SqlLex.mask("/* it's */ 'q'") == "           ' '")
  }

  test("unterminated literals, identifiers and comments run to the end") {
    assert(SqlLex.mask("SELECT 'abc") == "SELECT '   ")
    assert(SqlLex.mask("SELECT \"ab") == "SELECT \"  ")
    assert(SqlLex.stripComments("SELECT 1 /* open") == "SELECT 1  ")
    assert(SqlLex.stripComments("SELECT 1 -- tail") == "SELECT 1 ")
    val lx = SqlLex("f('a)")
    assert(lx.close(1) == -1 && lx.inside(4))
  }

  test("close() skips brackets in literals and identifiers") {
    val sql = "f(a, ')', \"(\", (b))[x[1]]"
    val lx = SqlLex(sql)
    assert(lx.close(1) == sql.indexOf('[') - 1)
    assert(lx.close(sql.indexOf('[')) == sql.length - 1)
    assert(lx.depth(sql.indexOf("b")) == 2)
  }

  test("find/replace match the mask and splice the raw text") {
    val lx = SqlLex("x = 'a b' AND y = 'it''s'")
    assert(lx.find("""'([^']*)'""".r).map(_.group(1)).toList ==
      List("a b", "it''s"))
    assert(SqlLex.replace("a // b, '//'", "//".r)(_ => "div") == "a div b, '//'")
    // replacement text is literal: no $n group expansion
    assert(SqlLex.replace("f(1)", """f\(""".r)(_ => "$1(") == "$1(1)")
    // raw matching for patterns that read a literal's contents
    assert(SqlLex("'10'::BIT, 'a ''01''::BIT'").findRaw("""'([01]+)'""".r)
      .map(_.group(1)).toList == List("10"))
  }

  test("plainLiteral: exactly one literal without an embedded quote") {
    assert(SqlLex.plainLiteral("'%Y-%m'").contains("%Y-%m"))
    assert(SqlLex.plainLiteral("''").contains(""))
    assert(SqlLex.plainLiteral("'it''s'").isEmpty)
    assert(SqlLex.plainLiteral("'a' || 'b'").isEmpty)
    assert(SqlLex.plainLiteral("x").isEmpty)
  }

  test("E'…' and $tag$…$tag$ decode to standard literals at entry") {
    assert(SqlLex.decodeAltLiterals("SELECT E'it\\'s\\n'") == "SELECT 'it''s\n'")
    assert(SqlLex.decodeAltLiterals("SELECT $$a'b$$, $t$ -- x $t$") ==
      "SELECT 'a''b', ' -- x '")
    // undecodable escapes stay verbatim (the parser then refuses)
    assert(SqlLex.decodeAltLiterals("SELECT e'\\u0041'") == "SELECT e'\\u0041'")
    assert(SqlLex.decodeAltLiterals("SELECT e'\\x00'") == "SELECT e'\\x00'")
    // no decoding inside standard literals, identifiers or comments, and
    // `$1` parameters are not tags
    for (kept <- Seq("SELECT '$$x$$'", "SELECT \"e'x\"", "SELECT 1 -- $$ e'x'",
        "SELECT $1, $2", "SELECT name'x'"))
      assert(SqlLex.decodeAltLiterals(kept) == kept)
    assert(SqlLex.normalize("SELECT $$--$$ -- c\n") == "SELECT '--' \n")
  }

  test("backslashes double inside '…' literals only") {
    assert(SqlLex.escapeBackslashes("SELECT '[\\1]', \"c\\d\"") ==
      "SELECT '[\\\\1]', \"c\\d\"")
    assert(SqlLex.escapeBackslashes("SELECT \"it's\", 'a\\b'") ==
      "SELECT \"it's\", 'a\\\\b'")
  }
}
