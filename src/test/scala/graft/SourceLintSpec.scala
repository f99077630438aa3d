package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the gateway's text layer: SQL quoting is known in ONE
  * place, `engine/SqlLex.scala`. A pass that re-derives "inside a string
  * literal?" by quote parity, or with its own quote-tracking scan, drifts
  * from the lexer the moment a statement holds a quoted identifier
  * (`SELECT 1 AS "it's", 'strpos(x)'`) — so both shapes fail the build.
  * The two CSV sniffers in SqlGateway track `"` in CSV text, not SQL, and
  * are exempt by name. */
class SourceLintSpec extends AnyFunSuite {
  private val mainDir = new java.io.File("src/main/scala")
  private val engineDir = new java.io.File(mainDir, "graft/engine")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def lines(f: java.io.File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  test("no quote-parity counting anywhere in src/main") {
    assert(mainDir.isDirectory, s"run from the repository root: $mainDir")
    val parity = "count(_ == '\\''"
    val hits = scalaFiles(mainDir).flatMap(f => lines(f).zipWithIndex.collect {
      case (l, i) if l.contains(parity) => s"${f.getPath}:${i + 1}: ${l.trim}"
    })
    assert(hits.isEmpty, hits.mkString("quote-parity checks:\n", "\n", ""))
  }

  test("no quote-tracking scan in engine/ outside SqlLex and the CSV sniffers") {
    assert(engineDir.isDirectory, s"run from the repository root: $engineDir")
    val Flag = """\bvar\s+(\w+)\s*=\s*false\b""".r
    // the enclosing class MEMBER (two-space indent), not a local helper
    val Def = """^  (?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    val exempt = Set("sniffDelimiter", "sniffCsvDf")
    val quoteChar = Seq("'\\''", "'\"'", "'`'")
    val hits = scalaFiles(engineDir).filterNot(_.getName == "SqlLex.scala")
      .flatMap { f =>
        val ls = lines(f)
        ls.indices.flatMap { i =>
          Flag.findAllMatchIn(ls(i)).flatMap { m =>
            // a boolean flipped within a few lines of a quote-char test is
            // a hand-rolled "inside a literal?" state machine
            val name = java.util.regex.Pattern.quote(m.group(1))
            val window = ls.slice(i, i + 12).mkString("\n")
            val flips = (s"""\\b$name\\s*=\\s*(?:!\\s*$name|true)\\b""").r
              .findFirstIn(window).isDefined
            val owner = ls.take(i + 1).reverseIterator
              .flatMap(l => Def.findFirstMatchIn(l).map(_.group(1)))
              .nextOption().getOrElse("")
            if (flips && quoteChar.exists(window.contains) && !exempt(owner))
              Some(s"${f.getPath}:${i + 1} (in $owner): ${ls(i).trim}")
            else None
          }
        }
      }
    assert(hits.isEmpty, hits.mkString("quote-tracking scans:\n", "\n", ""))
  }
}
