package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for decisions that live in ONE place.
  *
  * SQL quoting is known only to `engine/SqlLex.scala`. A pass that
  * re-derives "inside a string literal?" by quote parity, or with its own
  * quote-tracking scan, drifts from the lexer the moment a statement holds
  * a quoted identifier (`SELECT 1 AS "it's", 'strpos(x)'`) — so both
  * shapes fail the build. The two CSV sniffers in SqlGateway track `"` in
  * CSV text, not SQL, and are exempt by name.
  *
  * The session conf is known only to `SessionProfile.scala`: hand-copied
  * `SparkSession.builder` chains drifted from the benchmarked conf, and
  * the environment knobs that once overrode it are constants now. */
class SourceLintSpec extends AnyFunSuite {
  private val mainDir = new java.io.File("src/main/scala")
  private val engineDir = new java.io.File(mainDir, "graft/engine")
  private val toolsDir = new java.io.File("tools")

  private def allFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) allFiles(f) else Seq(f)
    }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    allFiles(dir).filter(_.getName.endsWith(".scala"))

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

  test("SparkSession.builder appears in src/main only in SessionProfile") {
    assert(mainDir.isDirectory, s"run from the repository root: $mainDir")
    val hits = scalaFiles(mainDir).filterNot(_.getName == "SessionProfile.scala")
      .flatMap(f => lines(f).zipWithIndex.collect {
        case (l, i) if l.contains("SparkSession.builder") =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      })
    assert(hits.isEmpty, hits.mkString("session builders:\n", "\n", ""))
  }

  test("no retired SPARK_GRAFT_* knob in src/main or tools/") {
    assert(toolsDir.isDirectory, s"run from the repository root: $toolsDir")
    val retired = Seq("AQE", "PREFER_SMJ", "LOCALITY_WAIT", "SHUFFLE_COMPRESS",
      "CACHE_COMPRESS", "CODEGEN_CACHE", "SHUFFLE", "PASSES", "PIN_CAP",
      "PIN_ROWS", "STATIC_PLANS", "EXEC_PLAN", "PHASE", "REUSE", "ORDER")
    val Knob = retired.mkString("""\bSPARK_GRAFT_(?:""", "|", """)\b""").r
    val sources = (allFiles(mainDir) ++ allFiles(toolsDir))
      .filterNot(_.getName.endsWith(".pyc"))
    val hits = sources.flatMap { f =>
      lines(f).zipWithIndex.collect {
        case (l, i) if Knob.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("retired knobs:\n", "\n", ""))
  }
}
