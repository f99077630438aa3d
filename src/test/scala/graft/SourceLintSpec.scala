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
  * Whether a statement needs a DuckDB function rule is decided once, by
  * `rewriteDuckDefaults`' dispatcher from the rule's name: hand-written
  * per-rule presence checks drifted from the names they guarded (dead
  * twin rules, skipped `xor (` spellings), and marker strings stripped
  * after a rule rewrote user text that happened to contain them.
  *
  * The session conf is known only to `SessionProfile.scala`: hand-copied
  * `SparkSession.builder` chains drifted from the benchmarked conf, and
  * the environment knobs that once overrode it are constants now.
  *
  * The catalog's table list comes from `ColumnShim.userTables`: Spark's
  * `catalog.listTables` runs a job for every call.
  *
  * DuckDB's expression semantics are installed once, on the gateway's
  * own session (`DuckSemantics`, through `ColumnShim.gatewaySession`):
  * per-call plan surgery (analyze, transform, analyze again) reached
  * SELECT but skipped DML expressions, and changed the caller's
  * session.
  *
  * Parquet files are decoded on the driver in one place, the gateway's
  * image cache (`DriverImages`): DML once built its own LocalRelation
  * over a second decode path, which read the same files again.
  *
  * The gateway catches only the exceptions a site expects: a catch-all
  * `case _: Throwable` there once hid every failure of the code it
  * guarded. */
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

  test("the DuckDB-default rewrite has no hand-written presence check " +
       "or per-rule fix call") {
    val ls = lines(new java.io.File(engineDir, "SqlGateway.scala"))
    val fn = ls.indexWhere(_.contains("def rewriteDuckDefaults("))
    assert(fn >= 0, "rewriteDuckDefaults not found")
    // from the rule table (or the function, when it holds the rules
    // itself) to the end of rewriteDuckDefaults
    val start = ls.indexWhere(l => l.contains("val duckDefaultSteps") ||
      l.contains("def rewriteDuckDefaults("))
    val end = ls.indexWhere(_ == "  }", fn)
    val Guard = """out\.toLowerCase\.contains\(|\bfix\(out,""".r
    val hits = (start to end).collect {
      case i if Guard.findFirstIn(ls(i)).isDefined =>
        s"SqlGateway.scala:${i + 1}: ${ls(i).trim}"
    }
    assert(hits.isEmpty, hits.mkString("hand-written rule guards:\n", "\n", ""))
  }

  test("no marker strip in engine/") {
    assert(engineDir.isDirectory, s"run from the repository root: $engineDir")
    val hits = scalaFiles(engineDir).flatMap(f => lines(f).zipWithIndex.collect {
      case (l, i) if l.contains(".replace(\"__") =>
        s"${f.getPath}:${i + 1}: ${l.trim}"
    })
    assert(hits.isEmpty, hits.mkString("marker strips:\n", "\n", ""))
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

  test("no catalog.listTables in src/main (ColumnShim.userTables lists without a job)") {
    assert(mainDir.isDirectory, s"run from the repository root: $mainDir")
    val hits = scalaFiles(mainDir).flatMap(f => lines(f).zipWithIndex.collect {
      case (l, i) if l.contains("catalog.listTables") =>
        s"${f.getPath}:${i + 1}: ${l.trim}"
    })
    assert(hits.isEmpty, hits.mkString("catalog.listTables calls:\n", "\n", ""))
  }

  test("plan swaps live in the gateway session's parser and rule; " +
       "classic.SparkSession is built only in ColumnShim") {
    assert(engineDir.isDirectory, s"run from the repository root: $engineDir")
    val swaps = scalaFiles(engineDir).filterNot(_.getName == "DuckSemantics.scala")
      .flatMap(f => lines(f).zipWithIndex.collect {
        case (l, i) if l.contains("transformAllExpressions") =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      })
    assert(swaps.isEmpty, swaps.mkString("plan swaps outside DuckSemantics:\n", "\n", ""))
    val Build = """new\s+(?:[\w.]*\.)?(?:classic\.)?SparkSession\s*\(|getConstructor|getDeclaredConstructor""".r
    val builds = scalaFiles(mainDir).filterNot(_.getName == "ColumnShim.scala")
      .flatMap(f => lines(f).zipWithIndex.collect {
        case (l, i) if Build.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
      })
    assert(builds.isEmpty, builds.mkString("sessions built outside ColumnShim:\n", "\n", ""))
  }

  test("parquet files are decoded on the driver only in the image cache") {
    assert(mainDir.isDirectory, s"run from the repository root: $mainDir")
    def sites(word: String) = scalaFiles(mainDir).flatMap(f => lines(f).zipWithIndex.collect {
      case (l, i) if l.contains(word) => s"${f.getPath}:${i + 1}: ${l.trim}"
    })
    val readers = sites("buildReaderWithPartitionValues")
    assert(readers.size == 1 && readers.head.contains("engine/DriverImages.scala:"),
      readers.mkString("driver-side parquet readers:\n", "\n", ""))
    val swaps = sites("rewriteSource")
    assert(swaps.isEmpty, swaps.mkString("per-statement image swaps:\n", "\n", ""))
  }

  test("the gateway swallows no Throwable: a catch names what it expects") {
    val gateway = new java.io.File(engineDir, "SqlGateway.scala")
    assert(gateway.isFile, s"run from the repository root: $gateway")
    val hits = lines(gateway).zipWithIndex.collect {
      case (l, i) if l.contains("case _: Throwable") => s"${gateway.getPath}:${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString("catch-all handlers:\n", "\n", ""))
  }
}
