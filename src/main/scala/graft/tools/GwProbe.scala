package graft.tools

/** Interactive-iteration harness for dialect work: runs each statement of a
  * file (one per line; lines starting with `--` skipped; a leading `!`
  * marks a write statement routed through execute) against a fresh
  * [[graft.engine.SqlGateway]] and prints PROBE-tagged outcomes, so a
  * builder session can diff gateway acceptance/values against a live
  * DuckDB probe of the same statements before pinning them in
  * DuckDbCorpusSpec. Not part of the driver contract.
  */
object GwProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionProfile.session()
    val gw = new graft.engine.SqlGateway(spark)
    scala.io.Source.fromFile(args(0), "UTF-8").getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("--")).foreach { line =>
        val (isWrite, sql) =
          if (line.startsWith("!")) (true, line.drop(1)) else (false, line)
        try {
          if (isWrite) {
            val r = gw.execute(sql)
            println(s"PROBE\tOK\t$sql\t=> rows_affected=${r.rowsAffected}")
          } else {
            val r = gw.query(sql)
            println(s"PROBE\tOK\t$sql\t=> cols=${r.columns.mkString(",")} " +
              s"vals=${r.values.map(_.mkString("[", ",", "]")).mkString(";")}")
          }
        } catch {
          case e: Throwable =>
            println(s"PROBE\tREFUSE\t$sql\t=> ${String.valueOf(e.getMessage)
              .replaceAll("\\s+", " ").take(160)}")
        }
      }
    spark.stop()
  }
}
