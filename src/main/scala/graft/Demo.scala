package graft

import graft.engine.{Snapshot, SqlGateway}

/** Demo client — the reference ships one as its only executable
  * verification artifact (`cmd/cli/client.go:94-129`: create/insert/select
  * smoke run printing each response). Same flow here through the gateway,
  * plus the constraint/DML/snapshot semantics DuckDB gave the reference.
  * Run: sbt "runMain graft.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SessionProfile.session("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-demo-wh").toString)
    val gw = new SqlGateway(spark)

    // reference demo flow (cmd/cli/client.go:100-110)
    for (t <- Seq("abc", "def", "ghi"))
      gw.execute(s"CREATE TABLE $t (id integer not null primary key, name text)")
    for (t <- Seq("abc", "def", "ghi"))
      gw.execute(s"INSERT INTO $t(id, name) VALUES (1, '$t')")
    for (t <- Seq("abc", "def", "ghi")) {
      val r = gw.query(s"SELECT * FROM $t")
      println(s"TABLE=$t COLUMNS=${r.columns} TYPES=${r.types} VALUES=${r.values}")
    }

    // constraint enforcement
    try { gw.execute("INSERT INTO abc VALUES (1, 'dup')"); println("PK-CHECK=MISSED") }
    catch { case e: IllegalArgumentException => println(s"PK-CHECK=rejected: ${e.getMessage}") }
    try { gw.execute("INSERT INTO abc VALUES (NULL, 'x')"); println("NN-CHECK=MISSED") }
    catch { case e: IllegalArgumentException => println(s"NN-CHECK=rejected: ${e.getMessage}") }

    // DML with rows_affected (reference README.md:36 names UPDATE support)
    gw.execute("INSERT INTO abc VALUES (2, 'b'), (3, 'c')")
    println(s"UPDATE-AFFECTED=${gw.execute("UPDATE abc SET name = 'zzz' WHERE id > 1").rowsAffected}")
    println(s"DELETE-AFFECTED=${gw.execute("DELETE FROM abc WHERE id = 3").rowsAffected}")
    println(s"AFTER=${gw.query("SELECT * FROM abc ORDER BY id").values}")

    // snapshot round trip (store/store.go:263/:314 EXPORT/IMPORT DATABASE)
    val dir = java.nio.file.Files.createTempDirectory("graft-demo-snap").toString
    Snapshot.exportDatabase(gw, dir)
    gw.execute("DROP TABLE abc")
    Snapshot.importDatabase(gw, dir)
    println(s"RESTORED=${gw.query("SELECT * FROM abc ORDER BY id").values}")

    // malformed SQL surfaces a clean analysis error
    try gw.query("SELEKT broken")
    catch { case e: Exception => println(s"BAD-SQL=${e.getClass.getSimpleName}") }

    val st = Snapshot.status(gw)
    println(s"STATUS engine=${st("engine")} version=${st("version")} tables=${st("tables")}")
    spark.stop()
  }
}
