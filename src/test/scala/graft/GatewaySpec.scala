package graft

import graft.engine.{Snapshot, SqlGateway}

/** End-to-end reproduction of the reference demo client
  * (`cmd/cli/client.go:94-129` / FIXTURES.md §A): CREATE → INSERT →
  * SELECT round trip asserting the `{columns,types,values}` result shape
  * of `db/db.go:43-47`, plus the constraint/DML/snapshot semantics the
  * reference gets from DuckDB. */
class GatewaySpec extends SparkTestBase with org.scalatest.BeforeAndAfterEach {
  lazy val gw = new SqlGateway(spark)

  // one gateway serves every test: a test that fails between BEGIN and
  // COMMIT must not leave its transaction open for the tests after it
  override def afterEach(): Unit =
    try if (gw.inTransaction) gw.execute("ROLLBACK") finally super.afterEach()

  test("demo-client round trip: CREATE, INSERT, SELECT shape") {
    for (t <- Seq("abc", "def", "ghi")) {
      gw.execute(s"DROP TABLE IF EXISTS $t")
      gw.execute(s"CREATE TABLE $t (id integer not null primary key, name text)")
    }
    val ins = gw.execute("INSERT INTO def(id, name) VALUES (1, 'def')")
    assert(ins.rowsAffected == 1)
    val res = gw.query("SELECT * FROM def")
    assert(res.columns == Seq("id", "name"))
    assert(res.types == Seq("INTEGER", "VARCHAR"))
    assert(res.values == Seq(Seq(1, "def")))
  }

  test("PRIMARY KEY uniqueness is enforced on insert") {
    gw.execute("DROP TABLE IF EXISTS pkt")
    gw.execute("CREATE TABLE pkt (id integer not null primary key, name text)")
    gw.execute("INSERT INTO pkt VALUES (1, 'a')")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO pkt VALUES (1, 'dup')")
    }
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO pkt VALUES (2, 'x'), (2, 'y')")
    }
    assert(gw.query("SELECT count(*) AS n FROM pkt").values.head.head == 1L)
  }

  test("NOT NULL is enforced on insert") {
    gw.execute("DROP TABLE IF EXISTS nnt")
    gw.execute("CREATE TABLE nnt (id integer not null primary key, name text)")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO nnt VALUES (NULL, 'x')")
    }
  }

  test("UPDATE and DELETE rewrite the table and report rows_affected") {
    gw.execute("DROP TABLE IF EXISTS dml")
    gw.execute("CREATE TABLE dml (id integer, v integer)")
    gw.execute("INSERT INTO dml VALUES (1, 10), (2, 20), (3, 30)")
    val up = gw.execute("UPDATE dml SET v = v + 1 WHERE id >= 2")
    assert(up.rowsAffected == 2)
    val vals = gw.query("SELECT v FROM dml ORDER BY id").values.map(_.head)
    assert(vals == Seq(10, 21, 31))
    val del = gw.execute("DELETE FROM dml WHERE v > 25")
    assert(del.rowsAffected == 1)
    assert(gw.query("SELECT count(*) AS n FROM dml").values.head.head == 2L)
  }

  test("DELETE keeps rows where the predicate is NULL (SQL semantics)") {
    gw.execute("DROP TABLE IF EXISTS delnull")
    gw.execute("CREATE TABLE delnull (id integer, v integer)")
    gw.execute("INSERT INTO delnull VALUES (1, NULL), (2, 30), (3, 10)")
    val del = gw.execute("DELETE FROM delnull WHERE v > 25")
    assert(del.rowsAffected == 1)
    val remaining = gw.query("SELECT id FROM delnull ORDER BY id").values.map(_.head)
    assert(remaining == Seq(1, 3)) // NULL-predicate row must survive
  }

  test("UPDATE evaluates SET expressions against the old row (swap works)") {
    gw.execute("DROP TABLE IF EXISTS swapt")
    gw.execute("CREATE TABLE swapt (id integer, a integer, b integer)")
    gw.execute("INSERT INTO swapt VALUES (1, 10, 20)")
    gw.execute("UPDATE swapt SET a = b, b = a WHERE id = 1")
    val row = gw.query("SELECT a, b FROM swapt").values.head
    assert(row == Seq(20, 10))
  }

  test("string literal containing the word 'where' survives UPDATE parsing") {
    gw.execute("DROP TABLE IF EXISTS wheret")
    gw.execute("CREATE TABLE wheret (id integer, msg text)")
    gw.execute("INSERT INTO wheret VALUES (1, 'x'), (2, 'y')")
    gw.execute("UPDATE wheret SET msg = 'a where b' WHERE id = 1")
    val vals = gw.query("SELECT msg FROM wheret ORDER BY id").values.map(_.head)
    assert(vals == Seq("a where b", "y"))
  }

  test("string literals containing commas survive UPDATE SET parsing") {
    gw.execute("DROP TABLE IF EXISTS commat")
    gw.execute("CREATE TABLE commat (id integer, name text)")
    gw.execute("INSERT INTO commat VALUES (1, 'before')")
    gw.execute("UPDATE commat SET name = 'x, y' WHERE id = 1")
    assert(gw.query("SELECT name FROM commat").values.head.head == "x, y")
  }

  test("INSERT INTO ... SELECT computes rows_affected") {
    gw.execute("DROP TABLE IF EXISTS src")
    gw.execute("DROP TABLE IF EXISTS dst")
    gw.execute("CREATE TABLE src (id integer, name text)")
    gw.execute("CREATE TABLE dst (id integer, name text)")
    gw.execute("INSERT INTO src VALUES (1,'a'), (2,'b'), (3,'c')")
    val r = gw.execute("INSERT INTO dst SELECT * FROM src WHERE id > 1")
    assert(r.rowsAffected == 2)
  }

  test("export/import database round trip preserves data and constraints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    gw.execute("DROP TABLE IF EXISTS snapt")
    gw.execute("CREATE TABLE snapt (id integer not null primary key, name text)")
    gw.execute("INSERT INTO snapt VALUES (1, 'one'), (2, 'two')")
    val exported = Snapshot.exportDatabase(gw, dir)
    assert(exported.contains("snapt"))
    gw.execute("DROP TABLE snapt")
    Snapshot.importDatabase(gw, dir)
    val res = gw.query("SELECT * FROM snapt ORDER BY id")
    assert(res.values.map(_.toList) == Seq(List(1, "one"), List(2, "two")))
    // constraints survived the round trip
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO snapt VALUES (1, 'dup')")
    }
  }

  test("EXPORT/IMPORT DATABASE as SQL statements round trip (store/store.go:263,314)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-sql").toString
    gw.execute("DROP TABLE IF EXISTS snapsql")
    gw.execute("CREATE TABLE snapsql (id integer not null primary key, name text)")
    gw.execute("INSERT INTO snapsql VALUES (1, 'one'), (2, 'two')")
    // the exact SQL text the reference's store sends through its passthrough
    val ex = gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    assert(ex.rowsAffected >= 1) // table count exported
    gw.execute("DROP TABLE snapsql")
    gw.execute(s"IMPORT DATABASE '$dir'")
    val res = gw.query("SELECT * FROM snapsql ORDER BY id")
    assert(res.values.map(_.toList) == Seq(List(1, "one"), List(2, "two")))
    // constraint metadata travelled through the SQL statements too
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO snapsql VALUES (1, 'dup')")
    }
  }

  test("COMMENT ON metadata survives EXPORT/IMPORT DATABASE") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-cmt").toString
    gw.execute("DROP TABLE IF EXISTS snapcmt")
    gw.execute("CREATE TABLE snapcmt (id integer, name text)")
    gw.execute("COMMENT ON TABLE snapcmt IS 'a commented table'")
    gw.execute("COMMENT ON COLUMN snapcmt.name IS 'the name'")
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("COMMENT ON TABLE snapcmt IS 'overwritten after export'")
    gw.execute(s"IMPORT DATABASE '$dir'")
    assert(gw.query("SELECT comment FROM duckdb_tables() " +
      "WHERE table_name='snapcmt'").values == Seq(Seq("a commented table")))
    assert(gw.query("SELECT comment FROM duckdb_columns() " +
      "WHERE table_name='snapcmt' AND column_name='name'").values ==
      Seq(Seq("the name")))
    gw.execute("DROP TABLE snapcmt")
  }

  test("ALTER TABLE RENAME COLUMN keeps the constraint registry coherent") {
    gw.execute("DROP TABLE IF EXISTS altt")
    gw.execute("CREATE TABLE altt (id integer not null primary key, name text)")
    gw.execute("INSERT INTO altt VALUES (1, 'a')")
    gw.execute("ALTER TABLE altt RENAME COLUMN id TO doc_id")
    assert(gw.query("SELECT * FROM altt").columns == Seq("doc_id", "name"))
    // PK enforcement follows the renamed column — the stale-registry bug
    // would look the old name up in the new schema and blow up or no-op
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO altt VALUES (1, 'dup')")
    }
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO altt VALUES (NULL, 'n')")
    }
    gw.execute("INSERT INTO altt VALUES (2, 'b')")
    assert(gw.query("SELECT count(*) AS n FROM altt").values.head.head == 2L)
  }

  test("ALTER TABLE DROP COLUMN updates NOT NULL registry, refuses PK columns") {
    gw.execute("DROP TABLE IF EXISTS aldt")
    gw.execute("CREATE TABLE aldt (id integer primary key, tag text not null, note text)")
    gw.execute("INSERT INTO aldt VALUES (1, 't', NULL)")
    // dropping a key column while the constraint stands is an error (DuckDB
    // refuses the same way) — not a silent un-keying
    intercept[IllegalArgumentException] {
      gw.execute("ALTER TABLE aldt DROP COLUMN id")
    }
    gw.execute("ALTER TABLE aldt DROP COLUMN tag")
    assert(gw.query("SELECT * FROM aldt").columns == Seq("id", "note"))
    // the dropped column's NOT NULL must not haunt later inserts
    gw.execute("INSERT INTO aldt VALUES (2, NULL)")
    assert(gw.query("SELECT count(*) AS n FROM aldt").values.head.head == 2L)
  }

  test("DuckDB-only corner types render their declared names (db/db.go:89-93)") {
    gw.execute("DROP TABLE IF EXISTS cornert")
    gw.execute(
      """CREATE TABLE cornert (id uuid, tod time, tz timestamptz,
        |big hugeint, mood ENUM('ok','sad'),
        |bits bit, u UNION(num INTEGER, str VARCHAR))""".stripMargin)
    gw.execute(
      """INSERT INTO cornert VALUES
        |('123e4567-e89b-12d3-a456-426614174000', '03:04:05',
        | TIMESTAMP '2024-01-02 03:04:05', 99999999999999999999999999, 'ok',
        | '10110', 42)""".stripMargin)
    val res = gw.query("SELECT * FROM cornert")
    assert(res.types == Seq("UUID", "TIME", "TIMESTAMP WITH TIME ZONE",
      "HUGEINT", "ENUM('ok','sad')", "BIT",
      "UNION(num INTEGER, str VARCHAR)"), res.types)
    assert(res.values.head(0) == "123e4567-e89b-12d3-a456-426614174000")
    assert(res.values.head(3).toString == "99999999999999999999999999") // > 2^63
    assert(res.values.head(5) == "10110")
    assert(res.values.head(6) == "42") // active member rendered as VARCHAR
    // the declared types survive a DML rewrite (UPDATE swaps the data dir)
    gw.execute("UPDATE cornert SET mood = 'sad' WHERE mood = 'ok'")
    assert(gw.query("SELECT * FROM cornert").types.head == "UUID")
    // ... and an EXPORT/IMPORT round trip (footer-persisted metadata)
    val dir = java.nio.file.Files.createTempDirectory("graft-corner").toString
    gw.execute(s"EXPORT DATABASE '$dir'")
    gw.execute("DROP TABLE cornert")
    gw.execute(s"IMPORT DATABASE '$dir'")
    assert(gw.query("SELECT * FROM cornert").types == Seq("UUID", "TIME",
      "TIMESTAMP WITH TIME ZONE", "HUGEINT", "ENUM('ok','sad')", "BIT",
      "UNION(num INTEGER, str VARCHAR)"))
  }

  test("macro DEFAULT parameters: named-only call contract (probed duck " +
       "binder errors), rollback, and EXPORT/IMPORT round trip") {
    gw.execute("CREATE OR REPLACE MACRO mgreet(nm, punct := '!') " +
      "AS 'hi ' || nm || punct")
    assert(gw.query("SELECT mgreet('duck') AS g").values.head.head == "hi duck!")
    assert(gw.query("SELECT mgreet('duck', punct := '?') AS g")
      .values.head.head == "hi duck?")
    // a default param is NAMED-only: positional overflow is a binder error
    val e1 = intercept[Exception](gw.query("SELECT mgreet('a', '?') AS g"))
    assert(e1.getMessage.contains("requires a single positional argument"),
      e1.getMessage)
    // naming a non-default param is duck's other binder error
    val e2 = intercept[Exception](
      gw.query("SELECT mgreet(punct := '?', nm := 'x') AS g"))
    assert(e2.getMessage.contains("does not have default parameter nm"),
      e2.getMessage)
    // defaults survive EXPORT/IMPORT (manifest carries the default exprs)
    val dir = java.nio.file.Files.createTempDirectory("graft-macrodef").toString
    gw.execute(s"EXPORT DATABASE '$dir'")
    gw.execute("DROP MACRO mgreet")
    gw.execute(s"IMPORT DATABASE '$dir'")
    assert(gw.query("SELECT mgreet('x') AS g").values.head.head == "hi x!")
    // ... and roll back with a transaction's catalog snapshot
    gw.execute("BEGIN TRANSACTION")
    gw.execute("CREATE OR REPLACE MACRO mgreet(nm, punct := '.') AS nm || punct")
    assert(gw.query("SELECT mgreet('y') AS g").values.head.head == "y.")
    gw.execute("ROLLBACK")
    assert(gw.query("SELECT mgreet('x') AS g").values.head.head == "hi x!")
    gw.execute("DROP MACRO mgreet")
  }

  test("column DEFAULTs survive an EXPORT/IMPORT round trip") {
    gw.execute("DROP TABLE IF EXISTS deft")
    gw.execute("CREATE TABLE deft (a integer, b integer DEFAULT 5)")
    gw.execute("ALTER TABLE deft ADD COLUMN c varchar DEFAULT 'x'")
    val dir = java.nio.file.Files.createTempDirectory("graft-defaults").toString
    gw.execute(s"EXPORT DATABASE '$dir'")
    gw.execute("DROP TABLE deft")
    gw.execute(s"IMPORT DATABASE '$dir'")
    gw.execute("INSERT INTO deft (a) VALUES (1)")
    val res = gw.query("SELECT * FROM deft")
    assert(res.values == Seq(Seq(1, 5, "x")), res.values)
    gw.execute("DROP TABLE deft")
  }

  test("reachable type surface round-trips with DuckDB-style type names") {
    gw.execute("DROP TABLE IF EXISTS typet")
    gw.execute(
      """CREATE TABLE typet (b boolean, ti tinyint, si smallint, i integer,
        |bi bigint, f float, d double, dec decimal(10,2), s text,
        |dt date, ts timestamp, arr array<int>, bin binary)""".stripMargin)
    gw.execute(
      """INSERT INTO typet VALUES (true, 1, 2, 3, 4, CAST(1.5 AS FLOAT), 2.5,
        |CAST(9.99 AS DECIMAL(10,2)), 'x', DATE '2024-01-02',
        |TIMESTAMP '2024-01-02 03:04:05', array(1,2), X'BEEF')""".stripMargin)
    val res = gw.query("SELECT * FROM typet")
    assert(res.types == Seq("BOOLEAN", "TINYINT", "SMALLINT", "INTEGER",
      "BIGINT", "FLOAT", "DOUBLE", "DECIMAL(10,2)", "VARCHAR",
      "DATE", "TIMESTAMP", "INTEGER[]", "BLOB"))
    assert(res.values.length == 1)
  }

  test("INSERT INTO t (SELECT ...) goes through the checked path — no constraint bypass") {
    gw.execute("DROP TABLE IF EXISTS bypass_src")
    gw.execute("DROP TABLE IF EXISTS bypass_dst")
    gw.execute("CREATE TABLE bypass_src (id integer, name text)")
    gw.execute("CREATE TABLE bypass_dst (id integer not null primary key, name text)")
    gw.execute("INSERT INTO bypass_src VALUES (1, 'a'), (1, 'b')")
    // paren-wrapped SELECT source (DuckDB-legal) with an in-batch dup PK:
    // the old first-`)` regex let this fall through to raw passthrough
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO bypass_dst (SELECT * FROM bypass_src)")
    }
    assert(gw.query("SELECT count(*) AS n FROM bypass_dst").values.head.head == 0L)
    gw.execute("INSERT INTO bypass_dst (SELECT 5, 'ok')")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO bypass_dst (SELECT 5, 'dup')") // key exists
    }
    assert(gw.query("SELECT count(*) AS n FROM bypass_dst").values.head.head == 1L)
  }

  test("CREATE TABLE IF NOT EXISTS on an existing table is a no-op keeping constraints") {
    gw.execute("DROP TABLE IF EXISTS ine")
    gw.execute("CREATE TABLE ine (id integer not null primary key, name text)")
    gw.execute("INSERT INTO ine VALUES (1, 'x')")
    gw.execute("CREATE TABLE IF NOT EXISTS ine (id integer, name text)")
    assert(gw.query("SELECT count(*) AS n FROM ine").values.head.head == 1L)
    intercept[IllegalArgumentException] { gw.execute("INSERT INTO ine VALUES (1, 'dup')") }
  }

  test("CREATE TABLE AS SELECT creates the table and reports the row count") {
    gw.execute("DROP TABLE IF EXISTS ctas_src")
    gw.execute("DROP TABLE IF EXISTS ctas_t")
    gw.execute("CREATE TABLE ctas_src (id integer, v integer)")
    gw.execute("INSERT INTO ctas_src VALUES (1,10),(2,20),(3,30)")
    val r = gw.execute("CREATE TABLE ctas_t AS SELECT id, v * 2 AS v2 FROM ctas_src WHERE id > 1")
    assert(r.rowsAffected == 2)
    // a CTAS table carries no constraints: re-inserting a seen id is fine
    gw.execute("INSERT INTO ctas_t VALUES (2, 40)")
    assert(gw.query("SELECT count(*) AS n FROM ctas_t").values.head.head == 3L)
  }

  test("INSERT ... ON CONFLICT DO NOTHING keeps non-conflicting rows") {
    gw.execute("DROP TABLE IF EXISTS upsert")
    gw.execute("CREATE TABLE upsert (id integer not null primary key, name text)")
    gw.execute("INSERT INTO upsert VALUES (1, 'orig')")
    val r = gw.execute(
      "INSERT INTO upsert VALUES (1, 'dup'), (2, 'new'), (2, 'batchdup'), (3, 'new2') ON CONFLICT DO NOTHING")
    assert(r.rowsAffected == 2) // only ids 2 and 3 land
    assert(gw.query("SELECT count(*) AS n FROM upsert").values.head.head == 3L)
    // the existing row is untouched
    assert(gw.query("SELECT name FROM upsert WHERE id = 1").values.head.head == "orig")
  }

  test("INSERT ... ON CONFLICT DO UPDATE merges via excluded.<col>") {
    gw.execute("DROP TABLE IF EXISTS merge_t")
    gw.execute("CREATE TABLE merge_t (id integer not null primary key, name text, hits integer)")
    gw.execute("INSERT INTO merge_t VALUES (1, 'a', 1), (2, 'b', 5)")
    val r = gw.execute(
      "INSERT INTO merge_t VALUES (1, 'a2', 100), (3, 'c', 1) " +
        "ON CONFLICT DO UPDATE SET name = excluded.name, hits = hits + 1")
    assert(r.rowsAffected == 2)
    val rows = gw.query("SELECT id, name, hits FROM merge_t ORDER BY id").values
    assert(rows == Seq(Seq(1, "a2", 2), Seq(2, "b", 5), Seq(3, "c", 1)))
    // unknown column in the SET list is rejected
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO merge_t VALUES (9, 'x', 0) ON CONFLICT DO UPDATE SET nope = 1")
    }
  }

  test("DO NOTHING keeps the FIRST in-batch occurrence of a duplicated key") {
    gw.execute("DROP TABLE IF EXISTS firstocc")
    gw.execute("CREATE TABLE firstocc (id integer not null primary key, name text)")
    gw.execute(
      "INSERT INTO firstocc VALUES (1, 'first'), (1, 'second'), (1, 'third') ON CONFLICT DO NOTHING")
    assert(gw.query("SELECT name FROM firstocc WHERE id = 1").values.head.head == "first")
  }

  test("DO UPDATE leaves `excluded.` inside string literals untouched") {
    gw.execute("DROP TABLE IF EXISTS exlit")
    gw.execute("CREATE TABLE exlit (id integer not null primary key, note text)")
    gw.execute("INSERT INTO exlit VALUES (1, 'old')")
    gw.execute(
      "INSERT INTO exlit VALUES (1, 'ignored') " +
        "ON CONFLICT DO UPDATE SET note = 'see excluded.note docs'")
    assert(gw.query("SELECT note FROM exlit WHERE id = 1").values.head.head
      == "see excluded.note docs")
    // ...while a real qualifier next to a literal still binds the batch row
    gw.execute(
      "INSERT INTO exlit VALUES (1, 'new') " +
        "ON CONFLICT DO UPDATE SET note = concat('got: ', excluded.note)")
    assert(gw.query("SELECT note FROM exlit WHERE id = 1").values.head.head == "got: new")
  }

  test("INSERT OR REPLACE swaps the conflicting row; OR IGNORE keeps it") {
    gw.execute("DROP TABLE IF EXISTS orrep")
    gw.execute("CREATE TABLE orrep (id integer not null primary key, name text, v integer)")
    gw.execute("INSERT INTO orrep VALUES (1, 'a', 10), (2, 'b', 20)")
    val r = gw.execute("INSERT OR REPLACE INTO orrep VALUES (2, 'B2', 99), (3, 'c', 30)")
    assert(r.rowsAffected == 2)
    val rows = gw.query("SELECT id, name, v FROM orrep ORDER BY id").values
    assert(rows == Seq(Seq(1, "a", 10), Seq(2, "B2", 99), Seq(3, "c", 30)))
    val r2 = gw.execute("INSERT OR IGNORE INTO orrep VALUES (1, 'zzz', 0), (4, 'd', 40)")
    assert(r2.rowsAffected == 1) // only id 4 lands
    assert(gw.query("SELECT name FROM orrep WHERE id = 1").values.head.head == "a")
    // OR REPLACE without a PK is rejected (DuckDB requires a conflict target)
    gw.execute("DROP TABLE IF EXISTS nopk")
    gw.execute("CREATE TABLE nopk (id integer)")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT OR REPLACE INTO nopk VALUES (1)")
    }
  }

  test("UPDATE with an unknown SET column throws instead of silently succeeding") {
    gw.execute("DROP TABLE IF EXISTS typo")
    gw.execute("CREATE TABLE typo (id integer, v integer)")
    gw.execute("INSERT INTO typo VALUES (1, 1)")
    intercept[IllegalArgumentException] { gw.execute("UPDATE typo SET typo_col = 2") }
    assert(gw.query("SELECT v FROM typo").values.head.head == 1)
  }

  test("SUMMARIZE profiles every column of a table") {
    gw.execute("DROP TABLE IF EXISTS prof")
    gw.execute("CREATE TABLE prof (id integer, name text)")
    gw.execute("INSERT INTO prof VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    val r = gw.query("SUMMARIZE prof")
    assert(r.columns == Seq("column_name", "column_type", "min", "max",
      "approx_unique", "null_count", "count"))
    assert(r.values.length == 2)
    val byCol = r.values.map(v => v.head -> v).toMap
    assert(byCol("id") == Seq("id", "INT", "1", "3", 3L, 0L, 3L))
    assert(byCol("name") == Seq("name", "STRING", "a", "b", 2L, 1L, 3L))
  }

  test("PIVOT and UNPIVOT statements rewrite to Spark pivot/unpivot") {
    gw.execute("DROP TABLE IF EXISTS pvt")
    gw.execute("CREATE TABLE pvt (region text, quarter text, amount integer)")
    gw.execute(
      "INSERT INTO pvt VALUES ('east','q1',10), ('east','q2',20), ('west','q1',5), ('west','q1',7)")
    val p = gw.query("PIVOT pvt ON quarter USING sum(amount)")
    assert(p.columns == Seq("region", "q1", "q2"))
    val rows = p.values.map(v => v.head -> v.tail).toMap
    assert(rows("east") == Seq(10L, 20L) && rows("west") == Seq(12L, null))
    // round-trip back to long form
    gw.execute("DROP TABLE IF EXISTS wide")
    gw.execute("CREATE TABLE wide (region text, q1 integer, q2 integer)")
    gw.execute("INSERT INTO wide VALUES ('east', 10, 20)")
    val u = gw.query("UNPIVOT wide ON q1, q2 INTO NAME quarter VALUE amount")
    assert(u.columns == Seq("region", "quarter", "amount"))
    assert(u.values.map(_.toSeq).toSet ==
      Set(Seq("east", "q1", 10), Seq("east", "q2", 20)))
  }

  test("TABLESAMPLE and EXPLAIN are reachable through the gateway") {
    gw.execute("DROP TABLE IF EXISTS samp")
    gw.execute("CREATE TABLE samp (id integer)")
    gw.execute("INSERT INTO samp VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)")
    val s = gw.query("SELECT * FROM samp TABLESAMPLE (50 PERCENT)")
    assert(s.values.length <= 10)
    val e = gw.query("EXPLAIN SELECT count(*) FROM samp")
    assert(e.values.nonEmpty && e.values.head.head.toString.contains("Physical Plan"))
  }

  test("error paths: bad arity, unknown table, malformed SQL all surface cleanly") {
    gw.execute("DROP TABLE IF EXISTS errt")
    gw.execute("CREATE TABLE errt (id integer, name text)")
    intercept[Exception] { gw.execute("INSERT INTO errt VALUES (1, 'a', 'extra')") }
    intercept[Exception] { gw.query("SELECT * FROM table_that_isnt") }
    intercept[Exception] { gw.query("SELEKT broken") }
    // gateway still works after errors
    gw.execute("INSERT INTO errt VALUES (1, 'ok')")
    assert(gw.query("SELECT count(*) AS n FROM errt").values.head.head == 1L)
  }

  test("status reports engine and catalog facts") {
    val st = Snapshot.status(gw)
    assert(st("engine") == "spark")
    assert(st("version").startsWith("4."))
    assert(st.contains("uptimeMs"))
  }

  test("COPY TO / COPY FROM round trip: parquet and CSV, through SQL text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-copy").toString
    gw.execute("DROP TABLE IF EXISTS cpt")
    gw.execute("CREATE TABLE cpt (id integer not null primary key, name text)")
    gw.execute("INSERT INTO cpt VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    // table → parquet → fresh table
    val out = gw.execute(s"COPY cpt TO '$dir/cpt_pq' (FORMAT PARQUET)")
    assert(out.rowsAffected == 3)
    gw.execute("DROP TABLE IF EXISTS cpt2")
    gw.execute("CREATE TABLE cpt2 (id integer not null primary key, name text)")
    val in = gw.execute(s"COPY cpt2 FROM '$dir/cpt_pq' (FORMAT PARQUET)")
    assert(in.rowsAffected == 3)
    assert(gw.query("SELECT count(*) AS n FROM cpt2").values.head.head == 3L)

    // query form → CSV with header → append into existing table
    val q = gw.execute(s"COPY (SELECT id + 10 AS id, name FROM cpt) TO '$dir/cpt_csv' (FORMAT CSV, HEADER)")
    assert(q.rowsAffected == 3)
    val csvIn = gw.execute(s"COPY cpt2 FROM '$dir/cpt_csv' (FORMAT CSV, HEADER)")
    assert(csvIn.rowsAffected == 3)
    assert(gw.query("SELECT count(*) AS n FROM cpt2").values.head.head == 6L)
  }

  test("COPY FROM enforces the table's PRIMARY KEY like any insert") {
    val dir = java.nio.file.Files.createTempDirectory("graft-copy2").toString
    gw.execute("DROP TABLE IF EXISTS cpk")
    gw.execute("CREATE TABLE cpk (id integer not null primary key, name text)")
    gw.execute("INSERT INTO cpk VALUES (1, 'a')")
    gw.execute(s"COPY cpk TO '$dir/dup' (FORMAT PARQUET)")
    intercept[IllegalArgumentException] {
      gw.execute(s"COPY cpk FROM '$dir/dup' (FORMAT PARQUET)") // id=1 again
    }
    assert(gw.query("SELECT count(*) AS n FROM cpk").values.head.head == 1L)
  }

  test("read_parquet table function in pure SQL text (db/db.go:70 idiom)") {
    val res = gw.query(
      s"SELECT count(*) AS n, count(DISTINCT source) AS s FROM read_parquet('$sfDir/documents.parquet')")
    assert(res.columns == Seq("n", "s"))
    assert(res.values.head.head.asInstanceOf[Long] > 0)
    // joins against registered tables work too, and a read_* inside a
    // string literal is NOT rewritten
    val lit = gw.query("SELECT 'use read_parquet(''x'') here' AS msg")
    assert(lit.values.head.head.toString.contains("read_parquet"))
  }

  test("read_csv / read_json table functions over written files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readfn").toString
    gw.execute("DROP TABLE IF EXISTS rft")
    gw.execute("CREATE TABLE rft (id integer, name text)")
    gw.execute("INSERT INTO rft VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    gw.execute(s"COPY rft TO '$dir/rf_csv' (FORMAT CSV, HEADER)")
    gw.execute(s"COPY rft TO '$dir/rf_json' (FORMAT JSON)")
    val c = gw.query(s"SELECT count(*) AS n FROM read_csv('$dir/rf_csv', header=true)")
    assert(c.values.head.head == 3L)
    val j = gw.query(
      s"SELECT sum(id) AS s FROM read_json('$dir/rf_json') WHERE name <> 'a'")
    assert(j.values.head.head == 5L)
    // CTAS from a file path — the ad-hoc ingest idiom
    gw.execute("DROP TABLE IF EXISTS rft2")
    val ct = gw.execute(
      s"CREATE TABLE rft2 AS SELECT * FROM read_csv('$dir/rf_csv') WHERE id >= 2")
    assert(ct.rowsAffected == 2)
  }

  test("CHECK constraints enforce on insert/update, pass NULL, survive snapshots") {
    gw.execute("DROP TABLE IF EXISTS ckt")
    gw.execute(
      "CREATE TABLE ckt (id integer primary key, qty integer CHECK (qty >= 0), " +
        "lo integer, hi integer, CHECK (lo <= hi))")
    gw.execute("INSERT INTO ckt VALUES (1, 5, 1, 10)")
    // FALSE fails — column-level and table-level
    intercept[IllegalArgumentException] { gw.execute("INSERT INTO ckt VALUES (2, -1, 1, 10)") }
    intercept[IllegalArgumentException] { gw.execute("INSERT INTO ckt VALUES (2, 5, 10, 1)") }
    // NULL passes (SQL semantics)
    gw.execute("INSERT INTO ckt VALUES (3, NULL, NULL, 2)")
    assert(gw.query("SELECT count(*) AS n FROM ckt").values.head.head == 2L)
    // UPDATE must not break a CHECK either
    intercept[IllegalArgumentException] { gw.execute("UPDATE ckt SET qty = -7 WHERE id = 1") }
    gw.execute("UPDATE ckt SET qty = 9 WHERE id = 1")
    // ALTER refuses to orphan a CHECK's column; dropping an unreferenced one is fine
    intercept[IllegalArgumentException] { gw.execute("ALTER TABLE ckt DROP COLUMN qty") }
    // checks survive EXPORT/IMPORT DATABASE
    val dir = java.nio.file.Files.createTempDirectory("graft-cksnap").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP TABLE ckt")
    gw.execute(s"IMPORT DATABASE '$dir'")
    intercept[IllegalArgumentException] { gw.execute("INSERT INTO ckt VALUES (4, -3, 1, 2)") }
    gw.execute("INSERT INTO ckt VALUES (4, 3, 1, 2)")
    assert(gw.query("SELECT count(*) AS n FROM ckt").values.head.head == 3L)
  }

  test("TRUNCATE empties the table and reports the removed count") {
    gw.execute("DROP TABLE IF EXISTS trc")
    gw.execute("CREATE TABLE trc (id integer)")
    gw.execute("INSERT INTO trc VALUES (1), (2), (3)")
    assert(gw.execute("TRUNCATE trc").rowsAffected == 3)
    assert(gw.query("SELECT count(*) AS n FROM trc").values.head.head == 0L)
  }

  test("sequences: nextval/currval in VALUES and scalar reads; SELECT-source refused") {
    gw.execute("DROP TABLE IF EXISTS seqt")
    gw.execute("DROP SEQUENCE IF EXISTS ids")
    gw.execute("CREATE SEQUENCE ids START WITH 10 INCREMENT BY 5")
    gw.execute("CREATE TABLE seqt (id bigint, name text)")
    gw.execute("INSERT INTO seqt VALUES (nextval('ids'), 'a'), (nextval('ids'), 'b')")
    assert(gw.query("SELECT id FROM seqt ORDER BY id").values.map(_.head) ==
      Seq(10L, 15L))
    // currval = last handed-out value; scalar nextval through the read path
    assert(gw.query("SELECT currval('ids') AS c").values.head.head == 15L)
    assert(gw.query("SELECT nextval('ids') AS n").values.head.head == 20L)
    // a SELECT source would bind ONE literal for every row — refused
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO seqt SELECT nextval('ids'), name FROM seqt")
    }
    intercept[IllegalArgumentException] { gw.query("SELECT nextval('nope')") }
    gw.execute("DROP SEQUENCE ids")
    intercept[IllegalArgumentException] { gw.query("SELECT nextval('ids')") }
  }

  test("scalar macros expand in queries and DML, including nested macros") {
    gw.execute("DROP TABLE IF EXISTS mct")
    gw.execute("CREATE MACRO plus_one(x) AS x + 1")
    gw.execute("CREATE MACRO double_inc(v) AS plus_one(v) * 2")
    gw.execute("CREATE TABLE mct (a integer, b integer)")
    gw.execute("INSERT INTO mct VALUES (1, plus_one(1)), (2, double_inc(2))")
    assert(gw.query("SELECT b FROM mct ORDER BY a").values.map(_.head) ==
      Seq(2, 6))
    // precedence: substituted args stay parenthesized
    assert(gw.query("SELECT plus_one(2) * 3 AS r").values.head.head == 9)
    intercept[IllegalArgumentException] { gw.query("SELECT plus_one(1, 2)") }
    // a macro name inside a string literal is NOT an invocation
    assert(gw.query("SELECT 'plus_one(9)' AS s").values.head.head == "plus_one(9)")
    gw.execute("DROP MACRO double_inc")
    intercept[IllegalArgumentException] { gw.execute("DROP MACRO double_inc") }
  }

  test("UNIQUE INDEX verifies at creation and enforces on insert/update") {
    gw.execute("DROP TABLE IF EXISTS uit")
    gw.execute("CREATE TABLE uit (id integer primary key, email text, bio text)")
    gw.execute("INSERT INTO uit VALUES (1, 'a@x', 'one'), (2, 'b@x', 'two'), (3, NULL, 'n1'), (4, NULL, 'n2')")
    // NULLs are distinct — creation succeeds despite two NULL emails
    gw.execute("CREATE UNIQUE INDEX uix ON uit (email)")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO uit VALUES (5, 'a@x', 'dup')")
    }
    intercept[IllegalArgumentException] {
      gw.execute("UPDATE uit SET email = 'b@x' WHERE id = 1")
    }
    gw.execute("INSERT INTO uit VALUES (5, 'c@x', 'ok'), (6, NULL, 'n3')")
    assert(gw.query("SELECT count(*) AS n FROM uit").values.head.head == 6L)
    // a non-unique index is metadata only (results unchanged); duplicate
    // index names are refused; creation over duplicate data is refused
    gw.execute("CREATE INDEX bix ON uit (bio)")
    intercept[IllegalArgumentException] { gw.execute("CREATE INDEX bix ON uit (bio)") }
    gw.execute("DROP INDEX uix")
    gw.execute("INSERT INTO uit VALUES (7, 'a@x', 'now fine')")
    intercept[IllegalArgumentException] {
      gw.execute("CREATE UNIQUE INDEX uix2 ON uit (email)")
    }
  }

  test("PRAGMA table_info and show_tables") {
    gw.execute("DROP TABLE IF EXISTS prg")
    gw.execute("CREATE TABLE prg (id integer not null primary key, v text)")
    val info = gw.query("PRAGMA table_info('prg')")
    assert(info.columns == Seq("cid", "name", "type", "notnull", "dflt_value", "pk"))
    assert(info.values.map(r => (r(1), r(3), r(5))) ==
      Seq(("id", true, true), ("v", false, false)))
    val names = gw.query("PRAGMA show_tables").values.map(_.head.toString)
    assert(names.contains("prg"))
  }

  test("PREPARE/EXECUTE/DEALLOCATE bind positional parameters") {
    gw.execute("DROP TABLE IF EXISTS pst")
    gw.execute("CREATE TABLE pst (id integer, name text)")
    gw.execute("PREPARE ins AS INSERT INTO pst VALUES ($1, $2)")
    gw.execute("EXECUTE ins(1, 'alpha')")
    gw.execute("EXECUTE ins(2, 'beta')")
    gw.execute("PREPARE firstn AS SELECT name FROM pst WHERE id = ?")
    assert(gw.query("EXECUTE firstn(2)").values.head.head == "beta")
    gw.execute("DEALLOCATE ins")
    intercept[IllegalArgumentException] { gw.execute("EXECUTE ins(3, 'c')") }
  }

  test("transactions: COMMIT applies atomically, ROLLBACK discards") {
    gw.execute("DROP TABLE IF EXISTS txa")
    gw.execute("DROP TABLE IF EXISTS txb")
    gw.execute("CREATE TABLE txa (id integer primary key, v text)")
    gw.execute("INSERT INTO txa VALUES (1, 'base')")
    // rollback: multi-statement work on two tables disappears wholesale
    gw.execute("BEGIN")
    gw.execute("INSERT INTO txa VALUES (2, 'txn')")
    gw.execute("UPDATE txa SET v = 'mut' WHERE id = 1")
    gw.execute("CREATE TABLE txb AS SELECT * FROM txa")
    // own-writes visibility inside the txn
    assert(gw.query("SELECT count(*) AS n FROM txa").values.head.head == 2L)
    assert(gw.query("SELECT count(*) AS n FROM txb").values.head.head == 2L)
    // …while a SEPARATE SparkSession (= another connection) still reads
    // the pre-txn snapshot: the catalog location is untouched until COMMIT
    assert(spark.newSession().table("txa").count() == 1L)
    gw.execute("ROLLBACK")
    assert(gw.query("SELECT v FROM txa ORDER BY id").values.map(_.head) == Seq("base"))
    assert(!spark.catalog.tableExists("txb"))
    // commit: the same shape sticks
    gw.execute("BEGIN TRANSACTION")
    gw.execute("INSERT INTO txa VALUES (2, 'txn')")
    gw.execute("DELETE FROM txa WHERE id = 1")
    gw.execute("COMMIT")
    assert(gw.query("SELECT v FROM txa ORDER BY id").values.map(_.head) == Seq("txn"))
    // constraint enforcement still applies inside a txn
    gw.execute("BEGIN")
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO txa VALUES (2, 'dup pk')")
    }
    gw.execute("ROLLBACK")
    // protocol errors
    intercept[IllegalStateException] { gw.execute("COMMIT") }
    intercept[IllegalStateException] { gw.execute("ROLLBACK") }
    gw.execute("BEGIN")
    intercept[IllegalStateException] { gw.execute("BEGIN") }
    intercept[IllegalArgumentException] { gw.execute("DROP TABLE txa") }
    gw.execute("ROLLBACK")
  }

  test("transactional appends stay O(batch): delta dirs, rename-commit") {
    gw.execute("DROP TABLE IF EXISTS txd")
    gw.execute("CREATE TABLE txd (id integer primary key, v text)")
    gw.execute("INSERT INTO txd VALUES (1, 'pre')")
    // append-only txn: no table rewrite anywhere; commit renames the
    // delta part files into the live dir (metadata ops)
    gw.execute("BEGIN")
    gw.execute("INSERT INTO txd VALUES (2, 'd1')")
    gw.execute("INSERT INTO txd VALUES (3, 'd2')")
    // own-writes: the txn sees base ∪ deltas; PK checks run against both
    assert(gw.query("SELECT count(*) AS n FROM txd").values.head.head == 3L)
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO txd VALUES (2, 'dup of delta row')")
    }
    // another connection still sees only the pre-txn row
    assert(spark.newSession().table("txd").count() == 1L)
    gw.execute("COMMIT")
    assert(gw.query("SELECT v FROM txd ORDER BY id").values.map(_.head) ==
      Seq("pre", "d1", "d2"))
    assert(spark.newSession().table("txd").count() == 3L)
    // rolled-back deltas vanish without the live dir ever changing
    gw.execute("BEGIN")
    gw.execute("INSERT INTO txd VALUES (4, 'gone')")
    gw.execute("ROLLBACK")
    assert(gw.query("SELECT count(*) AS n FROM txd").values.head.head == 3L)
    // append then UPDATE folds the deltas into the rewrite and still commits
    gw.execute("BEGIN")
    gw.execute("INSERT INTO txd VALUES (4, 'd3')")
    gw.execute("UPDATE txd SET v = 'mut' WHERE id = 1")
    gw.execute("COMMIT")
    assert(gw.query("SELECT v FROM txd ORDER BY id").values.map(_.head) ==
      Seq("mut", "d1", "d2", "d3"))
  }

  test("an INSERT after an UPDATE in a transaction adds a delta dir; " +
       "ROLLBACK drops both, COMMIT applies both") {
    gw.execute("DROP TABLE IF EXISTS txu")
    gw.execute("CREATE TABLE txu (id integer, v text)")
    gw.execute("INSERT INTO txu VALUES (1, 'a'), (2, 'b')")
    def rows(s: org.apache.spark.sql.SparkSession) = s.table("txu").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    def dirs = gw.spark.table("txu").inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    val before = Seq((1, "a"), (2, "b"))
    val after = Seq((1, "x"), (2, "b"), (3, "c"))
    for (end <- Seq("ROLLBACK", "COMMIT")) {
      gw.execute("BEGIN")
      gw.execute("UPDATE txu SET v = 'x' WHERE id = 1")
      val rewritten = dirs
      gw.execute("INSERT INTO txu VALUES (3, 'c')")
      // the batch lands beside the rewrite, not in a new version of it
      assert(rewritten.size == 1 && dirs == rewritten + s"${rewritten.head}_txd0",
        (rewritten, dirs))
      assert(rows(gw.spark) == after)
      // another connection reads the pre-transaction rows until COMMIT
      assert(rows(spark.newSession()) == before)
      gw.execute(end)
      val kept = if (end == "COMMIT") after else before
      assert(rows(gw.spark) == kept && rows(spark.newSession()) == kept, end)
    }
    assert(dirs.size == 1) // COMMIT moved the delta's part files into the version
  }

  test("CREATE TYPE names an ENUM usable in DDL; EXPLAIN ANALYZE runs with timers") {
    gw.execute("DROP TABLE IF EXISTS ty")
    gw.execute("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    intercept[IllegalArgumentException] {
      gw.execute("CREATE TYPE mood AS ENUM ('x')")
    }
    gw.execute("CREATE TABLE ty (id integer, m mood)")
    gw.execute("INSERT INTO ty VALUES (1, 'happy')")
    // the declared type name is the ENUM definition (DatabaseTypeName
    // fidelity, like inline ENUM columns)
    val res = gw.query("SELECT m FROM ty")
    assert(res.types.head.startsWith("ENUM"))
    assert(res.values.head.head == "happy")
    gw.execute("DROP TYPE mood")
    intercept[IllegalArgumentException] { gw.execute("DROP TYPE mood") }
    val ea = gw.query("EXPLAIN ANALYZE SELECT count(*) AS n FROM ty")
    assert(ea.columns == Seq("explain_key", "explain_value"))
    val kv = ea.values.map(r => r(0).toString -> r(1).toString).toMap
    // a small table's count folds on the driver: the executed plan scans
    // its result; an aggregate that keeps its job shows it
    assert(kv("analyzed_plan").contains("LocalTableScan"))
    assert(kv("runtime_s").toDouble >= 0.0)
    val distinct = gw.query("EXPLAIN ANALYZE SELECT count(DISTINCT m) AS n FROM ty")
    assert(distinct.values.head(1).toString.contains("Aggregate"))
  }

  test("sequences, macros, and indexes survive EXPORT/IMPORT DATABASE") {
    gw.execute("DROP TABLE IF EXISTS snapm")
    gw.execute("DROP SEQUENCE IF EXISTS snap_ids")
    gw.execute("CREATE TABLE snapm (id bigint, email text)")
    gw.execute("CREATE SEQUENCE snap_ids START WITH 7")
    gw.execute("CREATE MACRO snap_twice(x) AS x * 2")
    gw.execute("CREATE UNIQUE INDEX snap_uix ON snapm (email)")
    gw.execute("INSERT INTO snapm VALUES (nextval('snap_ids'), 'a@x')")
    val dir = java.nio.file.Files.createTempDirectory("graft-metasnap").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP TABLE snapm")
    gw.execute("DROP SEQUENCE snap_ids")
    gw.execute("DROP MACRO snap_twice")
    gw.execute(s"IMPORT DATABASE '$dir'")
    // sequence continues where it left off; macro and unique index enforce
    gw.execute("INSERT INTO snapm VALUES (nextval('snap_ids'), 'b@x')")
    assert(gw.query("SELECT id FROM snapm ORDER BY id").values.map(_.head) ==
      Seq(7L, 8L))
    assert(gw.query("SELECT snap_twice(21) AS r").values.head.head == 42)
    intercept[IllegalArgumentException] {
      gw.execute("INSERT INTO snapm VALUES (9, 'a@x')")
    }
  }

  test("CHECKPOINT/VACUUM no-op; ANALYZE computes real stats; SET/current_setting") {
    gw.execute("DROP TABLE IF EXISTS anz")
    gw.execute("CREATE TABLE anz (id integer, v text)")
    gw.execute("INSERT INTO anz VALUES (1, 'a'), (2, 'b')")
    assert(gw.execute("CHECKPOINT").rowsAffected == 0)
    assert(gw.execute("VACUUM").rowsAffected == 0)
    assert(gw.execute("ANALYZE anz").rowsAffected == 1)
    // the statistics are real: the catalog entry now carries a row count
    val statLine = spark.sql("DESCRIBE TABLE EXTENDED anz").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1)).getOrElse("")
    assert(statLine.contains("2 rows"), s"catalog stats: $statLine")
    gw.execute("SET memory_limit = '2GB'")
    assert(gw.query("SELECT current_setting('memory_limit') AS m")
      .values.head.head == "2GB")
    gw.execute("RESET memory_limit")
    intercept[IllegalArgumentException] {
      gw.query("SELECT current_setting('memory_limit')")
    }
  }

  test("DESCRIBE reports declared DuckDB types, nullability, and PK flag") {
    gw.execute("DROP TABLE IF EXISTS dsc")
    gw.execute(
      "CREATE TABLE dsc (id integer not null primary key, tag uuid, note text)")
    val d = gw.query("DESCRIBE dsc")
    assert(d.columns == Seq("column_name", "column_type", "null", "key", "default", "extra"))
    val byName = d.values.map(r => r.head -> r).toMap
    assert(byName("id")(1) == "INTEGER" && byName("id")(2) == "NO" && byName("id")(3) == "PRI")
    assert(byName("tag")(1) == "UUID" && byName("tag")(2) == "YES" && byName("tag")(3) == null)
    assert(byName("note")(1) == "VARCHAR")
    // Spark's own SHOW statements still pass through untouched
    assert(gw.query("SHOW TABLES").columns.nonEmpty)
  }

  test("COPY TO PARTITION_BY writes hive layout; filters prune directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-copypart").toString
    gw.execute("DROP TABLE IF EXISTS cpp")
    gw.execute("CREATE TABLE cpp (id integer, grp text)")
    gw.execute("INSERT INTO cpp VALUES (1,'a'), (2,'a'), (3,'b'), (4,'c')")
    val out = gw.execute(
      s"COPY cpp TO '$dir/part' (FORMAT PARQUET, PARTITION_BY (grp))")
    assert(out.rowsAffected == 4)
    // key=value directories exist — the pruning lever
    val dirs = new java.io.File(s"$dir/part").listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("grp=a", "grp=b", "grp=c"))
    val back = gw.query(s"SELECT count(*) AS n FROM read_parquet('$dir/part') WHERE grp = 'a'")
    assert(back.values.head.head == 2L)
  }

  test("views bind lazily with full duck-dialect bodies (subscripts, //)") {
    gw.execute("DROP TABLE IF EXISTS vlz")
    gw.execute("CREATE TABLE vlz (a integer, l integer[])")
    gw.execute("INSERT INTO vlz VALUES (1, [10, 20]), (2, [30])")
    // body uses 1-based subscripts and integer // — both plan-level
    // passes a Spark catalog view would silently lose
    gw.execute("CREATE VIEW vlzv AS SELECT a, l[1] AS hd, a // 2 AS h FROM vlz")
    assert(gw.query("SELECT hd FROM vlzv ORDER BY a").values.map(_.head) ==
      Seq(10L, 30L))
    // lazy re-bind: a later insert is visible (DuckDB probed)
    gw.execute("INSERT INTO vlz VALUES (3, [40])")
    assert(gw.query("SELECT count(*) AS n FROM vlzv").values.head.head == 3L)
    // view-on-view with a partial alias list: aliases rename the LEADING
    // columns, the rest keep their names (DuckDB probed)
    gw.execute("CREATE VIEW vlzw(x) AS SELECT hd, h FROM vlzv")
    assert(gw.query("SELECT max(x) AS m FROM vlzw").values.head.head == 40L)
    assert(gw.query("SELECT * FROM vlzw").columns == Seq("x", "h"))
    val tooMany = intercept[Exception] {
      gw.execute("CREATE VIEW vlzbad(p, q, r) AS SELECT a FROM vlz") }
    assert(tooMany.getMessage.contains("More VIEW aliases"))
    gw.execute("DROP VIEW vlzw"); gw.execute("DROP VIEW vlzv")
    gw.execute("DROP TABLE vlz")
  }

  test("view/table name conflicts and recursion refuse like DuckDB") {
    gw.execute("DROP TABLE IF EXISTS vnc")
    gw.execute("CREATE TABLE vnc (a integer)")
    gw.execute("INSERT INTO vnc VALUES (1)")
    gw.execute("CREATE VIEW vncv AS SELECT a FROM vnc")
    assert(intercept[Exception] { gw.execute("CREATE VIEW vncv AS SELECT 2") }
      .getMessage.contains("already exists"))
    gw.execute("CREATE VIEW IF NOT EXISTS vncv AS SELECT 2") // no-op
    assert(gw.query("SELECT a FROM vncv").values.head.head == 1L)
    assert(intercept[Exception] { gw.execute("CREATE TABLE vncv (z integer)") }
      .getMessage.contains("type View"))
    assert(intercept[Exception] { gw.execute("DROP TABLE vncv") }
      .getMessage.contains("type View"))
    assert(intercept[Exception] { gw.execute("DROP VIEW vnc") }
      .getMessage.contains("type Table"))
    assert(intercept[Exception] { gw.execute("DROP VIEW vgone") }
      .getMessage.contains("does not exist"))
    gw.execute("DROP VIEW IF EXISTS vgone") // no-op
    // OR REPLACE binds against the PRE-replace catalog; querying the
    // now-self-referencing view raises DuckDB's recursion error (probed)
    gw.execute("CREATE OR REPLACE VIEW vncv AS SELECT a FROM vncv")
    assert(intercept[Exception] { gw.query("SELECT * FROM vncv") }
      .getMessage.contains("infinite recursion"))
    gw.execute("DROP VIEW vncv") // a broken view stays droppable
    // base drop breaks the view loudly; recreate rebinds it (probed)
    gw.execute("CREATE VIEW vncd AS SELECT a FROM vnc")
    gw.execute("DROP TABLE vnc")
    intercept[Exception] { gw.query("SELECT * FROM vncd") }
    gw.execute("CREATE TABLE vnc (a integer)")
    gw.execute("INSERT INTO vnc VALUES (7)")
    assert(gw.query("SELECT a FROM vncd").values.head.head == 7L)
    gw.execute("DROP VIEW vncd"); gw.execute("DROP TABLE vnc")
  }

  test("views see transaction own-writes and survive EXPORT/IMPORT") {
    gw.execute("DROP TABLE IF EXISTS vtx")
    gw.execute("CREATE TABLE vtx (a integer)")
    gw.execute("INSERT INTO vtx VALUES (1)")
    gw.execute("CREATE VIEW vtxv AS SELECT a * 10 AS d FROM vtx")
    gw.execute("BEGIN")
    gw.execute("INSERT INTO vtx VALUES (2)")
    // DuckDB probed: a view queried inside a txn sees the txn's writes
    assert(gw.query("SELECT count(*) AS n FROM vtxv").values.head.head == 2L)
    gw.execute("ROLLBACK")
    assert(gw.query("SELECT count(*) AS n FROM vtxv").values.head.head == 1L)
    val dir = java.nio.file.Files.createTempDirectory("graft-viewsnap").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP VIEW vtxv")
    gw.execute(s"IMPORT DATABASE '$dir'")
    assert(gw.query("SELECT d FROM vtxv").values.head.head == 10L)
    gw.execute("DROP VIEW vtxv"); gw.execute("DROP TABLE vtx")
  }

  test("view column aliases containing commas/parens survive EXPORT/IMPORT " +
       "(per-alias b64 manifest — a joined list split on ',' broke them)") {
    // probed: DuckDB binds CREATE VIEW v ("x,y", "p(q") AS SELECT 1, 2
    gw.execute("DROP TABLE IF EXISTS vac")
    gw.execute("CREATE TABLE vac (a integer, b integer)")
    gw.execute("INSERT INTO vac VALUES (1, 2)")
    gw.execute("""CREATE VIEW vacv ("x,y", "p(q") AS SELECT a, b FROM vac""")
    assert(gw.query("""SELECT "x,y" FROM vacv""").values.head.head == 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-aliasview").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP VIEW vacv")
    gw.execute(s"IMPORT DATABASE '$dir'")
    val res = gw.query("SELECT * FROM vacv")
    assert(res.columns == Seq("x,y", "p(q"), res.columns)
    assert(res.values == Seq(Seq(1, 2)), res.values)
    gw.execute("DROP VIEW vacv"); gw.execute("DROP TABLE vac")
  }

  test("TIMESTAMP_NTZ results report TIMESTAMP, and TIME stays TIME " +
       "(NTZ typeName 'timestamp_ntz' must not fall into the TIME case)") {
    import org.apache.spark.sql.types._
    assert(graft.engine.Results.duckTypeName(TimestampNTZType) == "TIMESTAMP")
    assert(graft.engine.Results.duckTypeName(TimeType(6)) == "TIME")
    // live path: localtimestamp is TIMESTAMP_NTZ in Spark; DuckDB probed:
    // typeof(localtimestamp) = TIMESTAMP
    val t = gw.query("SELECT localtimestamp AS t").types
    assert(t == Seq("TIMESTAMP"), t)
    val tt = gw.query("SELECT TIME '03:04:05' AS t").types
    assert(tt == Seq("TIME"), tt)
  }

  test("broken and self-referencing views survive EXPORT/IMPORT: restore " +
       "completes, errors replay at first use") {
    gw.execute("DROP TABLE IF EXISTS vbr")
    gw.execute("CREATE TABLE vbr (a integer)")
    gw.execute("INSERT INTO vbr VALUES (5)")
    gw.execute("CREATE VIEW vbrv AS SELECT a FROM vbr")
    gw.execute("CREATE VIEW vbrself AS SELECT a FROM vbr")
    // OR REPLACE binds against the PRE-replace catalog, so the
    // self-reference is legal at creation and raises only at query time
    gw.execute("CREATE OR REPLACE VIEW vbrself AS SELECT * FROM vbrself")
    gw.execute("DROP TABLE vbr") // vbrv is now broken — a legal live state
    val dir = java.nio.file.Files.createTempDirectory("graft-brokenview").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP VIEW vbrv"); gw.execute("DROP VIEW vbrself")
    // restore must COMPLETE (pre-fix: CREATE VIEW replay threw mid-import)
    gw.execute(s"IMPORT DATABASE '$dir'")
    // ...and the views' bind errors replay lazily, like the live state
    intercept[Exception] { gw.query("SELECT * FROM vbrv") }
    assert(intercept[Exception] { gw.query("SELECT * FROM vbrself") }
      .getMessage.contains("infinite recursion"))
    // recreating the base table heals the broken view (lazy re-bind)
    gw.execute("CREATE TABLE vbr (a integer)")
    gw.execute("INSERT INTO vbr VALUES (9)")
    assert(gw.query("SELECT a FROM vbrv").values.head.head == 9L)
    gw.execute("DROP VIEW vbrv"); gw.execute("DROP VIEW vbrself")
    gw.execute("DROP TABLE vbr")
  }

  test("view references: quoted-identifier spelling triggers " +
       "materialization; '' escapes inside literals don't flip the scan") {
    gw.execute("DROP TABLE IF EXISTS vqi")
    gw.execute("CREATE TABLE vqi (a integer)")
    gw.execute("INSERT INTO vqi VALUES (3)")
    gw.execute("CREATE VIEW vqiv AS SELECT a * 2 AS d FROM vqi")
    // double-quoted reference names the same object (pre-fix: the view
    // was never materialized and the query failed table-not-found)
    assert(gw.query("""SELECT d FROM "vqiv"""").values.head.head == 6L)
    // a literal containing an escaped quote BEFORE the reference: the
    // old quote-parity count saw odd quotes and skipped materialization
    gw.execute("INSERT INTO vqi VALUES (10)")
    val r = gw.query(
      "SELECT 'it''s' AS s, sum(d) AS t FROM vqiv").values.head
    assert(r == Seq("it's", 26L), r)
    // the view name INSIDE a literal is not a reference (no false bind)
    assert(gw.query("SELECT 'vqiv' AS s").values.head.head == "vqiv")
    gw.execute("DROP VIEW vqiv"); gw.execute("DROP TABLE vqi")
  }

  test("CREATE VIEW / DROP VIEW pass through and compose with gateway tables") {
    gw.execute("DROP TABLE IF EXISTS vt")
    gw.execute("CREATE TABLE vt (id integer, v integer)")
    gw.execute("INSERT INTO vt VALUES (1, 10), (2, 20)")
    gw.execute("CREATE OR REPLACE TEMPORARY VIEW vtop AS SELECT id, v * 2 AS v2 FROM vt")
    assert(gw.query("SELECT sum(v2) AS s FROM vtop").values.head.head == 60L)
    gw.execute("DROP VIEW vtop")
    intercept[Exception] { gw.query("SELECT * FROM vtop") }
  }

  test("read_parquet list form and glob paths (DuckDB multi-file idioms)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readmulti").toString
    gw.execute("DROP TABLE IF EXISTS rml")
    gw.execute("CREATE TABLE rml (id integer, name text)")
    gw.execute("INSERT INTO rml VALUES (1, 'a'), (2, 'b')")
    gw.execute(s"COPY rml TO '$dir/part1' (FORMAT PARQUET)")
    gw.execute(s"COPY (SELECT id + 10 AS id, name FROM rml) TO '$dir/part2' (FORMAT PARQUET)")
    // bracketed list of paths
    val lst = gw.query(
      s"SELECT count(*) AS n, sum(id) AS s FROM read_parquet(['$dir/part1', '$dir/part2'])")
    assert(lst.values.head == Seq(4L, 26L))
    // glob — the reader expands it exactly like DuckDB
    val glb = gw.query(s"SELECT count(*) AS n FROM read_parquet('$dir/part*')")
    assert(glb.values.head.head == 4L)
  }

  test("UPDATE ... FROM joins the source and applies SET per matched row") {
    gw.execute("DROP TABLE IF EXISTS jt")
    gw.execute("DROP TABLE IF EXISTS ju")
    gw.execute("CREATE TABLE jt (id integer not null primary key, v integer, tag text)")
    gw.execute("CREATE TABLE ju (id integer, delta integer)")
    gw.execute("INSERT INTO jt VALUES (1, 10, 'keep'), (2, 20, 'keep'), (3, 30, 'keep')")
    gw.execute("INSERT INTO ju VALUES (1, 100), (3, 300)")
    val r = gw.execute(
      "UPDATE jt SET v = jt.v + ju.delta, tag = 'hit' FROM ju WHERE jt.id = ju.id")
    assert(r.rowsAffected == 2) // DuckDB reports the same: 2 rows updated
    val rows = gw.query("SELECT id, v, tag FROM jt ORDER BY id").values
    assert(rows == Seq(Seq(1, 110, "hit"), Seq(2, 20, "keep"), Seq(3, 330, "hit")))
  }

  test("UPDATE ... FROM with multiple matches updates each target row once") {
    gw.execute("DROP TABLE IF EXISTS jm")
    gw.execute("DROP TABLE IF EXISTS jv")
    gw.execute("CREATE TABLE jm (id integer, v integer)")
    gw.execute("CREATE TABLE jv (id integer, w integer)")
    gw.execute("INSERT INTO jm VALUES (1, 0), (2, 0)")
    gw.execute("INSERT INTO jv VALUES (1, 7), (1, 9)") // two matches for id=1
    val r = gw.execute("UPDATE jm SET v = jv.w FROM jv WHERE jm.id = jv.id")
    assert(r.rowsAffected == 1)
    val rows = gw.query("SELECT id, v FROM jm ORDER BY id").values
    assert(rows.head == Seq(1, 7)) // deterministic pick: smallest source row
    assert(rows(1) == Seq(2, 0))
  }

  test("DELETE ... USING removes rows with a matching source row") {
    gw.execute("DROP TABLE IF EXISTS dt")
    gw.execute("DROP TABLE IF EXISTS du")
    gw.execute("CREATE TABLE dt (id integer, name text)")
    gw.execute("CREATE TABLE du (ref integer)")
    gw.execute("INSERT INTO dt VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    gw.execute("INSERT INTO du VALUES (2), (4), (99)")
    val r = gw.execute("DELETE FROM dt USING du WHERE dt.id = du.ref")
    assert(r.rowsAffected == 2) // DuckDB reports the same: 2 rows deleted
    val left = gw.query("SELECT id FROM dt ORDER BY id").values.map(_.head)
    assert(left == Seq(1, 3))
    // aliased form
    gw.execute("INSERT INTO dt VALUES (2, 'back')")
    val r2 = gw.execute("DELETE FROM dt t USING du AS u WHERE t.id = u.ref AND t.name = 'back'")
    assert(r2.rowsAffected == 1)
  }

  test("UPDATE enforces CHECK even when SET changes a WHERE column") {
    // WHERE is evaluated against post-update values in the rewrite, so a
    // SET that mutates its own WHERE column used to dodge the CHECK
    gw.execute("DROP TABLE IF EXISTS ckw")
    gw.execute("CREATE TABLE ckw (id integer primary key, qty integer CHECK (qty >= 0))")
    gw.execute("INSERT INTO ckw VALUES (1, 9), (2, 3)")
    intercept[IllegalArgumentException] {
      gw.execute("UPDATE ckw SET qty = -7 WHERE qty = 9")
    }
    assert(gw.query("SELECT qty FROM ckw ORDER BY id").values.map(_.head) ==
      Seq(9, 3))
    // the legitimate same-column update still works
    gw.execute("UPDATE ckw SET qty = qty + 1 WHERE qty = 9")
    assert(gw.query("SELECT qty FROM ckw ORDER BY id").values.map(_.head) ==
      Seq(10, 3))
  }

  test("ROLLBACK undoes catalog DDL: sequences, macros, named types") {
    gw.execute("DROP TABLE IF EXISTS txc")
    gw.execute("DROP SEQUENCE IF EXISTS txc_pre")
    gw.execute("DROP MACRO IF EXISTS txc_m")
    gw.execute("CREATE TABLE txc (id integer)")
    gw.execute("CREATE SEQUENCE txc_pre START WITH 100")
    gw.execute("CREATE MACRO txc_m(x) AS x + 1")
    gw.execute("BEGIN")
    gw.execute("CREATE SEQUENCE txc_new")
    gw.execute("CREATE OR REPLACE MACRO txc_m(x) AS x + 1000")
    gw.execute("CREATE TYPE txc_mood AS ENUM ('sad', 'happy')")
    // DROP SEQUENCE can't be rolled back without refunding ids — refused
    intercept[IllegalArgumentException] { gw.execute("DROP SEQUENCE txc_pre") }
    // nextval on a pre-existing sequence advances (and must NOT refund)
    gw.execute("INSERT INTO txc VALUES (nextval('txc_pre'))")
    gw.execute("ROLLBACK")
    // created-in-txn catalog objects are gone…
    intercept[IllegalArgumentException] { gw.query("SELECT nextval('txc_new')") }
    gw.execute("CREATE TYPE txc_mood AS ENUM ('sad', 'happy')") // no "already exists"
    // …the replaced macro is back to its pre-txn body…
    assert(gw.query("SELECT txc_m(1) AS r").values.head.head == 2)
    // …and the pre-existing sequence kept its advanced counter (no refund)
    assert(gw.query("SELECT nextval('txc_pre') AS n").values.head.head == 101L)
    gw.execute("DROP TYPE txc_mood")
  }

  test("nextval over a table source is refused on the read path too") {
    gw.execute("DROP TABLE IF EXISTS nvt")
    gw.execute("DROP SEQUENCE IF EXISTS nv_ids")
    gw.execute("CREATE SEQUENCE nv_ids")
    gw.execute("CREATE TABLE nvt (id integer)")
    gw.execute("INSERT INTO nvt VALUES (1), (2), (3)")
    // would bind ONE literal for all three rows — refuse, don't mis-answer
    intercept[IllegalArgumentException] {
      gw.query("SELECT nextval('nv_ids') AS n FROM nvt")
    }
    // scalar read still fine, and the refusal did not advance the counter
    assert(gw.query("SELECT nextval('nv_ids') AS n").values.head.head == 1L)
    // currval does not advance — per-row repetition is its correct value
    assert(gw.query("SELECT currval('nv_ids') AS c, id FROM nvt")
      .values.map(_.head) == Seq(1L, 1L, 1L))
  }

  test("read_* temp views are dropped after the statement resolves") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rvleak").toString
    spark.range(3).toDF("id").write.parquet(s"$dir/t")
    val r = gw.query(s"SELECT count(*) AS n FROM read_parquet('$dir/t')")
    assert(r.values.head.head == 3L)
    val names = gw.query("PRAGMA show_tables").values.map(_.head.toString)
    assert(!names.exists(_.startsWith("graft_read_")),
      s"leaked read views: ${names.filter(_.startsWith("graft_read_"))}")
  }

  test("textual rewrites survive comments, quoted strings, nested parens") {
    gw.execute("DROP SEQUENCE IF EXISTS hseq")
    gw.execute("DROP MACRO IF EXISTS hmac")
    gw.execute("CREATE SEQUENCE hseq")
    gw.execute("CREATE MACRO hmac(x) AS x + 1")
    // an apostrophe inside a comment must not desynchronize the quote
    // scan — real syntax AFTER the comment still rewrites
    assert(gw.query("SELECT /* don't */ hmac(4) AS r").values.head.head == 5)
    assert(gw.query("SELECT hmac(1) AS r -- don't trip\n").values.head.head == 2)
    // comment markers INSIDE string literals are content, not comments
    assert(gw.query("SELECT 'a -- not a comment' AS a").values.head.head ==
      "a -- not a comment")
    assert(gw.query("SELECT '/* kept */' AS a").values.head.head == "/* kept */")
    // macro/sequence/read_* names inside comments are not invocations…
    assert(gw.query("SELECT 1 AS r /* hmac(9) read_parquet('/no/such') */")
      .values.head.head == 1)
    gw.query("SELECT 2 AS r -- nextval('hseq')")
    // …and the commented-out nextval did NOT advance the counter
    assert(gw.query("SELECT nextval('hseq') AS n").values.head.head == 1L)
    // a macro argument carrying quoted commas/parens splits at top level
    assert(gw.query("SELECT hmac(length('a,b)')) AS r").values.head.head == 5)
    // block comment is a token separator
    assert(gw.query("SELECT/**/hmac(2) AS r").values.head.head == 3)
  }

  test("prepared $n binding is quote-aware (a literal $1 in a string stays)") {
    gw.execute("DROP TABLE IF EXISTS ppq")
    gw.execute("CREATE TABLE ppq (id integer, tag text)")
    gw.execute("PREPARE ptag AS INSERT INTO ppq VALUES ($1, 'costs $1 only')")
    gw.execute("EXECUTE ptag(7)")
    assert(gw.query("SELECT id, tag FROM ppq").values.head == Seq(7, "costs $1 only"))
    gw.execute("DEALLOCATE ptag")
  }

  test("column comments follow RENAME COLUMN and die with DROP COLUMN " +
       "(r11 ADVICE: no stale registry keys)") {
    gw.execute("DROP TABLE IF EXISTS ccmt")
    gw.execute("CREATE TABLE ccmt (a integer, b text)")
    gw.execute("COMMENT ON COLUMN ccmt.a IS 'the a column'")
    gw.execute("ALTER TABLE ccmt RENAME COLUMN a TO a2")
    def commentOf(c: String) = gw.query(
      s"SELECT comment FROM duckdb_columns() WHERE table_name = 'ccmt' " +
        s"AND column_name = '$c'").values.headOption.map(_.head)
    assert(commentOf("a2") == Some("the a column"), "comment lost on rename")
    // the dropped column's comment must not leak onto a re-created column
    gw.execute("COMMENT ON COLUMN ccmt.b IS 'doomed'")
    gw.execute("ALTER TABLE ccmt DROP COLUMN b")
    gw.execute("ALTER TABLE ccmt ADD COLUMN b text")
    assert(commentOf("b") == Some(null), s"dead comment leaked: ${commentOf("b")}")
  }

  test("RETURNING is capped like the read boundary (no unbounded driver " +
       "collect on DML): cap rows + truncated flag") {
    gw.execute("DROP TABLE IF EXISTS retcap")
    gw.execute("CREATE TABLE retcap (id integer)")
    gw.spark.conf.set("graft.query.maxResultRows", "5")
    try {
      val r = gw.query(
        "INSERT INTO retcap SELECT * FROM range(1, 21) RETURNING id")
      assert(r.values.size == 5, s"expected capped 5 rows, got ${r.values.size}")
      assert(r.truncated, "truncated flag must be set when the cap hits")
      // the write itself was NOT capped — all 20 rows landed
      gw.spark.conf.unset("graft.query.maxResultRows")
      assert(gw.query("SELECT count(*) AS n FROM retcap").values.head.head == 20L)
      gw.spark.conf.set("graft.query.maxResultRows", "5")
      // UPDATE and DELETE RETURNING take the same cap
      val u = gw.query("UPDATE retcap SET id = id + 100 RETURNING id")
      assert(u.values.size == 5 && u.truncated, s"${u.values.size} ${u.truncated}")
      val d = gw.query("DELETE FROM retcap RETURNING id")
      assert(d.values.size == 5 && d.truncated, s"${d.values.size} ${d.truncated}")
    } finally gw.spark.conf.unset("graft.query.maxResultRows")
    assert(gw.query("SELECT count(*) AS n FROM retcap").values.head.head == 0L)
  }

  test("ATTACH/DETACH refuse with the single-database rationale, not a " +
       "Spark parse error") {
    val e = intercept[IllegalArgumentException] {
      gw.execute("ATTACH ':memory:' AS other")
    }
    assert(e.getMessage.contains("ONE database per service instance"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] { gw.execute("DETACH other") }
    assert(e2.getMessage.contains("DETACH is not supported"), e2.getMessage)
  }

  test("duckdb_functions() lists the registered surface: builtins " +
       "classified, gateway table functions, macros with DuckDB's row shape") {
    gw.execute("DROP MACRO IF EXISTS dfm")
    gw.execute("CREATE MACRO dfm(a, b) AS a + b")
    def one(q: String) = gw.query(q).values
    assert(one("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'sum'") == Seq(Seq("aggregate")))
    assert(one("SELECT DISTINCT function_type FROM duckdb_functions() " +
      "WHERE function_name = 'abs'") == Seq(Seq("scalar")))
    assert(one("SELECT function_type, internal FROM duckdb_functions() " +
      "WHERE function_name = 'read_parquet'") == Seq(Seq("table", true)))
    val m = one("SELECT function_name, function_type, parameters, " +
      "macro_definition, internal FROM duckdb_functions() " +
      "WHERE function_name = 'dfm'")
    assert(m == Seq(Seq("dfm", "macro", Seq("a", "b"), "(a + b)", false)), m)
    gw.execute("DROP MACRO dfm")
  }

  test("duckdb_extensions()/duckdb_memory()/duckdb_temporary_files() " +
       "answer capability probes with DuckDB's shapes") {
    assert(gw.query("SELECT loaded, installed, install_mode FROM " +
      "duckdb_extensions() WHERE extension_name = 'parquet'").values ==
      Seq(Seq(true, true, "STATICALLY_LINKED")))
    assert(gw.query("SELECT loaded FROM duckdb_extensions() WHERE " +
      "extension_name = 'postgres_scanner'").values == Seq(Seq(false)))
    val mem = gw.query(
      "SELECT tag, memory_usage_bytes >= 0 AS ok FROM duckdb_memory() ORDER BY tag")
    assert(mem.values.size == 12 && mem.values.forall(_(1) == true), mem.values)
    // fixed tag vocabulary, DuckDB 1.0's
    assert(mem.values.map(_.head).contains("ALLOCATOR"))
    val tmp = gw.query("SELECT count(*) AS n FROM duckdb_temporary_files() " +
      "WHERE size < 0")
    assert(tmp.values.head.head == 0L)
  }

  test("duckdb_settings() seeds the honored settings at live values " +
       "(never-SET probe gets a row, not silence)") {
    val t = gw.query(
      "SELECT name, input_type, scope FROM duckdb_settings() WHERE name = 'threads'")
    assert(t.values == Seq(Seq("threads", "BIGINT", "GLOBAL")), t.values)
    assert(gw.query("SELECT count(*) AS n FROM duckdb_settings() WHERE " +
      "name = 'memory_limit'").values.head.head == 1L)
    // an explicit SET overrides the seeded value
    gw.execute("SET memory_limit = '2GB'")
    try assert(gw.query("SELECT value FROM duckdb_settings() WHERE " +
      "name = 'memory_limit'").values == Seq(Seq("2GB")))
    finally gw.execute("RESET memory_limit")
  }

  test("zipped multi-unnest names unaliased columns unnest(<arg>) like " +
       "DuckDB for identifier args; other expressions demand an alias") {
    val r = gw.query(
      "SELECT unnest(l1), unnest(l2) FROM (SELECT [1,2] l1, [30] l2) t")
    assert(r.columns == Seq("unnest(l1)", "unnest(l2)"), r.columns)
    assert(r.values.map(_.toList).sortBy(_.head.asInstanceOf[Int]) ==
      Seq(List(1, 30), List(2, null)), r.values)
    val e = intercept[Exception] {
      gw.query("SELECT unnest(list_append(l1, 9)), unnest(l2) " +
        "FROM (SELECT [1,2] l1, [30] l2) t")
    }
    assert(e.getMessage.contains("alias"), e.getMessage)
  }

  test("a '::BLOB'-shaped span inside a string literal is data (quote-" +
       "parity guard on the blob-literal rewrite)") {
    // genuine casts still rewrite/decode
    assert(gw.query("SELECT '\\x41\\x42'::BLOB AS b").values.head.head
      .asInstanceOf[Array[Byte]].toSeq == Seq[Byte](0x41, 0x42))
    // cast-shaped text inside a literal stays text
    assert(gw.query("SELECT 'doc: ''''::BLOB usage' AS s").values.head.head ==
      "doc: ''::BLOB usage")
  }

  test("quantified comparison with a compound left operand refuses loudly " +
       "(the Operand capture would rebind precedence silently — r12 " +
       "advice); the parenthesized spelling rewrites correctly") {
    // DuckDB parses the whole ||-chain as the lhs; our regex captures only
    // the trailing term, so `'x' || exists(...)` would string-concat a
    // boolean with no error. Loud refusal, with the fix-it spelling.
    Seq("SELECT 'x' || 1 = ANY(['x1','z']) AS t",
        "SELECT 2-1 = ANY([1,2]) AS t",
        "SELECT -1 = ANY([1,-1]) AS t").foreach { sql =>
      val e = intercept[Exception](gw.query(sql))
      assert(e.getMessage.contains("compound left operand"), s"$sql: ${e.getMessage}")
    }
    // parenthesized lhs matches the Operand call form and rewrites
    assert(gw.query("SELECT ('x' || 'y') = ANY(['xy','z']) AS t")
      .values.head.head == true)
    assert(gw.query("SELECT (1+1) = ANY([2]) AS t").values.head.head == true)
    assert(gw.query("SELECT ('a' || 'b') <> ALL(['x','y']) AS t")
      .values.head.head == true)
    assert(gw.query("SELECT (-1) = ANY([1,-1]) AS t").values.head.head == true)
  }

  // --- literal batches (INSERT … VALUES) are checked and written on the
  //     driver; the statement still leaves no effect when it fails

  private def liveFiles(table: String): Set[String] = gw.spark.table(table).inputFiles.toSet

  test("a VALUES batch keeps each constraint error's text and leaves no effect") {
    gw.execute("DROP TABLE IF EXISTS lvc")
    gw.execute("CREATE TABLE lvc (id integer primary key, email text, " +
      "qty integer CHECK (qty >= 0), note text not null)")
    gw.execute("CREATE UNIQUE INDEX lvc_email ON lvc (email)")
    gw.execute("INSERT INTO lvc VALUES (1, 'a@x', 1, 'one'), (2, NULL, 2, 'two')")
    val before = liveFiles("lvc")
    def refused(sql: String): String =
      intercept[IllegalArgumentException](gw.execute(sql)).getMessage
    assert(refused("INSERT INTO lvc VALUES (3, 'b@x', 1, NULL)") ==
      "NOT NULL constraint failed: lvc.note")
    assert(refused("INSERT INTO lvc VALUES (3, 'b@x', 1, 'x'), (3, 'c@x', 1, 'y')") ==
      "PRIMARY KEY constraint failed (duplicate in batch): lvc(id)")
    assert(refused("INSERT INTO lvc VALUES (1, 'b@x', 1, 'x')") ==
      "PRIMARY KEY constraint failed (key exists): lvc(id)")
    assert(refused("INSERT INTO lvc VALUES (3, 'b@x', -1, 'x')") ==
      "CHECK constraint failed: lvc CHECK (qty >= 0)")
    assert(refused("INSERT INTO lvc VALUES (3, 'a@x', 1, 'x')") ==
      "UNIQUE INDEX constraint failed: duplicate key on lvc(email)")
    assert(refused("INSERT INTO lvc VALUES (3, 'b@x', 1, 'x'), (4, 'b@x', 1, 'y')") ==
      "UNIQUE INDEX constraint failed: duplicate key on lvc(email)")
    // the PK error wins over a UNIQUE INDEX one in the same batch
    assert(refused("INSERT INTO lvc VALUES (2, 'a@x', 1, 'x')") ==
      "PRIMARY KEY constraint failed (key exists): lvc(id)")
    assert(liveFiles("lvc") == before)
    assert(gw.query("SELECT id FROM lvc ORDER BY id").values.map(_.head) == Seq(1, 2))
    // NULL keys of a unique index are distinct, in the batch and against the table
    assert(gw.execute("INSERT INTO lvc VALUES (3, NULL, 0, 'x'), (4, NULL, 0, 'y')")
      .rowsAffected == 2)
    // a composite key is probed as one tuple
    gw.execute("DROP TABLE IF EXISTS lvk")
    gw.execute("CREATE TABLE lvk (a integer, b text, v integer, PRIMARY KEY (a, b))")
    gw.execute("INSERT INTO lvk VALUES (1, 'x', 1), (1, 'y', 1), (2, 'x', 1)")
    assert(refused("INSERT INTO lvk VALUES (2, 'y', 0), (1, 'x', 2)") ==
      "PRIMARY KEY constraint failed (key exists): lvk(a,b)")
    assert(refused("INSERT INTO lvk VALUES (3, 'x', 0), (3, 'x', 1)") ==
      "PRIMARY KEY constraint failed (duplicate in batch): lvk(a,b)")
    assert(gw.execute("INSERT INTO lvk VALUES (2, 'y', 0), (1, 'x', 2) " +
      "ON CONFLICT DO NOTHING").rowsAffected == 1)
    assert(gw.query("SELECT count(*) AS n FROM lvk").values.head.head == 4L)
  }

  test("ON CONFLICT DO NOTHING and RETURNING take their rows from the same " +
       "VALUES batch") {
    gw.execute("DROP TABLE IF EXISTS lvr")
    gw.execute("CREATE TABLE lvr (id integer primary key, v text)")
    gw.execute("INSERT INTO lvr VALUES (1, 'old')")
    val r = gw.query("INSERT INTO lvr VALUES (1, 'dup'), (2, 'first'), " +
      "(2, 'second'), (3, 'c') ON CONFLICT DO NOTHING RETURNING id, v")
    assert(r.values.map(_.toList) == Seq(List(2, "first"), List(3, "c")))
    assert(gw.query("SELECT id, v FROM lvr ORDER BY id").values.map(_.toList) ==
      Seq(List(1, "old"), List(2, "first"), List(3, "c")))
    val all = gw.query("INSERT INTO lvr VALUES (4, 'd'), (5, 'e') RETURNING *")
    assert(all.values.map(_.toList) == Seq(List(4, "d"), List(5, "e")))
    val none = gw.execute("INSERT INTO lvr VALUES (1, 'x') ON CONFLICT DO NOTHING")
    assert(none.rowsAffected == 0)
    val up = gw.execute("INSERT INTO lvr VALUES (1, 'new'), (6, 'f') " +
      "ON CONFLICT DO UPDATE SET v = excluded.v")
    assert(up.rowsAffected == 2)
    assert(gw.query("SELECT v FROM lvr WHERE id IN (1, 6) ORDER BY id")
      .values.map(_.head) == Seq("new", "f"))
  }

  test("TIMESTAMPTZ and other declared DuckDB types round-trip through a " +
       "driver-written file, in and out of a transaction") {
    gw.execute("DROP TABLE IF EXISTS lvt")
    gw.execute("CREATE TABLE lvt (id integer primary key, t TIMESTAMPTZ, u UUID)")
    gw.execute("INSERT INTO lvt VALUES (1, TIMESTAMPTZ '2020-01-01 10:00:00+02', " +
      "'550e8400-e29b-41d4-a716-446655440000')")
    val r = gw.query("SELECT * FROM lvt")
    assert(r.types == Seq("INTEGER", "TIMESTAMP WITH TIME ZONE", "UUID"))
    assert(r.values.map(_.toList) == Seq(List(1, "2020-01-01 08:00:00+00",
      "550e8400-e29b-41d4-a716-446655440000")))
    // ROLLBACK: the delta never reaches the live table
    gw.execute("BEGIN")
    gw.execute("INSERT INTO lvt VALUES (2, TIMESTAMPTZ '2021-06-01 00:00:00+00', NULL)")
    assert(gw.query("SELECT count(*) AS n FROM lvt").values.head.head == 2L)
    assert(intercept[IllegalArgumentException](
      gw.execute("INSERT INTO lvt VALUES (2, NULL, NULL)")).getMessage ==
      "PRIMARY KEY constraint failed (key exists): lvt(id)")
    assert(spark.newSession().table("lvt").count() == 1L)
    gw.execute("ROLLBACK")
    assert(gw.query("SELECT count(*) AS n FROM lvt").values.head.head == 1L)
    // COMMIT: two driver-written deltas move into the live dir
    gw.execute("BEGIN")
    gw.execute("INSERT INTO lvt VALUES (2, TIMESTAMPTZ '2021-06-01 00:00:00+00', NULL)")
    gw.execute("INSERT INTO lvt VALUES (3, NULL, NULL)")
    assert(gw.query("SELECT * FROM lvt").types ==
      Seq("INTEGER", "TIMESTAMP WITH TIME ZONE", "UUID"))
    gw.execute("COMMIT")
    val after = gw.query("SELECT id, t FROM lvt ORDER BY id")
    assert(after.values.map(_.toList) == Seq(List(1, "2020-01-01 08:00:00+00"),
      List(2, "2021-06-01 00:00:00+00"), List(3, null)))
    assert(after.types == Seq("INTEGER", "TIMESTAMP WITH TIME ZONE"))
    assert(spark.newSession().table("lvt").count() == 3L)
  }

  test("EXPORT/IMPORT carries driver-written files and never reads a " +
       "leftover hidden in-progress file") {
    gw.execute("DROP TABLE IF EXISTS lvh")
    gw.execute("CREATE TABLE lvh (id integer primary key, v text)")
    gw.execute("INSERT INTO lvh VALUES (1, 'a')")
    // a write cut short leaves only a hidden file; it is not parquet here,
    // so reading it would fail the statements below
    val live = new java.io.File(new java.net.URI(liveFiles("lvh").head)).getParentFile
    java.nio.file.Files.write(
      new java.io.File(live, ".part-00000-cut-short-c000.snappy.parquet").toPath,
      "not parquet".getBytes)
    gw.execute("INSERT INTO lvh VALUES (2, 'b'), (3, 'c')")
    assert(gw.query("SELECT id FROM lvh ORDER BY id").values.map(_.head) == Seq(1, 2, 3))
    assert(liveFiles("lvh").forall(f => !new java.io.File(new java.net.URI(f)).getName
      .startsWith(".")))
    val dir = java.nio.file.Files.createTempDirectory("graft-lvh").toString
    gw.execute(s"EXPORT DATABASE '$dir' (FORMAT PARQUET)")
    gw.execute("DROP TABLE lvh")
    gw.execute(s"IMPORT DATABASE '$dir'")
    assert(gw.query("SELECT id, v FROM lvh ORDER BY id").values.map(_.toList) ==
      Seq(List(1, "a"), List(2, "b"), List(3, "c")))
    intercept[IllegalArgumentException](gw.execute("INSERT INTO lvh VALUES (3, 'dup')"))
    assert(gw.execute("DELETE FROM lvh WHERE id <= 2").rowsAffected == 2)
  }

  // A small table's DELETE/UPDATE read its files on the driver and fold
  // the statement there (the job counts are pinned in WriteJobsSpec);
  // these pin the semantics of that path.

  test("driver-image UPDATE/DELETE: RETURNING, and a CHECK or UNIQUE INDEX " +
       "failure keeps its text and leaves no effect") {
    gw.execute("DROP TABLE IF EXISTS dit")
    gw.execute("CREATE TABLE dit (id integer CHECK (id > 0), v text)")
    gw.execute("INSERT INTO dit VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    gw.execute("CREATE UNIQUE INDEX dit_v ON dit (v)")
    assert(gw.query("UPDATE dit SET v = 'z' WHERE id = 2 RETURNING id, v").values ==
      Seq(Seq(2, "z")))
    assert(gw.query("DELETE FROM dit WHERE id = 3 RETURNING *").values == Seq(Seq(3, "c")))
    val live = gw.spark.table("dit").inputFiles.toSet
    assert(intercept[IllegalArgumentException](
      gw.execute("UPDATE dit SET id = 0 WHERE id = 1")).getMessage ==
      "CHECK constraint failed: dit CHECK (id > 0)")
    assert(intercept[IllegalArgumentException](
      gw.execute("UPDATE dit SET v = 'a' WHERE id = 2")).getMessage ==
      "UNIQUE INDEX constraint failed: duplicate key on dit(v)")
    assert(gw.spark.table("dit").inputFiles.toSet == live)
    assert(gw.query("SELECT id, v FROM dit ORDER BY id").values ==
      Seq(Seq(1, "a"), Seq(2, "z")))
  }

  test("driver-image rewrites keep ADD COLUMN defaults and declared DuckDB types") {
    gw.execute("DROP TABLE IF EXISTS dia")
    gw.execute("CREATE TABLE dia (id integer, t TIMESTAMPTZ, u UUID)")
    gw.execute("INSERT INTO dia VALUES (1, TIMESTAMPTZ '2020-01-01 10:00:00+02', " +
      "'550e8400-e29b-41d4-a716-446655440000'), (2, NULL, NULL)")
    gw.execute("ALTER TABLE dia ADD COLUMN k integer DEFAULT 7")
    assert(gw.execute("DELETE FROM dia WHERE id = 2").rowsAffected == 1)
    assert(gw.execute("UPDATE dia SET k = k + 1 WHERE id = 1").rowsAffected == 1)
    val r = gw.query("SELECT * FROM dia")
    assert(r.types == Seq("INTEGER", "TIMESTAMP WITH TIME ZONE", "UUID", "INTEGER"))
    assert(r.values.map(_.toList) == Seq(List(1, "2020-01-01 08:00:00+00",
      "550e8400-e29b-41d4-a716-446655440000", 8)))
  }

  test("DELETE … WHERE id IN (SELECT …) does not fold on the driver and " +
       "takes the job path") {
    gw.execute("DROP TABLE IF EXISTS dis")
    gw.execute("DROP TABLE IF EXISTS dis_k")
    gw.execute("CREATE TABLE dis (id integer, v text)")
    gw.execute("CREATE TABLE dis_k (id integer)")
    gw.execute("INSERT INTO dis VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    gw.execute("INSERT INTO dis_k VALUES (2), (3), (9)")
    assert(gw.execute("DELETE FROM dis WHERE id IN (SELECT id FROM dis_k)")
      .rowsAffected == 2)
    assert(gw.query("SELECT id, v FROM dis").values == Seq(Seq(1, "a")))
  }

  test("driver-image DELETE/UPDATE in a transaction read its own writes; " +
       "ROLLBACK discards and COMMIT applies them") {
    gw.execute("DROP TABLE IF EXISTS dix")
    gw.execute("CREATE TABLE dix (id integer, v text)")
    gw.execute("INSERT INTO dix VALUES (1, 'a'), (2, 'b')")
    def txn(end: String): Unit = {
      gw.execute("BEGIN")
      gw.execute("INSERT INTO dix VALUES (3, 'c')") // an append delta
      assert(gw.execute("DELETE FROM dix WHERE id = 1").rowsAffected == 1)
      assert(gw.execute("UPDATE dix SET v = 'x' WHERE id = 3").rowsAffected == 1)
      assert(gw.query("SELECT id, v FROM dix ORDER BY id").values ==
        Seq(Seq(2, "b"), Seq(3, "x")))
      assert(spark.newSession().table("dix").count() == 2L)
      gw.execute(end)
    }
    txn("ROLLBACK")
    assert(gw.query("SELECT id, v FROM dix ORDER BY id").values ==
      Seq(Seq(1, "a"), Seq(2, "b")))
    txn("COMMIT")
    assert(gw.query("SELECT id, v FROM dix ORDER BY id").values ==
      Seq(Seq(2, "b"), Seq(3, "x")))
    assert(spark.newSession().table("dix").count() == 2L)
  }

  test("a gateway clones its caller's session and leaves the caller's " +
       "conf and semantics alone") {
    val caller = spark.newSession()
    caller.range(3).createOrReplaceTempView("iso_v")
    caller.conf.set("graft.iso.probe", "on")
    val keys = Seq("spark.sql.ansi.doubleQuotedIdentifiers",
      "spark.sql.mapKeyDedupPolicy", "spark.sql.timeType.enabled")
    val before = keys.map(caller.conf.get)
    val g = new SqlGateway(caller)
    assert(g.query("SELECT count(*) AS n FROM iso_v").values == Seq(Seq(3L)))
    assert(g.spark.conf.get("graft.iso.probe") == "on")
    assert(keys.map(caller.conf.get) == before)
    assert(caller.sql("SELECT array(10, 20)[1] AS x").head().getInt(0) == 20)
    intercept[org.apache.spark.sql.AnalysisException](
      caller.sql("SELECT length(array(1, 2)) AS n").collect())
    assert(g.spark.sql("SELECT array(10, 20)[1] AS x").head().getInt(0) == 10)
    assert(g.spark.sql("SELECT length(array(1, 2)) AS n").head().getLong(0) == 2L)
  }
}
