package graft

import graft.engine.SqlGateway
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per small write statement: the cost floor every replica
  * pays once per replicated statement. A literal batch is checked and
  * written on the driver; a table whose rows fit
  * `SqlGateway.DriverImageBytes` is read, filtered, rewritten and exported
  * on the driver too, from the gateway's cached driver image, and a
  * small read of it runs no job either. */
class WriteJobsSpec extends SparkTestBase {
  lazy val gw = new SqlGateway(spark)

  private val jobs = new AtomicInteger
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** (jobs, result) of `body`; the listener bus is drained before and
    * after, so no other statement's jobs are counted. */
  private def jobsDuring[T](body: => T): (Int, T) = {
    listener
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    jobs.set(0)
    val r = body
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    (jobs.get, r)
  }

  /** (jobs, rows affected) of one statement. */
  private def jobsOf(sql: String): (Int, Long) = jobsDuring(gw.execute(sql).rowsAffected)

  private def files(table: String): Set[String] = gw.spark.table(table).inputFiles.toSet

  test("INSERT … VALUES into a keyless table runs no job and adds one parquet file") {
    gw.execute("DROP TABLE IF EXISTS wj_plain")
    gw.execute("CREATE TABLE wj_plain (id integer, v text)")
    for (i <- 1 to 3) {
      val before = files("wj_plain")
      assert(jobsOf(s"INSERT INTO wj_plain VALUES ($i, 'r$i')") == ((0, 1L)))
      val added = files("wj_plain") -- before
      assert(added.size == 1 && (files("wj_plain") -- added) == before, added)
      assert(added.head.endsWith(".parquet"), added)
    }
    assert(jobsOf("INSERT INTO wj_plain VALUES (4, 'a'), (5, 'b')") == ((0, 2L)))
    assert(gw.query("SELECT count(*) AS n FROM wj_plain").values.head.head == 5L)
    // a CHECK folds over the literal batch on the driver too
    gw.execute("DROP TABLE IF EXISTS wj_check")
    gw.execute("CREATE TABLE wj_check (id integer CHECK (id > 0), v text)")
    assert(jobsOf("INSERT INTO wj_check VALUES (1, 'a'), (2, NULL)") == ((0, 2L)))
  }

  test("INSERT … VALUES into a small PRIMARY KEY table runs no job: the key probe folds") {
    gw.execute("DROP TABLE IF EXISTS wj_pk")
    gw.execute("CREATE TABLE wj_pk (id integer primary key, v text)")
    for (i <- 1 to 3)
      assert(jobsOf(s"INSERT INTO wj_pk VALUES ($i, 'r$i')") == ((0, 1L)))
    assert(intercept[IllegalArgumentException](gw.execute("INSERT INTO wj_pk VALUES (2, 'x')"))
      .getMessage == "PRIMARY KEY constraint failed (key exists): wj_pk(id)")
    assert(gw.query("SELECT count(*) AS n FROM wj_pk").values.head.head == 3L)
  }

  test("DELETE … WHERE on a small table runs no job, with rows affected from the image") {
    gw.execute("DROP TABLE IF EXISTS wj_del")
    gw.execute("CREATE TABLE wj_del (id integer, v text)")
    (1 to 6).foreach(i => gw.execute(s"INSERT INTO wj_del VALUES ($i, 'r$i')"))
    assert(jobsOf("DELETE FROM wj_del WHERE id = 2") == ((0, 1L)))
    assert(jobsOf("DELETE FROM wj_del WHERE id > 4") == ((0, 2L)))
    assert(jobsOf("DELETE FROM wj_del WHERE id = 99") == ((0, 0L)))
    // the rewrite of a small table is one file, not one per input split
    assert(files("wj_del").size == 1)
    assert(gw.query("SELECT id FROM wj_del ORDER BY id").values.map(_.head) ==
      Seq(1, 3, 4))
  }

  test("UPDATE … WHERE on a small table runs no job and counts the rows it set") {
    gw.execute("DROP TABLE IF EXISTS wj_upd")
    gw.execute("CREATE TABLE wj_upd (id integer, v text)")
    gw.execute("INSERT INTO wj_upd VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(jobsOf("UPDATE wj_upd SET v = 'x' WHERE id >= 2") == ((0, 2L)))
    assert(jobsOf("UPDATE wj_upd SET v = v || '!' WHERE id = 9") == ((0, 0L)))
    assert(files("wj_upd").size == 1)
    assert(gw.query("SELECT id, v FROM wj_upd ORDER BY id").values ==
      Seq(Seq(1, "a"), Seq(2, "x"), Seq(3, "x")))
    // a subquery in WHERE does not fold on the driver: the job path
    val (n, del) = jobsOf("DELETE FROM wj_upd WHERE id IN (SELECT id FROM wj_upd WHERE v = 'x')")
    assert(n > 0 && del == 2L, (n, del))
    assert(gw.query("SELECT id FROM wj_upd").values == Seq(Seq(1)))
  }

  test("INSERT … VALUES inside a transaction runs no job, also after an UPDATE of the table") {
    gw.execute("DROP TABLE IF EXISTS wj_txn")
    gw.execute("CREATE TABLE wj_txn (id integer, v text)")
    gw.execute("INSERT INTO wj_txn VALUES (1, 'a')")
    gw.execute("BEGIN")
    try {
      assert(jobsOf("INSERT INTO wj_txn VALUES (2, 'b')") == ((0, 1L)))
      gw.execute("UPDATE wj_txn SET v = 'x' WHERE id = 1")
      assert(jobsOf("INSERT INTO wj_txn VALUES (3, 'c')") == ((0, 1L)))
    } finally gw.execute("COMMIT")
    assert(gw.query("SELECT id, v FROM wj_txn ORDER BY id").values ==
      Seq(Seq(1, "x"), Seq(2, "b"), Seq(3, "c")))
  }

  test("an own-table read with WHERE, a projection, ORDER BY and LIMIT runs no job, " +
       "also inside BEGIN…ROLLBACK") {
    gw.execute("DROP TABLE IF EXISTS wj_read")
    gw.execute("CREATE TABLE wj_read (id integer, v text)")
    (1 to 8).foreach(i => gw.execute(s"INSERT INTO wj_read VALUES ($i, 'r$i')"))
    val q = "SELECT id, upper(v) AS u FROM wj_read WHERE id % 2 = 0 ORDER BY id DESC LIMIT 3"
    val want = Seq(Seq(8, "R8"), Seq(6, "R6"), Seq(4, "R4"))
    assert(jobsDuring(gw.query(q).values) == ((0, want)))
    gw.execute("BEGIN")
    try {
      gw.execute("INSERT INTO wj_read VALUES (10, 'r10')")
      gw.execute("DELETE FROM wj_read WHERE id = 6")
      assert(jobsDuring(gw.query(q).values) ==
        ((0, Seq(Seq(10, "R10"), Seq(8, "R8"), Seq(4, "R4")))))
    } finally gw.execute("ROLLBACK")
    assert(jobsDuring(gw.query(q).values) == ((0, want)))
  }

  test("DELETE and UPDATE with a fresh literal on a warmed small table run no job " +
       "and compile no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    gw.execute("DROP TABLE IF EXISTS wj_lit")
    gw.execute("CREATE TABLE wj_lit (id integer, v text)")
    gw.execute("INSERT INTO wj_lit VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    gw.execute("DELETE FROM wj_lit WHERE id = 100")
    gw.execute("UPDATE wj_lit SET v = 'w' WHERE id = 101")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(jobsOf("DELETE FROM wj_lit WHERE id = 3") == ((0, 1L)))
    assert(jobsOf("UPDATE wj_lit SET v = 'x' WHERE id = 2") == ((0, 1L)))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
    assert(gw.query("SELECT id, v FROM wj_lit ORDER BY id").values ==
      Seq(Seq(1, "a"), Seq(2, "x"), Seq(4, "d")))
  }

  test("a temp view over a small parquet dir reads with no job and sees a file " +
       "appended before it is registered again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wj-view").toString
    def write(ids: Range, mode: String): Unit =
      spark.range(ids.start, ids.end).selectExpr("CAST(id AS int) AS id")
        .coalesce(1).write.mode(mode).parquet(dir)
    val q = "SELECT id FROM wj_view WHERE id > 0 ORDER BY id"
    write(0 until 3, "overwrite")
    gw.spark.read.parquet(dir).createOrReplaceTempView("wj_view")
    try {
      assert(jobsDuring(gw.query(q).values) == ((0, Seq(Seq(1), Seq(2)))))
      write(5 until 6, "append")
      gw.spark.read.parquet(dir).createOrReplaceTempView("wj_view")
      assert(jobsDuring(gw.query(q).values) == ((0, Seq(Seq(1), Seq(2), Seq(5)))))
    } finally gw.spark.catalog.dropTempView("wj_view")
  }

  /** The aggregate reads of the `service` benchmark's corpus templates,
    * over `t`, with the fresh literal `x`. */
  private def aggregateReads(t: String, x: Int): Seq[String] = Seq(
    s"SELECT count(*) AS n FROM $t WHERE k = ${x % 7}",
    s"SELECT p, count(*) AS n, max(id) AS m FROM $t WHERE id BETWEEN $x AND ${x + 10} " +
      "GROUP BY p ORDER BY p",
    s"SELECT k, count(*) AS n FROM $t GROUP BY k HAVING min(id) > ${x % 5} ORDER BY k",
    s"SELECT DISTINCT p FROM $t WHERE id > ${x % 30} ORDER BY p")

  test("a warmed COUNT, GROUP BY, HAVING and SELECT DISTINCT with a fresh literal over a " +
       "small view and an own table run no job and compile no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-wj-agg").toString
    spark.range(1, 41).selectExpr("CAST(id AS int) AS id", "CAST(id % 7 AS int) AS k",
      "concat('P', id % 3) AS p").coalesce(1).write.mode("overwrite").parquet(dir)
    // the same view in the caller's session, which plans every aggregate
    // as Spark does: the answers to compare with
    Seq(spark, gw.spark).foreach(_.read.parquet(dir).createOrReplaceTempView("wj_aggv"))
    gw.execute("DROP TABLE IF EXISTS wj_agg")
    gw.execute("CREATE TABLE wj_agg (id integer, k integer, p text)")
    gw.execute("INSERT INTO wj_agg VALUES " +
      (1 to 40).map(i => s"($i, ${i % 7}, 'P${i % 3}')").mkString(", "))
    def sparkRows(q: String) = spark.sql(q).collect().map(_.toSeq).toSeq
    try {
      Seq("wj_aggv", "wj_agg").foreach(t => aggregateReads(t, 1).foreach(gw.query))
      val reads = for (x <- 2 to 4; t <- Seq("wj_aggv", "wj_agg"); q <- aggregateReads(t, x))
        yield q -> sparkRows(q.replace("wj_agg ", "wj_aggv "))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      reads.foreach { case (q, want) =>
        assert(want.nonEmpty, q)
        assert(jobsDuring(gw.query(q).values) == ((0, want)), q)
      }
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
    } finally Seq(spark, gw.spark).foreach(_.catalog.dropTempView("wj_aggv"))
  }

  test("a global aggregate over no rows answers one row; count(DISTINCT) keeps its job") {
    gw.execute("DROP TABLE IF EXISTS wj_agg0")
    gw.execute("CREATE TABLE wj_agg0 (id integer, v text)")
    gw.execute("INSERT INTO wj_agg0 VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, NULL)")
    assert(jobsDuring(gw.query("SELECT count(*) AS n, max(id) AS m FROM wj_agg0 WHERE id < 0")
      .values) == ((0, Seq(Seq(0L, null)))))
    assert(jobsDuring(gw.query("SELECT v, count(*) AS n FROM wj_agg0 WHERE id < 0 GROUP BY v")
      .values) == ((0, Nil)))
    val (n, distinct) = jobsDuring(gw.query(
      "SELECT count(DISTINCT v) AS d, count(*) AS n FROM wj_agg0").values)
    assert(n > 0 && distinct == Seq(Seq(2L, 4L)), (n, distinct))
  }

  test("an aggregate read inside BEGIN…ROLLBACK sees the pending rows, with no job") {
    gw.execute("DROP TABLE IF EXISTS wj_aggtx")
    gw.execute("CREATE TABLE wj_aggtx (id integer, v text)")
    gw.execute("INSERT INTO wj_aggtx VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    val q = "SELECT v, count(*) AS n FROM wj_aggtx GROUP BY v ORDER BY v"
    assert(jobsDuring(gw.query(q).values) == ((0, Seq(Seq("a", 2L), Seq("b", 1L)))))
    gw.execute("BEGIN")
    try {
      gw.execute("INSERT INTO wj_aggtx VALUES (4, 'c'), (5, 'a')")
      gw.execute("DELETE FROM wj_aggtx WHERE id = 2")
      assert(jobsDuring(gw.query(q).values) == ((0, Seq(Seq("a", 3L), Seq("c", 1L)))))
    } finally gw.execute("ROLLBACK")
    assert(jobsDuring(gw.query(q).values) == ((0, Seq(Seq("a", 2L), Seq("b", 1L)))))
  }

  test("a correlated COUNT subquery over a small table answers 0 for an outer row " +
       "with no match") {
    gw.execute("DROP TABLE IF EXISTS wj_aggo")
    gw.execute("DROP TABLE IF EXISTS wj_aggi")
    gw.execute("CREATE TABLE wj_aggo (id integer)")
    gw.execute("CREATE TABLE wj_aggi (k integer)")
    gw.execute("INSERT INTO wj_aggo VALUES (1), (2), (3)")
    gw.execute("INSERT INTO wj_aggi VALUES (1), (1), (3)")
    assert(gw.query("SELECT id, (SELECT count(*) FROM wj_aggi WHERE k = id) AS n " +
      "FROM wj_aggo ORDER BY id").values == Seq(Seq(1, 2L), Seq(2, 0L), Seq(3, 1L)))
  }

  /** A gateway on a fresh session of the shared context (its own database
    * and data dir, so a test sees only its own tables), with `conf` set. */
  private def isolatedGateway(ns: String, conf: (String, String)*): SqlGateway = {
    val sess = spark.newSession()
    sess.conf.set("graft.data.dir",
      java.nio.file.Files.createTempDirectory(s"graft-$ns-wh").toString)
    conf.foreach { case (k, v) => sess.conf.set(k, v) }
    sess.sql(s"CREATE DATABASE IF NOT EXISTS $ns")
    sess.catalog.setCurrentDatabase(ns)
    new SqlGateway(sess)
  }

  test("Snapshot.exportDatabase of small tables runs no job") {
    val g = isolatedGateway("wj_snap_ns")
    g.execute("CREATE TABLE s1 (id integer, v text)")
    g.execute("INSERT INTO s1 VALUES (1, 'a'), (2, NULL)")
    g.execute("CREATE TABLE s2 (id integer)") // empty: an empty file
    g.spark.range(1).createOrReplaceTempView("s3") // views are not exported
    val dir = java.nio.file.Files.createTempDirectory("graft-wj-snap").toString
    assert(jobsDuring(graft.engine.Snapshot.exportDatabase(g, dir)) == ((0, Seq("s1", "s2"))))
    // /status lists what the catalog lists, temp views too
    assert(jobsDuring(graft.engine.Snapshot.status(g)("tables")) == ((0, "s1,s2,s3")))
    assert(spark.read.parquet(s"$dir/s1").count() == 2L)
    assert(spark.read.parquet(s"$dir/s2").count() == 0L)
  }

  test("a table whose image passes the driver bound is rewritten and exported by jobs") {
    val g = isolatedGateway("wj_big_ns")
    // a (int, text) row decodes to at least 24 bytes: this image passes
    // the bound part-way through, and the statement falls back to a job
    val n = SqlGateway.DriverImageBytes / 16
    g.spark.range(n).selectExpr("CAST(id AS int) AS id", "CAST(id % 7 AS string) AS v")
      .createOrReplaceTempView("wj_src")
    g.execute("CREATE TABLE t (id integer, v text)")
    g.execute("INSERT INTO t SELECT * FROM wj_src")
    val dir = java.nio.file.Files.createTempDirectory("graft-wj-big").toString
    val (jobs, counts) = jobsDuring((
      g.execute("DELETE FROM t WHERE id % 1000 = 0").rowsAffected,
      g.execute("UPDATE t SET v = 'x' WHERE id % 1000 = 1").rowsAffected,
      graft.engine.Snapshot.exportDatabase(g, dir)))
    val (deleted, updated) = ((n + 999) / 1000, (n + 998) / 1000)
    assert(jobs >= 3 && counts == ((deleted, updated, Seq("t"))), (jobs, counts))
    assert(g.query("SELECT count(*) FROM t").values == Seq(Seq(n - deleted)))
    assert(g.query("SELECT count(*) FROM t WHERE v = 'x'").values == Seq(Seq(updated)))
    // an aggregate over it keeps its job, and answers as one that folds
    val (aggJobs, byV) = jobsDuring(g.query(
      "SELECT v, count(*) AS n FROM t WHERE v <> 'x' GROUP BY v ORDER BY v").values)
    val want = (0L until n).filter(i => i % 1000 != 0 && i % 1000 != 1)
      .groupBy(i => (i % 7).toString).toSeq.sortBy(_._1).map { case (v, is) => Seq(v, is.size.toLong) }
    assert(aggJobs > 0 && byV == want, (aggJobs, byV.take(3)))
    assert(spark.read.parquet(s"$dir/t").count() == n - deleted)
    // a new file set, written by a job: the first read decodes it, finds it
    // too big, and the cache remembers that, so the next read runs its job
    // without decoding it again
    g.execute("INSERT INTO t SELECT * FROM wj_src WHERE id < 10")
    val misses = g.images.stats("image_misses")
    val (reads, maxes) = jobsDuring(Seq("min", "max").map(f =>
      g.query(s"SELECT $f(id) FROM t").values))
    assert(reads >= 2 && maxes == Seq(Seq(Seq(0)), Seq(Seq(n - 1))), (reads, maxes))
    assert(g.images.stats("image_misses") == misses + 1)
  }

  test("the image cache holds at most four images' worth of bytes") {
    val g = isolatedGateway("wj_cap_ns")
    // a (int, text) row of this shape decodes to 40 bytes: each view's
    // image is about 0.6 of the bound, and eight of them pass the cap
    val n = SqlGateway.DriverImageBytes / 64
    (1 to 8).foreach { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-wj-cap$i").toString
      g.spark.range(n).selectExpr("CAST(id AS int) AS id", s"concat('row-', id, '-$i') AS s")
        .write.mode("overwrite").parquet(dir)
      g.spark.read.parquet(dir).createOrReplaceTempView(s"cap$i")
      assert(g.query(s"SELECT count(*) FROM cap$i WHERE id >= 0").values == Seq(Seq(n)))
      val st = g.images.stats
      assert(st("image_bytes") <= 4 * SqlGateway.DriverImageBytes, st)
    }
    val st = g.images.stats
    assert(st("image_misses") == 8 && st("image_entries") < 8, st)
  }
}
