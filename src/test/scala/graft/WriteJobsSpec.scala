package graft

import graft.engine.SqlGateway
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per small write statement: the cost floor every replica
  * pays once per replicated statement. A literal batch is checked and
  * written on the driver; a DELETE's rewrite is its only job. */
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

  /** (jobs, rows affected) of one statement; the listener bus is drained
    * before and after, so no other statement's jobs are counted. */
  private def jobsOf(sql: String): (Int, Long) = {
    listener
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    jobs.set(0)
    val n = gw.execute(sql).rowsAffected
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    (jobs.get, n)
  }

  private def files(table: String): Set[String] = spark.table(table).inputFiles.toSet

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

  test("INSERT … VALUES into a PRIMARY KEY table runs one job: the key probe") {
    gw.execute("DROP TABLE IF EXISTS wj_pk")
    gw.execute("CREATE TABLE wj_pk (id integer primary key, v text)")
    for (i <- 1 to 3)
      assert(jobsOf(s"INSERT INTO wj_pk VALUES ($i, 'r$i')") == ((1, 1L)))
    assert(gw.query("SELECT count(*) AS n FROM wj_pk").values.head.head == 3L)
  }

  test("DELETE … WHERE runs one job: the rewrite, with rows affected from the footers") {
    gw.execute("DROP TABLE IF EXISTS wj_del")
    gw.execute("CREATE TABLE wj_del (id integer, v text)")
    (1 to 6).foreach(i => gw.execute(s"INSERT INTO wj_del VALUES ($i, 'r$i')"))
    assert(jobsOf("DELETE FROM wj_del WHERE id = 2") == ((1, 1L)))
    assert(jobsOf("DELETE FROM wj_del WHERE id > 4") == ((1, 2L)))
    assert(jobsOf("DELETE FROM wj_del WHERE id = 99") == ((1, 0L)))
    // the rewrite of a small table is one file, not one per input split
    assert(files("wj_del").size == 1)
    assert(gw.query("SELECT id FROM wj_del ORDER BY id").values.map(_.head) ==
      Seq(1, 3, 4))
  }
}
