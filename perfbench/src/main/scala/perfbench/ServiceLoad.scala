package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.engine.{ExecuteResult, QueryResult, Results, SqlGateway}
import graft.http.Service

/** A gateway that times its public entry points as spans keyed by the
  * statement text: `queryDf` (rewrite, parse, analysis), the result
  * render of `query`, and `execute`, with the files and bytes an execute
  * adds under the node's data directory. Untraced, it only forwards. */
final class TracedGateway(s: SparkSession, role: String, dataDir: Path)
    extends SqlGateway(s) {
  private val attrs = Map("role" -> role)

  override def queryDf(sql: String): DataFrame =
    Trace.span(sql, "gateway.querydf", attrs = attrs)(super.queryDf(sql))

  override def query(sql: String): QueryResult = {
    val df = queryDf(sql)
    Trace.span(sql, "results", attrs = attrs)(Results.fromDataFrame(df))
  }

  override def execute(sql: String): ExecuteResult =
    if (!Trace.enabled) super.execute(sql)
    else {
      val (f0, b0) = ServiceLoad.du(dataDir)
      val t0 = System.nanoTime()
      val r = super.execute(sql)
      val t1 = System.nanoTime()
      val (f1, b1) = ServiceLoad.du(dataDir)
      Trace.record(Span(sql, "gateway.execute", t0, t1, attrs = attrs ++ Map(
        "files" -> (f1 - f0).toString, "bytes" -> (b1 - b0).toString)))
      r
    }
}

/** The `service` workload: three in-process `Service` nodes, each on its
  * own session and data directory. The leader keeps a statement log with
  * snapshots and acks a write only once a majority holds it; the two
  * followers follow its log and joined through `/join`. Three
  * closed-loop clients replay a seeded script (`run.py` generates it) in
  * rounds of one script block each: reads spread over all nodes, writes
  * to the leader on each client's own table. Every response is recorded; `run.py` checks them against
  * DuckDB and against each client's table model. */
object ServiceLoad {
  val Nodes = 3
  /** Leader snapshot threshold, in log entries. */
  val SnapshotEvery = 16
  /** Statements per client per round: one block of the script's mix. */
  val RoundOps = 5
  /** Rounds run before timing starts. */
  val WarmRounds = 1
  /** Timed statements a run holds at least, so p90 has ten beyond it. */
  val MinStatements = 100
  /** Wall seconds of one round on an idle 4-core machine. */
  val RoundSeconds = 2.0

  final case class Op(client: Int, idx: Int, kind: String, node: Int, sql: String) {
    def isWrite: Boolean = kind.startsWith("write")
  }

  def run(spark: SparkSession, corpus: String, work: Path, seed: Long,
      seconds: Double, traced: Boolean): String = {
    val setup0 = System.nanoTime()
    val script = Files.readAllLines(work.resolve("script.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(c, i, k, n, sql) = l.split("\t", 5)
        Op(c.toInt, i.toInt, k, n.toInt, sql)
      }
    val clients = script.map(_.client).distinct.sorted

    val gateways = (0 until Nodes).map { i =>
      val sess = spark.newSession()
      val data = work.resolve(s"node$i/data")
      Files.createDirectories(data)
      sess.conf.set("graft.data.dir", data.toString)
      sess.sql(s"CREATE DATABASE IF NOT EXISTS node${i}_ns")
      sess.catalog.setCurrentDatabase(s"node${i}_ns")
      Tables.registerAll(sess, corpus)
      new TracedGateway(sess, if (i == 0) "leader" else "follower", data)
    }
    val logDir = work.resolve("node0/log")
    val leader = new Service(gateways(0), nodeId = "node0",
      logDir = Some(logDir.toString), snapshotEvery = SnapshotEvery,
      majorityAck = true)
    val lPort = leader.start()
    val lUrl = s"http://localhost:$lPort"
    val followers = (1 until Nodes).map { i =>
      new Service(gateways(i), leaderUrl = Some(lUrl), nodeId = s"node$i",
        followLog = true)
    }
    val ports = lPort +: followers.map(_.start())
    val services = leader +: followers
    val records = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      followers.zipWithIndex.foreach { case (_, j) =>
        val (code, body) = http(lPort, "/join",
          s"""{"id": "node${j + 1}", "addr": "http://localhost:${ports(j + 1)}"}""")
        require(code == 200, s"join node${j + 1}: $code $body")
      }
      clients.foreach { c =>
        val (code, body) = http(lPort, "/db/execute",
          sqlBody(s"CREATE TABLE t_c$c (id INTEGER, v VARCHAR)"))
        require(code == 200 && !body.contains("\"error\""), s"create t_c$c: $body")
      }

      val byClient = clients.map(c => c -> script.filter(_.client == c)).toMap
      var round = 0

      /** One closed-loop round: every client sends its next [[RoundOps]]
        * statements one after another; the round ends when all clients
        * are done, so every round runs the same mix. */
      def runRound(phase: String): Unit = {
        val from = round * RoundOps
        val threads = clients.map { c =>
          val t = new Thread(() => byClient(c).slice(from, from + RoundOps)
            .foreach(op => records.add(issue(op, phase, ports))), s"perfbench-client-$c")
          t.start(); t
        }
        threads.foreach(_.join())
        round += 1
      }

      (1 to WarmRounds).foreach(_ => runRound("warm"))
      val setupS = (System.nanoTime() - setup0) / 1e9
      val setupCpuS = Main.processCpuS()

      // a fixed number of timed rounds, one per RoundSeconds of `seconds`:
      // the CPU a round costs depends on how many snapshots fall into the
      // timed part, so a time-bounded count of rounds (7 to 9 here) made
      // cpu_ms_per_op jump with the box's speed. A traced run traces every
      // second round, so its untraced rounds interleave.
      val lag = Seq.newBuilder[String]
      val sampler = if (traced) Some(lagSampler(ports, lag)) else None
      val t0 = System.nanoTime()
      val cpu0 = Main.processCpuS()
      val most = script.size / clients.size / RoundOps - WarmRounds
      val least = (MinStatements + clients.size * RoundOps - 1) / (clients.size * RoundOps)
      val rounds = math.min(most, math.max(least, math.ceil(seconds / RoundSeconds).toInt))
      var k = 0
      try while (k < rounds) {
        Trace.enabled = traced && k % 2 == 1
        runRound(if (Trace.enabled) "traced" else "timed")
        Trace.enabled = false
        k += 1
      } finally {
        Trace.enabled = false
        sampler.foreach { t => t.interrupt(); t.join() }
      }
      val timedS = (System.nanoTime() - t0) / 1e9
      val cpuS = Main.processCpuS() - cpu0
      val exhausted = k == most

      // every node against every client's model, after the last write
      clients.foreach { c =>
        (0 until Nodes).foreach { n =>
          records.add(issue(Op(c, -1, "final", n, s"SELECT id, v FROM t_c$c ORDER BY id"),
            "final", ports))
        }
      }
      val spans = Trace.drain().map(J.span)
      J.obj(
        "setup_s" -> J.num(setupS),
        "setup_cpu_s" -> J.num(setupCpuS),
        "timed_s" -> J.num(timedS),
        "timed_cpu_s" -> J.num(cpuS),
        "script_exhausted" -> J.bool(exhausted),
        "ops" -> J.arr(records.asScala.toSeq),
        "spans" -> J.arr(spans),
        "lag" -> J.arr(lag.result()),
        "disk" -> J.obj(
          "data" -> duJson(work.resolve("node0/data")),
          "log" -> duJson(logDir.resolve("stmtlog.jsonl")),
          "snapshots" -> duJson(logDir.resolve("snapshots"))))
    } finally services.foreach(_.stop())
  }

  /** Send one op and record it; a write that was refused (a majority-ack
    * 503) or got no answer is resolved by reading the client's table on
    * the leader right after. */
  private def issue(op: Op, phase: String, ports: IndexedSeq[Int]): String = {
    val path = if (op.isWrite) "/db/execute" else "/db/query"
    val t0 = System.nanoTime()
    val (code, body) =
      try Trace.span(op.sql, if (op.isWrite) "http.write" else "http.read",
        attrs = Map("node" -> op.node.toString))(http(ports(op.node), path, sqlBody(op.sql)))
      catch { case e: Exception => (-1, J.failure(e)) }
    val t1 = System.nanoTime()
    val resolve =
      if (op.isWrite && code != 200) {
        val (rc, rb) = http(ports(0), "/db/query",
          sqlBody(s"SELECT id, v FROM t_c${op.client} ORDER BY id"))
        Seq("resolve_code" -> J.num(rc.toLong), "resolve_body" -> J.str(rb))
      } else Nil
    J.obj(Seq("client" -> J.num(op.client.toLong), "idx" -> J.num(op.idx.toLong),
      "kind" -> J.str(op.kind), "node" -> J.num(op.node.toLong),
      "phase" -> J.str(phase), "sql" -> J.str(op.sql),
      "t0" -> J.num(t0), "t1" -> J.num(t1), "code" -> J.num(code.toLong),
      "body" -> J.str(body)) ++ resolve: _*)
  }

  private def sqlBody(sql: String): String = s"""{"sql": ${J.str(sql)}}"""

  def http(port: Int, path: String, body: String): (Int, String) = {
    val c = new URI(s"http://localhost:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setRequestProperty("Content-Type", "application/json")
    c.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
    (code, text)
  }

  /** Samples each follower's distance behind the leader's log every
    * 200 ms, from `/status`, while a traced round runs. */
  private def lagSampler(ports: IndexedSeq[Int],
      out: scala.collection.mutable.Builder[String, Seq[String]]): Thread = {
    def field(port: Int, f: String): Option[Long] = {
      val c = new URI(s"http://localhost:$port/status").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      val body = new String(c.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      graft.http.Json.extractField(body, f).map(_.toLong)
    }
    val t = new Thread(() => {
      try while (true) {
        if (Trace.enabled) try {
          val lead = field(ports(0), "log_index")
          val lags = ports.tail.flatMap(p => field(p, "applied_index"))
            .flatMap(a => lead.map(_ - a))
          out.synchronized { lags.foreach(l => out += J.num(l)) }
        } catch { case _: java.io.IOException => () } // a missed sample
        Thread.sleep(200)
      } catch { case _: InterruptedException => () }
    }, "perfbench-lag")
    t.start(); t
  }

  /** (files, bytes) under `p`, or of `p` itself when it is a file. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else if (Files.isRegularFile(p)) (1L, Files.size(p))
    else {
      // the service may retire a snapshot while this walks: a file that
      // vanished counts as absent
      def size(x: Path): Long = try Files.size(x) catch { case _: java.io.IOException => 0L }
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((f, b), x) => (f + 1, b + size(x)) }
      catch { case _: java.io.UncheckedIOException => (0L, 0L) }
      finally s.close()
    }

  private def duJson(p: Path): String = {
    val (f, b) = du(p)
    J.obj("files" -> J.num(f), "bytes" -> J.num(b))
  }
}
