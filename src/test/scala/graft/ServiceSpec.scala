package graft

import graft.engine.SqlGateway
import graft.http.Service
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Drives the HTTP façade over a real socket — the reference's own smoke
  * flow (`cmd/cli/client.go:94-129`) reformulated as assertions. */
class ServiceSpec extends SparkTestBase {
  lazy val gw = new SqlGateway(spark)
  lazy val service = new Service(gw)
  lazy val port: Int = service.start()

  private def http(method: String, path: String, body: Option[String] = None): (Int, String) = {
    val conn = URI.create(s"http://localhost:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  test("execute + query round trip over HTTP") {
    val (c1, b1) = http("POST", "/db/execute",
      Some("""{"sql": "CREATE TABLE htt (id integer not null primary key, name text)"}"""))
    assert(c1 == 200 && b1.contains("rows_affected"))
    val (c2, b2) = http("POST", "/db/execute",
      Some("""{"sql": "INSERT INTO htt VALUES (1, 'hello')"}"""))
    assert(c2 == 200 && b2.contains("\"rows_affected\": 1"))
    val (c3, b3) = http("POST", "/db/query", Some("""{"sql": "SELECT * FROM htt"}"""))
    assert(c3 == 200)
    assert(b3.contains(""""columns": ["id", "name"]"""))
    assert(b3.contains(""""types": ["INTEGER", "VARCHAR"]"""))
    assert(b3.contains("""[1, "hello"]"""))
    assert(b3.contains("\"time\""))
  }

  test("GET query with q param") {
    val (c, b) = http("GET", "/db/query?q=SELECT%201%20AS%20one")
    assert(c == 200 && b.contains(""""values": [[1]]"""))
  }

  test("transaction statements drive over HTTP (BEGIN/INSERT/ROLLBACK/COMMIT)") {
    val exec = (sql: String) =>
      http("POST", "/db/execute", Some(s"""{"sql": "$sql"}"""))
    assert(exec("CREATE TABLE htx (id integer primary key)")._1 == 200)
    assert(exec("INSERT INTO htx VALUES (1)")._1 == 200)
    assert(exec("BEGIN")._1 == 200)
    assert(exec("INSERT INTO htx VALUES (2)")._1 == 200)
    assert(exec("ROLLBACK")._1 == 200)
    val (_, afterRb) = http("POST", "/db/query",
      Some("""{"sql": "SELECT count(*) AS n FROM htx"}"""))
    assert(afterRb.contains("[[1]]"), afterRb)
    assert(exec("BEGIN")._1 == 200)
    assert(exec("INSERT INTO htx VALUES (2)")._1 == 200)
    assert(exec("COMMIT")._1 == 200)
    val (_, afterCm) = http("POST", "/db/query",
      Some("""{"sql": "SELECT count(*) AS n FROM htx"}"""))
    assert(afterCm.contains("[[2]]"), afterCm)
    // statement errors inside a txn surface in the error field; the txn
    // stays usable (DuckDB single-connection behavior differs — it aborts
    // the txn — but our refused statements never half-applied anything)
    assert(exec("BEGIN")._1 == 200)
    val (c, b) = exec("DROP TABLE htx")
    assert(c == 200 && b.contains("\"error\""))
    assert(exec("ROLLBACK")._1 == 200)
  }

  test("SQL error is reported in the error field, HTTP 200 (reference shape)") {
    val (c, b) = http("POST", "/db/query", Some("""{"sql": "SELECT * FROM no_such"}"""))
    assert(c == 200 && b.contains("\"error\""))
  }

  test("missing sql field is HTTP 400 (reference error contract)") {
    val (c, b) = http("POST", "/db/execute", Some("""{"nope": 1}"""))
    assert(c == 400 && b.contains("missing sql field"))
    val (c2, _) = http("POST", "/db/query", Some("""{"sql": "   "}"""))
    assert(c2 == 400)
  }

  test("GET /db/query falls back to the body sql field when ?q= is absent") {
    // HttpURLConnection silently turns GET-with-body into POST; use
    // HttpClient, which lets a reference-style client send GET + JSON body
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(URI.create(s"http://localhost:$port/db/query"))
      .method("GET", java.net.http.HttpRequest.BodyPublishers.ofString("""{"sql": "SELECT 2 AS two"}"""))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200 && resp.body().contains("[[2]]"))
  }

  test("result sets beyond the row cap are truncated with metadata") {
    gw.spark.conf.set("graft.query.maxResultRows", "3")
    try {
      val (c, b) = http("POST", "/db/query",
        Some("""{"sql": "SELECT id FROM range(10) ORDER BY id"}"""))
      assert(c == 200 && b.contains("\"truncated\": true"))
      // exactly cap rows survive
      assert(b.contains("[[0], [1], [2]]"))
    } finally gw.spark.conf.unset("graft.query.maxResultRows")
  }

  test("wrong method is rejected") {
    val (c, _) = http("GET", "/db/execute")
    assert(c == 405)
  }

  test("status reports engine facts") {
    val (c, b) = http("GET", "/status")
    assert(c == 200 && b.contains("\"engine\": \"spark\"") && b.contains("uptimeMs"))
  }

  test("status reports the driver-image cache, and two reads of one table hit it") {
    def stat(key: String): Long = {
      val (c, b) = http("GET", "/status")
      assert(c == 200, b)
      ("\"" + key + "\": \"(\\d+)\"").r.findFirstMatchIn(b).map(_.group(1).toLong)
        .getOrElse(fail(s"no $key in $b"))
    }
    Seq("image_bytes", "image_entries", "image_misses").foreach(stat)
    val exec = (sql: String) => http("POST", "/db/execute", Some(s"""{"sql": "$sql"}"""))
    assert(exec("CREATE TABLE hti (id integer, v text)")._1 == 200)
    assert(exec("INSERT INTO hti VALUES (1, 'a')")._1 == 200)
    val read = () => http("POST", "/db/query", Some("""{"sql": "SELECT id, v FROM hti"}"""))
    val h0 = stat("image_hits")
    assert(read()._2.contains("""[1, "a"]"""))
    val h1 = stat("image_hits")
    assert(read()._2.contains("""[1, "a"]"""))
    val h2 = stat("image_hits")
    assert(h0 < h1 && h1 < h2, (h0, h1, h2))
  }

  test("join registers the member and surfaces it in /status") {
    val (c, b) = http("POST", "/join", Some("""{"addr": "http://h:9", "id": "y"}"""))
    assert(c == 200 && b.contains("\"y\""), b)
    val (sc, sb) = http("GET", "/status")
    assert(sc == 200 && sb.contains("y=http://h:9"), sb)
  }

  test("pretty param indents output") {
    val (_, b) = http("GET", "/db/query?q=SELECT%201%20AS%20one&pretty")
    assert(b.contains("\n"))
  }

  test("reference demo-client scenario, line by line (cmd/cli/client.go:100-110)") {
    // the reference client drives THREE tables through /db/execute?pretty
    // and /db/query?pretty across its 3-node cluster; the reference's
    // read-scaling means any node answers any query over the shared
    // replicated database. Here Spark is the distribution layer, so one
    // service IS that shared database — the statement sequence, endpoints,
    // ?pretty flag, and result shapes replay verbatim.
    for (t <- Seq("abc", "def", "ghi")) http("POST", "/db/execute",
      Some(s"""{"sql": "DROP TABLE IF EXISTS $t"}"""))
    val steps = Seq(
      ("/db/execute?pretty", "CREATE TABLE abc (id integer not null primary key, name text)"),
      ("/db/execute?pretty", "CREATE TABLE def (id integer not null primary key, name text)"),
      ("/db/execute?pretty", "CREATE TABLE ghi (id integer not null primary key, name text)"),
      ("/db/execute?pretty", "INSERT INTO def(id,name) VALUES(1,'def')"),
      ("/db/execute?pretty", "INSERT INTO abc(id,name) VALUES(1,'abc')"),
      ("/db/execute?pretty", "INSERT INTO ghi(id,name) VALUES(1,'ghi')"),
      ("/db/query?pretty", "SELECT * FROM def"),
      ("/db/query?pretty", "SELECT * FROM ghi"),
      ("/db/query?pretty", "SELECT * FROM abc"))
    val responses = steps.map { case (path, sql) =>
      val (code, body) = http("POST", path, Some(s"""{"sql": "$sql"}"""))
      assert(code == 200, s"$path $sql -> $code: $body")
      assert(!body.contains("\"error\""), s"$path $sql errored: $body")
      body
    }
    // ?pretty splits arrays across indented lines — normalize whitespace
    // to assert the JSON content, and the raw body for the indentation
    def flat(b: String) = b.replaceAll("\\s+", "")
    // execute responses carry rows_affected (db/db.go:49-65 shape):
    // 1 for each single-row INSERT
    responses.slice(3, 6).foreach(b =>
      assert(flat(b).contains("\"rows_affected\":1"), b))
    // query responses carry the {columns,types,values,time} shape of
    // db/db.go:43-47, with DuckDB type names, ?pretty-indented
    responses.drop(6).zip(Seq("def", "ghi", "abc")).foreach { case (b, name) =>
      val f = flat(b)
      assert(f.contains(""""columns":["id","name"]"""), b)
      assert(f.contains(""""types":["INTEGER","VARCHAR"]"""), b)
      assert(f.contains(s"""[1,"$name"]"""), b)
      assert(f.contains("\"time\"") && b.contains("\n"), b)
    }
  }

  test("read replica redirects writes to the leader, serves reads (http/service.go:231-234)") {
    // reference contract: a follower answers writes with 301 + the
    // leader's URL in Location; the CLI re-POSTs there
    // (cmd/cli/client.go:52-63); reads are served by any node.
    val replica = new Service(new SqlGateway(spark),
      leaderUrl = Some(s"http://localhost:$port"))
    val rPort = replica.start()
    try {
      // write against the replica — raw connection, redirects NOT followed
      // (HttpURLConnection won't re-POST a body through a 301 anyway;
      // re-POSTing is the client's job, as in the reference CLI)
      val conn = URI.create(s"http://localhost:$rPort/db/execute").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setInstanceFollowRedirects(false)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val sql = """{"sql": "CREATE TABLE repl_t (id integer not null primary key, name text)"}"""
      conn.getOutputStream.write(sql.getBytes(StandardCharsets.UTF_8))
      assert(conn.getResponseCode == 301)
      val loc = conn.getHeaderField("Location")
      assert(loc == s"http://localhost:$port/db/execute")
      conn.disconnect()
      // re-POST to the advertised leader — the reference client's move
      val relative = loc.stripPrefix(s"http://localhost:$port")
      val (c2, b2) = http("POST", relative, Some(sql))
      assert(c2 == 200 && b2.contains("rows_affected"), b2)
      val (c3, _) = http("POST", "/db/execute",
        Some("""{"sql": "INSERT INTO repl_t VALUES (7, 'via-leader')"}"""))
      assert(c3 == 200)
      // reads ARE served by the replica (read-scaling), and see the write
      val rconn = URI.create(
        s"http://localhost:$rPort/db/query?q=SELECT%20*%20FROM%20repl_t").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      rconn.setRequestMethod("GET")
      assert(rconn.getResponseCode == 200)
      val rb = new String(rconn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(rb.contains("""[7, "via-leader"]"""), rb)
      rconn.disconnect()
      // status reports the role either side
      val sconn = URI.create(s"http://localhost:$rPort/status").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val sb = new String(sconn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(sb.contains("\"role\": \"follower\"") &&
        sb.contains(s"http://localhost:$port"), sb)
      sconn.disconnect()
      val (_, lb) = http("GET", "/status")
      assert(lb.contains("\"role\": \"leader\""), lb)
    } finally replica.stop()
  }

  override def afterAll(): Unit = { service.stop(); super.afterAll() }
}
