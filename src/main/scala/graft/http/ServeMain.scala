package graft.http

import graft.{SessionProfile, Tables}
import graft.engine.SqlGateway

/** Service entry point — the `main.go:24-82` equivalent: build the engine,
  * optionally pre-register the testdata corpus as views, serve HTTP.
  *
  * Usage: sbt "runMain graft.http.ServeMain <port> [sfDir]"
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = SessionProfile.session("spark.sql.warehouse.dir" ->
      sys.env.getOrElse("GRAFT_WAREHOUSE",
        java.nio.file.Files.createTempDirectory("graft-wh").toString))
    args.lift(1).foreach(dir => Tables.registerAll(spark, dir))
    // durability + cluster knobs, mirroring the reference's flags
    // (`main.go:24-27`): GRAFT_LOG_DIR enables the JSONL statement log +
    // snapshot recovery; GRAFT_SNAPSHOT_EVERY=N takes an async snapshot
    // each N logged statements. Replica/failover (the -leader/-id
    // equivalents): GRAFT_LEADER_URL makes this node a read replica of
    // that leader (GRAFT_FOLLOW_LOG=true for continuous log-following),
    // GRAFT_NODE_ID names it, GRAFT_HEALTH_MS enables the background
    // health/failover tick, GRAFT_LEASE_MS the leader's write lease, and
    // GRAFT_MAJORITY_ACK=true Raft's majority-commit ack rule.
    def envInt(k: String) = sys.env.get(k).map(_.toInt).getOrElse(0)
    val service = new Service(new SqlGateway(spark), port,
      leaderUrl = sys.env.get("GRAFT_LEADER_URL"),
      nodeId = sys.env.getOrElse("GRAFT_NODE_ID", "node0"),
      followLog = sys.env.get("GRAFT_FOLLOW_LOG").contains("true"),
      logDir = sys.env.get("GRAFT_LOG_DIR"),
      snapshotEvery = envInt("GRAFT_SNAPSHOT_EVERY"),
      healthCheckMs = envInt("GRAFT_HEALTH_MS"),
      leaseMs = envInt("GRAFT_LEASE_MS"),
      majorityAck = sys.env.get("GRAFT_MAJORITY_ACK").contains("true"))
    val bound = service.start()
    println(s"graft service listening on :$bound")
    Thread.currentThread().join()
  }
}
