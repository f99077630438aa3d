package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** One-off diagnostic main for the per-query fixed floor (r5 verdict item 1).
  *
  * For every registered query at the given SF, measures separately:
  *   - build  : `fn(spark, dir)` — parse/analyze time on the driver
  *   - exec   : noop-sink write (optimize + physical plan + run)
  *   - jobs   : Spark jobs the action spawned (AQE stage materialization
  *              shows up here — each materialized shuffle stage is a job)
  *   - stages / tasks : scheduling volume behind the same action
  *
  * Runs the whole list twice in ONE session: AQE on, then AQE off (session
  * conf flip) — a within-session A/B of stage-sequencing overhead with JIT,
  * cache and box state held constant.  Output: one TSV line per query to
  * stdout (grep ^PROBE), plus family-level sums.
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionProfile.session()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
      }
    })

    graft.SessionProfile.resident(spark, sfDir)

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

    def runPass(tag: String): Unit = {
      // one throwaway pass so both A/B arms are warm under the current conf
      ordered.foreach { case (name, fn) =>
        graft.SessionProfile.attempt(s"probe warm $name") {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }
      val nPasses = 2
      val rows = ordered.map { case (name, fn) =>
        var bBuild = Double.MaxValue; var bExec = Double.MaxValue
        var bJobs = 0; var bStages = 0; var bTasks = 0; var bTaskMs = 0L
        (1 to nPasses).foreach { _ =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          // drain the async listener bus around reset AND read: events are
          // delivered off-thread, so without the barrier a previous query's
          // stragglers land in this query's counters (ADVICE r6)
          org.apache.spark.graft.ListenerShim.waitUntilEmpty(spark.sparkContext)
          jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
          graft.SessionProfile.attempt(s"probe $tag $name") {
            df.write.format("noop").mode("overwrite").save()
          }
          val t2 = System.nanoTime()
          org.apache.spark.graft.ListenerShim.waitUntilEmpty(spark.sparkContext)
          val build = (t1 - t0) / 1e9; val exec = (t2 - t1) / 1e9
          if (build + exec < bBuild + bExec) {
            bBuild = build; bExec = exec
            bJobs = jobs.get(); bStages = stages.get(); bTasks = tasks.get(); bTaskMs = taskTimeMs.get()
          }
        }
        println(f"PROBE\t$tag\t$name\t$bBuild%.3f\t$bExec%.3f\t$bJobs\t$bStages\t$bTasks\t$bTaskMs")
        (bBuild, bExec, bJobs, bStages, bTasks, bTaskMs)
      }
      val tb = rows.map(_._1).sum; val te = rows.map(_._2).sum
      val tj = rows.map(_._3).sum; val ts = rows.map(_._4).sum
      val tt = rows.map(_._5).sum; val tm = rows.map(_._6).sum
      println(f"PROBE_TOTAL\t$tag\tbuild=$tb%.2f\texec=$te%.2f\tjobs=$tj\tstages=$ts\ttasks=$tt\ttaskMs=$tm")
    }

    runPass("aqe_on")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    runPass("aqe_off")
    spark.stop()
  }
}
