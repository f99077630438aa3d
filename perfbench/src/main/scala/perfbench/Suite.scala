package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, Tables}
import graft.ops.PlanProfile

/** The `suite` workload: a fixed cross-section of `SparkEntry.queries`
  * run as interleaved passes over the pinned corpus, each under its
  * `PlanProfile`, the way `graft.Bench` runs the whole suite.
  *
  * Set-up: pin the corpus (`Tables.pin`), one pass that writes every
  * result to parquet for the digest check, one noop pass (the first
  * noop pass after the parquet one took a sixth more CPU than the
  * passes after it). Timed: a fixed number of passes for `seconds`, in
  * seeded order. A traced run traces every second pass, so it reports
  * its own tracing overhead. */
object Suite {
  /** Short ids of the timed queries, chosen by the per-query costs of
    * the whole suite at sf0.1 in the repository's bench_detail.json and
    * stratified by cost: x02, x31 and x42 (0.61, 0.28 and 0.28 s; the
    * MinHash dedup and heavy-hitter sketch paths) from the top decile,
    * and two from each cost quartile below it, spaced evenly in cost
    * order (q16 0.23, q03 0.16; q10 0.14, q50 0.11; x06 0.08, q45 0.07;
    * q13 0.06, q02 0.03 s), so every cost stratum runs in every pass.
    * q18, the heaviest (0.77 s), is left out to keep a run within its
    * time limit: at sf0.01 it took a sixth of a pass. */
  val Ids: Seq[String] = Seq(
    "x02", "x31", "x42", "q16", "q03", "q10", "q50", "x06", "q45",
    "q13", "q02")
  /** At least two passes: 22 samples, so the median is reportable, and a
    * traced run has a traced and an untraced pass. */
  val MinPasses = 2
  /** About the wall time of one pass on a 4-core machine. The timed pass
    * count is fixed by `seconds`, not by the clock, so every run times
    * the same work: the first passes cost a little more than later ones,
    * and a run that fitted one pass more read a tenth lower. */
  val PassSeconds = 5.0

  /** {name: oracle SQL} of the timed queries, as JSON. */
  def oracleSql: String = {
    val all = SparkEntry.oracleSql
    J.obj(names.map(n => n -> J.str(all(n))): _*)
  }

  private def names: Seq[String] = {
    val all = SparkEntry.queries.keys
    Ids.map(id => all.find(_.startsWith(id + "_")).getOrElse(sys.error(s"no registered query $id")))
  }

  def run(spark: SparkSession, corpus: String, work: Path, seed: Long,
      seconds: Double, traced: Boolean): String = {
    val queries = names.map(n => n -> SparkEntry.queries(n))

    val setup0 = System.nanoTime()
    Tables.pin(spark, corpus)
    val pinS = (System.nanoTime() - setup0) / 1e9
    val storage = spark.sparkContext.getRDDStorageInfo
    val cacheMem = storage.map(_.memSize).sum
    val cacheDisk = storage.map(_.diskSize).sum

    // untimed pass: every result to parquet for the digest check
    val digest0 = System.nanoTime()
    val results = work.resolve("results")
    val digestFailures = queries.flatMap { case (name, fn) =>
      try {
        PlanProfile.withProfile(spark, name) {
          fn(spark, corpus).coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(name).toString)
        }
        None
      } catch { case e: Throwable => Some(name -> J.failure(e)) }
    }

    def runOne(name: String, fn: graft.Q): Option[String] =
      try {
        PlanProfile.withProfile(spark, name) {
          fn(spark, corpus).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(J.failure(e)) }

    val warm0 = System.nanoTime()
    queries.foreach { case (name, fn) => runOne(name, fn) }
    val setupEnd = System.nanoTime()
    val setupCpuS = Main.processCpuS()

    val ops = Seq.newBuilder[String]
    val passWalls = Seq.newBuilder[String]
    val spans = Seq.newBuilder[String]
    var pass = 0

    // timed passes in seeded order; a traced run traces every second
    // pass, so its untraced passes interleave with the traced ones
    val passes = math.max(MinPasses, math.ceil(seconds / PassSeconds).toInt)
    val cpu0 = Main.processCpuS()
    while (pass < passes) {
      pass += 1
      val pc0 = Main.processCpuS()
      val listener = if (traced && pass % 2 == 0) Some(new EngineListener(spark)) else None
      listener.foreach { l => l.register(); Trace.enabled = true }
      val order = new scala.util.Random(seed * 1000 + pass).shuffle(queries)
      val p0 = System.nanoTime()
      try order.foreach { case (name, fn) =>
        val req = s"$name#$pass"
        val j0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        val err = listener match {
          case None => runOne(name, fn)
          case Some(l) => tracedOne(spark, corpus, req, name, fn, l)
        }
        val t1 = System.nanoTime()
        val extra = listener.map { l =>
          val (fields, sp) = layerFields(req, l.take())
          sp.foreach(s => spans += J.span(s))
          fields :+ ("janino_ms" -> J.num((CodeGenerator.compileTime - j0) / 1e6))
        }.getOrElse(Nil)
        ops += J.obj(Seq("q" -> J.str(name), "pass" -> J.num(pass.toLong),
          "traced" -> J.bool(listener.isDefined),
          "t0" -> J.num(t0), "t1" -> J.num(t1),
          "err" -> err.map(J.str).getOrElse("null")) ++ extra: _*)
      } finally listener.foreach { l => Trace.enabled = false; l.unregister() }
      passWalls += J.obj("pass" -> J.num(pass.toLong),
        "traced" -> J.bool(listener.isDefined),
        "wall_s" -> J.num((System.nanoTime() - p0) / 1e9),
        "cpu_s" -> J.num(Main.processCpuS() - pc0))
    }
    val cpuS = Main.processCpuS() - cpu0
    Trace.drain().foreach(s => spans += J.span(s))

    J.obj(
      "setup_s" -> J.num((setupEnd - setup0) / 1e9),
      "setup_cpu_s" -> J.num(setupCpuS),
      "pin_s" -> J.num(pinS),
      "timed_cpu_s" -> J.num(cpuS),
      "cache_mem_bytes" -> J.num(cacheMem),
      "cache_disk_bytes" -> J.num(cacheDisk),
      "digest_pass_s" -> J.num((warm0 - digest0) / 1e9),
      "warm_pass_s" -> J.num((setupEnd - warm0) / 1e9),
      "queries" -> J.arr(queries.map(q => J.str(q._1))),
      "digest_failures" -> J.obj(digestFailures.map { case (k, v) => k -> J.str(v) }: _*),
      "results_dir" -> J.str(results.toString),
      "passes" -> J.arr(passWalls.result()),
      "ops" -> J.arr(ops.result()),
      "spans" -> J.arr(spans.result()))
  }

  /** One traced query: the whole request, the builder call inside it, and
    * the analysis the builder triggered (read off the built DataFrame). */
  private def tracedOne(spark: SparkSession, corpus: String, req: String,
      name: String, fn: graft.Q, l: EngineListener): Option[String] =
    try {
      Trace.span(req, "query") {
        PlanProfile.withProfile(spark, name) {
          val df = Trace.span(req, "queries.build", "query")(fn(spark, corpus))
          EngineListener.phases(df.queryExecution).foreach { case (p, s, e) =>
            Trace.record(Span(req, s"catalyst.$p", Trace.epochMsToNano(s),
              Trace.epochMsToNano(e)))
          }
          df.write.format("noop").mode("overwrite").save()
        }
      }
      None
    } catch { case e: Throwable => Some(J.failure(e)) }

  /** Per-query layer counters and job/phase spans from the listener's
    * events; jobs that started before the write are the builder's. */
  private def layerFields(req: String, events: Seq[EngineListener.Event])
      : (Seq[(String, String)], Seq[Span]) = {
    import EngineListener._
    val starts = events.collect { case JobStart(id, ms) => id -> ms }.toMap
    val ends = events.collect { case JobEnd(id, ms) => id -> ms }.toMap
    val buildEnd = Trace.spans.toArray(Array.empty[Span])
      .find(s => s.req == req && s.name == "queries.build").map(_.end)
    val jobSpans = starts.toSeq.map { case (id, s) =>
      Span(req, "sched.job", Trace.epochMsToNano(s),
        Trace.epochMsToNano(ends.getOrElse(id, s)), attrs = Map("job" -> id.toString))
    }
    val phaseSpans = events.collect { case Executed(ps, _) => ps }.flatten.map {
      case (p, s, e) => Span(req, s"catalyst.$p", Trace.epochMsToNano(s),
        Trace.epochMsToNano(e))
    }
    val tasks = events.collect { case t: TaskDone => t }
    val fields = Seq(
      "jobs" -> J.num(starts.size.toLong),
      "build_jobs" -> J.num(jobSpans.count(j => buildEnd.exists(j.start < _)).toLong),
      "stages" -> J.num(events.count(_.isInstanceOf[StageSubmit]).toLong),
      "tasks" -> J.num(tasks.size.toLong),
      "task_wait_ms" -> J.num(tasks.map(_.waitMs).sum),
      "broadcasts" -> J.num(events.collect { case Executed(_, b) => b }.sum.toLong),
      "task_cpu_ms" -> J.num(tasks.map(_.cpuMs).sum),
      "task_run_ms" -> J.num(tasks.map(_.runMs).sum),
      "shuffle_read_bytes" -> J.num(tasks.map(_.shuffleRead).sum),
      "shuffle_write_bytes" -> J.num(tasks.map(_.shuffleWrite).sum),
      "spill_bytes" -> J.num(tasks.map(_.spill).sum),
      "peak_exec_mem_bytes" -> J.num(if (tasks.isEmpty) 0L else tasks.map(_.peakMem).max),
      "gc_ms" -> J.num(tasks.map(_.gcMs).sum))
    (fields, jobSpans ++ phaseSpans)
  }
}
