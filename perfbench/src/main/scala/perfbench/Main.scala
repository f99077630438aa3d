package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry. `run.py` builds the classpath and calls
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --corpus DIR --work DIR --out FILE
  * }}}
  *
  * `--oracle-sql FILE` instead writes the DuckDB oracle SQL of the timed
  * suite queries, for `make_digests.py`.
  *
  * The JVM runs one workload and writes its raw record (setup times,
  * one entry per timed operation, spans and layer counters when traced,
  * run metadata) to `--out`; `run.py` turns that record into metrics and
  * checks the outputs. Nothing here prints the result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    opts.get("oracle-sql").foreach { out =>
      Files.writeString(Paths.get(out), Suite.oracleSql, StandardCharsets.UTF_8)
      return
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val corpus = opts("corpus")
    val work = Paths.get(opts("work"))
    val loadBefore = loadavg()
    val stat0 = cpuStat()
    val spark = session(work)
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val body = try workload match {
      case "suite" => Suite.run(spark, corpus, work, seed, seconds, traced)
      case "service" => ServiceLoad.run(spark, corpus, work, seed, seconds, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val meta = J.obj(
      "nproc" -> J.num(Runtime.getRuntime.availableProcessors),
      "master" -> J.str(master),
      "heap_bytes" -> J.num(Runtime.getRuntime.maxMemory),
      "conf" -> J.obj(Conf.toSeq.map { case (k, v) => k -> J.str(v) }: _*),
      "loadavg_before" -> J.num(loadBefore),
      "loadavg_after" -> J.num(loadavg()),
      "steal_pct" -> J.num(stealPct(stat0, cpuStat())),
      "corpus" -> corpusInfo(corpus),
      "rss_peak_kb" -> J.num(vmHwmKb()))
    Files.writeString(Paths.get(opts("out")),
      J.obj("workload" -> J.str(workload), "seed" -> J.num(seed),
        "trace" -> J.num(if (traced) 1 else 0), "boot_s" -> J.num(bootS),
        "meta" -> meta, "run" -> body),
      StandardCharsets.UTF_8)
  }

  def master: String = s"local[${Runtime.getRuntime.availableProcessors}]"

  /** The session settings `graft.Bench` runs with (its defaults, without
    * its environment overrides), sized to this machine. */
  def Conf: Seq[(String, String)] = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.locality.wait" -> "0ms",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000")
  }

  private def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    Conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .split(" ")(0).toDouble

  /** The machine-wide cpu line of /proc/stat, in clock ticks. */
  def cpuStat(): Array[Long] =
    new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
      .linesIterator.next().split("\\s+").drop(1).map(_.toLong)

  /** Share of the machine's time taken by its hypervisor (steal) between
    * two [[cpuStat]] samples: other guests on the host slow this run. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = a.zip(b).map { case (x, y) => y - x }
    if (d.sum == 0) 0.0 else 100.0 * d(7) / d.sum
  }

  /** CPU time this JVM has used since it started (user + system), in
    * seconds. */
  def processCpuS(): Double = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.US_ASCII)
    val rest = f.substring(f.lastIndexOf(')') + 2).split(" ")
    (rest(11).toLong + rest(12).toLong) / 100.0 // utime, stime at USER_HZ
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  def vmHwmKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  /** Rows and bytes per corpus table. Rows come from the parquet footers
    * (no Spark job), so collecting this does not disturb the timings. */
  private def corpusInfo(dir: String): String = {
    val conf = new org.apache.hadoop.conf.Configuration()
    J.obj(graft.Tables.all.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val rows = try reader.getRecordCount finally reader.close()
      t -> J.obj("rows" -> J.num(rows),
        "bytes" -> J.num(Files.size(Paths.get(s"$dir/$t.parquet"))))
    }: _*)
  }
}

/** Minimal JSON encoding for the run record. */
object J {
  def str(s: String): String = graft.http.Json.str(s)
  def num(v: Long): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def bool(b: Boolean): String = b.toString
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def span(s: Span): String = obj(
    "req" -> str(s.req), "name" -> str(s.name), "start" -> num(s.start),
    "end" -> num(s.end), "parent" -> str(s.parent),
    "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> str(v) }: _*))

  /** `Class: message` of a failure, message cut to one short line. */
  def failure(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")
    s"${e.getClass.getName}: ${msg.take(200)}"
  }
}
