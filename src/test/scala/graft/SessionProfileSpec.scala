package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SessionProfile]] to the conf the benchmark measures: perfbench
  * lists its session settings in `perfbench.Main.Conf`, and Bench, Verify
  * and ServeMain must run the engine that benchmark times. */
class SessionProfileSpec extends AnyFunSuite {
  private val compression = Set("spark.shuffle.compress",
    "spark.shuffle.spill.compress", "spark.sql.inMemoryColumnarStorage.compressed")

  /** The key/value pairs of perfbench's `Conf`, read as text, with its
    * core count as `cpus`. */
  private def perfbenchConf(cpus: Int): Map[String, String] = {
    val f = new java.io.File("perfbench/src/main/scala/perfbench/Main.scala")
    assert(f.isFile, s"run from the repository root: $f")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    val body = text.substring(text.indexOf("def Conf"))
    val Pair = """"(spark\.[\w.]+)"\s*->\s*(?:cpus|"([^"]*)")""".r
    Pair.findAllMatchIn(body.substring(0, body.indexOf("\n  }")))
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(cpus.toString)).toMap
  }

  test("the local conf is the conf perfbench measures") {
    val bench = perfbenchConf(7)
    assert(bench.size == 12, s"perfbench Conf parsed to $bench")
    assert(SessionProfile.conf("local[7]", 7).toMap == bench)
  }

  test("a spark:// master leaves shuffle and cache compression at Spark's defaults") {
    val cluster = SessionProfile.conf("spark://127.0.0.1:7077", 32).toMap
    assert(cluster.keySet.intersect(compression).isEmpty, cluster)
    assert(cluster == perfbenchConf(32) -- compression)
  }
}
