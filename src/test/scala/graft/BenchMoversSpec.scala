package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's ">2× mover" flag compares only against a prior artifact run at
  * the same scale factor AND core count: at another core count every
  * floor-bound query moves, and the flags are noise. */
class BenchMoversSpec extends AnyFunSuite {
  // the shape of a committed BENCH_r*.json: run metadata, then Bench's stdout
  // line escaped inside the captured log tail
  private def artifact(cpus: Int): String =
    s"""{"n": 15, "rc": 0, "cpus": $cpus, "sf": 0.1, "tail": "[info] {\\"metric\\":\\"total\\",\\"value\\":1.000,\\"unit\\":\\"sec\\",\\"queries\\":{\\"q01\\":0.100,\\"q02\\":0.400},\\"passes\\":3}"}"""
  private val run = Seq("q01_pricing_summary" -> 0.300, "q02_x" -> 0.410)

  test("an artifact from another core count flags no movers") {
    assert(Bench.movers("corpus/sf0.1", 4, run, Seq(artifact(32))).isEmpty)
  }

  test("the same sf and core count still flags a >2x mover") {
    assert(Bench.movers("corpus/sf0.1", 32, run, Seq(artifact(32))) ==
      Seq(("q01_pricing_summary", 0.1, 0.3)))
  }

  test("the newest artifact with a matching core count is the baseline") {
    val movers = Bench.movers("corpus/sf0.1", 8, run,
      Seq(artifact(32), artifact(8).replace("0.400", "0.100")))
    assert(movers.map(_._1) == Seq("q01_pricing_summary", "q02_x"))
  }
}
