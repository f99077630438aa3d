package graft

/** Dev tool: for each query named on the command line, execute it under
  * [[SessionProfile]] after its resident setup and the query's plan
  * profile (ops.PlanProfile), then print the final adaptive plan
  * (`isFinalPlan=true`, real codegen ids) in `formatted` mode — the plan
  * Bench actually runs, not an initial plan that cannot show runtime
  * properties. Corpus: `SPARK_GRAFT_SF_DIR`.
  *
  * Usage: runMain graft.PlanPinned <queryName>...
  */
object PlanPinned {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionProfile.session()
    SessionProfile.resident(spark, sfDir)
    for (name <- args) {
      println(s"===== $name =====")
      SessionProfile.attempt(s"plan $name") {
        ops.PlanProfile.withProfile(spark, name) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.executedPlan.executeCollect()
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
      }
    }
    spark.stop()
  }
}
