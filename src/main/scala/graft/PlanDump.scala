package graft

/** Dev tool: dump `explain("formatted")` for a list of registered queries to
  * `<outDir>/<name>.txt` — the plans/r21 before/after capture harness.
  * Usage: runMain graft.PlanDump <outDir> <sfDir> <name> [name ...]
  *
  * Building a query's DataFrame runs any side-effecting setup the query
  * does (temp tables, checkpoints) — expected; only the plan of the FINAL
  * returned frame is captured.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = args(1)
    val names = args.drop(2).toSeq
    val spark = DevSession("ERROR")
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), plan)
        println(s"[plandump] wrote $name (${plan.length} chars)")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name FAILED: $e")
      }
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.Checkpoints.sweep(spark)
    }
    spark.stop()
  }
}
