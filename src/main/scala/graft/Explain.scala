package graft

/** Dev tool: print the formatted physical plan and wall time of one
  * registered query. Usage: runMain graft.Explain <queryName> [sfDir] [runs]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = DevSession("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
