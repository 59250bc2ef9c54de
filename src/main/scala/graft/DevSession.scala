package graft

import org.apache.spark.sql.SparkSession

/** The session the dev mains (Bench, Verify, StressBench, ProfJobs,
  * PlanDump, Explain) share: `local[N]` with N shuffle partitions (N from
  * `SPARK_GRAFT_CPUS`), UTC, the runtime Bloom filter on, the UI off and
  * graft's optimizer extensions installed. `confs` carries a main's own
  * extra settings, applied before the session is created.
  */
object DevSession {
  def apply(logLevel: String, confs: Seq[(String, String)] = Nil,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.spark.sql.graft.GraftFunctions.installOptimizations(spark)
    spark
  }
}
