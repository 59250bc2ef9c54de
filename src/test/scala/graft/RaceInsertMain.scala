package graft

import org.apache.spark.sql.SparkSession

/** Forked-JVM INSERT loop for the two-JVM ALTER-vs-commit race
  * (CatalogSpec via MultiProcessCommitSpec's harness pattern): the parent
  * JVM rewrites the table's `_ddl.json` sidecar (RENAME COLUMN rounds)
  * while THIS process commits through its own SparkSession + catalog
  * instance — its DDL resolver's memo ([[graft.sources.GraftDdl]]) must
  * refresh by the root listing's stamp, never by in-process invalidation
  * (the cross-process path the single-JVM tests can't reach).
  *
  * Each round re-plans `INSERT INTO ... VALUES` against the table's
  * CURRENT schema (positional values, so renames don't change the row).
  * If the sidecar flips between the plan's schema resolution and the
  * commit's id attach, the write seam refuses loudly ("schema drift") —
  * the loop retries with a freshly resolved plan, which is the documented
  * writer contract. Exit 0 = all rounds landed.
  *
  * Args: `warehouse table rounds`.
  */
object RaceInsertMain {
  def main(args: Array[String]): Unit = {
    val Array(wh, table, roundsS) = args
    val rounds = roundsS.toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.grace", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.grace.warehouse", wh)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("race-ins-wh").toString)
      .appName("race-insert")
      .getOrCreate()
    try {
      val dir = java.nio.file.Paths.get(wh)
      java.nio.file.Files.createFile(dir.resolve("ready.ins"))
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(dir.resolve("start.flag"))) {
        if (System.currentTimeMillis() > deadline)
          sys.error("race insert: parent never raised start.flag")
        Thread.sleep(20)
      }
      for (r <- 1 to rounds) {
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          try {
            spark.sql(s"INSERT INTO grace.$table VALUES ($r, ${r * 10L}, 'p1')")
            done = true
          } catch {
            // the realistic writer posture under concurrent DDL: any
            // failure whose cause is the moving schema (the seam's
            // "schema drift" refusal, an analyzer snapshot that went
            // stale mid-plan, a torn sidecar-shadow read) is transient —
            // log it verbosely and re-plan; a persistent logic bug still
            // exhausts the budget and fails the run (and the parent's
            // final-state assertion guards correctness regardless)
            case e: Throwable if attempts < 10 =>
              System.err.println(
                s"[race-insert] round $r attempt $attempts failed: $e")
              Thread.sleep(25L * attempts) // re-plan against the fresh sidecar
          }
        }
      }
    } finally spark.stop()
  }
}
