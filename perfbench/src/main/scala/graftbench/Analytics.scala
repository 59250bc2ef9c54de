package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `analytics`: the compute-bound control. Each pass runs a fixed list of
  * heavy registered queries (`graft.SparkEntry.queries`) over the seeded
  * tables, in a seed-shuffled order; each query is consumed by a `noop`
  * write, as `graft.Bench` does, and timed on its own. None of these
  * queries touches ManifestTable, GraftCatalog or streaming.
  *
  * Set-up runs every query once (codegen and JIT warm-up) and writes its
  * result as parquet; `run.py` compares those results with the query's
  * DuckDB oracle (`SparkEntry.oracleSql`) after the run.
  */
object Analytics {
  /** relational, event analytics, text curation, vector search, iterative graph */
  val QueryIds: Seq[String] = Seq(
    "q01", "q03", "q167",
    "q45",
    "q27",
    "q42",
    "q60")

  def names: Seq[String] = QueryIds.map { id =>
    graft.SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalStateException(s"query $id is not registered"))
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val dir = r.args.inputs
    val qs = names
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.Checkpoints.sweep(spark)
    }

    // set-up: one warm-up pass that also dumps every result for the check
    val resultsDir = s"${r.args.scratch}/results"
    var failed = 0
    qs.foreach { name =>
      try {
        val out = graft.SparkEntry.queries(name)(spark, dir)
        // the oracle compares time zone-naive microsecond timestamps
        val naive = out.schema.fields.foldLeft(out) { (df, f) =>
          if (f.dataType == TimestampType) df.withColumn(f.name, col(f.name).cast(TimestampNTZType))
          else df
        }
        naive.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] warm-up $name failed: $e")
          failed += 1
      } finally cleanup()
    }
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"),
      Json.render(qs.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    val setupS = r.sinceJvmStart()
    r.markCpu("window_start")

    // timed passes: whole passes until the run time is used up
    val rnd = new scala.util.Random(r.args.seed)
    val latencies = ArrayBuffer.empty[Double]
    val byQuery = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val passes = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < r.args.seconds || passes.size < 2) {
      val p0 = System.nanoTime()
      rnd.shuffle(qs).foreach { name =>
        val (ms, ok) = r.timed(name) {
          val b0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val b1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          r.note("queries.build_ms", (b1 - b0) / 1e6)
          r.note("queries.exec_ms", (System.nanoTime() - b1) / 1e6)
        }
        cleanup()
        if (ok.isEmpty) failed += 1
        // a failed query misses every latency
        latencies += (if (ok.isDefined) ms else Double.PositiveInfinity)
        byQuery.getOrElseUpdate(name, ArrayBuffer.empty) += latencies.last
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    r.markCpu("window_end")
    val passS = Stats.median(passes.toSeq)
    Map(
      "attempted" -> (qs.size + latencies.size),
      "failed" -> failed,
      "e2e" -> Map(
        "setup_s" -> setupS,
        "rss_peak_mb" -> Run.rssPeakMb(),
        "latency_p50_ms" -> Stats.median(latencies.toSeq),
        "unit_s" -> passS),
      "report" -> Map(
        "pass_s" -> passS,
        "query_p50_ms" -> Stats.median(latencies.toSeq),
        "passes" -> passes.size,
        "query_ms" -> byQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        "samples" -> latencies.size),
      "checks" -> Map("results_dir" -> resultsDir, "queries" -> qs))
  }
}
