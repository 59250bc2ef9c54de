package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * {{{
  *   graftbench.Main --workload <analytics|lake_sql|cdc_stream> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --inputs <dir>
  *     --scratch <dir> --out <result.json> [--spans <spans.jsonl>]
  * }}}
  *
  * `--inputs` holds the files `perfbench/gen.py` made from the seed; graft
  * sees nothing else. The run writes one JSON document to `--out` (metrics,
  * op counts, the data the correctness checks need and run metadata);
  * `perfbench/run.py` turns it into the benchmark's result line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, inputs: String,
                        scratch: String, out: String, spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("inputs"), need("scratch"),
      need("out"), m.get("spans"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/spark-warehouse")
    // the counting file system keeps the `file` scheme, so every path-based
    // decision in graft (hard-link commits, URI normalisation) is unchanged
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.GraftFunctions.installOptimizations(spark)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartCpu = Run.cpuTimes()
    val spark = session(a)
    val tracer = if (a.trace) Some(Tracer.install(spark)) else None
    val run = new Run(a, spark, tracer)
    run.cpuMarks("jvm_start") = jvmStartCpu
    val raw =
      try {
        a.workload match {
          case "analytics" => Analytics.run(run)
          case "lake_sql" => LakeSql.run(run)
          case "cdc_stream" => CdcStream.run(run)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally {
        tracer.foreach(_.drain())
      }
    tracer.foreach(t => a.spans.foreach(t.writeSpans))
    val doc = raw ++ Map(
      "cpu_marks" -> run.cpuMarks.toMap,
      "layers" -> tracer.map(_.layerMetrics(run)).getOrElse(Map.empty),
      "layers_by_kind" -> tracer.map(_.layerMetricsByKind(run)).getOrElse(Map.empty),
      "meta" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> a.cores,
        "load_avg_start" -> run.loadStart,
        "load_avg_end" -> Run.loadAvg,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString))
    spark.stop()
    Files.writeString(Paths.get(a.out), Json.render(doc))
  }
}

/** State shared by one run's workload code: arguments, session, tracer,
  * the JVM-start clock and what the tracer needs to know about the
  * workload.
  */
final class Run(val args: Main.Args, val spark: SparkSession, val tracer: Option[Tracer]) {
  val loadStart: Double = Run.loadAvg
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds from JVM start to now: set-up time when called just before
    * the first timed op.
    */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** The box's busy and steal CPU time at named moments of the run
    * (`jvm_start`, `window_start`, `window_end`); `run.py` turns them into
    * the steal factors of set-up and of the window.
    */
  val cpuMarks = scala.collection.mutable.Map.empty[String, Seq[Long]]
  def markCpu(name: String): Unit = cpuMarks(name) = Run.cpuTimes()

  /** Batches of the cdc_stream run that also compacted the table. */
  @volatile var compactBatchIds: Long => Boolean = _ => false

  /** Batches inside the cdc_stream window: the per-batch layer metrics. */
  @volatile var windowBatch: Long => Boolean = _ => true

  /** Workload-specific per-layer metrics, added to the tracer's. */
  val layerExtras = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** Attach a measurement to the op running on this thread (traced runs). */
  def note(metric: String, v: Double): Unit = tracer.foreach(_.note(metric, v))

  /** One timed operation: `kind` names its op type. Returns the wall
    * milliseconds and whether it succeeded; a failure is logged, never
    * thrown, so a run always completes and reports it.
    */
  def timed[T](kind: String)(body: => T): (Double, Option[T]) = {
    val id = tracer.map(_.beginOp(kind))
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $kind failed: $e")
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    for (t <- tracer; i <- id) t.endOp(i)
    (ms, out)
  }
}

object Run {
  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (busy, steal) jiffies of the whole box from the first line of
    * `/proc/stat`, or empty where there is none. Steal is time a runnable
    * vCPU waited for the host. The same reading as `cpu_times()` in run.py.
    */
  def cpuTimes(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val t = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        finally src.close()
      Seq(t(0) + t(1) + t(2) + t(5) + t(6), t(7))
    } catch { case _: Exception => Nil }

  /** Peak resident set size of this JVM in MB (`VmHWM`). */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Order statistics over latency samples. */
object Stats {
  /** The q-quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result document (maps, sequences,
  * strings, numbers, booleans). Doubles keep every digit.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
