package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's hooks: a SparkListener, a QueryExecutionListener, a
  * StreamingQueryListener and the [[CountingFileSystem]] counters. They
  * exist only when tracing is on. Everything is kept in memory and turned
  * into per-layer metrics and spans when the run ends.
  *
  * Work is attributed to a UNIT: a timed benchmark op (`o<id>`, marked by
  * the `graftbench.op` local property, which Spark copies to every job and
  * task the op starts) or a streaming micro-batch (`b<id>`, marked by
  * Spark's own `streaming.sql.batchId` property). Planner phases reach the
  * listener without thread context, so they are attributed by time to the
  * unit whose interval holds their start.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextOp = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[(String, String), DoubleAdder]()

  private val ops = ArrayBuffer.empty[OpRec]
  private val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageUnits = new ConcurrentHashMap[Int, String]()
  private val jobs = ArrayBuffer.empty[Interval]
  private val phases = ArrayBuffer.empty[Interval]
  private val batches = ArrayBuffer.empty[BatchRec]

  def add(unit: String, metric: String, v: Double): Unit =
    if (unit != null) counters.computeIfAbsent((unit, metric), _ => new DoubleAdder).add(v)

  private def get(unit: String, metric: String): Double =
    Option(counters.get((unit, metric))).map(_.sum()).getOrElse(0.0)

  def beginOp(kind: String): Long = {
    val id = nextOp.incrementAndGet()
    ops.synchronized(ops += OpRec(id, kind, System.currentTimeMillis()))
    sc.setLocalProperty(OpKey, id.toString)
    id
  }

  def endOp(id: Long): Unit = {
    sc.setLocalProperty(OpKey, null)
    ops.synchronized(ops.find(_.id == id).foreach(_.endMs = System.currentTimeMillis()))
  }

  /** Attach a workload-side measurement to the op running on this thread. */
  def note(metric: String, v: Double): Unit = add(unitOfThread, metric, v)

  /** The unit of work the calling thread is doing, or null outside any. */
  def unitOfThread: String = {
    val tc = TaskContext.get()
    def prop(k: String) = if (tc != null) tc.getLocalProperty(k) else sc.getLocalProperty(k)
    Option(prop(OpKey)).map("o" + _)
      .orElse(Option(prop(BatchKey)).map("b" + _)).orNull
  }

  private def unitOfProps(p: java.util.Properties): String =
    if (p == null) null
    else Option(p.getProperty(OpKey)).map("o" + _)
      .orElse(Option(p.getProperty(BatchKey)).map("b" + _)).orNull

  private[graftbench] val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val u = unitOfProps(e.properties)
      if (u != null) {
        jobStarts.put(e.jobId, (u, e.time))
        e.stageIds.foreach(s => stageUnits.put(s, u))
        add(u, "spark.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (u, t0) =>
        jobs.synchronized(jobs += Interval(u, "spark.job", t0, e.time))
        add(u, "spark.job_wall_s", (e.time - t0) / 1e3)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageUnits.get(e.stageInfo.stageId), "spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val u = stageUnits.get(e.stageId)
      if (u != null && e.taskInfo != null) {
        add(u, "spark.tasks", 1)
        add(u, "spark.task_busy_s", e.taskInfo.duration / 1e3)
        val m = e.taskMetrics
        if (m != null) {
          add(u, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(u, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(u, "scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
          add(u, "scan.rows_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
  }

  private[graftbench] val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Interval(null, s"planner.${name}_ms", p.startTimeMs, p.endTimeMs)
      }
    }
  }

  private[graftbench] val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.synchronized(batches += BatchRec(p.batchId, start, d))
    }
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBusShim.drain(sc)

  // ------------------------------------------------------------------ report

  private def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Units with their kind and wall interval: timed ops, then batches
    * (those `keep` selects). A batch's kind says whether it compacted.
    */
  private def units(keep: Long => Boolean = _ => true,
                    compacts: Long => Boolean = _ => false): Seq[UnitRec] = {
    val o = ops.synchronized(ops.toList).filter(_.endMs >= 0)
      .map(r => UnitRec(s"o${r.id}", r.kind, r.startMs, r.endMs))
    val b = batches.synchronized(batches.toList).filter(r => keep(r.id)).map { r =>
      UnitRec(s"b${r.id}", if (compacts(r.id)) "compact_batch" else "batch", r.startMs,
        r.startMs + r.durations.getOrElse("triggerExecution", 0L))
    }
    o ++ b
  }

  private def phasesByUnit: Map[String, Seq[Interval]] = {
    val us = units().sortBy(_.startMs).toArray
    phases.synchronized(phases.toList).flatMap { p =>
      us.find(u => p.startMs >= u.startMs && p.startMs <= u.endMs).map(u => p.copy(unit = u.id))
    }.groupBy(_.unit)
  }

  /** The per-layer metrics of one group of units. Counters and times are
    * the mean per unit; `scan.useful_row_frac` and
    * `commit.bytes_written_per_row` are ratios of the group's sums; the
    * `stream.*` and `self.*batch*` figures are means over the group's
    * micro-batches.
    */
  private def groupMetrics(us: Seq[UnitRec], jobsBy: Map[String, Seq[Interval]],
                           phBy: Map[String, Seq[Interval]],
                           batchOf: Map[String, BatchRec]): Map[String, Double] = {
    val n = math.max(us.size, 1).toDouble
    def mean(metric: String): Double = us.map(u => get(u.id, metric)).sum / n
    def jobSpans(u: String) = jobsBy.getOrElse(u, Nil).map(j => (j.startMs, j.endMs))

    val driverGap = us.map(u => ((u.endMs - u.startMs) - unionMs(jobSpans(u.id))) / 1e3)
    val selfMs = us.map { u =>
      val children = (jobsBy.getOrElse(u.id, Nil) ++ phBy.getOrElse(u.id, Nil))
        .map(c => (math.max(c.startMs, u.startMs), math.min(c.endMs, u.endMs)))
        .filter(c => c._2 > c._1)
      (u.endMs - u.startMs - unionMs(children)).toDouble
    }
    def phaseMean(name: String): Double =
      us.map(u => phBy.getOrElse(u.id, Nil).filter(_.name == name)
        .map(p => (p.endMs - p.startMs).toDouble).sum).sum / n

    // bytes the writing units wrote, per row they changed
    val writers = us.filter(u => get(u.id, "rows_changed") > 0)
    val written = writers.map(u => get(u.id, "storage.driver.bytes_written") +
      get(u.id, "storage.task.bytes_written")).sum
    val changedRows = writers.map(u => get(u.id, "rows_changed")).sum
    val useful = us.map(u => get(u.id, "useful_rows")).sum
    val usefulOf = us.map(u =>
      if (get(u.id, "useful_rows") > 0) get(u.id, "scan.rows_read") else 0.0).sum

    val bs = us.flatMap(u => batchOf.get(u.id))
    val nb = math.max(bs.size, 1).toDouble
    def dur(b: BatchRec, k: String) = b.durations.getOrElse(k, 0L).toDouble

    Counters.map(m => m -> mean(m)).toMap ++ Map(
      "spark.driver_gap_s" -> driverGap.sum / n,
      "planner.analysis_ms" -> phaseMean("planner.analysis_ms"),
      "planner.optimization_ms" -> phaseMean("planner.optimization_ms"),
      "planner.planning_ms" -> phaseMean("planner.planning_ms"),
      "scan.useful_row_frac" -> (if (usefulOf > 0) useful / usefulOf else 0.0),
      "commit.bytes_written_per_row" -> (if (changedRows > 0) written / changedRows else 0.0),
      "stream.add_batch_ms" -> bs.map(dur(_, "addBatch")).sum / nb,
      "stream.offsets_ms" -> bs.map(b => dur(b, "latestOffset") + dur(b, "getBatch")).sum / nb,
      "stream.plan_ms" -> bs.map(dur(_, "queryPlanning")).sum / nb,
      "stream.wal_ms" -> bs.map(b => dur(b, "walCommit") + dur(b, "commitOffsets")).sum / nb,
      "self.unit_ms" -> selfMs.sum / n,
      "self.batch_ms" -> bs.map { b =>
        dur(b, "triggerExecution") - BatchPhases.map(dur(b, _)).sum
      }.sum / nb,
      "self.add_batch_ms" -> bs.map { b =>
        dur(b, "addBatch") - unionMs(jobSpans(s"b${b.id}")).toDouble
      }.sum / nb)
  }

  /** The run's units, and the metrics of any group of them. */
  private def groups(run: Run): (Seq[UnitRec], Seq[UnitRec] => Map[String, Double]) = {
    val us = units(run.windowBatch, run.compactBatchIds)
    val jobsBy = jobs.synchronized(jobs.toList).groupBy(_.unit)
    val phBy = phasesByUnit
    val batchOf = batches.synchronized(batches.toList).map(b => s"b${b.id}" -> b).toMap
    (us, g => groupMetrics(g, jobsBy, phBy, batchOf))
  }

  /** The per-layer metrics over every unit of the run (every op for
    * analytics and lake_sql, every window batch for cdc_stream), plus
    * `sql.<kind>_ms`, the median wall time of an op kind. Zero means the
    * workload never does that kind of work.
    */
  def layerMetrics(run: Run): Map[String, Double] = {
    val (us, metricsOf) = groups(run)
    def kindMedian(kinds: Set[String]): Double = {
      val xs = us.filter(u => kinds(u.kind)).map(u => (u.endMs - u.startMs).toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val compact = us.filter(_.kind == "compact_batch")
    metricsOf(us) ++
      Seq("point", "range", "travel", "join", "insert", "update", "delete", "merge")
        .map(k => s"sql.${k}_ms" -> kindMedian(Set(k))) ++ Map(
      "sql.maint_ms" -> kindMedian(Set("compact", "vacuum")),
      "stream.batches" -> us.count(_.id.startsWith("b")).toDouble,
      "stream.compact_batch_ms" ->
        (if (compact.isEmpty) 0.0 else metricsOf(compact)("stream.add_batch_ms"))) ++
      run.layerExtras
  }

  /** The same metrics per unit kind: per query on analytics, per statement
    * kind on lake_sql, per batch kind (`batch`, `compact_batch`) on
    * cdc_stream. Each kind also has `units` (how many) and `wall_ms` (their
    * median wall time); metrics that are 0 for a kind are left out.
    */
  def layerMetricsByKind(run: Run): Map[String, Map[String, Double]] = {
    val (us, metricsOf) = groups(run)
    us.groupBy(_.kind).map { case (kind, g) =>
      kind -> (metricsOf(g) ++ Map("units" -> g.size.toDouble,
        "wall_ms" -> Stats.median(g.map(u => (u.endMs - u.startMs).toDouble))))
        .filter(_._2 != 0.0)
    }
  }

  /** Spans, one JSON object a line: name, start, end (epoch ms), parent
    * span id, op (unit) id. Streaming batch phases are laid out in the
    * order the micro-batch engine runs them, from their reported durations.
    */
  def writeSpans(path: String): Unit = {
    val out = ArrayBuffer.empty[String]
    var nextId = 0L
    def span(name: String, s: Long, e: Long, parent: Long, unit: String): Long = {
      nextId += 1
      out += Json.render(Map("id" -> nextId, "name" -> name, "start_ms" -> s,
        "end_ms" -> e, "parent" -> (if (parent > 0) Some(parent) else None), "op" -> unit))
      nextId
    }
    val jobsBy = jobs.synchronized(jobs.toList).groupBy(_.unit)
    val phBy = phasesByUnit
    val bs = batches.synchronized(batches.toList).map(b => s"b${b.id}" -> b).toMap
    units().foreach { case UnitRec(u, kind, s, e) =>
      val root = span(s"op:$kind", s, e, 0, u)
      (jobsBy.getOrElse(u, Nil) ++ phBy.getOrElse(u, Nil)).sortBy(_.startMs)
        .foreach(c => span(c.name, c.startMs, c.endMs, root, u))
      bs.get(u).foreach { b =>
        var t = b.startMs
        BatchPhases.foreach { k =>
          val d = b.durations.getOrElse(k, 0L)
          span(s"stream.$k", t, t + d, root, u)
          t += d
        }
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class OpRec(id: Long, kind: String, startMs: Long, var endMs: Long = -1L)
  final case class Interval(unit: String, name: String, startMs: Long, endMs: Long)
  final case class BatchRec(id: Long, startMs: Long, durations: Map[String, Long])
  final case class UnitRec(id: String, kind: String, startMs: Long, endMs: Long)

  /** A micro-batch's reported phases, in the order the engine runs them. */
  val BatchPhases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Counters summed per unit and reported as the mean per unit. */
  val Counters: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_busy_s", "spark.job_wall_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "queries.build_ms", "queries.exec_ms", "scan.files_read", "scan.bytes_read",
    "scan.rows_read", "commit.files_written") ++ (for {
    side <- Seq("driver", "task")
    c <- Seq("list_calls", "status_calls", "open_calls", "create_calls", "rename_calls",
      "delete_calls", "bytes_read", "bytes_written")
  } yield s"storage.$side.$c")

  val OpKey = "graftbench.op"
  val BatchKey = "streaming.sql.batchId"

  @volatile private var active: Tracer = _

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    spark.streams.addListener(t.streamListener)
    active = t
    t
  }

  /** Storage counter hook for [[CountingFileSystem]]: split by whether the
    * call runs on a task thread or on the driver.
    */
  def countStorage(counter: String, v: Long): Unit = {
    val t = active
    if (t != null) {
      val onTask = TaskContext.get() != null
      val u = t.unitOfThread
      t.add(u, s"storage.${if (onTask) "task" else "driver"}.$counter", v.toDouble)
      if (onTask && counter == "open_calls") t.add(u, "scan.files_read", 1)
    }
  }

  /** Count a data file written by a commit (called with the file's path). */
  def countDataFile(path: String): Unit = {
    val t = active
    if (t != null && path.endsWith(".parquet")) t.add(t.unitOfThread, "commit.files_written", 1)
  }
}
