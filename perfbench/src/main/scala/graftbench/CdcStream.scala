package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** `cdc_stream`: the reference's own dataflow. A generator thread writes
  * one file of insert/update/delete envelopes per tick, on a fixed
  * schedule (an open loop at a fixed offered rate). A long-running
  * `graft.cdc.Dispatch.runMergeOnRead` stream upserts them into a
  * partitioned ManifestTable: a `mergeDv` commit per micro-batch, a
  * compaction every [[CompactEvery]] batches and a vacuum per batch.
  *
  * Freshness of a tick = end of the micro-batch that committed its file −
  * the tick's scheduled time. Which batch took which file is read from the
  * stream's own file-source log after the run.
  */
object CdcStream {
  val TickMs = 50L
  val CompactEvery = 3
  /** Compaction cycles run in set-up. Batch times keep falling over the
    * first cycles (JIT warm-up); with one cycle the window still sat on
    * that slope, and its figures spread more (see README.md, Steadiness).
    */
  val WarmCycles = 2
  /** Generator lateness beyond which the offered load was not delivered. */
  val MaxLagMs = 500.0

  val docSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("p", StringType),
    StructField("seq", LongType), StructField("temp_c", DoubleType),
    StructField("humidity", LongType), StructField("cond", StringType)))

  final case class Batch(id: Long, endMs: Long, busyMs: Long)

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val root = r.args.scratch
    val envDir = Files.createDirectories(Paths.get(s"$root/cdc/envelopes"))
    val stageDir = Files.createDirectories(Paths.get(s"$root/cdc/stage"))
    val target = s"$root/cdc/target"
    val ckpt = s"$root/cdc/checkpoint"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ticks = scala.io.Source.fromFile(s"${r.args.inputs}/cdc_ticks.jsonl").getLines()
      .map(line => mapper.readTree(line).get("envelopes").elements().asScala.map(_.asText)
        .mkString("\n"))
      .toIndexedSeq

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val busy = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches.add(Batch(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli + busy, busy))
      }
    }
    spark.streams.addListener(listener)

    // files become visible atomically: written aside, then renamed in
    def publish(name: String, body: String): Unit = {
      val tmp = stageDir.resolve(name)
      Files.writeString(tmp, body)
      Files.move(tmp, envDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def tickName(i: Int) = f"tick-$i%06d.json"

    publish("seed.json", Files.readString(Paths.get(s"${r.args.inputs}/cdc_seed.jsonl")))
    val query = graft.cdc.Dispatch.runMergeOnRead(spark, envDir.toString, target, ckpt,
      docSchema, identity, rawKey = "id", mergeKey = "id", tieCol = "seq", partCol = "p",
      trigger = Trigger.ProcessingTime(0L), compactEvery = CompactEvery)
    r.compactBatchIds = b => b > 0 && (b + 1) % CompactEvery == 0

    // a file is committed once the batch that listed it has completed
    val sourceDir = Paths.get(ckpt, "sources", "0")
    def committed(names: Seq[String]): Boolean = {
      val done = batches.asScala.map(_.id).toSet
      val fb = if (Files.isDirectory(sourceDir)) sourceLog(sourceDir) else Map.empty[String, Long]
      names.forall(n => fb.get(n).exists(done))
    }
    val perTick = ticks.head.count(_ == '\n') + 1

    // the generator: tick i is due at start + i * TickMs, from set-up
    // through the window, until told to stop
    val due = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val lagMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var stop = false
    @volatile var written = 0
    val gen = new Thread(() => {
      val startMs = System.currentTimeMillis()
      var i = 0
      while (!stop && i < ticks.size) {
        val dueMs = startMs + i * TickMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        publish(tickName(i), ticks(i))
        due.put(i, dueMs)
        lagMs.add((System.currentTimeMillis() - dueMs).toDouble)
        i += 1
        written = i
      }
    }, "graftbench-generator")
    def done: Set[Long] = batches.asScala.map(_.id).toSet
    def waitFor(cond: => Boolean, timeoutMs: Long, pollMs: Long = 5): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (!cond && System.currentTimeMillis() < end && query.exception.isEmpty)
        Thread.sleep(pollMs)
      cond
    }

    // set-up: the seed snapshot commit, then WarmCycles compaction cycles
    // at the offered rate; the window starts with the next cycle
    waitFor(committed(Seq("seed.json")), 120000, 50)
    gen.start()
    val seedBatch = done.max
    val firstBatch = (seedBatch / CompactEvery + WarmCycles) * CompactEvery
    waitFor(done.exists(_ >= firstBatch - 1), 60000)
    val setupS = r.sinceJvmStart()
    r.markCpu("window_start")

    // the window: whole compaction cycles, at least --seconds long
    val windowStart = System.currentTimeMillis()
    def closesWindow(b: Batch) = b.id >= firstBatch && (b.id + 1) % CompactEvery == 0 &&
      b.endMs - windowStart >= r.args.seconds * 1000
    waitFor(batches.asScala.exists(closesWindow), 120000)
    r.markCpu("window_end")
    val lastBatch = batches.asScala.filter(closesWindow).map(_.id).reduceOption(_ min _)
      .getOrElse(-1L)
    stop = true
    gen.join()
    val drained = waitFor(committed((0 until written).map(tickName)), 60000, 50)
    val streamError = query.exception.map(_.toString)
    query.stop()
    query.awaitTermination()
    spark.streams.removeListener(listener)

    // which batch took which file: the file source's own log
    val fileBatch = sourceLog(sourceDir)
    val byId = batches.asScala.map(b => b.id -> b).toMap
    val window = (firstBatch to lastBatch).flatMap(byId.get)
    r.windowBatch = b => b >= firstBatch && b <= lastBatch
    // the envelopes each window batch committed: the commit layer's rows
    for (t <- r.tracer; (b, n) <- fileBatch.values.groupBy(identity).map(x => x._1 -> x._2.size))
      t.add(s"b$b", "rows_changed", (n * perTick).toDouble)
    val inWindow = (0 until written).filter(i =>
      fileBatch.get(tickName(i)).exists(b => b >= firstBatch && b <= lastBatch))
    val fresh = inWindow.map(i => (byId(fileBatch(tickName(i))).endMs - due.get(i)).toDouble)
    // backlog: ticks due but not yet committed, at each window batch's end
    val commitMs = (0 until written).map(i =>
      fileBatch.get(tickName(i)).flatMap(byId.get).map(_.endMs).getOrElse(Long.MaxValue))
    val backlog = window.map { b =>
      (0 until written).count(i => due.get(i) <= b.endMs && commitMs(i) > b.endMs)
    }
    val half = backlog.size / 2
    val growing = backlog.size >= 4 &&
      backlog.drop(half).sum.toDouble / (backlog.size - half) >
        2.0 * math.max(backlog.take(half).sum.toDouble / half, 2.0)
    val lags = lagMs.asScala.toSeq
    val lateTicks = lags.count(_ > MaxLagMs)
    val invalid = Seq(
      if (lastBatch < 0 || window.size != lastBatch - firstBatch + 1)
        Some("the window did not complete") else None,
      if (!drained) Some("backlog not drained after the generator stopped") else None,
      if (growing) Some("backlog grew during the window") else None,
      if (lateTicks > 0) Some(s"generator ran late past $MaxLagMs ms on $lateTicks ticks") else None,
      streamError.map("stream failed: " + _)).flatten

    val finalRows = graft.sources.ManifestTable.read(spark, target, docSchema).collect()
    Files.write(Paths.get(s"$root/cdc_final.jsonl"), finalRows.map { row =>
      Json.render(Seq(row.getString(0), row.getString(1), row.getLong(2), row.getDouble(3),
        row.getLong(4), row.getString(5)))
    }.mkString("\n").getBytes("UTF-8"))

    val busyS = window.map(_.busyMs).sum / 1e3
    val rows = inWindow.size * perTick
    val freshOrInf = if (invalid.isEmpty) fresh else fresh.map(_ => Double.PositiveInfinity)
    def q(p: Double) = if (freshOrInf.isEmpty) Double.NaN else Stats.quantile(freshOrInf, p)
    r.layerExtras ++= Seq(
      "stream.rows_per_batch" -> (if (window.isEmpty) 0.0 else rows.toDouble / window.size),
      "stream.backlog_files" -> (if (backlog.isEmpty) 0.0 else backlog.sum.toDouble / backlog.size),
      "generator.lag_ms" -> (if (lags.isEmpty) 0.0 else lags.sum / lags.size))
    Map(
      "attempted" -> math.max(inWindow.size, 1),
      "failed" -> (if (invalid.isEmpty) 0 else math.max(inWindow.size, 1)),
      "e2e" -> Map(
        "setup_s" -> setupS,
        "rss_peak_mb" -> Run.rssPeakMb(),
        "latency_p50_ms" -> q(0.5),
        "unit_s" -> (if (window.isEmpty) Double.NaN else busyS / window.size)),
      "report" -> Map(
        "freshness_p50_ms" -> q(0.5), "freshness_p90_ms" -> q(0.9),
        "capacity_eps" -> rows / math.max(busyS, 1e-9),
        "batches" -> window.size, "samples" -> fresh.size,
        "offered_eps" -> perTick * 1000.0 / TickMs,
        "generator_max_lag_ms" -> (if (lags.isEmpty) 0.0 else lags.max),
        "invalid" -> invalid),
      "checks" -> Map("ticks_written" -> written, "final" -> s"$root/cdc_final.jsonl",
        "invalid" -> invalid))
  }

  /** File name -> batch id, from the file source's metadata log (one JSON
    * entry a line after a version header; `.compact` files repeat earlier
    * batches' entries).
    */
  def sourceLog(dir: Path): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = Files.list(dir)
    try files.iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?""")).flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).map { line =>
        val n = mapper.readTree(line)
        Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
          n.get("batchId").asLong
      }
    }.toMap
    finally files.close()
  }
}
