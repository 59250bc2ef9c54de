package graft

import org.apache.spark.scheduler._

/** Dev utility: run one registered query (steady-state, noop sink) with a
  * SparkListener that records every job's wall time, stage count, task
  * count and callsite, printed slowest-first — shows WHERE a multi-action
  * query (DDL lifecycle, streaming, iterative training) spends its time.
  * Usage: runMain graft.ProfJobs <queryName> [sfDir]
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // extra A/B confs: SPARK_GRAFT_PROF_CONF="k=v;k=v" (dev-only knob)
    val spark = DevSession("ERROR",
      sys.env.get("SPARK_GRAFT_PROF_CONF").toSeq.flatMap(_.split(";")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      })
    if (sys.env.contains("SPARK_GRAFT_PROF_NOCRC")) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      fs.setWriteChecksum(false)
      fs.setVerifyChecksum(false)
    }
    val fn = SparkEntry.queries(name)
    // warm-up (codegen/JIT), same protocol as Bench
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.Checkpoints.sweep(spark)

    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
                 var stages: Int = 0, var tasks: Int = 0, var site: String = "",
                 var stageIds: Seq[Int] = Nil)
    case class St(id: Int, name: String, tasks: Int,
                  var ms: Long = -1L, var taskMs: Long = 0L)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val stagesM = scala.collection.mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, e.time)
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
        j.stageIds = e.stageInfos.map(_.stageId).toSeq
        jobs.synchronized {
          jobs(e.jobId) = j
          e.stageInfos.foreach(si =>
            stagesM(si.stageId) = St(si.stageId, si.name, si.numTasks))
        }
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty).getOrElse("")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stagesM.get(e.stageInfo.stageId).foreach { st =>
            st.ms = (for {a <- e.stageInfo.completionTime
                          b <- e.stageInfo.submissionTime} yield a - b).getOrElse(-1L)
            st.taskMs = e.stageInfo.taskMetrics.executorRunTime
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    }
    spark.sparkContext.addSparkListener(listener)
    // gap attribution: sample every live non-daemon-ish thread's deepest
    // "interesting" frame whenever NO job is running — the histogram names
    // what the driver does between jobs (planning, manifest I/O, renames)
    val runningJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        runningJobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        runningJobs.decrementAndGet()
    })
    val gapHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        if (runningJobs.get() == 0) {
          Thread.getAllStackTraces.forEach { (t, frames) =>
            if (t.getName.contains("ForkJoinPool") ||
                t.getName.startsWith("pool-") || t.getName == "main" ||
                t.getName.contains("command")) {
              val interesting = frames.find { f =>
                val c = f.getClassName
                (c.startsWith("org.apache.spark.sql") || c.startsWith("graft") ||
                 c.startsWith("org.apache.hadoop") || c.startsWith("org.apache.parquet")) &&
                !c.contains("ProfJobs")
              }
              interesting.foreach { f =>
                val key = f.getClassName.split("\\.").takeRight(2).mkString(".") +
                  "." + f.getMethodName
                gapHist.merge(key, 1, (a, b) => a + b)
              }
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    sampler.start()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    sampling = false
    spark.sparkContext.removeSparkListener(listener)
    // let the listener bus drain
    Thread.sleep(500)
    val done = jobs.synchronized { jobs.values.toSeq }
    println(f"PROFJOBS $name total=$total%.2f s, ${done.size} jobs, " +
      f"sum=${done.map(j => (j.end - j.start) / 1e3).sum}%.2f s")
    // driver-side gaps: time between one job's end and the next job's start
    // (planning, manifest/sidecar I/O, DDL) — where job-count-bound queries
    // actually spend their "missing" wall time
    val byStart = done.sortBy(_.start)
    val gaps = byStart.sliding(2).collect {
      case Seq(a, b) => (b.id, math.max(0L, b.start - a.end))
    }.toSeq
    println(f"  gaps total=${gaps.map(_._2).sum / 1e3}%.2f s; largest:")
    gaps.sortBy(-_._2).take(12).foreach { case (id, g) =>
      println(f"    before job $id%4d: ${g / 1e3}%6.3f s")
    }
    println("  gap-time driver frames (10ms samples while no job ran):")
    import scala.jdk.CollectionConverters._
    gapHist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"    $n%5d  $k")
    }
    done.sortBy(j => -(j.end - j.start)).take(40).foreach { j =>
      println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
      if (j.end - j.start >= 300) j.stageIds.foreach { sid =>
        stagesM.get(sid).foreach { st =>
          println(f"      stage $sid%4d ${st.ms / 1e3}%7.3f s " +
            f"(taskSum=${st.taskMs / 1e3}%.2f s, tasks=${st.tasks}) ${st.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
