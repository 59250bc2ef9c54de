package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

/** `lake_sql`: one client in a closed loop issuing the seeded statement log
  * through `GraftCatalog` — point, range, time-travel and join reads, small
  * INSERT / UPDATE / DELETE / MERGE writes, and `CALL system.compact` /
  * `vacuum` every fixed number of writes. Statements are small, so their
  * latency is set by per-statement fixed costs.
  *
  * Every statement's result and, at the end, every table's rows are written
  * out; `run.py` replays the same log through an independent reference
  * model and compares.
  */
object LakeSql {
  val Cat = "gb"
  val Tables: Seq[String] = Seq("o0", "o1", "o2")
  val Reads = Set("point", "range", "travel", "join")

  final case class Stmt(i: Int, round: Int, kind: String, table: String, sql: String,
                        back: Int, rows: Int)

  def load(path: String): IndexedSeq[Stmt] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(path).getLines().map { line =>
      val n = mapper.readTree(line)
      Stmt(n.get("i").asInt, n.get("round").asInt, n.get("kind").asText,
        n.get("table").asText, n.get("sql").asText.replace("{cat}", Cat),
        Option(n.get("back")).map(_.asInt).getOrElse(0),
        Option(n.get("rows")).map(_.size).getOrElse(if (n.has("key")) 1 else 0))
    }.toIndexedSeq
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val in = r.args.inputs
    val wh = s"${r.args.scratch}/warehouse"
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.db")
    Tables.foreach { t =>
      spark.sql(s"CREATE TABLE $Cat.db.$t (k BIGINT, cust BIGINT, amt BIGINT, note STRING, " +
        "yr INT) PARTITIONED BY (yr)")
    }
    spark.sql(s"CREATE TABLE $Cat.db.l0 (lk BIGINT, ln INT, qty BIGINT, amt BIGINT, yr INT) " +
      "PARTITIONED BY (yr)")
    (Tables :+ "l0").foreach { t =>
      spark.read.parquet(s"$in/lake_$t.parquet").createOrReplaceTempView(s"seed_$t")
      spark.sql(s"INSERT INTO $Cat.db.$t SELECT * FROM seed_$t")
    }
    val stmts = load(s"$in/lake_statements.jsonl")

    // every version a table has reached, with the statement that produced it
    // (-1 = the seed insert); time travel picks among the newest of them
    def head(t: String): Long =
      graft.sources.ManifestTable.currentVersion(spark, s"$wh/db/$t").get
    val versions = mutable.Map(Tables.map(t => t -> ArrayBuffer((head(t), -1))): _*)

    val results = ArrayBuffer.empty[String]
    val latencies = ArrayBuffer.empty[(String, Double)]
    var failed = 0
    def exec(s: Stmt, timed: Boolean): Unit = {
      var sql = s.sql
      var asOf = -1
      if (s.kind == "travel") {
        val vs = versions(s.table)
        val (v, at) = vs(math.max(0, vs.size - 1 - s.back))
        sql = sql.replace("{version}", v.toString)
        asOf = at
      }
      def body(): Array[Row] = {
        val rows = spark.sql(sql).collect()
        if (s.kind == "point") r.note("useful_rows", rows.length.toDouble)
        if (s.kind == "range") r.note("useful_rows", rows.head.getLong(0).toDouble)
        // rows the write names: its VALUES rows, or the one keyed row
        if (!Reads(s.kind)) r.note("rows_changed", s.rows.toDouble)
        rows
      }
      val (ms, out) = if (timed) r.timed(s.kind)(body()) else
        (0.0, scala.util.Try(body()).toOption)
      if (timed) latencies += s.kind -> (if (out.isDefined) ms else Double.PositiveInfinity)
      if (out.isEmpty) failed += 1
      if (!Reads(s.kind) && versions.contains(s.table)) {
        val v = head(s.table)
        if (v != versions(s.table).last._1) versions(s.table) += ((v, s.i))
      }
      val rows = out.map(_.map(row => row.toSeq.map {
        case null => null
        case x: String => x
        case x => x.toString.toLong
      }))
      results += Json.render(Map("i" -> s.i, "ok" -> out.isDefined, "as_of" -> asOf,
        "rows" -> rows.map(_.toSeq.map(_.toSeq)).getOrElse(Nil)))
    }

    // set-up ends with the first round; the window runs whole rounds, so
    // every run measures the same statement mix
    val warmup = stmts.takeWhile(_.round == 0)
    warmup.foreach(exec(_, timed = false))
    val setupS = r.sinceJvmStart()
    r.markCpu("window_start")
    val t0 = System.nanoTime()
    var next = warmup.size
    while (next < stmts.size && ((System.nanoTime() - t0) / 1e9 < r.args.seconds ||
      stmts(next).round == stmts(next - 1).round)) {
      exec(stmts(next), timed = true)
      next += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    r.markCpu("window_end")

    // end state, read through ManifestTable (not the catalog path under test)
    val schema = spark.table(s"$Cat.db.o0").schema
    val finalDir = s"${r.args.scratch}/final"
    Files.createDirectories(Paths.get(finalDir))
    var liveRows = 0L
    Tables.foreach { t =>
      val rows = graft.sources.ManifestTable.read(spark, s"$wh/db/$t", schema).collect()
      liveRows += rows.length
      Files.write(Paths.get(s"$finalDir/$t.jsonl"), rows.map { row =>
        Json.render(Seq(row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3),
          row.getInt(4)))
      }.mkString("\n").getBytes("UTF-8"))
    }
    val storedBytes = Tables.map(t => dirBytes(Paths.get(s"$wh/db/$t"))).sum
    Files.write(Paths.get(s"${r.args.scratch}/results.jsonl"),
      results.mkString("\n").getBytes("UTF-8"))

    val reads = latencies.filter(x => Reads(x._1)).map(_._2).toSeq
    val writes = latencies.filterNot(x => Reads(x._1)).map(_._2).toSeq
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    val stmtsPerS = latencies.size / wallS
    r.layerExtras += "commit.stored_bytes_per_row" -> storedBytes.toDouble / math.max(liveRows, 1L)
    Map(
      "attempted" -> next,
      "failed" -> failed,
      "e2e" -> Map(
        "setup_s" -> setupS,
        "rss_peak_mb" -> Run.rssPeakMb(),
        // reads only: with reads and writes pooled, the median fell where
        // the two latency distributions meet and moved with the mix
        "latency_p50_ms" -> q(reads, 0.5),
        "unit_s" -> 100.0 / stmtsPerS),
      "report" -> Map(
        "stmts_per_s" -> stmtsPerS,
        "read_p50_ms" -> q(reads, 0.5), "read_p90_ms" -> q(reads, 0.9),
        "write_p50_ms" -> q(writes, 0.5), "write_p90_ms" -> q(writes, 0.9),
        "stored_bytes_per_row" -> storedBytes.toDouble / math.max(liveRows, 1L),
        "samples" -> latencies.size, "reads" -> reads.size, "writes" -> writes.size),
      "checks" -> Map("executed" -> next, "results" -> s"${r.args.scratch}/results.jsonl",
        "final_dir" -> finalDir))
  }

  def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
