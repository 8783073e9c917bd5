package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

import graft.analysis.DaysApart
import graft.logs.{Compacter, LogCatalog, LogFileLister}

/** One benchmark workload: raw days of `shape`, generated from the seed,
  * compacted one after another by one client in a closed loop, between
  * Days Apart queries over one such day registered in the catalog.
  */
final case class Workload(name: String, shape: Gen.Shape, setupRounds: Int = 3,
                          warmRounds: Int = 8, warmQueries: Int = 10, minQueries: Int = 6)

object Workload {
  // a compact_day round takes about half as long again as a small-objects
  // one, so it warms up over fewer rounds to keep a run near 50 s
  val all: Seq[Workload] = Seq(
    Workload("compact_day", Gen.Shape(objects = 20, linesPerObject = 2500), warmRounds = 6),
    Workload("compact_small_objects", Gen.Shape(objects = 60, linesPerObject = 5)),
  )

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}

/** The outcome of one run: the contract's last stdout line. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)], notes: Seq[String]) {
  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Runs one workload.
  *
  * Set-up, repeated `setupRounds` times: start a session, generate a raw
  * day, compact it to warm up. The last set-up day is kept and registered
  * (create table, `MSCK REPAIR`) for the queries and checked once through
  * `DaysApart.frame`. `warmRounds` untimed rounds of one day and one query
  * follow, then untimed queries up to `warmQueries`. The timed phase then
  * alternates, one client in a closed loop, between compacting a freshly
  * generated day, until `seconds` of compaction wall time have passed, and
  * running Days Apart over the registered day, for `seconds / 2`. Every
  * day is new, so no work done for one day can be reused by the next.
  * Every operation is checked after its clock stops; inputs and outputs of
  * a day are deleted before the next is generated.
  *
  * Traced, every other day and every other query runs with the recorder
  * installed and its spans kept; the untraced ones in between give the
  * tracing overhead under the same warm-up.
  */
final class Bench(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path) {

  val FirstDay: LocalDate = LocalDate.of(2024, 3, 1)
  val Table = "bench_access_logs"
  val NumOutputFiles = 10

  private val raw = work.resolve("raw")
  private val out = work.resolve("out")
  /** Where the last set-up day's output stays, for the catalog table. */
  private val queried = work.resolve("queried")
  private val cfg = Compacter.Config(
    accessLogRoot = raw.toString, sourceBucket = Gen.SourceBucket,
    destRoot = out.toString, numOutputFiles = NumOutputFiles)
  private var days = 0
  private var dt = ""

  private var spark: SparkSession = _
  private var truth: Gen.DayTruth = _
  private var queriedTruth: Gen.DayTruth = _
  private var attempted = 0
  private var failed = 0
  private val notes = ArrayBuffer.empty[String]

  val spans = new Spans
  private var nextOp = 0L

  /** One timed sample; `traced` when the recorder was installed. */
  final case class Sample(s: Double, traced: Boolean)

  private val daySamples = ArrayBuffer.empty[Sample]
  private val querySamples = ArrayBuffer.empty[Sample]
  private var lines, rawBytes, outBytes = 0L
  private val dayLayers = ArrayBuffer.empty[Map[String, Double]]
  private val queryLayers = ArrayBuffer.empty[Map[String, Double]]
  private val catalogLayers = ArrayBuffer.empty[Map[String, Double]]

  private def check(what: String, errs: Seq[String]): Unit = {
    attempted += 1
    if (errs.nonEmpty) {
      failed += 1
      notes += s"FAILED $what: ${errs.take(3).mkString("; ")}"
    }
  }

  private def nowMs(): Long = System.currentTimeMillis()
  private def nextId(): Long = { nextOp += 1; nextOp }

  private val born = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the run began. */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.speculation", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the recorder installed when `on`; hand its snapshot,
    * taken once every event has been delivered, to `after`.
    */
  private def traced[T](on: Boolean)(body: => T)(after: (T, Snapshot) => Unit): T =
    if (!on) body
    else {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      try {
        val v = body
        Bus.drain(spark.sparkContext)
        after(v, r.take())
        v
      } finally {
        spark.sparkContext.removeSparkListener(r)
        spark.listenerManager.unregister(r)
      }
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Compact the day once and check it. */
  private def compactDay(tracedOp: Boolean): Sample = {
    val op = nextId()
    var wall = 0.0
    traced(tracedOp) {
      val gc0 = gcMs()
      val dayStart = nowMs()
      val t0 = System.nanoTime()
      // traced days list once more, ahead of the compacter's own listing,
      // to time the lister layer from outside the program
      val listed = if (tracedOp) {
        val l0 = nowMs()
        val objects = LogFileLister.listDayWithSizes(cfg.accessLogRoot, cfg.sourceBucket, dt,
          spark.sparkContext.hadoopConfiguration).size
        Some((l0, nowMs(), objects))
      } else None
      val callStart = nowMs()
      val stats = Compacter.compactDayWithStats(spark, cfg, dt)
      val callEnd = nowMs()
      wall = (System.nanoTime() - t0) / 1e9
      (stats, dayStart, listed, callStart, callEnd, gcMs() - gc0)
    } { case ((stats, dayStart, listed, callStart, callEnd, gc), snap) =>
      stats.foreach { st =>
        val day = spans.add(op, "day", 0, dayStart, callEnd)
        val lister = spans.add(op, "lister", day.id, listed.get._1, listed.get._2)
        val call = spans.add(op, "compact", day.id, callStart, callEnd)
        dayLayers += Layers.day(spans, day, lister, call, snap, st.corruptRows) ++ Map(
          "lister.objects" -> listed.get._3.toDouble,
          "jvm.gc_s" -> gc / 1000.0)
      }
    } match {
      case (None, _, _, _, _, _) =>
        check(s"day $dt", Seq("no raw objects listed"))
      case (Some(st), _, _, _, _, _) =>
        log(f"day $dt compacted in $wall%.3f s")
        lines += truth.lines
        rawBytes += truth.rawBytes
        outBytes += Checks.bytesOf(Checks.dataFiles(Paths.get(st.dest)))
        check(s"day $dt", Checks.day(st, truth, NumOutputFiles))
        log(s"day $dt checked")
    }
    Sample(wall, tracedOp)
  }

  /** Create the table over the queried day and discover its `dt=`
    * partition, as the reference's `create_table.sql` and
    * `load_all_partitions.sql` do.
    */
  private def register(): Unit = {
    LogCatalog.dropTable(spark, Table)
    val op = nextId()
    val c0 = nowMs(); val n0 = System.nanoTime()
    LogCatalog.createAccessLogsTable(spark, Table, s"$queried/${Gen.SourceBucket}")
    val c1 = nowMs(); val n1 = System.nanoTime()
    LogCatalog.repairTable(spark, Table)
    val c2 = nowMs(); val n2 = System.nanoTime()
    val parts = spark.sql(s"SHOW PARTITIONS $Table").count()
    check("catalog", if (parts == 1) Nil else Seq(s"$parts partitions registered, expected 1"))
    val root = spans.add(op, "catalog", 0, c0, c2)
    spans.add(op, "catalog.create", root.id, c0, c1)
    spans.add(op, "catalog.repair", root.id, c1, c2)
    catalogLayers += Map(
      "catalog.create_s" -> (n1 - n0) / 1e9,
      "catalog.repair_s" -> (n2 - n1) / 1e9,
      "catalog.partitions" -> parts.toDouble)
  }

  /** One Days Apart query over the catalog table, checked. */
  private def query(tracedOp: Boolean): Sample = {
    val op = nextId()
    var wall = 0.0
    val rows = traced(tracedOp) {
      val q0 = nowMs()
      val t0 = System.nanoTime()
      val rows = spark.sql(DaysApart.sql(Table)).collect().toSeq
      wall = (System.nanoTime() - t0) / 1e9
      (rows, q0, nowMs())
    } { case ((rows, q0, q1), snap) =>
      val q = spans.add(op, "query", 0, q0, q1)
      queryLayers += Layers.query(spans, q, snap, rows.map(_.getLong(2)).sum)
    }._1
    log(f"query in $wall%.3f s")
    check("Days Apart query", Checks.query(rows, queriedTruth.answer))
    Sample(wall, tracedOp)
  }

  /** `DaysApart.frame` over the Parquet itself must agree with the SQL
    * form over the catalog and with the generator.
    */
  private def checkFrame(): Unit = {
    val rows = DaysApart.frame(spark.read.parquet(s"$queried/${Gen.SourceBucket}")).collect().toSeq
    check("Days Apart frame", Checks.query(rows, queriedTruth.answer))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Replace the previous day's input and output with a new raw day. */
  private def nextDay(): Unit = {
    deleteTree(raw); deleteTree(out)
    val date = FirstDay.plusDays(days)
    days += 1
    dt = date.toString
    truth = Gen.writeDay(raw, seed, date, w.shape)
    log(s"day $dt generated")
  }

  def run(): Result = {
    val setupS = ArrayBuffer.empty[Double]
    try {
      (1 to w.setupRounds).foreach { r =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session()
        nextDay()
        compactDay(tracedOp = false)
        setupS += (System.nanoTime() - t0) / 1e9
        log(f"set-up round $r took ${setupS.last}%.3f s")
      }
      // the last set-up day becomes the table Days Apart queries
      Files.move(out, queried)
      queriedTruth = truth
      register()
      checkFrame()
      log("frame checked")
      // day and query times keep falling over the first dozen of each in
      // a JVM as the JIT compiles; these untimed ones take the timed ones
      // past that slope. The JIT's progress follows the number of calls,
      // not the time spent, so the warm-up is a count.
      (1 to w.warmRounds).foreach { _ =>
        nextDay()
        compactDay(tracedOp = false)
        query(tracedOp = false)
      }
      (w.warmRounds until w.warmQueries).foreach(_ => query(tracedOp = false))
      log("warmed up")
      // reset the counters the warm-up days fed
      lines = 0; rawBytes = 0; outBytes = 0

      // days and queries alternate, so that both sample the whole window
      var i, j = 0
      def daysLeft = daySamples.map(_.s).sum < seconds || i < 3
      def queriesLeft = querySamples.map(_.s).sum < seconds / 2 || j < w.minQueries
      while (daysLeft || queriesLeft) {
        if (daysLeft) {
          val t = trace && i % 2 == 1
          nextDay()
          daySamples += compactDay(t)
          i += 1
        }
        if (queriesLeft) {
          val t = trace && j % 2 == 1
          querySamples += query(t)
          j += 1
        }
      }

      def times(xs: Seq[Sample], tracedOnes: Boolean) =
        xs.filter(_.traced == tracedOnes).map(_.s)
      if (!trace) {
        val days = times(daySamples.toSeq, tracedOnes = false)
        Result(failed == 0, attempted, failed, Seq(
          ("setup_s", Bench.median(setupS.toSeq), "s"),
          ("day_s_p50", Bench.median(days), "s"),
          ("lines_per_s", lines / days.sum, "lines/s"),
          ("out_bytes_per_raw_byte", outBytes.toDouble / rawBytes, "ratio"),
          ("query_s_p50", Bench.median(times(querySamples.toSeq, false)), "s"),
          ("peak_rss_mb", Bench.peakRssMb(), "MB"),
        ), notes.toSeq)
      } else {
        def overhead(xs: Seq[Sample]) =
          Bench.median(times(xs, tracedOnes = true)) / Bench.median(times(xs, false)) - 1
        val layers = Bench.mean(dayLayers.toSeq) ++ Bench.mean(queryLayers.toSeq) ++
          Bench.mean(catalogLayers.toSeq) ++ Map(
            "trace.overhead_day_frac" -> overhead(daySamples.toSeq),
            "trace.overhead_query_frac" -> overhead(querySamples.toSeq))
        Result(failed == 0, attempted, failed,
          layers.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Bench.unitOf(k)) }, notes.toSeq)
      }
    } finally {
      if (spark != null) spark.stop()
    }
  }
}

object Bench {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }

  def mean(rows: Seq[Map[String, Double]]): Map[String, Double] =
    if (rows.isEmpty) Map.empty
    else rows.flatMap(_.keys).distinct.map(k =>
      k -> rows.map(_.getOrElse(k, 0.0)).sum / rows.size).toMap

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_s") || m == "commit.s" => "s"
    case m if m.endsWith("_bytes") || m == "exchange.bytes" => "bytes"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_frac") || m.endsWith("_ratio") || m.endsWith("_skew") => "ratio"
    case _ => "count"
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

object Main {

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> [--spans <file>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val w = Workload.byName(req("workload"))
    val trace = req("trace") == "1"
    val work = Paths.get(req("work")).toAbsolutePath
    val bench = new Bench(w, req("seed").toLong, req("seconds").toDouble, trace, work)
    val result =
      try Some(bench.run())
      catch {
        case e: Throwable =>
          e.printStackTrace()
          None
      }
    // written before any exit, so a failed traced run keeps its spans
    opts.get("spans").foreach(p => bench.spans.write(Paths.get(p)))
    result match {
      case Some(r) =>
        r.notes.foreach(println)
        println(r.json)
        sys.exit(0)
      case None => sys.exit(1)
    }
  }
}
