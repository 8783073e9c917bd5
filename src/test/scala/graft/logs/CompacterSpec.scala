package graft.logs

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.analysis.DaysApart
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** End-to-end golden test (SURVEY.md §5.3): raw log dir → compact →
  * re-read parquet → schema + content + sortedness + file count + DDL +
  * flagship query. Mirrors the reference flow §3.1/§3.3.
  */
class CompacterSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  def logLine(day: Int, hour: Int, key: String, op: String = "REST.GET.OBJECT",
              requester: String = "arn:aws:iam::1:assumed-role/r/i-0abc",
              status: Int = 200, bytes: Long = 1024): String =
    f"owner bucket1 [$day%02d/Feb/2021:$hour%02d:00:00 +0000] 1.2.3.4 $requester " +
      f"REQ$day$hour $op $key " + "\"GET /x HTTP/1.1\" " +
      f"$status - $bytes 2048 10 5 " + "\"-\" \"agent/1.0\" -"

  def writeRawDay(root: Path, bucket: String, dt: String, lines: Seq[String]): Unit = {
    val dir = root.resolve(bucket)
    Files.createDirectories(dir)
    // two raw objects for the day + a same-dir object for another day
    // (must NOT be listed for dt)
    val (a, b) = lines.splitAt(lines.size / 2)
    Files.write(dir.resolve(s"$dt-00-00-00-OBJA"), String.join("\n", a: _*).getBytes)
    Files.write(dir.resolve(s"$dt-12-00-00-OBJB"),
      ("\n" + String.join("\n", b: _*) + "\n\n").getBytes) // blank lines dropped
  }

  /** `n` raw objects for the day, the lines dealt out evenly. */
  def writeObjects(root: Path, bucket: String, dt: String, lines: Seq[String],
                   n: Int): Unit = {
    val dir = root.resolve(bucket)
    Files.createDirectories(dir)
    (0 until n).foreach { i =>
      val mine = lines.indices.filter(_ % n == i).map(lines)
      Files.write(dir.resolve(f"$dt-00-00-$i%02d-OBJ$i"),
        (String.join("\n", mine: _*) + "\n").getBytes)
    }
  }

  /** Exactly `n` Parquet files under `dest`, each sorted by request_time
    * (sortWithinPartitions semantics).
    */
  def assertFilesTimeSorted(dest: String, n: Int): Unit = {
    val files = Files.list(java.nio.file.Paths.get(dest)).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.length == n, s"expected $n output files, got ${files.length}")
    files.foreach { f =>
      val ts = spark.read.parquet(f).select("request_time")
        .collect().map(r => Option(r.getTimestamp(0)).map(_.getTime).getOrElse(Long.MinValue))
      assert(ts.sameElements(ts.sorted), s"rows in $f not time-sorted")
    }
  }

  test("compact → read back: schema, rows, in-file time-sortedness, file count") {
    val tmp = Files.createTempDirectory("graft-compact")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("out")
    val dt = "2021-02-03"
    // old keys (written 2019) read in 2021 → days_apart > 400
    val lines = (0 until 50).map { i =>
      logLine(3, i % 24, f"logs/svc${i % 3}/2019/01/${(i % 27) + 1}%02d/part-$i.gz")
    } ++ Seq(
      logLine(3, 5, "-", op = "REST.GET.VERSIONING", bytes = 10),
      "corrupt line that matches nothing"
    )
    writeRawDay(rawRoot, "bucket1", dt, lines)
    writeRawDay(rawRoot, "bucket1", "2021-02-04", Seq(logLine(4, 1, "logs/x/2019/01/01/a.gz")))

    val cfg = Compacter.Config(rawRoot.toString, "bucket1", destRoot.toString,
      numOutputFiles = 3)
    val stats = Compacter.compactDayWithStats(spark, cfg, dt).get
    val dest = stats.dest
    assert(stats.rows == lines.size && stats.corruptRows == 1,
      "observe metrics must ride the write job")

    val back = spark.read.parquet(dest)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      AccessLogSchema.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      "dt must be path-encoded only, NOT a data column")
    assert(back.count() == lines.size, "other days' objects must not leak in")
    assert(back.filter(col("error_line").isNotNull).count() == 1)

    assertFilesTimeSorted(dest, 3)

    // determinism: re-run the day → identical row multiset (materialize
    // before the overwrite invalidates the first read's file listing)
    val firstRun = back.collect().map(_.toString).sorted
    Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest)
    val again = spark.read.parquet(dest).collect().map(_.toString).sorted
    assert(again.sameElements(firstRun))

    // catalog DDL + partition registration + flagship query over the table
    LogCatalog.dropTable(spark, "access_logs_e2e")
    LogCatalog.createAccessLogsTable(spark, "access_logs_e2e",
      s"$destRoot/bucket1")
    LogCatalog.repairTable(spark, "access_logs_e2e")
    val viaSql = spark.sql("SELECT count(*) FROM access_logs_e2e WHERE dt = '2021-02-03'")
      .collect().head.getLong(0)
    assert(viaSql == lines.size)

    // the dt predicate must prune PARTITIONS (catalog metadata), not just
    // filter rows: the scan's partition filters carry it and only one of
    // the two registered dt directories is read
    val pruned = spark.sql(
      "SELECT count(*) FROM access_logs_e2e WHERE dt = '2021-02-03'")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters") && pruned.contains("dt"),
      s"dt must appear as a partition filter:\n$pruned")
    assert(!pruned.contains("dt=2021-02-04"),
      "other days' directories must not be in the scanned location list")

    val flagship = DaysApart.frame(spark.table("access_logs_e2e"), threshold = 400)
    val rows = flagship.collect()
    assert(rows.nonEmpty, "days-apart must find the >400-day-old reads")
    assert(rows.forall(_.getAs[String]("requester") == "arn:aws:iam::1:assumed-role/r"),
      "instance-id suffix must be stripped")
    assert(rows.map(_.getAs[String]("log_name")).toSet == Set("svc0", "svc1", "svc2"))
    // SQL text form agrees with the DataFrame form
    val viaSqlForm = spark.sql(DaysApart.sql("access_logs_e2e", 400))
    assert(viaSqlForm.exceptAll(flagship).count() == 0 &&
           flagship.exceptAll(viaSqlForm).count() == 0)
    LogCatalog.dropTable(spark, "access_logs_e2e")
  }

  test("zorderBy clusters time AND requester per output file") {
    val tmp = Files.createTempDirectory("graft-zorder-compact")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("out")
    val dt = "2021-02-03"
    // 8 requesters × 24 hours interleaved: a time-only sort leaves every
    // file spanning all requesters
    val lines = (0 until 192).map { i =>
      logLine(3, i % 24, s"logs/svc/2019/01/01/p$i.gz",
        requester = s"arn:user/u${i % 8}")
    }
    writeRawDay(rawRoot, "bucket1", dt, lines)
    val cfg = Compacter.Config(rawRoot.toString, "bucket1",
      destRoot.toString, numOutputFiles = 8,
      zorderBy = Seq("request_time", "requester"))
    val dest = Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest).get
    val perFile = spark.read.parquet(dest)
      .groupBy(input_file_name())
      .agg(countDistinct("requester").as("n_req"),
        min("requester").as("min_r"), max("requester").as("max_r"),
        count(lit(1)).as("n"))
      .collect()
    assert(perFile.map(_.getAs[Long]("n")).sum == 192)
    // files must NOT each span all 8 requesters (time-only sort would
    // give 8 everywhere)
    val avgReq = perFile.map(_.getAs[Long]("n_req")).sum.toDouble / perFile.length
    assert(avgReq <= 5.0, s"avg distinct requesters per file $avgReq")
    // the pruning property itself: rank bucketing is ORDER-PRESERVING, so
    // per-file min/max requester RANGES stay narrow — a `requester = X`
    // predicate can skip files on parquet stats (a hash bucket would
    // co-locate values but leave min..max spanning the whole domain)
    def rank(r: String) = r.last.toString.toInt // arn:user/uN → N
    val avgSpan = perFile.map(f =>
      rank(f.getAs[String]("max_r")) - rank(f.getAs[String]("min_r")))
      .sum.toDouble / perFile.length
    assert(avgSpan <= 5.0, s"avg requester rank span per file $avgSpan (full = 7)")
    // schema unchanged: no zval column leaks into the files
    assert(!spark.read.parquet(dest).columns.contains("zval"))
  }

  test("size-targeted output file count") {
    val cfg = Compacter.Config("r", "b", "d", targetFileMb = Some(64))
    // 1 GiB raw × 0.25 ratio = 256 MiB parquet → 4 × 64 MiB files
    assert(Compacter.outputFilesFor(cfg, 1L << 30) == 4)
    assert(Compacter.outputFilesFor(cfg, 1) == 1)          // floor at 1
    val fixed = Compacter.Config("r", "b", "d", numOutputFiles = 7)
    assert(Compacter.outputFilesFor(fixed, 1L << 40) == 7) // fixed-count mode
  }

  test("lister: prefix filtering and empty dir") {
    val tmp = Files.createTempDirectory("graft-list")
    Files.createDirectories(tmp.resolve("b"))
    Files.write(tmp.resolve("b/2021-01-01-AAA"), "x".getBytes)
    Files.write(tmp.resolve("b/2021-01-02-BBB"), "x".getBytes)
    assert(LogFileLister.listDayStatuses(tmp.toString, "b", "2021-01-01").size == 1)
    assert(LogFileLister.listDayStatuses(tmp.toString, "b", "2021-01-03").isEmpty)
    assert(LogFileLister.listDayStatuses(tmp.toString, "missing", "2021-01-01").isEmpty)
  }
  test("CLI arg parsing: strict flag/value pairing") {
    val opts = CompacterCli.parseArgs(Array(
      "--source-bucket", "b", "--num-output-files", "7"))
    assert(opts == Map("source-bucket" -> "b", "num-output-files" -> "7"))
    // a flag without a value must error, not silently shift later pairs
    intercept[IllegalArgumentException] {
      CompacterCli.parseArgs(Array("--source-bucket", "--num-output-files", "7"))
    }
    // a trailing flag without a value must error, not be dropped
    intercept[IllegalArgumentException] {
      CompacterCli.parseArgs(Array("--source-bucket", "b", "--min-date"))
    }
    // a bare value with no flag must error
    intercept[IllegalArgumentException] {
      CompacterCli.parseArgs(Array("oops"))
    }
  }
  test("compression knob: zstd day writes .zstd.parquet files that read back") {
    val tmp = Files.createTempDirectory("graft-zstd")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("out")
    val dt = "2021-02-03"
    writeRawDay(rawRoot, "b", dt,
      (0 until 20).map(i => logLine(3, i % 24, s"logs/svc/2019/01/01/p$i.gz")))
    val cfg = Compacter.Config(rawRoot.toString, "b", destRoot.toString,
      numOutputFiles = 2, compression = "zstd")
    val dest = Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest).get
    val files = Files.list(java.nio.file.Paths.get(dest)).iterator()
    val parts = Iterator.continually(files)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(parts.size == 2 && parts.forall(_.contains("zstd")),
      s"expected 2 zstd part files, got $parts")
    assert(spark.read.parquet(dest).count() == 20)
  }

  test("aws-config keyfile: reference JSON shape parsed into S3A credentials") {
    val tmp = Files.createTempDirectory("graft-creds")
    val keyfile = tmp.resolve("something.key")
    // the reference README's exact example shape (README.md:63-73),
    // including the extra `region` field the compacter ignores
    Files.write(keyfile,
      """{
        |  "accessKeyId": "AKIAEXAMPLE",
        |  "secretAccessKey": "sekrit/abc",
        |  "region": "us-west-2"
        |}""".stripMargin.getBytes)
    assert(Compacter.readAwsConfig(keyfile.toString) == (("AKIAEXAMPLE", "sekrit/abc")))

    Compacter.configureS3CredentialsFromFile(spark, keyfile.toString)
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") == "AKIAEXAMPLE")
    assert(hc.get("fs.s3a.secret.key") == "sekrit/abc")

    // a missing field must fail loudly, not configure an empty credential
    val bad = tmp.resolve("bad.key")
    Files.write(bad, """{"accessKeyId": "AKIAEXAMPLE"}""".getBytes)
    val e = intercept[IllegalArgumentException] {
      Compacter.readAwsConfig(bad.toString)
    }
    assert(e.getMessage.contains("secretAccessKey"))
    // an empty file is not JSON — loud error, not an NPE
    val empty = tmp.resolve("empty.key")
    Files.write(empty, Array.empty[Byte])
    intercept[IllegalArgumentException] { Compacter.readAwsConfig(empty.toString) }
    // and the CLI surface accepts the flag
    assert(CompacterCli.parseArgs(Array("--aws-config", keyfile.toString))
      == Map("aws-config" -> keyfile.toString))
  }

  test("concurrent day compaction matches sequential, disjoint outputs") {
    val tmp = Files.createTempDirectory("graft-concurrent")
    val rawRoot = tmp.resolve("raw")
    val dts = Seq("2021-02-03", "2021-02-04", "2021-02-05")
    dts.zipWithIndex.foreach { case (dt, i) =>
      val day = 3 + i
      writeRawDay(rawRoot, "bucket1", dt,
        (0 until 20).map(j => logLine(day, j % 24, s"logs/svc$i/2019/01/02/p$j.gz")))
    }
    val seqCfg = Compacter.Config(rawRoot.toString, "bucket1",
      tmp.resolve("seq").toString, numOutputFiles = 2)
    val conCfg = seqCfg.copy(destRoot = tmp.resolve("con").toString)
    val min = java.time.LocalDate.parse("2021-02-03")
    val max = java.time.LocalDate.parse("2021-02-06")

    val seqOut = Compacter.compactRange(spark, seqCfg, min, max)
    val conOut = Compacter.compactRangeConcurrent(spark, conCfg, min, max,
      maxConcurrent = 3)
    assert(seqOut.size == 3 && conOut.size == 3)
    assert(seqOut.map(_.dest) == dts.map(dt => s"${seqCfg.destRoot}/bucket1/dt=$dt") &&
      conOut.map(_.dest) == dts.map(dt => s"${conCfg.destRoot}/bucket1/dt=$dt"),
      "day order preserved in results")
    assert(conOut.map(st => (st.rows, st.corruptRows)) ==
      seqOut.map(st => (st.rows, st.corruptRows)) && seqOut.forall(_.rows == 20),
      "each day's stats reported")
    dts.foreach { dt =>
      val a = spark.read.parquet(s"${seqCfg.destRoot}/bucket1/dt=$dt")
      val b = spark.read.parquet(s"${conCfg.destRoot}/bucket1/dt=$dt")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"identical row multiset for $dt")
      assert(Files.list(java.nio.file.Paths.get(s"${conCfg.destRoot}/bucket1/dt=$dt"))
        .toArray.map(_.toString).count(_.endsWith(".parquet")) == 2)
    }
  }

  test("a day above the parallel-listing threshold is read from the listed statuses, no listing job") {
    val tmp = Files.createTempDirectory("graft-listed-once")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("out")
    val dt = "2021-02-03"
    val objects = 48
    assert(objects >
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    val lines = (0 until objects * 3).map { i =>
      logLine(3, (i * 7) % 24, f"logs/svc${i % 3}/2019/01/${(i % 27) + 1}%02d/part-$i.gz")
    } :+ "corrupt line that matches nothing"
    writeObjects(rawRoot, "bucket1", dt, lines, objects)
    val cfg = Compacter.Config(rawRoot.toString, "bucket1", destRoot.toString,
      numOutputFiles = 3)

    val (stats, jobs) = jobsDuring(Compacter.compactDayWithStats(spark, cfg, dt).get)
    val descriptions = jobs.map(j =>
      Option(j.properties.getProperty(JobDescription)).getOrElse(""))
    assert(!descriptions.exists(_.startsWith("Listing leaf files")),
      s"the day's objects were listed again: $descriptions")
    // every job belongs to the write's one SQL execution: nothing runs
    // before it, such as a file-status job over the listed paths
    val executions = jobs.map(j =>
      Option(j.properties.getProperty("spark.sql.execution.id")))
    assert(jobs.nonEmpty && executions.distinct.size == 1 && executions.head.isDefined,
      s"jobs outside the write: ${jobs.map(_.jobId).zip(descriptions)}")

    assert(stats.rows == lines.size && stats.corruptRows == 1)
    assert(spark.read.parquet(stats.dest).count() == lines.size)
    assertFilesTimeSorted(stats.dest, 3)
  }

  test("an object deleted after listing fails the read loudly, no rows dropped") {
    val tmp = Files.createTempDirectory("graft-vanished")
    val dt = "2021-02-03"
    writeObjects(tmp, "bucket1", dt,
      (0 until 12).map(i => logLine(3, i, s"logs/svc/2019/01/01/p$i.gz")), 4)
    val listed = LogFileLister.listDayStatuses(tmp.toString, "bucket1", dt)
    assert(listed.size == 4)
    assert(Compacter.readListed(spark, listed, 2, sessionConf()).count() == 12)
    val gone = listed(1).getPath
    Files.delete(java.nio.file.Paths.get(gone.toUri))
    val e = intercept[Exception](Compacter.readListed(spark, listed, 2, sessionConf()).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[java.io.FileNotFoundException] ||
      String.valueOf(t.getMessage).contains(gone.getName)),
      s"expected a missing-file error naming ${gone.getName}, got $e")
  }

  /** Line `i` of a day whose lines all have the same length. */
  def fixedLine(i: Int): String =
    f"owner bucket1 [03/Feb/2021:${i / 60 % 24}%02d:${i % 60}%02d:00 +0000] 1.2.3.4 " +
      f"arn:aws:iam::1:user/u REQ$i%06d REST.GET.OBJECT logs/svc/2019/01/01/p$i%06d.gz " +
      "\"GET /x HTTP/1.1\" 200 - 1024 2048 10 5 \"-\" \"agent/1.0\" -"

  /** Rows per Parquet file under `dest`, in part-number order. */
  def fileRows(dest: String): Seq[Long] =
    Files.list(java.nio.file.Paths.get(dest)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq.map(spark.read.parquet(_).count())

  test("a time-sorted day is one job of one stage: scan, sort and write, no exchange") {
    val tmp = tempDir("graft-one-stage")
    val dt = "2021-02-03"
    writeObjects(tmp.resolve("raw"), "bucket1", dt, (0 until 300).map(fixedLine), 7)
    val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
      tmp.resolve("out").toString, numOutputFiles = 4)
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (stats, jobs) = try jobsDuring(Compacter.compactDayWithStats(spark, cfg, dt).get)
      finally spark.sparkContext.removeSparkListener(listener)
    assert(stats.rows == 300 && stats.files == 4)
    assert(jobs.map(_.stageInfos.size) == Seq(1), "stages per job")
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)
    val Seq(plan) = plans.toArray(Array.empty[SparkPlanInfo]).toSeq.map(nodes)
    assert(plan.contains("Sort") && !plan.exists(_.contains("Exchange")), s"plan nodes $plan")
  }

  test("cuts inside objects and lines: every raw line once, equal lines balance within one row") {
    import spark.implicits._
    // objects of uneven line counts, every line the same length: 200 lines
    // in 7 ranges cut inside lines, 210 lines in 7 ranges cut on line starts
    Seq("mid-line" -> Seq(37, 53, 11, 80, 19), "line-start" -> Seq(30, 60, 45, 75))
      .foreach { case (label, counts) =>
        val tmp = tempDir(s"graft-cuts-$label")
        val dt = "2021-02-03"
        val dir = tmp.resolve("raw/bucket1")
        Files.createDirectories(dir)
        val lines = (0 until counts.sum).map(fixedLine)
        counts.scanLeft(0)(_ + _).sliding(2).zipWithIndex.foreach { case (Seq(a, b), k) =>
          Files.write(dir.resolve(s"$dt-00-00-0$k-OBJ$k"),
            lines.slice(a, b).map(_ + "\n").mkString.getBytes)
        }
        // the day's byte offsets where ranges meet: inside objects, and
        // inside lines or not
        val width = lines.head.length + 1
        val cuts = (1 until 7).map(i => lines.size * width * i / 7)
        val objectEnds = counts.scanLeft(0)(_ + _).map(_ * width).toSet
        assert(cuts.exists(!objectEnds(_)), s"$label: every cut at an object's end")
        assert(cuts.exists(_ % width != 0) == (label == "mid-line"), s"$label: cuts $cuts")
        val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
          tmp.resolve("out").toString, numOutputFiles = 7)
        val dest = Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest).get
        val expected = LogLineParser.parse(lines.toDF("value")).collect().map(_.toString).sorted
        assert(spark.read.parquet(dest).collect().map(_.toString).sorted.sameElements(expected),
          s"$label: row multiset")
        val rows = fileRows(dest)
        assert(rows.size == 7 && rows.max - rows.min <= 1, s"$label: rows per file $rows")
      }
  }

  test("a .gz object is read whole by one split: no row lost, at most one file per object") {
    val tmp = tempDir("graft-gz-day")
    val dt = "2021-02-03"
    val dir = tmp.resolve("raw/bucket1")
    Files.createDirectories(dir)
    val lines = (0 until 90).map(fixedLine)
    Seq(0 until 10, 10 until 70, 70 until 90).zipWithIndex.foreach { case (r, k) =>
      val out = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(dir.resolve(s"$dt-00-00-0$k-OBJ$k.gz")))
      try out.write(r.map(lines(_) + "\n").mkString.getBytes) finally out.close()
    }
    val listed = LogFileLister.listDayStatuses(tmp.resolve("raw").toString, "bucket1", dt)
    val scan = Compacter.readListed(spark, listed, 5, sessionConf()).queryExecution.executedPlan
      .collectFirst { case s: RDDScanExec => s.rdd }.get
    val ranges = scan.partitions.toSeq.flatMap(_.asInstanceOf[FilePartition].files)
    assert(ranges.size == 3 && ranges.forall(f => f.start == 0 && f.length == f.fileSize),
      s"split .gz objects: $ranges")
    val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
      tmp.resolve("out").toString, numOutputFiles = 5)
    val stats = Compacter.compactDayWithStats(spark, cfg, dt).get
    assert(stats.rows == 90 && stats.files <= 3, s"$stats")
    assert(spark.read.parquet(stats.dest).count() == 90)
    assertFilesTimeSorted(stats.dest, stats.files)
  }

  test("re-compacting one listing writes files with identical content") {
    val tmp = tempDir("graft-recompact")
    val dt = "2021-02-03"
    val lines = (0 until 400).map(i => busyLine(i, (i * 7919) % 86400)) :+ "corrupt line"
    writeObjects(tmp.resolve("raw"), "bucket1", dt, lines, 6)
    def run(out: String): Seq[Array[Byte]] = {
      val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
        tmp.resolve(out).toString, numOutputFiles = 4)
      val dest = java.nio.file.Paths.get(
        Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest).get)
      Files.list(dest).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString).toSeq.map(Files.readAllBytes)
    }
    val (first, second) = (run("a"), run("b"))
    assert(first.size == 4 && second.size == 4)
    first.zip(second).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("CLI prints one JSON line per day") {
    val line = CompacterCli.dayLine(Compacter.DayStats("/out/b/dt=2021-02-03", 52, 1,
      files = 3, bytesIn = 9000, bytesOut = 4100))
    assert(line == """{"dest":"/out/b/dt=2021-02-03","rows":52,"corrupt_rows":1,""" +
      """"files":3,"bytes_in":9000,"bytes_out":4100}""")
  }

  /** Name → SHA-256 of every file directly under `dir`. */
  def snapshot(dir: Path): Map[String, String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).map { f =>
      f.getFileName.toString -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString
    }.toMap

  def names(dir: Path): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet

  test("a failed re-run leaves the previous day intact and no staging directory") {
    val tmp = Files.createTempDirectory("graft-failed-rerun")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("out")
    val dt = "2021-02-03"
    val lines = (0 until 30).map(i => logLine(3, i % 24, s"logs/svc/2019/01/01/p$i.gz")) :+
      "corrupt line that matches nothing"
    writeRawDay(rawRoot, "bucket1", dt, lines)
    spark.sparkContext.hadoopConfiguration.set("fs.failfs.impl",
      classOf[FailingFileSystem].getName)
    val cfg = Compacter.Config(rawRoot.toString, "bucket1", s"failfs://$destRoot",
      numOutputFiles = 3)
    val first = Compacter.compactDayWithStats(spark, cfg, dt).get
    val dest = destRoot.resolve(s"bucket1/dt=$dt")
    val parquet = names(dest).filter(_.endsWith(".parquet"))
    assert(first.rows == lines.size && first.corruptRows == 1 && first.files == 3)
    assert(names(dest) == parquet + "_SUCCESS", s"unexpected files ${names(dest)}")
    assert(first.bytesOut == parquet.toSeq.map(n => Files.size(dest.resolve(n))).sum)
    val raw = rawRoot.resolve("bucket1")
    assert(first.bytesIn == names(raw).filter(_.startsWith(dt)).toSeq
      .map(n => Files.size(raw.resolve(n))).sum)
    val before = snapshot(dest)
    def failsLeavingPreviousDay(): Unit = {
      intercept[Exception](Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest))
      assert(Files.exists(dest) && snapshot(dest) == before,
        "the first run's files must survive the failed run")
      assert(names(dest.getParent) == Set(s"dt=$dt"), "a staging sibling was left behind")
    }

    // the write tasks die creating their Parquet files, after the driver
    // has prepared the output
    FailingFileSystem.failParquet = true
    try failsLeavingPreviousDay() finally FailingFileSystem.failParquet = false
    // a .gz-named object that is not gzip: the scan fails
    Files.write(raw.resolve(s"$dt-13-00-00-BAD.gz"), "not gzip".getBytes)
    failsLeavingPreviousDay()
    assert(spark.read.parquet(first.dest).count() == lines.size)
  }

  /** One column chunk of a data file as parquet-hadoop reads it: codec,
    * every encoding, the encodings of its data pages (not the dictionary
    * page) and, from the offset index, its page count.
    */
  final case class Chunk(path: String, codec: String, encodings: Seq[String],
                         dataEncodings: Seq[String], pages: Int) {
    def dictionaryOnly: Boolean = dataEncodings.nonEmpty && dataEncodings.forall(_.endsWith("DICTIONARY"))
    def noDictionary: Boolean = dataEncodings.nonEmpty && !dataEncodings.exists(_.endsWith("DICTIONARY"))
  }

  /** Per data file: key/value metadata and its column chunks, in file-name
    * order. Footer and offset index are read with parquet-hadoop directly.
    */
  def footers(dir: String): Seq[(Map[String, String], Seq[Chunk])] = {
    import scala.jdk.CollectionConverters._
    def names[T](es: java.util.Collection[T]) = es.asScala.toSeq.map(_.toString).sorted
    Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
        try {
          val m = reader.getFooter
          (m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
            m.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
              Chunk(c.getPath.toDotString, c.getCodec.toString, names(c.getEncodings),
                names(c.getEncodingStats.getDataEncodings),
                reader.readOffsetIndex(c).getPageCount))))
        } finally reader.close()
      }.toSeq
  }

  /** The chunks of `column` across the data files under `dir`. */
  def chunks(dir: String, column: String): Seq[Chunk] =
    footers(dir).flatMap(_._2.filter(_.path == column))

  /** Line `i` of a busy day, at `second` past midnight of 3 Feb 2021: its
    * own IP, requester, request id, key, request and sizes; one of three
    * operations, two statuses and one of 900 total times, hashed from `i`.
    */
  def busyLine(i: Int, second: Int): String = {
    val t = java.time.LocalTime.ofSecondOfDay(second)
    val op = Seq("REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.OBJECT")(i % 3)
    f"owner bucket1 [03/Feb/2021:${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d +0000] " +
      f"10.${i >> 16 & 255}.${i >> 8 & 255}.${i & 255} arn:aws:iam::${100000 + i}:user/u$i " +
      f"REQ$i%016X $op logs/svc${i % 3}/2019/01/01/part-$i.gz " +
      "\"GET /logs/part-" + i + ".gz HTTP/1.1\" " +
      s"${if (i % 7 == 0) 404 else 200} - ${1000 + i * 37L} ${5000 + i * 91L} ${1 + (i * 2654435761L >>> 16) % 900} 5 " +
      "\"-\" \"agent/1.0\" -"
  }

  /** 10k busy lines at distinct seconds, compacted into two files. */
  lazy val spreadDay: (Seq[String], Compacter.Config) = {
    val tmp = Files.createTempDirectory("graft-spread-day")
    val lines = (0 until 10000).map(i => busyLine(i, i * 8))
    writeObjects(tmp.resolve("raw"), "bucket1", "2021-02-03", lines, 4)
    (lines, Compacter.Config(tmp.resolve("raw").toString, "bucket1",
      tmp.resolve("out").toString, numOutputFiles = 2))
  }

  test("DayWriter writes what Spark's Parquet writer writes") {
    val tmp = Files.createTempDirectory("graft-day-writer")
    Seq(("50 rows, 3 files", 50, 3), ("4 rows, 10 files", 4, 10), ("blank day", 0, 3))
      .foreach { case (label, n, numFiles) =>
        val dt = "2021-02-03"
        val raw = tmp.resolve(s"raw-$n-$numFiles")
        writeRawDay(raw, "b", dt, (0 until n).map(i =>
          logLine(3, (i * 5) % 24, s"logs/svc${i % 3}/2019/01/01/p$i.gz")))
        val listed = LogFileLister.listDayStatuses(raw.toString, "b", dt)
        def frame(conf: Broadcast[SerializableConfiguration]) =
          Compacter.readListed(spark, listed, numFiles, conf).sortWithinPartitions("request_time")
        val ours = tmp.resolve(s"ours-$n-$numFiles/dt=$dt").toString
        val theirs = tmp.resolve(s"spark-$n-$numFiles/dt=$dt").toString
        Compacter.configure(spark)
        val written = DayWriter.prepared(spark, AccessLogSchema.schema, "snappy")(day =>
          DayWriter.write(frame(day.conf), ours, day))
        frame(sessionConf()).write.option("compression", "snappy").parquet(theirs)

        val (a, b) = (footers(ours), footers(theirs))
        assert(a.size == b.size && written.size == a.size, s"$label: file counts")
        assert(a.sortBy(_.toString) == b.sortBy(_.toString), s"$label: footers differ")
        assert(written.map(_.rows).sum == n, s"$label: rows")
        def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
        assert(rows(ours) == rows(theirs), s"$label: row multiset")
      }
    val blank = footers(tmp.resolve("ours-0-3/dt=2021-02-03").toString)
    assert(blank.size == 1 && blank.head._2.isEmpty, "a blank day is one schema-only file")
  }

  test("the page bound reaches the writer: high-cardinality columns go PLAIN, low keep their dictionary") {
    val (lines, cfg) = spreadDay
    Seq(cfg, cfg.copy(destRoot = cfg.destRoot + "-z", zorderBy = Seq("request_time", "requester")))
      .foreach { c =>
        val stats = Compacter.compactDayWithStats(spark, c, "2021-02-03").get
        assert(stats.rows == lines.size && stats.files == 2)
        val path = if (c.zorderBy.isEmpty) "time-sorted" else "z-order"
        val ids = chunks(stats.dest, "request_id")
        assert(ids.size == 2 && ids.forall(_.pages > 1),
          s"$path: request_id pages $ids")
        assert(ids.forall(_.noDictionary), s"$path: request_id data encodings $ids")
        Seq("operation", "http_status").foreach { col =>
          val cs = chunks(stats.dest, col)
          assert(cs.size == 2 && cs.forall(_.dictionaryOnly), s"$path: $col data encodings $cs")
        }
      }
  }

  test("a busy day keeps the dictionaries that pay: 20k rows over 300 seconds in one file") {
    val tmp = Files.createTempDirectory("graft-busy-day")
    val lines = (0 until 20000).map(i => busyLine(i, 36000 + i % 300)) ++
      (0 until 900).map(i => s"corrupt line $i")
    writeObjects(tmp.resolve("raw"), "bucket1", "2021-02-03", lines, 4)
    val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
      tmp.resolve("out").toString, numOutputFiles = 1)
    val dest = Compacter.compactDayWithStats(spark, cfg, "2021-02-03").map(_.dest).get
    // request_time repeats ~67 times a second. Corrupt lines have no
    // request_time, so they sort first: a 1000-row first page holds only
    // 100 values of total_time, too few to show that its 900-value
    // dictionary pays; 32 KiB of values is 4096 of them
    Seq("request_time", "total_time", "operation").foreach { col =>
      val Seq(c) = chunks(dest, col)
      assert(c.pages > 1 && c.dictionaryOnly, s"$col $c")
    }
    val Seq(id) = chunks(dest, "request_id")
    assert(id.noDictionary, s"request_id $id")
  }

  test("a narrow request_time range reads only the pages that can hold it") {
    val (lines, cfg) = spreadDay
    val dest = Compacter.compactDayWithStats(spark, cfg, "2021-02-03").map(_.dest).get
    // the day's last hour, 451 rows, lies in the last page of each file;
    // a file's 5k request_time values (40 KB) fill a 32 KiB page first
    val hour = spark.read.parquet(dest).filter(expr(
      "request_time BETWEEN TIMESTAMP'2021-02-03 21:00:00' AND TIMESTAMP'2021-02-03 22:00:00'"))
    val kept = hour.collect().length
    val scanned = collect(hour.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    assert(kept == 451)
    assert(scanned >= kept && scanned < lines.size / 2,
      s"the scan produced $scanned of the day's ${lines.size} rows for $kept kept")
  }

  test("DayWriter publishes exactly the files the job returned, with _SUCCESS") {
    val tmp = Files.createTempDirectory("graft-day-publish")
    val dt = "2021-02-03"
    writeRawDay(tmp.resolve("raw"), "b", dt,
      (0 until 20).map(i => logLine(3, i % 24, s"logs/svc/2019/01/01/p$i.gz")))
    val listed = LogFileLister.listDayStatuses(tmp.resolve("raw").toString, "b", dt)
    val dest = tmp.resolve(s"out/dt=$dt")
    val staged = DayWriter.prepared(spark, AccessLogSchema.schema, "snappy")(day =>
      DayWriter.stage(Compacter.readListed(spark, listed, 2, day.conf), dest.toString, day))
    assert(!Files.exists(dest), "staging must not touch dt=")
    // what a failed or speculative attempt of partition 1 leaves behind
    val stray = staged.files.find(_.name.startsWith("part-00001")).get.name
    val strayDir = java.nio.file.Paths.get(staged.dir.toString).resolve("attempt-1")
    Files.createDirectories(strayDir)
    Files.write(strayDir.resolve(stray), "half a file".getBytes)
    DayWriter.publish(spark, staged)

    val published = names(dest).filterNot(_.endsWith(".crc"))
    assert(published == staged.files.map(_.name).toSet + "_SUCCESS")
    assert(Files.size(dest.resolve(stray)) == staged.files.find(_.name == stray).get.bytes,
      "the stray attempt's file must not replace the returned one")
    assert(names(dest.getParent) == Set(s"dt=$dt"), "the staging directory must be deleted")
    assert(spark.read.parquet(dest.toString).count() == 20)
  }
}
