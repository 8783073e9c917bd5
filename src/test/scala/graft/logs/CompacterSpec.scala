package graft.logs

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.analysis.DaysApart
import org.apache.spark.sql.functions._

/** End-to-end golden test (SURVEY.md §5.3): raw log dir → compact →
  * re-read parquet → schema + content + sortedness + file count + DDL +
  * flagship query. Mirrors the reference flow §3.1/§3.3.
  */
class CompacterSpec extends SparkTestBase {

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
    Compacter.compactDay(spark, cfg, dt)
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
    val dest = Compacter.compactDay(spark, cfg, dt).get
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
    assert(LogFileLister.listDay(tmp.toString, "b", "2021-01-01").size == 1)
    assert(LogFileLister.listDay(tmp.toString, "b", "2021-01-03").isEmpty)
    assert(LogFileLister.listDay(tmp.toString, "missing", "2021-01-01").isEmpty)
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
    val dest = Compacter.compactDay(spark, cfg, dt).get
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
    assert(Compacter.readListed(spark, listed).count() == 12)
    val gone = listed(1).getPath
    Files.delete(java.nio.file.Paths.get(gone.toUri))
    val e = intercept[Exception](Compacter.readListed(spark, listed).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[java.io.FileNotFoundException] ||
      String.valueOf(t.getMessage).contains(gone.getName)),
      s"expected a missing-file error naming ${gone.getName}, got $e")
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
      intercept[Exception](Compacter.compactDay(spark, cfg, dt))
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

  /** A Parquet footer, opened with parquet-hadoop directly. */
  def footer(f: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
    try reader.getFooter finally reader.close()
  }

  /** Per data file: key/value metadata and each column's codec and
    * encodings, in file-name order.
    */
  def footers(dir: String): Seq[(Map[String, String], Seq[String])] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      .map(footer).map { m =>
        (m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          m.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
            s"${c.getPath} ${c.getCodec} ${c.getEncodings.asScala.toSeq.map(_.toString).sorted}")))
      }.toSeq
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
        def frame() = Compacter.readListed(spark, listed)
          .repartition(numFiles).sortWithinPartitions("request_time")
        val ours = tmp.resolve(s"ours-$n-$numFiles/dt=$dt").toString
        val theirs = tmp.resolve(s"spark-$n-$numFiles/dt=$dt").toString
        Compacter.configure(spark)
        val written = DayWriter.write(frame(), ours, "snappy")
        frame().write.option("compression", "snappy").parquet(theirs)

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

  test("DayWriter publishes exactly the files the job returned, with _SUCCESS") {
    val tmp = Files.createTempDirectory("graft-day-publish")
    val dt = "2021-02-03"
    writeRawDay(tmp.resolve("raw"), "b", dt,
      (0 until 20).map(i => logLine(3, i % 24, s"logs/svc/2019/01/01/p$i.gz")))
    val frame = Compacter.readListed(spark,
      LogFileLister.listDayStatuses(tmp.resolve("raw").toString, "b", dt)).repartition(2)
    val dest = tmp.resolve(s"out/dt=$dt")
    val staged = DayWriter.stage(frame, dest.toString, "snappy")
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
