package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.logs.LogLineParser

class AccessLogDataSourceSpec extends SparkTestBase {

  private val lines = Seq(
    // canonical GET
    """own1 bkt [06/Feb/2019:00:00:38 +0000] 10.0.0.1 arn:aws:iam::1:u REQ1 REST.GET.OBJECT logs/app/2019/02/06/obj "GET /obj HTTP/1.1" 200 - 512 1024 12 3 "-" "agent/1.0" A""",
    // all-sentinel optionals
    """own2 bkt [07/Feb/2019:10:20:30 +0000] 10.0.0.2 req2 REQ2 REST.PUT.OBJECT - "-" - - - - - - "-" "-" -""",
    // corrupt
    "NOT A LOG LINE",
    // blank + whitespace-only (must be dropped)
    "", "   \t ",
    // unparseable timestamp inside brackets
    """own3 bkt [bogus time] 10.0.0.3 req3 REQ3 REST.HEAD.OBJECT k "-" 304 - 1 2 3 4 "-" "-" B"""
  )

  private def writeFixture(): String = {
    val dir = tempDir("accesslog-src")
    Files.write(dir.resolve("part1.log"),
      lines.take(3).mkString("\n").getBytes("UTF-8"))
    Files.write(dir.resolve("part2.log"),
      lines.drop(3).mkString("\n").getBytes("UTF-8"))
    // hidden files must be skipped
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".crc"), "junk".getBytes("UTF-8"))
    dir.toString
  }

  private def sortAll(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("format(accesslog) is row-identical to read.text + LogLineParser.parse") {
    val dir = writeFixture()
    // an invalid day of month (NULL, not clamped to the 28th) and a
    // lower-case month (parsed, like the text path's case-insensitive one)
    Files.write(java.nio.file.Paths.get(dir, "part3.log"), Seq(
      lines(0).replace("06/Feb/2019", "31/Feb/2019").replace("REQ1", "REQ31"),
      lines(0).replace("06/Feb/2019", "06/feb/2019").replace("REQ1", "REQ6")
    ).mkString("\n").getBytes("UTF-8"))
    val viaSource = spark.read.format("accesslog").load(dir)
    val viaParser = LogLineParser.parse(
      LogLineParser.dropBlankLines(spark.read.text(dir)))
    assert(viaSource.schema == viaParser.schema)
    assert(sortAll(viaSource) sameElements sortAll(viaParser))
    // 6 parseable/corrupt rows survive, 2 blank lines dropped
    assert(viaSource.count() == 6)
    val times = viaSource.filter(col("request_id").isin("REQ31", "REQ6"))
      .select("request_id", "request_time").collect()
      .map(r => r.getString(0) -> Option(r.getTimestamp(1)).map(_.toInstant)).toMap
    assert(times == Map("REQ31" -> None,
      "REQ6" -> Some(java.time.Instant.parse("2019-02-06T00:00:38Z"))))
  }

  test("column pruning reaches the scan") {
    val dir = writeFixture()
    val q = spark.read.format("accesslog").load(dir).select("operation")
    val scanDesc = q.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: struct<operation:string>"), scanDesc)
    assert(q.collect().map(r => Option(r.getString(0)).getOrElse("∅")).sorted.toSeq ==
      Seq("REST.GET.OBJECT", "REST.HEAD.OBJECT", "REST.PUT.OBJECT", "∅"))
  }

  test("zero-column scan (pure count) keeps row multiplicity") {
    val dir = writeFixture()
    assert(spark.read.format("accesslog").load(dir).count() == 4)
  }

  test("sentinel nulls and typed fields match the canonical semantics") {
    val dir = writeFixture()
    val rows = spark.read.format("accesslog").load(dir)
      .filter(col("request_id") === "REQ1").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[java.sql.Timestamp]("request_time").toInstant ==
      java.time.Instant.parse("2019-02-06T00:00:38Z"))
    assert(r.getAs[Int]("http_status") == 200)
    assert(r.getAs[Long]("bytes_sent") == 512L)
    assert(r.getAs[String]("error_code") == null)   // '-' sentinel
    assert(r.getAs[String]("referrer") == null)     // '"-"' sentinel
    assert(r.getAs[String]("user_agent") == "\"agent/1.0\"") // quotes kept
    assert(r.getAs[String]("version_id") == "A")
    assert(r.getAs[String]("error_line") == null)

    val corrupt = spark.read.format("accesslog").load(dir)
      .filter(col("error_line").isNotNull).collect()
    assert(corrupt.length == 1)
    assert(corrupt(0).getAs[String]("error_line") == "NOT A LOG LINE")
    assert(corrupt(0).getAs[String]("bucket_owner") == null)
  }

  test("gzip-compressed log files decode through the codec factory") {
    val dir = tempDir("accesslog-gz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("day.log.gz")))
    gz.write(lines.mkString("\n").getBytes("UTF-8")); gz.close()
    val df = spark.read.format("accesslog").load(dir.toString)
    assert(df.count() == 4)
    assert(df.filter(col("request_id") === "REQ1").count() == 1)
  }

  test("empty directory yields an empty frame, not an error") {
    val dir = tempDir("accesslog-empty")
    assert(spark.read.format("accesslog").load(dir.toString).count() == 0)
  }

  test("SQL DDL: CREATE TABLE ... USING accesslog") {
    val dir = writeFixture()
    spark.sql(s"CREATE TABLE raw_logs_ddl USING accesslog LOCATION '$dir'")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM raw_logs_ddl WHERE operation IS NOT NULL")
        .head().getLong(0)
      assert(n == 3)
    } finally spark.sql("DROP TABLE raw_logs_ddl")
  }

  test("readStream.format(accesslog): name-watermark micro-batches pick up new files") {
    val dir = tempDir("accesslog-stream")
    def writeDay(name: String, reqId: String): Unit =
      Files.write(dir.resolve(name),
        s"""own bkt [06/Feb/2019:00:00:38 +0000] ip r $reqId REST.GET.OBJECT k "GET / HTTP/1.1" 200 - 1 2 3 4 "-" "ua" -"""
          .getBytes("UTF-8"))
    writeDay("2019-02-06-00-00-38-AAAA", "S1")
    writeDay("2019-02-06-01-00-00-BBBB", "S2")

    val q = spark.readStream.format("accesslog").load(dir.toString)
      .select("request_id", "operation")
      .writeStream.format("memory").queryName("acclog_stream")
      .option("checkpointLocation",
        tempDir("accesslog-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("acclog_stream").collect().map(_.getString(0)).sorted
        .toSeq == Seq("S1", "S2"))
      // later-named file → next micro-batch; no reprocessing of old files
      writeDay("2019-02-06-02-00-00-CCCC", "S3")
      q.processAllAvailable()
      assert(spark.table("acclog_stream").collect().map(_.getString(0)).sorted
        .toSeq == Seq("S1", "S2", "S3"))
    } finally q.stop()
  }

  test("pushed filters prune in the reader and stay semantically exact") {
    val dir = writeFixture()
    val base = spark.read.format("accesslog").load(dir)
    val q = base.filter(col("operation") === "REST.GET.OBJECT" &&
      col("http_status") < 300 && col("key").startsWith("logs/"))
    // description advertises the pushed filters
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters:") && desc.contains("operation"), desc)
    val rows = q.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("request_id") == "REQ1")
    // filters over corrupt/null rows: IS NOT NULL on error_line keeps ONLY
    // the corrupt row; numeric comparison drops nulls like SQL would
    assert(base.filter(col("error_line").isNotNull).count() == 1)
    assert(base.filter(col("http_status") >= 200).count() == 2) // 200 + 304; nulls drop
    // reader-side result identical to the unpushed text+parse path
    val viaParser = LogLineParser.parse(
      LogLineParser.dropBlankLines(spark.read.text(dir)))
      .filter(col("operation") === "REST.GET.OBJECT" &&
        col("http_status") < 300 && col("key").startsWith("logs/"))
    assert(sortAll(q) sameElements sortAll(viaParser))
  }

  test("files under hidden directories (_temporary/.staging) are skipped") {
    val dir = writeFixture()
    val tmp = new java.io.File(dir, "_temporary/0")
    tmp.mkdirs()
    Files.write(tmp.toPath.resolve("part-00000.txt"),
      lines.head.getBytes("UTF-8"))
    val hidden = new java.io.File(dir, ".staging")
    hidden.mkdirs()
    Files.write(hidden.toPath.resolve("leftover.log"),
      lines.head.getBytes("UTF-8"))
    // same 4 rows as without the leftovers; read.text agrees
    val viaSource = spark.read.format("accesslog").load(dir)
    assert(viaSource.count() == 4)
    assert(viaSource.count() ==
      LogLineParser.parse(LogLineParser.dropBlankLines(spark.read.text(dir))).count())
  }

  test("stream: a rewritten processed file and a restart on the same checkpoint add no rows") {
    val dir = tempDir("accesslog-seen")
    val ckpt = tempDir("accesslog-seen-ckpt").toString
    def writeLog(name: String, reqId: String): Unit =
      Files.write(dir.resolve(name), lines.head.replace("REQ1", reqId).getBytes("UTF-8"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val record: (DataFrame, Long) => Unit =
      (batch, _) => batch.collect().foreach(r => seen.add(r.getString(0)))
    def start() = spark.readStream.format("accesslog").load(dir.toString)
      .select("request_id").writeStream
      .option("checkpointLocation", ckpt).foreachBatch(record).start()
    def emitted = seen.toArray.map(_.toString).sorted.toSeq

    writeLog("2019-02-06-00-00-00-AAAA", "S1")
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(emitted == Seq("S1"))
      // a transiently empty listing, then the processed name written again
      Files.delete(dir.resolve("2019-02-06-00-00-00-AAAA"))
      q1.processAllAvailable()
      writeLog("2019-02-06-00-00-00-AAAA", "S1-again")
      q1.processAllAvailable()
      assert(emitted == Seq("S1"), "a processed file was read again")
    } finally q1.stop()

    writeLog("2019-02-06-01-00-00-BBBB", "S2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted == Seq("S1", "S2"), "the restarted query emitted a committed row again")
  }

  test("read with a user-specified schema other than the fixed one fails loudly") {
    val dir = writeFixture()
    val e = intercept[Exception](
      spark.read.format("accesslog").schema("operation STRING").load(dir).collect())
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  test("readStream with a user-specified schema other than the fixed one fails loudly") {
    val dir = writeFixture()
    val e = intercept[Exception](
      spark.readStream.format("accesslog").schema("operation STRING").load(dir))
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  test("timestamps follow the session timezone like the text+parse path") {
    val dir = writeFixture()
    val old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val viaSource = spark.read.format("accesslog").load(dir)
        .filter(col("request_id") === "REQ1").select("request_time")
      val viaParser = LogLineParser.parse(
        LogLineParser.dropBlankLines(spark.read.text(dir)))
        .filter(col("request_id") === "REQ1").select("request_time")
      val a = viaSource.head().getTimestamp(0)
      val b = viaParser.head().getTimestamp(0)
      assert(a == b, s"source=$a parser=$b")
      // 00:00:38 local PST = 08:00:38Z
      assert(a.toInstant == java.time.Instant.parse("2019-02-06T08:00:38Z"))
    } finally spark.conf.set("spark.sql.session.timeZone", old)
  }

  test("bin-packing: many small files collapse into few partitions") {
    val dir = tempDir("accesslog-bins")
    (0 until 50).foreach { i =>
      Files.write(dir.resolve(f"f$i%03d.log"), lines.head.getBytes("UTF-8"))
    }
    val df = spark.read.format("accesslog").load(dir.toString)
    assert(df.count() == 50)
    // Spark's file packing, as for read.text: 50 tiny files share a few
    // partitions (each file is charged openCostInBytes), not 50
    val n = df.rdd.getNumPartitions
    assert(n == spark.read.text(dir.toString).rdd.getNumPartitions && n < 50, s"$n partitions")
  }
}
