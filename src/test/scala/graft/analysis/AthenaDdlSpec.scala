package graft.analysis

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.logs.Compacter

/** End-to-end proof that EVERY file in the reference's example_queries/
  * directory executes against this engine: compact two raw days, create
  * the table with the reference's own create_table.sql, discover
  * partitions with load_all_partitions.sql, re-register one with
  * load_partition.sql, and answer days_apart_analysis.sql on the result —
  * each file read from the reference checkout at test time, translated
  * only as its own header instructs (location/date substitutions) plus
  * the documented dialect rewrites.
  */
class AthenaDdlSpec extends SparkTestBase {

  private val refDir = new java.io.File("/root/reference/example_queries")
  private def refSql(name: String): String =
    new String(Files.readAllBytes(new java.io.File(refDir, name).toPath), "UTF-8")

  private val Table = "`example_s3_access_logs_table`"

  // raw fixture: GETs of objects keyed under 2018 paths, read in 2021 —
  // >400 days apart, so the flagship query has rows to return
  private def logLine(day: Int, hour: Int, key: String): String =
    f"owner bucket1 [$day%02d/Feb/2021:$hour%02d:00:00 +0000] 1.2.3.4 " +
      "arn:aws:iam::1:assumed-role/r/i-0abc " +
      f"REQ$day$hour REST.GET.OBJECT $key " + "\"GET /x HTTP/1.1\" " +
      "200 - 1024 2048 10 5 \"-\" \"agent/1.0\" -"

  private def writeDay(root: Path, dt: String, day: Int): Unit = {
    val dir = root.resolve("bucket1")
    Files.createDirectories(dir)
    val lines = (0 until 4).map(h =>
      logLine(day, h, s"logs/app/2018/01/0${h + 1}/obj$h.gz"))
    Files.write(dir.resolve(s"$dt-00-00-00-OBJ"),
      lines.mkString("\n").getBytes)
  }

  test("all four example_queries files execute: DDL, MSCK, ADD PARTITION, query") {
    assume(refDir.isDirectory, "reference checkout not present")
    val tmp = Files.createTempDirectory("graft-athena")
    val rawRoot = tmp.resolve("raw"); val destRoot = tmp.resolve("table")
    writeDay(rawRoot, "2021-02-03", 3)
    writeDay(rawRoot, "2021-02-04", 4)
    val cfg = Compacter.Config(rawRoot.toString, "bucket1",
      destRoot.toString, numOutputFiles = 1)
    Seq("2021-02-03", "2021-02-04").foreach { dt =>
      assert(Compacter.compactDayWithStats(spark, cfg, dt).map(_.dest).isDefined)
    }

    // a sibling suite registers a temp view under the table's name;
    // remove it so the catalog table is what resolves below
    spark.catalog.dropTempView("example-s3-access-logs-table")
    spark.sql(s"DROP TABLE IF EXISTS $Table")

    // 1. create_table.sql — the reference's DDL, location edited as its
    //    header instructs
    spark.sql(AthenaDdl.translateCreateTable(
      refSql("create_table.sql"), s"$destRoot/bucket1"))
    assert(spark.sql(s"SHOW PARTITIONS $Table").count() == 0)

    // 2. load_all_partitions.sql — MSCK discovers both dt= directories
    spark.sql(AthenaDdl.translateRepair(refSql("load_all_partitions.sql")))
    val dts = spark.sql(s"SHOW PARTITIONS $Table")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dts == Seq("dt=2021-02-03", "dt=2021-02-04"))

    // 3. load_partition.sql — drop one partition, re-register it the
    //    reference's way (date + path substituted as the file instructs)
    spark.sql(s"ALTER TABLE $Table DROP PARTITION (dt='2021-02-04')")
    assert(spark.sql(s"SHOW PARTITIONS $Table").count() == 1)
    spark.sql(AthenaDdl.translateAddPartition(refSql("load_partition.sql"),
      "2021-02-04", s"$destRoot/bucket1/dt=2021-02-04"))
    assert(spark.sql(s"SHOW PARTITIONS $Table").count() == 2)

    // 4. days_apart_analysis.sql — the flagship query over the registered
    //    table (objects written 2018, read 2021 → all rows >400 days)
    val rows = spark.sql(AthenaDdl.normalizeIdentifiers(
        PrestoSqlTranslator.translate(refSql("days_apart_analysis.sql"))))
      .collect()
    assert(rows.nonEmpty)
    val r = rows.head
    assert(r.getAs[String]("requester") == "arn:aws:iam::1:assumed-role/r")
    assert(r.getAs[String]("log_name") == "app")
    assert(r.getAs[Long]("access_count") == 8L) // 4 lines x 2 days

    spark.sql(s"DROP TABLE $Table")
  }

  test("add-partition substitutions survive '$' and backslash in paths") {
    assume(refDir.isDirectory, "reference checkout not present")
    val out = AthenaDdl.translateAddPartition(refSql("load_partition.sql"),
      "2021-02-04", "/data/$tbl/weird\\path/dt=2021-02-04")
    assert(out.contains("dt='2021-02-04'"))
    assert(out.contains("LOCATION '/data/$tbl/weird\\path/dt=2021-02-04'"))
  }

  test("create-table translation refuses a non-parquet SerDe stack") {
    assume(refDir.isDirectory, "reference checkout not present")
    val orc = refSql("create_table.sql")
      .replaceAll("(?i)parquet", "orc")
    intercept[IllegalArgumentException] {
      AthenaDdl.translateCreateTable(orc, "/tmp/x")
    }
  }
}
