package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.DaysApart
import graft.logs.Compacter

class ChecksSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-checks")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val NumFiles = 3

  /** One generated day, compacted: its truth and its stats. */
  private lazy val (truth, stats) = {
    val root = Files.createTempDirectory("perfbench-checks")
    val t = Gen.writeDay(root.resolve("raw"), 3, LocalDate.of(2024, 3, 1), Gen.Shape(4, 500))
    val cfg = Compacter.Config(root.resolve("raw").toString, Gen.SourceBucket,
      root.resolve("out").toString, numOutputFiles = NumFiles)
    (t, Compacter.compactDayWithStats(spark, cfg, t.dt).get)
  }

  private def tmp(): Path = Files.createTempDirectory("perfbench-checks")

  test("a correct day passes every check") {
    assert(truth.corrupt > 0)
    assert(Checks.day(stats, truth, NumFiles) == Nil)
  }

  test("the row check fails when the expected row count is altered") {
    val errs = Checks.day(stats, truth.copy(rows = truth.rows + 1), NumFiles)
    assert(errs.exists(_.startsWith("rows ")))
  }

  test("the corrupt-row check fails when the expected corrupt count is altered") {
    val errs = Checks.day(stats, truth.copy(corrupt = truth.corrupt - 1), NumFiles)
    assert(errs.exists(_.startsWith("corrupt rows ")))
  }

  test("the file-count check fails when the expected count is altered") {
    assert(Checks.day(stats, truth, NumFiles + 1).exists(_.contains("numOutputFiles")))
  }

  test("the footer check fails when the observed row count is altered") {
    val errs = Checks.day(stats.copy(rows = stats.rows + 1),
      truth.copy(rows = truth.rows + 1), NumFiles)
    assert(errs == Seq(s"footer rows ${truth.rows} != observed ${truth.rows + 1}"))
  }

  test("the dt-in-path check fails on a file that carries a dt column") {
    val dir = tmp().resolve("dt=2024-03-01")
    spark.read.parquet(stats.dest).withColumn("dt", org.apache.spark.sql.functions.lit("x"))
      .coalesce(1).sortWithinPartitions("request_time").write.parquet(dir.toString)
    val errs = Checks.day(stats.copy(dest = dir.toString), truth, 1)
    assert(errs.exists(_.endsWith("has a dt column")))
  }

  test("the sort check fails on a file that is not sorted by request_time") {
    val dir = tmp().resolve("unsorted")
    spark.read.parquet(stats.dest).coalesce(1)
      .sortWithinPartitions(org.apache.spark.sql.functions.col("request_time").desc)
      .write.parquet(dir.toString)
    val errs = Checks.day(stats.copy(dest = dir.toString), truth, 1)
    assert(errs.size == 1 && errs.head.endsWith(" rows out of request_time order"), errs)
  }

  test("the query check passes on Days Apart and fails when the answer is altered") {
    val rows = DaysApart.frame(spark.read.parquet(stats.dest)).collect().toSeq
    assert(Checks.query(rows, truth.answer) == Nil)
    val (k, v) = truth.answer.head
    assert(Checks.query(rows, truth.answer.updated(k, v.copy(accessCount = v.accessCount + 1)))
      .exists(_.contains("wrong count or bytes")))
    assert(Checks.query(rows, truth.answer.updated(k, v.copy(totalBytes = v.totalBytes - 1)))
      .exists(_.contains("wrong count or bytes")))
    assert(Checks.query(rows, truth.answer - k).exists(_.contains("unexpected groups")))
    assert(Checks.query(rows, truth.answer.updated(Gen.GroupKey("x", "y"), v))
      .exists(_.contains("missing")))
    val ascending = rows.sortBy(_.getLong(2))
    assert(ascending != rows)
    assert(Checks.query(ascending, truth.answer).exists(_.contains("descending")))
    assert(Checks.query(rows :+ rows.head, truth.answer).exists(_.contains("duplicate")))
  }
}
