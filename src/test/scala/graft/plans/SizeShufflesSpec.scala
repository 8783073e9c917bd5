package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.analysis.DaysApart
import graft.logs.{Compacter, LogCatalog}

/** [[SizeShuffles]] over Days Apart on one small compacted day, and the
  * plans it must leave alone. The test session plans shuffles with 4
  * partitions; the day is a few kilobytes, so the rule sizes them to 1.
  */
class SizeShufflesSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val Table = "size_shuffles_logs"

  /** Spark's own AQE sizes, set so small that n reaches the session count
    * and the rule leaves every plan as it is.
    */
  private def inactive[T](body: => T): T = withConf(
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(body)

  private def logLine(i: Int): String = {
    val requester = s"arn:aws:iam::${i % 4}:assumed-role/r/i-0abc$i"
    val (op, status) = if (i % 7 == 0) ("REST.PUT.OBJECT", 200) else ("REST.GET.OBJECT", 200)
    val written = if (i % 5 == 0) "2021/02/01" else f"2019/01/${i % 27 + 1}%02d"
    val key = s"logs/svc${i % 6}/$written/part-$i.gz"
    f"owner bucket1 [03/Feb/2021:${i % 24}%02d:00:00 +0000] 1.2.3.4 $requester " +
      s"REQ$i $op $key " + "\"GET /x HTTP/1.1\" " +
      s"$status - ${1000 + i} 2048 10 5 " + "\"-\" \"agent/1.0\" -"
  }

  /** One compacted day of 600 lines, registered as a catalog table. */
  private lazy val day: String = {
    val root = tempDir("graft-size-shuffles")
    val raw = root.resolve("raw").resolve("bucket1")
    Files.createDirectories(raw)
    (0 until 3).foreach { o =>
      val lines = (o * 200 until (o + 1) * 200).map(logLine)
      Files.write(raw.resolve(f"2021-02-03-00-00-0$o-OBJ$o"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val cfg = Compacter.Config(root.resolve("raw").toString, "bucket1",
      root.resolve("out").toString, numOutputFiles = 3)
    Compacter.compactDayWithStats(spark, cfg, "2021-02-03").get
    LogCatalog.dropTable(spark, Table)
    LogCatalog.createAccessLogsTable(spark, Table, root.resolve("out").resolve("bucket1").toString)
    LogCatalog.repairTable(spark, Table)
    root.resolve("out").resolve("bucket1").toString
  }

  override def afterAll(): Unit =
    try LogCatalog.dropTable(spark, Table) finally super.afterAll()

  private def exchanges(plan: SparkPlan): Seq[Partitioning] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  /** Rows, final plan and the jobs of one run of `df`. */
  private def run(df: => DataFrame) = {
    val ((rows, plan), jobs) = jobsDuring {
      val q = df
      (q.collect().toSeq, q.queryExecution.executedPlan)
    }
    (rows, plan, jobs)
  }

  private def sql = spark.sql(DaysApart.sql(Table))

  /** The same rows, each list in `access_count` order; rows tied on the
    * count have no defined order.
    */
  private def sameRows(a: Seq[org.apache.spark.sql.Row], b: Seq[org.apache.spark.sql.Row]): Boolean = {
    def counts(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.getAs[Long]("access_count"))
    Seq(a, b).forall(rs => counts(rs) == counts(rs).sorted.reverse) &&
      a.map(_.toString).sorted == b.map(_.toString).sorted
  }

  test("Days Apart over a small day: one-partition shuffle, no range exchange, no sampling job") {
    day
    val (rows, plan, jobs) = run(sql)
    val (baseRows, basePlan, baseJobs) = inactive(run(sql))
    assert(rows.nonEmpty && sameRows(rows, baseRows))

    assert(exchanges(plan).nonEmpty && exchanges(plan).forall(_.numPartitions == 1),
      s"every exchange sized to one partition:\n$plan")
    assert(!exchanges(plan).exists(_.isInstanceOf[RangePartitioning]), plan.toString)
    assert(exchanges(basePlan).exists(_.isInstanceOf[RangePartitioning]), basePlan.toString)
    // one job per shuffle stage plus the result job; a range exchange's
    // stage costs one more, which samples the input for its bounds
    def stages(p: SparkPlan) = collect(p) { case s: ShuffleQueryStageExec => s }.size
    assert(baseJobs.size == stages(basePlan) + 2, s"${baseJobs.size} jobs:\n$basePlan")
    assert(jobs.size == stages(plan) + 1, s"${jobs.size} jobs:\n$plan")
    assert(jobs.size < baseJobs.size, s"jobs ${baseJobs.size} -> ${jobs.size}")

    // the scan still reports the files and bytes it read
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    assert(scan.metrics("numFiles").value == 3, scan.metrics.toString)
    assert(scan.metrics("filesSize").value > 0, scan.metrics.toString)
  }

  test("Spark's advisory and minimum partition sizes set tiny: every exchange keeps the session count") {
    day
    val count = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (_, plan, _) = inactive(run(sql))
    assert(exchanges(plan).size == 2 && exchanges(plan).forall(_.numPartitions == count),
      plan.toString)
  }

  test("a join, an explode and a window plan are left untouched") {
    day
    val count = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val logs = spark.read.parquet(day)
    val join = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      run(logs.groupBy("requester").count()
        .join(logs.select("requester", "bytes_sent"), "requester"))._2
    }
    val exploded = run(logs.select(explode(split(col("key"), "/")).as("part"))
      .groupBy("part").count())._2
    val window = run(logs.select(col("requester"), row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("requester")
        .orderBy("request_time")).as("rn")))._2
    Seq("join" -> join, "explode" -> exploded, "window" -> window).foreach { case (what, plan) =>
      assert(exchanges(plan).nonEmpty && exchanges(plan).forall(_.numPartitions == count),
        s"$what:\n$plan")
    }
  }

  /** The bytes of the day's Parquet files. */
  private def fileBytes: Long = {
    day
    val files = Files.list(java.nio.file.Paths.get(day, "dt=2021-02-03"))
    try files.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally files.close()
  }

  test("an input above the advisory size keeps the session count until its first stage has run") {
    val count = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (rows, plan, jobs) = withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (fileBytes - 1).toString)(run(sql))
    // the aggregate's exchange was planned before any shuffle had run
    assert(exchanges(plan).collect { case h: HashPartitioning => h.numPartitions } == Seq(count),
      plan.toString)
    // the sort's, from the aggregate stage's runtime bytes: no range bounds
    assert(!exchanges(plan).exists(_.isInstanceOf[RangePartitioning]), plan.toString)
    def stages(p: SparkPlan) = collect(p) { case s: ShuffleQueryStageExec => s }.size
    assert(jobs.size == stages(plan) + 1, s"${jobs.size} jobs:\n$plan")
    assert(rows.nonEmpty && sameRows(rows, inactive(run(sql))._1))
  }

  test("a rewrite ValidateRequirements rejects returns the input plan") {
    day
    val agg = spark.read.parquet(day).groupBy("requester").count()
    agg.collect()
    val stage = collect(agg.queryExecution.executedPlan) { case s: ShuffleQueryStageExec => s }.head
    assert(stage.isMaterialized)
    val requester = stage.output.find(_.name == "requester").get
    val order = Seq(SortOrder(requester, Ascending))
    def sortOver(p: Partitioning) = SortExec(order, global = true,
      ShuffleExchangeExec(p, stage))
    val bytes = stage.getRuntimeStatistics.sizeInBytes
    // a target of half the stage's bytes: n = 2, below the session count of 4
    withConf(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> ((bytes + 1) / 2).toString) {
      val rule = SizeShuffles(spark)
      val ranged = sortOver(RangePartitioning(order, 4))
      val sized = rule(ranged)
      assert(sized.collectFirst { case e: ShuffleExchangeExec => e.outputPartitioning } ==
        Some(RangePartitioning(order, 2)), sized.toString)
      // a global sort over hash partitions is invalid at any count but one
      val hashed = sortOver(HashPartitioning(Seq(requester), 4))
      assert(rule(hashed) eq hashed)
    }
  }

  test("DaysApart.sql and DaysApart.frame rows are the same with the rule acting and not") {
    day
    def frame = DaysApart.frame(spark.read.parquet(day))
    Seq("sql" -> (() => sql), "frame" -> (() => frame)).foreach { case (what, q) =>
      val (acting, actingPlan, _) = run(q())
      val (not, notPlan, _) = inactive(run(q()))
      assert(exchanges(actingPlan).forall(_.numPartitions == 1), s"$what:\n$actingPlan")
      assert(exchanges(notPlan).forall(_.numPartitions == 4), s"$what:\n$notPlan")
      assert(acting.nonEmpty && sameRows(acting, not), what)
    }
  }
}
