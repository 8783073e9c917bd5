package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.ExtensionRules

import graft.plans.SizeShuffles

/** The custom kernels must be reachable from PURE SQL, and the rules
  * active, in a session built with no extension conf: the jar's
  * `META-INF/services` entry installs [[GraftExtensions]] into every
  * session, the shared test session included.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("a plain builder's session resolves parse_log_line and holds SizeShuffles once") {
    assert(spark.sql("SELECT parse_log_line('nope') IS NULL").collect()(0).getBoolean(0))
    val prep = spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
    assert(prep.count(_.isInstanceOf[SizeShuffles]) == 1, prep.toString)
  }

  test("installing twice on one extension set (service loader + spark.sql.extensions) installs once") {
    def rules(ext: SparkSessionExtensions) = ExtensionRules.of(ext, spark)
    val once = new SparkSessionExtensions
    new GraftExtensions()(once)
    val twice = new SparkSessionExtensions
    new GraftExtensions()(twice)
    new GraftExtensions()(twice)
    // the optimizer, post-planner, stage-prep and columnar rule, each once
    assert(rules(once).size == 4, rules(once).toString)
    assert(rules(twice).size == 4, rules(twice).toString)
    assert(rules(twice).count(_.isInstanceOf[SizeShuffles]) == 1)
    assert(rules(twice).count(_ == graft.functions.CollapsePathDate) == 1)
  }

  test("vec_dot from SQL") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 11.0) < 1e-12)
  }

  test("parse_log_line from SQL: field access and miss") {
    val ok = spark.sql(
      """SELECT parse_log_line('o b [06/Feb/2019:00:00:38 +0000] ip r rid OP k "GET / HTTP/1.1" 200 - 1 2 3 4 "-" "ua" -').operation AS op""")
      .collect()(0).getString(0)
    assert(ok == "OP")
    val miss = spark.sql("SELECT parse_log_line('nope') IS NULL AS missed")
      .collect()(0).getBoolean(0)
    assert(miss)
  }

  test("word_ngrams + minhash_signature + simhash from SQL") {
    val sig = spark.sql(
      "SELECT minhash_signature(word_ngrams(split('a b c d', ' '), 2), 16) AS s")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 16)
    val sk = spark.sql("SELECT simhash(split('x y z', ' ')) AS h")
      .collect()(0).getLong(0)
    val sk2 = spark.sql("SELECT simhash(split('x y z', ' ')) AS h")
      .collect()(0).getLong(0)
    assert(sk == sk2)
  }

  test("non-literal k is rejected with a clear error") {
    val e = intercept[Exception](
      spark.sql("SELECT minhash_signature(array('a'), length('abc'))").collect())
    assert(e.getMessage.contains("integer literal"))
  }
  test("CollapsePathDate fuses the Days-Apart composite, results identical") {
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "logs/svc/2019/03/04/part-0.tgz",   // clean
      "logs/svc/2019/3/4/part-0.tgz",     // short fields: strict format -> null
      "logs/svc/2019/03/04/05/p.tgz",     // 4 digit groups -> join -> null
      "no digits here",                    // no matches -> "" -> null
      "a/1/b",                             // too few groups -> null
      "x/2020/12/31/y"                     // clean, different date
    )
    // non-foldable input so the composite survives constant folding
    val df = spark.createDataset(keys)(org.apache.spark.sql.Encoders.STRING)
      .toDF("key").repartition(2)
    val composite = try_to_timestamp(
      array_join(regexp_extract_all(col("key"), lit("/(\\d+)"), lit(1)), "-"),
      lit("yyyy-MM-dd"))
    val q = df.select(col("key"), composite.as("d"))

    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("path_date"),
      s"rule must fuse the composite:\n$optimized")

    val got = q.collect().map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    assert(got("logs/svc/2019/03/04/part-0.tgz")
      .contains(java.sql.Timestamp.valueOf("2019-03-04 00:00:00")))
    assert(got("x/2020/12/31/y")
      .contains(java.sql.Timestamp.valueOf("2020-12-31 00:00:00")))
    Seq("logs/svc/2019/3/4/part-0.tgz", "logs/svc/2019/03/04/05/p.tgz",
      "no digits here", "a/1/b").foreach(k => assert(got(k).isEmpty, k))

    // bit-identical to the unfused form (the rule excluded)
    val expected = withConf("spark.sql.optimizer.excludedRules" -> "graft.functions.CollapsePathDate") {
      val unfused = spark.createDataset(keys)(org.apache.spark.sql.Encoders.STRING)
        .toDF("key")
        .select(col("key"), composite.as("d"))
      assert(!unfused.queryExecution.optimizedPlan.toString.contains("path_date"))
      unfused.collect().map(r => r.getString(0) -> Option(r.getTimestamp(1))).toMap
    }
    assert(got == expected)
  }

  test("to_timestamp (failOnError) form is NOT rewritten") {
    import org.apache.spark.sql.functions._
    val df = spark.range(2).select(concat(lit("a/2019/03/0"), col("id")).as("key"))
    val strict = df.select(to_timestamp(
      array_join(regexp_extract_all(col("key"), lit("/(\\d+)"), lit(1)), "-"),
      "yyyy-MM-dd").as("d"))
    assert(!strict.queryExecution.optimizedPlan.toString.contains("path_date"),
      "only the try_ form has null-on-error semantics PathDate reproduces")
  }

  private val SampleLines = Seq(
    """o b [06/Feb/2019:00:00:38 +0000] ip r rid REST.GET.OBJECT k "GET / HTTP/1.1" 200 - 1 2 3 4 "-" "ua" -""",
    """o b [07/Feb/2019:00:00:38 +0000] ip r rid REST.GET.OBJECT k "GET / HTTP/1.1" 404 NoSuchKey 1 2 3 4 "-" "ua" -""",
    """o b [08/Feb/2019:00:00:38 +0000] ip r rid REST.PUT.OBJECT k "PUT / HTTP/1.1" 200 - 1 2 3 4 "-" "ua" -""",
    "garbage line")

  /** Lines as a FILE-backed frame: a LocalRelation would be filtered at
    * optimization time (ConvertToLocalRelation) and never reach FilterExec.
    */
  private def rawLines(): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cse-test")
    java.nio.file.Files.write(dir.resolve("lines.txt"),
      SampleLines.mkString("\n").getBytes("UTF-8"))
    spark.read.text(dir.toString).repartition(2)
  }

  test("DedupFilterSubexprs: repeated parse in a filter is evaluated once") {
    import org.apache.spark.sql.functions._
    val raw = rawLines()
    val q = graft.logs.LogLineParser.parse(raw)
      .filter(col("operation") === "REST.GET.OBJECT" && col("http_status") < 300)
      .select("request_id")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("rid"),
      "rewritten filter must keep exact semantics")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("_graft_filter_cse_0"),
      s"filter with a repeated parse must be rewritten:\n$physical")
    // the filter's own predicate references the shared alias, not fresh
    // parse_log_line calls: every parse in the plan sits in a Project
    // ("Filter (" = the operator node; the FileScan line's DataFilters
    // echo the original predicate and are not executed there)
    val filterLines = physical.split("\n").filter(_.contains("Filter ("))
    assert(filterLines.exists(_.contains("_graft_filter_cse_0")), physical)
    assert(!filterLines.exists(l => l.contains("parse_access_log") || l.contains("parse_log_line")),
      s"no parse may remain inside the Filter predicate:\n$physical")
  }

  /** How often the parse kernel runs when `df` executes, and the rows it
    * yields: its plan, with every kernel swapped for one that counts its
    * calls, through the full planner (AQE and the extension rules
    * included) and executed whole, as a write runs it.
    */
  private def kernelCalls(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val calls = spark.sparkContext.longAccumulator("parse calls")
    val counted = org.apache.spark.sql.graft.PlanFrames.ofRows(spark,
      df.queryExecution.analyzed.transformAllExpressions {
        case k: graft.functions.ParseAccessLog => new CountedParse(k.child, k.timeZoneId, calls)
      })
    val rows = counted.queryExecution.toRdd.count()
    (calls.value.longValue, rows)
  }

  private def lineFile(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-calls-test")
    java.nio.file.Files.write(dir.resolve("lines.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("the compacter's plan runs the parse kernel once per non-blank line") {
    val lines = Seq.fill(50)(SampleLines).flatten ++ Seq("", "  \t")
    val dir = new org.apache.hadoop.fs.Path(lineFile(lines))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".txt"))
    val df = graft.logs.Compacter.readListed(spark, listed, 3, sessionConf())
      .sortWithinPartitions("request_time")
    assert(df.queryExecution.toRdd.count() == 200)
    // the accesslog reader parses each non-blank line as it emits it: no
    // parse projection runs above the scan
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("parse_access_log"), plan.toString)
    val scanned = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) { case s: org.apache.spark.sql.execution.RDDScanExec =>
        s.metrics("numOutputRows").value }
    assert(scanned == Seq(200L), s"scan rows $scanned for 200 non-blank lines:\n$plan")
  }

  test("a filter on parsed fields shares one kernel call per line with the projection") {
    import org.apache.spark.sql.functions._
    val lines = Seq.fill(50)(SampleLines).flatten
    val q = graft.logs.LogLineParser.parse(spark.read.text(lineFile(lines)))
      .filter(col("operation") === "REST.GET.OBJECT" && col("http_status") < 300)
    assert(q.select("request_id").collect().map(_.getString(0)).toSeq == Seq.fill(50)("rid"))
    val (calls, rows) = kernelCalls(q)
    assert(rows == 50)
    assert(calls == 200, s"$calls kernel calls for 200 lines:\n${q.queryExecution.executedPlan}")
  }

  test("DedupFilterSubexprs: a regex over a lambda variable stays inside its lambda") {
    import org.apache.spark.sql.functions._
    // one per-element rlike, which predicate pushdown copies from the
    // projection into the filter below it
    val query = concat(lit("utm_a=1&b="), col("id").cast("string"))
    val q = spark.range(0, 40)
      .select(size(filter(split(query, "&"), p => !p.rlike("^utm_"))).as("n"))
      .filter(col("n") === 1)
    assert(q.collect().map(_.getInt(0)).toSeq == Seq.fill(40)(1))
    assert(!q.queryExecution.executedPlan.toString.contains("_graft_filter_cse"),
      q.queryExecution.executedPlan.toString)
  }

  test("DedupFilterSubexprs: cheap first conjunct blocks the rewrite (short-circuit guard)") {
    import org.apache.spark.sql.functions._
    val raw = rawLines()
    // first conjunct is cheap and selective: pre-evaluating the parse for
    // every row would defeat predicate short-circuiting
    val q = raw.filter(
      length(col("value")) > 500 &&
        expr("parse_log_line(value).operation") === "REST.GET.OBJECT" &&
        expr("parse_log_line(value).status") === "200")
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("_graft_filter_cse"),
      s"cheap-first-conjunct filter must not be rewritten:\n$physical")
  }
}

/** [[graft.functions.ParseAccessLog]] that counts its calls in `calls`;
  * never equal to the plain kernel (either way round), so a plan
  * transform really swaps it in.
  */
private class CountedParse(child: org.apache.spark.sql.catalyst.expressions.Expression,
    tz: Option[String], calls: org.apache.spark.util.LongAccumulator)
    extends graft.functions.ParseAccessLog(child, tz) {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  override def canEqual(other: Any): Boolean = other.isInstanceOf[CountedParse]
  override def equals(other: Any): Boolean =
    other.isInstanceOf[CountedParse] && super.equals(other)
  override def hashCode(): Int = super.hashCode()
  override def withTimeZone(t: String): CountedParse = new CountedParse(child, Some(t), calls)
  override protected def withNewChildInternal(c: Expression): CountedParse =
    new CountedParse(c, timeZoneId, calls)
  override def nullSafeEval(input: Any): Any = { calls.add(1L); super.nullSafeEval(input) }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val counter = ctx.addReferenceObj("calls", calls)
    val parsed = super.doGenCode(ctx, ev)
    parsed.copy(code = code"$counter.add(1L);" + parsed.code)
  }
}
