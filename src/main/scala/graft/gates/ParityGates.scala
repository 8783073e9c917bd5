package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.DaysApart
import graft.ext.{Dedup, Retrieval, Similarity, TextStats}
import graft.logs.LogLineParser
import Support._

/** Gate registry — reference parity (SURVEY.md SS2.1-2.9): log parse, Days Apart, core SQL surface, compaction shape, the `accesslog` file format.
  * Entries are verbatim from the pre-split SparkEntry.scala
  * (round-11 refactor; zero behavior change).
  */
private[graft] object ParityGates extends GateFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2/§2.9 — the core operator: regex parse with PERMISSIVE
    // corrupt-record semantics, null sentinels, timestamp munging.
    "q10_parse_logline" -> ((s, dir) => {
      LogLineParser.parse(syntheticLogLines(tbl(s, dir, "events")))
    }),

    // §3.2 — the flagship Days Apart analysis end-to-end over parsed lines:
    // scan → filter → regex/date scalar fns → group agg → global sort.
    "q11_days_apart" -> ((s, dir) => {
      val parsed = LogLineParser.parse(syntheticLogLines(tbl(s, dir, "events")))
      DaysApart.frame(parsed, threshold = 60)
        .orderBy(desc("access_count"), col("requester"), col("log_name"))
    }),

    // §2.4 — hash aggregate, multiple aggs, decimal-exact double sums.
    "q01_agg_pricing" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val dec = (c: Column) => c.cast("decimal(18,2)")
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          min("l_shipdate").as("min_ship"),
          max("l_shipdate").as("max_ship"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2.2 — predicate + projection pushdown to the parquet scan.
    "q02_filter_pushdown" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    }),

    // §2.3 — string scalar functions (regexp_extract/replace, concat, case).
    "q03_string_funs" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head_upper"),
        length(col("text")).cast("long").as("text_len"),
        regexp_extract(col("source"), "src([0-9]+)", 1).as("src_num"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        size(regexp_extract_all(col("text"), lit("the"), lit(0))).cast("long").as("n_the"))
    }),

    // §2.3 — date/time scalar functions + aggregation by day.
    "q04_dates" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          max(hour(col("ts"))).as("max_hr"))
        .orderBy("day")
    }),

    // §2.5 ext — fact-fact join + datediff + agg + sort (Days Apart shape
    // over the star schema: order date vs ship date).
    "q05_days_apart_join" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = tbl(s, dir, "lineitem").select("l_orderkey", "l_shipdate", "l_extendedprice")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("days_apart"),
          col("o_orderpriority"),
          col("l_extendedprice"))
        .filter(col("days_apart") > 60)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total_price"))
        .orderBy("o_orderpriority")
    }),

    // §2.5 ext — broadcast dimension joins (star schema rollup).
    "q06_join_star" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))
        .orderBy("r_name")
    }),

    // §2.6 — global sort + limit (top-k) with deterministic tie-break.
    "q07_topk" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(15)
    }),

    // ext — window ranking: top-3 orders per customer.
    "q08_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // §2.4 ext — distinct aggregation.
    "q09_distinct_agg" -> ((s, dir) => {
      tbl(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // §2.6 — the compaction shape (round-robin repartition + partition-
    // local sort) over the parsed corpus; result SET must equal the plain
    // parse (physical ops must not create/drop/corrupt rows).
    "q31_compact_shape" -> ((s, dir) => {
      LogLineParser.parse(syntheticLogLines(tbl(s, dir, "events")))
        .repartition(10)
        .sortWithinPartitions("request_time")
    }),

    // §2.1 ext — the `accesslog` file format end-to-end: raw text files
    // on disk → one scan node emitting the typed 19-column frame (parse
    // inside the reader, column pruning reaching the parse)
    // → aggregate. The write is part of the measured work on purpose: it
    // is the reference's whole pipeline (text in, typed analytics out).
    "q62_accesslog_source" -> ((s, dir) => {
      val outDir = scratchDir("graft-q62") + "/raw"
      syntheticLogLines(tbl(s, dir, "events"))
        .write.mode("overwrite").text(outDir)
      s.read.format("accesslog").load(outDir)
        .groupBy("operation")
        .agg(count(lit(1)).as("n"),
          sum("bytes_sent").as("total_bytes"),
          countDistinct("requester").as("n_requesters"),
          max("request_time").as("max_time"),
          count(col("error_line")).as("n_corrupt"))
        .orderBy(asc_nulls_first("operation"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q10_parse_logline" -> ParsedOracle,

    "q11_days_apart" ->
      s"""WITH e AS ($EventsCte),
         |d AS (
         |  SELECT
         |    'arn:aws:sts::123456789012:assumed-role/svc' || (user_id % 7) AS requester,
         |    'app' || (user_id % 3) AS log_name,
         |    date_diff('day',
         |      make_date(2023, CAST(1 + event_id % 12 AS INT), CAST(1 + event_id % 28 AS INT)),
         |      CAST(date_trunc('day', ts) AS DATE)) AS days_apart,
         |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE CAST(round(value * 100) AS BIGINT) END AS bytes_sent
         |  FROM e
         |  WHERE event_id % 101 <> 0 AND value > 50 AND event_type <> 'error')
         |SELECT requester, log_name,
         |       CAST(count(*) AS BIGINT) AS access_count,
         |       CAST(sum(bytes_sent) AS BIGINT) AS total_bytes
         |FROM d WHERE days_apart > 60
         |GROUP BY 1, 2
         |ORDER BY access_count DESC, requester, log_name""".stripMargin,

    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  min(l_shipdate) AS min_ship,
        |  max(l_shipdate) AS max_ship
        |FROM lineitem
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q02_filter_pushdown" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000""".stripMargin,

    "q03_string_funs" ->
      """SELECT doc_id,
        |  upper(substr(text, 1, 10)) AS head_upper,
        |  CAST(length(text) AS BIGINT) AS text_len,
        |  regexp_extract(source, 'src([0-9]+)', 1) AS src_num,
        |  concat_ws('|', lang, source) AS tag,
        |  CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the
        |FROM documents""".stripMargin,

    "q04_dates" ->
      s"""WITH e AS ($EventsCte)
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  CAST(max(hour(ts)) AS INT) AS max_hr
         |FROM e
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "q05_days_apart_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q06_join_star" ->
      """SELECT r_name,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q07_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 15""".stripMargin,

    "q08_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders
        |QUALIFY rn <= 3""".stripMargin,

    "q09_distinct_agg" ->
      s"""WITH e AS ($EventsCte)
         |SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM e
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "q31_compact_shape" -> ParsedOracle,

    // aggregate over the expected parsed table (parse ∘ format = identity;
    // the accesslog format must agree with the same oracle as q10's parser)
    // NOTE: ParsedOracle is concatenated, not interpolated inside a
    // stripMargin block — its `||` continuation lines would be eaten by a
    // second stripMargin pass.
    "q62_accesslog_source" ->
      (s"WITH parsed AS ($ParsedOracle)\n" +
        """SELECT operation,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(bytes_sent) AS BIGINT) AS total_bytes,
          |  CAST(count(DISTINCT requester) AS BIGINT) AS n_requesters,
          |  max(request_time) AS max_time,
          |  CAST(count(error_line) AS BIGINT) AS n_corrupt
          |FROM parsed
          |GROUP BY operation
          |ORDER BY operation NULLS FIRST""".stripMargin),
  )
}
