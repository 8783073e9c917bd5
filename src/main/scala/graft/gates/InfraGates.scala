package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.DaysApart
import graft.ext.{Dedup, Retrieval, Similarity, TextStats}
import graft.logs.LogLineParser
import Support._

/** Gate registry — table-layout & infra: Z-order, zone maps, compaction planning, bloom layout, token budgets, CIDR LPM, consistent hashing.
  * Entries are verbatim from the pre-split SparkEntry.scala
  * (round-11 refactor; zero behavior change).
  */
private[graft] object InfraGates extends GateFamily {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ext layout — Z-order (Morton) clustering cells: the deterministic
    // ntile-bucket variant of ext.Layout (the write path's quantile
    // variant is exercised in LayoutSpec; this gates the interleave math
    // and bucket semantics against an independent engine). Each zval cell
    // must hold rows narrow in BOTH dimensions at once.
    "q63_zorder_cells" -> ((s, dir) => {
      val e = tbl(s, dir, "events").select("event_id", "user_id", "value")
      ext.Layout.zvalueByNtile(e, Seq("user_id", "value"), bits = 4,
          tieBreakers = Seq("event_id"))
        .groupBy("zval")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_u"), max("user_id").as("max_u"),
          min("value").as("min_v"), max("value").as("max_v"))
        .orderBy("zval")
    }),

    // ext sampling — greedy TOKEN-budget fill per language (unit of
    // account: n_chars), md5-ordered "random" fill; exact two-phase
    // bucket/carry form, never a single-task per-group window.
    "q108_token_budget" -> ((s, dir) => {
      ext.Sampling.tokenBudgetPerGroup(tbl(s, dir, "documents"),
          "doc_id", "lang", "n_chars", budget = 15000L)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // ext sampling — token-budget mixture to per-language TARGETS,
    // longest-document-first (priority fill): the "25k chars en, 10k zh,
    // 8k de" mixture spec; unlisted languages dropped.
    "q109_token_budget_quality" -> ((s, dir) => {
      ext.Sampling.tokenBudgetTargets(tbl(s, dir, "documents"),
          "doc_id", "lang", "n_chars",
          budgets = Map("en" -> 25000L, "zh" -> 10000L, "de" -> 8000L),
          priorityCol = Some("n_chars"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // ext layout — parquet BLOOM-FILTER write + point-lookup read-back:
    // the equality-probe pruning lever min/max stats can't give a
    // high-cardinality key. The gate round-trips through a real
    // bloom-enabled write and an equality-ish filtered read (values
    // verified against the raw table); the footer-level assertions
    // (filters present, membership answers) live in LayoutSpec.
    "q188_bloom_layout" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select("doc_id", "source", "lang")
      val dest = scratchDir("graft-bloom") + "/docs"
      ext.Layout.writeWithBloomFilters(docs, dest, Seq("doc_id"),
        ndvPerGroup = 1000L, numFiles = 4)
      s.read.parquet(dest)
        .filter(col("doc_id") % 37 === 1)
        .orderBy("doc_id")
    }),

    // ext layout QA — physical-layout audit via DISTRIBUTED parquet
    // footer reads (`Layout.rowGroupStats`: files parallelized across
    // executors, one metadata-only footer open per file, driver never
    // holds footers). The gate writes lineitem one-file-per-
    // l_returnflag (repartition on the partition column pins the
    // layout), then reconciles every row group's footer — row count,
    // min/max l_orderkey — against the data. At gate scale each file is
    // one row group, so the expected footers are plain SQL aggregates:
    // the audit is exact, not rows-only.
    "q226_layout_audit" -> ((s, dir) => {
      val dest = scratchDir("graft-q226") + "/ds"
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .repartition(col("l_returnflag"))
        .write.partitionBy("l_returnflag").parquet(dest)
      ext.Layout.rowGroupStats(s, dest, "l_orderkey")
        .select(
          regexp_extract(col("file"), "l_returnflag=([^/]+)/", 1)
            .as("l_returnflag"),
          col("row_group"), col("n_rows"),
          col("min_value").as("min_orderkey"),
          col("max_value").as("max_orderkey"))
        .orderBy("l_returnflag", "row_group")
    }),

    // ext layout — compaction planning from a file listing: contiguous
    // ~targetBytes bins per partition (metadata-scale window), the
    // maintenance step between q226's footer audit and a rewrite job.
    // The file listing is DERIVED from data (per-bucket byte totals) so
    // the oracle replays the whole plan exactly.
    "q237_compaction_plan" -> ((s, dir) => {
      val files = tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("part"),
          (col("l_orderkey") % 20).cast("int").as("bkt"),
          col("l_quantity").cast("long").as("q"))
        .groupBy("part", "bkt")
        .agg((sum(col("q")) * 1000L).as("bytes"))
        .select(col("part"),
          concat(lit("f"), lpad(col("bkt").cast("string"), 3, "0"))
            .as("file"),
          col("bytes"))
      ext.Layout.compactionPlan(files, "part", "file", "bytes",
          targetBytes = 100000000L)
        .orderBy("part", "grp")
    }),

    // ext net — longest-prefix-match CIDR enrichment of an IP column
    // (the reference access-log `remote_ip` shape): a synthetic CIDR
    // table at five prefix lengths derived from `customer`, probe IPs
    // from `orders` via a Knuth multiplicative hash, round-tripped
    // through dotted-quad text so the gate exercises longToIpv4 →
    // ipv4ToLong in-plan. LPM is a literal-length explode + broadcast
    // hash equi-join + bounded window — never a range join; the
    // aggregate reconciles match depth and attribution per segment.
    "q243_ip_cidr_lookup" -> ((s, dir) => {
      val ips = tbl(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") * 2654435761L % 4294967296L).as("h"))
        .withColumn("ipn",
          ext.Net.ipv4ToLong(ext.Net.longToIpv4(col("h"))))
        .select("id", "ipn")
      val netsRaw = tbl(s, dir, "customer")
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey").as("net_id"),
          col("c_mktsegment").as("segment"),
          (lit(8L) + col("c_custkey") % 5L * 4L).as("len"),
          (col("c_custkey") * 2654435761L % 4294967296L).as("neth"))
      val prefix = Seq(8, 12, 16, 20, 24)
        .foldLeft(lit(null).cast("long")) { (acc, l) =>
          when(col("len") === l.toLong,
            shiftright(col("neth"), 32 - l).cast("long")).otherwise(acc)
        }
      // min-net_id pick per (len, prefix) as a struct-min aggregate
      // (partial map-side, nothing sorts) instead of a row_number
      // window — identical pick: net_id (c_custkey) is unique and
      // non-null, so the struct comparison never reaches `segment`
      val nets = netsRaw.withColumn("prefix", prefix)
        .groupBy(col("len"), col("prefix"))
        .agg(min(struct(col("net_id"), col("segment"))).as("__pick"))
        .select(col("len"), col("prefix"),
          col("__pick.net_id").as("net_id"),
          col("__pick.segment").as("segment"))
      ext.Net.longestPrefixJoin(ips, "id", "ipn", nets, "len", "prefix",
          minLen = 8, maxLen = 24, lens = Seq(8, 12, 16, 20, 24))
        .groupBy(coalesce(col("matched_len"), lit(-1L)).as("matched_len"),
          coalesce(col("segment"), lit("(none)")).as("segment"))
        .agg(count(lit(1)).as("n_ips"),
          sum(coalesce(col("net_id"), lit(0L))).as("sum_net"))
        .orderBy("matched_len", "segment")
    }),

    // ext net — IPv6 longest-prefix match: the q243 machinery over two
    // 64-bit halves and a SPARSE length set ({16..96 step 16} — probe
    // amplification is 6×, not 129×). Addresses are synthesized from a
    // shared 8192-value base pool (probes ↔ nets collide at every
    // length, so the most-specific pick is genuinely exercised), all
    // halves positive (< 2^63) so the DuckDB replay is plain integer
    // division by literal powers of two — bit-exact in both engines.
    "q258_ipv6_lpm" -> ((s, dir) => {
      def hiOf(b: Column): Column =
        b * 2654435761L % 2147483648L * 4294967296L +
          b * 1099087573L % 4294967296L
      def loOf(b: Column): Column =
        b * 2246822519L % 2147483648L * 4294967296L +
          b * 3266489917L % 4294967296L
      val lens = Seq(16, 32, 48, 64, 80, 96)
      val ips = tbl(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull)
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") % 8192L).as("b"))
        .select(col("id"), hiOf(col("b")).as("hi"), loOf(col("b")).as("lo"))
      val netsRaw = tbl(s, dir, "customer")
        .filter(col("c_custkey").isNotNull)
        .select(col("c_custkey").as("net_id"),
          col("c_mktsegment").as("segment"),
          (lit(16L) + col("c_custkey") % 6L * 16L).as("len"),
          (col("c_custkey") % 8192L).as("b"))
        .select(col("net_id"), col("segment"), col("len"),
          hiOf(col("b")).as("nhi"), loOf(col("b")).as("nlo"))
      val phi = lens.foldLeft(lit(null).cast("long")) { (acc, l) =>
        when(col("len") === l.toLong,
          if (l <= 64) shiftrightunsigned(col("nhi"), 64 - l)
          else col("nhi")).otherwise(acc)
      }
      val plo = lens.foldLeft(lit(null).cast("long")) { (acc, l) =>
        when(col("len") === l.toLong,
          if (l <= 64) lit(0L)
          else shiftrightunsigned(col("nlo"), 128 - l)).otherwise(acc)
      }
      // struct-min pick (see q243): unique non-null net_id, no window
      val nets = netsRaw.withColumn("phi", phi).withColumn("plo", plo)
        .groupBy(col("len"), col("phi"), col("plo"))
        .agg(min(struct(col("net_id"), col("segment"))).as("__pick"))
        .select(col("len"), col("phi"), col("plo"),
          col("__pick.net_id").as("net_id"),
          col("__pick.segment").as("segment"))
      ext.Net.longestPrefixJoin6(ips, "id", "hi", "lo",
          nets, "len", "phi", "plo", lens = lens)
        .groupBy(coalesce(col("matched_len"), lit(-1L)).as("matched_len"),
          coalesce(col("segment"), lit("(none)")).as("segment"))
        .agg(count(lit(1)).as("n_ips"),
          sum(coalesce(col("net_id"), lit(0L))).as("sum_net"))
        .orderBy("matched_len", "segment")
    }),

    // ext layout — zone-map pruning audit: per-month zone stats over
    // the order-date column, three literal day-range predicates
    // (mid-range, narrow, before-the-data), and the SOUNDNESS theorem
    // replayed as data: a pruned zone contributes ZERO matching rows
    // (`leaked_rows` must be 0), while `scan_bound` prices what a
    // stats-pruned scan would actually read.
    "q248_zonemap_prune" -> ((s, dir) => {
      val preds = Seq((1L, 9100L, 9500L), (2L, 10000L, 10031L),
        (3L, 0L, 100L))
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .select(date_format(col("o_orderdate"), "yyyyMM").as("zone"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
      val zones = ext.Layout.zoneMapStats(o, col("zone"), "day")
      val pruned = ext.Layout.zoneMapPrune(zones, preds)
      val perPred = pruned.groupBy(col("pred_id"))
        .agg(count(lit(1)).as("n_zones"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_pruned"),
          sum(when(col("kept"), col("n_rows")).otherwise(0L))
            .as("scan_bound"))
      val predArr = array(preds.map { case (id, lo, hi) =>
        struct(lit(id).as("pred_id"), lit(lo).as("lo"), lit(hi).as("hi"))
      }: _*)
      val exact = o.select(col("day"), explode(predArr).as("__p"))
        .groupBy(col("__p.pred_id").as("pred_id"))
        .agg(sum(when(col("day") >= col("__p.lo") &&
          col("day") <= col("__p.hi"), 1L).otherwise(0L)).as("exact_rows"))
      val lo = preds.foldLeft(lit(null).cast("long")) { (acc, p) =>
        when(col("pred_id") === p._1, p._2).otherwise(acc) }
      val hi = preds.foldLeft(lit(null).cast("long")) { (acc, p) =>
        when(col("pred_id") === p._1, p._3).otherwise(acc) }
      val leaked = o
        .join(pruned.filter(!col("kept")).select(col("pred_id"),
          col("zone")), Seq("zone"))
        .filter(col("day") >= lo && col("day") <= hi)
        .groupBy(col("pred_id"))
        .agg(count(lit(1)).as("leaked_rows"))
      perPred.join(exact, Seq("pred_id"))
        .join(leaked, Seq("pred_id"), "left")
        .select(col("pred_id"), col("n_zones"), col("n_pruned"),
          col("scan_bound"), col("exact_rows"),
          coalesce(col("leaked_rows"), lit(0L)).as("leaked_rows"))
        .orderBy("pred_id")
    }),

    // ext layout — consistent-hash resharding audit: order keys on an
    // 8-shard ring vs the same ring grown to 9, against the md5-mod
    // baseline. The Karger theorem replays as data: ring movement
    // ≈ 1/9 and EVERY moved key targets the added shard
    // (moved_wrong = 0), while mod-n moves ≈ 8/9; ring balance rides
    // along. Assignment is a pure codegen'd literal-array walk — no
    // join, no shuffle.
    "q255_consistent_hash" -> ((s, dir) => {
      val a = tbl(s, dir, "orders")
        .filter(col("o_orderkey").isNotNull)
        .select(concat(lit("o"), col("o_orderkey").cast("string")).as("k"))
        .select(col("k"),
          ext.Ring.consistentShard(col("k"), 8).as("s8"),
          ext.Ring.consistentShard(col("k"), 9).as("s9"),
          conv(substring(md5(col("k")), 1, 12), 16, 10).cast("long")
            .as("__h"))
        .withColumn("m8", pmod(col("__h"), lit(8L)))
        .withColumn("m9", pmod(col("__h"), lit(9L)))
      val loads = a.groupBy(col("s8"))
        .agg(count(lit(1)).as("__load"))
        .agg(max(col("__load")).as("max_load8"),
          min(col("__load")).as("min_load8"))
      val mv = a.agg(count(lit(1)).as("n_keys"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
          .as("moved_ring"),
        sum(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1L)
          .otherwise(0L)).as("moved_wrong"),
        sum(when(col("m8") =!= col("m9"), 1L).otherwise(0L))
          .as("moved_mod"))
      mv.crossJoin(broadcast(loads))
    }),
  )

  /** IPv6 LPM replay (q258): the same positive-halves address
    * synthesis (all BIGINT products < 2^63, no sign bit anywhere), the
    * per-length prefix as integer division by a LITERAL power of two
    * (matching `shiftrightunsigned` on non-negative longs bit for
    * bit), most-specific pick and tie-break replayed with the window's
    * exact ordering. `def` (not `val`): object-init order safety for
    * a member referenced from `oracleSql` below.
    */
  private def Ipv6LpmOracle: String = {
    def hiOf(b: String) =
      s"($b*2654435761) % 2147483648 * 4294967296 + ($b*1099087573) % 4294967296"
    def loOf(b: String) =
      s"($b*2246822519) % 2147483648 * 4294967296 + ($b*3266489917) % 4294967296"
    def phiOf(hi: String, len: String) =
      s"""CASE $len WHEN 16 THEN $hi // 281474976710656
         |      WHEN 32 THEN $hi // 4294967296
         |      WHEN 48 THEN $hi // 65536 ELSE $hi END""".stripMargin
    def ploOf(lo: String, len: String) =
      s"""CASE WHEN $len <= 64 THEN 0
         |      WHEN $len = 80 THEN $lo // 281474976710656
         |      ELSE $lo // 4294967296 END""".stripMargin
    s"""WITH ips AS (
       |  SELECT o_orderkey AS id, o_orderkey % 8192 AS b
       |  FROM orders WHERE o_orderkey IS NOT NULL),
       |a AS (
       |  SELECT id, ${hiOf("b")} AS hi, ${loOf("b")} AS lo FROM ips),
       |nets0 AS (
       |  SELECT c_custkey AS net_id, c_mktsegment AS segment,
       |    16 + (c_custkey % 6) * 16 AS len, c_custkey % 8192 AS b
       |  FROM customer WHERE c_custkey IS NOT NULL),
       |netsa AS (
       |  SELECT net_id, segment, len,
       |    ${hiOf("b")} AS nhi, ${loOf("b")} AS nlo
       |  FROM nets0),
       |nets AS (
       |  SELECT len, ${phiOf("nhi", "len")} AS phi,
       |    ${ploOf("nlo", "len")} AS plo, net_id, segment
       |  FROM netsa
       |  QUALIFY row_number() OVER (PARTITION BY len, phi, plo
       |    ORDER BY net_id) = 1),
       |best AS (
       |  SELECT a.id, n.len, n.net_id, n.segment
       |  FROM a JOIN nets n
       |    ON (${phiOf("a.hi", "n.len")}) = n.phi
       |   AND (${ploOf("a.lo", "n.len")}) = n.plo
       |  QUALIFY row_number() OVER (PARTITION BY a.id
       |    ORDER BY n.len DESC, n.net_id ASC, n.segment ASC) = 1)
       |SELECT coalesce(b.len, -1) AS matched_len,
       |  coalesce(b.segment, '(none)') AS segment,
       |  CAST(count(*) AS BIGINT) AS n_ips,
       |  CAST(sum(coalesce(b.net_id, 0)) AS BIGINT) AS sum_net
       |FROM a LEFT JOIN best b USING (id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    "q258_ipv6_lpm" -> Ipv6LpmOracle,

    // greedy prefix under a running-sum window: the two-phase bucket
    // form is exactly the single window over (md5(doc_id), doc_id)
    "q108_token_budget" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |    AND n_chars IS NOT NULL AND n_chars >= 0)
        |WHERE cum <= 15000
        |ORDER BY doc_id""".stripMargin,

    // longest-first fill to per-language budgets; ties on n_chars break
    // by (md5(doc_id), doc_id) — the engine's exact fine order
    "q109_token_budget_quality" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IN ('en', 'zh', 'de')
        |    AND n_chars IS NOT NULL AND n_chars >= 0)
        |WHERE cum <= CASE lang WHEN 'en' THEN 25000
        |                       WHEN 'zh' THEN 10000 ELSE 8000 END
        |ORDER BY doc_id""".stripMargin,

    // morton interleave written as shift/mask arithmetic (4 bits/dim,
    // dim 0 = user_id at even bit positions, dim 1 = value at odd)
    "q63_zorder_cells" ->
      """WITH b AS (
        |  SELECT event_id, user_id, value,
        |    ntile(16) OVER (ORDER BY user_id, event_id) - 1 AS bu,
        |    ntile(16) OVER (ORDER BY value, event_id) - 1 AS bv
        |  FROM events),
        |z AS (
        |  SELECT user_id, value, CAST(
        |      ((bu & 1) * 1) + (((bu >> 1) & 1) * 4)
        |    + (((bu >> 2) & 1) * 16) + (((bu >> 3) & 1) * 64)
        |    + ((bv & 1) * 2) + (((bv >> 1) & 1) * 8)
        |    + (((bv >> 2) & 1) * 32) + (((bv >> 3) & 1) * 128) AS BIGINT) AS zval
        |  FROM b)
        |SELECT zval, CAST(count(*) AS BIGINT) AS n,
        |  min(user_id) AS min_u, max(user_id) AS max_u,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM z
        |GROUP BY zval
        |ORDER BY zval""".stripMargin,

    // value-level roundtrip check of the bloom-enabled write
    "q188_bloom_layout" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE doc_id % 37 = 1
        |ORDER BY doc_id""".stripMargin,

    // deterministic layout (one file per l_returnflag, one row group per
    // file at gate scale) makes the parquet FOOTERS data-derivable: the
    // expected (n_rows, min, max) per group is a plain aggregate
    "q226_layout_audit" ->
      """SELECT l_returnflag, 0 AS row_group,
        |  count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey,
        |  max(l_orderkey) AS max_orderkey
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1, 2""".stripMargin,

    "q237_compaction_plan" ->
      """WITH files AS (
        |  SELECT part, 'f' || lpad(CAST(bkt AS VARCHAR), 3, '0') AS file,
        |    CAST(sum(q) * 1000 AS BIGINT) AS bytes
        |  FROM (SELECT l_returnflag AS part,
        |          CAST(l_orderkey % 20 AS INT) AS bkt,
        |          CAST(l_quantity AS BIGINT) AS q
        |        FROM lineitem) t
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT part, file, bytes,
        |    sum(bytes) OVER (PARTITION BY part ORDER BY file
        |      ROWS UNBOUNDED PRECEDING) AS c
        |  FROM files),
        |g AS (
        |  SELECT part, file, bytes,
        |    CAST((c - bytes) // 100000000 AS INT) AS grp
        |  FROM cum)
        |SELECT part, grp,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(file) AS first_file, max(file) AS last_file,
        |  (count(*) > 1) AS rewrite
        |FROM g
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q243_ip_cidr_lookup" -> CidrOracle,

    "q248_zonemap_prune" -> ZoneMapOracle,

    "q255_consistent_hash" -> RingOracle,
  )
}
