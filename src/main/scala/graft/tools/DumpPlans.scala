package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Regenerates the GENERATED half of docs/PLANS.md — formatted physical
  * plans of the headline queries with scale commentary. Run:
  * sbt 'runMain graft.tools.DumpPlans'.
  *
  * PLANS.md also carries HAND-WRITTEN adjudication sections appended
  * after the generated plans (bracketing runs, fork post-mortems, floor
  * adjudications — the round-over-round audit trail). Everything from
  * the first `## ` heading that is NOT one of the `picks` below is
  * preserved verbatim across regeneration; a plain overwrite here once
  * destroyed that history (caught and restored in r15).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val picks = Seq(
      "q02_filter_pushdown" -> "predicate + projection pushdown reach the parquet scan (PushedFilters, pruned ReadSchema), one WholeStageCodegen span",
      "q01_agg_pricing" -> "partial (map-side) HashAggregate before the single hash exchange; scan reads only the 6 needed columns of 11",
      "q06_join_star" -> "both dimension joins are BroadcastHashJoin (BuildRight) - the fact side never shuffles for the join",
      "q10_parse_logline" -> "ONE parse_access_log kernel call per line (the typed 19-column struct) feeding the 19 field extractions; both projections fused in one codegen stage",
      "q15_ann_bruteforce" -> "query side broadcast; corpus scanned once with no exchange before scoring; top-k via partial window",
      "q13_dedup_minhash" -> "LSH banding: shuffle carries only (id, band, band_hash); shingle arrays recomputed only for candidate ids (semi join)",
      "q07_topk" -> "global sort + limit becomes TakeOrderedAndProject - no full sort materialization",
      "q40_asof_join" -> "as-of join as union + running window: ZERO join operators, exactly one hashpartitioning exchange on the key",
      "q41_range_join" -> "interval join via day-bucket expansion: a hash EQUI-join on the bucket (broadcast here because the exploded interval side is small; shuffled hash at scale), never BroadcastNestedLoopJoin",
      "q67_merge_upsert" -> "CDC upsert: ONE left-anti join carries the whole merge; the small update batch broadcasts, so the base (big) side never shuffles",
      "q72_stratified_sample" -> "stratified hash sampling is a pure scan-side Filter - no Exchange anywhere in the plan; membership is a function of the row",
      "q66_profile" -> "exact k-distinct profile: Catalyst plans the k distinct aggregates as one Expand + two HashAggregates - ONE pass over the input; the approx variant drops the Expand entirely",
      "q71_funnel" -> "each funnel stage is a filtered min-aggregate joined to the (small) previous stage - AQE broadcasts every stage-to-stage join; no window over the raw event stream",
      "q80_ann_pq" -> "PQ ANN: ONE pq_encode plan node carries the whole codebook (reference object, not literal trees); corpus scanned once into (id, norm, codes); queries broadcast with ADC LUTs; raw vectors re-join only for the candidate pool",
      "q82_decontaminate" -> "benchmark decontamination: both sides reduce to distinct (id, gram) postings; the benchmark side is tiny so its postings broadcast - the corpus explodes but never shuffles before the final per-doc aggregate",
      "q96_bloom_prune_join" -> "Bloom join pruning: the build keys fold into a ONE-ROW bitset (global ObjectHashAggregate) broadcast over the probe; the probe-side membership test is codegen'd column arithmetic BEFORE the join exchange, so only matches + false positives shuffle",
      "q97_duplicate_spans" -> "substring-span dedup: (id, pos, gram) postings -> gram-keyed partial+final aggregate -> left-semi back onto postings; the interval-merge window is PARTITIONED BY doc_id - no global sort anywhere",
      "q99_semantic_join" -> "cross-table semantic join: both sides bucket per-row and meet in a shuffled EQUI-join on the LSH bucket (no broadcast requirement); per-query top-k is the bounded-heap TopKAgg partial aggregate - objHashAggregate with partial_topk, k-row buffers through the exchange",
      "q151_robots" -> "robots longest-match: URL/rule sides meet in a hash join on host (rules broadcast here - config-sized); the verdict is ONE partial+final max aggregate of the integer score, no window, no per-rule ordering",
      "q158_anchor_text" -> "anchor-text top terms: row-level terms collapse in a partial+final (dst, term) HashAggregate BEFORE the rank window - the window sorts the count frame (vocabulary x targets), never anchor rows",
      "q210_repetition_signals" -> "Gopher repetition signals: ONE repetition_stats kernel node in the scan projection computes all 15 masses per row - no explode, no Exchange before the final sort; the built-in formulation would shuffle ~9x the corpus token count",
      "q213_kmeans" -> "k-means assignment: ONE pq_encode kernel node against centroid literals - no join, no window; the corpus never shuffles for assignment (fit's per-round update is the skinny (cluster, dim) aggregate)",
      "q220_pack_concat" -> "concat-and-slice packing: doc start offsets via ONE per-shard running-sum window, then a per-(doc, window) slice explode - O(docs + windows) rows, never per token - into one (shard, window) HashAggregate with in-row offset-sorted assembly",
      "q207_quality_percentile" -> "two-phase score percentiles: per-distinct-score HashAggregate, coarse width_bucket carry frame (<= 1026 rows, constant-key window), fine running sum PARTITIONED BY bucket - no empty-partition WindowExec anywhere (PlanGuard-asserted)",
      "q227_rrf_fusion" -> "RRF fusion: two broadcast-query-set corpus scans (cosine + dot runs, the sanctioned q15 shape - corpus never shuffles), union -> ONE (query, doc) partial+final HashAggregate over <= sum-of-k rows with the duplicate-evidence raise_error guard fused into its output projection, then a per-query window over the fused frame",
      "q230_mrr_map" -> "MRR/MAP eval: retrieved list (|Q| x k rows) left-joins judgments on (query, doc); cumulative hits via a per-query FRAMED running-sum window (rows between unbounded preceding and current); metrics collapse in one per-query HashAggregate - nothing corpus-sized past the retriever scan",
      "q238_hdr_quantiles" -> "HDR quantiles: ONE map-side-combined bucket aggregate (comparison-ladder log2 in the scan projection) into the ~1.9k-row histogram; the quantile pick is a declared bounded-frame running sum (SingleTask.key partition spec) + a sanctioned broadcast of the quantile/global-count side - the corpus is touched exactly once",
      "q243_ip_cidr_lookup" -> "longest-prefix-match join: a constant 5-way literal-length explode in the probe projection (the PRESENT length set, map-side codegen'd shifts), the CIDR side broadcast into ONE hash EQUI-join on (len, prefix), most-specific pick as a partial+final struct-min SortAggregate (candidates collapse map-side before the exchange; r15 - was a per-probe row_number window shuffling every candidate) - no range join, no nested loop anywhere",
      "q244_count_sketch" -> "count sketch: ONE posexplode projection into a (j, bucket) partial+final HashAggregate - map-side combine caps every task's shuffle at depth x width rows regardless of corpus size; probe estimates broadcast-join the fixed signed grid and collapse in a bounded 5-element median aggregate"
    )
    val sb = new StringBuilder
    sb.append("# Physical plans of headline queries\n\n")
    sb.append("Generated by `.explain(\"formatted\")` at sf0.001 (shapes are\n")
    sb.append("scale-invariant). Regenerate: sbt 'runMain graft.tools.DumpPlans'.\n")
    for ((q, note) <- picks) {
      sb.append(s"\n## $q\n\n$note\n\n```\n")
      val full = SparkEntry.queries(q)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      // keep the tree + scan details; drop the long per-node attribute dumps
      val keep = full.split("\n\n").take(3).mkString("\n\n")
      sb.append(keep.split("\n").take(60).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    // preserve the hand-written adjudication tail, anchored by an
    // EXPLICIT marker (r15 ADVICE: inferring the tail as "first heading
    // not in the current pick set" glued a stale generated section onto
    // the output whenever a pick was renamed or removed, and a `## `
    // line inside a fenced plan block confused it the same way). The
    // legacy heading scan remains only as a one-time migration for a
    // file written before the marker existed.
    val out = Paths.get("docs/PLANS.md")
    val marker = "<!-- adjudications -->"
    val pickSet = picks.map(_._1).toSet
    val tail = if (Files.exists(out)) {
      val old = Files.readString(out)
      val at = old.indexOf(marker)
      if (at >= 0) old.substring(at)
      else "(?m)^## (.+)$".r.findAllMatchIn(old)
        .find(m => !pickSet.contains(m.group(1).trim))
        .map(m => marker + "\n\n" + old.substring(m.start))
        .getOrElse("")
    } else ""
    if (tail.nonEmpty) sb.append("\n").append(tail)
    Files.writeString(out, sb.toString)
    println(s"wrote docs/PLANS.md (preserved tail: ${tail.count(_ == '\n')} lines)")
    spark.stop()
  }
}
