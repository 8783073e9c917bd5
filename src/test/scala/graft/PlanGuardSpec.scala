package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.plans.PlanCapture

/** Scale-safety net over the gate surface: EVERY SparkEntry query is
  * planned against sf0.001 and its physical plan asserted free of
  * `CartesianProduct` — the operator class that silently turns a working
  * sf0.01 query into an n² job at 100 TB. Broadcast nested-loop joins are
  * tolerated only when the broadcast side is a global (no grouping keys)
  * aggregate — the one-row corpus-stats pattern
  * (`crossJoin(broadcast(stats))`), constant-size and scale-safe — or in
  * the explicitly allow-listed ANN queries whose broadcast side is a
  * tiny-by-construction query/centroid set. Anything else nested-loop
  * fails the suite.
  *
  * Checkpoint blind spot (closed in round 4): operators that truncate
  * lineage with lazy local checkpoints (connected components, bm25,
  * cooccurrence, containment, incremental dedup, curation) hide their
  * upstream stages from a plan assertion on the final frame. Every such
  * cut now routes through `PlanCapture.cut`, and this suite installs the
  * thread-local plan tap while CONSTRUCTING each query, so the pre-cut
  * physical plan of every truncated stage is asserted too — 79/79
  * queries, zero exclusions. (Construction of the two eagerly-iterating
  * CC queries executes at sf0.001 inside this suite; that is the price of
  * seeing their per-round plans, and it is small at that scale.)
  *
  * This is a regression GUARD, not a style check: a refactor that drops a
  * join key, or a rewrite that stops being recognized as an equi-join,
  * fails here before it reaches a cluster.
  */
class PlanGuardSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // queries whose algorithm intentionally broadcasts a non-single-row side
  // (tiny-by-construction: ANN query sets, IVF centroid tables, q39's
  // source-level sketch matrix — pairwise over #GROUPS, the whole point of
  // collapsing documents into group sketches first — q195's anchor
  // batch, small by the contrastive-training contract, and q227/q228's
  // retrieval-eval query sets through the same sanctioned
  // Similarity.bruteForceTopK[Dot] broadcast-query-set shape as q15)
  private val allowedBroadcastNl = Set(
    "q15_ann_bruteforce", "q14_dedup_embedding", "q16_ann_lsh", "q28_ann_ivf",
    "q39_group_sketch", "q80_ann_pq", "q195_hard_negatives",
    "q227_rrf_fusion", "q228_rank_eval", "q229_graded_ndcg",
    "q230_mrr_map", "q232_mmr_rerank",
    // q263 composes the q15 brute-force ground truth (the sanctioned
    // broadcast-queries × corpus scoring join) with the q28 IVF path;
    // q272 runs the same two chains twice (drifted index vs rebuilt)
    "q263_ann_recall", "q272_ivf_rebuild",
    // q259/q260/q264: tdigestQuantiles' rank-band containment join — a
    // literal |qs|-row frame against a digest-sized frame (≤ δ+1 rows,
    // or groups·(δ+1) for the per-group form — bounded by
    // construction; SingleTaskRegistrySpec asserts the digest bound)
    "q259_tdigest_quantiles", "q260_stream_tdigest",
    "q264_tdigest_by_group", "q265_tdigest_weighted",
    "q266_tdigest_group_merge", "q267_stream_tdigest_group",
    "q274_stream_tdigest_window", "q277_stream_tdigest_group_window")

  private def assertScaleSafe(name: String, where: String, plan: SparkPlan): Unit = {
    val cartesians = plan.collect { case c: CartesianProductExec => c }
    assert(cartesians.isEmpty,
      s"$name plans a CartesianProduct ($where) — an unkeyed join leaked in:\n$plan")

    // no WindowExec may run with an EMPTY partition spec: a bare
    // Window.orderBy moves the whole input to one task. Frames that are
    // bounded by construction (score buckets, vocabularies, per-domain
    // budgets) declare it with a constant partition key instead — same
    // plan, but the bound is stated and THIS guard stays meaningful.
    val unpartitioned = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(unpartitioned.isEmpty,
      s"$name plans an unpartitioned window ($where) — single-task sort of " +
        s"the whole input; partition it (or state a bounded frame with a " +
        s"constant key):\n$plan")

    if (!allowedBroadcastNl(name)) {
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        val bcastSide = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        val isGlobalAggregate = bcastSide.find {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }.isDefined
        assert(isGlobalAggregate,
          s"$name broadcasts a non-constant side through a nested-loop join ($where):\n$plan")
      }
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: no cartesian product; nested-loop only where intended") {
      // capture every pre-checkpoint stage plan during construction, then
      // the final frame's own chosen plan (sparkPlan = pre-AQE-wrapping:
      // traversable, and what AQE starts from). The gate's stores go under
      // the run's scratch root, deleted once its plans are checked.
      var root: Option[java.nio.file.Path] = None
      gates.Support.withScratch {
        val (df, cutPlans) = PlanCapture.capturing { fn(spark, dir) }
        cutPlans.zipWithIndex.foreach { case (p, i) =>
          assertScaleSafe(name, s"pre-checkpoint stage $i", p)
        }
        assertScaleSafe(name, "final plan", df.queryExecution.sparkPlan)
        root = gates.Support.scratchRoot
      }
      assert(root.forall(r => !java.nio.file.Files.exists(r)), s"$root left behind")
      assert(gates.Support.scratchRoot.isEmpty)
    }
  }

  test("the tap sees an injected cartesian hidden behind a checkpoint cut") {
    // canary: proves the guard would catch a future unkeyed join even when
    // a localCheckpoint truncates it out of the final frame's plan
    val a = spark.range(8).toDF("a")
    val b = spark.range(8).toDF("b")
    // broadcast off so the cross join plans as CartesianProduct (tiny
    // sides would otherwise pick broadcast-nested-loop and dodge the
    // exact operator class the guard hunts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (cutFrame, plans) =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        PlanCapture.capturing {
          PlanCapture.cut(a.crossJoin(b)).groupBy("a").count()
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the final frame's own plan no longer shows the cartesian...
    assert(cutFrame.queryExecution.sparkPlan
      .collect { case c: CartesianProductExec => c }.isEmpty)
    // ...but the tap recorded the pre-cut stage that does
    assert(plans.exists(
      _.collect { case c: CartesianProductExec => c }.nonEmpty),
      "PlanCapture tap failed to record the pre-cut cartesian stage")
  }
}
