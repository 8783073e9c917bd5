package graft

import org.apache.spark.sql.functions._

/** PlanGuard-adjacent: the `shuffle_hash` hints this library pins on
  * wide-row verify joins (Dedup.containmentPairs / ngramJaccardPairs /
  * stripDuplicateSpans / stripBoilerplate / keepFirstOccurrences —
  * the q79 lesson) must NOT mask AQE's skew-join splitting, the
  * runtime defense when one key is hot (one document with a huge
  * candidate list — the 100 TB failure mode). This spec proves, under
  * a deliberately skewed fixture with production-default semantics
  * (only the skew THRESHOLDS are lowered so a test-sized shuffle
  * qualifies), that Spark's OptimizeSkewedJoin still splits the hot
  * partition of a hint-pinned ShuffledHashJoin exactly as it does for
  * sort-merge.
  */
class AqeSkewSpec extends SparkTestBase {

  /** Hot key 0 on 80% of 200k fat-payload rows — one shuffle partition
    * dwarfs the rest. The skewed side is the LEFT (stream) side and the
    * hint pins the RIGHT (build) side, exactly the Dedup sweep shape.
    */
  private def skewedSides = {
    val big = spark.range(0, 200000).select(
      when(col("id") % 5 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
      concat(lit("x" * 200), col("id").cast("string")).as("payload"))
    val small = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    (big, small)
  }

  private def assertSkewSplit(joinType: String, expectRows: Long): Unit =
    withConf(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (big, small) = skewedSides
      val j = big.join(small.hint("shuffle_hash"), Seq("k"), joinType)
      assert(j.collect().length == expectRows)
      val plan = j.queryExecution.executedPlan.toString
        .split("\n").takeWhile(!_.contains("Initial Plan")).mkString("\n")
      assert(plan.contains("ShuffledHashJoin"),
        s"hint must pin the strategy ($joinType):\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE skew split must fire on the hinted $joinType join:\n$plan")
      assert(plan.contains("skewed"),
        s"the hot stream partition must be AQEShuffleRead-split " +
          s"($joinType):\n$plan")
    }

  test("AQE skew-split fires on a shuffle_hash-hinted join") {
    // 160000 hot-key matches + 200 long-tail matches
    assertSkewSplit("inner", 160200L)
  }

  test("AQE skew-split fires on the hinted LEFT OUTER shape " +
      "(stripDuplicateSpans / keepFirstOccurrences)") {
    // every left row survives: 160000 hot matches + 200 tail matches +
    // 39800 unmatched tails — splitting the skewed LEFT side of a left
    // join is duplication-safe (only the build side replicates), and
    // OptimizeSkewedJoin must still take it on the hinted SHJ
    assertSkewSplit("left", 200000L)
  }

  test("AQE skew-split fires on the hinted LEFT ANTI shape " +
      "(stripBoilerplate)") {
    // anti keeps only unmatched left rows (ids % 5 == 0 outside the
    // build key range): the hot partition still has to be read and
    // probed, so the split matters exactly as much as for outer —
    // boilerplate-heavy corpora make the paragraph hash hot by
    // construction
    assertSkewSplit("left_anti", 39800L)
  }
}
