package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous novelty screening over a [[CellSketch.Bloom]] maintainer
  * — "have we fetched this URL / seen this doc hash before?" — where a
  * CMS answers "how often" and this answers "ever?" with the
  * no-false-negative contract: an item reported NOVEL truly is (its
  * bits were not all set by batches before it); false "seen" verdicts
  * only ever cost a recheck, never a loss. State is ≤ `mBits` distinct
  * bit rows however many items stream by.
  */
object StreamingBloom {

  /** Batch replay — the oracle-gateable twin: for each batch IN ORDER,
    * screen its distinct items against the filter accumulated from the
    * batches BEFORE it, then fold the batch in; returns one row per
    * batch `(batch_id, n_items, n_novel)`. Novelty against
    * prior-batches-only is replayable in SQL (a bit's first-appearance
    * batch decides every later probe), which is how the gate oracle
    * checks both the screen and the accumulation order.
    */
  def byBatch(spark: SparkSession, batches: Seq[DataFrame],
              storePath: String, itemCol: String,
              mBits: Int): DataFrame =
    // a replay never folds, so read(u − 1) is the filter before batch
    // u − 1: the screen never sees the batch it is screening
    CellSketchMaintainer.replay(spark, batches, storePath,
        CellSketch.Bloom(itemCol, mBits))
      .states((m, u) => m.sketch.contains(m.read(u - 1),
          batches((u - 1).toInt))
        .agg(count(lit(1)).as("n_items"),
          sum(when(!col("maybe"), 1L).otherwise(0L)).as("n_novel")))
}
