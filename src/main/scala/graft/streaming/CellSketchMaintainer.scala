package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Continuous accumulation of one mergeable [[CellSketch]] (HLL, HDR,
  * CMS, Bloom) with state bounded by the sketch, not by the stream:
  * each batch appends its OWN sketch as cells to one [[KeyedBatchStore]]
  * LSM, and compaction folds them exactly as the sketch merges, so the
  * accumulated state equals the one-shot sketch of the concatenated
  * stream and inherits retry-idempotence (a replayed batch overwrites
  * its own delta) and restart recovery (state lives on disk).
  *
  * Cell key: `[batch:]fields[:grp]`, joined by `:`.
  *  - `windowed` (always, for a sketch that is `alwaysTagged`) leads
  *    with the batch id, zero-padded to 9 digits so
  *    string order follows numeric order: reads over `[fromBatch,
  *    uptoBatch)` fold only the batches in range, and decayed reads
  *    weight counts by age. Counters could subtract, but subtraction
  *    needs every retired batch replayed exactly once — the same
  *    bookkeeping as keeping per-batch rows, with none of the decay
  *    reads.
  *  - `groupCol` keeps one sketch per group value, placed LAST: a group
  *    value may itself contain `:`, and a limit split recovers only the
  *    tail field intact.
  *  - A key of one field and no tag or group is stored as that field's
  *    own BIGINT column.
  *
  * `keepBatches > 0` (windowed only) drops cells tagged older than
  * `latestCompactedUpTo − keepBatches` at each fold, so state is ≤
  * (keepBatches + compactEvery) batches of cells instead of growing
  * with stream lifetime. Set it to the widest window any reader asks
  * for; a read reaching evicted batches fails loud.
  */
final class CellSketchMaintainer[S <: CellSketch](
    spark: SparkSession, storePath: String, val sketch: S,
    groupCol: Option[String] = None, windowed: Boolean = false,
    keepBatches: Int = 0, compactEvery: Int = 8) {
  require(keepBatches >= 0, s"keepBatches must be >= 0, got $keepBatches")
  private val tagged = windowed || sketch.alwaysTagged
  require(keepBatches == 0 || tagged,
    "keepBatches retention only applies to a windowed store (a " +
      "cumulative store folds every batch into one sketch — there is " +
      "nothing batch-tagged to expire)")

  private val keyParts =
    (if (tagged) 1 else 0) + sketch.fields.size + groupCol.size
  private val (keyCol, keyType) =
    if (keyParts == 1) sketch.fields.head else "cell" -> "STRING"
  private val countCol = if (sketch.counted) Some("cnt") else None

  private def tag(batchId: Column): Column =
    lpad(batchId.cast("string"), 9, "0")
  private val cellTag = substring_index(col("cell"), ":", 1)

  // numBuckets = 1: a sketch is a few thousand rows per batch at most,
  // one bucket keeps each version a single small file
  private val store = new KeyedBatchStore(spark, storePath, keyCol,
    keyType, compactEvery, numBuckets = 1, countCol = countCol,
    retainAtCompact =
      if (keepBatches == 0) None
      else Some(upTo =>
        cellTag >= tag(lit(math.max(0L, upTo - keepBatches)))))

  /** Batches strictly below this id may have been evicted by retention:
    * everything at or above `latestCompactedUpTo − keepBatches` is still
    * stored (eviction only happens at a fold). Derived from the on-disk
    * compaction frontier, so it holds across restarts.
    */
  def evictedBefore(): Long =
    if (keepBatches == 0) 0L
    else store.latestCompactedUpTo()
      .map(u => math.max(0L, u - keepBatches)).getOrElse(0L)

  /** Append one batch's own sketch. A batch id below one already stored
    * fails fast: a stream restarted without its checkpoint would
    * overwrite the old batch's cells, double-count sum-merged ones after
    * it and interleave under old tags. A retry of the latest id
    * overwrites its own delta.
    */
  def update(batch: DataFrame, batchId: Long): Unit = synchronized {
    store.requireNoRegression(batchId)
    store.maybeCompact(batchId)
    val cells = sketch.summarize(batch, groupCol)
    val key =
      if (keyParts == 1) col(keyCol)
      else concat_ws(":",
        (if (tagged) Seq(tag(lit(batchId))) else Nil) ++
          sketch.fields.map(f => col(f._1)) ++
          groupCol.map(_ => col("grp")): _*).as("cell")
    store.append(cells.select(key +: countCol.map(col).toSeq: _*), batchId)
  }

  /** The sketch folded over the stored batches below `uptoBatch`:
    * every batch, or with `fromBatch` only `[fromBatch, uptoBatch)`.
    * `halfLifeBatches` scales each batch's counts by `2^(maxShift −
    * age/halfLife)`, age = uptoBatch − 1 − batch: every half-life of age
    * halves a batch's weight relative to the newest. The factors are
    * exact powers of two, so decayed reads replay bit-for-bit. Window
    * and decay need a windowed maintainer, decay a counted sketch. The
    * result carries `grp` first exactly when the maintainer is grouped.
    */
  def read(uptoBatch: Long, fromBatch: Option[Long] = None,
           halfLifeBatches: Option[Int] = None): DataFrame = {
    require(tagged || (fromBatch.isEmpty && halfLifeBatches.isEmpty),
      "windowed/decayed reads need a windowed store " +
        "(CellSketchMaintainer(windowed = true))")
    val from = fromBatch.getOrElse(0L)
    // full coverage or fail: a read that silently lost its oldest
    // batches to retention would answer a different question
    if (keepBatches > 0) {
      val horizon = evictedBefore()
      require(from >= horizon,
        s"read [$from, $uptoBatch) reaches batches evicted by " +
          s"retention (< $horizon) — raise keepBatches or start the " +
          "read at fromBatch >= " + horizon)
    }
    val weight = halfLifeBatches.map { h =>
      require(sketch.counted, "decayed reads need a counted sketch")
      decay(uptoBatch, from, h)
    }
    val stored = store.parts(uptoBatch).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(
          (s"$keyCol $keyType" +: countCol.map(_ + " BIGINT").toSeq)
            .mkString(", "))))
    val grp = groupCol.map(_ => col("grp")).toSeq
    val cells =
      if (keyParts == 1) stored
      else {
        // no filter from batch 0: a window read from 0 then plans like
        // the cumulative read, and a query holding both reuses its scan
        val ranged =
          if (from == 0L) stored else stored.filter(cellTag >= tag(lit(from)))
        val weighted = weight.fold(ranged)(f =>
          ranged.withColumn("cnt", col("cnt") * f(cellTag.cast("long"))))
        val first = if (tagged) 1 else 0
        weighted.select(
          groupCol.map(_ => element_at(split(col("cell"), ":", keyParts),
            keyParts).as("grp")).toSeq ++
          sketch.fields.zipWithIndex.map { case ((name, t), i) =>
            split(col("cell"), ":").getItem(first + i).cast(t).as(name)
          } ++ countCol.map(col): _*)
      }
    sketch.fold(cells, grp)
  }

  // 2^(maxShift − age/halfLife) per stored batch id; pow(2, s) is exact
  // in a double for s ≤ 52 and the cap keeps s ≤ 20 (shiftleft only
  // takes a literal bit count)
  private def decay(uptoBatch: Long, fromBatch: Long,
                    halfLifeBatches: Int): Column => Column = {
    require(halfLifeBatches >= 1,
      s"halfLifeBatches must be >= 1, got $halfLifeBatches")
    val maxShift = ((uptoBatch - 1 - fromBatch) / halfLifeBatches).toInt
    require(maxShift <= 20,
      s"decay span too wide: ${uptoBatch - fromBatch} batches at " +
        s"half-life $halfLifeBatches needs a 2^$maxShift count " +
        "factor — shrink the window (fromBatch) or raise the half-life")
    // the age division truncates non-negative smalls — floor semantics
    bid => pow(lit(2.0),
      (lit(maxShift) - ((lit(uptoBatch - 1) - bid) /
        lit(halfLifeBatches.toLong)).cast("int")).cast("double"))
      .cast("long")
  }

  /** foreachBatch adapter. */
  def asForeachBatch: (DataFrame, Long) => Unit =
    (batch, id) => update(batch, id)

  /** Attach this maintainer to a stream; `read` between or after
    * batches.
    */
  def start(stream: DataFrame, queryName: String = "graft-stream-sketch",
            checkpoint: Option[String] = None): StreamingQuery = {
    val writer = stream.writeStream
      .queryName(queryName)
      .foreachBatch(asForeachBatch)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }
}

object CellSketchMaintainer {

  /** Batch replay — the oracle-gateable twin of a stream: fold
    * `batches` in order (batch i under id i) into a fresh maintainer on
    * `storePath`, then report on the states it passed through.
    */
  def replay[S <: CellSketch](
      spark: SparkSession, batches: Seq[DataFrame], storePath: String,
      sketch: S, groupCol: Option[String] = None,
      windowed: Boolean = false): Replay[S] = {
    require(batches.nonEmpty, "replay needs at least one batch")
    // compactEvery past the batch count: the state reads are LAZY plans
    // over the delta files they list, so a fold (which deletes the
    // deltas it folded) must never run during a replay. With no fold,
    // the read of state i built after the last batch equals one built
    // right after batch i. State is ≤ batches × sketch rows, so an
    // unfolded replay is cheap; streams fold via the default.
    val m = new CellSketchMaintainer(spark, storePath, sketch, groupCol,
      windowed, compactEvery = batches.size + 1)
    batches.zipWithIndex.foreach { case (b, i) => m.update(b, i.toLong) }
    new Replay(m, batches.size)
  }

  /** A maintainer that has folded `batches` batches, never compacted. */
  final class Replay[S <: CellSketch](
      maintainer: CellSketchMaintainer[S], batches: Int) {

    /** `answer` over the whole run. */
    def whole(answer: (S, DataFrame) => DataFrame): DataFrame =
      answer(maintainer.sketch, maintainer.read(batches.toLong))

    /** `state(m, upto)` after every batch, `batch_id = upto − 1` first. */
    def states(state: (CellSketchMaintainer[S], Long) => DataFrame)
        : DataFrame =
      (1L to batches.toLong).map(u => batchId(u - 1, state(maintainer, u)))
        .reduce(_ unionByName _)

    /** `answer` over the last `window` batches after every batch (kind
      * `window`) and, with a half-life, over the decayed whole run
      * (kind `decay`, batch_id of the last batch); `kind` follows
      * `batch_id`.
      */
    def windows(window: Int, decayHalfLife: Option[Int] = None)(
        answer: (S, DataFrame) => DataFrame): DataFrame = {
      require(window >= 1, s"window must be >= 1, got $window")
      val n = batches.toLong
      val slides = states((m, u) => kind("window",
        answer(m.sketch, m.read(u, Some(math.max(0L, u - window))))))
      val decayed = decayHalfLife.map(h => batchId(n - 1,
        kind("decay", answer(maintainer.sketch,
          maintainer.read(n, halfLifeBatches = Some(h))))))
      (slides +: decayed.toSeq).reduce(_ unionByName _)
    }

    private def batchId(id: Long, df: DataFrame): DataFrame =
      df.select(lit(id).as("batch_id"), col("*"))

    private def kind(k: String, df: DataFrame): DataFrame =
      df.select(lit(k).as("kind"), col("*"))
  }
}
