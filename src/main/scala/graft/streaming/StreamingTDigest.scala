package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.TDigest

/** Continuous t-digest quantiles: cross-batch percentile tracking for
  * UNBOUNDED/REAL value domains with FIXED-SIZE state — the streaming
  * twin of [[graft.ext.TDigest]] and the real-domain complement to
  * [[CellSketch.Hdr]] (whose bucket histogram covers non-negative
  * integers only). State is ONE digest of ≤ δ+1 centroid rows no
  * matter how many values the stream ever carries; every read reports
  * the exact `[vmin, vmax]` bracket per quantile, and the bracket
  * SOUNDNESS (true running quantile inside it) survives any number of
  * batch merges because each merge re-widens brackets over the input
  * centroids' rank envelopes ([[TDigest.tdigestMerge]]) — sound even
  * when a batch overlaps the accumulated digest in value space, the
  * normal case for a drifting stream.
  *
  * Fold discipline: the accumulator is a STRICT LEFT FOLD —
  * `digest_i = merge(digest_{i-1}, summarize(batch_i))` — computed
  * eagerly at each batch and persisted as its own `digest_upto_<i+1>`
  * version. That makes the state after batch i a pure function of the
  * batch sequence (no compaction-schedule dependence — unlike a
  * merge-on-read store, where the merge TREE would shift with
  * compaction timing and change the exact centroid cuts), so the
  * DuckDB oracle replays the whole stream bit-for-bit by unrolling
  * the same fold. Unlike [[CellSketch.Hdr]]'s bucket store, the
  * accumulated digest is NOT equal to the one-shot digest of the
  * concatenated stream (rank re-clustering is lossy by design); the
  * contract that matters — and that the spec pins per batch — is the
  * bracket guarantee.
  *
  * Layout under `storePath`: `digest_upto_<n>/` — the folded digest of
  * batches < n, one tiny parquet (≤ δ+1 rows). A batch append
  * overwrites its own version directory and the fold is deterministic,
  * so foreachBatch retries rewrite identical bytes; restart recovery
  * reads the newest version on disk. Old versions are cleaned only
  * AFTER the new version commits (the [[VersionedDir]] discipline).
  */
object StreamingTDigest {

  /** Driver-held handle on the folding digest store.
    *
    * `shardCol` is the batch-side PARALLELISM CONTRACT (the
    * [[graft.ext.FreqSketch]] `mgSummarize` stance): the per-batch
    * summarize rank-windows WITHIN each shard, so a giant batch fans
    * out across its shard values instead of sorting on one task. Pick
    * a column that spreads the batch (day / source / bucket id); None
    * summarizes the batch as one shard — fine for the KB–MB micro-
    * batches streams usually carry, wrong for TB backfill batches.
    * The folded digest is shard-FREE either way (the merge re-cluster
    * unifies shards), and the fold stays a pure function of the data
    * because shard assignment only changes how per-batch work is
    * split, never the multiset the merge re-clusters — but centroid
    * CUTS do depend on it (different shard pre-compressions), so
    * replays must use the same shard column.
    *
    * `groupCol` makes the accumulator PER-GROUP (the q264/q266 batch
    * family's streaming member, completing the symmetry with the
    * global stream): state is ≤ δ+1 rows PER GROUP, the fold is
    * [[TDigest.tdigestMergeByGroup]] (group key preserved as `shard`
    * in the store), and `quantiles` answers one row per (group, q)
    * via [[TDigest.tdigestQuantilesByGroup]]. Exclusive with
    * `shardCol`: the group key is itself the per-batch parallelism
    * contract.
    */
  final class TDigestAccumulator(spark: SparkSession, storePath: String,
                                 valueCol: String,
                                 shardCol: Option[String] = None,
                                 delta: Int = 64,
                                 keepVersions: Int = 2,
                                 groupCol: Option[String] = None,
                                 keepBatches: Int = 0,
                                 keepCumulative: Boolean = true) {
    require(delta >= 1, s"delta must be >= 1, got $delta")
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(keepBatches >= 0, s"keepBatches must be >= 0, got $keepBatches")
    require(keepCumulative || keepBatches > 0,
      "an accumulator keeping neither the cumulative fold nor per-batch " +
        "digests stores nothing — set keepCumulative or keepBatches")
    require(groupCol.isEmpty || shardCol.isEmpty,
      "groupCol and shardCol are exclusive: with a group key the group " +
        "IS the per-batch parallelism contract (rank windows run within " +
        "each group), so a separate shard column has nothing to split")

    /** The folded digest's columns: declared for the global digest;
      * a grouped store's `shard` takes the group column's type, so its
      * schema is captured at the first fold instead (the empty frame
      * before it types `shard` as STRING).
      */
    private val digestSchema = org.apache.spark.sql.types.StructType.fromDDL(
      groupCol.map(_ => "shard STRING, ").getOrElse("") +
        "weight BIGINT, sumv DECIMAL(28,8), vmin DECIMAL(28,8), " +
        "vmax DECIMAL(28,8)")
    private val folds = new VersionedDir(spark, storePath, "digest_upto_",
      if (groupCol.isEmpty) Some(digestSchema) else None)
    private val batchDigests =
      new VersionedDir(spark, storePath, "batch_digest_")

    /** Fold one batch: `digest_{id+1} = merge(digest covering < id+1's
      * predecessor, summarize(batch))`. The predecessor is the newest
      * version ≤ id (a retried batch id thus re-folds from the SAME
      * input state it saw the first time and overwrites its own
      * version with identical bytes).
      */
    def update(batch: DataFrame, batchId: Long): Unit = synchronized {
      // fail fast on batch-id REGRESSION: folding through would write
      // digest_upto_<batchId+1> below the stale versions, retention
      // would immediately delete it, and digest() would silently keep
      // serving the stale state while every new fold is discarded
      VersionedDir.requireNoRegression(storePath,
        (folds.ids().map(_ - 1L) ++ batchDigests.ids()).reduceOption(_ max _),
        batchId)
      val sharded = (groupCol, shardCol) match {
        case (Some(g), _) => batch.select(col(g).as("__shard"),
          col(valueCol).as("__v"))
        case (None, Some(c)) => batch.select(col(c).as("__shard"),
          col(valueCol).as("__v"))
        case (None, None) => batch.select(lit(0L).as("__shard"),
          col(valueCol).as("__v"))
      }
      val summarized =
        TDigest.tdigestSummarize(sharded, "__v", "__shard", delta)
      // keepBatches > 0: persist the batch's OWN digest (the window/
      // decay read path) and fold from the WRITTEN file — the batch is
      // summarized once, not once per consumer
      val batchDigest =
        if (keepBatches > 0) {
          val own = summarized
            .select("shard", "weight", "sumv", "vmin", "vmax")
            // one file: the digest is ≤ shards·(δ+1) summary rows by
            // construction (bounded at any data scale), but summarize
            // leaves it on its post-window partitioning — written
            // as-is that is one near-empty parquet file PER SHUFFLE
            // PARTITION, and every windowed/decayed read re-pays the
            // open+footer cost per file (guide §6 small-files)
            .coalesce(1)
          batchDigests.write(own, batchId)
          batchDigests.read(batchId)
        } else summarized
      // keepCumulative = false (window/decay-only consumers): skip the
      // fold entirely — the per-batch digests ARE the state, and a
      // window reader shouldn't pay one merge re-cluster per batch for
      // a running digest it never reads
      if (keepCumulative) {
        val prior = folds.ids().filter(_ <= batchId).lastOption
          .map(folds.read)
        // ALWAYS through the merge re-cluster (even batch 0 / one
        // shard): the stored state is canonically <= delta+1 rows (per
        // group when grouped), and the fold is one re-cluster per
        // batch — the oracle's unroll unit. Grouped stores KEEP the
        // group key (named `shard`, the tdigestMergeByGroup
        // convention).
        val folded = groupCol match {
          case Some(_) =>
            TDigest.tdigestMergeByGroup(prior.toSeq :+ batchDigest, delta)
              .select("shard", "weight", "sumv", "vmin", "vmax")
          case None =>
            TDigest.tdigestMerge(prior.toSeq :+ batchDigest, delta)
              .select("weight", "sumv", "vmin", "vmax")
        }
        folds.write(folded.coalesce(1), batchId + 1)
        // keep the newest keepVersions folds
        folds.ids().takeRight(keepVersions).headOption
          .foreach(folds.deleteBelow)
      }
      if (keepBatches > 0) batchDigests.deleteBelow(batchId - keepBatches + 1)
    }

    /** The folded digest over batches < `uptoBatch` (newest version at
      * or below it): ≤ δ+1 rows `(weight, sumv, vmin, vmax)`.
      *
      * LAZY, like any parquet read: the frame scans its version file
      * when an action runs. Consume it before `keepVersions` further
      * updates delete that file, or construct the accumulator with a
      * larger `keepVersions` when holding reads across batches.
      */
    def digest(uptoBatch: Long): DataFrame = {
      require(keepCumulative,
        "window/decay-only accumulator (keepCumulative = false) keeps " +
          "no running digest — use quantilesWindow/quantilesDecayed")
      folds.ids().filter(_ <= uptoBatch).lastOption.map(folds.read)
        .getOrElse(spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          digestSchema))
    }

    /** Quantile reads with exact value brackets over the running
      * digest — per group (one row per (group, q)) when the
      * accumulator is grouped.
      */
    def quantiles(qs: Seq[Double], uptoBatch: Long): DataFrame =
      groupCol match {
        case Some(_) => TDigest.tdigestQuantilesByGroup(digest(uptoBatch), qs)
        case None => TDigest.tdigestQuantiles(digest(uptoBatch), qs)
      }

    /** Stored per-batch digests covering `[fromBatch, uptoBatch)`,
      * REQUIRING full coverage: a window that silently lost its oldest
      * member to retention would answer a different question than
      * asked. Windowed/decayed reads need `keepBatches` ≥ the widest
      * window ever read.
      */
    private def windowMembers(uptoBatch: Long,
                              fromBatch: Long): Seq[(Long, DataFrame)] = {
      require(keepBatches > 0,
        "windowed/decayed reads need keepBatches > 0 (per-batch digests " +
          "are not retained by default)")
      val want = fromBatch until uptoBatch
      require(want.nonEmpty, s"empty window [$fromBatch, $uptoBatch)")
      val have = batchDigests.ids()
        .filter(id => id >= fromBatch && id < uptoBatch)
      require(have == want,
        s"window [$fromBatch, $uptoBatch) not fully retained " +
          s"(have $have) — raise keepBatches")
      have.map(id => id -> batchDigests.read(id))
    }

    private def readMerged(members: Seq[DataFrame],
                           qs: Seq[Double]): DataFrame = groupCol match {
      case Some(_) => TDigest.tdigestQuantilesByGroup(
        TDigest.tdigestMergeByGroup(members, delta), qs)
      case None => TDigest.tdigestQuantiles(
        TDigest.tdigestMerge(members, delta), qs)
    }

    /** SLIDING-WINDOW quantiles — the last `uptoBatch − fromBatch`
      * batches only, with the same exact `[vmin, vmax]` brackets: ONE
      * widened re-cluster over the window's stored per-batch digests
      * (≤ window × shards × (δ+1) summary rows; the cumulative fold
      * cannot answer this because rank re-clustering is not
      * invertible — expiry needs the members kept, the
      * [[CellSketch.Hll]] windowed-read argument for quantiles).
      */
    def quantilesWindow(qs: Seq[Double], uptoBatch: Long,
                        fromBatch: Long = 0L): DataFrame =
      readMerged(windowMembers(uptoBatch, fromBatch).map(_._2), qs)

    /** DECAYED quantiles — recent batches count more: batch at age `a`
      * (newest = 0) carries its weights scaled by
      * `2^((span − a) / halfLifeBatches)` relative to the oldest, i.e.
      * each `halfLifeBatches` of age HALVES a value's multiplicity in
      * the merged multiset. Scaling is integer-exact (weights multiply
      * by powers of two; sums scale in the decimal carrier) so the
      * merge and its oracle replay bit-for-bit; quantiles answer over
      * the decay-weighted multiset with the usual exact brackets.
      * The span is capped (factor ≤ 2^10) to keep the scaled sums far
      * inside the DECIMAL(28,8) carrier.
      */
    def quantilesDecayed(qs: Seq[Double], uptoBatch: Long,
                         halfLifeBatches: Int,
                         fromBatch: Long = 0L): DataFrame = {
      require(halfLifeBatches >= 1,
        s"halfLifeBatches must be >= 1, got $halfLifeBatches")
      val maxShift = ((uptoBatch - 1 - fromBatch) /
        halfLifeBatches).toInt
      require(maxShift <= 10,
        s"decay span too wide: ${uptoBatch - fromBatch} batches at " +
          s"half-life $halfLifeBatches needs a 2^$maxShift weight " +
          "factor — shrink the window (fromBatch) or raise the half-life")
      val members = windowMembers(uptoBatch, fromBatch)
      val scaled = members.map { case (id, d) =>
        val shift = ((uptoBatch - 1 - id) / halfLifeBatches).toInt
        val f = 1L << (maxShift - shift)
        d.withColumn("weight", col("weight") * f)
          .withColumn("sumv", (col("sumv") * f).cast("decimal(28,8)"))
      }
      readMerged(scaled, qs)
    }

    /** foreachBatch adapter. */
    def asForeachBatch: (DataFrame, Long) => Unit =
      (batch, id) => update(batch, id)

    // ------------------------------------------------ replay-batched reads
    //
    // The byBatchWindow replay harness reports a windowed read after
    // EVERY batch plus one decayed read. Read as separate per-state
    // frames (the r14 shape), each state paid its own full
    // merge+quantile chain — windows, boundary explodes, aggregates,
    // the quantile band join: ~a dozen stages over ≤ inputs·(δ+1)
    // summary rows, stage-count-bound regardless of data size. The
    // method below answers ALL states in ONE group-keyed chain: member
    // digests union under a state key (composed with the group key when
    // grouped) and the EXISTING group-partitioned kernels
    // (tdigestMergeByGroup / tdigestQuantilesByGroup) produce per-state
    // results identical to the per-state chains — every window in the
    // kernel partitions by the full key, so each state's rows see
    // exactly the math they saw alone (spec-pinned equality; oracle
    // replays unchanged). Measured at sf0.1: q274 4.9 → 3.8 s,
    // q277 5.1 → 3.8 s. The same collapse applied to the CUMULATIVE
    // replay (byBatch) was measured SLOWER and reverted: its per-state
    // chains are merge-free and cheap, and independent subtrees
    // materialize their AQE stages in parallel while one chain runs
    // strictly serially.

    /** State key: the state id alone, or (state, group) packed in a
      * struct so the single `shard` column keys both dimensions.
      */
    private def stateKey(state: Long): Column = groupCol match {
      case Some(_) => struct(lit(state).as("s"), col("shard").as("g"))
      case None => lit(state)
    }

    /** Unpack the read kernel's `shard` key back into `state`
      * (+ `shard` for grouped stores), preserving the kernel's other
      * columns.
      */
    private def unpackState(read: DataFrame): DataFrame = {
      val rest = read.columns.filter(_ != "shard").map(col).toIndexedSeq
      groupCol match {
        case Some(_) => read.select(col("shard.s").as("state") +:
          col("shard.g").as("shard") +: rest: _*)
        case None => read.select(col("shard").as("state") +: rest: _*)
      }
    }

    /** Sliding-window quantiles after EVERY batch in [1, uptoBatch]
      * (state = batch id), plus — when `decayHalfLife` is set — ONE
      * decayed read over the whole run tagged `state = -1`, all in one
      * grouped merge + quantile chain. Retention coverage is checked
      * per state exactly as [[quantilesWindow]]/[[quantilesDecayed]]
      * require it.
      */
    def quantilesWindowAllStates(qs: Seq[Double], uptoBatch: Long,
                                 window: Int,
                                 decayHalfLife: Option[Int]): DataFrame = {
      require(keepBatches > 0,
        "windowed/decayed reads need keepBatches > 0 (per-batch digests " +
          "are not retained by default)")
      require(window >= 1, s"window must be >= 1, got $window")
      // r15 ADVICE: with uptoBatch = 0 both frame sequences are empty
      // and the reduce below would throw an opaque 'empty.reduceLeft' —
      // state the precondition instead (byBatchWindow guards via
      // batches.nonEmpty, but this entry point is public)
      require(uptoBatch >= 1,
        s"uptoBatch must be >= 1 (no batch states to read), got $uptoBatch")
      val have = batchDigests.ids().toSet
      def members(u: Long): Seq[Long] =
        (math.max(0L, u - window) until u).toSeq
      (1L to uptoBatch).foreach { u =>
        val want = members(u)
        require(want.forall(have.contains),
          s"window [${want.head}, $u) not fully retained " +
            s"(have ${have.toSeq.sorted}) — raise keepBatches")
      }
      val winFrames = for (u <- 1L to uptoBatch; j <- members(u)) yield
        batchDigests.read(j).select(stateKey(u - 1).as("shard"),
          col("weight"), col("sumv"), col("vmin"), col("vmax"))
      val decayFrames = decayHalfLife.toSeq.flatMap { h =>
        require(h >= 1, s"halfLifeBatches must be >= 1, got $h")
        val maxShift = ((uptoBatch - 1) / h).toInt
        require(maxShift <= 10,
          s"decay span too wide: $uptoBatch batches at half-life $h " +
            s"needs a 2^$maxShift weight factor — shrink the window " +
            "(fromBatch) or raise the half-life")
        (0L until uptoBatch).map { j =>
          require(have.contains(j),
            s"decay read needs batch $j retained (have " +
              s"${have.toSeq.sorted}) — raise keepBatches")
          val shift = ((uptoBatch - 1 - j) / h).toInt
          val f = 1L << (maxShift - shift)
          batchDigests.read(j).select(stateKey(-1L).as("shard"),
            (col("weight") * f).as("weight"),
            (col("sumv") * f).cast("decimal(28,8)").as("sumv"),
            col("vmin"), col("vmax"))
        }
      }
      val tagged = (winFrames ++ decayFrames).reduce(_ unionByName _)
      unpackState(TDigest.tdigestQuantilesByGroup(
        TDigest.tdigestMergeByGroup(Seq(tagged), delta), qs))
    }
  }

  /** Attach the accumulator to a stream; query `quantiles` between or
    * after batches.
    */
  def start(stream: DataFrame, storePath: String, valueCol: String,
            shardCol: Option[String] = None, delta: Int = 64,
            queryName: String = "graft-stream-tdigest",
            checkpoint: Option[String] = None,
            groupCol: Option[String] = None)
      : (StreamingQuery, TDigestAccumulator) = {
    val acc = new TDigestAccumulator(stream.sparkSession, storePath,
      valueCol, shardCol, delta, groupCol = groupCol)
    val writer = stream.writeStream
      .queryName(queryName)
      .foreachBatch(acc.asForeachBatch)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    (writer.start(), acc)
  }

  /** Batch replay — the oracle-gateable twin: fold `batches` in order,
    * reporting the RUNNING quantile brackets after each batch, so the
    * gate checks the fold at every step.
    */
  def byBatch(spark: SparkSession, batches: Seq[DataFrame],
              storePath: String, valueCol: String, qs: Seq[Double],
              shardCol: Option[String] = None,
              delta: Int = 64,
              groupCol: Option[String] = None): DataFrame = {
    require(batches.nonEmpty, "byBatch needs at least one batch")
    // keep EVERY version: the per-batch quantile frames are returned
    // lazily (they scan their own digest_upto_<i> file when the union
    // finally executes), so replay must not clean up versions a
    // returned frame still references. Cost: batches × (δ+1) rows on
    // disk. The live accumulator keeps its rolling-2 default — its
    // reads are consumed per batch.
    val acc = new TDigestAccumulator(spark, storePath, valueCol,
      shardCol, delta, keepVersions = batches.size + 1,
      groupCol = groupCol)
    val outCols = Seq("batch_id") ++ groupCol.map(_ => "shard").toSeq ++
      Seq("qi", "q", "n", "target_rank", "weight", "vmin", "vmax",
        "estimate")
    // per-state read chains KEPT for the cumulative replay (measured:
    // collapsing them into one grouped chain lost more to serializing
    // the stages — independent subtrees materialize AQE stages in
    // parallel — than the chain fusion saved; the windowed replay below
    // collapses 4 merge chains and does win, see byBatchWindow)
    batches.zipWithIndex.map { case (b, i) =>
      acc.update(b, i.toLong)
      acc.quantiles(qs, i.toLong + 1)
        .withColumn("batch_id", lit(i.toLong))
        .select(outCols.head, outCols.tail: _*)
    }.reduce(_ unionByName _)
  }

  /** Windowed/decayed batch replay — the oracle-gateable twin of
    * [[TDigestAccumulator.quantilesWindow]] / `quantilesDecayed`: fold
    * `batches` in order retaining every per-batch digest, report the
    * last-`window`-batches quantile brackets after each batch, and
    * (when `decayHalfLife` is set) one final decayed read over the
    * whole run — so the gate checks sliding expiry at every step plus
    * the generation-weighted merge.
    */
  def byBatchWindow(spark: SparkSession, batches: Seq[DataFrame],
                    storePath: String, valueCol: String, qs: Seq[Double],
                    window: Int,
                    shardCol: Option[String] = None,
                    delta: Int = 64,
                    decayHalfLife: Option[Int] = None,
                    groupCol: Option[String] = None): DataFrame = {
    require(batches.nonEmpty, "byBatchWindow needs at least one batch")
    require(window >= 1, s"window must be >= 1, got $window")
    val acc = new TDigestAccumulator(spark, storePath, valueCol,
      shardCol, delta, keepVersions = batches.size + 1,
      groupCol = groupCol, keepBatches = batches.size + 1,
      keepCumulative = false)
    val outCols = Seq("batch_id", "kind") ++
      groupCol.map(_ => "shard").toSeq ++
      Seq("qi", "q", "n", "target_rank", "weight", "vmin", "vmax",
        "estimate")
    batches.zipWithIndex.foreach { case (b, i) => acc.update(b, i.toLong) }
    // ONE grouped merge + quantile chain answers every per-batch window
    // state plus the final decayed read (state −1) — identical values
    // to per-state quantilesWindow/quantilesDecayed calls (see
    // quantilesWindowAllStates)
    acc.quantilesWindowAllStates(qs, batches.size.toLong, window,
        decayHalfLife)
      .withColumn("kind",
        when(col("state") < 0L, lit("decay")).otherwise(lit("window")))
      .withColumn("batch_id",
        when(col("state") < 0L, lit(batches.size.toLong - 1))
          .otherwise(col("state")))
      .select(outCols.head, outCols.tail: _*)
  }
}
