package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/** Continuously-maintained IVF index — the streaming form of
  * [[graft.ext.Similarity.ivfAssign]]'s frozen-quantizer append (and
  * the similarity family's member of the streaming-accumulator suite:
  * StreamingHll / StreamingHdr / StreamingTDigest): each micro-batch of
  * vectors is assigned to its Voronoi cell by one kernel scan and
  * written as its own postings delta; search probes everything ingested
  * so far. Nothing ever re-ASSIGNS, existing postings never move, and
  * because assignment is a pure per-row function of the FROZEN
  * centroids, the accumulated index equals the bulk index of the
  * concatenated batches byte for byte — which is exactly what lets the
  * DuckDB oracle replay every per-batch search state.
  *
  * Layout under `storePath`:
  *  - `centroids/`: the frozen coarse quantizer, written ONCE at
  *    construction (one tiny parquet of ≤ numCells rows) and RELOADED
  *    by any later accumulator attaching to the same store — restart
  *    recovery cannot silently re-sample a different quantizer.
  *  - `batch=<id>/`: per-batch postings deltas `(cell, neighbor_id,
  *    vec, vnorm, __batch_id)`. A retried batch overwrites its own
  *    directory with identical bytes (assignment is deterministic).
  *  - `gen=<lo>_<hi>/`: a compacted GENERATION — the postings of
  *    batches `[lo, hi)` folded into one segment (the
  *    [[VersionedDir]] fold discipline applied to an append-only
  *    store). Without compaction a long-running stream accumulates one
  *    parquet directory per micro-batch and `postings()` unions an
  *    unbounded plan fan-in; folding every `compactEvery` deltas keeps
  *    the read at O(batches / compactEvery) segments + < compactEvery
  *    pending deltas. Unlike the dedup stores nothing collapses at the
  *    fold (postings are append-only rows), so generations are
  *    SEGMENTED, not cumulative: each posting is written exactly twice
  *    (its delta, then one segment) instead of being rewritten on every
  *    fold — the cumulative `compacted_upto` shape would pay quadratic
  *    write volume on a store whose rows never merge away. Compaction
  *    is a pure rewrite of deterministic assignments, so the readable
  *    relation is byte-identical before and after; the stored
  *    `__batch_id` keeps every HISTORICAL prefix read
  *    (`postings(uptoBatch)`) exact even after its deltas fold into a
  *    straddling segment. Folded delta directories are deleted only
  *    AFTER the segment commits; readers ignore deltas already covered
  *    by a segment, so a crash mid-cleanup leaves a consistent store.
  *    A segment counts as COMMITTED only with its `_SUCCESS` marker
  *    (a crash mid-write leaves an unmarked partial dir that must not
  *    raise the covered frontier), and once more than `maxSegments`
  *    segments are live, adjacent pairs MERGE hierarchically
  *    (smallest-combined-BYTES first, so segments roughly double even
  *    under skewed batch sizes): reads stay O(maxSegments) scans and
  *    each posting is rewritten O(log batches) times over the stream's
  *    life.
  *
  * Drift watch: [[IvfAccumulator.cellStats]] exposes the per-cell
  * occupancy and the hottest-cell imbalance over everything ingested so
  * far — when the stream drifts away from the frozen centroids this
  * climbs, and past a policy threshold the index earns a rebuild
  * (re-sample centroids from recent data into a NEW storePath,
  * re-point readers).
  */
object StreamingIvf {

  final class IvfAccumulator(spark: SparkSession, storePath: String,
                             idCol: String, vecCol: String,
                             centroidsIn: Seq[(Long, Seq[Double])],
                             vecSqlType: String = "ARRAY<FLOAT>",
                             compactEvery: Int = 16,
                             maxSegments: Int = 8) {
    require(compactEvery >= 1,
      s"compactEvery must be >= 1, got $compactEvery")
    require(maxSegments >= 2,
      s"maxSegments must be >= 2, got $maxSegments")

    private def fs = new Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def genDir(lo: Long, hi: Long) = s"$storePath/gen=${lo}_$hi"
    private val centroidsDir = s"$storePath/centroids"
    // store-format version marker: present on every store written (or
    // attached) by code that enforces the `_SUCCESS` segment-commit
    // discipline. Its ABSENCE on an existing store means the segments
    // were committed by pre-marker code (possibly in a session with
    // committer success-markers disabled), so unmarked-but-committed
    // gen dirs must be backfilled at attach — NOT swept as crash
    // leftovers, which would silently delete folded postings.
    private val formatMarker = new Path(storePath, "_graft_ivf_v2")
    private val PostingCols =
      Seq(col("cell"), col("neighbor_id"), col("vec"), col("vnorm"))
    /** The stored postings row — what [[Similarity.ivfAssign]] emits
      * for `vecSqlType` vectors, plus the batch id. Every delta and
      * segment read passes it.
      */
    private val postingsSchema = org.apache.spark.sql.types.StructType
      .fromDDL("cell BIGINT, neighbor_id BIGINT, " +
        s"vec $vecSqlType, vnorm DOUBLE, __batch_id BIGINT")
    private val deltas =
      new VersionedDir(spark, storePath, "batch=", Some(postingsSchema))
    private def readSegments(spans: Seq[(Long, Long)]): Option[DataFrame] =
      if (spans.isEmpty) None
      else Some(spark.read.schema(postingsSchema)
        .parquet(spans.map { case (l, h) => genDir(l, h) }: _*))

    // Listing caches: committedSpans() costs one directory listing plus
    // one _SUCCESS existence probe PER gen dir, and a single search
    // walks it several times (coveredUpto → segments → postings). The
    // store mutates only through this accumulator (update/fold/merge/
    // sweep — single-writer by the batch-id regression contract), so
    // both listings are validated once per MUTATION, not per read: at
    // 100 TB against an object store this is the difference between
    // O(1) and O(segments) round-trips on every search. A second
    // accumulator attached to the same live path reads a consistent
    // snapshot but must re-attach to observe folds it didn't perform —
    // the same consume-before-the-writer-folds discipline lazy postings
    // frames already carry.
    @volatile private var committedCache: Seq[(Long, Long)] = null
    @volatile private var batchIdCache: Seq[Long] = null
    private def invalidateListings(): Unit = {
      committedCache = null
      batchIdCache = null
    }

    /** The frozen quantizer: persisted on first construction, reloaded
      * (and REQUIRED over `centroidsIn`) on every later attach.
      */
    val centroids: Seq[(Long, Seq[Double])] = {
      if (!fs.exists(new Path(centroidsDir))) {
        require(centroidsIn.nonEmpty,
          s"no centroids given and none stored at $centroidsDir — build " +
            "them once with Similarity.ivfCentroids(initialCorpus, ...)")
        import spark.implicits._
        centroidsIn.toDF("centroid_id", "cvec")
          .coalesce(1).write.mode("overwrite").parquet(centroidsDir)
        centroidsIn
      } else {
        val stored = spark.read.schema("centroid_id BIGINT, cvec ARRAY<DOUBLE>")
          .parquet(centroidsDir)
          .select(col("centroid_id"), col("cvec"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
          .sortBy(_._1).toSeq
        require(centroidsIn.isEmpty || centroidsIn.sortBy(_._1) == stored,
          s"store $storePath already holds a different frozen quantizer " +
            "— postings assigned under it would be inconsistent with the " +
            "new centroids; use a fresh storePath to re-quantize")
        stored
      }
    }

    // Store-format migration — runs ONCE, at attach, BEFORE any fold
    // can sweep: a store written by pre-marker-discipline code carries
    // no format marker, and its committed segments may lack `_SUCCESS`
    // (the parquet job committer writes one, but a session can disable
    // it via mapreduce.fileoutputcommitter.marksuccessfuljobs=false —
    // exactly the config the sweep's own comment anticipates). Sweeping
    // such a dir as a "crash leftover" would silently delete folded
    // postings whose delta dirs are long gone: postings() under-reads
    // and the loss is permanent. So: on a marker-less store, backfill
    // `_SUCCESS` on every committed-LOOKING gen dir (parseable span, at
    // least one non-empty parquet file, not contained in a wider
    // MARKED span — those are shadowed merge inputs the sweep correctly
    // removes), then stamp the store with the format marker so that on
    // post-migration stores a genuinely partial dir is never mistaken
    // for a legacy segment again.
    locally {
      if (!fs.exists(formatMarker)) {
        val (marked, unmarked) =
          genDirs().partition(g => fs.exists(new Path(g._1, "_SUCCESS")))
        val markedSpans = marked.flatMap(_._2)
        unmarked.foreach { case (dir, span) =>
          val committedLooking = span.exists { sp =>
            !markedSpans.exists(m => m._1 <= sp._1 && sp._2 <= m._2) &&
              fs.listStatus(dir).exists(f => f.isFile &&
                f.getPath.getName.endsWith(".parquet") && f.getLen > 0)
          }
          if (committedLooking)
            fs.create(new Path(dir, "_SUCCESS"), true).close()
        }
        fs.create(formatMarker, true).close()
      }
    }

    /** Every `gen=` directory of the store with its parsed `[lo, hi)`
      * span (None when the name does not parse); empty for a missing
      * store.
      */
    private def genDirs(): Seq[(Path, Option[(Long, Long)])] = {
      val root = new Path(storePath)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
        .map { s =>
          val span = s.getPath.getName.stripPrefix("gen=").split("_") match {
            case Array(l, h) =>
              for (lo <- l.toLongOption; hi <- h.toLongOption) yield (lo, hi)
            case _ => None
          }
          s.getPath -> span
        }
    }

    private def batchIds(): Seq[Long] = {
      if (batchIdCache == null) batchIdCache = deltas.ids()
      batchIdCache
    }

    /** Gen dirs that carry a `_SUCCESS` marker — the ONLY thing that
      * makes a segment committed. A crash during the segment write (or
      * mid job-commit) leaves a partial gen directory; counting it
      * would raise the covered frontier and silently shadow the
      * still-intact delta dirs below it. The marker is the parquet
      * job committer's own (written at job commit, i.e. after every
      * task file landed); [[writeSegment]] re-creates it explicitly in
      * case the session disabled marker files.
      */
    private def committedSpans(): Seq[(Long, Long)] = {
      if (committedCache == null)
        committedCache = genDirs()
          .collect { case (dir, Some(span))
            if fs.exists(new Path(dir, "_SUCCESS")) => span }
          .sortBy(_._1)
      committedCache
    }

    /** The LIVE committed segments: committed spans minus any fully
      * contained in a wider committed span — a hierarchical merge
      * commits the covering segment BEFORE deleting its inputs, so a
      * crash in between leaves both on disk and readers must prefer
      * the cover (reading both would duplicate every posting). Partial
      * overlap cannot occur: merges fold ADJACENT whole segments and
      * delta folds start at the covered frontier. Sorted, contiguous
      * from 0 by construction.
      */
    private def segments(): Seq[(Long, Long)] = {
      val all = committedSpans()
      all.filter(s => !all.exists(o =>
        o != s && o._1 <= s._1 && s._2 <= o._2))
    }

    /** One committed segment write: parquet job + an explicit
      * `_SUCCESS` (idempotent when the committer already wrote one).
      */
    private def writeSegment(df: DataFrame, lo: Long, hi: Long): Unit = {
      df.write.mode("overwrite").parquet(genDir(lo, hi))
      val marker = new Path(genDir(lo, hi), "_SUCCESS")
      if (!fs.exists(marker)) fs.create(marker, true).close()
      invalidateListings()
    }

    /** Batches `[0, coveredUpto)` live in generation segments; deltas
      * below this are fold leftovers readers must ignore.
      */
    private def coveredUpto(): Long =
      segments().map(_._2).reduceOption(_ max _).getOrElse(0L)

    /** Highest batch id with state on disk (pure listing — no data
      * read), or None for a fresh store.
      */
    private def maxStoredBatchId(): Option[Long] =
      (batchIds() ++ segments().map(_._2 - 1L)).reduceOption(_ max _)

    /** Append one micro-batch: one kernel-assignment scan of the batch,
      * one delta write, then a fold of the pending deltas into a new
      * generation segment once `compactEvery` have accumulated. Fails
      * fast on batch-id REGRESSION (state above this id already on
      * disk): a stream restarted without its checkpoint re-numbers from
      * 0 and would silently interleave a new stream's postings under an
      * old stream's ids. A RETRY of the latest batch is allowed — the
      * delta overwrite is idempotent, and if the retried batch was
      * already folded its re-written delta sits below the covered
      * frontier, where readers ignore it and the next fold's cleanup
      * removes it.
      */
    def update(batch: DataFrame, batchId: Long): Unit = synchronized {
      VersionedDir.requireNoRegression(storePath, maxStoredBatchId(), batchId)
      deltas.write(Similarity.ivfAssign(batch, idCol, vecCol, centroids)
        .withColumn("__batch_id", lit(batchId)), batchId)
      invalidateListings()
      maybeCompact(batchId + 1L)
    }

    /** Fold the pending deltas `[coveredUpto, upto)` into one
      * `gen=<lo>_<hi>` segment when `compactEvery` have accumulated.
      * The segment is the plain union of the delta files (assignment
      * already happened; this is a pure rewrite), delta cleanup runs
      * only after the segment commits, and leftover deltas below the
      * frontier (a crash between commit and cleanup, or a post-fold
      * retry) are swept here too.
      */
    private def maybeCompact(upto: Long): Unit = {
      // sweep crash leftovers FIRST: (a) unmarked gen dirs are
      // uncommitted partial writes — readers already ignore them, but
      // a later fold reusing the name must not inherit stale files;
      // (b) committed segments fully contained in a wider committed
      // one are merge inputs whose post-commit cleanup crashed
      sweepDeadGenDirs()
      val lo = coveredUpto()
      val pending = batchIds().filter(id => id >= lo && id < upto)
      if (pending.size >= compactEvery) {
        val hi = pending.max + 1L
        writeSegment(deltas.read(pending), lo, hi)
      }
      // the folded deltas, and any leftovers below the frontier
      if (batchIds().exists(_ < coveredUpto())) {
        deltas.deleteBelow(coveredUpto())
        invalidateListings()
      }
      // hierarchical merge: fold the adjacent pair with the smallest
      // combined BYTE size while more than maxSegments segments are
      // live — smallest-pair-first yields balanced, roughly-doubling
      // segments, so each posting is rewritten O(log batches) times
      // over the stream's life in BYTES, not just in span count (with
      // skewed batch sizes a span-based pick could repeatedly re-merge
      // one huge segment with tiny neighbors; size-based selection is
      // the classic LSM/Lucene tiering bound). An all-into-one fold
      // would pay a quadratic write volume; reads stay O(maxSegments)
      // parquet scans either way. Assignment is deterministic and the
      // merge is a pure rewrite, so the readable relation is
      // byte-identical before and after. Ties break on the earlier
      // span for determinism.
      def segBytes(s: (Long, Long)): Long =
        fs.getContentSummary(new Path(genDir(s._1, s._2))).getLength
      var live = segments()
      while (live.size > maxSegments) {
        val (a, b) = live.zip(live.tail).minBy { case (x, y) =>
          (segBytes(x) + segBytes(y), x._1) }
        writeSegment(readSegments(Seq(a, b)).get, a._1, b._2)
        fs.delete(new Path(genDir(a._1, a._2)), true)
        fs.delete(new Path(genDir(b._1, b._2)), true)
        invalidateListings()
        live = segments()
      }
    }

    /** Delete uncommitted gen dirs and committed segments shadowed by
      * a wider committed cover (both are crash leftovers; readers
      * ignore them already).
      */
    private def sweepDeadGenDirs(): Unit = {
      val live = segments().toSet
      genDirs().foreach { case (dir, span) =>
        val dead = span match {
          case Some(sp) => !fs.exists(new Path(dir, "_SUCCESS")) || !live(sp)
          case None => true // unparseable gen dir: never readable
        }
        if (dead) {
          fs.delete(dir, true)
          invalidateListings()
        }
      }
    }

    /** The postings ingested by batches < `uptoBatch` (all, by
      * default): the union of O(generations) segment reads plus the
      * < compactEvery pending deltas — never one directory per batch.
      * A segment straddling `uptoBatch` serves the prefix exactly via
      * the stored `__batch_id` (compaction loses no read granularity).
      * LAZY parquet reads: consume the frame BEFORE THE NEXT update —
      * a fold deletes the delta dirs it references, and with
      * `maxSegments` merging active a fold can also rewrite-and-delete
      * previously-stable `gen=` segment dirs, so even a frame built
      * purely over segments can newly fail at execution after one more
      * update (the [[StreamingTDigest]] version-retention discipline,
      * tightened: "before compactEvery further updates" is only safe
      * when no merge runs).
      *
      * The pre-first-batch empty frame types `vec` from the
      * construction-time `vecSqlType` (not a hardcoded ARRAY<FLOAT>):
      * an index over array<double> vectors must present the SAME
      * schema before and after its first delta lands.
      */
    def postings(uptoBatch: Long = Long.MaxValue): DataFrame = {
      val parts = postingsParts(uptoBatch)
      if (parts.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          postingsSchema).select(PostingCols: _*)
      else parts.reduce(_ unionByName _)
        .filter(col("__batch_id") < uptoBatch)
        .select(PostingCols: _*)
    }

    /** Top-k search over everything ingested so far (or a prefix). */
    def search(queries: DataFrame, queryIdCol: String, k: Int = 10,
               nprobe: Int = 3, uptoBatch: Long = Long.MaxValue): DataFrame =
      Similarity.ivfSearchPostings(postings(uptoBatch), queries,
        queryIdCol, vecCol, centroids, k, nprobe)

    /** Occupancy + imbalance (the rebuild trigger) over the ingested
      * postings — see [[graft.ext.Similarity.ivfCellStats]].
      */
    def cellStats(uptoBatch: Long = Long.MaxValue): DataFrame =
      Similarity.ivfCellStats(postings(uptoBatch), centroids.length)

    /** The hottest-cell imbalance as a driver value (a bounded 1-row
      * collect — the signal every row of [[cellStats]] carries), 0.0
      * for an empty index. This is the [[rebuildIfDrifted]] trigger.
      */
    def imbalance(uptoBatch: Long = Long.MaxValue): Double =
      cellStats(uptoBatch)
        .agg(max(col("imbalance")).as("i")).collect()
        .headOption.filterNot(_.isNullAt(0)).map(_.getDouble(0))
        .getOrElse(0.0)

    /** Internal: the ingested postings WITH their stored batch ids —
      * what a rebuild must carry so the new store keeps prefix reads
      * and its regression frontier.
      */
    private def postingsWithBatchId(): DataFrame = {
      val parts = postingsParts(Long.MaxValue)
      require(parts.nonEmpty, s"nothing to rebuild at $storePath")
      parts.reduce(_ unionByName _)
    }

    /** The live segments starting below `uptoBatch` (one scan) and the
      * pending deltas below it (one scan).
      */
    private def postingsParts(uptoBatch: Long): Seq[DataFrame] = {
      val covered = coveredUpto()
      val pending = batchIds().filter(id => id >= covered && id < uptoBatch)
      readSegments(segments().filter(_._1 < uptoBatch)).toSeq ++
        (if (pending.isEmpty) None else Some(deltas.read(pending)))
    }

    /** Execute the rebuild the drift signal asks for: re-sample a fresh
      * quantizer (from postings of batches ≥ `centroidFromBatch` — the
      * RECENCY knob; 0 = everything), reassign every stored posting
      * under it ([[graft.ext.Similarity.ivfRebuild]] — one assignment
      * scan, byte-identical to a bulk build of the same corpus), and
      * write a NEW store at `newStorePath`: the fresh frozen quantizer
      * plus ONE generation segment holding all reassigned postings with
      * their original batch ids, so prefix reads and the batch-id
      * regression guard carry over and the stream resumes appending at
      * the same frontier. The OLD store is never touched — re-point
      * readers (and the stream's foreachBatch) to the returned
      * accumulator only after this returns; a failed rebuild is retried
      * into a fresh path.
      */
    def rebuildInto(newStorePath: String, numCells: Int = 0,
                    centroidFromBatch: Long = 0L): IvfAccumulator = {
      require(newStorePath != storePath,
        "rebuild must target a NEW storePath: postings assigned under " +
          "the old quantizer would interleave with reassigned ones")
      val frontier = maxStoredBatchId().map(_ + 1L).getOrElse(
        throw new IllegalArgumentException(
          s"nothing to rebuild at $storePath"))
      val all = postingsWithBatchId()
      val recent =
        if (centroidFromBatch <= 0L) None
        else Some(all.filter(col("__batch_id") >= centroidFromBatch)
          .select(col("neighbor_id"), col("vec")))
      val (newCents, reassigned) = Similarity.ivfRebuild(
        all, numCells, centroidSource = recent,
        passthrough = Seq("__batch_id"))
      val next = new IvfAccumulator(spark, newStorePath, idCol, vecCol,
        newCents, vecSqlType, compactEvery, maxSegments)
      next.writeSegment(reassigned, 0L, frontier)
      next
    }

    /** The drift POLICY in one call: rebuild only when the hottest-cell
      * imbalance exceeds `threshold` (FAISS folklore: ~3–5×), returning
      * the new store's accumulator, or None when the frozen cells still
      * fit the data.
      */
    def rebuildIfDrifted(newStorePath: String, threshold: Double,
                         numCells: Int = 0,
                         centroidFromBatch: Long = 0L)
        : Option[IvfAccumulator] =
      if (imbalance() > threshold)
        Some(rebuildInto(newStorePath, numCells, centroidFromBatch))
      else None

    /** foreachBatch adapter. */
    def asForeachBatch: (DataFrame, Long) => Unit =
      (batch, id) => update(batch, id)
  }

  /** Attach the accumulator to a vector stream. */
  def start(stream: DataFrame, storePath: String, idCol: String,
            vecCol: String, centroids: Seq[(Long, Seq[Double])],
            queryName: String = "graft-stream-ivf",
            checkpoint: Option[String] = None,
            vecSqlType: String = "ARRAY<FLOAT>",
            compactEvery: Int = 16,
            maxSegments: Int = 8)
      : (StreamingQuery, IvfAccumulator) = {
    val acc = new IvfAccumulator(stream.sparkSession, storePath,
      idCol, vecCol, centroids, vecSqlType, compactEvery, maxSegments)
    val writer = stream.writeStream
      .queryName(queryName)
      .foreachBatch(acc.asForeachBatch)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    (writer.start(), acc)
  }

  /** Batch replay — the oracle-gateable twin: append `batches` in
    * order, reporting the top-k search results after EVERY batch so the
    * gate checks the accumulation at each step. Each per-state result
    * is materialized EAGERLY — a later batch's compaction deletes the
    * delta files a lazy search frame would still reference — but as a
    * DISTRIBUTED parquet write under `state=<i>` (executors write,
    * nothing round-trips the driver), and the returned frame is the
    * lazy union of those state reads. This is also the same reason the
    * gate can run with a small `compactEvery` and prove folded and
    * unfolded reads identical.
    */
  def byBatch(spark: SparkSession, batches: Seq[DataFrame],
              storePath: String, idCol: String, vecCol: String,
              centroids: Seq[(Long, Seq[Double])], queries: DataFrame,
              queryIdCol: String, k: Int = 10,
              nprobe: Int = 3, compactEvery: Int = 16): DataFrame = {
    require(batches.nonEmpty, "byBatch needs at least one batch")
    val acc = new IvfAccumulator(spark, storePath, idCol, vecCol,
      centroids, compactEvery = compactEvery)
    // not batch=/gen=: the accumulator's readers skip state= dirs
    val states = new VersionedDir(spark, storePath, "state=")
    batches.zipWithIndex.foreach { case (b, i) =>
      acc.update(b, i.toLong)
      // materialize NOW — the next batch's fold deletes this state's
      // delta files
      states.write(
        acc.search(queries, queryIdCol, k, nprobe, uptoBatch = i.toLong + 1)
          .withColumn("batch_id", lit(i.toLong))
          .select("batch_id", "query_id", "neighbor_id", "rank"), i.toLong)
    }
    states.read(batches.indices.map(_.toLong))
  }
}
