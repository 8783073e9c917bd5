package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup

/** Streaming MinHash + LSH near-duplicate detection: each micro-batch
  * is probed against the banded-signature index of everything that
  * ARRIVED BEFORE it (document-level continuous near-dedup — flag the
  * re-crawled near-copy the moment it re-enters the pipeline), then
  * contributes its own band postings and signatures for future batches.
  * The continuous twin of [[graft.ext.Dedup.minhashDuplicates]] the way
  * [[StreamingSpanDedup]] is the continuous twin of `duplicateSpans`:
  * span dedup finds REPEATED PASSAGES, this finds WHOLE-DOCUMENT
  * near-copies, and [[Dedup.exactDedupStream]] the byte-identical ones.
  *
  * State design — two [[KeyedBatchStore]]s, both linear in DOCUMENTS
  * (never in corpus text):
  *  - `bands/`: (bkey, doc, __batch) postings, `bands` rows per
  *    document, bucketed by bkey — the per-batch candidate probe joins
  *    batch band keys against the compacted base WITHOUT shuffling it
  *    (each part is probed separately; a union first would discard the
  *    base's bucket co-location and re-exchange the whole index every
  *    batch).
  *  - `sigs/`: (doc, sig, __batch), one `numHashes`-element signature
  *    per document, bucketed by doc — the verify join resolves
  *    candidate partners' signatures against the base co-located the
  *    same way. Signatures, not shingle sets: the streaming verify is
  *    the MinHash ESTIMATE (matching components / numHashes), the
  *    standard index-time trade — the exact-Jaccard re-check needs the
  *    original texts and belongs to a batch job over the flagged pairs
  *    (gate-scale recall/precision of the estimate is pinned by the
  *    oracle, which replays the estimate bit-for-bit).
  *
  * Hash modes ([[StreamingSpanDedup]]'s `hashGrams` discipline):
  * `portableHashes = false` (default, the scale mode) uses the native
  * XXH64 [[graft.functions.SketchFunctions.minhashSignature]] with
  * BIGINT band keys; `true` derives every hash from md5 — the one
  * 64-bit-capable hash Spark and DuckDB share — so signatures, band
  * keys, and estimates replay bit-for-bit in an independent engine
  * (hash h_i(s) = first 16 hex chars of md5("i|" || s); 16-char
  * lowercase hex compares like the unsigned number it spells, so
  * `array_min` over hex strings IS min-hashing).
  *
  * Batch-id regression fails fast (both stores are batch-tagged);
  * appends overwrite their own `batch=<id>` dirs (retry-idempotent);
  * `keepBatches > 0` bounds both stores to a sliding window — postings
  * and signatures older than the horizon are dropped at each fold, so
  * "near-dup of anything in the last K batches" runs on state
  * proportional to the window, not the stream's lifetime. Eviction
  * narrows the probed corpus BY CONTRACT (a windowed dedup matches
  * within its window); there is no read-past-horizon hazard because
  * update() only ever probes the strictly-prior retained store.
  */
object StreamingMinhashLsh {

  /** Driver-held handle on the two stores. `numHashes`, `bands`,
    * `shingleSize`, the hash mode, and `numBuckets` are FROZEN
    * parameters of a store (the [[StreamingIvf]] frozen-quantizer
    * stance): band keys stored under one banding scheme are
    * meaningless under another, so they must not change across
    * restarts of the same `storePath`.
    */
  final class MinhashLshDeduper(
      spark: SparkSession, storePath: String,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.8, portableHashes: Boolean = false,
      compactEvery: Int = 8, numBuckets: Int = 32,
      keepBatches: Int = 0) {

    require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(estThreshold > 0 && estThreshold <= 1,
      s"estThreshold in (0,1], got $estThreshold")
    require(keepBatches >= 0, s"keepBatches must be >= 0, got $keepBatches")
    private val rowsPerBand = numHashes / bands

    private val keep: Option[Long => Column] =
      if (keepBatches == 0) None
      else Some(upTo =>
        col("__batch") >= lit(math.max(0L, upTo - keepBatches)))

    private val postings = new KeyedBatchStore(spark, s"$storePath/bands",
      "bkey", if (portableHashes) "STRING" else "BIGINT",
      compactEvery, numBuckets,
      extraCols = Seq("doc" -> "BIGINT", "__batch" -> "BIGINT"),
      retainAtCompact = keep)
    private val sigs = new KeyedBatchStore(spark, s"$storePath/sigs",
      "doc", "BIGINT", compactEvery, numBuckets,
      extraCols = Seq(
        "sig" -> (if (portableHashes) "ARRAY<STRING>" else "ARRAY<BIGINT>"),
        "__batch" -> "BIGINT"),
      retainAtCompact = keep)

    /** Batches strictly below this id may have been evicted by
      * retention (the [[CellSketchMaintainer]] horizon rule: eviction
      * only happens at a fold, so everything at or above
      * `latestCompactedUpTo − keepBatches` is still fully probed).
      */
    def evictedBefore(): Long =
      if (keepBatches == 0) 0L
      else postings.latestCompactedUpTo()
        .map(u => math.max(0L, u - keepBatches)).getOrElse(0L)

    /** MinHash signature of a distinct-shingle array, per the store's
      * hash mode.
      */
    private def signature(sh: Column): Column =
      if (!portableHashes)
        graft.functions.SketchFunctions.minhashSignature(sh, numHashes)
      else
        // one-pass kernel, byte-identical to the declarative
        // transform(sequence(0, k−1), i => array_min(transform(sh, s =>
        // substring(md5(concat(i, "|", s)), 1, 16)))) it replaces
        // (equality spec-pinned): the higher-order form ran k
        // INTERPRETED lambda evals per shingle — k × |sh| md5s each
        // paying MessageDigest.getInstance + hex + substring + string
        // allocation — and dominated the whole gate (18 s of the r15
        // baseline sweep's q280)
        graft.functions.SketchFunctions.portableMinhash(sh, numHashes)

    /** One band key per band: hash of (band index, that band's
      * signature slice) — collision = identical slice (up to hash),
      * the classic banding bucket.
      */
    private def bandKeys(sig: Column): Column =
      if (!portableHashes)
        transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))
      else
        transform(sequence(lit(0), lit(bands - 1)), b =>
          md5(concat(b.cast("string"), lit("|"),
            array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "|"))
            .cast("binary")))

    /** Matching-component fraction — exact in both engines (m / 2^k
      * divisions are exact in binary floating point).
      */
    private def estJaccard(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), x => x))
        .cast("double") / lit(numHashes.toDouble)

    private def emptyMatches(): DataFrame =
      spark.range(0).select(col("id").as("batch_id"), col("id").as(idCol),
        col("id").as("match_id"), col("id").cast("double").as("est_jaccard"))

    /** Probe `batch` against the strictly-prior index, append the
      * batch's own postings + signatures, and return the matches frame
      * `(batch_id, <idCol>, match_id, est_jaccard)` — one row per
      * (new document, prior near-duplicate) with estimate ≥
      * `estThreshold`. Compaction, when due, runs BEFORE the probe and
      * folds only batches < batchId (strictly-prior untouched).
      *
      * CONTRACT: the returned frame lazily reads the strictly-prior
      * store files, which a LATER update's compaction deletes — consume
      * it (write / collect / localCheckpoint) before calling update
      * again, as a foreachBatch sink naturally does.
      */
    def update(batch: DataFrame, batchId: Long): DataFrame = synchronized {
      postings.requireNoRegression(batchId)
      sigs.requireNoRegression(batchId)
      postings.maybeCompact(batchId)
      sigs.maybeCompact(batchId)
      // one scan/shingle/signature pass per batch, shared by the probe
      // and both appends — micro-batches are bounded, so the
      // checkpointed frame is too
      val projected = batch
        .select(col(idCol).cast("long").as("doc"),
          col(textCol).as("__text"))
      // signature cost is numHashes × |shingles| digests PER ROW — the
      // one CPU wall in this operator — so a batch arriving in fewer
      // partitions than the session parallelism (a single source file,
      // a collected micro-batch) must fan out first or one core pays
      // the whole wall. The round-robin exchange moves each row once
      // (cheap next to hashing it); an already-wide batch is left on
      // its source partitioning.
      val par = spark.sparkContext.defaultParallelism
      val fanned =
        if (StreamingMinhashLsh.shouldFanOut(
            projected.rdd.getNumPartitions, par))
          projected.repartition(par)
        else projected
      val withSig = fanned
        .select(col("doc"),
          Dedup.shingles(col("__text"), shingleSize).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", signature(col("sh")))
        .select("doc", "sig")
        .localCheckpoint()
      val bandRows = withSig
        .select(col("doc"), explode(bandKeys(col("sig"))).as("bkey"))
        .select("bkey", "doc")

      val priorBands = postings.parts(batchId)
      val matches =
        if (priorBands.isEmpty) emptyMatches()
        else {
          val sigParts = sigs.parts(batchId)
          // probe each part separately and union the results: the
          // compacted base is bucketed by bkey, so its join never
          // shuffles the index — only the batch's band keys move
          val candRaw = priorBands.map { p =>
            bandRows.select(col("bkey"), col("doc").as("probe"))
              .join(p.select(col("bkey"), col("doc").as("match")), "bkey")
              .select("probe", "match")
          }.reduce(_ unionByName _)
            .filter(col("probe") =!= col("match"))
            .distinct()
          // candidates are re-read once per sig part below; bounded
          // (pairs of one batch), so pin them rather than re-running
          // the band join per part — but only when there IS a re-read:
          // with a single sig part the checkpoint is its own SQL
          // execution spent materializing a frame read exactly once
          val cand =
            if (sigParts.size > 1) candRaw.localCheckpoint() else candRaw
          val withOld = sigParts.map { p =>
            cand.join(
              p.select(col("doc").as("match"), col("sig").as("sig_b")),
              "match")
          }.reduce(_ unionByName _)
          withOld
            .join(broadcast(withSig
              .select(col("doc").as("probe"), col("sig").as("sig_a"))),
              "probe")
            .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
            .filter(col("est_jaccard") >= estThreshold)
            .select(lit(batchId).as("batch_id"), col("probe").as(idCol),
              col("match").as("match_id"), col("est_jaccard"))
        }
      // no distinct before the delta write: a (bkey, doc) pair cannot
      // repeat within one doc row (the band INDEX is folded into every
      // band key), duplicate doc-id rows are collapsed nowhere else in
      // this operator either, the probe dedups candidates itself, and
      // the compaction fold is whole-row DISTINCT — so the shuffle the
      // distinct paid per batch bought nothing observable
      postings.append(
        bandRows.select(col("bkey"), col("doc"), lit(batchId).as("__batch")),
        batchId)
      sigs.append(
        withSig.select(col("doc"), col("sig"), lit(batchId).as("__batch")),
        batchId)
      matches
    }

    /** foreachBatch adapter: hand each batch's matches to `sink`. */
    def asForeachBatch(sink: DataFrame => Unit): (DataFrame, Long) => Unit =
      (batch, id) => sink(update(batch, id))
  }

  /** Attach continuous near-dedup to a stream: every micro-batch,
    * `sink` receives that batch's near-duplicate matches against the
    * strictly-prior corpus.
    */
  def start(stream: DataFrame, storePath: String,
            idCol: String, textCol: String,
            shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
            estThreshold: Double = 0.8,
            sink: DataFrame => Unit,
            queryName: String = "graft-stream-minhash-lsh",
            checkpoint: Option[String] = None): StreamingQuery = {
    val deduper = new MinhashLshDeduper(stream.sparkSession, storePath,
      idCol, textCol, shingleSize, numHashes, bands, estThreshold)
    val writer = stream.writeStream
      .queryName(queryName)
      .foreachBatch(deduper.asForeachBatch(sink))
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Batch replay — the oracle-gateable twin: the same update/store
    * path over pre-split batches, portable hashes so an independent
    * engine can rebuild every signature, band key, and estimate.
    * Per-batch outputs are checkpointed before the next update (the
    * update contract), so replay folds are harmless and compactEvery
    * needs no replay pin.
    */
  def byBatch(spark: SparkSession, batches: Seq[DataFrame],
              storePath: String, idCol: String, textCol: String,
              shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
              estThreshold: Double = 0.8,
              keepBatches: Int = 0): DataFrame = {
    require(batches.nonEmpty, "byBatch needs at least one batch")
    val compactEvery = 8
    val deduper = new MinhashLshDeduper(spark, storePath, idCol, textCol,
      shingleSize, numHashes, bands, estThreshold, portableHashes = true,
      compactEvery = compactEvery, keepBatches = keepBatches)
    // the per-batch consume-before-next-update contract exists because a
    // LATER update's compaction deletes the delta files a lazy matches
    // frame reads. Compaction first fires at batch id >= compactEvery,
    // so a replay short enough never to compact can leave every batch's
    // matches LAZY and pay ONE execution for the whole union — the
    // per-batch probe subtrees are independent and materialize their
    // AQE stages in parallel instead of as per-batch barriers. Longer
    // replays keep the per-batch checkpoint (eviction may also fire at
    // a fold, same condition).
    val lazyReplay = batches.size <= compactEvery
    batches.zipWithIndex
      .map { case (b, i) =>
        val m = deduper.update(b, i.toLong)
        if (lazyReplay) m else m.localCheckpoint()
      }
      .reduce(_ unionByName _)
  }

  /** A micro-batch arriving in far fewer partitions than the session
    * parallelism (single source file, collected batch) must fan out
    * before the signature map or one core pays the whole k × |shingles|
    * digest wall (see the comment at the call site). Locally measured
    * neutral; kept for the narrow-batch case at scale, and pinned here
    * so the guard's intent survives refactors: fan out only when the
    * batch is narrower than HALF the parallelism — an already-wide
    * batch must stay on its source partitioning (the exchange is not
    * free).
    */
  private[graft] def shouldFanOut(batchPartitions: Int,
                                  parallelism: Int): Boolean =
    batchPartitions.toLong * 2 < parallelism.toLong
}
