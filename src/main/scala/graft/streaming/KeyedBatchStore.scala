package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** LSM-shaped accumulating keyed parquet store shared by the
  * continuous-dedup operators ([[StreamingSpanDedup]]'s gram store,
  * [[StreamingParagraphDedup]]'s paragraph store,
  * [[StreamingBoilerplate]]'s counting line store): per-batch delta
  * directories fold periodically into ONE bucketed-by-key compacted
  * base registered in the catalog, so a per-batch probe join NEVER
  * shuffles the base — only the (tiny) batch keys move to meet it —
  * and repeated content folds at compaction, it never accumulates rows.
  * Merge modes: DISTINCT keys (default); with `countCol` set, a BIGINT
  * payload sum-merged per key (cumulative frequency stores); with
  * `extraCols` set, DISTINCT whole rows of (key, extras) — posting
  * stores like [[StreamingMinhashLsh]]'s (band key → doc id) index,
  * still bucketed by `keyCol` so probe joins never shuffle the base.
  *
  * Layout under `storePath`:
  *  - `compacted_upto_<n>/`: the distinct keys of all batches < n, ONE
  *    bucketed table (restart-stable: the DDL re-registers the bucket
  *    spec from `numBuckets`, which therefore must not change across
  *    restarts of the same store).
  *  - `batch=<id>/`: not-yet-compacted per-batch deltas (at most
  *    `compactEvery`; small — the probe's planner broadcasts them).
  *
  * Retry-idempotence: batch appends overwrite their own `batch=<id>`
  * directory; compaction writes a new version named by the batch id and
  * cleans up only AFTER the new version commits, so a crash
  * mid-compaction leaves a readable store.
  */
final class KeyedBatchStore(spark: SparkSession, storePath: String,
                            keyCol: String, keySqlType: String,
                            compactEvery: Int, numBuckets: Int,
                            countCol: Option[String] = None,
                            retainAtCompact: Option[
                              Long => org.apache.spark.sql.Column] = None,
                            extraCols: Seq[(String, String)] = Seq.empty) {
  require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
  require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
  require(Set("BIGINT", "STRING").contains(keySqlType),
    s"keySqlType must be BIGINT or STRING, got $keySqlType")
  require(countCol.forall(_ != keyCol), "countCol must differ from keyCol")
  require(countCol.isEmpty || extraCols.isEmpty,
    "countCol (sum-merge per key) and extraCols (distinct rows) are " +
      "mutually exclusive merge modes")
  require(extraCols.forall { case (n, t) =>
    n != keyCol && Set("BIGINT", "STRING", "DOUBLE",
      "ARRAY<BIGINT>", "ARRAY<STRING>").contains(t.toUpperCase) },
    s"extraCols must not collide with keyCol and must use a supported " +
      s"SQL type, got $extraCols")

  /** The store's row schema, known from the constructor parameters:
    * every delta read passes it and every append must match it.
    */
  private val rowSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      (Seq(s"$keyCol $keySqlType") ++
        extraCols.map { case (n, t) => s"$n $t" } ++
        countCol.map(c => s"$c BIGINT")).mkString(", "))

  private val deltas =
    new VersionedDir(spark, storePath, "batch=", Some(rowSchema))
  // the compacted bases are bucketed tables written by saveAsTable;
  // VersionedDir only names, lists and retires their directories
  private val compacted = new VersionedDir(spark, storePath, "compacted_upto_")

  /** Catalog identity of a compacted version: derived from the store
    * PATH (two stores on one path share tables; different paths — e.g.
    * parallel test suites — never collide).
    */
  private val tablePrefix = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(storePath.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"graft_key_store_$digest"
  }
  private def tableName(upTo: Long) = s"${tablePrefix}_upto_$upTo"

  /** The newest compacted base covering only batches strictly below
    * `batchId`, (re-)registered in the catalog so its scan reports the
    * bucket partitioning. The directories on disk are the source of
    * truth: the catalog is session-scoped and empty after a restart.
    */
  private def baseFor(batchId: Long): Option[(Long, DataFrame)] =
    compacted.ids().filter(_ <= batchId).lastOption.map { upTo =>
      val name = tableName(upTo)
      if (!spark.catalog.tableExists(name))
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $name (${rowSchema.toDDL})
             |USING parquet
             |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $numBuckets BUCKETS
             |LOCATION '${compacted.dir(upTo)}'""".stripMargin)
      upTo -> spark.table(name)
    }

  /** The delta batches with id in [from, until), as one scan. */
  private def deltaRead(from: Long, until: Long): Option[DataFrame] = {
    val ids = deltas.ids().filter(id => id >= from && id < until)
    if (ids.isEmpty) None else Some(deltas.read(ids))
  }

  /** Fold deltas [c, batchId) into a new compacted version when due.
    * Idempotent under foreachBatch retry; cleanup runs only after the
    * new version commits.
    */
  def maybeCompact(batchId: Long): Unit = {
    val base = baseFor(batchId)
    val c = base.map(_._1).getOrElse(0L)
    if (batchId - c < compactEvery) return
    val parts = base.map(_._2).toSeq ++ deltaRead(c, batchId)
    if (parts.isEmpty) return
    // distinct mode collapses duplicate rows (whole-row with
    // extraCols); counting mode sum-merges
    // per-batch counts into one row per key (same sub-linear-growth
    // property: repeated content folds, it never accumulates rows)
    val folded = countCol match {
      case None => parts.reduce(_ unionByName _).distinct()
      case Some(c) => parts.reduce(_ unionByName _)
        .groupBy(org.apache.spark.sql.functions.col(keyCol))
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col(c)).as(c))
    }
    // retention hook (batch-tagged stores): rows failing the caller's
    // keep-predicate for this compaction frontier are dropped HERE —
    // the fold is the only moment the base is rewritten anyway, so
    // expiry is free, and state stops growing with stream lifetime
    val retained = retainAtCompact match {
      case Some(keep) => folded.filter(keep(batchId))
      case None => folded
    }
    retained
      .write.mode("overwrite")
      .bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .option("path", compacted.dir(batchId))
      .format("parquet")
      .saveAsTable(tableName(batchId))
    deltas.deleteBelow(batchId)
    compacted.deleteBelow(batchId).foreach(old =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(old)}"))
  }

  /** The strictly-prior store as probe PARTS (compacted base first, then
    * the delta slice) — also the audit surface for store-size
    * assertions.
    */
  def parts(batchId: Long): Seq[DataFrame] = {
    val base = baseFor(batchId)
    base.map(_._2).toSeq ++ deltaRead(base.map(_._1).getOrElse(0L), batchId)
  }

  /** Write a batch's frame under its own `batch=<id>` directory
    * (overwrite → retry-idempotent). The frame must have exactly the
    * store's columns in store order and type: key, extras, count —
    * matching the registered DDL of the compacted base it will fold
    * into. Anything else raises `IllegalArgumentException`.
    */
  def append(keys: DataFrame, batchId: Long): Unit =
    deltas.write(keys, batchId)

  /** The newest compacted frontier (batches < this id are folded into
    * the base), or None when nothing has compacted yet. Retention
    * horizons derive from THIS (not from the append frontier): rows
    * are only ever evicted at a fold, so everything at or above
    * `latestCompactedUpTo - retention` is still fully readable.
    */
  def latestCompactedUpTo(): Option[Long] = compacted.ids().lastOption

  /** Highest batch id with state on disk (delta dirs, plus
    * `compacted_upto_U` covering batches up to U−1), or None for a
    * fresh store. Pure filesystem listing — no data read.
    */
  def maxStoredBatchId(): Option[Long] =
    (deltas.ids() ++ compacted.ids().map(_ - 1L)).reduceOption(_ max _)

  /** Fail fast on batch-id REGRESSION (the check accumulator
    * `update`s run before appending): because the batch id is folded
    * into stored keys, a restarted stream's cells would silently
    * interleave under old ids — corrupting any `[fromBatch, uptoBatch)`
    * windowed read (a cumulative read stays a harmless union).
    */
  def requireNoRegression(batchId: Long): Unit =
    VersionedDir.requireNoRegression(storePath, maxStoredBatchId(), batchId)
}
