package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup

/** Continuous duplicate-cluster maintenance: each micro-batch of
  * near-duplicate EDGES folds into the accumulated component labels via
  * [[Dedup.connectedComponentsIncremental]] — the iteration runs on the
  * batch's touched components only, never the corpus — and the updated
  * labels persist as a versioned snapshot, so survivor policies and
  * leakage-safe splits always act on the labels of everything crawled so
  * far.
  *
  * State = FULL label snapshots (`labels_at_<batch>/` parquet), not an
  * append-only key store: a merge can relabel an arbitrary old
  * component, so labels are a rewrite-in-place table by nature — the one
  * store in the streaming family where compaction-by-append cannot work.
  * Snapshots are versioned by batch id and cleaned only after the next
  * version commits, which with the strictly-prior read rule makes
  * `update` retry-idempotent: a replayed batch reads the same prior
  * snapshot and overwrites its own output. At corpus scale the
  * production refinement is to hash-partition the label table on
  * `comp` and rewrite only the buckets the relabel map touches (the
  * CDC-merge `dt=`-overwrite stance); the versioned-snapshot form keeps
  * the gateable semantics identical.
  */
object StreamingComponents {

  /** Driver-held handle on the label store. */
  final class ComponentMaintainer(spark: SparkSession, storePath: String) {

    // snapshot schema captured at the first write (a restarted
    // maintainer infers once on its first read and caches)
    private val snapshots = new VersionedDir(spark, storePath, "labels_at_")

    /** The accumulated labels of batches strictly below `batchId` (the
      * retry-idempotence rule), or None before the first snapshot.
      */
    def labels(batchId: Long): Option[DataFrame] =
      snapshots.ids().filter(_ < batchId).lastOption.map(snapshots.read)

    /** Fold one batch of edges into the accumulated labels, persist the
      * new snapshot (overwrite → retry-idempotent), clean superseded
      * snapshots only AFTER the new one committed, and return the
      * updated full label frame tagged with the batch id.
      */
    def update(edges: DataFrame, batchId: Long): DataFrame = synchronized {
      val updated = labels(batchId) match {
        case None => Dedup.connectedComponents(edges)
        case Some(prior) => Dedup.connectedComponentsIncremental(prior, edges)
      }
      snapshots.write(updated, batchId)
      // keep the IMMEDIATE prior snapshot: a foreachBatch retry of this
      // batch must be able to re-read its strictly-prior state — deleting
      // it would silently turn the replay into a from-scratch fixpoint
      // over one batch's edges
      snapshots.deleteBelow(batchId - 1)
      snapshots.read(batchId)
        .select(lit(batchId).as("batch_id"), col("id"), col("comp"))
    }

    /** foreachBatch adapter: hand each batch's updated labels to `sink`. */
    def asForeachBatch(sink: DataFrame => Unit): (DataFrame, Long) => Unit =
      (batch, id) => sink(update(batch, id))
  }

  /** Attach label maintenance to a stream of (id_a, id_b) edge rows. */
  def start(stream: DataFrame, storePath: String,
            sink: DataFrame => Unit = _ => (),
            queryName: String = "graft-stream-components",
            checkpoint: Option[String] = None): StreamingQuery = {
    val maintainer = new ComponentMaintainer(stream.sparkSession, storePath)
    val writer = stream.writeStream
      .queryName(queryName)
      .foreachBatch(maintainer.asForeachBatch(sink))
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Batch replay — the oracle-gateable twin: fold `batches` of edges in
    * order and return the FINAL label state (the snapshot a consumer
    * would read), which must equal the one-shot fixpoint over the
    * accumulated edge list.
    */
  def byBatch(spark: SparkSession, batches: Seq[DataFrame],
              storePath: String): DataFrame = {
    require(batches.nonEmpty, "byBatch needs at least one batch")
    val maintainer = new ComponentMaintainer(spark, storePath)
    batches.zipWithIndex
      .map { case (b, i) => maintainer.update(b, i.toLong) }
      .last
      .select(col("id"), col("comp"))
  }
}
