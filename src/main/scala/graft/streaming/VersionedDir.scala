package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A directory of numbered parquet versions, `<root>/<prefix><id>/` —
  * the one place under `streaming/` that knows this layout, shared by
  * the state stores ([[KeyedBatchStore]]'s deltas and compacted bases,
  * [[StreamingComponents]]' label snapshots, [[StreamingTDigest]]'s
  * folds and per-batch digests, [[StreamingIvf]]'s postings deltas).
  *
  * Discipline every store keeps through it:
  *  - a version is written whole by an overwrite, so a retried batch
  *    rewrites its own directory;
  *  - superseded versions are retired by [[deleteBelow]] only AFTER the
  *    version that replaces them has committed, so a crash in between
  *    leaves a readable store;
  *  - every read passes the store's schema, so `spark.read` never runs
  *    a footer-inference job. The schema is `declared` where the store
  *    knows it at construction, else captured at the first write; a
  *    restarted handle that reads before it writes infers once and
  *    caches;
  *  - every write must match that schema (names, order, types), so a
  *    wrong-shape frame fails loudly instead of reading back as NULLs.
  */
private[streaming] final class VersionedDir(
    spark: SparkSession, root: String, prefix: String,
    declared: Option[StructType] = None) {

  @volatile private var schema: Option[StructType] = declared

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def dir(id: Long): String = s"$root/$prefix$id"

  /** Version ids on disk, ascending. Names that do not parse are
    * skipped; a missing root lists as empty. Pure listing, no data read.
    */
  def ids(): Seq[Long] = {
    val listed =
      try fs.listStatus(new Path(root)).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    listed.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption)
      .sorted
  }

  /** Overwrite version `id` with `df`, whose columns must equal the
    * store's schema in name, order and type (nullability aside).
    */
  def write(df: DataFrame, id: Long): Unit = {
    schema match {
      case Some(want) =>
        def shape(s: StructType) =
          s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
        if (shape(df.schema) != shape(want))
          throw new IllegalArgumentException(
            s"store $root ($prefix<id>) holds ${want.catalogString} but " +
              s"the frame written as version $id is " +
              s"${df.schema.catalogString}")
      case None => schema = Some(df.schema)
    }
    df.write.mode("overwrite").parquet(dir(id))
  }

  def read(id: Long): DataFrame = read(Seq(id))

  /** One scan over versions `ids` (non-empty). */
  def read(ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, s"no versions to read under $root ($prefix<id>)")
    val paths = ids.map(dir)
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        schema = Some(df.schema)
        df
    }
  }

  /** Retire every version below `id`; returns the ids deleted. Call
    * only after the version that supersedes them has committed.
    */
  def deleteBelow(id: Long): Seq[Long] = {
    val old = ids().filter(_ < id)
    old.foreach(v => fs.delete(new Path(dir(v)), true))
    old
  }
}

private[streaming] object VersionedDir {

  /** Fail fast on batch-id REGRESSION: `heldUpTo` is the highest batch
    * id with state under `storePath`. A stream restarted WITHOUT its
    * checkpoint re-numbers batches from 0, and its state would silently
    * interleave with (or be shadowed by) the old stream's under the
    * same ids. A RETRY of the latest batch (same id) is allowed: every
    * store rewrites its own version idempotently.
    */
  def requireNoRegression(storePath: String, heldUpTo: Option[Long],
                          batchId: Long): Unit =
    heldUpTo.filter(_ > batchId).foreach { m =>
      throw new IllegalArgumentException(
        s"store $storePath already holds batches up to $m but batch " +
          s"$batchId arrived — a restarted stream must reuse its " +
          "checkpointLocation, and a new query needs a fresh storePath")
    }
}
