package graft.logs

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.TaskOutput
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes one compacted day as Parquet, one file per partition of the
  * frame, and publishes it whole or not at all.
  *
  * The files are Spark's own: the writer factory comes from
  * `ParquetFileFormat.prepareWrite`, and names and the file rule are
  * `FileFormatWriter`'s (`part-NNNNN-<uuid>-c000<ext>`; partition 0 always
  * writes a file, so an empty day keeps its schema; other empty partitions
  * write none). What differs is the job around them:
  *  - the prepared Hadoop conf is broadcast once per day, where Spark's
  *    write command ships it twice inside every task;
  *  - tasks write into a hidden staging sibling of `dt=`, each attempt in
  *    its own directory, and return what they wrote;
  *  - after every task has succeeded the driver moves exactly the returned
  *    files into a fresh `dt=` with `_SUCCESS`, and only then replaces the
  *    previous copy. A failed day leaves the previous copy as it was and no
  *    staging directory. Where directory rename is atomic (HDFS, local),
  *    readers never see a half-written day; on S3 the swap is a copy.
  */
object DayWriter {

  /** One published file: its name, the attempt that wrote it, and what is
    * in it. `corruptRows` counts non-null `error_line` values.
    */
  final case class Written(name: String, attempt: Int, rows: Long, corruptRows: Long,
                           bytes: Long)

  /** A day written into its staging directory `dir`, not yet published. */
  private[logs] final case class Staged(dest: Path, dir: Path, files: Seq[Written])

  /** Write `df` to `dest` and publish it; returns the published files. */
  def write(df: DataFrame, dest: String, compression: String): Seq[Written] = {
    val staged = stage(df, dest, compression)
    publish(df.sparkSession, staged)
    staged.files
  }

  /** Run the write job into a fresh staging sibling of `dest`. On failure
    * the staging directory is deleted and `dest` is untouched.
    */
  private[logs] def stage(df: DataFrame, dest: String, compression: String): Staged = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val schema = df.schema
    val corruptAt = schema.fieldIndex("error_line")
    val options = Map("compression" -> compression)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val conf = job.getConfiguration
    val ext = factory.getFileExtension(new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    val destPath = new Path(dest)
    val dir = new Path(destPath.getParent, s".${destPath.getName}.${UUID.randomUUID()}")
    val stageDir = dir.toString
    val suffix = s"-${UUID.randomUUID()}-c000$ext"
    val sc = spark.sparkContext
    val shared = sc.broadcast(new SerializableConfiguration(conf))
    try {
      val files = SQLExecution.withNewExecutionId(qe, Some("DayWriter.write")) {
        val rdd = qe.toRdd
        // an empty plan can have no partitions; still write partition 0
        val rows = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
        sc.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writePartition(ctx, it, shared.value.value, factory, schema, corruptAt,
            stageDir, suffix))
      }
      Staged(destPath, dir, files.flatten.toSeq)
    } catch {
      case e: Throwable =>
        dir.getFileSystem(conf).delete(dir, true)
        throw e
    } finally shared.destroy()
  }

  /** One task: its rows into `<stageDir>/attempt-<n>/part-NNNNN<suffix>`. */
  private def writePartition(ctx: TaskContext, rows: Iterator[InternalRow], conf: Configuration,
                             factory: OutputWriterFactory, schema: StructType, corruptAt: Int,
                             stageDir: String, suffix: String): Option[Written] = {
    val part = ctx.partitionId()
    if (part != 0 && !rows.hasNext) return None
    val name = f"part-$part%05d$suffix"
    val path = new Path(new Path(stageDir, s"attempt-${ctx.attemptNumber()}"), name)
    val writer = factory.newInstance(path.toString, schema,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    var n, corrupt = 0L
    try {
      while (rows.hasNext) {
        val row = rows.next()
        writer.write(row)
        n += 1
        if (!row.isNullAt(corruptAt)) corrupt += 1
      }
    } catch {
      case e: Throwable =>
        try writer.close() catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    writer.close()
    val bytes = path.getFileSystem(conf).getFileStatus(path).getLen
    TaskOutput.record(ctx, bytes, n)
    Some(Written(name, ctx.attemptNumber(), n, corrupt, bytes))
  }

  /** Move exactly `staged.files` into a fresh `dest` with `_SUCCESS`, swap
    * it in for the previous copy, delete the staging directory and refresh
    * cached data over `dest`. A failure restores the previous copy.
    */
  private[logs] def publish(spark: SparkSession, staged: Staged): Unit = {
    val Staged(dest, dir, files) = staged
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = new Path(dir, dest.getName)
    val previous = new Path(dir, "previous")
    try {
      if (!fs.mkdirs(fresh)) throw new IOException(s"could not create $fresh")
      files.foreach(w =>
        rename(fs, new Path(dir, s"attempt-${w.attempt}/${w.name}"), new Path(fresh, w.name)))
      fs.create(new Path(fresh, "_SUCCESS")).close()
      if (fs.exists(dest)) rename(fs, dest, previous)
      rename(fs, fresh, dest)
    } catch {
      case e: Throwable =>
        if (fs.exists(previous) && !fs.exists(dest)) fs.rename(previous, dest)
        throw e
    } finally {
      // keep the staging directory only if it still holds the sole copy
      if (!fs.exists(previous) || fs.exists(dest)) fs.delete(dir, true)
    }
    spark.catalog.refreshByPath(dest.toString)
  }

  /** `FileSystem.rename` reports failure by returning false. */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"could not rename $from to $to")
}
