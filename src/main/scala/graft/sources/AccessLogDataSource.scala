package graft.sources

import java.util.{Collections, Map => JMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID,
  TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.datasources.{HadoopLineRecordReader, OutputWriterFactory,
  PartitionedFile, RecordReaderIterator, TextBasedFileFormat}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.functions.{AccessLogKernel, RequestTime}
import graft.logs.AccessLogSchema

/** Raw S3 server-side access logs as a Spark file format:
  *
  * {{{
  * spark.read.format("accesslog").load(dir)
  * spark.readStream.format("accesslog").load(dir)
  * }}}
  *
  * yields the canonical 19-column frame of `AccessLogSchema` straight from
  * the raw log text — the reference's read-then-parse two-step
  * (`scripts/oss_s3_server_side_logging_compacter.py:154-171,214-218`) as
  * ONE scan node. The compacter reads its listed day through the same
  * reader ([[graft.logs.Compacter.readListed]], which cuts the day into its
  * own byte ranges, one per output file), so batch reads, the compacter and
  * the stream share one raw-log parse.
  *
  * For `load` and the stream, Spark's file source does everything around
  * the parse: listing (hidden `_`/`.` paths skipped), packing files into
  * splits (`spark.sql.files.maxPartitionBytes` and `openCostInBytes`), the
  * stream's seen-file log, and evaluating every pushed filter above the
  * scan. Lines come from Spark's own `HadoopLineRecordReader`, so splitting
  * uncompressed files at line boundaries and decompression are Spark's
  * too. What the format changes is the conf a file is opened on: one copy
  * per task, where Spark's `HadoopFileLinesReader` copies the conf for
  * every file ([[AccessLogDataSource.reader]]). The format adds the
  * parse: blank lines are dropped (the reference strips and skips
  * empties, `:165-167`), every other line goes once
  * through [[AccessLogKernel.parse]] in the session time zone — the kernel
  * under [[graft.logs.LogLineParser.parse]], so both paths give identical
  * rows — and the scan emits only the required columns: `select(operation)`
  * carries one field per row, a pure count none.
  *
  * The schema is fixed: the reader maps columns by their `AccessLogSchema`
  * position, so any other user-specified schema is rejected.
  *
  * Registered as short name `accesslog` via META-INF/services.
  */
final class AccessLogDataSource extends TextBasedFileFormat with DataSourceRegister
    with StreamSourceProvider {

  override def shortName(): String = "accesslog"

  override def toString: String = shortName()

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(AccessLogSchema.schema)

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("the accesslog format is read-only")

  /** Public, where Spark's is protected. Broadcasts `hadoopConf` for this
    * scan, as Spark's own text formats do, and reads each file with
    * [[AccessLogDataSource.reader]], the one per-file read of the format.
    */
  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    AccessLogDataSource.requireFixedSchema(Some(dataSchema))
    AccessLogDataSource.reader(
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      getSqlConf(spark).sessionLocalTimeZone, requiredSchema)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    AccessLogDataSource.requireFixedSchema(schema)
    (s"FileSource[${AccessLogDataSource.path(parameters)}]", AccessLogSchema.schema)
  }

  /** Spark's own file stream over this format: each micro-batch reads the
    * files its seen-file log (kept under `metadataPath`) has not recorded
    * yet, `maxFilesPerTrigger` at most. [[sourceSchema]] has already
    * checked a user-specified schema.
    */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new FileStreamSource(
      sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AccessLogDataSource.path(parameters), classOf[AccessLogDataSource].getName,
      AccessLogSchema.schema, Nil, metadataPath, parameters)
}

object AccessLogDataSource {

  /** The per-file read of every `accesslog` scan: the lines of a file's
    * byte range, blank ones dropped, each other line parsed once by
    * [[AccessLogKernel.parse]] in `timeZone`, and only `requiredSchema`'s
    * fields emitted. Each row is a view of the parsed line, which the scan
    * above copies once. Files are opened on `conf`, the scan's broadcast
    * Hadoop conf; the compacter passes its day's write conf, so a day
    * broadcasts one conf for its scan and its write.
    */
  def reader(conf: Broadcast[SerializableConfiguration], timeZone: String,
             requiredSchema: StructType): PartitionedFile => Iterator[InternalRow] =
    new FileReader(conf, new RequestTime(timeZone), requiredSchema)

  /** A task deserializes its own copy of the reader, so `context` is built
    * once per task and every file of the task is opened on it: one copy of
    * the conf per task, where Spark's `HadoopFileLinesReader` copies it
    * into a new `JobConf` for every file, holding the shared conf's lock.
    * The lines are Spark's own `HadoopLineRecordReader`'s, initialized as
    * that reader does: split start and end, the partial first line of a
    * split, CRLF, a UTF-8 BOM, `maxLineLength` and the codec lookup are all
    * Spark's.
    */
  private[sources] final class FileReader(conf: Broadcast[SerializableConfiguration],
      time: RequestTime, requiredSchema: StructType)
      extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

    private val ordinals = requiredSchema.map(f => AccessLogSchema.columns.indexOf(f.name))

    @transient private[sources] lazy val context: TaskAttemptContext =
      new TaskAttemptContextImpl(new TaskConf(conf.value.value),
        new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

    /** The lines of `file`'s range, closed when the task completes. */
    private[sources] def lines(file: PartitionedFile): RecordReaderIterator[Text] = {
      val reader = new HadoopLineRecordReader()
      try reader.initialize(
        new FileSplit(file.toPath, file.start, file.length, Array.empty[String]), context)
      catch {
        case e: Throwable =>
          try reader.close() catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
      val it = new RecordReaderIterator(reader)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => it.close()))
      it
    }

    override def apply(file: PartitionedFile): Iterator[InternalRow] = {
      val parsed = lines(file).map(t => UTF8String.fromBytes(t.getBytes, 0, t.getLength))
        .filter(AccessLogKernel.nonBlank)
      if (ordinals.isEmpty) {
        val empty = new UnsafeRow(0)
        parsed.map(_ => empty)
      } else {
        // a view of the required fields of the parsed row: the scan above
        // copies it into an UnsafeRow
        val pruned = ProjectingInternalRow(requiredSchema, ordinals)
        parsed.map { line => pruned.project(AccessLogKernel.parse(line, time)); pruned }
      }
    }
  }

  /** A task's read-only copy of the scan's conf. Spark's line reader asks
    * it for the `openFile` options of every object it opens
    * (`FutureIO.propagateOptions`, which scans every property for each of
    * two prefixes); nothing writes to the copy, so each prefix's answer is
    * computed once per task.
    */
  private[sources] final class TaskConf(conf: Configuration) extends JobConf(conf) {
    private val byPrefix = new ConcurrentHashMap[String, JMap[String, String]]()

    override def getPropsWithPrefix(prefix: String): JMap[String, String] =
      byPrefix.computeIfAbsent(prefix,
        p => Collections.unmodifiableMap(super.getPropsWithPrefix(p)))
  }

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("the accesslog stream requires a path"))

  /** A user-specified schema must have `AccessLogSchema`'s names and types. */
  private def requireFixedSchema(schema: Option[StructType]): Unit = schema.foreach { s =>
    def shape(t: StructType) = t.map(f => (f.name, f.dataType))
    require(shape(s) == shape(AccessLogSchema.schema),
      s"accesslog has the fixed schema ${AccessLogSchema.schema.toDDL}; got ${s.toDDL}")
  }
}
