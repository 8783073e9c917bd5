package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.TaskContext
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory,
  PartitionedFile, TextBasedFileFormat}
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
  * splits (`spark.sql.files.maxPartitionBytes` and `openCostInBytes`),
  * splitting uncompressed files at line boundaries, decompression, the
  * stream's seen-file log, and evaluating every pushed filter above the
  * scan. The format adds the parse: blank lines are dropped (the reference
  * strips and skips empties, `:165-167`), every other line goes once
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

  /** Public, where Spark's is protected: the compacter reads its own byte
    * ranges through it. Each row is a view of the parsed line, which the
    * scan above copies once.
    */
  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    AccessLogDataSource.requireFixedSchema(Some(dataSchema))
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val time = new RequestTime(getSqlConf(spark).sessionLocalTimeZone)
    val ordinals = requiredSchema.map(f => AccessLogSchema.columns.indexOf(f.name))
    (file: PartitionedFile) => {
      val reader = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
      val lines = reader.map(t => UTF8String.fromBytes(t.getBytes, 0, t.getLength))
        .filter(AccessLogKernel.nonBlank)
      if (ordinals.isEmpty) {
        val empty = new UnsafeRow(0)
        lines.map(_ => empty)
      } else {
        // a view of the required fields of the parsed row: the inherited
        // buildReaderWithPartitionValues copies it into an UnsafeRow
        val pruned = ProjectingInternalRow(requiredSchema, ordinals)
        lines.map { line => pruned.project(AccessLogKernel.parse(line, time)); pruned }
      }
    }
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
