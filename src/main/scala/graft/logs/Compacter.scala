package graft.logs

import java.time.LocalDate

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** Per-day raw-log → Parquet compaction: the reference's
  * `convert_s3_access_logs_to_parquet`
  * (`scripts/oss_s3_server_side_logging_compacter.py:174-266`), Spark-first.
  *
  * Differences by design (not behavior):
  *  - one SparkSession reused across days (the reference stops/starts a
  *    session per day, an artifact, reference `:184-196,263-266`);
  *  - no RDD / Python-worker hop: a text scan + pure column
  *    expressions, whole plan in Catalyst/Tungsten codegen;
  *  - each day is listed once: the scan reuses the lister's statuses;
  *  - ingest parallelism comes from the text source's file splitting
  *    (`spark.sql.files.maxPartitionBytes`) instead of
  *    `parallelize(paths, 100)` (reference `:214`).
  *
  * Behavior preserved:
  *  - `repartition(numOutputFiles)` then `sortWithinPartitions(request_time)`
  *    — partition-LOCAL sort so Parquet row groups are time-clustered without
  *    a global range exchange (the reference's "Hotfix" comment, `:253-258`);
  *  - snappy Parquet, TIMESTAMP_MILLIS, `dt=` encoded in the destination
  *    PATH only — `dt` is NOT a data column in the files (reference
  *    `partitionBy([])` + path interpolation, `:245-251,261`);
  *  - one write per day that replaces the previous copy; the reference
  *    pins committer v2 + speculation off for this (`:189-200`), here
  *    [[DayWriter]] stages the files beside `dt=` and publishes them whole,
  *    with `_SUCCESS`, only after every task has succeeded.
  */
object Compacter {

  final case class Config(
      accessLogRoot: String,   // bucket/dir holding raw log objects
      sourceBucket: String,    // the monitored bucket (= listing sub-prefix)
      destRoot: String,        // e.g. s3a://dest-bucket/some/prefix
      numOutputFiles: Int = 10, // reference CLI default (:338-341)
      // When set, numOutputFiles is IGNORED and the per-day file count is
      // derived from that day's raw bytes so output parquet files land
      // near this size regardless of daily volume swings — a fixed count
      // either fragments quiet days or bloats busy ones at 100 TB.
      targetFileMb: Option[Int] = None,
      // When set, the within-day clustering generalizes from the
      // reference's time-only sortWithinPartitions(request_time) to a
      // Z-order over these columns (ext.Layout): each output file covers
      // a narrow range of EVERY listed column, so row-group min/max stats
      // prune `requester = X AND request_time BETWEEN ...`-style queries
      // instead of only time ranges. Empty = reference behavior.
      zorderBy: Seq[String] = Seq.empty,
      // Parquet codec. Default = the reference's snappy; measured on the
      // 1M-line day (tools.WriterBench, README "write path"), zstd writes
      // FASTER than snappy and 38% smaller — worth switching when the
      // downstream reader fleet has zstd (any Spark/Trino/DuckDB of the
      // last several years does).
      compression: String = "snappy"
  )

  /** Measured raw-text → snappy-parquet size ratio for S3 access logs
    * (262 MB raw compacted to 60 MB in the 1M-line benchmark, README).
    */
  val ParquetCompressionRatio: Double = 0.25

  /** Files for a day given its raw listing size under the target-size
    * policy; always ≥ 1.
    */
  def outputFilesFor(cfg: Config, rawBytes: Long): Int = cfg.targetFileMb match {
    case Some(mb) =>
      math.max(math.ceil(
        rawBytes * ParquetCompressionRatio / (mb.toLong << 20)).toInt, 1)
    case None => cfg.numOutputFiles
  }

  /** Session settings the output format needs: TIMESTAMP_MILLIS, as the
    * reference pins (`:193-194`). Safe to call on an existing session;
    * returns it for chaining. (`spark.speculation` must be set at session
    * build — see CompacterCli — it is not runtime-mutable.)
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    spark
  }

  /** Explicit S3A keys (the reference's JSON-keyfile path, `:28-34,201-207`).
    * Optional — prefer the default AWS provider chain (instance profile,
    * env) in production; the reference README wishes for exactly this
    * pluggability (`README.md:75-79`).
    */
  def configureS3Credentials(spark: SparkSession,
                             accessKey: String, secretKey: String): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    spark
  }

  /** Parse the reference's AWS keyfile shape
    * (`get_aws_key_and_secret`, reference `scripts/...py:28-34`;
    * `README.md:63-73`): a JSON object with `accessKeyId` and
    * `secretAccessKey` (extra fields like `region` are ignored, as the
    * reference ignores them). Returns (access key, secret key); fails
    * loudly on a missing/blank field rather than configuring S3A with an
    * empty credential.
    */
  def readAwsConfig(path: String): (String, String) = {
    val node = Option(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path)))
      .getOrElse(throw new IllegalArgumentException(
        s"AWS config $path is empty or not JSON"))
    def field(name: String): String =
      // filterNot(isNull): a JSON null's asText is the literal string
      // "null", which would silently configure S3A with a bogus key and
      // surface later as an opaque 403 instead of failing here
      Option(node.get(name)).filterNot(_.isNull).map(_.asText)
        .filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException(
            s"AWS config $path is missing required field '$name'"))
    (field("accessKeyId"), field("secretAccessKey"))
  }

  /** [[readAwsConfig]] + [[configureS3Credentials]] in one step — the
    * `--aws-config` CLI path.
    */
  def configureS3CredentialsFromFile(spark: SparkSession, path: String): SparkSession = {
    val (key, secret) = readAwsConfig(path)
    configureS3Credentials(spark, key, secret)
  }

  def destinationFor(cfg: Config, dt: String): String =
    s"${cfg.destRoot}/${cfg.sourceBucket}/dt=$dt"

  /** Read + parse exactly the listed raw log objects (no write). The scan
    * is a text `HadoopFsRelation` over an `InMemoryFileIndex` whose status
    * cache returns the listed statuses, so Spark runs no existence check and
    * no leaf-file listing job (bare paths would be statted again). Assumes
    * S3 access-log objects are immutable once delivered, so a listed length
    * is final; an object gone since listing fails the scan loudly
    * (`ignoreMissingFiles` stays off) rather than dropping its rows.
    */
  def readListed(spark: SparkSession, listed: Seq[FileStatus]): DataFrame = {
    val byPath = listed.map(st => st.getPath -> Array(st)).toMap
    val listedOnly = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_.getPath), Map.empty, None,
      listedOnly, Some(PartitionSpec.emptySpec))
    val text = HadoopFsRelation(index, partitionSchema = new StructType(),
      dataSchema = new StructType().add("value", StringType), bucketSpec = None,
      fileFormat = new TextFileFormat, options = Map.empty)(spark)
    LogLineParser.parse(LogLineParser.dropBlankLines(spark.baseRelationToDataFrame(text)))
  }

  /** Per-day compaction outcome: where it wrote and what it saw. The
    * corrupt count surfaces the PERMISSIVE error_line channel (reference
    * `:47-69`) as an operational metric — a spike is how log-format drift
    * gets noticed. `bytesIn` is the listed raw size, `bytesOut` the size
    * of the published Parquet files.
    */
  final case class DayStats(dest: String, rows: Long, corruptRows: Long,
                            files: Int = 0, bytesIn: Long = 0L, bytesOut: Long = 0L)

  /** Compact one day's raw files into `destRoot/sourceBucket/dt=<dt>/`.
    * Returns the destination path, or None if the day had no raw objects
    * (no-op, nothing written).
    */
  def compactDay(spark: SparkSession, cfg: Config, dt: String): Option[String] =
    compactDayWithStats(spark, cfg, dt).map(_.dest)

  /** As `compactDay`, additionally reporting what the day's write tasks
    * counted: rows, corrupt rows, files and bytes. The day is written by
    * [[DayWriter]] (staged, then published whole); on the zorder path the
    * parsed frame is cached so the boundary/sketch passes and the write
    * still read the raw text once.
    */
  def compactDayWithStats(spark: SparkSession, cfg: Config,
                          dt: String): Option[DayStats] = {
    val dest = destinationFor(cfg, dt)
    val listed = LogFileLister.listDayStatuses(
      cfg.accessLogRoot, cfg.sourceBucket, dt,
      spark.sparkContext.hadoopConfiguration)
    if (listed.isEmpty) return None
    val bytesIn = listed.map(_.getLen).sum
    val numFiles = outputFilesFor(cfg, bytesIn)
    configure(spark)
    val parsed = readListed(spark, listed)
    val files = if (cfg.zorderBy.isEmpty) {
      DayWriter.write(parsed.repartition(numFiles).sortWithinPartitions("request_time"),
        dest, cfg.compression)
    } else {
      // the zorder path needs boundary/sampling passes BEFORE the write
      // (quantile collect + range-partitioner sketch) — cache the parsed
      // frame so the raw text is read and parsed once, not three times
      val cached = parsed.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try DayWriter.write(graft.ext.Layout.zorderCluster(cached, cfg.zorderBy, numFiles),
        dest, cfg.compression)
      finally cached.unpersist()
    }
    Some(DayStats(dest, files.map(_.rows).sum, files.map(_.corruptRows).sum,
      files.size, bytesIn, files.map(_.bytes).sum))
  }

  private def days(minDate: LocalDate, maxDate: LocalDate): Seq[String] =
    Iterator.iterate(minDate)(_.plusDays(1))
      .takeWhile(_.isBefore(maxDate)).map(_.toString).toSeq

  /** Day loop `[minDate, maxDate)` (reference `date_iterator` + per-day loop,
    * `:269-302`), one session for the whole range. Returns the stats of the
    * days actually written, in day order.
    */
  def compactRange(spark: SparkSession, cfg: Config,
                   minDate: LocalDate, maxDate: LocalDate): Seq[DayStats] =
    days(minDate, maxDate).flatMap(compactDayWithStats(spark, cfg, _))

  /** As [[compactRange]], but with up to `maxConcurrent` day jobs in
    * flight at once — on a real cluster a single day's tail (straggler
    * tasks, listing, commit) leaves executors idle, and days are
    * embarrassingly parallel: disjoint inputs, disjoint `dt=` output
    * directories, one shared SparkSession (whose scheduler interleaves
    * concurrent jobs safely; use a FAIR pool if days must not starve each
    * other). Results come back in day order; semantics are identical to
    * the sequential loop — same rows, same per-day file counts, same
    * deterministic re-runs.
    */
  def compactRangeConcurrent(spark: SparkSession, cfg: Config,
                             minDate: LocalDate, maxDate: LocalDate,
                             maxConcurrent: Int = 4): Seq[DayStats] = {
    require(maxConcurrent > 0, "maxConcurrent must be positive")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxConcurrent)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val written = days(minDate, maxDate).map(d => Future(compactDayWithStats(spark, cfg, d)))
      val out = Await.result(Future.sequence(written), Duration.Inf).flatten
      pool.shutdown()
      out
    } catch {
      case e: Throwable =>
        // fail-fast must not leave day jobs writing in the background: a
        // caller retrying sequentially would race the zombies into the
        // same dt= directories. Interrupt queued+running work and WAIT.
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        throw e
    }
  }
}
