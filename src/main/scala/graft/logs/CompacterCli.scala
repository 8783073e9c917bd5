package graft.logs

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's argparse surface
  * (`scripts/oss_s3_server_side_logging_compacter.py:311-350`):
  *
  * {{{
  * --aws-config <path>                JSON keyfile {accessKeyId, secretAccessKey}
  * --source-access-log-bucket <uri>   root holding raw log objects
  * --source-bucket <name>             monitored bucket (listing sub-prefix)
  * --destination-log-bucket <uri>     where compacted parquet goes
  * --destination-log-prefix <prefix>  prefix under the destination
  * --num-output-files <n>             parquet files per day (default 10)
  * --min-date <YYYY-MM-DD>            inclusive
  * --max-date <YYYY-MM-DD>            exclusive
  * --compression <codec>              parquet codec (default snappy; zstd
  *                                    writes smaller files)
  * }}}
  *
  * Credentials: `--aws-config` reads the reference's JSON keyfile shape
  * (`README.md:63-73`) into explicit S3A keys. OMITTED by default — then
  * credentials come from standard Hadoop/AWS config (core-site,
  * environment, instance profile): pluggable auth, the reference README's
  * explicit wish (`README.md:75-79`).
  */
object CompacterCli {

  def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
          loop(tail, acc + (k.stripPrefix("--") -> v))
        case k :: _ if k.startsWith("--") =>
          throw new IllegalArgumentException(s"flag $k has no value")
        case k :: _ =>
          throw new IllegalArgumentException(s"unexpected argument '$k' (expected a --flag)")
      }
    loop(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))

    val cfg = Compacter.Config(
      accessLogRoot = req("source-access-log-bucket"),
      sourceBucket = req("source-bucket"),
      destRoot = s"${req("destination-log-bucket")}/${opts.getOrElse("destination-log-prefix", "s3_server_side_access_logs")}",
      numOutputFiles = opts.getOrElse("num-output-files", "10").toInt,
      // size-targeted alternative to a fixed count (extension):
      // --target-file-mb 256 derives the per-day file count from raw bytes
      targetFileMb = opts.get("target-file-mb").map(_.toInt),
      // --zorder-by request_time,requester → multi-column Z-order
      // clustering instead of the time-only within-file sort (extension);
      // an explicitly-passed flag must name at least one column — a
      // silently ignored empty list would skip the requested clustering
      zorderBy = opts.get("zorder-by").map { v =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "--zorder-by requires a non-empty column list")
        cols
      }.getOrElse(Seq.empty),
      // --compression zstd: smaller files than the snappy default
      // (README "Write path, measured")
      compression = opts.getOrElse("compression", "snappy")
    )
    val builder = SparkSession.builder()
      .appName("graft-log-compacter")
      // off as in the reference (:189-192), but not for output safety: a
      // stray attempt's files stay in staging, and only the files named by
      // the job's results are published (DayWriter)
      .config("spark.speculation", "false")
      .config("spark.sql.session.timeZone", "UTC")
    // Under spark-submit the master comes from the launcher; standalone
    // (sbt run, plain java) falls back to all local cores.
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    try {
      opts.get("aws-config").foreach(
        Compacter.configureS3CredentialsFromFile(spark, _))
      Compacter.compactRange(spark, cfg,
        LocalDate.parse(req("min-date")), LocalDate.parse(req("max-date")))
        .foreach(st => println(dayLine(st)))
    } finally spark.stop()
  }

  /** The JSON line printed per written day: destination, rows, corrupt
    * rows, files, and raw bytes in and Parquet bytes out.
    */
  def dayLine(st: Compacter.DayStats): String =
    new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
      .put("dest", st.dest).put("rows", st.rows).put("corrupt_rows", st.corruptRows)
      .put("files", st.files).put("bytes_in", st.bytesIn).put("bytes_out", st.bytesOut)
      .toString
}
