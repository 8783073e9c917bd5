package graft.logs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Paginated per-day object listing, the reference's manual
  * partition-pruning-at-listing-time step
  * (`scripts/oss_s3_server_side_logging_compacter.py:128-151`): the date
  * filter runs on the driver, so it never touches Spark. Unlike the
  * reference, which lists server-side with `Prefix={sourceBucket}/{date}-`,
  * this pages through EVERY object directly under `{sourceBucket}/` and
  * keeps the names starting with `{YYYY-MM-DD}-`: a day's listing costs
  * the whole bucket prefix, not just that day.
  *
  * Uses Hadoop `FileSystem.listStatusIterator` — a RemoteIterator that pages
  * under the hood (on s3a it issues continuation-token ListObjectsV2 calls),
  * keeping driver memory bounded even at >1M keys (the slides'
  * "Paginate? Paginate." OOM lesson). Works identically over `file:` for
  * local fixtures and `s3a:` in production.
  */
object LogFileLister {

  /** The reference's per-day listing: statuses of the files directly under
    * `{accessLogRoot}/{sourceBucket}/` named `{date}-*` (reference `:212-213`
    * builds prefix `'{source_bucket}/{partition_key}-'`). Streaming,
    * driver-bounded; the statuses feed both output sizing and the scan.
    */
  def listDayStatuses(accessLogRoot: String, sourceBucket: String, date: String,
                      conf: Configuration = new Configuration()): Seq[FileStatus] = {
    val dir = new Path(s"$accessLogRoot/$sourceBucket")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Seq.empty
    val it = fs.listStatusIterator(dir)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && st.getPath.getName.startsWith(s"$date-")).toSeq
  }

  def listDayWithSizes(accessLogRoot: String, sourceBucket: String, date: String,
                       conf: Configuration = new Configuration()): Seq[(String, Long)] =
    listDayStatuses(accessLogRoot, sourceBucket, date, conf)
      .map(st => (st.getPath.toString, st.getLen))
}
