package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming ingest for access logs — the streaming layer the
  * reference does not have (strictly daily batch, SURVEY.md §2.10) but
  * that layers cleanly on this engine because the batch reader's
  * `accesslog` format streams too ([[graft.sources.AccessLogDataSource]]).
  *
  * Scale stance: Spark's file stream source lists incrementally
  * (maxFilesPerTrigger bounds a micro-batch); the windowed aggregation is
  * a streaming state store keyed by (window, operation) — cardinality ~
  * operations × retained windows, bounded by the watermark; the parquet
  * sink commits per micro-batch with exactly-once file-sink semantics.
  */
object LogStream {

  /** Raw line stream from a directory → canonical 19-column stream. */
  def parsedStream(spark: SparkSession, dir: String,
                   maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format("accesslog")
      .load(dir)

  /** 1-day tumbling-window operation counts with a late-data watermark
    * (the streaming twin of the reference's per-day batch determinism:
    * a day's aggregate finalizes once the watermark passes it).
    */
  def dailyOperationCounts(parsed: DataFrame,
                           watermark: String = "1 day"): DataFrame =
    parsed
      .filter(col("request_time").isNotNull)
      .withWatermark("request_time", watermark)
      .groupBy(window(col("request_time"), "1 day"), col("operation"))
      .agg(count(lit(1)).as("n_requests"),
        sum("bytes_sent").as("total_bytes"))

  /** Continuous compaction: parsed stream → date-partitioned parquet,
    * mirroring the batch Compacter's layout (dt= directory encoding via
    * partitionBy on a derived date column — streaming sinks cannot encode
    * the partition in the path string like the batch path does).
    */
  def writeCompacted(parsed: DataFrame, destRoot: String,
                     checkpoint: String): StreamingQuery =
    parsed
      // corrupt rows (null request_time) get an explicit sentinel partition
      // instead of Hive's __HIVE_DEFAULT_PARTITION__, keeping error_line
      // rows queryable and matching the batch Compacter's keep-the-corrupt-
      // rows-visible stance
      .withColumn("dt",
        coalesce(date_format(col("request_time"), "yyyy-MM-dd"), lit("corrupt")))
      .writeStream
      .format("parquet")
      .option("path", destRoot)
      .option("checkpointLocation", checkpoint)
      .partitionBy("dt")
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming exactly-once dedup on request_id: duplicate deliveries
    * (S3 log delivery is at-least-once) are dropped as long as they arrive
    * within the watermark; state is bounded by the watermark horizon
    * instead of growing with history (the difference between
    * dropDuplicatesWithinWatermark and plain dropDuplicates on a stream).
    */
  def dedupStream(parsed: DataFrame, watermark: String = "1 hour"): DataFrame =
    parsed
      .filter(col("request_id").isNotNull && col("request_time").isNotNull)
      .withWatermark("request_time", watermark)
      .dropDuplicatesWithinWatermark("request_id")

  /** Stream-stream interval join: each GET matched to EVERY PUT of the
    * same key it followed within `within` (one output row per qualifying
    * (GET, PUT) pair — a key re-written twice before a read yields two
    * rows; reduce downstream if only the latest write matters) — the
    * streaming twin of the Days Apart analysis (write-vs-read distance),
    * except both sides are live streams. Watermarks on BOTH sides
    * plus the time-bound join condition let Spark expire join state: a
    * buffered PUT can be dropped once the GET-side watermark passes
    * put_time + within, so state is O(events inside the horizon), not
    * O(history) — the condition every production stream-stream join must
    * meet or the state store grows without bound.
    */
  def getsAfterPuts(parsed: DataFrame, within: String = "1 hour"): DataFrame = {
    val puts = parsed.filter(col("operation") === "REST.PUT.OBJECT")
      .select(col("key").as("put_key"), col("request_time").as("put_time"))
      .withWatermark("put_time", within)
    val gets = parsed.filter(col("operation") === "REST.GET.OBJECT")
      .select(col("key").as("get_key"), col("request_time").as("get_time"),
        col("bytes_sent"))
      .withWatermark("get_time", within)
    gets.join(puts,
      col("get_key") === col("put_key") &&
        col("get_time") >= col("put_time") &&
        col("get_time") <= col("put_time") + expr(s"INTERVAL $within"))
      .select(col("get_key").as("key"), col("put_time"), col("get_time"),
        (unix_millis(col("get_time")) - unix_millis(col("put_time")))
          .as("millis_after_put"),
        col("bytes_sent"))
  }

  // ----------------------------------------------- stateful sessionization

  final case class RequesterEvent(requester: String, request_time: Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionUpdate(
      requester: String, session_start: Timestamp, session_end: Timestamp,
      n_requests: Long, closed: Boolean)

  /** Custom streaming state: per-requester sessions with a 30-minute idle
    * gap, via `flatMapGroupsWithState` + EVENT-time timeout. A session
    * closes either when the watermark passes last-seen + gap (timeout) or
    * when a LATER event in the same batch exceeds the gap — the flatMap
    * shape exists precisely so those intra-batch closures are emitted
    * (mapGroupsWithState can only return one row per group per batch and
    * would silently drop them). Event-time (not processing-time) timeouts:
    * deterministic on re-run, and no-data triggers don't fire. State size:
    * O(active requesters), independent of history.
    */
  def sessionize(parsed: DataFrame, gapMs: Long = 30L * 60 * 1000,
                 watermark: String = "1 hour"): Dataset[SessionUpdate] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .filter(col("requester").isNotNull && col("request_time").isNotNull)
      .withWatermark("request_time", watermark)
      .select(col("requester"), col("request_time"))
      .as[RequesterEvent]
      .groupByKey(_.requester)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (requester, events, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(requester, new Timestamp(s.start),
              new Timestamp(s.last), s.n, closed = true))
          } else {
            val times = events.map(_.request_time.getTime).toSeq.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
            // interval-merge semantics: an event extends the session if it
            // lands within gap of the session SPAN [start-gap, last+gap] —
            // start moves backward for admitted-late events (watermark >
            // gap makes them legal); a naive `t - last <= gap` would absorb
            // arbitrarily-old events because the difference goes negative.
            val merged = times.foldLeft(state.getOption) { (acc, t) =>
              acc match {
                case Some(s) if t >= s.start - gapMs && t <= s.last + gapMs =>
                  Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
                case Some(s) => // outside the span: close + restart
                  closed += SessionUpdate(requester, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, closed = true)
                  Some(SessionState(t, t, 1))
                case None => Some(SessionState(t, t, 1))
              }
            }.get
            state.update(merged)
            // close when the watermark passes the idle gap (must stay ahead
            // of the current watermark for late-arriving groups)
            state.setTimeoutTimestamp(
              math.max(merged.last + gapMs, state.getCurrentWatermarkMs() + 1))
            (closed :+ SessionUpdate(requester, new Timestamp(merged.start),
              new Timestamp(merged.last), merged.n, closed = false)).iterator
          }
      }
  }
}
