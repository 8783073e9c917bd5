package graft.logs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.ParseLogLine

/** The declarative parse the [[graft.functions.ParseAccessLog]] kernel
  * replaced, kept as a test oracle: the 18 capture groups straight from
  * `java.util.regex` (`regexp_extract` per group behind an `rlike` guard),
  * then the sentinel/null/cast column expressions and `try_to_timestamp`,
  * and `rlike("\\S")` for blank lines.
  */
object DeclarativeLogParse {

  def dropBlankLines(raw: DataFrame, lineCol: String = "value"): DataFrame =
    raw.filter(col(lineCol).rlike("\\S"))

  def parse(raw: DataFrame, lineCol: String = "value"): DataFrame = {
    val line = col(lineCol)
    val groups = struct(ParseLogLine.groupNames.zipWithIndex.map { case (n, i) =>
      regexp_extract(line, LogLineParser.Pattern, i + 1).as(n)
    }: _*)
    val withP = raw.select(line.as("_line"),
      when(line.rlike(LogLineParser.Pattern), groups).as("_parsed"))

    val p = col("_parsed")
    val matched = p.isNotNull
    def g(name: String): Column = p.getField(name)
    def dashNull(name: String): Column = nullif(g(name), lit("-"))
    def quotedDashNull(name: String): Column = nullif(g(name), lit("\"-\""))
    def dashNullAs(name: String, t: org.apache.spark.sql.types.DataType): Column = {
      val maxDigits = t match {
        case IntegerType => 9
        case _ => 18
      }
      val c = g(name)
      when(c.rlike(s"^-?[0-9]{1,$maxDigits}$$"), c.cast(t))
    }
    val timeGrp = g("time")
    val tsText = timeGrp.substr(lit(2), instr(timeGrp, " ") - 2)
    val requestTime = try_to_timestamp(tsText, lit(LogLineParser.TimeFormat))

    withP.select(
      g("owner").as("bucket_owner"),
      g("bucket").as("s3_bucket"),
      requestTime.as("request_time"),
      g("ip").as("remote_ip"),
      g("requester").as("requester"),
      g("reqid").as("request_id"),
      g("operation").as("operation"),
      dashNull("key").as("key"),
      g("request").as("request"),
      dashNullAs("status", IntegerType).as("http_status"),
      dashNull("error").as("error_code"),
      dashNullAs("bytes", LongType).as("bytes_sent"),
      dashNullAs("size", LongType).as("object_size"),
      dashNullAs("totaltime", LongType).as("total_time"),
      dashNullAs("turnaround", LongType).as("turn_around_time"),
      quotedDashNull("referrer").as("referrer"),
      quotedDashNull("useragent").as("user_agent"),
      dashNull("version").as("version_id"),
      when(matched, lit(null).cast("string")).otherwise(col("_line")).as("error_line")
    )
  }
}
