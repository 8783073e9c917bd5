package graft.functions

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, Month}
import java.time.chrono.IsoChronology

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow,
  GetTimestamp, Literal, Predicate, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.logs.{AccessLogSchema, LogLineParser, LogLineTokenizer}

/** Raw S3 access-log line → the final typed 19-column
  * [[graft.logs.AccessLogSchema]] struct, in one pass over the line's
  * UTF-8 bytes: the kernel under [[graft.logs.LogLineParser.parse]].
  *
  * Per line it copies the bytes once, walks them with
  * [[graft.logs.LogLineTokenizer.walk]], and builds every field straight
  * from its byte range (see [[AccessLogKernel]] for the rules). No regex,
  * no `String` decode and no `java.time` parse runs on a line in the
  * common shape; anything else falls back to the regex groups and to
  * Spark's own `try_to_timestamp` (`GetTimestamp`), so every row equals
  * the declarative composition this replaced (property-checked in
  * AccessLogKernelSpec against that composition, kept as a test oracle).
  *
  * Time-zone aware: `request_time` resolves in the session time zone, as
  * `try_to_timestamp` does. A null line yields a null struct (19 nulls
  * once expanded).
  */
case class ParseAccessLog(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = AccessLogSchema.schema
  override def prettyName: String = "parse_access_log"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def withTimeZone(timeZoneId: String): ParseAccessLog =
    copy(timeZoneId = Some(timeZoneId))

  @transient private lazy val time = new RequestTime(timeZoneId.get)

  override def nullSafeEval(input: Any): Any =
    AccessLogKernel.parse(input.asInstanceOf[UTF8String], time)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("requestTime", new RequestTime(timeZoneId.get))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AccessLogKernel.parse($c, $t);")
  }

  override protected def withNewChildInternal(newChild: Expression): ParseAccessLog =
    copy(child = newChild)
}

/** True when the line has a character outside Java regex `\s` — the
  * reference strips each line and skips empties (`s3_read_file`,
  * `scripts/oss_s3_server_side_logging_compacter.py:165-167`). The same
  * whitespace class the tokenizer walk skips; null in, null out.
  */
case class NonBlankLine(child: Expression) extends UnaryExpression with Predicate {

  override def prettyName: String = "non_blank_line"

  override def nullSafeEval(input: Any): Any =
    AccessLogKernel.nonBlank(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AccessLogKernel.nonBlank($c);")

  override protected def withNewChildInternal(newChild: Expression): NonBlankLine =
    copy(child = newChild)
}

/** `request_time` from the time group (`[dd/MMM/yyyy:HH:mm:ss +0000]`),
  * resolved in one session time zone (reference `:37-42`: the text
  * between `[` and the first space, offset discarded).
  *
  * Fast path: the fixed-width text `dd/Mmm/yyyy:HH:mm:ss` with an English
  * month abbreviation in any letter case and a valid calendar date and
  * time is computed arithmetically — exactly the value Spark's
  * `dd/MMM/yyyy:HH:mm:ss` parser (case-insensitive month, strict resolver)
  * gives it, resolved in the zone as `ZonedDateTime.of` does (a gap
  * shifts forward, an overlap takes the earlier offset). Every other text
  * — an invalid date, `24:00:00`, a 5-digit year, a missing offset, or a
  * session on the LEGACY time parser — goes to `GetTimestamp` itself, as
  * `try_to_timestamp` would.
  */
final class RequestTime(timeZoneId: String) extends Serializable {

  @transient private lazy val rules = DateTimeUtils.getZoneId(timeZoneId).getRules

  /** Seconds east of UTC when the zone never changes offset, else null. */
  @transient private lazy val fixedOffset: java.lang.Integer =
    if (rules.isFixedOffset) Integer.valueOf(rules.getOffset(Instant.EPOCH).getTotalSeconds)
    else null

  @transient private lazy val fastEnabled =
    SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.LEGACY

  @transient private lazy val fallback = GetTimestamp(
    BoundReference(0, StringType, nullable = true), Literal(LogLineParser.TimeFormat),
    TimestampType, "try_to_timestamp", Some(timeZoneId), failOnError = false)

  /** Microseconds since the epoch, or null, for the time group occupying
    * `buf(s until e)` (it starts with `[`).
    */
  def micros(buf: Array[Byte], s: Int, e: Int): Any = {
    if (fastEnabled && e - s >= 22 && buf(s + 21) == ' ') {
      val local = localSeconds(buf, s + 1)
      if (local != Long.MinValue) {
        val offset = if (fixedOffset != null) fixedOffset.intValue
          else rules.getOffset(LocalDateTime.ofEpochSecond(local, 0,
            java.time.ZoneOffset.UTC)).getTotalSeconds
        return (local - offset) * 1000000L
      }
    }
    // `substr(time, 2, instr(time, ' ') - 2)`: empty without a space
    var sp = s + 1
    while (sp < e && buf(sp) != ' ') sp += 1
    val text = if (sp >= e) UTF8String.EMPTY_UTF8 else UTF8String.fromBytes(buf, s + 1, sp - s - 1)
    fallback.eval(new GenericInternalRow(Array[Any](text)))
  }

  @inline private def digit(b: Byte): Int = if (b >= '0' && b <= '9') b - '0' else -100

  @inline private def two(buf: Array[Byte], i: Int): Int = digit(buf(i)) * 10 + digit(buf(i + 1))

  /** Local seconds since 1970-01-01T00:00 of the valid fixed-width text
    * at `buf(i until i + 20)`, or Long.MinValue when it is not one.
    */
  private def localSeconds(buf: Array[Byte], i: Int): Long = {
    if (buf(i + 2) != '/' || buf(i + 6) != '/' || buf(i + 11) != ':' ||
        buf(i + 14) != ':' || buf(i + 17) != ':') return Long.MinValue
    val day = two(buf, i)
    val century = two(buf, i + 7)
    val yy = two(buf, i + 9)
    val hour = two(buf, i + 12)
    val minute = two(buf, i + 15)
    val second = two(buf, i + 18)
    // a non-digit makes its pair negative
    if (day < 1 || century < 0 || yy < 0 || hour < 0 || hour > 23 || minute < 0 ||
        minute > 59 || second < 0 || second > 59) return Long.MinValue
    val year = century * 100 + yy
    var month = 0
    var m = 0
    while (m < 12 && month == 0) {
      val name = RequestTime.Months(m)
      var k = 0
      // ASCII letters only: `| 0x20` lower-cases A-Z and leaves a-z
      while (k < 3 && buf(i + 3 + k) >= 'A' && (buf(i + 3 + k) | 0x20) == name.charAt(k)) k += 1
      if (k == 3) month = m + 1
      m += 1
    }
    if (month == 0 || day > Month.of(month).length(IsoChronology.INSTANCE.isLeapYear(year)))
      return Long.MinValue
    LocalDate.of(year, month, day).toEpochDay * 86400 + hour * 3600 + minute * 60 + second
  }
}

object RequestTime {
  private val Months: Array[String] =
    Array("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec")
}

/** The per-line work of [[ParseAccessLog]] (static call target for its
  * generated code) and the one owner of the group → typed-column rules,
  * shared with the `accesslog` reader and the `parse_log_line` function.
  *
  * Rules (reference `scripts/oss_s3_server_side_logging_compacter.py:45-100`):
  *   - unparseable line → 18 nulls + `error_line` = raw line;
  *   - `-` → null for `key`, `error_code`, `version_id`; the 3-byte `"-"`
  *     → null for `referrer`/`user_agent`; `request` keeps its quotes;
  *   - numeric fields: `-?[0-9]{1,9}` (`http_status`) or `-?[0-9]{1,18}`
  *     (the longs) as a number, anything else null — the caps stay below
  *     the type's width, so a bad or oversized token never raises;
  *   - `request_time`: [[RequestTime]].
  */
object AccessLogKernel {

  import LogLineTokenizer.NumGroups

  /** Conversion of each group, pattern order: S = string as is, T = time,
    * D = `-` is null, Q = `"-"` is null, I = int, L = long.
    */
  private val Rules: Array[Char] = "SSTSSSSDSIDLLLLQQD".toCharArray

  private val Fields = AccessLogSchema.columns.length

  def nonBlank(line: UTF8String): Boolean = {
    val n = line.numBytes
    var i = 0
    while (i < n && LogLineTokenizer.isSpace(line.getByte(i))) i += 1
    i < n
  }

  /** A line's 18 groups as byte ranges of one buffer that no caller shares. */
  final class Groups(val buf: Array[Byte], val bounds: Array[Int]) {
    @inline def start(f: Int): Int = bounds(2 * f)
    @inline def end(f: Int): Int = bounds(2 * f + 1)
    def string(f: Int): UTF8String = UTF8String.fromBytes(buf, start(f), end(f) - start(f))
  }

  /** The groups of the leftmost match of [[LogLineParser.Pattern]] in
    * `line`, or null when the line has none: the byte walk over one copy
    * of the line, else the regex over the decoded line (its groups
    * re-encoded into one buffer).
    */
  def groups(line: UTF8String): Groups = {
    val buf = new Array[Byte](line.numBytes)
    Platform.copyMemory(line.getBaseObject, line.getBaseOffset, buf,
      Platform.BYTE_ARRAY_OFFSET, buf.length)
    val bounds = new Array[Int](2 * NumGroups)
    if (LogLineTokenizer.walk(buf, buf.length, bounds)) return new Groups(buf, bounds)
    val strings = LogLineTokenizer.regexGroups(line.toString)
    if (strings == null) return null
    val encoded = strings.map(_.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Byte](encoded.map(_.length).sum)
    var at = 0
    var f = 0
    while (f < NumGroups) {
      System.arraycopy(encoded(f), 0, out, at, encoded(f).length)
      bounds(2 * f) = at
      at += encoded(f).length
      bounds(2 * f + 1) = at
      f += 1
    }
    new Groups(out, bounds)
  }

  def parse(line: UTF8String, time: RequestTime): InternalRow = {
    val g = groups(line)
    val out = new Array[Any](Fields)
    if (g == null) out(Fields - 1) = line.copy()
    else {
      var f = 0
      while (f < NumGroups) {
        out(f) = (Rules(f): @annotation.switch) match {
          case 'S' => g.string(f)
          case 'T' => time.micros(g.buf, g.start(f), g.end(f))
          case 'D' => if (is(g, f, Dash)) null else g.string(f)
          case 'Q' => if (is(g, f, QuotedDash)) null else g.string(f)
          case 'I' =>
            val v = number(g.buf, g.start(f), g.end(f), 9)
            if (v == Long.MinValue) null else Int.box(v.toInt)
          case 'L' =>
            val v = number(g.buf, g.start(f), g.end(f), 18)
            if (v == Long.MinValue) null else Long.box(v)
        }
        f += 1
      }
    }
    new GenericInternalRow(out)
  }

  private val Dash = "-".getBytes(StandardCharsets.US_ASCII)
  private val QuotedDash = "\"-\"".getBytes(StandardCharsets.US_ASCII)

  private def is(g: Groups, f: Int, sentinel: Array[Byte]): Boolean =
    java.util.Arrays.equals(g.buf, g.start(f), g.end(f), sentinel, 0, sentinel.length)

  /** `-?[0-9]{1,maxDigits}` spanning `buf(s until e)` as a number, else
    * Long.MinValue.
    */
  private def number(buf: Array[Byte], s: Int, e: Int, maxDigits: Int): Long = {
    val neg = s < e && buf(s) == '-'
    var i = if (neg) s + 1 else s
    if (e - i < 1 || e - i > maxDigits) return Long.MinValue
    var v = 0L
    while (i < e) {
      val b = buf(i)
      if (b < '0' || b > '9') return Long.MinValue
      v = v * 10 + (b - '0')
      i += 1
    }
    if (neg) -v else v
  }
}
