package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase
import graft.logs.{DeclarativeLogParse, LogLineFuzz, LogLineParser}

/** The parse kernel equals the declarative parse it replaced
  * ([[DeclarativeLogParse]]: regex groups, sentinel/cast columns,
  * `try_to_timestamp`, `rlike("\\S")`) row for row — blank-line filter
  * included — on seeded mutations and on time, numeric and encoding edge
  * cases, under several session time zones, through both generated code
  * (a file scan) and interpreted evaluation (a local relation).
  */
class AccessLogKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val canonical = LogLineFuzz.canonical
  private def time(t: String) = canonical.replace("[06/Feb/2019:00:00:38 +0000]", t)
  private def status(s: String) = canonical.replace(" 200 ", s" $s ")
  private def bytesSent(s: String) = canonical.replace(" 512 ", s" $s ")

  private val timeEdges = Seq(
    // invalid day of month, leap years
    "[31/Feb/2019:00:00:38 +0000]", "[29/Feb/2019:00:00:38 +0000]",
    "[29/Feb/2020:00:00:38 +0000]", "[29/Feb/1900:00:00:38 +0000]",
    "[29/Feb/2000:00:00:38 +0000]", "[31/Apr/2019:00:00:38 +0000]",
    "[00/Jan/2019:00:00:38 +0000]", "[32/Jan/2019:00:00:38 +0000]",
    // month letter case and spelling
    "[06/feb/2019:00:00:38 +0000]", "[06/FEB/2019:00:00:38 +0000]",
    "[06/fEb/2019:00:00:38 +0000]", "[06/Sept/2019:00:00:38 +0000]",
    "[06/June/2019:00:00:38 +0000]", "[06/\u017Fep/2019:00:00:38 +0000]",
    "[06/Fe/2019:00:00:38 +0000]", "[06/F3b/2019:00:00:38 +0000]",
    "[06/F\u00E9b/2019:00:00:38 +0000]",
    // time of day
    "[06/Feb/2019:24:00:00 +0000]", "[06/Feb/2019:23:59:60 +0000]",
    "[06/Feb/2019:23:60:00 +0000]", "[06/Feb/2019:0a:00:38 +0000]",
    "[06/Feb/2019:00:00:38.123 +0000]", "[06/Feb/2019-00:00:38 +0000]",
    // offset and separators
    "[06/Feb/2019:00:00:38]", "[06/Feb/2019:00:00:38+0000]",
    "[06/Feb/2019:00:00:38  +0000]", "[ 06/Feb/2019:00:00:38 +0000]",
    "[06/Feb/2019:00:00:38\u00A0+0000]", "[06/Feb/2019:00:00:38\t+0000]",
    "[6/Feb/2019:00:00:38 +0000]", "[]", "[ ]", "[x ]", "[06/Feb/2019:00:00:38 ]",
    // years
    "[06/Feb/12019:00:00:38 +0000]", "[06/Feb/0000:00:00:38 +0000]",
    "[06/Feb/0001:00:00:38 +0000]", "[31/Dec/9999:23:59:59 +0000]",
    "[01/Jan/1970:00:00:00 +0000]", "[31/Dec/1969:23:59:59 +0000]",
    "[04/Oct/1582:00:00:00 +0000]", "[15/Oct/1582:00:00:00 +0000]",
    "[06/Feb/20a9:00:00:38 +0000]", "[06/Feb/-019:00:00:38 +0000]",
    // America/Los_Angeles gap (02:00-03:00 on 10 Mar 2019) and overlap
    // (01:00-02:00 twice on 3 Nov 2019)
    "[10/Mar/2019:01:59:59 -0800]", "[10/Mar/2019:02:00:00 -0800]",
    "[10/Mar/2019:02:30:00 -0800]", "[10/Mar/2019:03:00:00 -0700]",
    "[03/Nov/2019:00:59:59 -0700]", "[03/Nov/2019:01:30:00 -0700]",
    "[03/Nov/2019:02:00:00 -0800]"
  ).map(time)

  private val numericEdges =
    Seq("-0", "-", "--1", "+1", "0", "007", "999999999", "1000000000", "-999999999",
      "-1000000000", "2147483647", "0000000001", "1e3", "12a", "\uFF11\uFF12", "\u0661")
      .map(status) ++
    Seq("-0", "--1", "999999999999999999", "1000000000000000000", "-999999999999999999",
      "9223372036854775807", "000000000000000001", "1.5").map(bytesSent)

  private val encodingEdges = Seq(
    canonical.replace(" V", " \uD83D\uDE00"),
    canonical.replace(" V", " \uD83D\uDE00x"),
    canonical.replace(" V", " \u00E9"),
    canonical.replace("k/p", "k/\u00FCber/\u6587\uD83D\uDE00"),
    canonical.replace("agent x", "\u00A0agent\u2028x"),
    canonical.replace("arn:req", "arn\u00A0req"),
    canonical.replace(" RID7 ", "\u00A0RID7 "),      // NBSP is not a separator
    canonical.replace(" RID7 ", "\tRID7 "),          // tab: regex fallback
    canonical.replace(" RID7 ", "  RID7 "),          // double space: regex fallback
    "\t" + canonical, "\u000B " + canonical, canonical + "\u0085",
    canonical.replace(" 200 ", " 200\u3000"),
    "\u6587\u6587 \u6587", "\uD83D\uDE00",
    canonical.replace("\"-\"", "\"\u2013\""), canonical.replace("\"-\"", "-"),
    canonical.replace(" - ", " \u2013 ")
  )

  /** Lines whose only difference from blank is the whitespace class. */
  private val blankEdges = Seq("", " ", "\t", "\u000B", "\f", " \t ", "\u001C", "\u00A0",
    "\u2028", "\u0085", "\u3000", "x")

  private val lines: Seq[String] =
    LogLineFuzz.mutations(20000, 7) ++ timeEdges ++ numericEdges ++ encodingEdges ++ blankEdges

  /** Malformed UTF-8 (a stray continuation byte, a surrogate, a cut-off
    * sequence) inside fields of a valid line: only a file can carry them.
    */
  private val malformed: Seq[Array[Byte]] = {
    val ascii = canonical.getBytes(UTF_8)
    val key = canonical.indexOf("k/p") + 1
    val ua = canonical.indexOf("agent") + 2
    Seq(Array(0x80), Array(0xED, 0xA0, 0x80), Array(0xE2, 0x82), Array(0xC0, 0xAF))
      .flatMap(bad => Seq(key, ua).map(at => ascii.take(at) ++ bad.map(_.toByte) ++ ascii.drop(at))) :+
      (ascii.dropRight(1) :+ 0xF0.toByte)
  }

  private def fileOf(lines: Seq[String], raw: Seq[Array[Byte]]): String = {
    val dir = Files.createTempDirectory("graft-kernel-spec")
    val nl = Array('\n'.toByte)
    Files.write(dir.resolve("lines.txt"),
      (lines.map(_.getBytes(UTF_8)) ++ raw).flatMap(_ ++ nl).toArray)
    dir.toString
  }

  private def assertSameRows(kernel: DataFrame, oracle: DataFrame, clue: String): Unit = {
    assert(kernel.schema == oracle.schema, clue)
    val (k, o) = (kernel.collect(), oracle.collect())
    assert(k.length == o.length, clue)
    k.zip(o).foreach { case (a, b) => assert(a == b, s"$clue\nkernel: $a\noracle: $b") }
  }

  private def underZone[T](tz: String)(body: => T): T = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  private val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")

  test("kernel equals the declarative parse: file scan (generated code), three zones") {
    val dir = fileOf(lines, malformed)
    zones.foreach { tz =>
      underZone(tz) {
        val raw = spark.read.text(dir)
        assertSameRows(
          LogLineParser.parse(LogLineParser.dropBlankLines(raw)),
          DeclarativeLogParse.parse(DeclarativeLogParse.dropBlankLines(raw)), tz)
      }
    }
  }

  test("kernel equals the declarative parse: local relation (interpreted), three zones") {
    val edges = (timeEdges ++ numericEdges ++ encodingEdges ++ blankEdges).toDF("value")
    zones.foreach { tz =>
      underZone(tz) {
        assertSameRows(LogLineParser.parse(edges), DeclarativeLogParse.parse(edges), tz)
        assertSameRows(LogLineParser.dropBlankLines(edges),
          DeclarativeLogParse.dropBlankLines(edges), tz)
      }
    }
  }

  test("under the LEGACY time parser every request_time comes from GetTimestamp") {
    val edges = timeEdges.toDF("value")
    val key = "spark.sql.legacy.timeParserPolicy"
    val before = spark.conf.get(key)
    spark.conf.set(key, "LEGACY")
    try Seq("UTC", "America/Los_Angeles").foreach { tz =>
      underZone(tz) {
        assertSameRows(LogLineParser.parse(edges), DeclarativeLogParse.parse(edges), s"LEGACY $tz")
      }
    } finally spark.conf.set(key, before)
  }

  test("digits before a trailing line separator: null, where the old cast raised") {
    // `$` in `^-?[0-9]{1,9}$` matches before a final U+2028/U+2029/U+0085,
    // so the declarative parse sent "200" + U+2028 to an ANSI cast, which
    // failed the whole job; the kernel applies the rule to the whole token
    val lines = Seq("\u2028", "\u2029", "\u0085").map(t => status("200" + t)).toDF("value")
    val rows = LogLineParser.parse(lines).select("http_status", "error_line").collect()
    assert(rows.toSeq == Seq.fill(3)(Row(null, null)))
    val raised = intercept[Exception](DeclarativeLogParse.parse(lines).collect())
    assert(raised.getMessage.contains("CAST_INVALID_INPUT"), raised.getMessage)
  }
}
