package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded raw S3 access-log generator.
  *
  * Writes one day as `objects` files of `linesPerObject` lines each, named
  * `<dt>-HH-MM-SS-<id>` under `<rawRoot>/<SourceBucket>/`, the layout
  * `LogFileLister.listDay` reads. Alongside the files it returns what a
  * correct compaction and a correct Days Apart query must report for them.
  *
  * The line mix exercises what the Days Apart query depends on:
  *  - requesters are Zipf-skewed over [[Roles]] assumed roles, each line
  *    carrying its own `/i-<instance>` suffix that the query strips; a few
  *    are plain canonical user ids;
  *  - keys are `logs/<family>/YYYY/MM/DD/part-N.gz` over [[Families]] log
  *    families, with the written date [[OldShare]] of the time more than
  *    400 days before the read date, so the `days_apart > 400` cut keeps
  *    about that share of the GET rows;
  *  - request times are shuffled within the day, so the within-file sort
  *    does real work;
  *  - a small share of lines is blank (dropped) or corrupt (kept in
  *    `error_line`).
  *
  * The same seed gives byte-identical files.
  */
object Gen {

  val SourceBucket = "bench-source"
  val Roles = 1000
  val Families = 50
  val OldShare = 0.5
  val Threshold = 400

  /** Key of a Days Apart group, as the query prints it. */
  final case class GroupKey(requester: String, logName: String)
  final case class GroupVal(accessCount: Long, totalBytes: Long) {
    def +(o: GroupVal): GroupVal =
      GroupVal(accessCount + o.accessCount, totalBytes + o.totalBytes)
  }
  type Answer = Map[GroupKey, GroupVal]

  /** What one generated day must compact to. `lines` counts every line
    * the text reader returns; `rows` the non-blank ones the compacter
    * keeps; `corrupt` those that land in `error_line`.
    */
  final case class DayTruth(dt: String, files: Int, lines: Long, rows: Long,
                            corrupt: Long, rawBytes: Long, answer: Answer)

  final case class Shape(objects: Int, linesPerObject: Int)

  def mergeAnswers(as: Iterable[Answer]): Answer =
    as.foldLeft(Map.empty[GroupKey, GroupVal]) { (acc, a) =>
      a.foldLeft(acc) { case (m, (k, v)) => m.updated(k, m.get(k).fold(v)(_ + v)) }
    }

  private val Owner = "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"
  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Oct", "Nov", "Dec")
  private val Agents = Array("\"aws-sdk-java/1.12.261\"", "\"Boto3/1.26.0\"",
    "\"aws-cli/2.9.1\"", "\"-\"")

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val RoleCdf = zipfCdf(Roles, 1.1)
  private val FamilyCdf = zipfCdf(Families, 0.6)

  private def draw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val RoleArns =
    Array.tabulate(Roles)(i => f"arn:aws:iam::123456789012:assumed-role/role-$i%04d")
  private val FamilyNames = Array.tabulate(Families)(i => f"family-$i%02d")

  private def hex(rnd: SplittableRandom, digits: Int): String = {
    val sb = new java.lang.StringBuilder(digits)
    var i = 0
    while (i < digits) { sb.append(Character.forDigit(rnd.nextInt(16), 16)); i += 1 }
    sb.toString
  }

  private def pad(sb: java.lang.StringBuilder, v: Int, width: Int): java.lang.StringBuilder = {
    var digits = 1
    var x = v / 10
    while (x > 0) { digits += 1; x /= 10 }
    while (digits < width) { sb.append('0'); digits += 1 }
    sb.append(v)
  }

  /** Independent stream per (seed, day): days can be generated in any
    * order and still match.
    */
  private def dayRandom(seed: Long, dt: LocalDate): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ dt.toEpochDay * 0xBF58476D1CE4E5B9L)

  /** Write one day under `rawRoot` and return its truth. */
  def writeDay(rawRoot: Path, seed: Long, dt: LocalDate, shape: Shape): DayTruth = {
    val dir = rawRoot.resolve(SourceBucket)
    Files.createDirectories(dir)
    val rnd = dayRandom(seed, dt)
    val answer = scala.collection.mutable.HashMap.empty[GroupKey, GroupVal]
    var lines, rows, corrupt, rawBytes = 0L
    val sb = new java.lang.StringBuilder(shape.linesPerObject * 360)
    var obj = 0
    while (obj < shape.objects) {
      sb.setLength(0)
      var i = 0
      while (i < shape.linesPerObject) {
        lines += 1
        val r = rnd.nextDouble()
        if (r < 0.002) {
          sb.append(if (r < 0.001) "" else " \t ").append('\n')
        } else if (r < 0.004) {
          rows += 1; corrupt += 1
          sb.append("corrupt record ").append(hex(rnd, 12)).append(" is not an access log\n")
        } else {
          rows += 1
          appendLine(sb, rnd, dt, answer)
        }
        i += 1
      }
      val name = f"$dt-${obj % 24}%02d-${obj / 24 % 60}%02d-${obj / 1440 % 60}%02d-$obj%08X"
      val bytes = sb.toString.getBytes(US_ASCII)
      Files.write(dir.resolve(name), bytes)
      rawBytes += bytes.length
      obj += 1
    }
    DayTruth(dt.toString, shape.objects, lines, rows, corrupt, rawBytes, answer.toMap)
  }

  private def appendLine(sb: java.lang.StringBuilder, rnd: SplittableRandom,
                         dt: LocalDate,
                         answer: scala.collection.mutable.HashMap[GroupKey, GroupVal]): Unit = {
    val opDraw = rnd.nextInt(20)
    val (op, verb) =
      if (opDraw < 12) ("REST.GET.OBJECT", "GET")
      else if (opDraw < 17) ("REST.PUT.OBJECT", "PUT")
      else ("REST.HEAD.OBJECT", "HEAD")
    val statusDraw = rnd.nextInt(100)
    val status =
      if (statusDraw < 85) 200 else if (statusDraw < 90) 206
      else if (statusDraw < 94) 304 else if (statusDraw < 97) 403 else 404
    val family = FamilyNames(draw(FamilyCdf, rnd))
    val canonical = rnd.nextInt(10) == 0
    val requesterBase =
      if (canonical) hex(rnd, 64)
      else RoleArns(draw(RoleCdf, rnd))
    val requester = if (canonical) requesterBase else requesterBase + "/i-" + hex(rnd, 17)
    val back =
      if (rnd.nextDouble() < OldShare) Threshold + 1 + rnd.nextInt(800)
      else rnd.nextInt(Threshold + 1)
    val written = dt.minusDays(back)
    val key = new java.lang.StringBuilder(48).append("logs/").append(family).append('/')
    pad(key, written.getYear, 4).append('/')
    pad(key, written.getMonthValue, 2).append('/')
    pad(key, written.getDayOfMonth, 2).append("/part-")
    pad(key, rnd.nextInt(100000), 5).append(".gz")
    val sec = rnd.nextInt(86400)
    val bytes = 100L + rnd.nextInt(5000000)
    val total = 1 + rnd.nextInt(900)
    val ip = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
    sb.append(Owner).append(' ').append(SourceBucket).append(" [")
    pad(sb, dt.getDayOfMonth, 2).append('/').append(Months(dt.getMonthValue - 1)).append('/')
    pad(sb, dt.getYear, 4).append(':')
    pad(sb, sec / 3600, 2).append(':')
    pad(sb, sec / 60 % 60, 2).append(':')
    pad(sb, sec % 60, 2).append(" +0000] ")
    sb.append(ip).append(' ').append(requester).append(' ')
    sb.append(hex(rnd, 16).toUpperCase).append(' ').append(op).append(' ').append(key)
    sb.append(" \"").append(verb).append(" /").append(key).append(" HTTP/1.1\" ")
    sb.append(status).append(" - ")
    if (verb == "HEAD") sb.append("- -") else sb.append(bytes).append(' ').append(bytes)
    sb.append(' ').append(total).append(' ').append(1 + rnd.nextInt(total))
    sb.append(" \"-\" ").append(Agents(rnd.nextInt(Agents.length))).append(" -\n")
    if (verb == "GET" && status < 300 && back > Threshold) {
      val k = GroupKey(requesterBase, family)
      answer.update(k, answer.get(k).fold(GroupVal(1, bytes))(_ + GroupVal(1, bytes)))
    }
  }
}
