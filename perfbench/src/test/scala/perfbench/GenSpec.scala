package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val Day = LocalDate.of(2024, 3, 1)

  private def generate(seed: Long, shape: Gen.Shape = Gen.Shape(3, 200)): (Path, Gen.DayTruth) = {
    val root = Files.createTempDirectory("perfbench-gen")
    (root, Gen.writeDay(root, seed, Day, shape))
  }

  private def contents(root: Path): Seq[(String, Seq[Byte])] =
    Files.list(root.resolve(Gen.SourceBucket)).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  private def lines(root: Path): Seq[String] =
    Files.list(root.resolve(Gen.SourceBucket)).iterator().asScala.toSeq.sorted
      .flatMap(p => Files.readAllLines(p).asScala)

  /** The reference Days Apart query (`days_apart_analysis.sql`) evaluated
    * directly on raw lines, without Spark: GET, status below 300, written
    * date from the key's numeric path segments, read date from the
    * request time, more than `threshold` days apart.
    */
  private val LineRe = (
    """^(\S+) (\S+) \[(\d{2})/(\w{3})/(\d{4}):[^\]]*\] (\S+) (\S+) (\S+) (\S+) (\S+) """ +
      """"[^"]*" (\S+) (\S+) (\S+) .*$""").r
  private val Months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")

  private def daysApart(raw: Seq[String], threshold: Int = 400): Gen.Answer =
    Gen.mergeAnswers(raw.collect {
      case LineRe(_, _, dd, mon, yyyy, _, requester, _, op, key, status, _, bytes)
          if op == "REST.GET.OBJECT" && status.toInt < 300 =>
        val read = LocalDate.of(yyyy.toInt, Months.indexOf(mon) + 1, dd.toInt)
        val ymd = """/(\d+)""".r.findAllMatchIn(key).map(_.group(1).toInt).toSeq
        val written = LocalDate.of(ymd(0), ymd(1), ymd(2))
        val family = """logs/([^/]*)/.*""".r.findFirstMatchIn(key).get.group(1)
        if (java.time.temporal.ChronoUnit.DAYS.between(written, read) > threshold)
          Map(Gen.GroupKey(requester.replaceAll("/i-.*", ""), family) ->
            Gen.GroupVal(1, bytes.toLong))
        else Map.empty[Gen.GroupKey, Gen.GroupVal]
    })

  test("one seed gives byte-identical files; another seed gives different ones") {
    val (a, ta) = generate(7)
    val (b, tb) = generate(7)
    val (c, tc) = generate(8)
    assert(contents(a) == contents(b))
    assert(ta == tb)
    assert(contents(a).map(_._1) == contents(c).map(_._1))
    assert(contents(a) != contents(c))
    assert(ta.answer != tc.answer)
  }

  test("line counts: blank lines are dropped, corrupt lines are kept as rows") {
    val (root, t) = generate(11, Gen.Shape(4, 2000))
    val all = lines(root)
    assert(t.lines == all.size)
    assert(t.rows == all.count(_.exists(!_.isWhitespace)))
    assert(t.corrupt == all.count(_.startsWith("corrupt record ")))
    assert(t.corrupt > 0 && t.rows < t.lines)
    assert(t.rawBytes == contents(root).map(_._2.size.toLong).sum)
  }

  test("the raw-line evaluator gives the hand-computed answer on a fixed fixture") {
    val owner = "79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be"
    def line(requester: String, op: String, key: String, status: Int, bytes: String) =
      s"""$owner bucket [10/Mar/2024:01:02:03 +0000] 10.0.0.1 $requester 0A1B $op $key """ +
        s""""GET /$key HTTP/1.1" $status - $bytes $bytes 10 5 "-" "ua" -"""
    val roleA = "arn:aws:iam::123456789012:assumed-role/role-0001"
    val fixture = Seq(
      // 2022-01-01 -> 2024-03-10 is 799 days: kept
      line(s"$roleA/i-0abc", "REST.GET.OBJECT", "logs/fam-a/2022/01/01/part-00001.gz", 200, "100"),
      line(s"$roleA/i-0def", "REST.GET.OBJECT", "logs/fam-a/2022/06/30/part-00002.gz", 206, "50"),
      // 2023-02-04 -> 2024-03-10 is 400 days: not more than 400, dropped
      line(s"$roleA/i-0abc", "REST.GET.OBJECT", "logs/fam-a/2023/02/04/part-00003.gz", 200, "7"),
      // 2023-02-03 is 401 days before: kept, in another family
      line(s"$roleA/i-0abc", "REST.GET.OBJECT", "logs/fam-b/2023/02/03/part-00004.gz", 200, "9"),
      // a PUT and a 404 never count
      line(s"$roleA/i-0abc", "REST.PUT.OBJECT", "logs/fam-a/2020/01/01/part-00005.gz", 200, "1000"),
      line(s"$roleA/i-0abc", "REST.GET.OBJECT", "logs/fam-a/2020/01/01/part-00006.gz", 404, "1000"),
      line(owner, "REST.GET.OBJECT", "logs/fam-a/2021/03/10/part-00007.gz", 200, "3"),
    )
    assert(daysApart(fixture) == Map(
      Gen.GroupKey(roleA, "fam-a") -> Gen.GroupVal(2, 150),
      Gen.GroupKey(roleA, "fam-b") -> Gen.GroupVal(1, 9),
      Gen.GroupKey(owner, "fam-a") -> Gen.GroupVal(1, 3)))
  }

  test("the generator's expected Days Apart answer matches its own lines") {
    val (root, t) = generate(5, Gen.Shape(3, 3000))
    assert(t.answer.nonEmpty)
    assert(daysApart(lines(root)) == t.answer)
    // about OldShare of the qualifying GETs are old enough to be kept
    val kept = t.answer.values.map(_.accessCount).sum.toDouble
    val gets = lines(root).count(l => l.contains(" REST.GET.OBJECT ") &&
      Seq(" 200 - ", " 206 - ").exists(l.contains))
    assert(math.abs(kept / gets - Gen.OldShare) < 0.05)
    assert(t.answer.keys.map(_.requester).size > 50)
  }
}
