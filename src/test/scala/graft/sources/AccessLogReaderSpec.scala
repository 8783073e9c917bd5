package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.mapred.JobConf
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}

import graft.SparkTestBase
import graft.functions.RequestTime
import graft.logs.AccessLogSchema

/** The `accesslog` per-file reader opens objects on one conf copy per task;
  * the lines it reads are Spark's `HadoopFileLinesReader`'s.
  */
class AccessLogReaderSpec extends SparkTestBase {

  private def reader() =
    new AccessLogDataSource.FileReader(sessionConf(), new RequestTime("UTC"), AccessLogSchema.schema)

  private def range(p: Path, start: Long, length: Long) =
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(new org.apache.hadoop.fs.Path(p.toUri)),
      start, length, Array.empty[String], 0L, Files.size(p))

  /** The lines of `file` as Spark's reader and as ours give them, or the
    * error each raises, as (class, message).
    */
  private def both(file: PartitionedFile): (Either[(Class[_], String), Seq[String]],
      Either[(Class[_], String), Seq[String]]) = {
    def lines(open: => Iterator[org.apache.hadoop.io.Text] with java.io.Closeable) =
      Try { val it = open; try it.map(_.toString).toList finally it.close() }
        .toEither.left.map(e => (e.getClass, e.getMessage))
    (lines(new HadoopFileLinesReader(file, spark.sessionState.newHadoopConf())),
      lines(reader().lines(file)))
  }

  private def assertSame(file: PartitionedFile, label: String): Unit = {
    val (theirs, ours) = both(file)
    assert(ours == theirs, s"$label [${file.start}, ${file.start + file.length})")
  }

  test("the reader's lines are Spark's: cuts, CRLF, BOM, empty and .gz objects") {
    val dir = tempDir("accesslog-parity")
    val lines = (0 until 30).map(i => s"line $i " + "x" * (i % 7))
    def write(name: String, bytes: Array[Byte]): Path = Files.write(dir.resolve(name), bytes)
    val lf = write("lf.log", lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    val crlf = write("crlf.log", lines.map(_ + "\r\n").mkString.getBytes("UTF-8"))
    val bom = write("bom.log", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      lines.mkString("\n").getBytes("UTF-8"))
    val text = lines.map(_ + "\n").mkString
    val newline = text.indexOf('\n', 40)
    // every range of three cuts: inside a line, on a newline, one past it
    Seq(lf, crlf, bom).foreach { p =>
      val size = Files.size(p)
      val cuts = Seq(0L, 17L, newline.toLong, newline + 1L, size / 2, size)
      cuts.sorted.sliding(2).foreach { case Seq(a, b) => assertSame(range(p, a, b - a), s"$p") }
      assertSame(range(p, 0, size), s"$p whole")
    }
    assert(both(range(bom, 0, Files.size(bom)))._2.toOption.get.head == lines.head,
      "the BOM is not part of the first line")
    assertSame(range(write("empty.log", Array.emptyByteArray), 0, 0), "empty")

    val gzPath = dir.resolve("day.log.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gzPath))
    try gz.write(text.getBytes("UTF-8")) finally gz.close()
    assertSame(range(gzPath, 0, Files.size(gzPath)), ".gz whole")
    assert(both(range(gzPath, 0, Files.size(gzPath)))._2.toOption.get == lines)
    val (theirs, ours) = both(range(gzPath, 5, Files.size(gzPath) - 5))
    assert(theirs.isLeft && ours == theirs, s".gz range past 0: $theirs vs $ours")
  }

  test("the per-task conf answers the openFile option prefixes as a fresh JobConf does") {
    val hc = spark.sparkContext.hadoopConfiguration
    val option = "mapreduce.job.input.file.option.fs.option.openfile.read.policy"
    val prefixes = Seq("mapreduce.job.input.file.option.", "mapreduce.job.input.file.must.")
    hc.set(option, "sequential")
    try {
      val conf = spark.sessionState.newHadoopConf()
      val copy = new AccessLogDataSource.TaskConf(conf)
      prefixes.foreach { p =>
        val fresh = new JobConf(conf).getPropsWithPrefix(p)
        assert(copy.getPropsWithPrefix(p) == fresh && copy.getPropsWithPrefix(p) == fresh, p)
      }
      assert(copy.getPropsWithPrefix(prefixes.head).asScala ==
        Map("fs.option.openfile.read.policy" -> "sequential"))
      assert(reader().context.getConfiguration.isInstanceOf[AccessLogDataSource.TaskConf])
    } finally hc.unset(option)
  }

  test("a mandatory openFile option reaches every object's open, as in Spark's reader") {
    val dir = tempDir("accesslog-must")
    val p = Files.write(dir.resolve("a.log"), "one\ntwo\n".getBytes("UTF-8"))
    val hc = spark.sparkContext.hadoopConfiguration
    val must = "mapreduce.job.input.file.must.fs.option.openfile.graft.unknown"
    hc.set(must, "1")
    val (theirs, ours) = try both(range(p, 0, Files.size(p))) finally hc.unset(must)
    assert(theirs.isLeft && ours == theirs, s"$theirs vs $ours")
    assert(both(range(p, 0, Files.size(p))) == ((Right(Seq("one", "two")), Right(Seq("one", "two")))))
  }
}
