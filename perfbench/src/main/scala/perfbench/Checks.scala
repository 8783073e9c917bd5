package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.Row

import graft.logs.Compacter.DayStats

/** Output checks. They run outside the timed region; each returns the
  * list of what is wrong, empty when the output is correct.
  */
object Checks {

  /** Data files of one written day: what a reader of `dt=` would open. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.toString)

  def bytesOf(files: Seq[Path]): Long = files.map(Files.size).sum

  /** One compacted day against its generator truth:
    *  - the observed row and corrupt counts equal the generated ones;
    *  - footer row counts sum to the observed rows;
    *  - there are exactly `numFiles` files;
    *  - no file has a `dt` column (`dt` lives in the path only);
    *  - every file is sorted by `request_time`.
    * Files are read with parquet-hadoop directly, not through Spark.
    */
  def day(stats: DayStats, truth: Gen.DayTruth, numFiles: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (stats.rows != truth.rows) errs += s"rows ${stats.rows} != generated ${truth.rows}"
    if (stats.corruptRows != truth.corrupt)
      errs += s"corrupt rows ${stats.corruptRows} != generated ${truth.corrupt}"
    val files = dataFiles(java.nio.file.Paths.get(stats.dest))
    if (files.size != numFiles) errs += s"${files.size} files != numOutputFiles $numFiles"
    var footerRows = 0L
    var unsorted = 0L
    files.foreach { f =>
      val reader = open(f)
      try {
        footerRows += reader.getRecordCount
        if (reader.getFileMetaData.getSchema.containsField("dt")) errs += s"$f has a dt column"
        unsorted += unsortedRows(reader)
      } finally reader.close()
    }
    if (footerRows != stats.rows) errs += s"footer rows $footerRows != observed ${stats.rows}"
    if (unsorted != 0) errs += s"$unsorted rows out of request_time order"
    errs.result()
  }

  /** One Hadoop configuration for every check: building one reads its
    * default resources, which costs more than a small file's footer.
    */
  private lazy val conf = new Configuration()

  private def open(f: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))

  /** Rows of one file whose `request_time` is below the previous row's,
    * read value by value from the column chunks; nulls sort first.
    */
  def unsortedRows(reader: ParquetFileReader): Long = {
    val schema = reader.getFileMetaData.getSchema
    val only = new MessageType(schema.getName,
      schema.getType(schema.getFieldIndex("request_time")))
    val column = only.getColumns.get(0)
    reader.setRequestedSchema(only)
    val converter = new GroupRecordConverter(only).getRootConverter
    var prev = Long.MinValue
    var bad = 0L
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val values = new ColumnReadStoreImpl(pages, converter, only,
        reader.getFileMetaData.getCreatedBy).getColumnReader(column)
      var i = 0L
      while (i < values.getTotalValueCount) {
        val v =
          if (values.getCurrentDefinitionLevel < column.getMaxDefinitionLevel) Long.MinValue
          else values.getLong
        if (v < prev) bad += 1
        prev = v
        values.consume()
        i += 1
      }
      pages = reader.readNextRowGroup()
    }
    bad
  }

  /** Days Apart rows as the generator's answer type. */
  def answerOf(rows: Seq[Row]): Gen.Answer =
    rows.map(r => Gen.GroupKey(r.getString(0), r.getString(1)) ->
      Gen.GroupVal(r.getLong(2), r.getLong(3))).toMap

  /** A Days Apart result against the expected answer: the same groups
    * with the same counts and bytes, each group once, ordered by count
    * descending.
    */
  def query(rows: Seq[Row], expected: Gen.Answer): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val got = answerOf(rows)
    if (got.size != rows.size) errs += s"${rows.size - got.size} duplicate groups"
    val counts = rows.map(_.getLong(2))
    if (counts.zip(counts.drop(1)).exists { case (a, b) => a < b })
      errs += "rows are not ordered by access_count descending"
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val wrong = expected.count { case (k, v) => got.get(k).exists(_ != v) }
    if (missing.nonEmpty) errs += s"${missing.size} expected groups missing"
    if (extra.nonEmpty) errs += s"${extra.size} unexpected groups"
    if (wrong > 0) errs += s"$wrong groups with wrong count or bytes"
    errs.result()
  }
}
