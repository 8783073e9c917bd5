package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** Retry idempotence and restart for every sketch value, on each store
  * layout it has (cumulative and batch-tagged): whatever the sketch,
  * re-running the latest batch id must not double-count, and a fresh
  * maintainer on the same path must see the state its predecessor left.
  */
class CellSketchMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  // batch i of each sketch's input; consecutive batches overlap, so a
  // double-counted or lost batch changes the folded sketch
  private val cases: Seq[(String, CellSketch, Int => DataFrame)] = Seq(
    ("HLL", CellSketch.Hll("it", p = 6),
      i => (i * 50 until i * 50 + 120).map(n => s"k$n").toDF("it")),
    ("HDR", CellSketch.Hdr("v", subBits = 4),
      i => (0 until 200).map(n => (i * 37L + n * 11L) % 5000L).toDF("v")),
    ("CMS", CellSketch.Cms("w", width = 64),
      i => (0 until 60).map(n => s"w${(n * (i + 1)) % 23}").toDF("w")))

  // rendered rows: the batch operators and the store may pick INT or
  // BIGINT for the same field
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).toSeq.sorted

  private def oneShot(sketch: CellSketch, batch: Int => DataFrame,
                      ids: Seq[Int]): Seq[String] =
    rows(sketch.fold(sketch.summarize(ids.map(batch).reduce(_ unionByName _),
      None), Nil))

  // an always-tagged sketch (HLL) has only the batch-tagged layout
  for ((name, sketch, batch) <- cases;
       windowed <- if (sketch.alwaysTagged) Seq(true) else Seq(false, true)) {
    val layout = if (windowed) "windowed" else "cumulative"

    test(s"$name ($layout): re-running the latest batch id does not " +
        "double-count") {
      val m = new CellSketchMaintainer(spark,
        tempDir("graft-cell-retry").toString + "/store", sketch,
        windowed = windowed)
      m.update(batch(0), 0L)
      m.update(batch(1), 1L)
      m.update(batch(1), 1L) // foreachBatch retry of the same id
      assert(rows(m.read(2L)) == oneShot(sketch, batch, Seq(0, 1)))
    }

    test(s"$name ($layout): a fresh maintainer on the same path sees " +
        "prior state") {
      val store = tempDir("graft-cell-restart").toString + "/store"
      val first = new CellSketchMaintainer(spark, store, sketch,
        windowed = windowed, compactEvery = 2)
      (0 until 4).foreach(i => first.update(batch(i), i.toLong))
      val second = new CellSketchMaintainer(spark, store, sketch,
        windowed = windowed, compactEvery = 2)
      second.update(batch(4), 4L)
      assert(rows(second.read(5L)) == oneShot(sketch, batch, 0 until 5))
    }
  }
}
