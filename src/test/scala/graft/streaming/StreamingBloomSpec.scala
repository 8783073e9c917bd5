package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.SetSketch

class StreamingBloomSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-sbloom-$tag").toString + "/store"

  private val b0 = (0 until 300).map(i => s"k$i")
  private val b1 = (150 until 450).map(i => s"k$i") // 150 repeats, 150 new
  private val b2 = (0 until 450).map(i => s"k$i")   // all repeats

  test("accumulated bits equal the one-shot sketch of the concatenation") {
    val acc = new CellSketchMaintainer(spark, tmp("merge"),
      CellSketch.Bloom("it", mBits = 4096), compactEvery = 2)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("it"), i.toLong)
    }
    val got = acc.read(3L).as[Long].collect().toSet
    val want = SetSketch.bloomSketch((b0 ++ b1 ++ b2).toDF("it"), "it",
      mBits = 4096).as[Long].collect().toSet
    assert(got == want)
  }

  test("byBatch novelty: reported-novel is PROOF of novelty; batch 0 all novel") {
    val rows = StreamingBloom.byBatch(spark,
        Seq(b0.toDF("it"), b1.toDF("it"), b2.toDF("it")),
        tmp("novel"), "it", mBits = 8192)
      .orderBy("batch_id").as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    // empty prior state: every batch-0 item is novel, none screened out
    assert(rows(0) == ((0L, 300L, 300L)))
    // no false negatives: novel count never exceeds the truly-new count,
    // and every truly-repeated item is never reported novel — so
    // n_novel <= 150 for batch 1 (150 truly new) and 0 for batch 2
    assert(rows(1)._2 == 300L && rows(1)._3 <= 150L)
    assert(rows(2) == ((2L, 450L, 0L)))
    // and the screen is not degenerate: most truly-new batch-1 items
    // survive (8192 bits vs ~600 items keeps FPR ~ a few percent)
    assert(rows(1)._3 >= 100L, s"screen degenerated: ${rows(1)._3}/150")
  }

  test("contains after accumulation: every member maybe, absent mostly not") {
    val store = tmp("contains")
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Bloom("it", mBits = 8192), compactEvery = 2)
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("it"), i.toLong)
    }
    val ct = acc.sketch.contains(acc.read(2L),
        (0 until 900).map(i => s"k$i").toDF("it"))
      .select("item", "maybe").as[(String, Boolean)].collect().toMap
    (0 until 450).foreach(i => assert(ct(s"k$i"), s"member k$i absent"))
    val fp = (450 until 900).count(i => ct(s"k$i"))
    assert(fp < 90, s"$fp/450 false positives")
  }

  test("a restarted stream without its checkpoint fails fast instead of " +
      "overwriting batch 0's bits") {
    val store = tmp("regress")
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Bloom("it", mBits = 4096))
    acc.update(b0.toDF("it"), 0L)
    acc.update(b1.toDF("it"), 1L)
    val fresh = new CellSketchMaintainer(spark, store,
      CellSketch.Bloom("it", mBits = 4096))
    val e = intercept[IllegalArgumentException] {
      fresh.update(b2.toDF("it"), 0L)
    }
    assert(e.getMessage.contains("checkpointLocation"), e.getMessage)
  }
}
