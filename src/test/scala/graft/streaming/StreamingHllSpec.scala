package graft.streaming

import graft.SparkTestBase
import graft.ext.FreqSketch

class StreamingHllSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-shll-$tag").toString + "/store"

  private val b0 = (0 until 3000).map(i => s"k$i")
  private val b1 = (1500 until 4500).map(i => s"k$i")
  private val b2 = (6000 until 9000).map(i => s"k$i") // disjoint from b0/b1

  test("cumulative registers equal the one-shot sketch of the concatenation") {
    val acc = new CellSketchMaintainer(spark, tmp("merge"),
      CellSketch.Hll("it", p = 8), compactEvery = 2)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("it"), i.toLong)
    }
    val got = acc.read(3L).as[(Int, Int)].collect().toSet
    val want = FreqSketch.hllSketch((b0 ++ b1 ++ b2).toDF("it"), "it")
      .as[(Int, Int)].collect().toSet
    assert(got == want)
  }

  test("windowed registers equal the one-shot sketch of the window") {
    val acc = new CellSketchMaintainer(spark, tmp("win"),
      CellSketch.Hll("it", p = 8), compactEvery = 8)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("it"), i.toLong)
    }
    val got = acc.read(3L, fromBatch = Some(1L))
      .as[(Int, Int)].collect().toSet
    val want = FreqSketch.hllSketch((b1 ++ b2).toDF("it"), "it")
      .as[(Int, Int)].collect().toSet
    assert(got == want, "expiry must drop batch 0's registers exactly")
  }

  test("byBatch: cumulative grows, window expires, estimates track truth") {
    val rows = CellSketchMaintainer.replay(spark,
        Seq(b0.toDF("it"), b1.toDF("it"), b2.toDF("it")),
        tmp("run"), CellSketch.Hll("it", p = 8))
      .states((m, u) => m.sketch.estimates(m.read(u),
        m.read(u, Some(math.max(0L, u - 2)))))
      .orderBy("batch_id").as[(Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    // truths: cum = 3000, 4500, 7500; win = 3000, 4500, 6000
    val cumTruth = Seq(3000.0, 4500.0, 7500.0)
    val winTruth = Seq(3000.0, 4500.0, 6000.0)
    rows.foreach { case (i, cum, win) =>
      assert(math.abs(cum - cumTruth(i.toInt)) / cumTruth(i.toInt) < 0.2,
        s"batch $i cum $cum vs ${cumTruth(i.toInt)}")
      assert(math.abs(win - winTruth(i.toInt)) / winTruth(i.toInt) < 0.2,
        s"batch $i win $win vs ${winTruth(i.toInt)}")
    }
    // the expiry is visible: batch-2 window estimate < cumulative
    assert(rows(2)._3 < rows(2)._2)
  }

  test("grouped: per-group registers equal each group's one-shot sketch") {
    // two groups with different item streams; group values contain ':'
    // to exercise the tail-field key packing
    def gb(b: Seq[String]) = b.zipWithIndex
      .map { case (it, i) => (if (i % 2 == 0) "g:a" else "g:b", it) }
      .toDF("g", "it")
    val acc = new CellSketchMaintainer(spark, tmp("grp"),
      CellSketch.Hll("it", p = 8), compactEvery = 2, groupCol = Some("g"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(gb(b), i.toLong)
    }
    val got = acc.read(3L)
      .as[(String, Int, Int)].collect().toSet
    val all = gb(b0).unionByName(gb(b1)).unionByName(gb(b2))
    val want = FreqSketch.hllSketchBy(all, "g", "it")
      .as[(String, Int, Int)].collect().toSet
    assert(got == want && got.map(_._1) == Set("g:a", "g:b"))
    // windowed per-group fold equals the one-shot sketch of the window
    val gotWin = acc.read(3L, fromBatch = Some(2L))
      .as[(String, Int, Int)].collect().toSet
    val wantWin = FreqSketch.hllSketchBy(gb(b2), "g", "it")
      .as[(String, Int, Int)].collect().toSet
    assert(gotWin == wantWin)
    // per-group estimates land near each group's truth
    val est = acc.sketch.estimate(acc.read(3L)).select("grp", "estimate")
      .as[(String, Double)].collect().toMap
    val truth = all.distinct().groupBy("g").count()
      .as[(String, Long)].collect().toMap
    Seq("g:a", "g:b").foreach { g =>
      assert(est(g) > truth(g) / 2.0 && est(g) < truth(g) * 2.0,
        s"$g: ${est(g)} vs ${truth(g)}")
    }
    // a read carries grp exactly when the maintainer is grouped
    assert(acc.read(3L).columns.head == "grp")
    val plain = new CellSketchMaintainer(spark, tmp("plain"),
      CellSketch.Hll("it"))
    plain.update(b0.toDF("it"), 0L)
    assert(!plain.read(1L).columns.contains("grp"))
  }
  test("keepBatches retention: folds evict expired registers, state stays " +
      "bounded, reads into the evicted range fail loud") {
    import org.apache.spark.sql.functions._
    val store = tmp("keep")
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Hll("it", p = 8), compactEvery = 2, keepBatches = 2)
    // 8 batches of disjoint item ranges
    val batches = (0 until 8).map(i =>
      (i * 500 until (i + 1) * 500).map(n => s"k$n"))
    batches.zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("it"), i.toLong)
    }
    // folds ran at updates 2/4/6 → frontier 6, horizon = 6 - 2 = 4
    assert(acc.evictedBefore() == 4L)
    // state is bounded: every surviving register's batch tag >= horizon
    // (expired cells left the store at the fold, they aren't just
    // filtered at read time)
    val tags = spark.read.option("recursiveFileLookup", "true")
      .parquet(store)
      .select(substring_index(col("cell"), ":", 1).cast("long"))
      .as[Long].distinct().collect().sorted
    assert(tags.toSeq == Seq(4L, 5L, 6L, 7L), s"stored tags: ${tags.toSeq}")
    // in-retention window reads stay EXACT vs the one-shot sketch
    val got = acc.read(8L, fromBatch = Some(6L)).as[(Int, Int)].collect().toSet
    val want = FreqSketch.hllSketch(
      (batches(6) ++ batches(7)).toDF("it"), "it")
      .as[(Int, Int)].collect().toSet
    assert(got == want)
    // reads reaching evicted batches fail loud: windowed below the
    // horizon and cumulative (fromBatch 0)
    Seq(
      () => acc.read(8L, fromBatch = Some(3L)),
      () => acc.sketch.estimate(acc.read(8L))
    ).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("evicted by retention"), e.getMessage)
    }
    // grouped retention stores guard their reads the same way
    val gacc = new CellSketchMaintainer(spark, tmp("keepg"),
      CellSketch.Hll("it", p = 8), compactEvery = 2, groupCol = Some("g"),
      keepBatches = 2)
    batches.zipWithIndex.foreach { case (b, i) =>
      gacc.update(b.zipWithIndex.map { case (it, j) =>
        (if (j % 2 == 0) "a" else "b", it) }.toDF("g", "it"), i.toLong)
    }
    assert(gacc.evictedBefore() == 4L)
    val e = intercept[IllegalArgumentException](
      gacc.sketch.estimate(gacc.read(8L)))
    assert(e.getMessage.contains("evicted by retention"))
    assert(gacc.sketch.estimate(gacc.read(8L, fromBatch = Some(5L)))
      .select("grp").as[String].collect().toSet == Set("a", "b"))
  }

  test("10-batch replay: no mid-replay fold may delete delta files the " +
      "per-state lazy reads still reference") {
    // regression for the byBatch/byBatchBy fold hazard: with the
    // accumulator's DEFAULT compactEvery=8, update 8 folded batches 0–7
    // and the final union of per-state lazy frames failed at execution
    // with FileNotFoundException; replays must pin compactEvery past
    // the batch count (the replay driver's discipline)
    val batches = (0 until 10).map(i =>
      (i * 400 until (i + 1) * 400).map(n => s"k$n").toDF("it"))
    val rows = CellSketchMaintainer.replay(spark, batches, tmp("replay"),
        CellSketch.Hll("it", p = 8))
      .states((m, u) => m.sketch.estimates(m.read(u),
        m.read(u, Some(math.max(0L, u - 3)))))
      .orderBy("batch_id").as[(Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == (0L until 10L))
    // estimates still track truth at the far end of the replay
    assert(math.abs(rows.last._2 - 4000.0) / 4000.0 < 0.3,
      s"cum ${rows.last._2} vs 4000")
    assert(math.abs(rows.last._3 - 1200.0) / 1200.0 < 0.3,
      s"win ${rows.last._3} vs 1200")
    // grouped twin
    val grows = CellSketchMaintainer.replay(spark,
        batches.map(_.withColumn("g",
          org.apache.spark.sql.functions.lit("g1"))),
        tmp("replayg"), CellSketch.Hll("it", p = 8), groupCol = Some("g"))
      .states((m, u) => m.sketch.estimates(m.read(u),
        m.read(u, Some(math.max(0L, u - 3)))))
      .orderBy("batch_id").as[(Long, String, Double, Double)].collect()
    assert(grows.map(_._1).toSeq == (0L until 10L))
    assert(grows.forall(_._2 == "g1"))
  }

  test("batch-id regression fails fast instead of corrupting window reads") {
    // batch ids live INSIDE the stored cell keys: a stream restarted
    // WITHOUT its checkpoint re-numbers from 0 and would interleave new
    // registers under old ids, corrupting [from, upto) windowed reads
    val acc = new CellSketchMaintainer(spark, tmp("regress"),
      CellSketch.Hll("it", p = 8), compactEvery = 8)
    acc.update(b0.toDF("it"), 0L)
    acc.update(b1.toDF("it"), 1L)
    val err = intercept[IllegalArgumentException] {
      acc.update(b2.toDF("it"), 0L)
    }
    assert(err.getMessage.contains("checkpointLocation"),
      s"message must point at checkpoint/storePath reuse: ${err.getMessage}")
    // a RETRY of the latest batch id is allowed (overwrite-idempotent)
    acc.update(b1.toDF("it"), 1L)
    val got = acc.read(2L).as[(Int, Int)].collect().toSet
    val want = FreqSketch.hllSketch((b0 ++ b1).toDF("it"), "it")
      .as[(Int, Int)].collect().toSet
    assert(got == want, "rejected update must leave the store untouched")
  }
}
