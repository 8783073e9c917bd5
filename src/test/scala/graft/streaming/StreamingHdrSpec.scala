package graft.streaming

import graft.SparkTestBase
import graft.ext.FreqSketch

class StreamingHdrSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-shdr-$tag").toString + "/store"

  // three batches shifting the distribution upward so running
  // quantiles must move
  private val b0 = (0 until 1000).map(_.toLong % 100)
  private val b1 = (0 until 1000).map(i => 100L + i % 900)
  private val b2 = (0 until 1000).map(i => 10000L + i % 50000)

  test("accumulated histogram equals the one-shot histogram") {
    val acc = new CellSketchMaintainer(spark, tmp("merge"),
      CellSketch.Hdr("v", subBits = 5), compactEvery = 2)
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(b.toDF("v"), i.toLong)
    }
    val got = acc.read(3L).as[(Long, Long)].collect().toSet
    val want = FreqSketch.hdrHistogram((b0 ++ b1 ++ b2).toDF("v"), "v",
      subBits = 5).as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("byBatch running quantiles: true quantile inside [lo, hi], moving up") {
    val rows = CellSketchMaintainer.replay(spark,
        Seq(b0.toDF("v"), b1.toDF("v"), b2.toDF("v")),
        tmp("run"), CellSketch.Hdr("v", subBits = 5))
      .states((m, u) => m.sketch.quantiles(m.read(u), Seq(0.5, 0.99)))
      .orderBy("batch_id", "q")
      .as[(Long, Double, Long, Long, Long, Long)].collect()
    assert(rows.length == 6)
    val prefixes = Seq(b0, b0 ++ b1, b0 ++ b1 ++ b2)
    rows.foreach { case (bid, q, rank, _, lo, hi) =>
      val sortedPrefix = prefixes(bid.toInt).sorted
      assert(rank == math.max(1L, math.ceil(q * sortedPrefix.size).toLong))
      val truth = sortedPrefix((rank - 1).toInt)
      assert(truth >= lo && truth <= hi,
        s"batch $bid q$q: true $truth outside [$lo, $hi]")
    }
    // the p50 bound must move up as later, larger batches accumulate
    val p50his = rows.filter(_._2 == 0.5).sortBy(_._1).map(_._6)
    assert(p50his(0) < p50his(1) && p50his(1) < p50his(2),
      s"p50 hi bounds not increasing: ${p50his.toSeq}")
  }

  test("grouped: per-group fold equals each group's one-shot histogram") {
    // group values contain ':' to exercise the tail-field key packing
    def gb(b: Seq[Long]) = b.zipWithIndex
      .map { case (v, i) => (if (i % 2 == 0) "ep:a" else "ep:b", v + (i % 2) * 1000L) }
      .toDF("g", "v")
    val acc = new CellSketchMaintainer(spark, tmp("grp"),
      CellSketch.Hdr("v", subBits = 5), compactEvery = 2, groupCol = Some("g"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      acc.update(gb(b), i.toLong)
    }
    val got = acc.read(3L).as[(String, Long, Long)].collect().toSet
    val all = gb(b0).unionByName(gb(b1)).unionByName(gb(b2))
    val want = FreqSketch.hdrHistogramBy(all, "g", "v", subBits = 5)
      .as[(String, Long, Long)].collect().toSet
    assert(got == want && got.map(_._1) == Set("ep:a", "ep:b"))
    // per-group quantile picks bound each group's true quantile
    val qs = Seq(0.5, 0.99)
    val picks = acc.sketch.quantiles(acc.read(3L), qs)
      .select("grp", "q", "lo", "hi")
      .as[(String, Double, Long, Long)].collect()
    assert(picks.length == 4, "2 groups x 2 quantiles")
    val truth = all.as[(String, Long)].collect().toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    picks.foreach { case (g, q, lo, hi) =>
      val vs = truth(g)
      val t = vs(math.max(0, math.ceil(q * vs.size).toInt - 1))
      assert(lo <= t && t <= hi, s"$g q$q: true $t outside [$lo, $hi]")
    }
    // a read carries grp exactly when the maintainer is grouped
    assert(acc.read(3L).columns.head == "grp")
    val plain = new CellSketchMaintainer(spark, tmp("plain"),
      CellSketch.Hdr("v"))
    plain.update(b0.toDF("v"), 0L)
    assert(!plain.read(1L).columns.contains("grp"))
  }
  test("windowed reads expire old batches; decay weights the multiset; " +
      "guards hold") {
    val rows = CellSketchMaintainer.replay(spark,
        Seq(b0.toDF("v"), b1.toDF("v"), b2.toDF("v")),
        tmp("win"), CellSketch.Hdr("v", subBits = 5), windowed = true)
      .windows(2, decayHalfLife = Some(1))(_.quantiles(_, Seq(0.5, 0.99)))
      .orderBy("batch_id", "kind", "q")
      .as[(Long, String, Double, Long, Long, Long, Long)].collect()
    // window states: [b0], [b0,b1], [b1,b2] — rank/bounds answer the
    // WINDOW's own multiset
    val windows = Seq(b0, b0 ++ b1, b1 ++ b2)
    rows.filter(_._2 == "window").foreach {
      case (bid, _, q, rank, _, lo, hi) =>
        val sorted = windows(bid.toInt).sorted
        assert(rank == math.max(1L, math.ceil(q * sorted.size).toLong))
        val truth = sorted((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"window $bid q$q: true $truth outside [$lo, $hi]")
    }
    // expiry visible: the [b1, b2] window's p50 sits above everything
    // in the expired b0
    val p50lo = rows.filter(r => r._1 == 2 && r._2 == "window" &&
      r._3 == 0.5).head._6
    assert(p50lo > b0.max,
      s"expired batch still visible in the window read: p50 lo $p50lo")
    // decay halfLife 1 over 3 batches: multiset = b0 + 2·b1 + 4·b2
    val decayed = (b0 ++ b1.flatMap(v => Seq(v, v)) ++
      b2.flatMap(v => Seq(v, v, v, v))).sorted
    rows.filter(_._2 == "decay").foreach {
      case (_, _, q, rank, _, lo, hi) =>
        assert(rank == math.max(1L, math.ceil(q * decayed.size).toLong))
        val truth = decayed((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"decay q$q: true $truth outside [$lo, $hi]")
    }
    // decay pulls p50 above the un-decayed stream's p50 (b2 dominates)
    val full = (b0 ++ b1 ++ b2).sorted
    val decayP50lo = rows.filter(r => r._2 == "decay" && r._3 == 0.5)
      .head._6
    assert(decayP50lo > full(full.size / 2),
      "decay must shift p50 toward recent batches")
    // guards: windowed reads on a plain store are refused, decay span
    // capped
    val plain = new CellSketchMaintainer(spark, tmp("plain"),
      CellSketch.Hdr("v"))
    plain.update(b0.toDF("v"), 0L)
    val e = intercept[IllegalArgumentException] {
      plain.sketch.quantiles(plain.read(1L, Some(0L)), Seq(0.5))
    }
    assert(e.getMessage.contains("windowed store"))
    val acc = new CellSketchMaintainer(spark, tmp("cap"),
      CellSketch.Hdr("v"), windowed = true)
    acc.update(b0.toDF("v"), 0L)
    val e2 = intercept[IllegalArgumentException] {
      acc.sketch.quantiles(acc.read(100L, halfLifeBatches = Some(1)),
        Seq(0.5))
    }
    assert(e2.getMessage.contains("decay span"))
  }

  test("byBatch/byBatchWindow replays survive more batches than the " +
      "default compactEvery (lazy per-state reads outlive later folds)") {
    // 10 batches > the accumulator's default compactEvery of 8: before
    // the replays pinned compactEvery = batches.size + 1, a mid-replay
    // fold deleted the delta files earlier lazy per-state quantile
    // plans still referenced and the final union failed at execution
    val batches = (0 until 10)
      .map(i => (0 until 100).map(j => i * 100L + j).toDF("v"))
    val running = CellSketchMaintainer.replay(spark, batches, tmp("long"),
        CellSketch.Hdr("v", subBits = 5))
      .states((m, u) => m.sketch.quantiles(m.read(u), Seq(0.5)))
      .as[(Long, Double, Long, Long, Long, Long)].collect()
    assert(running.length == 10)
    running.foreach { case (bid, q, rank, _, lo, hi) =>
      val sorted = (0 until (bid.toInt + 1) * 100)
        .map(_.toLong).sorted // prefix multiset is just 0..(n·100-1)
      assert(rank == math.max(1L, math.ceil(q * sorted.size).toLong))
      val truth = sorted((rank - 1).toInt)
      assert(truth >= lo && truth <= hi,
        s"batch $bid: true $truth outside [$lo, $hi]")
    }
    val windowed = CellSketchMaintainer.replay(spark, batches,
        tmp("longwin"), CellSketch.Hdr("v", subBits = 5), windowed = true)
      .windows(2)(_.quantiles(_, Seq(0.5)))
      .as[(Long, String, Double, Long, Long, Long, Long)].collect()
    assert(windowed.length == 10)
    windowed.foreach { case (bid, _, q, rank, _, lo, hi) =>
      val w = (math.max(0, bid.toInt - 1) * 100 until
        (bid.toInt + 1) * 100).map(_.toLong)
      assert(rank == math.max(1L, math.ceil(q * w.size).toLong))
      val truth = w.sorted.apply((rank - 1).toInt)
      assert(truth >= lo && truth <= hi,
        s"window $bid: true $truth outside [$lo, $hi]")
    }
  }

  test("byBatchWindowBy: per-group window quantiles answer each " +
      "group's own windowed multiset; grouped decay is group-local") {
    // disjoint value ranges per group make any cross-group leak
    // visible in the brackets
    def gb(b: Seq[Long]) = b.zipWithIndex.map { case (v, i) =>
      if (i % 2 == 0) ("lo", v) else ("hi", v + 1000000L)
    }
    val batches = Seq(gb(b0), gb(b1), gb(b2))
    val rows = CellSketchMaintainer.replay(spark,
        batches.map(_.toDF("g", "v")), tmp("gwin"),
        CellSketch.Hdr("v", subBits = 5), groupCol = Some("g"),
        windowed = true)
      .windows(2, decayHalfLife = Some(1))(_.quantiles(_, Seq(0.5, 0.99)))
      .as[(Long, String, String, Double, Long, Long, Long, Long)]
      .collect()
    val windows = Seq(batches(0), batches(0) ++ batches(1),
      batches(1) ++ batches(2))
    rows.filter(_._2 == "window").foreach {
      case (bid, _, g, q, rank, _, lo, hi) =>
        val vs = windows(bid.toInt).filter(_._1 == g).map(_._2).sorted
        assert(rank == math.max(1L, math.ceil(q * vs.size).toLong),
          s"group $g state $bid rank")
        val truth = vs((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"group $g state $bid q$q: true $truth outside [$lo, $hi]")
    }
    // group isolation: hi-group brackets never dip into lo-group range
    // (bucket lower bounds sit at most 2^(e-5) ≈ 16k below the value
    // at the 1e6 magnitude — far above the lo group's < 1e5 ceiling)
    assert(rows.filter(_._3 == "hi").forall(_._7 >= 900000L),
      rows.filter(_._3 == "hi").map(_._7).min.toString)
    // grouped decay: per group, multiset = b0 + 2·b1 + 4·b2
    rows.filter(_._2 == "decay").foreach {
      case (_, _, g, q, rank, _, lo, hi) =>
        val all = batches(0) ++ batches(1).flatMap(x => Seq(x, x)) ++
          batches(2).flatMap(x => Seq(x, x, x, x))
        val vs = all.filter(_._1 == g).map(_._2).sorted
        assert(rank == math.max(1L, math.ceil(q * vs.size).toLong))
        val truth = vs((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"group $g decay q$q: true $truth outside [$lo, $hi]")
    }
  }

  test("grouped retention through a fold: (batch, group) cells evict " +
      "independently — an expired group's histogram leaves the store, " +
      "live groups keep exact window picks") {
    import org.apache.spark.sql.functions._
    val store = tmp("gkeep")
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Hdr("v", subBits = 5), compactEvery = 2, groupCol = Some("g"),
      windowed = true, keepBatches = 2)
    // group "old" records values ONLY in batches 0-1; "live" in all
    (0 until 8).foreach { i =>
      val rows = Seq.fill(2)(("live", (i + 1) * 100L)) ++
        (if (i < 2) Seq.fill(3)(("old", 7L)) else Nil)
      acc.update(rows.toDF("g", "v"), i.toLong)
    }
    // folds at updates 2/4/6 → horizon 4 (the gates replay with
    // compactEvery = batches+1, so retention never fires in-gate —
    // THIS drives the grouped windowed store through real folds)
    assert(acc.evictedBefore() == 4L)
    val cells = spark.read.option("recursiveFileLookup", "true")
      .parquet(store)
      .select(
        substring_index(col("cell"), ":", 1).cast("long").as("tag"),
        element_at(split(col("cell"), ":", 3), 3).as("grp"))
      .as[(Long, String)].collect()
    assert(cells.map(_._1).distinct.sorted.toSeq == Seq(4L, 5L, 6L, 7L),
      s"stored tags: ${cells.map(_._1).distinct.sorted.toSeq}")
    assert(cells.map(_._2).distinct.toSeq == Seq("live"),
      s"expired group's cells must leave at the fold: " +
        s"${cells.map(_._2).distinct.toSeq}")
    // the live group's in-retention window pick answers its own multiset
    // {700, 700, 800, 800}: q=0.5 → rank 2 → true value 700
    val picks = acc.sketch.quantiles(acc.read(8L, Some(6L)), Seq(0.5))
      .select("grp", "q", "lo", "hi")
      .as[(String, Double, Long, Long)].collect()
    assert(picks.map(_._1).toSeq == Seq("live"),
      "an evicted group must not surface in window picks")
    picks.foreach { case (_, _, lo, hi) =>
      assert(lo <= 700L && 700L <= hi, s"true 700 outside [$lo, $hi]")
    }
    // grouped reads below the horizon fail loud
    val e = intercept[IllegalArgumentException] {
      acc.sketch.quantiles(acc.read(8L, Some(3L)), Seq(0.5))
    }
    assert(e.getMessage.contains("evicted by retention"), e.getMessage)
  }

  test("keepBatches retention: folds evict expired cells, state stays " +
      "bounded, reads into the evicted range fail loud") {
    import org.apache.spark.sql.functions.{col, substring_index}
    val store = tmp("retain")
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Hdr("v", subBits = 5), compactEvery = 2, windowed = true,
      keepBatches = 2)
    // 8 batches, batch i holding 100 values around i·1000
    (0 until 8).foreach { i =>
      acc.update((0 until 100).map(j => i * 1000L + j).toDF("v"), i.toLong)
    }
    // folds ran at updates 2/4/6 → frontier 6, horizon = 6 - 2 = 4
    assert(acc.evictedBefore() == 4L)
    val tags = spark.read.option("recursiveFileLookup", "true")
      .parquet(store)
      .select(substring_index(col("cell"), ":", 1).cast("long"))
      .as[Long].distinct().collect().sorted
    assert(tags.toSeq == Seq(4L, 5L, 6L, 7L), s"stored tags: ${tags.toSeq}")
    // the in-retention window read answers exactly its own multiset
    val w = (6 * 1000 until 6 * 1000 + 100).map(_.toLong) ++
      (7 * 1000 until 7 * 1000 + 100).map(_.toLong)
    acc.sketch.quantiles(acc.read(8L, Some(6L)), Seq(0.5, 0.99))
      .select("q", "rank", "lo", "hi")
      .as[(Double, Long, Long, Long)].collect()
      .foreach { case (q, rank, lo, hi) =>
        val sorted = w.sorted
        assert(rank == math.max(1L, math.ceil(q * sorted.size).toLong))
        val truth = sorted((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"q$q: true $truth outside [$lo, $hi]")
      }
    // evicted-range reads fail loud: windowed, cumulative, decayed
    Seq(
      () => acc.sketch.quantiles(acc.read(8L, Some(3L)), Seq(0.5)),
      () => acc.sketch.quantiles(acc.read(8L), Seq(0.5)),
      () => acc.sketch.quantiles(acc.read(8L, halfLifeBatches = Some(1)),
        Seq(0.5))
    ).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("evicted by retention"), e.getMessage)
    }
    // explicit in-retention decayed read works: multiset 2·b7 + 1·b6
    val decayed = (w.take(100) ++ w.drop(100) ++ w.drop(100)).sorted
    acc.sketch.quantiles(acc.read(8L, Some(6L), Some(1)), Seq(0.5))
      .select("q", "rank", "lo", "hi")
      .as[(Double, Long, Long, Long)].collect()
      .foreach { case (q, rank, lo, hi) =>
        assert(rank == math.max(1L, math.ceil(q * decayed.size).toLong))
        val truth = decayed((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"decayed q$q: true $truth outside [$lo, $hi]")
      }
    // retention requires a windowed store
    intercept[IllegalArgumentException] {
      new CellSketchMaintainer(spark, tmp("bad"), CellSketch.Hdr("v"),
        keepBatches = 2)
    }
  }

  test("batch-id regression fails fast instead of losing a delta") {
    // counts are SUM-merged: a restarted-from-0 stream would OVERWRITE
    // the real batch-0 delta (losing its counts) and double-count later
    val acc = new CellSketchMaintainer(spark, tmp("regress"),
      CellSketch.Hdr("v"))
    acc.update(b0.toDF("v"), 0L)
    acc.update(b1.toDF("v"), 1L)
    val before = acc.read(2L).agg(
      org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    val err = intercept[IllegalArgumentException] {
      acc.update(b1.toDF("v"), 0L)
    }
    assert(err.getMessage.contains("checkpointLocation"),
      s"message must point at checkpoint/storePath reuse: ${err.getMessage}")
    assert(acc.read(2L).agg(
      org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == before)
  }
}
