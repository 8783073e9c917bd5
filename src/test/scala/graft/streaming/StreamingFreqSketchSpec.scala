package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.FreqSketch

class StreamingFreqSketchSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpStore(): String =
    tempDir("graft-cms").toString + "/cms"

  private val corpus = {
    val rnd = new scala.util.Random(43)
    (0 until 3000).map(_ => s"t${(math.pow(rnd.nextDouble(), 3) * 120).toInt}")
  }

  test("byBatch fold equals the one-shot corpus sketch estimate") {
    val batches = corpus.grouped(1000).map(_.toDF("word")).toSeq
    val probes = corpus.distinct.toDF("word")
    val streamed = CellSketchMaintainer.replay(spark, batches, tmpStore(),
        CellSketch.Cms("word", width = 256))
      .whole(_.estimate(_, probes, "word")).filter(col("est") >= 0L)
      .as[(String, Long)].collect().toMap
    val oneShot = FreqSketch.cmsEstimate(
        FreqSketch.cmsSketch(corpus.toDF("word"), "word", width = 256),
        probes, "word", width = 256)
      .as[(String, Long)].collect().toMap
    assert(streamed == oneShot)
    // and still never under the exact count
    val exact = corpus.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    exact.foreach { case (w, n) => assert(streamed(w) >= n) }
  }

  test("retry idempotence: a replayed batch never double-counts") {
    val store = tmpStore()
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128))
    val batch = Seq("x", "x", "y").toDF("word")
    acc.update(batch, 0L)
    acc.update(batch, 0L) // foreachBatch retry of the SAME batch id
    acc.update(Seq("x").toDF("word"), 1L)
    val est = acc.sketch.estimate(acc.read(2L), Seq("x", "y").toDF("word"),
        "word")
      .as[(String, Long)].collect().toMap
    assert(est == Map("x" -> 3L, "y" -> 1L))
  }

  test("restart: a fresh accumulator on the same path sees prior state") {
    val store = tmpStore()
    val acc1 = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128), compactEvery = 2)
    (0 until 4).foreach(i => acc1.update(Seq("hot", "cold").toDF("word"), i.toLong))
    val acc2 = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128), compactEvery = 2)
    acc2.update(Seq("hot").toDF("word"), 4L)
    val est = acc2.sketch.estimate(acc2.read(5L),
        Seq("hot", "cold").toDF("word"), "word")
      .as[(String, Long)].collect().toMap
    assert(est == Map("hot" -> 5L, "cold" -> 4L))
  }

  test("state stays cell-bounded however many distinct items stream by") {
    val store = tmpStore()
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 64), compactEvery = 2)
    (0 until 4).foreach { i =>
      acc.update((0 until 500).map(j => s"item_${i}_$j").toDF("word"), i.toLong)
    }
    assert(acc.read(4L).count() <= FreqSketch.Depth * 64L)
  }

  test("grouped fold equals the one-shot per-group sketch; groups are " +
      "isolated; separator in a group value survives") {
    val rows = corpus.zipWithIndex.map { case (w, i) =>
      (if (i % 2 == 0) "a:grp" else "b", w) // a group value WITH ':'
    }
    val batches = rows.grouped(1000)
      .map(_.toDF("g", "word")).toSeq
    val probes = rows.distinct.toDF("g", "word")
    val streamed = CellSketchMaintainer.replay(spark, batches,
        tmpStore(), CellSketch.Cms("word", width = 256), groupCol = Some("g"))
      .whole(_.estimate(_, probes, "word", Some("g")))
      .filter(col("est") >= 0L)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val oneShot = FreqSketch.cmsEstimateBy(
        FreqSketch.cmsSketchBy(rows.toDF("g", "word"), "g", "word",
          width = 256),
        probes, "g", "word", width = 256)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed == oneShot)
    // group isolation: estimates never under the group's own exact
    // count, and a word heavy in one group doesn't have to be heavy in
    // the other (bounded by the GROUP total, not the corpus total)
    val exact = rows.groupBy(identity)
      .map { case (k, vs) => k -> vs.size.toLong }
    exact.foreach { case (k, n) => assert(streamed(k) >= n,
      s"$k: ${streamed(k)} < $n") }
    val totals = rows.groupBy(_._1).map { case (g, vs) => g -> vs.size.toLong }
    streamed.foreach { case ((g, _), est) =>
      assert(est <= totals(g),
        s"estimate in group $g exceeds the group's own weight")
    }
    // the ':'-bearing group value round-trips the cell key intact
    assert(streamed.keys.exists(_._1 == "a:grp"))
    // a grouped read needs the probes' group column, a plain read
    // refuses one
    val grouped = new CellSketchMaintainer(spark, tmpStore(),
      CellSketch.Cms("word", width = 256), groupCol = Some("g"))
    grouped.update(batches.head, 0L)
    intercept[IllegalArgumentException] {
      grouped.sketch.estimate(grouped.read(1L), probes, "word")
    }
    val plain = new CellSketchMaintainer(spark, tmpStore(),
      CellSketch.Cms("word", width = 256))
    plain.update(batches.head.select("word"), 0L)
    intercept[IllegalArgumentException] {
      plain.sketch.estimate(plain.read(1L), probes, "word", Some("g"))
    }
  }

  test("windowed store: window reads equal the one-shot sketch of the " +
      "window's own batches; decay scales by freshness; guards hold") {
    val store = tmpStore()
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128), compactEvery = 2, windowed = true)
    val b = Seq(
      Seq("old", "old", "old", "both"),   // batch 0
      Seq("both", "mid"),                 // batch 1
      Seq("new", "new", "both"))          // batch 2
    b.zipWithIndex.foreach { case (ws, i) =>
      acc.update(ws.toDF("word"), i.toLong)
    }
    val probes = Seq("old", "mid", "new", "both").toDF("word")
    def est(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    // window [1, 3): batch 0 expired — "old" gone, counts are the
    // window's own (min over slices never under the window truth, and
    // for this tiny fixture there are no collisions to over-count)
    val w = est(acc.sketch.estimate(acc.read(3L, Some(1L)), probes, "word"))
    assert(w == Map("old" -> 0L, "mid" -> 1L, "new" -> 2L, "both" -> 2L),
      s"window estimates wrong: $w")
    // window read equals the ONE-SHOT sketch of exactly those batches
    val oneShot = est(FreqSketch.cmsEstimate(
      FreqSketch.cmsSketch((b(1) ++ b(2)).toDF("word"), "word", 128),
      probes, "word", 128))
    assert(est(acc.sketch.estimate(acc.read(3L, Some(1L)), probes, "word"))
      == oneShot)
    // decay halfLife 1 over 3 batches: factors 1/2/4 —
    // old: 3·1, mid: 1·2, new: 2·4, both: 1+2+4
    val d = est(acc.sketch.estimate(acc.read(3L, halfLifeBatches = Some(1)),
      probes, "word"))
    assert(d == Map("old" -> 3L, "mid" -> 2L, "new" -> 8L, "both" -> 7L),
      s"decayed estimates wrong: $d")
    // cumulative read still works on a windowed store
    assert(est(acc.sketch.estimate(acc.read(3L), probes, "word")) ==
      Map("old" -> 3L, "mid" -> 1L, "new" -> 2L, "both" -> 3L))
    // batch-id regression fails fast (ids live in the cell keys)
    val e = intercept[IllegalArgumentException] {
      acc.update(Seq("x").toDF("word"), 0L)
    }
    assert(e.getMessage.contains("checkpointLocation"))
    // a PLAIN store refuses windowed/decayed reads
    val plain = new CellSketchMaintainer(spark,
      tmpStore(), CellSketch.Cms("word", width = 128))
    plain.update(Seq("x").toDF("word"), 0L)
    val e2 = intercept[IllegalArgumentException] {
      plain.sketch.estimate(plain.read(1L, Some(0L)), probes, "word")
    }
    assert(e2.getMessage.contains("windowed store"))
    // decay span cap fails loud
    val e3 = intercept[IllegalArgumentException] {
      acc.sketch.estimate(acc.read(100L, halfLifeBatches = Some(1)), probes,
        "word")
    }
    assert(e3.getMessage.contains("decay span"))
  }

  test("byBatchWindow replay survives more batches than the default " +
      "compactEvery (lazy per-state reads must outlive later folds)") {
    // 10 batches > the accumulator's default compactEvery of 8: before
    // the replay pinned compactEvery = batches.size + 1, the fold fired
    // mid-replay and deleted the delta files the earlier (lazy) window
    // states still referenced — the final union then failed at
    // execution with FileNotFoundException
    val batches = (0 until 10).map(i => Seq.fill(i + 1)(s"w$i").toDF("word"))
    val probes = (0 until 10).map(i => s"w$i").toDF("word")
    val rows = CellSketchMaintainer.replay(spark, batches,
        tmpStore(), CellSketch.Cms("word", width = 128), windowed = true)
      .windows(2)(_.estimate(_, probes, "word")).filter(col("est") >= 1L)
      .as[(Long, String, String, Long)].collect()
    // every batch state reports exactly its 2-batch window: at batch i,
    // w_i (i+1 copies) and w_{i-1} (i copies) are the only survivors
    val byState = rows.filter(_._2 == "window")
      .groupBy(_._1).view.mapValues(_.map(r => r._3 -> r._4).toMap).toMap
    (0 until 10).foreach { i =>
      val expect = Map(s"w$i" -> (i + 1).toLong) ++
        (if (i > 0) Map(s"w${i - 1}" -> i.toLong) else Map.empty)
      assert(byState(i.toLong) == expect, s"state $i: ${byState(i.toLong)}")
    }
  }

  test("cumulative store also rejects batch-id regression: counts are " +
      "sum-merged, a renumbered stream would lose batch 0 and " +
      "double-count the rest") {
    val acc = new CellSketchMaintainer(spark, tmpStore(),
      CellSketch.Cms("word", width = 128))
    acc.update(Seq("a").toDF("word"), 0L)
    acc.update(Seq("b").toDF("word"), 1L)
    val e = intercept[IllegalArgumentException] {
      acc.update(Seq("c").toDF("word"), 0L) // restart without checkpoint
    }
    assert(e.getMessage.contains("checkpointLocation"))
    // a RETRY of the latest id stays allowed (idempotent overwrite)
    acc.update(Seq("b").toDF("word"), 1L)
    assert(acc.sketch.estimate(acc.read(2L), Seq("a", "b").toDF("word"), "word")
      .as[(String, Long)].collect().toMap == Map("a" -> 1L, "b" -> 1L))
  }

  test("byBatchWindowBy: per-(group, item) window estimates answer the " +
      "group's own windowed batches; decay scales within the group") {
    val b = Seq(
      Seq(("a", "x"), ("a", "x"), ("b", "x")),          // batch 0
      Seq(("a", "y"), ("b", "x")),                      // batch 1
      Seq(("a", "x"), ("b", "y"), ("b", "y")))          // batch 2
    val batches = b.map(_.toDF("g", "word"))
    val probes = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("g", "word")
    val rows = CellSketchMaintainer.replay(spark, batches,
        tmpStore(), CellSketch.Cms("word", width = 128), groupCol = Some("g"),
        windowed = true)
      .windows(2, decayHalfLife = Some(1))(
        _.estimate(_, probes, "word", Some("g")))
      .filter(col("est") >= 0L)
      .as[(Long, String, String, String, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4) -> r._5).toMap
    // window [1, 3): a sees x once (batch 2), y once (batch 1);
    // b sees x once (batch 1), y twice (batch 2)
    assert(rows((2L, "window", "a", "x")) == 1L)
    assert(rows((2L, "window", "a", "y")) == 1L)
    assert(rows((2L, "window", "b", "x")) == 1L)
    assert(rows((2L, "window", "b", "y")) == 2L)
    // batch-0 state: only batch 0 in window
    assert(rows((0L, "window", "a", "x")) == 2L)
    assert(rows((0L, "window", "b", "y")) == 0L)
    // decay factors 1/2/4 within each group:
    // a.x: 2·1 + 1·4 = 6; b.y: 2·4 = 8; b.x: 1·1 + 1·2 = 3
    assert(rows((2L, "decay", "a", "x")) == 6L)
    assert(rows((2L, "decay", "b", "y")) == 8L)
    assert(rows((2L, "decay", "b", "x")) == 3L)
  }

  test("keepBatches retention: folds evict expired cells, state stays " +
      "bounded, reads into the evicted range fail loud") {
    val store = tmpStore()
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128), compactEvery = 2, windowed = true,
      keepBatches = 2)
    // 8 batches, each with a distinct word repeated (i+1) times
    (0 until 8).foreach { i =>
      acc.update(Seq.fill(i + 1)(s"w$i").toDF("word"), i.toLong)
    }
    // folds ran at updates 2/4/6 → frontier 6, horizon = 6 - 2 = 4
    assert(acc.evictedBefore() == 4L)
    // state is bounded: every surviving cell's batch tag >= horizon
    // (expired cells left the store at the fold, they aren't just
    // filtered at read time)
    val tags = spark.read.option("recursiveFileLookup", "true")
      .parquet(store)
      .select(substring_index(col("cell"), ":", 1).cast("long"))
      .as[Long].distinct().collect().sorted
    assert(tags.toSeq == Seq(4L, 5L, 6L, 7L), s"stored tags: ${tags.toSeq}")
    // in-retention window reads stay EXACT vs the one-shot sketch
    val probes = (0 until 8).map(i => s"w$i").toDF("word")
    val got = acc.sketch.estimate(acc.read(8L, Some(6L)), probes, "word")
      .as[(String, Long)].collect().toMap
    assert(got("w6") == 7L && got("w7") == 8L && got("w3") == 0L)
    // reads reaching evicted batches fail loud: windowed below the
    // horizon, cumulative (fromBatch 0), and default-fromBatch decayed
    Seq(
      () => acc.sketch.estimate(acc.read(8L, Some(3L)), probes, "word"),
      () => acc.sketch.estimate(acc.read(8L), probes, "word"),
      () => acc.sketch.estimate(acc.read(8L, halfLifeBatches = Some(1)),
        probes, "word")
    ).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("evicted by retention"),
        e.getMessage)
    }
    // decayed read WITH an explicit in-retention fromBatch works
    val d = acc.sketch.estimate(acc.read(8L, Some(6L), Some(1)), probes,
        "word")
      .as[(String, Long)].collect().toMap
    assert(d("w6") == 7L && d("w7") == 16L, s"decayed: $d") // 7·1, 8·2
    // a retention store must be windowed; keepBatches >= 0
    intercept[IllegalArgumentException] {
      new CellSketchMaintainer(spark, tmpStore(),
        CellSketch.Cms("word", width = 128), keepBatches = 2)
    }
  }

  test("grouped retention through a fold: (batch, group) cells evict " +
      "independently — a group alive only in expired batches vanishes " +
      "from the store, live groups keep exact window reads") {
    val store = tmpStore()
    val acc = new CellSketchMaintainer(spark, store,
      CellSketch.Cms("word", width = 128), compactEvery = 2,
      groupCol = Some("g"), windowed = true, keepBatches = 2)
    // group "old" appears ONLY in batches 0-1; "live" in every batch
    (0 until 8).foreach { i =>
      val rows = Seq.fill(i + 1)(("live", s"w$i")) ++
        (if (i < 2) Seq.fill(5)(("old", s"w$i")) else Nil)
      acc.update(rows.toDF("g", "word"), i.toLong)
    }
    // folds at updates 2/4/6 → horizon 4; the gates replay with
    // compactEvery = batches+1 so THIS is the path they never drive:
    // grouped windowed retention actually firing at a fold
    assert(acc.evictedBefore() == 4L)
    // surviving cells: batch tags >= horizon, and group "old" — whose
    // every cell carried an expired tag — left the store entirely
    val cells = spark.read.option("recursiveFileLookup", "true")
      .parquet(store)
      .select(
        substring_index(col("cell"), ":", 1).cast("long").as("tag"),
        element_at(split(col("cell"), ":", 4), 4).as("grp"))
      .as[(Long, String)].collect()
    assert(cells.map(_._1).distinct.sorted.toSeq == Seq(4L, 5L, 6L, 7L),
      s"stored tags: ${cells.map(_._1).distinct.sorted.toSeq}")
    assert(cells.map(_._2).distinct.toSeq == Seq("live"),
      s"expired group's cells must leave at the fold: " +
        s"${cells.map(_._2).distinct.toSeq}")
    // live group's in-retention window reads stay exact
    val probes = (0 until 8).flatMap(i =>
      Seq(("live", s"w$i"), ("old", s"w$i"))).toDF("pg", "pw")
    val got = acc.sketch.estimate(acc.read(8L, Some(6L)), probes, "pw",
        Some("pg"))
      .as[(String, String, Long)].collect()
      .map { case (g, w, e) => (g, w) -> e }.toMap
    assert(got(("live", "w6")) == 7L && got(("live", "w7")) == 8L)
    assert(got(("live", "w0")) == 0L && got(("old", "w0")) == 0L)
    // reads reaching evicted batches still fail loud on the grouped path
    val e = intercept[IllegalArgumentException] {
      acc.sketch.estimate(acc.read(8L, Some(3L)), probes, "pw", Some("pg"))
    }
    assert(e.getMessage.contains("evicted by retention"), e.getMessage)
  }

  test("live stream: estimates accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val acc = new CellSketchMaintainer(spark, tmpStore(),
      CellSketch.Cms("word", width = 128))
    val query = acc.start(mem.toDF().select(col("value").as("word")))
    try {
      mem.addData("a", "b", "a")
      query.processAllAvailable()
      mem.addData("a")
      query.processAllAvailable()
      val est = acc.sketch.estimate(acc.read(uptoBatch = Long.MaxValue),
          Seq("a", "b").toDF("word"), "word")
        .as[(String, Long)].collect().toMap
      assert(est == Map("a" -> 3L, "b" -> 1L))
    } finally query.stop()
  }
}
