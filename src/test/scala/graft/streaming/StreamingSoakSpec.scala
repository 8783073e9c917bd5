package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.{FreqSketch, Similarity}
import graft.logs.LogLineParser

/** The 100 TB stance proven in one long-run test: 50+ micro-batches
  * through the PARSED log stream feeding the windowed sketch stores,
  * plus a 50-batch IVF ingest through the same foreachBatch adapter a
  * live query invokes — asserting what actually breaks long streams:
  *
  *  - FILE COUNTS stay bounded by the compaction/retention invariants
  *    (not by stream length): a store that adds a file per batch scans
  *    50k files after a year of 10-minute triggers.
  *  - PLAN SIZES stay bounded: every read's `inputFiles` fan-in is a
  *    function of compactEvery/keepBatches/maxSegments only.
  *  - WINDOW READS AT THE HORIZON stay exact: after 50 folds + evictions
  *    the last-`window` read still equals the one-shot sketch of exactly
  *    those batches, and a read past the horizon still fails loud.
  */
class StreamingSoakSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-soak-$tag").toString + "/store"

  private def line(day: Int, op: String, key: String, bytes: Long): String =
    s"own bkt [${f"$day%02d"}/Feb/2019:01:00:00 +0000] 10.0.0.1 " +
      s"arn:aws:iam::1:user/u R$day$op $op $key " +
      "\"GET /k HTTP/1.1\" 200 - " + bytes + " - 5 - \"-\" \"ua/1.0\" -"

  private def parquetFiles(store: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(store))
  }

  test("50 micro-batches of parsed logs through windowed CMS + HDR " +
      "stores: bounded files, bounded plans, exact horizon reads") {
    implicit val sqlCtx = spark.sqlContext
    val nBatches = 50
    val window = 4
    val cmsStore = tmp("cms")
    val hdrStore = tmp("hdr")
    val cms = new CellSketchMaintainer(spark, cmsStore,
      CellSketch.Cms("key", width = 64), compactEvery = 4, windowed = true,
      keepBatches = 6)
    val hdr = new CellSketchMaintainer(spark, hdrStore,
      CellSketch.Hdr("bytes_sent", subBits = 4), compactEvery = 4,
      windowed = true, keepBatches = 6)
    val mem = MemoryStream[String]
    val parsed = LogLineParser.parse(
      LogLineParser.dropBlankLines(mem.toDF().toDF("value")))
    val query = parsed.writeStream
      .queryName("graft-soak")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        cms.update(batch.select(col("key")), id)
        hdr.update(batch.select(col("bytes_sent")), id)
      }
      .start()
    val filesAtHalf = try {
      var half = 0
      (0 until nBatches).foreach { i =>
        // batch i: key k<i> accessed (i%5)+1 times, bytes shift with i
        val lines = (0 to i % 5).map(_ =>
          line(1 + i % 28, "REST.GET.OBJECT", s"k$i", 100L * (i + 1)))
        mem.addData(lines: _*)
        query.processAllAvailable()
        if (i == nBatches / 2 - 1)
          half = parquetFiles(cmsStore) + parquetFiles(hdrStore)
      }
      half
    } finally query.stop()
    // FILES: the second half of the stream must not grow the store —
    // retention + compaction hold file counts at a constant set by
    // (compactEvery, keepBatches), not by batch count
    val filesAtEnd = parquetFiles(cmsStore) + parquetFiles(hdrStore)
    assert(filesAtEnd <= filesAtHalf + 8,
      s"store files grew with stream length: $filesAtHalf -> $filesAtEnd")
    // PLANS: a window read's scan fan-in is bounded the same way
    val cmsWindow = cms.sketch.estimate(
      cms.read(nBatches.toLong, Some((nBatches - window).toLong)),
      (0 until nBatches).map(i => s"k$i").toDF("key"), "key")
    assert(cmsWindow.inputFiles.length <= 12,
      s"window-read plan fans into ${cmsWindow.inputFiles.length} files")
    // HORIZON READS: the last-4-batches window equals the one-shot
    // sketch of exactly those batches, after 50 folds and evictions
    val got = cmsWindow.as[(String, Long)].collect().toMap
    (0 until nBatches).foreach { i =>
      val expect = if (i >= nBatches - window) (i % 5 + 1).toLong else 0L
      assert(got(s"k$i") == expect, s"k$i: ${got(s"k$i")} != $expect")
    }
    val hdrTruth = (nBatches - window until nBatches)
      .flatMap(i => Seq.fill(i % 5 + 1)(100L * (i + 1))).sorted
    hdr.sketch.quantiles(
        hdr.read(nBatches.toLong, Some((nBatches - window).toLong)),
        Seq(0.5, 0.99))
      .select("q", "rank", "lo", "hi")
      .as[(Double, Long, Long, Long)].collect()
      .foreach { case (q, rank, lo, hi) =>
        assert(rank == math.max(1L, math.ceil(q * hdrTruth.size).toLong))
        val truth = hdrTruth((rank - 1).toInt)
        assert(truth >= lo && truth <= hi,
          s"q$q: true $truth outside [$lo, $hi]")
      }
    // reads past the horizon STILL fail loud at batch 50
    Seq(
      () => cms.sketch.estimate(cms.read(nBatches.toLong, Some(0L)),
        Seq("k0").toDF("key"), "key"),
      () => hdr.sketch.quantiles(hdr.read(nBatches.toLong, Some(0L)),
        Seq(0.5))
    ).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("evicted by retention"), e.getMessage)
    }
  }

  test("50-batch IVF ingest through the foreachBatch adapter: segments " +
      "and plan fan-in bounded, postings exact, search serves") {
    val store = tmp("ivf")
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Array.tabulate(8)(d => math.sin((i * 17 + d * 3).toDouble).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(vecs(0L until 40L), "vec_id",
      "embedding", numCells = 4)
    val acc = new StreamingIvf.IvfAccumulator(spark, store, "vec_id",
      "embedding", cents, compactEvery = 2, maxSegments = 3)
    val ingest = acc.asForeachBatch // exactly what a live query invokes
    (0 until 50).foreach(i => ingest(vecs(Seq(i * 2L, i * 2L + 1)), i.toLong))
    val dirs = new java.io.File(store).list().toSeq
    assert(dirs.count(_.startsWith("gen=")) <= 3,
      s"segments grew past maxSegments: $dirs")
    assert(dirs.count(_.startsWith("batch=")) < 2,
      s"pending deltas grew past compactEvery: $dirs")
    val posts = acc.postings()
    assert(posts.inputFiles.length <= 4 * 8,
      s"postings plan fans into ${posts.inputFiles.length} files")
    assert(posts.count() == 100L)
    assert(posts.select("neighbor_id").distinct().count() == 100L)
    // a historical prefix read is still exact through merged segments
    assert(acc.postings(uptoBatch = 13L).count() == 26L)
    val hits = acc.search(vecs(Seq(42L)).select($"vec_id".as("query_id"),
      $"embedding"), "query_id", k = 3).collect()
    assert(hits.length == 3 && hits.exists(_.getAs[Long]("neighbor_id") == 42L))
  }

  test("50-batch t-digest ingest: version + batch-digest file counts " +
      "bounded by (keepVersions, keepBatches), horizon window exact, " +
      "past-horizon reads fail loud") {
    val store = tmp("tdigest")
    val nBatches = 50
    val window = 4
    val acc = new StreamingTDigest.TDigestAccumulator(spark, store, "v",
      delta = 32, keepVersions = 2, keepBatches = 6)
    var filesAtHalf = 0
    (0 until nBatches).foreach { i =>
      // batch i: 20 values centered on i*100 so the running quantiles move
      acc.update((0 until 20).map(j => i * 100L + j).toDF("v"), i.toLong)
      if (i == nBatches / 2 - 1) filesAtHalf = parquetFiles(store)
    }
    // FILES: cumulative versions are pruned to keepVersions and batch
    // digests to keepBatches — the second half must not grow the store
    val filesAtEnd = parquetFiles(store)
    assert(filesAtEnd <= filesAtHalf + 8,
      s"store files grew with stream length: $filesAtHalf -> $filesAtEnd")
    val dirs = new java.io.File(store).list().toSeq
    assert(dirs.count(_.startsWith("digest_upto_")) <= 2,
      s"cumulative versions grew past keepVersions: $dirs")
    assert(dirs.count(_.startsWith("batch_digest_")) <= 7,
      s"per-batch digests grew past keepBatches: $dirs")
    // HORIZON WINDOW: exact rank + bracket over exactly the last 4
    // batches' 80 values
    val truth = (nBatches - window until nBatches)
      .flatMap(i => (0 until 20).map(j => i * 100L + j)).sorted
    acc.quantilesWindow(Seq(0.5, 0.99), nBatches.toLong,
        (nBatches - window).toLong)
      .select(col("q"), col("target_rank"),
        col("vmin").cast("double"), col("vmax").cast("double"))
      .as[(Double, Long, Double, Double)].collect()
      .foreach { case (q, rank, lo, hi) =>
        assert(rank == math.floor(q * (truth.size - 1)).toLong, s"q$q rank")
        val t = truth(rank.toInt).toDouble
        assert(t >= lo && t <= hi, s"q$q: true $t outside [$lo, $hi]")
      }
    // cumulative read still serves (keepCumulative) after 50 folds
    assert(acc.quantiles(Seq(0.5), nBatches.toLong).count() == 1L)
    // a window wider than the retained digests fails loud
    val e = intercept[IllegalArgumentException] {
      acc.quantilesWindow(Seq(0.5), nBatches.toLong, 0L)
    }
    assert(e.getMessage.contains("raise keepBatches"), e.getMessage)
  }

  test("50-batch paragraph-dedup + boilerplate LSM stores: file counts " +
      "bounded by compaction, suppression semantics hold at batch 50") {
    val paraStore = tmp("para")
    val boilStore = tmp("boil")
    val para = new StreamingParagraphDedup.ParagraphDeduper(spark,
      paraStore, "doc_id", "text", compactEvery = 4, numBuckets = 4)
    val boil = new StreamingBoilerplate.BoilerplateStripper(spark,
      boilStore, "doc_id", "text", minDocs = 3, compactEvery = 4,
      numBuckets = 4)
    val nBatches = 50
    var pHalf = 0; var bHalf = 0
    var lastPara: Seq[(Long, Long, Long)] = Nil
    var lastBoil: Seq[(String, Long, Long)] = Nil
    (0 until nBatches).foreach { i =>
      // every doc carries one SHARED paragraph/line + one unique one
      val doc = Seq((s"d$i", s"SHARED FOOTER TEXT\nunique paragraph $i"))
        .toDF("doc_id", "text")
      // consume each returned frame before the next update (the
      // documented LSM contract a foreachBatch sink satisfies)
      lastPara = para.update(doc, i.toLong)
        .select($"batch_id", $"n_paras".cast("long"),
          $"n_kept".cast("long"))
        .as[(Long, Long, Long)].collect().toSeq
      lastBoil = boil.update(doc, i.toLong)
        .select($"clean_text", $"n_paras".cast("long"),
          $"n_kept".cast("long"))
        .as[(String, Long, Long)].collect().toSeq
      if (i == nBatches / 2 - 1) {
        pHalf = parquetFiles(paraStore); bHalf = parquetFiles(boilStore)
      }
    }
    // FILES: compaction folds deltas into ONE bucketed base — the
    // second half of the stream must not grow either store's file count
    assert(parquetFiles(paraStore) <= pHalf + 8,
      s"paragraph store grew: $pHalf -> ${parquetFiles(paraStore)}")
    assert(parquetFiles(boilStore) <= bHalf + 8,
      s"boilerplate store grew: $bHalf -> ${parquetFiles(boilStore)}")
    // SEMANTICS at the far end: the shared paragraph is a cross-doc
    // duplicate (seen in 49 prior docs) and the shared line is
    // boilerplate (way past minDocs=3) — batch 49 keeps only its
    // unique content
    assert(lastPara == Seq((49L, 2L, 1L)), s"paragraph dedup: $lastPara")
    assert(lastBoil.size == 1 && lastBoil.head._2 == 2L &&
      lastBoil.head._3 == 1L, s"boilerplate: $lastBoil")
    assert(lastBoil.head._1 == s"unique paragraph 49")
    // PLANS: the store probe fan-in is bounded by base buckets + deltas
    val parts = para.storeParts(nBatches.toLong)
    assert(parts.map(_.inputFiles.length).sum <= 4 + 4 * 4,
      s"probe fan-in: ${parts.map(_.inputFiles.length).sum}")
  }

  test("50-batch CDC upsert stream: vacuum holds generation dirs " +
      "bounded, current() stays exact latest-per-key, plan fan-in " +
      "bounded by buckets") {
    val store = tmp("cdc")
    val cdc = new StreamingMerge.StateStore(spark, store, "k",
      orderCols = Seq("ts"), numBuckets = 4)
    val nBatches = 50
    var halfGens = 0
    (0 until nBatches).foreach { i =>
      // 10-key space, every batch upserts 3 rotating keys at ts = i
      val rows = (0 until 3).map(j => (s"k${(i + j) % 10}", i.toLong,
        s"payload-$i-$j"))
      cdc.update(rows.toDF("k", "ts", "payload"), i.toLong)
      if (i % 10 == 9) cdc.vacuum() // no readers hold older snapshots
      if (i == nBatches / 2 - 1)
        halfGens = new java.io.File(store).list()
          .count(_.startsWith("gen-"))
    }
    cdc.vacuum()
    // GENS: superseded generations are deleted — live dirs are bounded
    // by the bucket → generation mapping, not by batch count
    val gens = new java.io.File(store).list().toSeq
      .filter(_.startsWith("gen-"))
    assert(gens.size <= 4 + 1,
      s"generation dirs grew with stream length: $gens")
    // CURRENT: exact latest-per-key after 50 upsert batches — key kX
    // was last touched by the latest batch i with (i+j)%10 == X
    val cur = cdc.current()
    assert(cur.count() == 10L)
    val got = cur.select($"k", $"ts").as[(String, Long)].collect().toMap
    (0 until 10).foreach { x =>
      val want = (0 until nBatches)
        .filter(i => (0 until 3).exists(j => (i + j) % 10 == x)).max.toLong
      assert(got(s"k$x") == want, s"k$x: ${got(s"k$x")} != $want")
    }
    // PLANS: a snapshot read scans O(numBuckets) generation dirs
    assert(cur.inputFiles.length <= 4 * 4,
      s"current() fans into ${cur.inputFiles.length} files")
  }

  /** Cited behavior contracts: the reference's production stance is
    * per-day batch jobs over S3 logs
    * (`/root/reference/scripts/oss_s3_server_side_logging_compacter.py:200-214`
    * loops days in one session); this soak pins the equivalent
    * long-run discipline for the streaming extension's stores.
    */

  test("50-batch MinHash-LSH near-dedup: retention bounds both stores, " +
      "window matches exact at batch 50") {
    val store = tmp("lsh")
    val base = (0 until 40).map(j => s"word$j").mkString(" ")
    val d = new StreamingMinhashLsh.MinhashLshDeduper(spark, store,
      "doc_id", "text", estThreshold = 0.5, compactEvery = 4,
      numBuckets = 4, keepBatches = 4)
    val nBatches = 50
    var half = 0
    var last: Set[(Long, Long)] = Set.empty
    (0 until nBatches).foreach { i =>
      // every doc is a near-copy of every other (shared 40-word base,
      // unique tail) — the worst case for an unbounded dedup index and
      // exactly what retention must keep bounded
      val doc = Seq((1000L + i, s"$base tail$i")).toDF("doc_id", "text")
      last = d.update(doc, i.toLong)
        .select($"doc_id", $"match_id").as[(Long, Long)].collect().toSet
      if (i == nBatches / 2 - 1) half = parquetFiles(store)
    }
    // FILES: with keepBatches retention the second half of the stream
    // must not grow the store (state is window-sized, not stream-sized)
    assert(parquetFiles(store) <= half + 8,
      s"LSH store grew: $half -> ${parquetFiles(store)}")
    // SEMANTICS at the far end: batch 49 probes exactly the retained
    // window — base covers horizon(44)..47 after the batch-48 fold,
    // plus the batch-48 delta — so its matches are docs 44..48, all
    // five, and nothing older
    assert(last == (44 until 49).map(j => (1049L, 1000L + j)).toSet,
      s"batch-49 window matches: $last")
    assert(d.evictedBefore() == 44L)
  }
}
