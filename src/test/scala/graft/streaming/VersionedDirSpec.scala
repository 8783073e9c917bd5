package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.ext.Similarity

/** The store contract every streaming state store keeps through
  * [[VersionedDir]]: restart, retry, regression and retention, checked
  * table-driven over the four stores built on it, plus the checked
  * write and the schema-passing reads.
  */
class VersionedDirSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-vdir-$tag").toString + "/store"

  private def listed(path: String): Seq[String] =
    Option(new java.io.File(path).list()).toSeq.flatten
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted

  /** One store under test: `update` feeds batch `id` a fixed input,
    * `state` is the newest readable state in a canonical order.
    */
  private trait Handle {
    def update(id: Long): Unit
    def state(): Seq[String]
  }
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private final case class Store(name: String, open: String => Handle,
                                 guards: Boolean,
                                 retainedAfter4: Seq[String])

  private val cents = Similarity.ivfCentroids(vecs(0L until 40L),
    "vec_id", "embedding", numCells = 4)
  private def vecs(ids: Seq[Long]) = ids.map { i =>
    (i, Array.tabulate(8)(d => math.sin((i * 17 + d * 3).toDouble).toFloat))
  }.toDF("vec_id", "embedding")

  private val stores = Seq(
    Store("KeyedBatchStore", path => new Handle {
      val store = new KeyedBatchStore(spark, path, "k", "BIGINT",
        compactEvery = 2, numBuckets = 1)
      def update(id: Long): Unit = {
        store.requireNoRegression(id)
        store.maybeCompact(id)
        store.append(Seq(id * 10, id * 10 + 1, 0L).toDF("k"), id)
      }
      def state(): Seq[String] = canon(store.parts(
        store.maxStoredBatchId().get + 1).reduce(_ unionByName _).distinct())
    }, guards = true,
      retainedAfter4 = Seq("batch=4", "compacted_upto_4")),
    Store("StreamingComponents", path => new Handle {
      val m = new StreamingComponents.ComponentMaintainer(spark, path)
      def update(id: Long): Unit =
        m.update(Seq((id, id + 1), (id + 1, 7L)).toDF("id_a", "id_b"), id)
      def state(): Seq[String] = canon(m.labels(Long.MaxValue).get)
    }, guards = false,
      retainedAfter4 = Seq("labels_at_3", "labels_at_4")),
    Store("StreamingTDigest", path => new Handle {
      val acc = new StreamingTDigest.TDigestAccumulator(spark, path, "v",
        delta = 8)
      def update(id: Long): Unit =
        acc.update((0 until 50).map(j => (id * 31 + j * 7) % 97 + 0.5)
          .toDF("v"), id)
      def state(): Seq[String] = canon(acc.digest(Long.MaxValue))
    }, guards = true,
      retainedAfter4 = Seq("digest_upto_4", "digest_upto_5")),
    Store("StreamingIvf", path => new Handle {
      val acc = new StreamingIvf.IvfAccumulator(spark, path, "vec_id",
        "embedding", cents, compactEvery = 2)
      def update(id: Long): Unit = acc.update(vecs(id * 5 until id * 5 + 5), id)
      def state(): Seq[String] = canon(acc.postings())
    }, guards = true,
      retainedAfter4 = Seq("batch=4", "centroids", "gen=0_2", "gen=2_4")))

  stores.foreach { s =>
    test(s"${s.name}: a fresh handle on the same path continues from the " +
        "newest state") {
      val straight = s.open(tmp("straight"))
      (0L to 3L).foreach(straight.update)
      val path = tmp("restart")
      val first = s.open(path)
      (0L to 1L).foreach(first.update)
      val second = s.open(path)
      (2L to 3L).foreach(second.update)
      assert(second.state() == straight.state())
    }

    test(s"${s.name}: a same-id retry leaves identical state") {
      val path = tmp("retry")
      val h = s.open(path)
      (0L to 2L).foreach(h.update)
      val (before, files) = (h.state(), listed(path))
      h.update(2L)
      assert(h.state() == before)
      assert(listed(path) == files)
    }

    test(s"${s.name}: deleteBelow keeps the newest committed version " +
        "readable") {
      val path = tmp("retain")
      val h = s.open(path)
      (0L to 4L).foreach(h.update)
      assert(listed(path) == s.retainedAfter4)
      val newest = h.state()
      assert(newest.nonEmpty && s.open(path).state() == newest)
    }
  }

  stores.filter(_.guards).foreach { s =>
    test(s"${s.name}: a lower batch id after a higher one raises the " +
        "shared regression message") {
      val h = s.open(tmp("regress"))
      (0L to 2L).foreach(h.update)
      val before = h.state()
      val e = intercept[IllegalArgumentException](h.update(0L))
      assert(e.getMessage.contains(
        "already holds batches up to 2 but batch 0 arrived"), e.getMessage)
      assert(e.getMessage.contains("checkpointLocation") &&
        e.getMessage.contains("storePath"), e.getMessage)
      assert(h.state() == before, "the rejected update changed state")
    }
  }

  test("StreamingComponents keeps no regression guard: its strictly-below " +
      "read tolerates a renumbered stream") {
    val s = stores.find(_.name == "StreamingComponents").get
    val h = s.open(tmp("renumber"))
    (0L to 2L).foreach(h.update)
    h.update(0L)
    assert(h.state().nonEmpty)
  }

  test("VersionedDir lists ids ascending, skips unparseable names, and " +
      "deleteBelow keeps exactly the newest committed version readable") {
    val root = tmp("raw")
    val dir = new VersionedDir(spark, root, "v_")
    assert(dir.ids().isEmpty, "a missing root lists as empty")
    Seq(10L, 2L, 1L).foreach(i => dir.write(Seq(i).toDF("x"), i))
    new java.io.File(root, "v_notanumber").mkdirs()
    new java.io.File(root, "w_3").mkdirs()
    assert(dir.ids() == Seq(1L, 2L, 10L))
    assert(dir.deleteBelow(10L) == Seq(1L, 2L))
    assert(dir.ids() == Seq(10L))
    assert(dir.read(10L).as[Long].collect().toSeq == Seq(10L))
  }

  test("KeyedBatchStore.append rejects a misnamed and a wrong-typed column") {
    val store = new KeyedBatchStore(spark, tmp("shape"), "k", "BIGINT",
      compactEvery = 2, numBuckets = 1, countCol = Some("n"))
    store.append(Seq((1L, 2L)).toDF("k", "n"), 0L)
    val misnamed = intercept[IllegalArgumentException] {
      store.append(Seq((1L, 2L)).toDF("key", "n"), 1L)
    }
    assert(misnamed.getMessage.contains("key"), misnamed.getMessage)
    val mistyped = intercept[IllegalArgumentException] {
      store.append(Seq(("1", 2L)).toDF("k", "n"), 1L)
    }
    assert(mistyped.getMessage.contains("string"), mistyped.getMessage)
    // neither rejected write reached the store
    assert(store.parts(2L).map(_.count()).sum == 1L)
  }

  test("building t-digest and IVF state frames runs no Spark job") {
    val tdPath = tmp("fence-td")
    val td = new StreamingTDigest.TDigestAccumulator(spark, tdPath, "v",
      delta = 8, keepBatches = 3)
    (0L to 2L).foreach(i =>
      td.update((0 until 30).map(j => (i * 13 + j) % 41 + 0.25).toDF("v"), i))
    val ivf = new StreamingIvf.IvfAccumulator(spark, tmp("fence-ivf"),
      "vec_id", "embedding", cents, compactEvery = 2)
    (0L to 2L).foreach(i => ivf.update(vecs(i * 5 until i * 5 + 5), i))
    // a fresh handle on a t-digest store reads its declared schema too
    val reopened = new StreamingTDigest.TDigestAccumulator(spark,
      tdPath, "v", delta = 8, keepBatches = 3)
    val (frames, jobs) = jobsDuring(Seq(
      td.digest(3L),
      reopened.digest(2L),
      td.quantilesWindow(Seq(0.5), 3L, 1L),
      ivf.postings(),
      ivf.postings(2L)))
    assert(jobs.isEmpty, s"building state frames ran ${jobs.size} job(s)")
    val counts = frames.map(_.count())
    assert(counts.take(2).forall(_ > 0L))
    assert(counts.drop(2) == Seq(1L, 15L, 10L))
  }
}
