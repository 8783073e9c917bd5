package graft.logs

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.Broadcasts
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerStageSubmitted}
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

import graft.SparkTestBase

/** What one compacted day broadcasts: its write's Hadoop conf, once, which
  * its scan opens the raw objects on, and which is gone once the day is.
  */
class DayConfSpec extends SparkTestBase with Eventually {

  test("a compacted day broadcasts one Hadoop conf and leaves none behind") {
    val tmp = tempDir("graft-day-conf")
    val dt = "2021-02-03"
    val dir = tmp.resolve("raw/bucket1")
    Files.createDirectories(dir)
    (0 until 6).foreach { k =>
      Files.write(dir.resolve(s"$dt-00-00-0$k-OBJ$k"), (0 until 40).map { i =>
        f"owner bucket1 [03/Feb/2021:${i % 24}%02d:0$k:00 +0000] 1.2.3.4 arn:user/u${i % 8} " +
          f"REQ$k$i REST.GET.OBJECT logs/svc/2019/01/01/p$k-$i.gz " +
          "\"GET /x HTTP/1.1\" 200 - 1024 2048 10 5 \"-\" \"agent/1.0\" -\n"
      }.mkString.getBytes)
    }
    val cfg = Compacter.Config(tmp.resolve("raw").toString, "bucket1",
      tmp.resolve("out").toString, numOutputFiles = 3)
    Seq(cfg, cfg.copy(destRoot = cfg.destRoot + "-z", zorderBy = Seq("request_time", "requester")))
      .foreach { c =>
        val path = if (c.zorderBy.isEmpty) "time-sorted" else "z-order"
        val sc = spark.sparkContext
        val created = ConcurrentHashMap.newKeySet[Long]()
        val stages = new AtomicInteger()
        val listener = new SparkListener {
          override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
            e.blockUpdatedInfo.blockId match {
              case BroadcastBlockId(id, field)
                  if field.startsWith("piece") && e.blockUpdatedInfo.storageLevel.isValid =>
                created.add(id)
              case _ =>
            }
          override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
            stages.incrementAndGet()
        }
        sc.addSparkListener(listener)
        val stats = try {
          val s = Compacter.compactDayWithStats(spark, c, dt).get
          Broadcasts.drainListeners(sc)
          s
        } finally sc.removeSparkListener(listener)
        assert(stats.rows == 240, s"$path: $stats")
        // every submitted stage broadcasts its task binary; the rest are
        // the day's own
        assert(created.size - stages.get == 1,
          s"$path: ${created.size} broadcasts for ${stages.get} stages")
        def confsHeld = created.asScala.toSeq.filter(id =>
          Broadcasts.heldValue(id).exists(_.isInstanceOf[SerializableConfiguration]))
        // destroying a broadcast removes its blocks asynchronously
        eventually(timeout(10.seconds), interval(50.millis)) {
          assert(confsHeld.isEmpty, s"$path: conf broadcasts left behind")
        }
      }
  }
}
