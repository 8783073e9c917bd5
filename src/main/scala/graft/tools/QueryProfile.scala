package graft.tools

import java.util.Locale
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Empirical per-query profile (optimization guide §1): with no Spark UI
  * in the sandbox, this is the stage/task-metrics view — per query it
  * reports wall seconds next to job/stage/task counts, summed executor
  * task time, GC, shuffle bytes/records and spill, so the driver-side
  * gap (wall − taskTime/cores) and the shuffle volume are visible
  * numbers instead of guesses.
  *
  * Usage: runMain graft.tools.QueryProfile <substr>[,<substr>...] [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (Bench parity).
  */
object QueryProfile {

  private final class Acc {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val shufReadRec = new AtomicLong
    val spillB = new AtomicLong
    val deserMs = new AtomicLong
    val resultSerMs = new AtomicLong
    def reset(): Unit = Seq(taskTimeMs, gcMs, shufReadB, shufWriteB,
      shufReadRec, spillB, deserMs, resultSerMs).foreach(_.set(0L))
  }

  def main(args: Array[String]): Unit = {
    val subs = args.headOption.getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val acc = new Acc
    // per-job wall + callsite, for attribution of many-job queries
    // (enable with SPARK_GRAFT_PROFILE_JOBS=1)
    val jobLog = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, String)]())
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val logJobs = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (logJobs) {
          val s = jobStarts.remove(e.jobId)
          if (s != null) jobLog.add((e.jobId, e.time - s._1, s._2))
        }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        acc.jobs.incrementAndGet()
        if (logJobs) {
          val site = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '('))
            .getOrElse("?")
          val execId = Option(j.properties)
            .map(p => p.getProperty("spark.sql.execution.id", "-"))
            .getOrElse("-")
          jobStarts.put(j.jobId, (j.time, s"$site exec=$execId"))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        acc.stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        acc.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          acc.taskTimeMs.addAndGet(m.executorRunTime)
          acc.gcMs.addAndGet(m.jvmGCTime)
          acc.deserMs.addAndGet(m.executorDeserializeTime)
          acc.resultSerMs.addAndGet(m.resultSerializationTime)
          acc.shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          acc.shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
          acc.shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          acc.spillB.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    })

    // Bench-parity warmup
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => () }
    }

    def num(v: Double): String =
      String.format(Locale.ROOT, "%.3f", Double.box(v))

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subs.isEmpty || subs.exists(n.contains))
    println(s"[profile] sf=$sfDir cpus=$cpus reps=$reps queries=${names.size}")
    graft.gates.Support.withScratch(names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        val j0 = acc.jobs.get; val s0 = acc.stages.get; val t0 = acc.tasks.get
        acc.reset(); jobLog.clear()
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - w0) / 1e9
        // settle straggler listener events so counts attribute correctly
        Thread.sleep(150)
        val jobs = acc.jobs.get - j0
        val stages = acc.stages.get - s0
        val tasks = acc.tasks.get - t0
        println(f"$name%-36s rep$r wall=${num(wall)}%7s s  jobs=$jobs%3d " +
          f"stages=$stages%4d tasks=$tasks%5d taskTime=${num(acc.taskTimeMs.get / 1e3)}%8s s " +
          f"gc=${acc.gcMs.get}%4d ms deser=${acc.deserMs.get}%5d ms " +
          f"shufR=${acc.shufReadB.get / 1024}%7d KiB/${acc.shufReadRec.get}%8d rec " +
          f"shufW=${acc.shufWriteB.get / 1024}%7d KiB spill=${acc.spillB.get / 1024}%6d KiB")
        if (logJobs && r == reps) {
          import scala.jdk.CollectionConverters._
          val entries = jobLog.asScala.toSeq
          val bySite = entries.groupBy(_._3.split(" exec=")(0))
            .map { case (site, js) =>
              val execs = js.map(_._3.split(" exec=")(1)).distinct.size
              (site, js.size, execs, js.map(_._2).sum) }
            .toSeq.sortBy(-_._4)
          bySite.take(12).foreach { case (site, n, ex, ms) =>
            println(f"    $site%-36s jobs=$n%4d execs=$ex%3d total=${ms}%6d ms")
          }
        }
        // Bench-parity inter-run settle: drain active jobs, then GC so
        // block-manager pressure from run N is not billed to run N+1
        val tracker = spark.sparkContext.statusTracker
        var spins = 0
        while (tracker.getActiveJobIds().nonEmpty && spins < 250) {
          Thread.sleep(20); spins += 1
        }
        System.gc()
      }
    })
    spark.stop()
  }
}
