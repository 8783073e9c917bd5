package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazily-created local session shared per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Job property holding `SparkContext.setJobDescription`'s text. */
  val JobDescription = "spark.job.description"

  /** The jobs started while `body` runs, in start order. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(e)
    }
    sc.addSparkListener(listener)
    try {
      val v = body
      // fence: a listener gets events in the order they were posted, so
      // once this job's start arrives, every job of `body` has been seen
      sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val jobs = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map(e => Option(e).getOrElse(fail("listener never saw the fence job")))
        .takeWhile(_.properties.getProperty(JobDescription) != "fence")
        .toSeq
      (v, jobs)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  // One session for the whole forked test JVM — suite-per-session churn
  // dominates test wall-clock otherwise.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
