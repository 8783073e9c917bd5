package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One lazily-created local session shared per suite. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temporary directory, deleted when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))

  /** Run `body` with the session confs `pairs` set, restoring each
    * conf's previous value (or its unset state) after.
    */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session's Hadoop conf, broadcast, for a scan built outside a
    * compacted day.
    */
  def sessionConf(): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sessionState.newHadoopConf()))

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
    // the session lives as long as the JVM, and so does its warehouse
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
