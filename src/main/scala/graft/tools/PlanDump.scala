package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dumps `.explain("formatted")` of named queries to
  * `<outDir>/<query>_<suffix>.txt` — the optimization-round evidence
  * files (plans/r15/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.tools.PlanDump <substr>[,<substr>...] <outDir> <suffix>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE is
  * scale-invariant; sf0.001 keeps the dump fast), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(subs, outDir, suffix) = args.take(3)
    val parts = subs.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => parts.exists(n.contains) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"wrote $outDir/${name}_$suffix.txt")
        } catch { case e: Throwable =>
          println(s"FAILED $name: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
