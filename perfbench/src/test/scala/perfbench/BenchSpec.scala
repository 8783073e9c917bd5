package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload at a tiny size, untraced and traced, and holds the
  * output to what BENCHMARK.json declares.
  */
class BenchSpec extends AnyFunSuite {

  private val declared = {
    val root = Paths.get(sys.props.getOrElse("perfbench.root", ".."))
    new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)
  }
  private def names(key: String): Seq[String] =
    declared.get(key).elements().asScala.map(_.get("name").asText).toSeq
  private def units(key: String): Map[String, String] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  private def tiny(w: Workload): Workload =
    w.copy(shape = Gen.Shape(w.shape.objects.min(40), 30), setupRounds = 2, warmRounds = 1,
      warmQueries = 1, minQueries = 2)

  private def run(w: Workload, trace: Boolean): Result =
    new Bench(tiny(w), seed = 1, seconds = 0.5, trace = trace,
      work = Files.createTempDirectory(s"perfbench-${w.name}")).run()

  test("BENCHMARK.json declares exactly the workloads the benchmark runs") {
    assert(names("workloads") == Workload.all.map(_.name))
  }

  Workload.all.foreach { w =>
    test(s"${w.name}: every declared metric is emitted, correct and well named") {
      val plain = run(w, trace = false)
      val traced = run(w, trace = true)
      Seq(plain, traced).foreach { r =>
        assert(r.correct && r.failed == 0 && r.attempted > 0, r.notes)
        r.metrics.foreach { case (name, _, unit) =>
          assert(name.matches("[A-Za-z0-9_.-]+"), name)
          assert(unit.matches("[A-Za-z0-9_/%.-]+"), unit)
        }
      }
      assert(plain.metrics.map(m => m._1 -> m._3).toMap == units("end_to_end"))
      assert(traced.metrics.map(m => m._1 -> m._3).toMap == units("per_layer"))
      plain.metrics.foreach { case (name, v, _) => assert(v > 0, name) }
      // the layer spans tile each traced day
      assert(traced.metrics.find(_._1 == "day.accounted_frac").get._2 > 0.97)
    }
  }
}
