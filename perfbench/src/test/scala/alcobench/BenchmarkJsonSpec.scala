package alcobench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root describes what Main reports. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val root = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def named(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText -> Option(m.get("unit")).map(_.asText).orNull)

  test("workloads are the ones Main runs") {
    assert(named("workloads").map(_._1).toSet == Workloads.all.keySet)
  }

  test("end-to-end and per-layer metrics match Main, names and units") {
    assert(named("end_to_end") == Main.EndToEnd)
    assert(named("per_layer") == Main.PerLayer)
  }

  test("every end-to-end metric has a bound of at most a quarter") {
    root.get("end_to_end").elements().asScala.foreach { m =>
      val b = m.get("bound").asDouble
      assert(b > 0 && b <= 0.25, m.toString)
    }
  }
}
