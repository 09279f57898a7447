package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The metric names and units BENCHMARK.json declares are the ones the
  * benchmark prints, and its workloads are ones the benchmark runs. */
class BenchmarkSpec extends AnyFunSuite {

  private lazy val json = {
    val f = Seq(new java.io.File("../BENCHMARK.json"),
      new java.io.File("BENCHMARK.json")).find(_.isFile)
      .getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }

  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText -> m.get("unit").asText)

  test("per-layer metrics match the benchmark's list") {
    assert(declared("per_layer") == Metrics.PerLayer)
  }

  test("end-to-end metrics match the benchmark's list") {
    assert(declared("end_to_end").map(_._1) == Metrics.EndToEnd)
  }

  test("declared workloads exist") {
    val names = json.get("workloads").elements().asScala.map(
      _.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Workload.Names.contains))
  }
}
