package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the repository root) and the harness declare the same
  * workloads and the same metrics with the same units. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def metrics(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end and per-layer metrics match the harness's declarations") {
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
  }

  test("every benchmarked workload is one the harness runs") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names.nonEmpty && names.forall(Workload.Names.contains))
  }

  test("bounds lie in (0, 0.25] and setup_s has the largest") {
    val bounds = json.get("end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("bound").asDouble()).toMap
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
    assert(bounds("setup_s") == bounds.values.max)
  }
}
