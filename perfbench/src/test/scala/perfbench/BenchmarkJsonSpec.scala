package perfbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json, at the repo root, names what the harness prints. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val bench = Json.read("../BENCHMARK.json")
  private def names(key: String) = bench.get(key).elements().asScala.map(_.get("name").asText).toSeq

  test("the per-layer metrics are the traced run's, in order, with their units") {
    val declared = bench.get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared == Layers.all)
  }

  test("the workloads are the ones the harness runs") {
    names("workloads").foreach(w => assert(Workload(w).name == w))
  }

  test("the end-to-end metrics are the untraced run's") {
    assert(names("end_to_end").toSet == Set("setup_s", "peak_rss_mb", "sweep_s", "op_p50_s"))
  }
}
