package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json at the repository root must declare exactly the metrics
  * and workloads the runner prints. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def entries(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.toSeq.map(e =>
      e.get("name").asText -> Option(e.get("unit")).map(_.asText).getOrElse(""))

  test("end-to-end metrics match the runner's, setup_s has the largest bound") {
    assert(entries("end_to_end").toMap == Main.EndToEnd.toMap)
    val bounds = json.get("end_to_end").elements().asScala.map(e =>
      e.get("name").asText -> e.get("bound").asDouble).toMap
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
    assert(bounds("setup_s") == bounds.values.max)
  }

  test("per-layer metrics match the runner's") {
    assert(entries("per_layer").toMap == Main.PerLayer.toMap)
    assert(entries("per_layer").size == Main.PerLayer.size)
  }

  test("workloads match the runner's") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names == Seq("webhook_live", "backfill_sync"))
    names.foreach(n => assert(Main.workload(n, 1L) != null))
  }
}
