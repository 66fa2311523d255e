package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The result JSON carries every metric BENCHMARK.json declares, with its
  * unit, and nothing else. */
class MetricsSpec extends AnyFunSuite {

  private val declared = {
    val root = sys.env.get("PERFBENCH_ROOT").map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(".").toAbsolutePath)
    new ObjectMapper().readTree(root.getParent.resolve("BENCHMARK.json").toFile)
  }

  private def namesAndUnits(key: String): Seq[(String, String)] =
    declared.path(key).elements().asScala.map(m => m.path("name").asText() -> m.path("unit").asText()).toSeq

  private def emitted(metrics: Seq[(String, String)]): Seq[(String, String)] = {
    val json = new ObjectMapper().readTree(Main.json(correct = true, 1, 0, metrics.map { case (n, u) => (n, 1.5, u) }))
    json.path("metrics").fields().asScala.map(e => e.getKey -> e.getValue.path("unit").asText()).toSeq
  }

  test("end-to-end metrics match BENCHMARK.json") {
    assert(emitted(Metrics.endToEnd).toSet == namesAndUnits("end_to_end").toSet)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(emitted(Metrics.perLayer).toSet == namesAndUnits("per_layer").toSet)
  }

  test("the workloads match BENCHMARK.json") {
    val names = declared.path("workloads").elements().asScala.map(_.path("name").asText()).toSeq
    assert(names == Workload.all.map(_.name))
  }

  test("the result line has exactly the four top-level keys") {
    val json = new ObjectMapper().readTree(Main.json(correct = false, 3, 1, Seq(("wall_s", 2.0, "s"))))
    assert(json.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(!json.path("correct").asBoolean() && json.path("attempted").asInt() == 3 && json.path("failed").asInt() == 1)
  }
}
