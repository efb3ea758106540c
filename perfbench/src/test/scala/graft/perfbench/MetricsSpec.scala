package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("BENCHMARK.json lists exactly the metrics the runs print, with their units") {
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
  }

  test("BENCHMARK.json lists exactly the workloads the runner knows") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workload.Names)
  }

  test("the result line carries every wanted metric, and refuses a missing one") {
    val r = RunResult(2, 0, Metrics.EndToEnd.map(_._1 -> 1.5).toMap)
    val line = Metrics.json(r, Metrics.EndToEnd)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(parsed.get("metrics").get("setup_s").get("unit").asText == "s")
    intercept[IllegalStateException](Metrics.json(r, Metrics.PerLayer))
    intercept[IllegalArgumentException](
      Metrics.json(r.copy(metrics = r.metrics + ("setup_s" -> Double.NaN)), Metrics.EndToEnd))
  }
}
