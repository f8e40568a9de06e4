package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The names the benchmark prints are exactly the names BENCHMARK.json
  * declares, with the same units, and its workloads are the declared ones.
  */
class MetricNamesSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(Metrics.endToEnd == declared("end_to_end"))
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(Metrics.perLayer == declared("per_layer"))
    assert(Metrics.perLayer.map(_._1).distinct.size == Metrics.perLayer.size)
  }

  test("every per-layer value the tracer computes has a declared name") {
    val root = Span(0, "iteration", -1, 0, 100)
    val spans = root +: (Metrics.etlSpans ++ Metrics.querySpans).zipWithIndex.map { case (n, i) =>
      Span(i + 1, n, 0, i, i + 1)
    }
    val declared = Metrics.perLayer.map(_._1).toSet
    for (w <- Workloads.all) {
      val computed = Layers.of(w, "no-such-dir", 1L, root, spans, new Recorder, 0.0).keySet
      assert(computed.subsetOf(declared), computed -- declared)
    }
  }

  test("workloads match BENCHMARK.json") {
    assert(Workloads.all.map(_.name) == json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq)
  }
}
