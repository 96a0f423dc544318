package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json lists exactly the metrics the harness reports. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats
  private val json = parse(scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8").mkString)

  private def listed(key: String): Seq[(String, String, String)] =
    (json \ key).extract[List[Map[String, Any]]].map(m =>
      (m("name").toString, m("unit").toString, m("better").toString))

  test("end_to_end and per_layer match the metrics the harness prints") {
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
  }

  test("every workload the harness runs is listed") {
    assert((json \ "workloads").extract[List[Map[String, String]]].map(_("name")) ==
      List("elt_sync", "curation_graph", "curation_text"))
  }
}
