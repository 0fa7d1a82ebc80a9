package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the code that prints the metrics name the same
  * workloads and metrics.
  */
class ContractSpec extends AnyFunSuite {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
  private def names(key: String) = json.get(key).elements().asScala.map(_.get("name").asText).toSeq

  test("declared end-to-end metrics are the ones an untraced run prints") {
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(json.get("end_to_end").elements().asScala.map(_.get("unit").asText).toSeq ==
      Main.EndToEnd.map(_._2))
  }

  test("declared per-layer metrics are the ones a traced run prints") {
    assert(names("per_layer") == Layers.all.map(_._1))
    assert(json.get("per_layer").elements().asScala.map(_.get("unit").asText).toSeq ==
      Layers.all.map(_._2))
  }

  test("the declared workloads are exactly the ones a run accepts") {
    assert(names("workloads") == Workloads.names)
  }
}
