package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the code name the same workloads and metrics. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val bench = Seq(new File("perfbench"), new File("."))
    .find(d => new File(d, "run.py").exists && new File(d, "build.sbt").exists)
    .getOrElse(fail("run from the repository root or perfbench/"))
  private def read(f: File): JsonNode = new ObjectMapper().readTree(f)
  private val spec = read(new File(bench.getCanonicalFile.getParentFile, "BENCHMARK.json"))
  private def names(key: String) = spec.get(key).elements().asScala.map(_.get("name").asText).toSeq

  test("workloads agree") {
    assert(names("workloads") == Main.WorkloadNames)
  }

  test("per-layer metrics agree with what a traced run prints") {
    assert(names("per_layer") == PerLayer.Metrics.map(_._1))
    val units = spec.get("per_layer").elements().asScala.map(n => n.get("unit").asText).toSeq
    assert(units == PerLayer.Metrics.map(_._2))
  }

  test("end-to-end metrics agree with what an untraced run prints") {
    assert(names("end_to_end") == EndToEnd.Metrics.map(_._1))
    val units = spec.get("end_to_end").elements().asScala.map(n => n.get("unit").asText).toSeq
    assert(units == EndToEnd.Metrics.map(_._2))
    assert(spec.get("end_to_end").elements().asScala.forall(_.get("bound").asDouble <= 0.25))
  }
}
