package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every workload at sf0.001 for a short window: the run passes its
  * output checks (failed_frac 0) and prints exactly the metrics
  * BENCHMARK.json declares, each with its declared unit. */
class SmokeSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val declared = json.readTree(new java.io.File("../BENCHMARK.json"))

  private def declaredUnits(kind: String): Map[String, String] =
    declared.get(kind).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap

  private def run(workload: String, trace: Boolean): JsonNode = {
    val base = java.nio.file.Paths.get("target", "smoke")
    java.nio.file.Files.createDirectories(base)
    val root = java.nio.file.Files.createTempDirectory(base, workload)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out) {
      Main.run(Main.Opts(workload, seed = 7L, seconds = 0.5, trace = trace,
        runDir = s"$root/run", outDir = s"$root/results", sf = Some(0.001)))
    }
    Main.deleteTree(root.toString)
    val last = new String(out.toByteArray, "UTF-8").trim.split("\n").last
    assert(code == 0, s"$workload exited $code: $last")
    json.readTree(last)
  }

  private def assertMetrics(line: JsonNode, kind: String): Unit = {
    assert(line.get("correct").asBoolean())
    assert(line.get("failed").asLong() == 0L, "failed_frac must be 0")
    assert(line.get("attempted").asLong() >= 1L)
    val printed = line.get("metrics").fields().asScala
      .map(e => e.getKey -> e.getValue.get("unit").asText()).toMap
    assert(printed == declaredUnits(kind))
    line.get("metrics").fields().asScala.foreach { e =>
      assert(e.getValue.get("value").isNumber, s"${e.getKey} is not a number")
    }
  }

  private val gated = declared.get("workloads").elements().asScala
    .map(_.get("name").asText()).toSeq

  test("BENCHMARK.json declares workloads the benchmark implements") {
    assert(gated.nonEmpty && gated.forall(Workload.names.contains))
    assert(declaredUnits("per_layer").keySet == Layers.declared.map(_._1).toSet)
  }

  Workload.names.foreach { w =>
    test(s"$w prints every end-to-end metric with its unit, failed_frac 0") {
      assertMetrics(run(w, trace = false), "end_to_end")
    }
  }

  gated.foreach { w =>
    test(s"$w traced prints every per-layer metric with its unit, failed_frac 0") {
      assertMetrics(run(w, trace = true), "per_layer")
    }
  }
}
