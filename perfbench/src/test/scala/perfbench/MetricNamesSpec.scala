package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class MetricNamesSpec extends AnyFunSuite {
  private val names = Main.EndToEnd.keys.toSeq ++ Main.PerLayer.keys.toSeq

  test("every metric name is well formed and used once") {
    names.foreach { n =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") && n.length <= 64, n)
    }
    assert(names.distinct.size == names.size)
    (Main.EndToEnd.values ++ Main.PerLayer.values).foreach(u =>
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u))
  }

  test("BENCHMARK.json lists exactly the metrics and workloads the runner knows") {
    val spec = Io.json.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) =
      spec.get(key).elements.asScala.map(m => m.get("name").asText -> m).toSeq
    val e2e = listed("end_to_end")
    val layer = listed("per_layer")
    assert(e2e.map(_._1) == Main.EndToEnd.keys.toSeq)
    assert(layer.map(_._1) == Main.PerLayer.keys.toSeq)
    (e2e ++ layer).foreach { case (n, m) =>
      assert(m.get("unit").asText == Main.EndToEnd.getOrElse(n, Main.PerLayer(n)), n)
    }
    assert(listed("workloads").map(_._1) == Workload.names)
  }
}
