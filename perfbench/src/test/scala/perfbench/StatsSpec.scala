package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile counts only with ten samples beyond it") {
    assert(Stats.supported(20, 0.5))
    assert(!Stats.supported(19, 0.5))
    assert(Stats.supported(100, 0.9))
    assert(!Stats.supported(99, 0.9))
    assert(!Stats.supported(999, 0.99))
    assert(Stats.supported(1000, 0.99))
  }

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }

  test("self time subtracts the union of child intervals") {
    val parent = Span("p", "p", "queries", 0L, 100L, "")
    val kids = Seq(Span("a", "a", "sinks", 10L, 30L, "p"), Span("b", "b", "sinks", 20L, 40L, "p"),
      Span("c", "c", "sinks", 90L, 150L, "p"))
    assert(Tracer.selfUs(parent, kids) == 100L - 30L - 10L)
  }

  test("registry queries fall into their modules") {
    assert(RegistryWorkload.moduleOf("q_dedup_minhash") == "dedup")
    assert(RegistryWorkload.moduleOf("q_graph_bfs") == "graph")
    assert(RegistryWorkload.moduleOf("q_a1_downsample_max") == "paper")
    assert(RegistryWorkload.moduleOf("q_j1_recombine") == "paper")
    assert(RegistryWorkload.moduleOf("q_session_paths") == "other")
    assert(RegistryWorkload.moduleOf("q_er_blocked") == "other")
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark reports") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val start = text.indexOf("\"" + section + "\"")
      val body = text.substring(start, text.indexOf("]", start))
      """"name"\s*:\s*"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toList
    }
    assert(names("workloads") == Seq("logger", "registry"))
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Layers.catalog.map(_._1))
  }
}
