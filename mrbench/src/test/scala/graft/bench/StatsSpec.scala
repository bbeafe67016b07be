package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a tail percentile needs ten samples beyond it") {
    assert(!Stats.reportable(90, 99))
    assert(Stats.reportable(90, 100))
    assert(!Stats.reportable(99, 999))
    assert(Stats.reportable(99, 1000))
    assert(Stats.reportable(50, 20) && !Stats.reportable(50, 19))
  }

  test("percentiles interpolate; median and geomean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 90) == 91.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
  }

  test("metric names are [A-Za-z0-9_.-]+ and BENCHMARK.json names only measured ones") {
    val names = Main.EndToEnd.keys ++ Layers.units.map(_._1)
    names.foreach(n => assert(n.matches(Stats.MetricName), n))
    assert(Layers.units.map(_._1).distinct.size == Layers.units.size)
    val spec = Paths.get("..", "BENCHMARK.json")
    if (Files.exists(spec)) {
      val json = new String(Files.readAllBytes(spec), UTF_8)
      val declared = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(json).map(_.group(1)).toSeq
      val workloads = Set("mr_wordcount", "suite_floor", "suite_heavy")
      declared.filterNot(workloads).foreach { n =>
        assert(n.matches(Stats.MetricName), n)
        assert(Main.EndToEnd.contains(n) || Layers.units.exists(_._1 == n), s"$n is never measured")
      }
    }
  }
}
