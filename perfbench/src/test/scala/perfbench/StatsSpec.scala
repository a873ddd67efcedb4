package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
    assert(Stats.median(Seq(1.0, 2.0, Double.PositiveInfinity)) == 2.0)
  }

  test("per-kind medians combine as a geometric mean; one kind gives its median") {
    assert(Stats.kindMedianGmean(Seq("h" -> 3.0, "h" -> 1.0, "h" -> 2.0)) == 2.0)
    val mix = Seq("a" -> 1.0, "a" -> 1.0, "a" -> 9.0, "b" -> 4.0, "b" -> 4.0, "b" -> 0.5)
    assert(math.abs(Stats.kindMedianGmean(mix) - 2.0) < 1e-12)
    val inf = Double.PositiveInfinity
    assert(Stats.kindMedianGmean(mix ++ Seq("b" -> inf, "b" -> inf, "b" -> inf)).isInfinite)
  }

  test("p90 is reported only with at least ten samples beyond it") {
    assert(Stats.tail((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), 0.9).nonEmpty)
    assert(Stats.tail((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble), 0.5).contains(10.5))
  }

  test("union and self time discount overlapping child intervals once") {
    assert(Layers.union(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)
    val spans = Seq(Span(0, "op:q", 0, -1, 0, 100), Span(1, "a", 0, 0, 10, 40), Span(2, "b", 0, 0, 30, 60))
    val self = Layers.selfTimes(spans)
    assert(self(0) == 50 / 1e6 && self(1) == 30 / 1e6 && self(2) == 30 / 1e6)
  }

  test("call sites map to their source file") {
    val stack = "org.apache.spark.sql.Dataset.count(Dataset.scala:1500)\n" +
      "graft.io.TxTable$.$anonfun$upsert$1(TxTable.scala:912)\n" +
      "graft.pipeline.FactPipeline$.runHour(FactPipeline.scala:108)"
    assert(Tracer.siteFile(stack) == "TxTable")
    assert(Tracer.siteFile("java.util.concurrent.FutureTask.run(FutureTask.java:264)") == "")
  }
}
