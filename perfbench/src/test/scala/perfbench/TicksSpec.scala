package perfbench

import java.time.{Instant, ZoneId}
import org.scalatest.funsuite.AnyFunSuite

class TicksSpec extends AnyFunSuite {
  private val tehran = ZoneId.of("Asia/Tehran")

  test("the same seed gives identical ticks, another seed different ones") {
    for (day <- 0 to 1; hour <- Seq(0, 13, 23)) {
      assert(Ticks.hour(7L, day, hour) == Ticks.hour(7L, day, hour))
      assert(Ticks.hour(7L, day, hour).ticks != Ticks.hour(8L, day, hour).ticks)
    }
  }

  test("every source x side group ticks in its hour's first and last minute") {
    for (seed <- Seq(1L, 2L, 99L); day <- 0 to 1; hour <- 0 until 24) {
      val h = Ticks.hour(seed, day, hour)
      val groups = h.ticks.groupBy(t => (t.userId, t.eventType))
      assert(groups.size == Ticks.Sources * Ticks.Sides.size)
      groups.values.foreach { ts =>
        val local = ts.map(t => Instant.ofEpochSecond(t.tsMicros / 1000000).atZone(tehran))
        assert(local.forall(l => l.getHour == hour && l.toLocalDate == Ticks.FirstDay.plusDays(day.toLong)))
        val minutes = local.map(_.getMinute).toSet
        assert(minutes.contains(0) && minutes.contains(59))
      }
    }
  }

  test("the expected hour counts follow from the ticks") {
    val h = Ticks.hour(3L, 0, 5)
    val minutes = h.ticks.groupBy(t => (t.userId, t.eventType)).values
      .map(ts => ts.map(t => (t.tsMicros / 60000000L) % 60).distinct.size).sum
    assert(h.expect.extracted == h.ticks.size)
    assert(h.expect.gridMinutes == 60)
    assert(h.expect.densifiedRows == h.ticks.size + (48 * 60 - minutes))
    assert(h.ticks.map(_.eventId).distinct.size == h.ticks.size)
    assert(Ticks.hour(3L, 0, 6).ticks.map(_.eventId).intersect(h.ticks.map(_.eventId)).isEmpty)
  }
}
