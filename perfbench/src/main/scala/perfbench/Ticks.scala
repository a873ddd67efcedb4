package perfbench

import java.time.{LocalDate, ZoneId}
import java.util.SplittableRandom

/** Seeded generator of `events`-shaped gold-price ticks for the hourly
  * replay.
  *
  * The fixture `events` table cannot drive `FactPipeline.runHour`: its
  * ~139 ticks per hour are spread over 1 500 sources, so the first hour
  * already fails the completeness gate. These ticks are shaped for the
  * pipeline instead: 12 sources × 4 sides, about two ticks per minute per
  * group, and every group ticks in its hour's first and last minute, so
  * the hour's grid spans all 60 minutes and every group can be densified
  * across it. Because the layout is known here, so is what each hour must
  * produce ([[HourExpect]]), which is what the benchmark checks.
  */
object Ticks {
  val Sources = 12
  /** The four event types `GoldModel.sideId` maps to a side id. */
  val Sides: IndexedSeq[String] = IndexedSeq("click", "purchase", "signup", "view")
  val Tehran: ZoneId = ZoneId.of("Asia/Tehran")
  /** First replayed Tehran day. */
  val FirstDay: LocalDate = LocalDate.of(2024, 3, 1)

  final case class Tick(
      eventId: Long, tsMicros: Long, userId: Long, eventType: String, value: Double)

  /** What `runHour` must report for an hour of these ticks. */
  final case class HourExpect(extracted: Long, densifiedRows: Long, gridMinutes: Long)

  final case class Hour(dateId: Int, hour: Int, ticks: IndexedSeq[Tick], expect: HourExpect)

  def dateId(day: Int): Int = {
    val d = FirstDay.plusDays(day.toLong)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** Ticks of Tehran hour `hour` of replay day `day`; event ids are
    * unique across the whole replay. */
  def hour(seed: Long, day: Int, hour: Int): Hour = {
    val start = FirstDay.plusDays(day.toLong).atTime(hour, 0).atZone(Tehran)
      .toInstant
    val startMicros = start.getEpochSecond * 1000000L
    val hourIndex = day * 24L + hour
    val ticks = IndexedSeq.newBuilder[Tick]
    var missingMinutes = 0L
    var n = 0
    for (src <- 0 until Sources; side <- Sides.indices) {
      val group = src * Sides.size + side
      val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + hourIndex * 4099L + group)
      var price = 1.0e6 * (1 + src) + 1000.0 * side + rng.nextInt(1000)
      var minutes = 0
      for (minute <- 0 until 60) {
        // first and last minute always tick; the rest draw 0–4 ticks
        val k = if (minute == 0 || minute == 59) 1 + rng.nextInt(2) else rng.nextInt(5)
        if (k > 0) minutes += 1
        // distinct seconds within the minute, ascending
        val seconds = rng.ints(0, 60).distinct().limit(k.toLong).sorted().toArray
        seconds.foreach { sec =>
          price += (rng.nextInt(2001) - 1000) / 100.0
          val ts = startMicros + (minute * 60L + sec) * 1000000L
          val id = (hourIndex * 100000L) + n
          n += 1
          ticks += Tick(id, ts, src.toLong, Sides(side), math.round(price * 100) / 100.0)
        }
      }
      missingMinutes += 60 - minutes
    }
    val all = ticks.result()
    Hour(dateId(day), hour, all,
      HourExpect(all.size.toLong, all.size + missingMinutes, 60L))
  }
}
