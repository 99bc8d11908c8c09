package graft.discovery

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Forex market calendar (F16) — weekend/holiday-aware gap classification,
  * mirroring `reference/python/framework/utils/market_calendar.py:425-556`
  * and the closure window of `market_types.py:19-110`.
  *
  * Everything here is pure `Column` arithmetic over epoch-ms longs —
  * codegen-friendly, no UDFs, and expressible identically in the DuckDB
  * oracle (day-of-week from epoch-day arithmetic, not engine dow()).
  *
  * Weekend closure window (UTC): Friday >= 20:00 → Sunday <= 22:00,
  * expected 40–80h (primary) or Saturday → Sunday-open 24–50h (alt).
  * Market holidays: Dec 25, Jan 1 (the reference's fixed set).
  */
object MarketCalendar {

  val FridayStartHourUtc = 20
  val SundayEndHourUtc = 22
  val MinWeekendHours = 40.0
  val MaxWeekendHours = 80.0
  val AltMinWeekendHours = 24.0
  val AltMaxWeekendHours = 50.0

  /** (month, day) fixed market holidays (`MARKET_HOLIDAYS`). */
  val Holidays: Seq[(Int, Int)] = Seq((12, 25), (1, 1))

  private val DayMs = 86400000L

  /** Day of week from epoch ms, 0=Mon … 6=Sun (epoch day 0 = Thursday). */
  def dowUtc(tsMs: Column): Column = pmod(floor(tsMs / DayMs) + 3, lit(7))

  /** UTC hour-of-day from epoch ms. */
  def hourUtc(tsMs: Column): Column = floor(pmod(tsMs, lit(DayMs)) / 3600000L)

  /** True when [startMs, endMs] contains a fixed market holiday: the first
    * occurrence of (m, d) on/after the start date falls on/before the end
    * date (`gap_contains_holiday`, loop-free form). */
  def gapContainsHoliday(startMs: Column, endMs: Column): Column = {
    val sd = to_date(timestamp_millis(startMs))
    val ed = to_date(timestamp_millis(endMs))
    Holidays.map { case (m, d) =>
      val sameYear = make_date(year(sd), lit(m), lit(d))
      val occ = when(sameYear >= sd, sameYear)
        .otherwise(make_date(year(sd) + 1, lit(m), lit(d)))
      occ <= ed
    }.reduce(_ || _)
  }

  /** Gap category (`classify_gap`): seamless (<5s) → weekend (primary
    * Fri-evening→Sun-open 40–80h, or alt Sat→Sun-open 24–50h) → holiday
    * (>=20h containing a market holiday) → short / moderate / large by
    * duration thresholds. Set `weekendClosure=false` for 24/7 markets
    * (crypto): the weekend/holiday branches vanish. */
  def classifyGap(startMs: Column, endMs: Column,
                  shortHours: Double = 0.5, moderateHours: Double = 4.0,
                  weekendClosure: Boolean = true): Column = {
    val gapSec = (endMs - startMs) / 1000.0
    val gapH = gapSec / 3600.0
    val primary = dowUtc(startMs) === 4 &&
      hourUtc(startMs) >= FridayStartHourUtc &&
      dowUtc(endMs) === 6 && hourUtc(endMs) <= SundayEndHourUtc &&
      gapH.between(MinWeekendHours, MaxWeekendHours)
    val alt = dowUtc(startMs) === 5 &&
      dowUtc(endMs) === 6 && hourUtc(endMs) <= SundayEndHourUtc &&
      gapH.between(AltMinWeekendHours, AltMaxWeekendHours)
    val holiday = gapH >= 20.0 && gapContainsHoliday(startMs, endMs)
    val base = when(gapSec < 5.0, "seamless")
    val withWeekend =
      if (weekendClosure)
        base.when(primary || alt, "weekend").when(holiday, "holiday")
      else base
    withWeekend
      .when(gapH < shortHours, "short")
      .when(gapH < moderateHours, "moderate")
      .otherwise("large")
  }

  /** Split a long gap at weekend market boundaries
    * (`split_gap_at_market_boundaries`): gaps <= 80h pass through; longer
    * gaps split at Friday-close / Sunday-open instants so a data outage
    * spanning weekends is not masked as one weekend closure. Plain Scala
    * over epoch ms — used per detected gap row (post-filter, few rows). */
  def splitGapAtWeekendBoundaries(startMs: Long, endMs: Long): Seq[(Long, Long)] = {
    if ((endMs - startMs) / 3600000.0 <= MaxWeekendHours) return Seq((startMs, endMs))
    def dow(ms: Long): Int = Math.floorMod(Math.floorDiv(ms, DayMs) + 3, 7)
    def hour(ms: Long): Long = Math.floorMod(ms, DayMs) / 3600000L
    def dayStart(ms: Long): Long = Math.floorDiv(ms, DayMs) * DayMs
    def inWeekendClosure(ms: Long): Boolean = dow(ms) match {
      case 4 => hour(ms) >= FridayStartHourUtc
      case 5 => true
      case 6 => hour(ms) < SundayEndHourUtc
      case _ => false
    }
    def weekendEnd(ms: Long): Long = { // next Sunday SundayEndHourUtc:00
      var d = dayStart(ms)
      while (dow(d) != 6) d += DayMs
      val end = d + SundayEndHourUtc * 3600000L
      if (end > ms) end else end + 7 * DayMs
    }
    def nextFridayClose(ms: Long): Long = {
      var d = dayStart(ms)
      while (dow(d) != 4) d += DayMs
      val close = d + FridayStartHourUtc * 3600000L
      if (close > ms) close else close + 7 * DayMs
    }
    val segments = Seq.newBuilder[(Long, Long)]
    var current = startMs
    while (current < endMs) {
      if (inWeekendClosure(current)) {
        val segEnd = math.min(weekendEnd(current), endMs)
        segments += ((current, segEnd)); current = segEnd
      } else {
        val fri = nextFridayClose(current)
        if (fri < endMs) { segments += ((current, fri)); current = fri }
        else { segments += ((current, endMs)); current = endMs }
      }
    }
    segments.result()
  }
}
