package graft.discovery

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-discovery analytics: gap/coverage reports, session tagging,
  * sliding extreme-move scans (SURVEY §2.5 W3–W5, §2.4 A3–A5, A19).
  */
object Discovery {

  /** Trading session from UTC hour — the reference's fixed forex session
    * map (`/root/reference/python/framework/utils/market_session_utils.py:17-28`):
    * 22–08 sydney_tokyo, 08–16 london (incl. 13–16 NY overlap),
    * 16–21 new_york, 21–22 transition. */
  def sessionFromUtcHour(hour: Column): Column =
    when(hour >= 22 || hour < 8, "sydney_tokyo")
      .when(hour >= 8 && hour < 16, "london")
      .when(hour >= 16 && hour < 21, "new_york")
      .otherwise("transition")

  /** Consecutive-row gap detection
    * (`/root/reference/python/data_management/discoveries/data_coverage_report.py:83-180`):
    * delta to previous event per key; a gap when delta > `gapFactor` ×
    * expected interval. Categories are duration-threshold based. */
  def gaps(df: DataFrame, keys: Seq[String], tsMs: String,
           expectedIntervalMs: Long, gapFactor: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsMs))
    val delta = col(tsMs) - lag(col(tsMs), 1).over(w)
    val threshold = (expectedIntervalMs * gapFactor).toLong
    df.withColumn("prev_ts_ms", lag(col(tsMs), 1).over(w))
      .withColumn("delta_ms", delta)
      .filter(col("delta_ms") > threshold)
      .withColumn("category",
        when(col("delta_ms") <= 60L * 60 * 1000, "short")
          .when(col("delta_ms") <= 6L * 60 * 60 * 1000, "moderate")
          .when(col("delta_ms") <= 48L * 60 * 60 * 1000, "large")
          .otherwise("extended"))
  }

  /** Weekend/holiday-aware gap detection (F16): same consecutive-row
    * detection as [[gaps]], but categories come from the forex market
    * calendar (`market_calendar.py:425-494` via [[MarketCalendar]]) so a
    * normal weekend closure is not reported as a data outage
    * (`data_coverage_report.py` categories: seamless/weekend/holiday/
    * short/moderate/large). */
  def gapsCalendar(df: DataFrame, keys: Seq[String], tsMs: String,
                   expectedIntervalMs: Long, gapFactor: Double = 2.0,
                   shortHours: Double = 0.5, moderateHours: Double = 4.0,
                   weekendClosure: Boolean = true): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsMs))
    val threshold = (expectedIntervalMs * gapFactor).toLong
    df.withColumn("prev_ts_ms", lag(col(tsMs), 1).over(w))
      .withColumn("delta_ms", col(tsMs) - col("prev_ts_ms"))
      .filter(col("delta_ms") > threshold)
      .withColumn("category", MarketCalendar.classifyGap(
        col("prev_ts_ms"), col(tsMs), shortHours, moderateHours, weekendClosure))
  }

  /** Sliding extreme-move scan
    * (`/root/reference/python/data_management/discoveries/extreme_move_scanner.py:145-277`):
    * forward-looking windows of `size` bars at stride size/4; a window is an
    * extreme move when |last close − first open| ≥ `moveAtr` × mean ATR and
    * the adverse excursion ≤ `adverseAtr` × mean ATR. Emits both directions.
    */
  def extremeMoves(bars: DataFrame, keys: Seq[String], order: Seq[String],
                   open: String, high: String, low: String, close: String,
                   atr: String, size: Int, moveAtr: Double = 3.0,
                   adverseAtr: Double = 1.5): DataFrame = {
    val ws = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    val fwd = ws.rowsBetween(0, size - 1)
    val stride = math.max(size / 4, 1)
    val idx = row_number().over(ws)
    val entry = col(open)
    val exit0 = last(col(close)).over(fwd)
    val hi = max(col(high)).over(fwd)
    val lo = min(col(low)).over(fwd)
    val meanAtr = avg(col(atr)).over(fwd)
    val nBars = count(col(close)).over(fwd)
    val scanned = bars
      .withColumn("__idx", idx)
      .withColumn("entry", entry)
      .withColumn("exit", exit0)
      .withColumn("win_high", hi)
      .withColumn("win_low", lo)
      .withColumn("mean_atr", meanAtr)
      .withColumn("__n", nBars)
      .filter((col("__idx") - 1) % stride === 0 && col("__n") === size &&
        col("mean_atr").isNotNull && col("mean_atr") > 0)
    val longMove = (col("exit") - col("entry")) / col("mean_atr")
    val longAdverse = (col("entry") - col("win_low")) / col("mean_atr")
    val shortMove = (col("entry") - col("exit")) / col("mean_atr")
    val shortAdverse = (col("win_high") - col("entry")) / col("mean_atr")
    val longs = scanned.filter(longMove >= moveAtr && longAdverse <= adverseAtr)
      .withColumn("direction", lit("LONG"))
      .withColumn("move_atr_multiple", longMove)
    val shorts = scanned.filter(shortMove >= moveAtr && shortAdverse <= adverseAtr)
      .withColumn("direction", lit("SHORT"))
      .withColumn("move_atr_multiple", shortMove)
    longs.unionByName(shorts).drop("__idx", "__n")
  }
}
