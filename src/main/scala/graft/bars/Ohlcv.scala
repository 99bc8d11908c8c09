package graft.bars

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tick → OHLCV bar rendering.
  *
  * Semantics follow the reference's vectorized renderer
  * (`/root/reference/python/data_management/importers/vectorized_bar_renderer.py:155-212`):
  *   - open/close = first/last price in the bucket by event time,
  *   - high/low = max/min,
  *   - tick_count = count of price rows,
  *   - volume = sum,
  *   - empty buckets produce NO rows (gaps are not filled),
  *   - price for FX ticks is mid = (bid+ask)/2 (`market_data_types.py:29-32`).
  *
  * Determinism: first/last are `min_by`/`max_by` over the struct
  * (orderCol, tieBreak) — never Spark's non-deterministic `first`/`last`
  * aggregates — so re-runs and oracle comparisons are byte-stable.
  *
  * Scale: one aggregate, one shuffle on (keys, bucket), with map-side
  * partial aggregation for every column (open/close included); at 100 TB
  * the shuffle is proportional to the number of bars per map partition,
  * not to the tick count.
  */
object Ohlcv {

  /** The reference's fixed timeframe registry — 7 tumbling timeframes
    * (`/root/reference/python/framework/utils/timeframe_config_utils.py:50-59`).
    */
  val Timeframes: Map[String, String] = Map(
    "M1" -> "1 minute", "M5" -> "5 minutes", "M15" -> "15 minutes",
    "M30" -> "30 minutes", "H1" -> "1 hour", "H4" -> "4 hours", "D1" -> "1 day")

  /** Registry widths in microseconds. Each is a multiple of M1 and
    * divides a day, and `window()` buckets are epoch-aligned, so every
    * coarse bucket is a whole number of M1 buckets. */
  private val WidthsMicros: Map[String, Long] = Map(
    "M1" -> 60L, "M5" -> 300L, "M15" -> 900L, "M30" -> 1800L,
    "H1" -> 3600L, "H4" -> 14400L, "D1" -> 86400L).map { case (k, s) => k -> s * 1000000L }

  /** Render bars over an event-time bucket expression.
    *
    * @param df        input ticks
    * @param keys      partition keys (e.g. symbol / user_id)
    * @param bucket    bucket start column (e.g. `window($"ts", "1 hour").start`
    *                  or `date_trunc("hour", $"ts")`)
    * @param price     price column
    * @param volume    volume column (summed)
    * @param orderCol  event-time ordering column
    * @param tieBreak  unique tiebreaker for deterministic open/close
    */
  def render(df: DataFrame, keys: Seq[Column], bucket: Column, price: Column,
             volume: Column, orderCol: Column, tieBreak: Column): DataFrame = {
    val order = struct(orderCol, tieBreak)
    df.groupBy(keys :+ bucket.as("bucket"): _*)
      .agg(
        min_by(price, order).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, order).as("close"),
        sum(volume).as("volume"),
        count(price).as("tick_count"))
  }

  /** Render one of the 7 registry timeframes with tumbling `window()`. */
  def renderTimeframe(df: DataFrame, keys: Seq[Column], ts: Column, price: Column,
                      volume: Column, tieBreak: Column, timeframe: String): DataFrame = {
    val tf = Timeframes(timeframe)
    render(df, keys, window(ts, tf).getField("start"), price, volume, ts, tieBreak)
      .withColumnRenamed("bucket", "bar_start")
      .withColumn("timeframe", lit(timeframe))
  }

  /** Render every registry timeframe — mirrors `render_all_timeframes`
    * (`vectorized_bar_renderer.py:75-105`) — from one scan and one tick
    * shuffle: M1 bars come from [[render]], and all seven timeframes roll
    * up from them. A coarse bucket's open/close are the first/last M1
    * bar's by `bar_start` (unique per key), high/low are max/min, volume
    * and tick_count are sums. Coarse starts are epoch-aligned arithmetic
    * (`unix_micros − pmod(unix_micros, width)`), because Spark allows one
    * `window()` per plan. Volume is summed per M1 bar first, so a float
    * volume can differ from a direct tick sum in the last bits, as any
    * change of partial-sum order does.
    */
  def renderAllTimeframes(df: DataFrame, keys: Seq[Column], ts: Column, price: Column,
                          volume: Column, tieBreak: Column): DataFrame = {
    val m1 = render(df, keys, window(ts, Timeframes("M1")).getField("start"),
      price, volume, ts, tieBreak)
    val keyCols = m1.columns.take(keys.size).toSeq.map(col)
    val us = unix_micros(col("bucket"))
    val starts = array(WidthsMicros.toSeq.sortBy(_._1).map { case (tf, w) =>
      struct(timestamp_micros(us - pmod(us, lit(w))).as("bar_start"),
        lit(tf).as("timeframe"))
    }: _*)
    m1.withColumn("__tf", explode(starts))
      .groupBy(keyCols ++ Seq(col("__tf.bar_start").as("bar_start"),
        col("__tf.timeframe").as("timeframe")): _*)
      .agg(
        min_by(col("open"), col("bucket")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bucket")).as("close"),
        sum(col("volume")).as("volume"),
        coalesce(sum(col("tick_count")), lit(0L)).as("tick_count"))
      .select(keyCols ++ Seq(col("bar_start"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("tick_count"), col("timeframe")): _*)
  }
}
