package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming bar rendering (SURVEY §2.9 ST1–ST3).
  *
  * Two forms, mirroring the reference's two renderers:
  *  - [[ohlcvStream]]: declarative tumbling-window aggregation over a
  *    streaming DataFrame (`readStream` → `groupBy(window(...))`), bars
  *    finalize when the event-time watermark passes the window end —
  *    the streaming twin of the batch `Ohlcv.render` (A1). Gaps produce
  *    no bars (no row → no group), matching ST3.
  *  - [[IncrementalBars.renderTicks]]: per-key `transformWithState`
  *    that maintains the currently-forming bar and emits each COMPLETED
  *    bar exactly once, in bucket order, when a tick arrives in a later
  *    bucket — the reference's bar-close lifecycle where the renderer is
  *    the single authority for closes
  *    (`/root/reference/python/framework/bars/bar_renderer.py:114-233`,
  *    `market_data_types.py:113-133`).
  */
object StreamingBars {

  /** Tumbling-window streaming OHLCV.
    * open/close use `min_by`/`max_by` over the unique (tsMs, tieBreak)
    * pair — deterministic, and legal in streaming aggregations (unlike
    * rank windows). */
  def ohlcvStream(ticks: DataFrame, keys: Seq[Column], ts: Column,
                  price: Column, volume: Column, tieBreak: Column,
                  timeframe: String, watermarkDelay: String): DataFrame = {
    val tf = graft.bars.Ohlcv.Timeframes(timeframe)
    ticks
      .withColumn("__ts", ts)
      .withColumn("__p", price)
      .withColumn("__v", volume)
      .withColumn("__ord", struct(ts.cast("timestamp"), tieBreak))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(keys :+ window(col("__ts"), tf).getField("start").as("bar_start"): _*)
      .agg(
        min_by(col("__p"), col("__ord")).as("open"),
        max(col("__p")).as("high"),
        min(col("__p")).as("low"),
        max_by(col("__p"), col("__ord")).as("close"),
        sum(col("__v")).as("volume"),
        count(col("__p")).as("tick_count"))
  }
}

/** Incremental (stateful) bar rendering over a typed tick stream. */
object IncrementalBars {

  case class Tick(key: String, tsMs: Long, price: Double, volume: Double)

  case class Bar(key: String, barStartMs: Long, open: Double, high: Double,
                 low: Double, close: Double, volume: Double, tickCount: Long)

  /** Open-bar state per key. */
  case class OpenBar(barStartMs: Long, open: Double, high: Double, low: Double,
                     close: Double, volume: Double, tickCount: Long)

  /** Fold one tick into the forming bar `open` (null before the key's
    * first tick) and return the new forming bar (A2,
    * `market_data_types.py:71-83`): open on first, high=max, low=min,
    * close=last, volume+=, count++. A tick in a later bucket first hands
    * the forming bar to `onClose` as a completed [[Bar]] and starts a new
    * one — gap buckets emit nothing (ST3). The bar operator and the
    * live loop fold ticks through this one function. */
  private[streaming] def foldTick(open: OpenBar, key: String, tsMs: Long,
      price: Double, volume: Double, barMs: Long)(onClose: Bar => Unit): OpenBar = {
    val bs = tsMs - tsMs % barMs
    if (open != null && bs == open.barStartMs)
      open.copy(high = math.max(open.high, price), low = math.min(open.low, price),
        close = price, volume = open.volume + volume, tickCount = open.tickCount + 1)
    else {
      if (open != null)
        onClose(Bar(key, open.barStartMs, open.open, open.high, open.low,
          open.close, open.volume, open.tickCount))
      OpenBar(bs, price, price, price, price, volume, 1L)
    }
  }

  /** The one keyed bar operator, cold or warm-started: each batch's
    * ticks fold through [[foldTick]] into a `ValueState` forming bar,
    * emitting each completed bar exactly once, in bucket order. An
    * initial state (ST4 warmup) seeds the forming bar before the first
    * micro-batch, so the first live bar CONTINUES the last historical
    * bar instead of restarting it. */
  class BarProcessor(barMs: Long)
      extends StatefulProcessorWithInitialState[String, Tick, Bar, OpenBar] {

    @transient private var open: ValueState[OpenBar] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState("open", Encoders.product[OpenBar], TTLConfig.NONE)

    override def handleInitialState(key: String, initialState: OpenBar,
                                    timers: TimerValues): Unit =
      open.update(initialState)

    override def handleInputRows(key: String, rows: Iterator[Tick],
                                 timers: TimerValues): Iterator[Bar] = {
      val closed = scala.collection.mutable.ArrayBuffer.empty[Bar]
      var cur = if (open.exists()) open.get() else null
      rows.foreach(t => cur = foldTick(cur, key, t.tsMs, t.price, t.volume, barMs)(closed += _))
      if (cur != null) open.update(cur)
      closed.iterator
    }
  }

  /** Stateful streaming render: emits each completed bar exactly once, in
    * order, when the first tick of a later bucket arrives. Ticks must be
    * in event-time order per key within each micro-batch (upstream sorted;
    * out-of-order feeds need a watermark-buffered variant).
    * The still-forming bar stays in state and is never emitted early.
    * With a `checkpointLocation` on the query, the open-bar state is
    * snapshot per batch and restored on restart (ST11) — a bar spanning
    * a restart closes exactly once. */
  def renderTicks(ticks: Dataset[Tick], barMs: Long): Dataset[Bar] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .transformWithState(new BarProcessor(barMs), TimeMode.None(), OutputMode.Append())
  }

  /** Warm-started render (ST4): per-key forming-bar state seeded from
    * history (the REST-OHLC warmup analogue), so restart and cold start
    * are the same operator. */
  def renderTicksWarm(ticks: Dataset[Tick], barMs: Long,
                      warmupState: Dataset[(String, OpenBar)]): Dataset[Bar] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .transformWithState(new BarProcessor(barMs), TimeMode.None(),
        OutputMode.Append(), warmupState.groupByKey(_._1).mapValues(_._2))
  }
}
