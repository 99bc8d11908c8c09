package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Spark 4 `transformWithState` form of the incremental bar renderer —
  * the successor API to `flatMapGroupsWithState`: typed named
  * `ValueState`, optional TTL/timers, and a state-store contract built
  * for the RocksDB provider (set
  * `spark.sql.streaming.stateStore.providerClass` to
  * `...state.RocksDBStateStoreProvider`; transformWithState requires it).
  *
  * Semantics are identical to [[IncrementalBars.renderTicks]]: each
  * completed bar emits exactly once, in bucket order, when a tick in a
  * later bucket arrives; gaps emit nothing; the forming bar stays in
  * state (and survives checkpointed restarts — ST11).
  */
object BarsTws {

  /** The per-batch fold shared by the cold and warm processors:
    * IncrementalBars.foldGroup over a ValueState instead of GroupState
    * (ticks event-time-ordered per key per batch). */
  private def foldRows(open: ValueState[IncrementalBars.OpenBar], barMs: Long,
                       key: String, rows: Iterator[IncrementalBars.Tick])
      : Iterator[IncrementalBars.Bar] = {
    val closed = scala.collection.mutable.ArrayBuffer.empty[IncrementalBars.Bar]
    var cur = if (open.exists()) open.get() else null
    rows.foreach(t =>
      cur = IncrementalBars.foldTick(cur, key, t.tsMs, t.price, t.volume, barMs)(closed += _))
    if (cur != null) open.update(cur)
    closed.iterator
  }

  class BarProcessor(barMs: Long)
      extends StatefulProcessor[String, IncrementalBars.Tick, IncrementalBars.Bar] {

    @transient private var open: ValueState[IncrementalBars.OpenBar] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState("open",
        Encoders.product[IncrementalBars.OpenBar], TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[IncrementalBars.Tick],
                                 timers: TimerValues): Iterator[IncrementalBars.Bar] =
      foldRows(open, barMs, key, rows)
  }

  /** Warm-start processor (ST4 on the Spark 4 API):
    * `StatefulProcessorWithInitialState` seeds the per-key forming bar
    * from a batch Dataset before the first micro-batch, so the first
    * live bar CONTINUES the last historical bar instead of restarting
    * it — the transformWithState successor to
    * [[LiveTicks.renderTicksWarm]]'s flatMapGroupsWithState form. */
  class WarmBarProcessor(barMs: Long)
      extends StatefulProcessorWithInitialState[String, IncrementalBars.Tick,
        IncrementalBars.Bar, IncrementalBars.OpenBar] {

    @transient private var open: ValueState[IncrementalBars.OpenBar] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState("open",
        Encoders.product[IncrementalBars.OpenBar], TTLConfig.NONE)

    override def handleInitialState(key: String,
                                    initialState: IncrementalBars.OpenBar,
                                    timers: TimerValues): Unit =
      open.update(initialState)

    override def handleInputRows(key: String,
                                 rows: Iterator[IncrementalBars.Tick],
                                 timers: TimerValues): Iterator[IncrementalBars.Bar] =
      foldRows(open, barMs, key, rows)
  }

  /** Stateful streaming render via transformWithState. */
  def renderTicks(ticks: Dataset[IncrementalBars.Tick], barMs: Long)
      : Dataset[IncrementalBars.Bar] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .transformWithState(new BarProcessor(barMs), TimeMode.None(),
        OutputMode.Append())
  }

  /** Warm-started render: per-key forming-bar state seeded from history. */
  def renderTicksWarm(ticks: Dataset[IncrementalBars.Tick], barMs: Long,
                      warmupState: Dataset[(String, IncrementalBars.OpenBar)])
      : Dataset[IncrementalBars.Bar] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key)
      .transformWithState(new WarmBarProcessor(barMs), TimeMode.None(),
        OutputMode.Append(), warmupState.groupByKey(_._1).mapValues(_._2))
  }
}
