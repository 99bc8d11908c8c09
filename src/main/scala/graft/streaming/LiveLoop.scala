package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** The live tick loop (SURVEY ST1) as ONE streaming pipeline:
  * ticks (+ signals) → incremental bars → strategy on each bar close →
  * decisions — the Spark form of the reference's autotrader loop
  * (`/root/reference/python/framework/autotrader/autotrader_tick_loop.py`:
  * WS source → bar render → workers → decision → orders), with the
  * broker/order leg handled downstream by [[graft.sim.SimKernel]] or a
  * live adapter consuming the emitted decision rows.
  *
  * One `transformWithState` processor, [[LoopProcessor]], is the loop:
  * [[runWithSignals]] feeds it ticks and signals, and [[run]] is the same
  * loop without a signal feed. Per key it holds the latest signal, the
  * forming bar and a bounded bar history (trimmed to the strategy's
  * lookback — the ST4 warmup requirement). BAR_CLOSE compute basis (X3):
  * the strategy fires exactly once per completed bar, never on intra-bar
  * ticks, and sees only closed bars, which carry the summed tick volume.
  * Each key's micro-batch is stably sorted by (ts, kind), so ticks out of
  * time order inside one batch still fold in time order; cross-batch
  * order is the source's contract. All state is checkpoint-restored
  * (ST11). A [[run]] query keeps an unused `last_signal` state variable
  * and restarts from checkpoints written before it had one.
  */
object LiveLoop {

  /** BAR_CLOSE strategy plugin: full (oldest-first) closed-bar history
    * including the bar that just closed; returns 0+ action strings
    * (e.g. "BUY"/"SELL") that become decision rows. */
  trait BarStrategy extends Serializable {
    def lookbackBars: Int
    def onBarClose(history: Seq[IncrementalBars.Bar]): Seq[String]
  }

  /** One output event: a closed bar (kind="bar", action empty) or a
    * strategy decision (kind="decision", action set) stamped with the
    * closing bar's bucket. */
  case class LoopEvent(key: String, barStartMs: Long, kind: String,
                       action: String, close: Double, tickCount: Long)

  /** Most recent signal as the strategy sees it at a bar close: `ageMs`
    * is measured at the closing instant (the first tick of the next
    * bucket — the event that proves the bar complete), `stale` applies
    * the reference's stale-data guard (ST8) INSIDE the live loop: a
    * signal older than the freshness budget must not drive decisions. */
  case class SignalView(tsMs: Long, value: Double, ageMs: Long, stale: Boolean)

  /** BAR_CLOSE strategy with the signal attached (X2/X3 + J2 live). */
  trait SignalBarStrategy extends Serializable {
    def lookbackBars: Int
    def onBarClose(history: Seq[IncrementalBars.Bar],
                   signal: Option[SignalView]): Seq[String]
  }

  /** A [[BarStrategy]] as a [[SignalBarStrategy]] that ignores the signal. */
  private final class IgnoreSignal(inner: BarStrategy) extends SignalBarStrategy {
    def lookbackBars: Int = inner.lookbackBars
    def onBarClose(history: Seq[IncrementalBars.Bar],
                   signal: Option[SignalView]): Seq[String] = inner.onBarClose(history)
  }

  /** [[LoopEvent]] plus the signal view at emission time (age/staleness
    * are those of the closing instant; bars without any signal yet carry
    * hasSignal=false). */
  case class LoopEventS(key: String, barStartMs: Long, kind: String,
                        action: String, close: Double, tickCount: Long,
                        hasSignal: Boolean, signalValue: Double,
                        signalAgeMs: Long, signalStale: Boolean)

  /** The whole reference tick loop per key: as-of signal state (the
    * [[StreamingAsOf]] ValueState), the forming bar, and the bounded bar
    * history all live in the SAME keyed state store, so the loop needs one
    * shuffle of its feed and nothing else. Signals apply before ticks at
    * equal timestamps (backward-join `<=` visibility). */
  class LoopProcessor(barMs: Long, strategy: SignalBarStrategy,
                      maxSignalAgeMs: Long)
      extends StatefulProcessor[String, StreamingAsOf.Event, LoopEventS] {

    @transient private var open: ValueState[IncrementalBars.OpenBar] = _
    @transient private var hist: ListState[IncrementalBars.Bar] = _
    @transient private var last: ValueState[StreamingAsOf.LastSignal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState("open",
        Encoders.product[IncrementalBars.OpenBar], TTLConfig.NONE)
      hist = getHandle.getListState("bar_history",
        Encoders.product[IncrementalBars.Bar], TTLConfig.NONE)
      last = getHandle.getValueState("last_signal",
        Encoders.product[StreamingAsOf.LastSignal], TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
                                 rows: Iterator[StreamingAsOf.Event],
                                 timers: TimerValues): Iterator[LoopEventS] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[LoopEventS]
      var cur = if (open.exists()) open.get() else null
      var sig = if (last.exists()) last.get() else null

      def view(nowMs: Long): Option[SignalView] =
        Option(sig).map { s =>
          val age = nowMs - s.tsMs
          SignalView(s.tsMs, s.value, age, stale = age > maxSignalAgeMs)
        }

      def close(nowMs: Long)(bar: IncrementalBars.Bar): Unit = {
        val v = view(nowMs)
        def ev(kind: String, action: String) = LoopEventS(key, bar.barStartMs,
          kind, action, bar.close, bar.tickCount,
          hasSignal = v.isDefined, signalValue = v.map(_.value).getOrElse(0.0),
          signalAgeMs = v.map(_.ageMs).getOrElse(-1L),
          signalStale = v.exists(_.stale))
        out += ev("bar", "")
        val bars = (hist.get().toSeq :+ bar).takeRight(strategy.lookbackBars)
        hist.put(bars.toArray)
        strategy.onBarClose(bars, v).foreach(a => out += ev("decision", a))
      }

      rows.toArray.sortBy(e => (e.tsMs, e.kind)).foreach { e =>
        if (e.kind == 0) { // signal: last-wins under the monotone clock
          if (sig == null || e.tsMs >= sig.tsMs)
            sig = StreamingAsOf.LastSignal(e.tsMs, e.signalValue)
        } else
          cur = IncrementalBars.foldTick(cur, key, e.tsMs, e.price, e.volume, barMs)(close(e.tsMs))
      }
      if (cur != null) open.update(cur)
      if (sig != null) last.update(sig)
      out.iterator
    }
  }

  /** The loop over a live tick stream with no signal feed. */
  def run(ticks: Dataset[IncrementalBars.Tick], barMs: Long,
          strategy: BarStrategy): Dataset[LoopEvent] = {
    import ticks.sparkSession.implicits._
    StreamingAsOf.ticksAsEvents(ticks)
      .groupByKey(_.key)
      .transformWithState(new LoopProcessor(barMs, new IgnoreSignal(strategy), Long.MaxValue),
        TimeMode.None(), OutputMode.Append())
      .map(e => LoopEvent(e.key, e.barStartMs, e.kind, e.action, e.close, e.tickCount))
  }

  /** The COMPLETE live pipeline of the reference's autotrader loop in one
    * streaming job: tick feed + signal feed → as-of attach → incremental
    * bars → staleness-gated BAR_CLOSE strategy → decision rows (signed
    * actions, ready for [[graft.sim.SimKernel]] replay or a live broker
    * adapter downstream). */
  def runWithSignals(ticks: Dataset[IncrementalBars.Tick],
                     signals: Dataset[(String, Long, Double)],
                     barMs: Long, strategy: SignalBarStrategy,
                     maxSignalAgeMs: Long): Dataset[LoopEventS] = {
    import ticks.sparkSession.implicits._
    StreamingAsOf.ticksAsEvents(ticks)
      .union(StreamingAsOf.signalsAsEvents(signals))
      .groupByKey(_.key)
      .transformWithState(new LoopProcessor(barMs, strategy, maxSignalAgeMs),
        TimeMode.None(), OutputMode.Append())
  }
}
