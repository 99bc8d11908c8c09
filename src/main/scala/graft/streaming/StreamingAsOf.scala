package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming backward as-of enrichment — the live form of
  * [[graft.ops.AsOfJoin.backward]] and the Spark shape of the
  * reference's tick-loop signal attach (`signal_data_provider.py:41-60`
  * driven from the live WebSocket loop): every tick carries the most
  * recent signal snapshot with `signalTs <= tickTs`, or none.
  *
  * Both feeds are unioned into ONE keyed stream (signals sort before
  * ticks at equal timestamps — `<=` visibility), and a
  * `transformWithState` processor keeps exactly the latest signal per
  * key in a `ValueState`. State is O(1) per key, checkpoint-restored on
  * restart (ST11), and the operator never buffers ticks — a late signal
  * older than the one in state is ignored, matching the live loop's
  * monotone collection clock.
  *
  * Per micro-batch, rows are processed in (ts, kind) order within each
  * key; cross-batch ordering is the source's responsibility (same
  * contract as [[IncrementalBars.renderTicks]]).
  */
object StreamingAsOf {

  /** One unioned event: kind 0 = signal (value in `signalValue`), kind 1
    * = tick (`price`, `volume`; only [[LiveLoop]] reads `volume`). */
  case class Event(key: String, tsMs: Long, kind: Int,
                   price: Double, volume: Double, signalValue: Double)

  case class LastSignal(tsMs: Long, value: Double)

  /** Enriched tick output. */
  case class Enriched(key: String, tsMs: Long, price: Double,
                      signalTsMs: Long, signalValue: Double,
                      hasSignal: Boolean)

  def ticksAsEvents(ticks: Dataset[IncrementalBars.Tick]): Dataset[Event] = {
    import ticks.sparkSession.implicits._
    ticks.map(t => Event(t.key, t.tsMs, 1, t.price, t.volume, 0.0))
  }

  def signalsAsEvents(signals: Dataset[(String, Long, Double)]): Dataset[Event] = {
    import signals.sparkSession.implicits._
    signals.map { case (k, ts, v) => Event(k, ts, 0, 0.0, 0.0, v) }
  }

  class AsOfProcessor extends StatefulProcessor[String, Event, Enriched] {

    @transient private var last: ValueState[LastSignal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState("last_signal",
        Encoders.product[LastSignal], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[Enriched] = {
      // (ts, kind) order: a signal stamped at the tick instant is
      // visible to that tick (backward-join <= semantics)
      val out = scala.collection.mutable.ArrayBuffer.empty[Enriched]
      var cur = if (last.exists()) last.get() else null
      rows.toArray.sortBy(e => (e.tsMs, e.kind)).foreach { e =>
        if (e.kind == 0) {
          if (cur == null || e.tsMs >= cur.tsMs) cur = LastSignal(e.tsMs, e.signalValue)
        } else {
          if (cur == null) out += Enriched(key, e.tsMs, e.price, 0L, 0.0, hasSignal = false)
          else out += Enriched(key, e.tsMs, e.price, cur.tsMs, cur.value, hasSignal = true)
        }
      }
      if (cur != null) last.update(cur)
      out.iterator
    }
  }

  /** Enrich a live tick stream with the latest signal per key. */
  def enrich(ticks: Dataset[IncrementalBars.Tick],
             signals: Dataset[(String, Long, Double)]): Dataset[Enriched] = {
    import ticks.sparkSession.implicits._
    ticksAsEvents(ticks).union(signalsAsEvents(signals))
      .groupByKey(_.key)
      .transformWithState(new AsOfProcessor, TimeMode.None(), OutputMode.Append())
  }

  case class PendingTick(tsMs: Long, price: Double)

  /** Streaming FORWARD as-of — the live mirror of
    * [[graft.ops.AsOfJoin.forward]]: every tick is enriched with the
    * EARLIEST signal at/after it (`signalTs >= tickTs`). Where the
    * backward processor needs only the last signal, forward must WAIT:
    * a tick with no signal at/after it yet is buffered in a `ListState`
    * and emitted the moment the next signal for its key arrives — so a
    * tick row is emitted exactly once, at its match instant, and ticks
    * whose match has not arrived stay pending in the checkpoint (a
    * stream cannot know that no later signal will ever come; the batch
    * operator's null-payload rows are exactly the still-pending set —
    * spec'd).
    *
    * Equal-timestamp visibility and the batch tie rule carry over: at
    * one timestamp signals process before ticks (>= semantics), equal-ts
    * signals process highest-value first so buffered ticks match the
    * highest payload among rows sharing the minimal timestamp, and a
    * tick arriving after its equal-ts signal matches via the retained
    * last-signal snapshot. Cross-batch event-time order is the source's
    * contract, as in [[AsOfProcessor]]. State is O(pending ticks) per
    * key — bounded by the signal cadence, not the stream length. */
  class ForwardAsOfProcessor extends StatefulProcessor[String, Event, Enriched] {

    @transient private var pending: ListState[PendingTick] = _
    @transient private var last: ValueState[LastSignal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState("pending_ticks",
        Encoders.product[PendingTick], TTLConfig.NONE)
      last = getHandle.getValueState("last_signal",
        Encoders.product[LastSignal], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[Enriched] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Enriched]
      var cur = if (last.exists()) last.get() else null
      var buf = {
        val it = pending.get()
        val b = scala.collection.mutable.ArrayBuffer.empty[PendingTick]
        while (it.hasNext) b += it.next()
        b
      }
      // (ts, kind, -value): signals before ticks at one instant (>= makes
      // the equal-ts signal visible to the tick), highest-value signal
      // first among equal-ts signals (the batch tie rule — the buffered
      // ticks must match the highest payload at the minimal timestamp).
      rows.toArray.sortBy(e => (e.tsMs, e.kind, -e.signalValue)).foreach { e =>
        if (e.kind == 0) {
          val isNewInstant = cur == null || e.tsMs > cur.tsMs
          if (isNewInstant) cur = LastSignal(e.tsMs, e.signalValue)
          if (isNewInstant && buf.nonEmpty) {
            val (matched, rest) = buf.partition(_.tsMs <= e.tsMs)
            matched.sortBy(_.tsMs).foreach(t =>
              out += Enriched(key, t.tsMs, t.price, e.tsMs, e.signalValue,
                hasSignal = true))
            buf = rest
          }
        } else {
          // In-order sources make cur.tsMs >= e.tsMs possible only at the
          // equal instant (or for a late tick, for which the retained
          // snapshot is the earliest still-known signal at/after it).
          if (cur != null && cur.tsMs >= e.tsMs)
            out += Enriched(key, e.tsMs, e.price, cur.tsMs, cur.value,
              hasSignal = true)
          else buf += PendingTick(e.tsMs, e.price)
        }
      }
      pending.clear()
      if (buf.nonEmpty) pending.appendList(buf.toArray)
      if (cur != null) last.update(cur)
      out.iterator
    }
  }

  /** Forward enrichment of a live tick stream: each tick emits once, with
    * the earliest signal at/after it; unmatched ticks remain pending. */
  def enrichForward(ticks: Dataset[IncrementalBars.Tick],
                    signals: Dataset[(String, Long, Double)]): Dataset[Enriched] = {
    import ticks.sparkSession.implicits._
    ticksAsEvents(ticks).union(signalsAsEvents(signals))
      .groupByKey(_.key)
      .transformWithState(new ForwardAsOfProcessor, TimeMode.None(), OutputMode.Append())
  }
}
