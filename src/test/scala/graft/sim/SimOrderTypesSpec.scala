package graft.sim

import graft.SparkSpecBase
import scala.jdk.CollectionConverters._

/** Scripted-trade tests for the extended order surface, mirroring the
  * reference suites: `tests/simulation/sltp_limit_validation/`,
  * `tests/simulation/partial_close/test_partial_close.py`,
  * `tests/simulation/swap_cost/test_swap_accrual.py`, and the heartbeat
  * parity test `tests/parity/test_heartbeat_ghost_parity.py`. */

private class StopAt0(stop: Double, dir: Direction = Long_) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenStop(dir, 1.0, stop)) else Seq(Hold)
}

private class StopLimitAt0(stop: Double, limit: Double) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenStopLimit(Long_, 1.0, stop, limit)) else Seq(Hold)
}

private class ModifyLimitScript(limit: Double, newPrice: Double) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenLimit(Long_, 1.0, limit))
    else if (ctx.tickIndex == 1 && ctx.pendingOrders.nonEmpty)
      Seq(ModifyOrder(ctx.pendingOrders.head.orderId, newPrice = newPrice))
    else Seq(Hold)
}

private class BadModifyScript(limit: Double) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenLimit(Long_, 1.0, limit))
    else if (ctx.tickIndex == 1 && ctx.pendingOrders.nonEmpty)
      // LONG limit: SL above the limit price is invalid -> immediate reject
      Seq(ModifyOrder(ctx.pendingOrders.head.orderId, newSl = limit + 0.001))
    else Seq(Hold)
}

private class CancelThenModify(limit: Double) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenLimit(Long_, 1.0, limit))
    else if (ctx.tickIndex == 1 && ctx.pendingOrders.nonEmpty) {
      val oid = ctx.pendingOrders.head.orderId
      // cancel schedules; the same-tick modify must hit the busy gate
      Seq(CancelOrder(oid), ModifyOrder(oid, newPrice = limit + 0.002))
    } else Seq(Hold)
}

private class PartialCloseScript extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenMarket(Long_, 0.03))
    else if ((ctx.tickIndex == 2 || ctx.tickIndex == 4) && ctx.openPositions.nonEmpty)
      Seq(PartialClose(ctx.openPositions.head.positionId, 0.01))
    else Seq(Hold)
}

private class OpenOnceHold(lots: Double = 1.0) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenMarket(Long_, lots)) else Seq(Hold)
}

private class TwoOpens(lots: Double) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenMarket(Long_, lots), OpenMarket(Long_, lots))
    else Seq(Hold)
}

/** Places `order` on the first tick and logs, per tick, the `busy` flag
  * of every order the decision callback sees. */
private class OpenAt0Logged(order: Decision) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] = {
    OpenAt0Logged.views.add((ctx.tick.timeMsc, ctx.pendingOrders.map(_.busy)))
    if (ctx.tickIndex == 0) Seq(order) else Seq(Hold)
  }
}
private object OpenAt0Logged {
  val views = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Boolean])]()
}

private class HeartbeatCounter(lots: Double = 1.0) extends DecisionLogic {
  override def wantsHeartbeat: Boolean = true
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 0) Seq(OpenMarket(Long_, lots)) else Seq(Hold)
  override def onHeartbeat(timeMsc: Long, ctx: DecisionContext): Seq[Decision] = {
    HeartbeatCounter.calls.add(timeMsc)
    Seq.empty
  }
}
private object HeartbeatCounter {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

class SimOrderTypesSpec extends SparkSpecBase {
  import spark.implicits._

  private val spec = SymbolSpec(digits = 5, tickValue = 1.0)
  private def cfg = SimConfig(spec)

  private def ticks(sid: String, rows: (Long, Double, Double)*): Seq[SimTick] =
    rows.map { case (msc, bid, ask) => SimTick(sid, msc, msc, bid, ask) }

  private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  test("STOP order triggers on breakout and fills at market (ST10)") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (2000L, 1.10020, 1.10030), // ask < stop: no trigger
      (3000L, 1.10050, 1.10060), // ask 1.10060 >= 1.10050 -> fill AT MARKET
      (4000L, 1.10070, 1.10080))
    val res = SimKernel.runScenarios(t.toDS(), cfg, new StopAt0(1.10050))
      .collect().head
    val tr = res.trades.head
    assert(math.abs(tr.entryPrice - 1.10060) < 1e-9) // market ask, not the stop
    assert(tr.entryTimeMsc === 3000L)
  }

  test("SHORT stop triggers when bid <= stop, fills at bid") {
    val t = ticks("s1",
      (1000L, 1.10050, 1.10060),
      (2000L, 1.10020, 1.10030), // bid 1.10020 > 1.10000: no trigger
      (3000L, 1.09990, 1.10000)) // bid <= 1.10000 -> fill at bid 1.09990
    val res = SimKernel.runScenarios(t.toDS(), cfg, new StopAt0(1.10000, Short_))
      .collect().head
    assert(math.abs(res.trades.head.entryPrice - 1.09990) < 1e-9)
  }

  test("STOP_LIMIT converts to a limit on trigger, fills at the limit price") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (2000L, 1.10050, 1.10060), // trigger (ask >= 1.10050); limit 1.10040 not reached
      (3000L, 1.10040, 1.10045), // ask 1.10045 > limit: still waiting
      (4000L, 1.10030, 1.10040)) // ask <= 1.10040 -> fill at the LIMIT price
    val res = SimKernel.runScenarios(t.toDS(), cfg,
      new StopLimitAt0(stop = 1.10050, limit = 1.10040)).collect().head
    val tr = res.trades.head
    assert(math.abs(tr.entryPrice - 1.10040) < 1e-9)
    assert(tr.entryTimeMsc === 4000L)
  }

  test("modify of a working limit applies after the async delay (#318)") {
    // limit 1.10000 never reached; modified to 1.10040 at idx1, applies
    // at the next pass -> fills at idx3 when ask reaches 1.10040
    val t = ticks("s1",
      (1000L, 1.10050, 1.10060),
      (2000L, 1.10050, 1.10060),
      (3000L, 1.10045, 1.10055),
      (4000L, 1.10030, 1.10040))
    val res = SimKernel.runScenarios(t.toDS(), cfg,
      new ModifyLimitScript(1.10000, 1.10040)).collect().head
    assert(res.trades.length === 1)
    assert(math.abs(res.trades.head.entryPrice - 1.10040) < 1e-9)
    assert(res.stats.nRejected === 0L)
  }

  test("invalid modification (SL above LONG limit) is rejected immediately") {
    val t = ticks("s1",
      (1000L, 1.10050, 1.10060),
      (2000L, 1.10050, 1.10060),
      (3000L, 1.10050, 1.10060))
    val res = SimKernel.runScenarios(t.toDS(), cfg, new BadModifyScript(1.10000))
      .collect().head
    assert(res.stats.nRejected === 1L)
    assert(res.trades.isEmpty) // order unchanged, never fills
  }

  test("cancel removes the order; same-tick second op hits the busy gate") {
    val t = ticks("s1",
      (1000L, 1.10050, 1.10060),
      (2000L, 1.10050, 1.10060),
      (3000L, 1.10000, 1.10000), // would fill the original limit if alive
      (4000L, 1.10000, 1.10000))
    val res = SimKernel.runScenarios(t.toDS(), cfg, new CancelThenModify(1.10000))
      .collect().head
    assert(res.trades.isEmpty)          // cancelled before the price arrived
    assert(res.stats.nRejected === 1L)  // the busy-blocked modify
  }

  test("partial close: proportional P&L and fees, remainder stays open (#119)") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010), // open 0.03 at ask 1.10010
      (2000L, 1.10020, 1.10030),
      (3000L, 1.10060, 1.10070), // partial 0.01 at bid 1.10060: 50 pts
      (4000L, 1.10080, 1.10090),
      (5000L, 1.10110, 1.10120), // partial 0.01 at bid 1.10110: 100 pts
      (6000L, 1.10210, 1.10220)) // end: close 0.01 at bid 1.10210: 200 pts
    val c = cfg.copy(commissionPerLot = 10.0)
    val res = SimKernel.runScenarios(t.toDS(), c, new PartialCloseScript)
      .collect().head
    val trs = res.trades.sortBy(_.exitTimeMsc)
    assert(trs.map(_.closeType) === Seq("partial", "partial", "full"))
    assert(trs.forall(tr => math.abs(tr.lots - 0.01) < 1e-12))
    // gross = points * tickValue * lots
    assert(math.abs(trs(0).grossPnl - 0.5) < 1e-6)
    assert(math.abs(trs(1).grossPnl - 1.0) < 1e-6)
    assert(math.abs(trs(2).grossPnl - 2.0) < 1e-6)
    // commission proportional: 10/lot * 0.01
    assert(trs.forall(tr => math.abs(tr.commission - 0.1) < 1e-9))
    // portfolio aggregation: balance moves by the sum of net P&Ls
    val totalNet = trs.map(_.netPnl).sum
    assert(math.abs(res.stats.finalBalance - (10000.0 + totalNet)) < 1e-9)
  }

  test("swap accrues per rollover crossing; weekends book on the triple day (#365)") {
    // LONG swap -7.85 points/night (a debit of 7.85 with tickValue 1, 1 lot).
    // Hold Mon 21:00 UTC -> Tue 23:00 UTC: crossings Mon 22:00 + Tue 22:00.
    val c = cfg.copy(swapEnabled = true, swapLongPoints = -7.85,
      swapRolloverUtcHour = 22, swapTripleWeekday = 2)
    val t1 = ticks("s1",
      (ms("2026-08-10T21:00:00Z"), 1.1, 1.1),
      (ms("2026-08-11T23:00:00Z"), 1.1, 1.1))
    val r1 = SimKernel.runScenarios(t1.toDS(), c, new OpenOnceHold()).collect().head
    assert(math.abs(r1.trades.head.swapCost - 2 * 7.85) < 1e-9)
    assert(math.abs(r1.trades.head.netPnl - (-2 * 7.85)) < 1e-9)

    // Wednesday night carries the weekend's financing: multiplier 3.
    val t2 = ticks("s2",
      (ms("2026-08-12T21:00:00Z"), 1.1, 1.1), // Wednesday
      (ms("2026-08-12T23:00:00Z"), 1.1, 1.1))
    val r2 = SimKernel.runScenarios(t2.toDS(), c, new OpenOnceHold()).collect().head
    assert(math.abs(r2.trades.head.swapCost - 3 * 7.85) < 1e-9)

    // Fri 21:00 -> Mon 23:00: Sat/Sun carry NO rollover; Fri + Mon only.
    val t3 = ticks("s3",
      (ms("2026-08-14T21:00:00Z"), 1.1, 1.1), // Friday
      (ms("2026-08-17T23:00:00Z"), 1.1, 1.1)) // Monday
    val r3 = SimKernel.runScenarios(t3.toDS(), c, new OpenOnceHold()).collect().head
    assert(math.abs(r3.trades.head.swapCost - 2 * 7.85) < 1e-9)
  }

  test("margin check rejects an open exceeding free margin") {
    // leverage 10, contract 100k -> margin 10000/lot; balance 10000 covers
    // exactly one lot, the second open is rejected.
    val c = cfg.copy(leverage = 10.0, contractSize = 100000.0)
    val t = ticks("s1", (1000L, 1.1, 1.1), (2000L, 1.1, 1.1))
    val res = SimKernel.runScenarios(t.toDS(), c, new TwoOpens(1.0)).collect().head
    assert(res.trades.length === 1)
    assert(res.stats.nRejected === 1L)
  }

  test("heartbeat ghost-passes resolve latency fills inside tick gaps (ST6)") {
    HeartbeatCounter.calls.clear()
    // order placed at 1000 with 100ms latency; next data tick only at 5000.
    // Ghosts at 2000/3000/4000 -> the fill lands at ghost 2000, not 5000.
    val c = cfg.copy(latencyMinMs = 100, latencyMaxMs = 100,
      heartbeatIntervalMs = 1000, interTickGapThresholdMs = 300000)
    val t = ticks("s1", (1000L, 1.10000, 1.10010), (5000L, 1.10050, 1.10060))
    val res = SimKernel.runScenarios(t.toDS(), c, new HeartbeatCounter())
      .collect().head
    val tr = res.trades.head
    assert(tr.entryTimeMsc === 2000L)                 // ghost instant
    assert(math.abs(tr.entryPrice - 1.10010) < 1e-9) // last-known ask
    assert(HeartbeatCounter.calls.size === 3)         // 2000, 3000, 4000

    // Without heartbeats the same fill waits for the next data tick.
    val res2 = SimKernel.runScenarios(t.toDS(),
      c.copy(heartbeatIntervalMs = 0), new HeartbeatCounter()).collect().head
    assert(res2.trades.head.entryTimeMsc === 5000L)
  }

  test("no ghost-passes across gaps beyond the threshold (#208)") {
    HeartbeatCounter.calls.clear()
    val c = cfg.copy(latencyMinMs = 100, latencyMaxMs = 100,
      heartbeatIntervalMs = 1000, interTickGapThresholdMs = 3000)
    val t = ticks("s1", (1000L, 1.10000, 1.10010), (60000L, 1.10050, 1.10060))
    val res = SimKernel.runScenarios(t.toDS(), c, new HeartbeatCounter())
      .collect().head
    assert(HeartbeatCounter.calls.isEmpty)            // market said nothing
    assert(res.trades.head.entryTimeMsc === 60000L)   // fills at the data tick
  }

  test("latency-queued LIMIT/STOP/STOP_LIMIT: fill on the deadline tick or turn active (ST9/ST10)") {
    // 100 ms latency: placed at 1000, due at 1100, first drained at 2000.
    // Every trigger is already reached at 1000, so a fill there would mean
    // the order skipped the queue.
    val c = cfg.copy(latencyMinMs = 100, latencyMaxMs = 100)
    val cases = Seq(
      // (kind, order, reached (bid, ask), unreached (bid, ask), fill price)
      ("limit", OpenLimit(Long_, 1.0, 1.10040),
        (1.10020, 1.10030), (1.10050, 1.10060), 1.10040), // at the limit
      ("stop", OpenStop(Long_, 1.0, 1.10050),
        (1.10050, 1.10060), (1.10020, 1.10030), 1.10060), // at market ask
      ("stop_limit", OpenStopLimit(Long_, 1.0, 1.10050, 1.10070),
        (1.10050, 1.10060), (1.10020, 1.10030), 1.10070)) // at the limit
    for ((kind, order, hit, miss, fill) <- cases) {
      // (a) reached on the deadline tick: fills there, at the rule's price
      // (b) not reached: turns active (visible, not busy) and fills later
      //     through price monitoring
      for ((atDeadline, fillMsc, viewAt2000) <-
          Seq((hit, 2000L, Seq.empty[Boolean]), (miss, 3000L, Seq(false)))) {
        OpenAt0Logged.views.clear()
        val t = ticks("s1", (1000L, hit._1, hit._2),
          (2000L, atDeadline._1, atDeadline._2), (3000L, hit._1, hit._2))
        val res = SimKernel.runScenarios(t.toDS(), c, new OpenAt0Logged(order))
          .collect().head
        val what = s"$kind, fill at $fillMsc"
        assert(res.trades.length === 1, what)
        assert(res.trades.head.entryTimeMsc === fillMsc, what)
        assert(math.abs(res.trades.head.entryPrice - fill) < 1e-9, what)
        assert(res.stats.nRejected === 0L, what)
        assert(OpenAt0Logged.views.asScala.toMap.apply(2000L) === viewAt2000, what)
      }
    }
  }

  test("margin is re-checked at fill time for latency-queued market opens") {
    // leverage 10, contract 100k -> 10000/lot on a 10000 balance. Both
    // opens pass the submit-time check (nothing is open yet); at the fill
    // the first takes all free margin and the second is rejected.
    val c = cfg.copy(leverage = 10.0, contractSize = 100000.0,
      latencyMinMs = 100, latencyMaxMs = 100)
    val t = ticks("s1", (1000L, 1.1, 1.1), (2000L, 1.1, 1.1), (3000L, 1.1, 1.1))
    val res = SimKernel.runScenarios(t.toDS(), c, new TwoOpens(1.0)).collect().head
    assert(res.trades.length === 1)
    assert(res.trades.head.entryTimeMsc === 2000L)
    assert(res.stats.nRejected === 1L)
  }
}
