package graft.sim

import scala.collection.mutable
import org.apache.spark.sql.Dataset

/** The per-scenario sequential simulation kernel (SURVEY §3.1 phase 6).
  *
  * Distribution shape: ticks repartition by scenarioId and sort by
  * (scenarioId, timeMsc) within each partition, then one streamed pass
  * per scenario in which every variant (each point of a sweep; one for a
  * plain run) steps through each tick in lockstep — the Spark form of
  * the reference's ProcessPool fork (`batch_orchestrator.py:550-574`),
  * with scenarios as the unit of parallelism. State is O(open positions
  * + pending orders + mid window) per scenario and variant; tick history
  * never accumulates. Variants must not share mutable [[DecisionLogic]]
  * state, because their callbacks interleave.
  *
  * Per-tick order mirrors `process_tick_loop.py:200-316` and the
  * four-phase pending-order model of `trade_simulator.py:146-236`:
  *   (0) heartbeat ghost-passes in the inter-tick gap (ST6, #360) for
  *       opt-in strategies — broker resolution at ghost instants with
  *       last-known prices, gated off across gaps > threshold (#208);
  *   (1) broker path sees EVERY tick — Phase 0 scheduled modify/cancel
  *       resolve (#318), Phase 1 latency-queue drain, Phases 2+3 active
  *       limit/stop price monitoring, swap accrual (#365), SL/TP
  *       monitoring, position price update;
  *   (2) clipping gate (ST5): the algo path runs only for non-clipped
  *       ticks (virtual clock: keep if collected_msc >= vclock, then
  *       vclock = collected_msc + budget — `shared_data_preparator.py:462-538`);
  *   (3) decision logic → orders (market/limit/stop/stop-limit opens with
  *       seeded latency ST9, async modify/cancel, partial close), behind
  *       SL/TP validation and the margin check;
  *   (4) end of scenario: force-close remaining positions at last price.
  *
  * Fill semantics (ST10, `trade_simulator.py:610-686`), applied in one
  * place, `ScenarioSim.trigger`: market fills at ask (LONG) / bid (SHORT)
  * on the first pass at/after the latency deadline; LONG limit fills when
  * ask <= limit (at the limit price), SHORT limit when bid >= limit; STOP
  * triggers on breakout (LONG ask >= stop / SHORT bid <= stop) and fills
  * at market; STOP_LIMIT converts to a limit order at its limit price on
  * trigger. The latency drain, active-order monitoring and placement
  * without latency all go through it; a heartbeat ghost pass drains the
  * latency queue but does not monitor active orders. SL/TP close at the
  * level when bid/ask crosses.
  */
object SimKernel {

  /** [[runScenariosOutcomes]] that fails fast: a scenario's error outcome
    * fails the job with its `"<SimpleName>: <message>"`. */
  def runScenarios(ticks: Dataset[SimTick], config: SimConfig,
                   logic: DecisionLogic): Dataset[ScenarioResult] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    runScenariosOutcomes(ticks, config, logic).map { o =>
      o.result.getOrElse(throw new RuntimeException(o.error))
    }
  }

  /** [[runScenariosMultiplexed]] with one variant: executor-side failures
    * (a strategy throwing mid-scenario, bad tick data) are captured PER
    * SCENARIO as an error outcome instead of failing the whole job, so
    * one bad scenario/combination can't lose a whole sweep ledger. */
  def runScenariosOutcomes(ticks: Dataset[SimTick], config: SimConfig,
                           logic: DecisionLogic): Dataset[ScenarioOutcome] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    runScenariosMultiplexed(ticks, Seq(("", config, logic))).map(_._2)
  }

  /** The kernel's one Spark pass: run EVERY (variantId, config, logic)
    * variant against the same tick stream. Ticks repartition + sort once;
    * each scenario's ticks stream through once, and every variant steps
    * through each tick in lockstep — so a G-point parameter sweep pays
    * one shuffle of the data instead of G, and holds G scenario states,
    * never the scenario's ticks.
    *
    * Results are BIT-IDENTICAL to running each variant alone: every
    * variant runs under the ORIGINAL scenarioId (same latency seed, same
    * stats/trade ids) and the variant id is returned alongside, not
    * encoded into the scenario. Failure isolation is per (scenario,
    * variant): a variant that throws yields an error outcome for that
    * scenario and is stepped no further, while the others run on. Each
    * scenario emits its G outcomes in variant order.
    *
    * Variants must not share mutable [[DecisionLogic]] state: their
    * callbacks interleave tick by tick. */
  def runScenariosMultiplexed(ticks: Dataset[SimTick],
      variants: Seq[(String, SimConfig, DecisionLogic)])
      : Dataset[(String, ScenarioOutcome)] = {
    require(variants.nonEmpty, "runScenariosMultiplexed needs >= 1 variant")
    val spark = ticks.sparkSession
    import spark.implicits._
    val vs = variants.toVector
    ticks
      .repartition(org.apache.spark.sql.functions.col("scenarioId"))
      .sortWithinPartitions(
        org.apache.spark.sql.functions.col("scenarioId"),
        org.apache.spark.sql.functions.col("timeMsc"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Seq[(String, ScenarioOutcome)]] {
          override def hasNext: Boolean = buf.hasNext
          override def next(): Seq[(String, ScenarioOutcome)] = {
            val sid = buf.head.scenarioId
            runScenario(sid, vs, new Iterator[SimTick] {
              override def hasNext: Boolean = buf.hasNext && buf.head.scenarioId == sid
              override def next(): SimTick = buf.next()
            })
          }
        }.flatten
      }
  }

  /** Steps every variant through one scenario's ticks in lockstep. A
    * variant that throws, at set-up, on a tick or at the close, keeps
    * that error as its outcome and is stepped no further. */
  private def runScenario(sid: String,
      variants: Vector[(String, SimConfig, DecisionLogic)],
      ticks: Iterator[SimTick]): Seq[(String, ScenarioOutcome)] = {
    val sims = new Array[ScenarioSim](variants.length)
    val results = new Array[ScenarioResult](variants.length)
    val errors = Array.fill(variants.length)("")
    def isolated(v: Int)(body: => Unit): Unit =
      try body catch {
        case e: Exception =>
          errors(v) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          sims(v) = null
      }
    for (v <- variants.indices) isolated(v) {
      val (_, config, logic) = variants(v)
      sims(v) = new ScenarioSim(sid, config, logic)
    }
    while (ticks.hasNext) {
      val t = ticks.next()
      var v = 0
      while (v < sims.length) {
        if (sims(v) != null) isolated(v)(sims(v).step(t))
        v += 1
      }
    }
    variants.indices.map { v =>
      if (sims(v) != null) isolated(v)(results(v) = sims(v).finish())
      (variants(v)._1, ScenarioOutcome(sid, errors(v), Option(results(v))))
    }
  }

  /** One working order, through its whole lifecycle (trade_simulator.py
    * `_process_pending_orders` four-phase model):
    * submitted (latency, !active) → active (price-monitored) → filled or
    * cancelled. kind: 0=market 1=limit 2=stop 3=stop_limit.
    * op: 0=none 1=modify 2=cancel (#318 — one in-flight op at a time,
    * applied at the first pass with time >= applyAtMsc). */
  private final class Working(
      val id: Long, var kind: Int, val direction: Direction, val lots: Double,
      var price: Double,      // limit price (kind 1) / stop trigger (2, 3)
      var limitPrice: Double, // kind 3: limit placed after the stop triggers
      var sl: Double, var tp: Double,
      var deadlineMsc: Long, var active: Boolean,
      var op: Int = 0, var applyAtMsc: Long = 0L,
      var modPrice: Double = 0, var modLimit: Double = 0,
      var modSl: Double = 0, var modTp: Double = 0,
      var fromStopLimit: Boolean = false)

  /** One scenario of one variant as a state machine: [[step]] feeds it the
    * scenario's ticks in time order, [[finish]] force-closes what is still
    * open and returns the result. Its state is O(open positions + pending
    * orders + mid window); tick history never accumulates. */
  private final class ScenarioSim(sid: String, config: SimConfig,
                                  logic: DecisionLogic) {
    private val spec = config.spec
    private val pointFactor = math.pow(10, spec.digits)
    private val delay = new SeededDelay(
      config.latencySeed ^ sid.hashCode.toLong, config.latencyMinMs, config.latencyMaxMs)

    private val open = mutable.ArrayBuffer.empty[OpenPosition]
    private val working = mutable.ArrayBuffer.empty[Working]
    private val trades = mutable.ArrayBuffer.empty[TradeRecord]
    private val mids = new RingBuffer(config.midWindow)
    // ST2: per-timeframe forming bar; closes fire exactly once, in
    // timeframe order, on the first tick of a later bucket (the kernel
    // is the single authority for closes — bar_renderer.py:114-233)
    private val tfs = config.barTimeframesMs.sorted.toArray
    private val forming = new Array[KernelBar](tfs.length)
    // closes ACCUMULATE across clipped passes and drain when the algo
    // path next runs, so no close event is ever lost (ST2 —
    // market_data_types.py:113-133)
    private val pendingCloses = mutable.ArrayBuffer.empty[KernelBar]

    private var nextPositionId = 1L
    private var vclock = 0.0
    // ST5 guard: pre-v1.3.0 captures carry no collection timestamps
    // (collected_msc backfilled to 0); the reference detects this on the
    // first tick and disables budget filtering entirely rather than
    // clipping everything after tick 1 (_apply_tick_budget,
    // shared_data_preparator.py — collected_msc==0 → no filtering).
    private var clipEnabled = config.tickBudgetMs > 0
    private var ticksTotal = 0L
    private var ticksClipped = 0L
    private var nRejected = 0L
    private var balance = config.startBalance
    private var maxEquity = config.startBalance
    private var maxDrawdown = 0.0
    private var lastTick: SimTick = null

    private def grossPnl(direction: Direction, entry: Double, exit: Double, lots: Double): Double =
      (exit - entry) * direction.sign * pointFactor * spec.tickValue * lots

    private def record(p: OpenPosition, closeLots: Double, exitPrice: Double,
                     exitMsc: Long, reason: String, swapPart: Double,
                     closeType: String): Unit = {
      val gross = grossPnl(p.direction, p.entryPrice, exitPrice, closeLots)
      val commission = config.commissionPerLot * closeLots
      val net = gross - commission - swapPart
      val risk =
        if (p.slPrice > 0)
          math.abs(p.entryPrice - p.slPrice) * pointFactor * spec.tickValue * closeLots
        else 0.0
      trades += TradeRecord(sid, p.positionId,
        if (p.direction == Long_) "LONG" else "SHORT", closeLots,
        p.entryTimeMsc, p.entryPrice, exitMsc, exitPrice, gross, commission,
        net, p.maePnl, p.mfePnl, p.maePrice, p.mfePrice, risk,
        if (risk > 0) Some(net / risk) else None, reason, swapPart, closeType)
      balance += net
    }

    private def closePosition(p: OpenPosition, exitPrice: Double, exitMsc: Long,
                            reason: String): Unit =
      record(p, p.lots, exitPrice, exitMsc, reason, p.swapCost, "full")

    /** Partial close (`portfolio_manager.partial_close_position`):
      * realize P&L on the closed lots at the current price, split accrued
      * fees by close ratio, keep the remainder open. MAE/MFE stay the
      * position's running values (unscaled, per the reference). */
    private def partialClose(idx: Int, closeLots: Double, exitPrice: Double,
                           exitMsc: Long): Unit = {
      val p = open(idx)
      val ratio = closeLots / p.lots
      val swapPart = p.swapCost * ratio
      record(p, closeLots, exitPrice, exitMsc, "partial_close", swapPart, "partial")
      open(idx) = p.copy(lots = p.lots - closeLots, swapCost = p.swapCost - swapPart)
    }

    // ---- swap accrual (#365, points mode) ----
    private val DayMs = 86400000L
    private val rollMs = config.swapRolloverUtcHour * 3600000L
    private def accrueSwaps(nowMsc: Long): Unit = if (config.swapEnabled) {
      var i = 0
      while (i < open.length) {
        val p = open(i)
        if (nowMsc > p.swapAccruedUntilMsc) {
          val rate = if (p.direction == Long_) config.swapLongPoints
                     else config.swapShortPoints
          var cost = 0.0
          // first daily rollover instant strictly after the accrued bound
          var inst = (Math.floorDiv(p.swapAccruedUntilMsc - rollMs, DayMs) + 1) *
            DayMs + rollMs
          while (inst <= nowMsc) {
            // epoch day 0 = Thursday → +3 maps to 0=Mon … 6=Sun
            val dow = Math.floorMod(Math.floorDiv(inst, DayMs) + 3, 7)
            if (dow <= 4) { // weekend nights book on the triple weekday
              val mult = if (dow == config.swapTripleWeekday) 3 else 1
              cost -= rate * mult * spec.tickValue * p.lots
            }
            inst += DayMs
          }
          open(i) = p.copy(swapCost = p.swapCost + cost,
            swapAccruedUntilMsc = nowMsc)
        }
        i += 1
      }
    }

    // ---- margin (quote-margin mode; leverage 0 = disabled) ----
    private def marginUsed: Double =
      if (config.leverage <= 0) 0.0
      else {
        var m = 0.0; var i = 0
        while (i < open.length) {
          m += open(i).lots * config.contractSize / config.leverage; i += 1
        }
        m
      }
    private def unrealizedAt(bid: Double, ask: Double): Double = {
      var u = 0.0; var i = 0
      while (i < open.length) {
        val p = open(i)
        val cur = if (p.direction == Long_) bid else ask
        u += grossPnl(p.direction, p.entryPrice, cur, p.lots) - p.swapCost
        i += 1
      }
      u
    }
    private def marginOk(lots: Double, bid: Double, ask: Double): Boolean =
      config.leverage <= 0 || {
        val required = lots * config.contractSize / config.leverage
        balance + unrealizedAt(bid, ask) - marginUsed >= required
      }

    /** SL/TP validation vs the reference price (fill price approximation)
      * — `_validate_limit_order_sl_tp`: SL on the losing side, TP on the
      * winning side, no SL/TP cross; 0 = level absent. */
    private def validSlTp(dir: Direction, ref: Double, sl: Double, tp: Double): Boolean = {
      val slOk = sl <= 0 || (if (dir == Long_) sl < ref else sl > ref)
      val tpOk = tp <= 0 || (if (dir == Long_) tp > ref else tp < ref)
      val crossOk = sl <= 0 || tp <= 0 ||
        (if (dir == Long_) sl < tp else sl > tp)
      slOk && tpOk && crossOk
    }

    private def limitReached(w: Working, bid: Double, ask: Double): Boolean =
      if (w.direction == Long_) ask <= w.price else bid >= w.price
    private def stopReached(w: Working, bid: Double, ask: Double): Boolean =
      if (w.direction == Long_) ask >= w.price else bid <= w.price

    /** Fill a working open order — margin is RE-CHECKED at fill time
      * (the reference's portfolio opens positions through the margin
      * gate on fill, not only at submit): several orders that each
      * passed marginOk at decision time may not all fit once earlier
      * fills consumed free margin. A fill that no longer fits is
      * rejected, mirroring the adapter's open-position rejection. */
    private def fillOpen(w: Working, price: Double, msc: Long,
                       bid: Double, ask: Double): Unit =
      if (!marginOk(w.lots, bid, ask)) nRejected += 1
      else open += OpenPosition(w.id, w.direction, w.lots, msc, price, w.sl, w.tp,
        maePnl = 0.0, mfePnl = 0.0, maePrice = price, mfePrice = price,
        swapCost = 0.0, swapAccruedUntilMsc = msc)

    /** The ST10 rule for one working order that is due: market fills at
      * market, a reached LIMIT at its price, a reached STOP at market; a
      * reached STOP_LIMIT becomes a limit at its limit price and the rule
      * applies again. An order that does not fill turns active. Returns
      * true when the order left the book. */
    private def trigger(w: Working, bid: Double, ask: Double, nowMsc: Long): Boolean = {
      val market = if (w.direction == Long_) ask else bid
      w.kind match {
        case 0 => fillOpen(w, market, nowMsc, bid, ask); true
        case 1 if limitReached(w, bid, ask) => fillOpen(w, w.price, nowMsc, bid, ask); true
        case 2 if stopReached(w, bid, ask) => fillOpen(w, market, nowMsc, bid, ask); true
        case 3 if stopReached(w, bid, ask) =>
          w.kind = 1; w.price = w.limitPrice; w.fromStopLimit = true
          trigger(w, bid, ask, nowMsc)
        case _ => w.active = true; false
      }
    }

    // Phase 0: apply scheduled modify/cancel ops whose delay elapsed.
    private def resolveOps(nowMsc: Long): Unit = {
      var i = 0
      while (i < working.length) {
        val w = working(i)
        if (w.op == 2 && nowMsc >= w.applyAtMsc) working.remove(i)
        else {
          if (w.op == 1 && nowMsc >= w.applyAtMsc) {
            w.price = w.modPrice
            if (w.kind == 3) w.limitPrice = w.modLimit
            w.sl = w.modSl; w.tp = w.modTp
            w.op = 0
          }
          i += 1
        }
      }
    }

    /** One walk over the book applying [[trigger]] to every due order:
      * Phase 1 (`drain`) takes queued orders whose latency deadline
      * passed, on data ticks AND ghost instants; Phases 2+3 take ACTIVE
      * orders (price monitoring). */
    private def walkBook(drain: Boolean, bid: Double, ask: Double, nowMsc: Long): Unit = {
      var i = 0
      while (i < working.length) {
        val w = working(i)
        val due = if (drain) !w.active && nowMsc >= w.deadlineMsc else w.active
        if (due && trigger(w, bid, ask, nowMsc)) working.remove(i) else i += 1
      }
    }

    private def nextDeadline(nowMsc: Long): Long =
      if (config.latencyMaxMs > 0) nowMsc + delay.next() else nowMsc

    /** Place an open order: SL/TP validation against the best fill
      * approximation (the limit for LIMIT and STOP_LIMIT, the stop for a
      * STOP, which fills at market; none for market), the margin check,
      * then the latency queue — or, with no latency pending, [[trigger]]
      * at once. */
    private def place(kind: Int, dir: Direction, lots: Double, price: Double,
        limit: Double, sl: Double, tp: Double, bid: Double, ask: Double,
        nowMsc: Long): Unit = {
      val ref = if (kind == 3) limit else price
      if ((kind != 0 && !validSlTp(dir, ref, sl, tp)) || !marginOk(lots, bid, ask))
        nRejected += 1
      else {
        val w = new Working(nextPositionId, kind, dir, lots, price, limit, sl, tp,
          nextDeadline(nowMsc), active = false)
        nextPositionId += 1
        if (w.deadlineMsc > nowMsc || !trigger(w, bid, ask, nowMsc)) working += w
      }
    }

    /** Close `lots` of position `pid` at market (all of it when `lots`
      * covers the position). */
    private def closeDecision(pid: Long, lots: Double, bid: Double, ask: Double,
                              nowMsc: Long): Unit = {
      val idx = open.indexWhere(_.positionId == pid)
      if (idx >= 0) {
        val p = open(idx)
        val price = if (p.direction == Long_) bid else ask
        if (lots >= p.lots) {
          closePosition(p, price, nowMsc, "decision_close"); open.remove(idx)
        } else partialClose(idx, lots, price, nowMsc)
      }
    }

    private def execDecisions(ds: Seq[Decision], bid: Double, ask: Double,
                            nowMsc: Long): Unit = ds.foreach {
      case OpenMarket(dir, lots, sl, tp) => place(0, dir, lots, 0, 0, sl, tp, bid, ask, nowMsc)
      case OpenLimit(dir, lots, limit, sl, tp) =>
        place(1, dir, lots, limit, 0, sl, tp, bid, ask, nowMsc)
      case OpenStop(dir, lots, stop, sl, tp) =>
        place(2, dir, lots, stop, 0, sl, tp, bid, ask, nowMsc)
      case OpenStopLimit(dir, lots, stop, limit, sl, tp) =>
        place(3, dir, lots, stop, limit, sl, tp, bid, ask, nowMsc)
      case ModifyOrder(oid, np, nl, nsl, ntp) =>
        val w = working.find(x => x.id == oid && x.active).orNull
        if (w == null || w.op != 0) nRejected += 1 // not found or busy
        else {
          val effPrice = if (np.isNaN) w.price else np
          val effLimit = if (nl.isNaN) w.limitPrice else nl
          val effSl = if (nsl.isNaN) w.sl else nsl
          val effTp = if (ntp.isNaN) w.tp else ntp
          val ref = if (w.kind == 3) effLimit else effPrice
          if (effPrice <= 0 || !validSlTp(w.direction, ref, effSl, effTp))
            nRejected += 1 // immediate rejection; only application defers
          else {
            w.op = 1; w.applyAtMsc = nowMsc + config.modifyCancelDelayMs
            w.modPrice = effPrice; w.modLimit = effLimit
            w.modSl = effSl; w.modTp = effTp
          }
        }
      case CancelOrder(oid) =>
        val w = working.find(x => x.id == oid && x.active).orNull
        if (w == null || w.op != 0) nRejected += 1
        else { w.op = 2; w.applyAtMsc = nowMsc + config.modifyCancelDelayMs }
      case PartialClose(pid, lots) => closeDecision(pid, lots, bid, ask, nowMsc)
      case ClosePosition(pid) =>
        closeDecision(pid, Double.PositiveInfinity, bid, ask, nowMsc)
      case Hold => ()
    }

    private def orderViews: Seq[PendingOrderView] = working.map { w =>
      PendingOrderView(w.id,
        w.kind match {
          case 0 => "market"
          case 1 => if (w.fromStopLimit) "stop_limit" else "limit"
          case 2 => "stop"
          case _ => "stop_limit"
        },
        w.direction, w.lots, w.price, w.limitPrice, w.sl, w.tp,
        busy = w.op != 0 || !w.active)
    }.toSeq

    private def buildCtx(t: SimTick, equity: Double): DecisionContext =
      new DecisionContext(t, ticksTotal - 1, open.toSeq, mids.snapshot,
        pendingCloses.toSeq,
        tfs.indices.iterator.filter(forming(_) != null)
          .map(i => tfs(i) -> forming(i)).toMap,
        orderViews,
        AccountInfo(balance, equity, marginUsed, equity - marginUsed))

    def step(t: SimTick): Unit = {
      // ---- (0a) heartbeat ghost-passes inside the gap (ST6, #360) ----
      // Fires every heartbeatIntervalMs strictly inside (prev, t) for
      // opt-in strategies; resolves scheduled ops + the latency queue at
      // the ghost instant with LAST-KNOWN prices. No bar render, no tick
      // counters. Gated off across gaps > threshold (#208: the market
      // said nothing — don't fabricate activity).
      if (lastTick != null && config.heartbeatIntervalMs > 0 &&
          logic.wantsHeartbeat) {
        val gap = t.timeMsc - lastTick.timeMsc
        if (gap > config.heartbeatIntervalMs &&
            gap <= config.interTickGapThresholdMs) {
          var gm = lastTick.timeMsc + config.heartbeatIntervalMs
          while (gm < t.timeMsc) {
            resolveOps(gm)
            walkBook(drain = true, lastTick.bid, lastTick.ask, gm)
            accrueSwaps(gm) // #365: ghost resolutions accrue too
            val eq = balance + unrealizedAt(lastTick.bid, lastTick.ask)
            val hbCtx = buildCtx(lastTick, eq)
            execDecisions(logic.onHeartbeat(gm, hbCtx),
              lastTick.bid, lastTick.ask, gm)
            hbCtx.invalidate()
            gm += config.heartbeatIntervalMs
          }
        }
      }

      lastTick = t
      ticksTotal += 1

      // ---- (1) broker path: every tick ----
      resolveOps(t.timeMsc)                       // Phase 0 (#318)
      walkBook(drain = true, t.bid, t.ask, t.timeMsc)  // Phase 1 (ST9/ST10)
      walkBook(drain = false, t.bid, t.ask, t.timeMsc) // Phases 2+3
      accrueSwaps(t.timeMsc)                      // swap up to this tick
      // position updates: unrealized P&L on bid (LONG) / ask (SHORT),
      // excursion on the gross axis; then SL/TP monitoring
      var i = 0
      while (i < open.length) {
        val p = open(i)
        val cur = if (p.direction == Long_) t.bid else t.ask
        val gross = grossPnl(p.direction, p.entryPrice, cur, p.lots)
        var np = p
        if (gross < p.maePnl) np = np.copy(maePnl = gross, maePrice = cur)
        if (gross > p.mfePnl) np = np.copy(mfePnl = gross, mfePrice = cur)
        open(i) = np
        val slHit = np.slPrice > 0 &&
          (if (np.direction == Long_) t.bid <= np.slPrice else t.ask >= np.slPrice)
        val tpHit = np.tpPrice > 0 &&
          (if (np.direction == Long_) t.bid >= np.tpPrice else t.ask <= np.tpPrice)
        if (slHit) { closePosition(np, np.slPrice, t.timeMsc, "stop_loss"); open.remove(i) }
        else if (tpHit) { closePosition(np, np.tpPrice, t.timeMsc, "take_profit"); open.remove(i) }
        else i += 1
      }

      // equity / drawdown tracking (A20); unrealized is net of accrued swap
      val equity = balance + unrealizedAt(t.bid, t.ask)
      if (equity > maxEquity) maxEquity = equity
      val dd = maxEquity - equity
      if (dd > maxDrawdown) maxDrawdown = dd

      val mid = (t.bid + t.ask) / 2
      mids.add(mid)

      // incremental bar rendering on every tick (clipped ticks feed
      // bars too — clipping only gates the algo path)
      var tfIdx = 0
      while (tfIdx < tfs.length) {
        val tf = tfs(tfIdx)
        val bs = t.timeMsc - t.timeMsc % tf
        val cur = forming(tfIdx)
        if (cur == null)
          forming(tfIdx) = KernelBar(tf, bs, mid, mid, mid, mid, 1L)
        else if (cur.barStartMs == bs)
          forming(tfIdx) = cur.copy(high = math.max(cur.high, mid),
            low = math.min(cur.low, mid), close = mid,
            tickCount = cur.tickCount + 1)
        else {
          pendingCloses += cur // gap buckets emit nothing (ST3)
          forming(tfIdx) = KernelBar(tf, bs, mid, mid, mid, mid, 1L)
        }
        tfIdx += 1
      }

      // ---- (2) clipping gate (ST5) ----
      if (ticksTotal == 1 && t.collectedMsc == 0L) clipEnabled = false
      val clipped = clipEnabled && {
        if (t.collectedMsc >= vclock) {
          vclock = t.collectedMsc + config.tickBudgetMs; false
        } else true
      }
      if (clipped) ticksClipped += 1
      else {
        // ---- (3) algo path: decision logic ----
        // clear AFTER the callback: ctx.closedBars is a lazy view over
        // pendingCloses and must see this tick's closes when read.
        // Invalidate once the decisions executed so a retained context
        // fails loudly instead of reading mutated buffers.
        val ctx = buildCtx(t, equity)
        execDecisions(logic.onTick(ctx), t.bid, t.ask, t.timeMsc)
        ctx.invalidate()
        pendingCloses.clear()
      }
    }

    def finish(): ScenarioResult = {
      // ---- (4) end of scenario: force-close at last price ----
      if (lastTick != null) {
        open.foreach { p =>
          val price = if (p.direction == Long_) lastTick.bid else lastTick.ask
          closePosition(p, price, lastTick.timeMsc, "end_of_scenario")
        }
        open.clear()
      }

      val wins = trades.count(_.netPnl > 0).toLong
      val losses = trades.count(_.netPnl < 0).toLong
      ScenarioResult(
        ScenarioStats(sid, ticksTotal, ticksClipped, trades.length.toLong,
          wins, losses, balance, maxEquity, maxDrawdown, nRejected),
        trades.toSeq)
    }
  }

  /** Fixed-capacity ring of recent mids, oldest-first snapshot. */
  private final class RingBuffer(capacity: Int) extends Serializable {
    private val a = new Array[Double](capacity)
    private var n = 0
    private var pos = 0
    def add(v: Double): Unit = { a(pos) = v; pos = (pos + 1) % capacity; if (n < capacity) n += 1 }
    def snapshot: IndexedSeq[Double] = {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = a((pos - n + i + capacity * 2) % capacity); i += 1 }
      out.toIndexedSeq
    }
  }
}
