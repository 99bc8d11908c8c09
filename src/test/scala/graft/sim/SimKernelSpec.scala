package graft.sim

import graft.SparkSpecBase

/** Scripted-trade white-box tests mirroring the reference's deterministic
  * simulation suite (`tests/simulation/margin_validation/test_pnl_calculation.py`,
  * `tests/data/tick_processing_budget/`): known tick scripts must produce
  * exact P&L, exact excursion, exact clipping counts, and byte-identical
  * reruns. */
/** Top-level (no outer test-class reference — strategies must be
  * serializable into tasks). Opens LONG 1 lot at a given tick index,
  * closes at another. */
private class Scripted(openIdx: Long, closeIdx: Long, sl: Double = 0, tp: Double = 0)
    extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == openIdx) Seq(OpenMarket(Long_, 1.0, sl, tp))
    else if (ctx.tickIndex == closeIdx && ctx.openPositions.nonEmpty)
      Seq(ClosePosition(ctx.openPositions.head.positionId))
    else Seq(Hold)
}

private class OpenEveryTick extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] = Seq(OpenMarket(Long_, 1.0))
}

private class LimitAtIdx1 extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == 1) Seq(OpenLimit(Long_, 1.0, 1.10020)) else Seq(Hold)
}

/** Misuse: retains the context and first-reads a view on the NEXT tick. */
private class RetainsCtx extends DecisionLogic {
  @transient private var saved: DecisionContext = _
  def onTick(ctx: DecisionContext): Seq[Decision] = {
    if (ctx.tickIndex == 0) saved = ctx
    else saved.recentMids // first read after the callback: must throw
    Seq(Hold)
  }
}

/** Legal: forces a view during the callback, reads the snapshot later. */
private class ForcesThenRetains extends DecisionLogic {
  @transient private var saved: DecisionContext = _
  def onTick(ctx: DecisionContext): Seq[Decision] = {
    if (ctx.tickIndex == 0) { ctx.recentMids; saved = ctx }
    else require(saved.recentMids.nonEmpty) // forced snapshot stays stable
    Seq(Hold)
  }
}

/** Trades like [[Scripted]] but throws on tick `idx` of scenario `sid`. */
private class FailsAt(sid: String, idx: Long) extends DecisionLogic {
  private val inner = new Scripted(0, 3)
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tick.scenarioId == sid && ctx.tickIndex == idx)
      throw new IllegalStateException(s"scripted failure in $sid")
    else inner.onTick(ctx)
}

class SimKernelSpec extends SparkSpecBase {
  import spark.implicits._

  private val spec = SymbolSpec(digits = 5, tickValue = 1.0) // EURUSD-like
  private def cfg = SimConfig(spec)

  private def ticks(sid: String, rows: (Long, Double, Double)*): Seq[SimTick] =
    rows.map { case (msc, bid, ask) => SimTick(sid, msc, msc, bid, ask) }

  test("exact P&L: LONG entry at ask, exit at bid, points x tickValue x lots") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (2000L, 1.10020, 1.10030), // open here -> entry 1.10030 (ask)
      (3000L, 1.10080, 1.10090),
      (4000L, 1.10070, 1.10080)) // close here -> exit 1.10070 (bid)
    val res = SimKernel.runScenarios(t.toDS(), cfg, new Scripted(1, 3))
      .collect().head
    assert(res.trades.length === 1)
    val tr = res.trades.head
    assert(math.abs(tr.entryPrice - 1.10030) < 1e-9)
    assert(math.abs(tr.exitPrice - 1.10070) < 1e-9)
    // priceDiff 0.00040 * 10^5 = 40 points * 1.0 * 1 lot = 40.0
    assert(math.abs(tr.grossPnl - 40.0) < 1e-6)
    assert(tr.closeReason === "decision_close")
    assert(math.abs(res.stats.finalBalance - 10040.0) < 1e-6)
  }

  test("stop loss closes at the SL level with R-multiple -1") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (2000L, 1.10000, 1.10010), // open LONG at 1.10010, SL 1.09960 (risk 50 pts)
      (3000L, 1.09980, 1.09990),
      (4000L, 1.09950, 1.09960), // bid 1.09950 <= SL -> close at 1.09960
      (5000L, 1.10100, 1.10110))
    val res = SimKernel.runScenarios(t.toDS(), cfg,
      new Scripted(1, 99, sl = 1.09960)).collect().head
    val tr = res.trades.head
    assert(tr.closeReason === "stop_loss")
    assert(math.abs(tr.exitPrice - 1.09960) < 1e-9)
    assert(math.abs(tr.grossPnl - (-50.0)) < 1e-6)
    assert(math.abs(tr.initialRisk - 50.0) < 1e-6)
    assert(math.abs(tr.rMultiple.get - (-1.0)) < 1e-9)
  }

  test("MAE/MFE track gross extremes with prices, seeded at entry") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (2000L, 1.10000, 1.10010), // open at 1.10010
      (3000L, 1.09990, 1.10000), // dip: gross = (1.09990-1.10010)*1e5 = -20
      (4000L, 1.10060, 1.10070), // peak: gross = +50
      (5000L, 1.10030, 1.10040)) // close at bid 1.10030 -> +20
    val res = SimKernel.runScenarios(t.toDS(), cfg, new Scripted(1, 4))
      .collect().head
    val tr = res.trades.head
    assert(math.abs(tr.maePnl - (-20.0)) < 1e-6)
    assert(math.abs(tr.maePrice - 1.09990) < 1e-9)
    assert(math.abs(tr.mfePnl - 50.0) < 1e-6)
    assert(math.abs(tr.mfePrice - 1.10060) < 1e-9)
  }

  test("virtual-clock clipping: clipped ticks skip the algo path but drive fills") {
    // collected_msc 100,200,...,1000; budget 250ms keeps 100, 400, 700,
    // 1000 (4 of 10). First collected_msc must be nonzero: 0 signals
    // pre-v1.3.0 data and disables clipping (see next test).
    val rows = (0 until 10).map(i =>
      SimTick("s1", 1000L + i, (i + 1) * 100L, 1.1, 1.1001))
    val res = SimKernel.runScenarios(rows.toDS(),
      cfg.copy(tickBudgetMs = 250.0), new OpenEveryTick).collect().head
    assert(res.stats.ticksTotal === 10L)
    assert(res.stats.ticksClipped === 6L)
    // one open per NON-clipped tick only
    assert(res.trades.length === 4)
    assert(res.trades.forall(_.closeReason === "end_of_scenario"))
  }

  test("clipping disables itself on pre-v1.3.0 data (first collected_msc == 0)") {
    // reference guard (_apply_tick_budget): collected_msc backfilled to 0
    // means no collection timestamps — budget filtering must not run, else
    // every tick after the first is clipped forever.
    val rows = (0 until 10).map(i =>
      SimTick("s1", 1000L + i, 0L, 1.1, 1.1001))
    val res = SimKernel.runScenarios(rows.toDS(),
      cfg.copy(tickBudgetMs = 250.0), new OpenEveryTick).collect().head
    assert(res.stats.ticksClipped === 0L)
    assert(res.trades.length === 10)
  }

  test("seeded latency defers market fills to the deadline tick, deterministically") {
    val t = ticks("s1",
      (1000L, 1.10000, 1.10010),
      (1050L, 1.10020, 1.10030),
      (1200L, 1.10040, 1.10050), // first tick past 1000+100 -> fills here
      (2000L, 1.10060, 1.10070))
    val c = cfg.copy(latencyMinMs = 100, latencyMaxMs = 100)
    val r1 = SimKernel.runScenarios(t.toDS(), c, new Scripted(0, 3)).collect().head
    val r2 = SimKernel.runScenarios(t.toDS(), c, new Scripted(0, 3)).collect().head
    assert(r1.trades.head.entryTimeMsc === 1200L)
    assert(math.abs(r1.trades.head.entryPrice - 1.10050) < 1e-9)
    assert(r1 === r2) // byte-identical rerun (reference #368 determinism)
  }

  test("limit order fills at the limit price when ask reaches it") {
    val t = ticks("s1",
      (1000L, 1.10050, 1.10060),
      (2000L, 1.10030, 1.10040), // place buy limit 1.10020 -> not reached
      (3000L, 1.10005, 1.10015), // ask 1.10015 <= 1.10020 -> fill at limit
      (4000L, 1.10100, 1.10110))
    val res = SimKernel.runScenarios(t.toDS(), cfg, new LimitAtIdx1).collect().head
    val tr = res.trades.head
    assert(tr.entryTimeMsc === 3000L)
    assert(math.abs(tr.entryPrice - 1.10020) < 1e-9)
  }

  test("multiple scenarios run independently and in parallel partitions") {
    val a = ticks("a", (1L, 1.0, 1.1), (2L, 2.0, 2.1), (3L, 3.0, 3.1))
    val b = ticks("b", (1L, 5.0, 5.1), (2L, 6.0, 6.1))
    val res = SimKernel.runScenarios((a ++ b).toDS(), cfg, new Scripted(0, 1))
      .collect().map(r => r.stats.scenarioId -> r).toMap
    assert(res("a").stats.ticksTotal === 3L)
    assert(res("b").stats.ticksTotal === 2L)
    assert(res("a").trades.length === 1)
    assert(res("b").trades.length === 1)
  }

  test("results are identical regardless of input partitioning and row order") {
    // the distributed-correctness contract: repartition + in-partition
    // sort must make arbitrary upstream layouts (shuffled rows, skewed
    // partitioning, single partition) converge to the same ledger
    val base = TickReplay.syntheticTicks(spark, scenarios = 6, totalTicks = 30000L)
    val logic = new TickReplay.RsiBollingerTrend()
    def ledger(ds: org.apache.spark.sql.Dataset[SimTick]): Seq[Seq[Any]] =
      SimKernel.runScenarios(ds, cfg, logic).collect()
        .sortBy(_.stats.scenarioId)
        .map(r => Seq[Any](r.stats.scenarioId, r.stats.ticksTotal,
          r.stats.nTrades, r.stats.finalBalance, r.stats.maxDrawdown,
          r.trades.map(t => (t.positionId, t.entryTimeMsc, t.exitTimeMsc,
            t.netPnl, t.closeReason))))
        .toSeq
    val sorted = ledger(base)
    val shuffled = ledger(
      base.orderBy(org.apache.spark.sql.functions.rand(7)).as[SimTick])
    val onePartition = ledger(base.coalesce(1))
    assert(shuffled === sorted)
    assert(onePartition === sorted)
  }

  test("runScenariosMultiplexed: each variant bit-identical to its solo run") {
    // the sweep-fused contract: one shuffle, every variant in lockstep
    // per streamed scenario — and NOTHING about the results may change
    // (same scenarioId → same latency seed → same fills and stats)
    val base = TickReplay.syntheticTicks(spark, scenarios = 4, totalTicks = 20000L)
    val variants: Seq[(String, SimConfig, DecisionLogic)] = Seq(
      ("v0", cfg, new TickReplay.RsiBollingerTrend()),
      ("v1", cfg.copy(startBalance = 5000.0),
        new TickReplay.RsiBollingerTrend(rsiPeriod = 7, bbPeriod = 12)))
    val fused = SimKernel.runScenariosMultiplexed(base, variants).collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.scenarioId).toSeq).toMap
    val solo = variants.map { case (vid, c, l) =>
      vid -> SimKernel.runScenariosOutcomes(base, c, l).collect()
        .sortBy(_.scenarioId).toSeq
    }.toMap
    assert(fused.keySet === solo.keySet)
    for (vid <- solo.keySet) assert(fused(vid) === solo(vid),
      s"variant $vid diverges between fused and solo runs")
    // the two variants genuinely differ (the parity above isn't vacuous)
    assert(fused("v0") !== fused("v1"))
  }

  test("runScenariosMultiplexed: a variant failing mid-partition leaves the rest intact") {
    // two scenarios share the kernel's one partition (pinned below: the
    // kernel re-shuffles, so the input's layout can't place them);
    // variant B throws on the 3rd tick of s1 while A steps on, then both
    // run s2
    val rows = (1 to 2).flatMap(s => (0 until 6).map(i =>
      SimTick(s"s$s", 1000L * (i + 1), 1000L * (i + 1), 1.1 + s * 0.01 + i * 1e-4,
        1.1001 + s * 0.01 + i * 1e-4)))
    val base = rows.toDS()
    val variants: Seq[(String, SimConfig, DecisionLogic)] = Seq(
      ("A", cfg, new Scripted(1, 4)),
      ("B", cfg, new FailsAt("s1", 2)))
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1")
    val fused =
      try SimKernel.runScenariosMultiplexed(base, variants).collect().toSeq
      finally spark.conf.set(key, old)
    def solo(v: Int) = SimKernel.runScenariosOutcomes(base, variants(v)._2,
      variants(v)._3).collect().map(o => o.scenarioId -> o).toMap
    def of(vid: String, sid: String) =
      fused.collect { case (`vid`, o) if o.scenarioId == sid => o }
    val (soloA, soloB) = (solo(0), solo(1))

    val failed = of("B", "s1")
    assert(failed.length === 1)
    assert(failed.head.result.isEmpty)
    assert(failed.head.error === "IllegalStateException: scripted failure in s1")
    assert(of("A", "s1") === Seq(soloA("s1")))
    assert(of("A", "s2") === Seq(soloA("s2")))
    assert(of("B", "s2") === Seq(soloB("s2")))
    assert(soloB("s2").result.exists(_.trades.nonEmpty))
    // one partition: each scenario emits its outcomes in variant order
    assert(fused.map { case (vid, o) => (vid, o.scenarioId) } ===
      Seq(("A", "s1"), ("B", "s1"), ("A", "s2"), ("B", "s2")))
  }

  test("RsiBollingerTrend warms up past BOTH lookbacks (rsi > bb regression)") {
    // rsiPeriod > bbPeriod under-indexed recentMids before the guard fix
    // (found by the Backtest sweep grid: run (rsi 8, bb 6) errored on
    // every scenario with ArrayIndexOutOfBounds)
    val base = TickReplay.syntheticTicks(spark, scenarios = 2, totalTicks = 10000L)
    val out = SimKernel.runScenariosOutcomes(base, cfg,
      new TickReplay.RsiBollingerTrend(rsiPeriod = 8, bbPeriod = 6)).collect()
    assert(out.forall(_.error.isEmpty), out.map(_.error).mkString("; "))
  }

  test("retained DecisionContext fails loudly on a post-callback first read") {
    val t = ticks("s1", (1000L, 1.10000, 1.10010), (2000L, 1.10020, 1.10030))
    val out = SimKernel.runScenariosOutcomes(t.toDS(), cfg, new RetainsCtx)
      .collect().head
    assert(out.result.isEmpty)
    assert(out.error.contains("DecisionContext"))
  }

  test("views forced during the callback stay readable from a retained context") {
    val t = ticks("s1", (1000L, 1.10000, 1.10010), (2000L, 1.10020, 1.10030))
    val res = SimKernel.runScenarios(t.toDS(), cfg, new ForcesThenRetains)
      .collect().head
    assert(res.stats.ticksTotal === 2)
  }
}
