package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ingest.TickIngest
import graft.report.Reports
import graft.serve.Serve
import graft.sim._
import graft.windows.ScenarioWindows
import graft.workers.Workers

/** §3.1 flagship entry point: ONE runnable backtest pipeline from parquet
  * ticks to a ranked report, mirroring the reference batch orchestrator's
  * phases 0–7 (`batch_orchestrator.py:255-321` → `prepare_mount` phases
  * 0–5 + `execute` phases 6–7) as one declarative Spark job chain.
  *
  *   0. validate — typed strategy-parameter validation, FAIL-FAST before
  *      any data is touched (`ScenarioValidator.validate_scenario_parameters`);
  *   1. index/coverage — per-symbol time bounds + row counts
  *      (`tick_index_manager`), counting rows the load filter drops;
  *   2. availability — requested range ⊆ covered range per symbol;
  *   3. requirements — warmup lookback derived from the strategy's
  *      workers (`warmupBars`, ST4), converted to a tick-time margin;
  *   4. load — normalized tick read (events table → per-symbol mid with
  *      a deterministic synthetic spread);
  *   5. quality — invalid-quote / excess-spread / price-jump counts
  *      (`tick_importer.py:569-593`), fail-fast above thresholds;
  *   6. execute — scenario windows (continuous regions → blocks →
  *      IS/OOS roles) × symbols → [[sim.SimKernel]] sequential pass per
  *      scenario, warmup ticks feeding indicators but gated from trading;
  *   7. summary — trade analytics + portfolio rollup + robustness/WFE
  *      by role + ranked scenarios, written to `outDir` (ranking as CSV,
  *      reports as JSON via [[serve.Serve]]), the independent artifacts
  *      concurrently once the kernel outcomes are cached.
  *
  * Scale shape: every phase is a groupBy/window/join plan (no driver
  * loops). Phases 1, 5 and 6's regions are one window per symbol grouped
  * into a small cached frame; the kernel partitions BY SCENARIO (the
  * reference's process pool becomes `repartition(scenarioId) +
  * sortWithinPartitions + mapPartitions`: 1000 executors run 1000
  * scenarios with no coordinator). Windows are broadcast into the tick
  * tagging join: ticks are read twice, by the mount pass and the kernel.
  */
object Backtest {

  /** Tunables for the window generator + quality gate + kernel. Defaults
    * fit the driver testdata's events table (~4-day span per symbol). */
  case class Config(
      maxSymbols: Int = 20,
      splitGapMs: Long = 3L * 86400 * 1000,
      blockMs: Long = 10L * 86400 * 1000,
      minBlockMs: Long = 2L * 86400 * 1000,
      oosSplit: Double = 0.3,
      /** bar interval backing warmupBars → warmup time margin; sized to
        * the feed cadence (events demo feed ≈ 1 tick / 30 min) */
      warmupBarMs: Long = 1800000L,
      /** deterministic synthetic half-spread for mid-only feeds */
      halfSpread: Double = 0.005,
      /** phase-5 gate: max tolerated share of bad quotes per symbol */
      maxBadQuotePct: Double = 5.0,
      /** indicator periods — sized to the feed's tick cadence (the
        * events demo feed is ~1 tick/30 min, so small periods; dense
        * tick feeds use the 14/20 defaults of [[sim.TickReplay]]) */
      rsiParams: Map[String, String] = Map("period" -> "5"),
      bbParams: Map[String, String] = Map("period" -> "8"),
      startBalance: Double = 10000.0,
      commissionPerLot: Double = 2.5)

  /** Phase-6 warmup gate: ticks before the window's trade start feed the
    * strategy's indicator state (DecisionContext windows warm up exactly
    * like the reference's warmup phase) but every decision is suppressed
    * to Hold, so no position can open before the scenario's trade window.
    * The trade start rides in the scenarioId (`sym#region#block@startMs`)
    * — per-scenario state without any driver-side map. */
  final class WarmupGate(inner: DecisionLogic) extends DecisionLogic {
    private def gated(timeMsc: Long, ctx: DecisionContext)(
        decide: => Seq[Decision]): Seq[Decision] = {
      val sid = ctx.tick.scenarioId
      val start = sid.substring(sid.lastIndexOf('@') + 1).toLong
      val ds = decide
      if (timeMsc < start) Seq(Hold) else ds
    }
    override def onTick(ctx: DecisionContext): Seq[Decision] =
      gated(ctx.tick.timeMsc, ctx)(inner.onTick(ctx))
    override def wantsHeartbeat: Boolean = inner.wantsHeartbeat
    override def onHeartbeat(timeMsc: Long, ctx: DecisionContext): Seq[Decision] =
      gated(timeMsc, ctx)(inner.onHeartbeat(timeMsc, ctx))
  }

  /** The prepared mount (reference `prepare_mount` output, phases 1-6
    * tick tagging): everything a kernel execution needs, independent of
    * the strategy parameters — which is exactly why a sweep can reuse it
    * across the whole grid (`batch_orchestrator.py:656-695`: mount
    * identity excludes strategy params). `facts`, one row per (symbol,
    * region_idx, valid), is the one cached frame: unpersist it to release. */
  case class Mount(simTicks: Dataset[SimTick], windows: DataFrame,
                   quality: DataFrame, avail: DataFrame, facts: DataFrame)

  /** Phases 1-6 (pre-kernel): coverage, availability, load, quality
    * gate, scenario windows, tick tagging. `warmupMs` is the caller's
    * phase-3 requirement (max over the strategy grid for sweeps). */
  def prepareMount(spark: SparkSession, ticks: DataFrame, cfg: Config,
                   warmupMs: Long): Mount = {
    import spark.implicits._

    // ---- Phase 4: load (spread synthesis for mid-only feeds) ---------
    // a row with no time or mid keeps a null quote: it counts only in
    // coverage, and the gap-split and quality rules skip it
    val valid = col("ts_ms").isNotNull && col("mid").isNotNull
    val quotes = ticks.select(col("symbol"), col("ts_ms"), valid.as("valid"),
      when(valid, col("mid") - cfg.halfSpread).as("bid"),
      when(valid, col("mid") + cfg.halfSpread).as("ask"))

    // ---- Phases 1, 5 and 6: one ordered pass over the ticks ----------
    val w = Window.partitionBy("symbol").orderBy("ts_ms")
    val facts = ScenarioWindows.withRegionIdx(quotes,
        when(col("valid"), col("ts_ms")), w, cfg.splitGapMs)
      .withColumn("spread_pct", (col("ask") - col("bid")) / col("bid") * 100)
      .select(col("*") +: TickIngest.qualityCounts(lag(col("bid"), 1, null, true).over(w)): _*)
      .groupBy("symbol", "region_idx", "valid")
      .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms") +:
        count(lit(1)).as("n_rows") +: count("bid").as("n_ticks") +:
        TickIngest.QualityCounts.map(c => sum(c).as(c)): _*)
      .cache()

    // ---- Phases 2 + 5: covered span (= requested range) and gate -----
    val counts = "n_ticks" +: TickIngest.QualityCounts
    val perSymbol = facts.groupBy("symbol").agg(min("start_ms").as("start_ms"),
      max("end_ms").as("end_ms") +: counts.map(c => sum(c).as(c)): _*)
    val gate = perSymbol.agg(min("start_ms"), max("end_ms"), count_if(col("n_invalid_quote") +
      col("n_excess_spread") > col("n_ticks") * cfg.maxBadQuotePct / 100.0)).head()
    require(gate.getLong(2) == 0, s"phase 5: ${gate.getLong(2)} symbol(s) " +
      s"exceed the ${cfg.maxBadQuotePct}% bad-quote gate")
    val avail = Catalog.availability(facts, Seq("symbol"),
      gate.getLong(0), gate.getLong(1))
    val quality = perSymbol.filter(col("n_ticks") > 0).select(
      lit("SIM").as("broker_type") +: col("symbol") +: counts.map(col): _*)

    // ---- Phase 6: scenario windows × kernel execution ----------------
    val regions = facts.filter(col("valid")).select(col("symbol"),
      col("region_idx"), col("start_ms").as("region_start_ms"),
      col("end_ms").as("region_end_ms"))
    val blocks = ScenarioWindows.blocks(regions, Seq("symbol"),
      cfg.blockMs, cfg.minBlockMs)
    val windows = ScenarioWindows.assignRolesTimeOrdered(blocks,
        Seq("symbol"), "block_start_ms", cfg.oosSplit)
      .withColumn("scenario_id", concat_ws("", col("symbol"), lit("#"),
        col("region_idx"), lit("#"), col("block_no"), lit("@"),
        col("block_start_ms")))

    // tag ticks into scenarios: windows are a broadcast dimension; each
    // tick lands in every window whose [start−warmup, end) covers it
    val simTicks = quotes.filter(col("valid")).join(
        broadcast(windows.select(col("symbol").as("__wsym"),
          col("scenario_id"), col("block_start_ms"), col("block_end_ms"))),
        col("symbol") === col("__wsym") &&
          col("ts_ms") >= col("block_start_ms") - warmupMs &&
          col("ts_ms") < col("block_end_ms"))
      .select(col("scenario_id").as("scenarioId"),
        col("ts_ms").as("timeMsc"), col("ts_ms").as("collectedMsc"),
        col("bid"), col("ask"))
      .as[SimTick]

    Mount(simTicks, windows, quality, avail, facts)
  }

  /** The phase-6 kernel config shared by [[run]] and [[sweep]]. */
  private def simConfig(cfg: Config): SimConfig = SimConfig(
    SymbolSpec(digits = 2, tickValue = 1.0),
    startBalance = cfg.startBalance,
    commissionPerLot = cfg.commissionPerLot,
    latencyMinMs = 20, latencyMaxMs = 120, latencySeed = 42L,
    barTimeframesMs = Seq(cfg.warmupBarMs))

  /** Phases 0 and 3 shared by [[run]] and [[sweep]]: validate every
    * (rsi, bb) parameter point fail-fast through the X6 worker surface
    * and return the warmup margin in ms, the max lookback over the
    * points, so each point sees at least its required history (ST4). */
  private def warmupMs(cfg: Config,
      points: Seq[(Map[String, String], Map[String, String])]): Long = {
    val rsiW = Workers.registry("CORE/rsi")
    val bbW = Workers.registry("CORE/bollinger")
    points.map { case (rsi, bb) =>
      math.max(rsiW.warmupBars(rsiW.validate(rsi)), bbW.warmupBars(bbW.validate(bb)))
    }.max * cfg.warmupBarMs
  }

  /** Collects `ranking` in rank order as a local frame with the same
    * schema, runs the artifact `writes` given those rows concurrently,
    * then unpersists the call's kernel output and mount and returns the
    * rows. Spark matches cached file scans by root path, so a later call
    * in the same session over a tick table rewritten in place would
    * otherwise be served this call's mount facts and outcomes. */
  private def collectAndRelease(ranking: DataFrame, kernelOut: Dataset[_], mount: Mount)(
      writes: DataFrame => Seq[() => Unit]): DataFrame = {
    val rows = ranking.sparkSession.createDataFrame(java.util.Arrays.asList(
      ranking.collect().sortBy(_.getAs[Int]("rank")): _*), ranking.schema)
    Serve.writeConcurrently(writes(rows))
    kernelOut.unpersist()
    mount.facts.unpersist()
    rows
  }

  /** Run the full phase 0–7 pipeline. `ticks` must carry (symbol: string,
    * ts_ms: long, mid: double) — see [[loadEventsAsTicks]] for the
    * events-table adapter. Writes ranking CSV + report JSONs under
    * `outDir` and returns the per-scenario summary rows (one per
    * scenario: stats ⋈ window role ⋈ rank) as a local frame; nothing
    * the call cached outlives it. */
  def run(spark: SparkSession, ticks: DataFrame, outDir: String,
          logic: DecisionLogic, cfg: Config = Config()): DataFrame = {
    import spark.implicits._

    // ---- Phases 0 + 3: fail-fast validation (X6), warmup lookback ----
    val warmup = warmupMs(cfg, Seq((cfg.rsiParams, cfg.bbParams)))

    // ---- Phases 1-6 (pre-kernel): the mount --------------------------
    val mount = prepareMount(spark, ticks, cfg, warmup)
    val outcomes = SimKernel.runScenariosOutcomes(mount.simTicks, simConfig(cfg),
      new WarmupGate(logic)).cache()

    // ---- Phase 7: summary — report stack + ranking -------------------
    val ok = outcomes.filter(_.error == "").flatMap(_.result)
    val stats = ok.map(_.stats).toDF()
    val trades = ok.flatMap(_.trades).toDF()
    val errors = outcomes.filter(_.error != "")
      .map(o => (o.scenarioId, o.error)).toDF("scenario_id", "error")

    val tradeLedger = trades.select(lit("USD").as("currency"),
      col("scenarioId").as("scenario_name"), col("netPnl").as("net_pnl"),
      col("rMultiple").as("r_multiple"), col("maePnl").as("mae"),
      col("mfePnl").as("mfe"), col("grossPnl").as("gross_profit"),
      (col("commission") + col("swapCost")).as("fees"))
    val analytics = Reports.tradeAnalytics(tradeLedger)
    val rollup = Reports.portfolioRollup(tradeLedger.join(
      stats.select(col("scenarioId").as("scenario_name"),
        col("maxDrawdown").as("max_drawdown")), Seq("scenario_name")))

    // per-scenario pnl ⋈ window role: the ranking's rows
    val perScenario = stats
      .withColumn("net_pnl", col("finalBalance") - cfg.startBalance)
      .join(broadcast(mount.windows.select(col("scenario_id").as("scenarioId"),
        col("symbol"), col("role"))), Seq("scenarioId"))

    // ranking: objective desc with a stable tie-break (A16 semantics)
    val ranked = Reports.sweepRanking(
      perScenario.withColumn("sweep_id", lit("backtest"))
        .withColumn("run_id", col("scenarioId"))
        .withColumn("status", lit("ok")),
      objective = "net_pnl")
      .select(col("rank"), col("scenarioId"), col("symbol"), col("role"),
        col("net_pnl"), col("nTrades"), col("maxDrawdown"))

    // ---- artifacts ---------------------------------------------------
    // one job replays every scenario into the cache and counts the
    // errors (an RDD count: no aggregate exchange, so no extra job); the
    // ranking is then collected once, and the independent writes only
    // read the cached outcomes and the collected ranking, whose rows
    // (symbol, role, net_pnl per scenario) feed robustness and WFE
    // without another broadcast of the windows
    val nErrors = outcomes.filter(col("error") =!= "").rdd.count()
    collectAndRelease(ranked, outcomes, mount) { ranking => Seq(
      () => Serve.writeRankingCsv(ranking, s"$outDir/ranking"),
      () => Serve.writeReportJson(analytics, outDir, "trade_analytics"),
      () => Serve.writeReportJson(rollup, outDir, "portfolio_rollup"),
      () => Serve.writeReportJson(Reports.robustnessStats(ranking, Seq("symbol"), "net_pnl"),
        outDir, "robustness", col("symbol")),
      () => Serve.writeReportJson(Reports.walkForwardEfficiency(ranking, Seq("symbol"), "net_pnl"),
        outDir, "wfe", col("symbol")),
      () => Serve.writeReportJson(mount.avail, outDir, "availability", col("symbol")),
      () => Serve.writeReportJson(mount.quality, outDir, "quality", col("symbol"))) ++
      Option.when(nErrors > 0)(() =>
        Serve.writeReportJson(errors, outDir, "errors", col("scenario_id")))
    }
  }

  /** Sweep mode (reference warm path, #419): a strategy parameter grid
    * through the SAME phase chain, preparing the mount ONCE (phases 0-5 +
    * window tagging are parameter-independent) and executing the whole
    * grid in ONE kernel pass ([[graft.sweep.Sweep.runSweepFused]] — one
    * tick shuffle total, every combination stepping in lockstep over each
    * streamed scenario, vs. the naive one-full-pipeline-per-point which
    * re-reads and re-shuffles the ticks G times).
    *
    * Grid keys: `rsi_period`, `bb_period` (each a list of values —
    * validated fail-fast per combination through the X6 worker surface,
    * phase 0). Warmup margin is the MAX over the grid, so every
    * combination sees at least its required lookback; the WarmupGate
    * still pins trading to each scenario's window start.
    *
    * Artifacts under `outDir`: `sweep_ranking` CSV (rank × combination,
    * objective = total net P&L, A16 tie-break semantics), `sweep_ledger`
    * JSON (per combination × scenario), plus availability/quality from
    * the mount. Returns the ranked per-combination rows as a local
    * frame; nothing the call cached outlives it. */
  def sweep(spark: SparkSession, ticks: DataFrame, outDir: String,
            grid: Map[String, Seq[String]], lots: Double = 1.0,
            cfg: Config = Config()): DataFrame = {
    // ---- Phase 0 over the grid + phase 3 max-lookback ----------------
    val combos = graft.sweep.Sweep.expandGrid(grid)
    require(combos.nonEmpty, "sweep: empty parameter grid")
    val warmup = warmupMs(cfg, combos.map { c =>
      (Map("period" -> c.params("rsi_period")), Map("period" -> c.params("bb_period")))
    })

    // ---- Phases 1-6 once: the shared mount ---------------------------
    val mount = prepareMount(spark, ticks, cfg, warmup)

    // ---- Phase 6 fused: whole grid, one tick shuffle -----------------
    val ledger = graft.sweep.Sweep.runSweepFused("backtest_sweep",
      mount.simTicks, grid, params => {
        (simConfig(cfg), new WarmupGate(new TickReplay.RsiBollingerTrend(
          lots = lots,
          rsiPeriod = params("rsi_period").toInt,
          bbPeriod = params("bb_period").toInt)))
      }).cache()

    // ---- Phase 7: objectives + ranking -------------------------------
    val ranked = Reports.sweepRanking(
      graft.sweep.Sweep.ledgerObjectives(ledger), objective = "objective")
      .select(col("rank"), col("run_id"), col("params"), col("status"),
        col("objective").as("net_pnl"), col("n_trades"), col("worst_drawdown"))

    // the ranking collect replays the grid into the cache before the writes
    collectAndRelease(ranked, ledger, mount) { ranking => Seq(
      () => Serve.writeRankingCsv(
        ranking.withColumn("params", to_json(col("params"))), s"$outDir/sweep_ranking"),
      () => Serve.writeReportJson(ledger, outDir, "sweep_ledger", col("runId"), col("scenarioId")),
      () => Serve.writeReportJson(mount.avail, outDir, "availability", col("symbol")),
      () => Serve.writeReportJson(mount.quality, outDir, "quality", col("symbol")))
    }
  }

  /** Adapter: the driver testdata's events table as a tick feed —
    * user_id → symbol, value → mid, epoch-ms event time. */
  def loadEventsAsTicks(spark: SparkSession, sfDir: String,
                        maxSymbols: Int): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("user_id") <= maxSymbols)
      .select(concat(lit("SYM"), format_string("%03d", col("user_id")))
        .as("symbol"), col("ts_ms"), col("value").as("mid"))

  /** `sbt "runMain graft.Backtest [sfDir] [outDir]"` — the one-command
    * backtest: events ticks → windows → kernel → ranked report.
    * `sbt "runMain graft.Backtest [sfDir] [outDir] sweep"` — sweep mode:
    * a default rsi×bollinger grid through the shared mount, one fused
    * kernel pass, ranked combinations. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/backtest_out")
    val spark = GraftSession.localFromEnv()
    val cfg = Config()
    if (args.lift(2).contains("sweep")) {
      val grid = Map("rsi_period" -> Seq("3", "5", "8"),
        "bb_period" -> Seq("6", "8", "12"))
      val ranked = sweep(spark,
        loadEventsAsTicks(spark, sfDir, cfg.maxSymbols), outDir, grid,
        lots = 1.0, cfg).collect()
      println(s"[backtest] sweep: ${ranked.length} ranked combinations:")
      ranked.foreach { r =>
        println(f"[backtest]   #${r.getAs[Int]("rank")}%3d ${r.getAs[String]("run_id")}%-10s " +
          f"${r.getAs[Map[String, String]]("params").toSeq.sorted.mkString(" ")}%-34s " +
          f"net=${r.getAs[Double]("net_pnl")}%10.2f trades=${r.getAs[Long]("n_trades")}%4d")
      }
      println(s"[backtest] artifacts in $outDir (sweep_ranking CSV + ledger JSON)")
    } else {
      val ranked = run(spark, loadEventsAsTicks(spark, sfDir, cfg.maxSymbols),
        outDir, new TickReplay.RsiBollingerTrend(lots = 1.0,
          rsiPeriod = cfg.rsiParams("period").toInt,
          bbPeriod = cfg.bbParams("period").toInt), cfg)
      val top = ranked.limit(10).collect()
      println(f"[backtest] ${top.length} top scenarios (of ${ranked.count()}):")
      top.foreach { r =>
        println(f"[backtest]   #${r.getAs[Int]("rank")}%3d ${r.getAs[String]("scenarioId")}%-28s " +
          f"${r.getAs[String]("role")}%-13s net=${r.getAs[Double]("net_pnl")}%10.2f " +
          f"trades=${r.getAs[Long]("nTrades")}%3d")
      }
      println(s"[backtest] artifacts in $outDir (ranking CSV + report JSONs)")
    }
    spark.stop()
  }
}
