package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Backtest
import graft.bars.Ohlcv
import graft.ingest.TickIngest
import graft.report.Reports
import graft.serve.Serve
import graft.sim._
import graft.sweep.Sweep
import graft.workers.Workers

/** The two backtest workloads, untraced (through the normal entry points
  * `Backtest.run` / `Backtest.sweep`) and traced (rebuilt from the
  * modules' public calls, one span per module boundary). */
object Backtests {

  val Scenarios = 40
  /** The reference loadtest's tick count, and the share of it each lap
    * replays: an eighth keeps one cold-JVM run of `etl_backtest` near a
    * minute on a 4-core host (see README.md). */
  val ReferenceTicks = 1496267L
  val TotalTicks: Long = ReferenceTicks / 8
  /** `Backtest.main`'s sweep grid. */
  val Grid: Map[String, Seq[String]] = Map(
    "rsi_period" -> Seq("3", "5", "8"), "bb_period" -> Seq("6", "8", "12"))
  val Combos: Int = Grid.values.map(_.size).product

  /** One scenario per session: a 1-hour gap splits regions, and a block
    * is longer than a session. Bars for the warmup margin are M1. */
  val Cfg: Backtest.Config = Backtest.Config(
    maxSymbols = 1, splitGapMs = 3600000L, blockMs = 13L * 3600000L,
    minBlockMs = 3600000L, warmupBarMs = 60000L)

  def logic(rsi: Int, bb: Int): DecisionLogic =
    new TickReplay.RsiBollingerTrend(lots = 1.0, rsiPeriod = rsi, bbPeriod = bb)

  val RunLogic: DecisionLogic = logic(Cfg.rsiParams("period").toInt,
    Cfg.bbParams("period").toInt)

  /** Kernel replays per lap: each session's last tick falls on its
    * window's exclusive end, so a scenario replays all ticks but one. */
  def tagged(seed: Long): Long =
    Gen.sessions(seed, Scenarios, TotalTicks).map(_.ticks - 1L).sum

  /** The backtest's tick feed from the ingested table. */
  def feed(spark: SparkSession, tickDir: String): DataFrame =
    TickIngest.readNormalized(spark, tickDir)
      .select(col("symbol"), col("time_msc").as("ts_ms"), col("mid"))

  def renderBars(ticks: DataFrame): DataFrame =
    Ohlcv.renderAllTimeframes(ticks, Seq(col("symbol")), col("timestamp"),
      col("mid"), col("volume"), col("arrival_idx"))

  final case class Dirs(root: File) {
    def ticks: String = new File(root, "ticks").getPath
    def bars: String = new File(root, "bars").getPath
    def out: String = new File(root, "out").getPath
  }

  /** Ingest path: exports → quality report → tick table. Returns the
    * quality rows. */
  def ingest(spark: SparkSession, exports: Seq[String], tickDir: String): Array[Row] = {
    val raw = TickIngest.loadExports(spark, exports)
    val quality = TickIngest.qualityReport(raw).collect()
    TickIngest.writeTickTable(raw, tickDir)
    quality
  }

  /** The ingest path's write alone: exports → tick table (the sweep's
    * set-up, which needs the table but not the quality report). */
  def writeTicks(spark: SparkSession, exports: Seq[String], tickDir: String): Unit =
    TickIngest.writeTickTable(TickIngest.loadExports(spark, exports), tickDir)

  /** One `etl_backtest` lap through the normal entry points. Returns the
    * quality rows, the ranking and the wall time of each step. */
  def etlLap(spark: SparkSession, exports: Seq[String], d: Dirs)
      : (Array[Row], Array[Row], Seq[Double]) = {
    val t0 = System.nanoTime()
    val quality = ingest(spark, exports, d.ticks)
    val t1 = System.nanoTime()
    renderBars(TickIngest.readNormalized(spark, d.ticks))
      .write.mode("overwrite").parquet(d.bars)
    val t2 = System.nanoTime()
    val ranked = Backtest.run(spark, feed(spark, d.ticks), d.out, RunLogic, Cfg)
      .collect()
    val t3 = System.nanoTime()
    (quality, ranked, Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9))
  }

  /** One `sweep_grid` lap through the normal entry point. */
  def sweepLap(spark: SparkSession, tickDir: String, outDir: String): Array[Row] =
    Backtest.sweep(spark, feed(spark, tickDir), outDir, Grid, lots = 1.0, Cfg)
      .collect()

  // ---- output checks (outside the timed laps) -----------------------

  /** The tick table, and the quality report where one was made, count
    * every generated tick. */
  def ingestChecks(spark: SparkSession, tickDir: String,
                   quality: Option[Array[Row]]): Seq[(String, Boolean)] =
    quality.map(q => "quality_rows_equal_generated_ticks" ->
      (q.map(_.getAs[Long]("n_ticks")).sum == TotalTicks)).toSeq :+
      ("ingested_rows_equal_generated_ticks" ->
        (spark.read.parquet(tickDir).count() == TotalTicks))

  def barChecks(spark: SparkSession, d: Dirs): Seq[(String, Boolean)] = {
    val sums = spark.read.parquet(d.bars).groupBy("timeframe")
      .agg(sum("tick_count").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("bars_cover_every_timeframe" -> (sums.keySet == Ohlcv.Timeframes.keySet)) ++
      Ohlcv.Timeframes.keys.toSeq.sorted.map(tf =>
        s"bars_${tf}_tick_count_sums_to_ticks" -> sums.get(tf).contains(TotalTicks))
  }

  def rankingChecks(ranked: Array[Row], d: Dirs): Seq[(String, Boolean)] = Seq(
    "ranking_rows_equal_scenarios" -> (ranked.length == Scenarios),
    "ranking_ranks_are_1_to_n" ->
      (ranked.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to ranked.length)),
    "no_scenario_error_rows" -> !new File(d.out, "errors").exists())

  /** Sweep checks: 9 × scenarios ledger rows, all ok, each combination's
    * ranked net P&L is the sum of its ledger rows, and (when `runPnl` is
    * given) the rsi=5/bb=8 combination equals `Backtest.run`'s
    * per-scenario net P&L. */
  def sweepChecks(spark: SparkSession, ranked: Array[Row], outDir: String,
                  runPnl: Option[Map[String, Double]]): Seq[(String, Boolean)] = {
    val ledger = Serve.readReportJson(spark, outDir, "sweep_ledger").collect()
    def combo(r: Row): Seq[String] = {
      val p = r.getAs[Row]("params")
      Seq(p.getAs[String]("rsi_period"), p.getAs[String]("bb_period"))
    }
    val ledgerPnl = ledger.groupBy(combo).map { case (k, rows) =>
      k -> rows.map(_.getAs[Double]("netPnl")).sum }
    val rankedPnl = ranked.map { r =>
      val p = r.getAs[Map[String, String]]("params")
      Seq(p("rsi_period"), p("bb_period")) -> r.getAs[Double]("net_pnl") }.toMap
    val base = ledger.filter(combo(_) == Seq("5", "8"))
      .map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("netPnl")).toMap
    Seq(
      "sweep_ranking_rows_equal_combinations" -> (ranked.length == Combos),
      "sweep_ledger_rows_equal_combinations_x_scenarios" ->
        (ledger.length == Combos * Scenarios),
      "sweep_ledger_all_ok" -> ledger.forall(_.getAs[String]("status") == "ok"),
      "sweep_ranking_pnl_is_ledger_sum" -> (rankedPnl.keySet == ledgerPnl.keySet &&
        rankedPnl.forall { case (k, v) => math.abs(v - ledgerPnl(k)) < 1e-3 })) ++
      runPnl.map(pnl => "sweep_rsi5_bb8_matches_backtest_run" ->
        (pnl.size == Scenarios && base.keySet == pnl.keySet &&
          base.forall { case (k, v) => math.abs(v - pnl(k)) < 1e-9 }))
  }

  def pnlByScenario(ranked: Array[Row]): Map[String, Double] =
    ranked.map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("net_pnl")).toMap

  // ---- traced pipelines ---------------------------------------------

  /** The kernel config `Backtest.run` and `Backtest.sweep` use. */
  def simConfig(cfg: Backtest.Config): SimConfig = SimConfig(
    SymbolSpec(digits = 2, tickValue = 1.0),
    startBalance = cfg.startBalance, commissionPerLot = cfg.commissionPerLot,
    latencyMinMs = 20, latencyMaxMs = 120, latencySeed = 42L,
    barTimeframesMs = Seq(cfg.warmupBarMs))

  private def warmupMs(rsi: Seq[String], bb: Seq[String]): Long = {
    val (rsiW, bbW) = (Workers.registry("CORE/rsi"), Workers.registry("CORE/bollinger"))
    val bars = (for (r <- rsi; b <- bb) yield math.max(
      rsiW.warmupBars(rsiW.validate(Map("period" -> r))),
      bbW.warmupBars(bbW.validate(Map("period" -> b))))).max
    bars * Cfg.warmupBarMs
  }

  /** Traced ingest path (the same calls as [[ingest]]). */
  def tracedIngest(t: Tracer, spark: SparkSession, exports: Seq[String],
                   tickDir: String): Array[Row] = {
    val raw = TickIngest.loadExports(spark, exports)
    val quality = t.span("ingest.load")(TickIngest.qualityReport(raw).collect())
    t.span("ingest.write")(TickIngest.writeTickTable(raw, tickDir))
    quality
  }

  /** Phases 1–6 with each boundary forced: the mount (catalog), then the
    * tagged ticks (windows), persisted so the kernel span reads them. */
  private def tracedMount(t: Tracer, spark: SparkSession, tickDir: String,
                          warmup: Long) = {
    val mount = t.span("catalog.mount")(
      Backtest.prepareMount(spark, feed(spark, tickDir), Cfg, warmup))
    val tagged = mount.simTicks.persist(StorageLevel.MEMORY_AND_DISK)
    val n = t.span("windows.tag") { mount.windows.count(); tagged.count() }
    (mount, tagged, n)
  }

  /** Traced `etl_backtest`; returns the ranking, layer facts and the
    * quality rows. */
  def tracedEtl(t: Tracer, spark: SparkSession, exports: Seq[String],
                d: Dirs): (Array[Row], Map[String, Double], Array[Row]) = {
    val quality = tracedIngest(t, spark, exports, d.ticks)
    t.span("bars.render")(renderBars(TickIngest.readNormalized(spark, d.ticks))
      .write.mode("overwrite").parquet(d.bars))
    val (rows, facts) = tracedBacktest(t, spark, d.ticks, d.out)
    (rows, facts, quality)
  }

  /** Traced phases 1–7 of `Backtest.run`; returns the ranking and layer
    * facts. */
  def tracedBacktest(t: Tracer, spark: SparkSession, tickDir: String,
                     outDir: String): (Array[Row], Map[String, Double]) = {
    import spark.implicits._
    val (mount, tagged, nTagged) = tracedMount(t, spark, tickDir,
      warmupMs(Cfg.rsiParams.values.toSeq, Cfg.bbParams.values.toSeq))
    val outcomes = SimKernel.runScenariosOutcomes(tagged, simConfig(Cfg),
      new Backtest.WarmupGate(RunLogic)).cache()
    t.span("sim.tickrun")(outcomes.count())

    // phase 7, as Backtest.run composes it
    val (ranked, reports) = t.span("report.summary") {
      val ok = outcomes.filter(_.error == "").flatMap(_.result)
      val stats = ok.map(_.stats).toDF()
      val ledger = ok.flatMap(_.trades).toDF().select(lit("USD").as("currency"),
        col("scenarioId").as("scenario_name"), col("netPnl").as("net_pnl"),
        col("rMultiple").as("r_multiple"), col("maePnl").as("mae"),
        col("mfePnl").as("mfe"), col("grossPnl").as("gross_profit"),
        (col("commission") + col("swapCost")).as("fees"))
      val perScenario = stats
        .withColumn("net_pnl", col("finalBalance") - Cfg.startBalance)
        .join(broadcast(mount.windows.select(col("scenario_id").as("scenarioId"),
          col("symbol"), col("role"))), Seq("scenarioId"))
      val reports = Seq(
        "trade_analytics" -> Reports.tradeAnalytics(ledger),
        "portfolio_rollup" -> Reports.portfolioRollup(ledger.join(
          stats.select(col("scenarioId").as("scenario_name"),
            col("maxDrawdown").as("max_drawdown")), Seq("scenario_name"))),
        "robustness" -> Reports.robustnessStats(perScenario, Seq("symbol"), "net_pnl")
          .orderBy(col("symbol")),
        "wfe" -> Reports.walkForwardEfficiency(perScenario, Seq("symbol"), "net_pnl")
          .orderBy(col("symbol")),
        "availability" -> mount.avail.orderBy(col("symbol")),
        "quality" -> mount.quality.orderBy(col("symbol")))
        .map { case (n, df) => n -> df.cache() }
      reports.foreach(_._2.count())
      val ranked = Reports.sweepRanking(
        perScenario.withColumn("sweep_id", lit("backtest"))
          .withColumn("run_id", col("scenarioId")).withColumn("status", lit("ok")),
        objective = "net_pnl")
        .select(col("rank"), col("scenarioId"), col("symbol"), col("role"),
          col("net_pnl"), col("nTrades"), col("maxDrawdown"))
        .orderBy(col("rank")).cache()
      ranked.count()
      (ranked, reports)
    }
    t.span("serve.write") {
      Serve.writeRankingCsv(ranked, s"$outDir/ranking")
      reports.foreach { case (n, df) => Serve.writeReportJson(df, outDir, n) }
    }
    val rows = ranked.collect()
    Seq(ranked, outcomes, tagged).foreach(_.unpersist())
    reports.foreach(_._2.unpersist())
    (rows, Map("tagged" -> nTagged.toDouble, "combos" -> 1.0))
  }

  /** Traced `sweep_grid` over an ingested tick table. */
  def tracedSweep(t: Tracer, spark: SparkSession, tickDir: String,
                  outDir: String): (Array[Row], Map[String, Double]) = {
    val (mount, tagged, nTagged) = tracedMount(t, spark, tickDir,
      warmupMs(Grid("rsi_period"), Grid("bb_period")))
    val ledger = Sweep.runSweepFused("backtest_sweep", tagged, Grid, p =>
      (simConfig(Cfg), new Backtest.WarmupGate(
        logic(p("rsi_period").toInt, p("bb_period").toInt)))).cache()
    t.span("sim.tickrun")(ledger.count())
    val objectives = t.span("sweep.rank") {
      val o = Sweep.ledgerObjectives(ledger).cache(); o.count(); o
    }
    val ranked = t.span("report.summary") {
      val r = Reports.sweepRanking(objectives, objective = "objective")
        .select(col("rank"), col("run_id"), col("params"), col("status"),
          col("objective").as("net_pnl"), col("n_trades"), col("worst_drawdown"))
        .orderBy(col("rank")).cache()
      r.count(); r
    }
    t.span("serve.write") {
      Serve.writeRankingCsv(ranked.withColumn("params", to_json(col("params"))),
        s"$outDir/sweep_ranking")
      Serve.writeReportJson(ledger.orderBy(col("runId"), col("scenarioId")),
        outDir, "sweep_ledger")
      Serve.writeReportJson(mount.avail.orderBy(col("symbol")), outDir, "availability")
      Serve.writeReportJson(mount.quality.orderBy(col("symbol")), outDir, "quality")
    }
    val rows = ranked.collect()
    Seq(ranked, objectives, ledger, tagged).foreach(_.unpersist())
    (rows, Map("tagged" -> nTagged.toDouble, "combos" -> Combos.toDouble))
  }
}
