package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.sim._
import graft.workers.Workers

/** E2E spec for the §3.1 flagship: a dense synthetic tick table runs the
  * full phase 0–7 pipeline with a SCRIPTED deterministic strategy, so
  * window shapes, warmup gating, kernel wiring, report values, and the
  * ranking artifact are all asserted against first-principles values
  * (kernel-internal exactness — fills, latency, P&L math — is covered by
  * SimKernelSpec; this spec proves the orchestration around it). */
class BacktestSpec extends SparkSpecBase {
  import spark.implicits._

  /** One symbol, 1 tick/min for 6 days: one continuous region → three
    * 2-day blocks → roles IS, IS, OOS at oosSplit 0.3. */
  private def syntheticTicks = {
    val t0 = 1700000000000L
    val n = 6 * 24 * 60
    spark.range(0, n, 1, 4)
      .select(lit("EURUSD").as("symbol"),
        (lit(t0) + col("id") * 60000L).as("ts_ms"),
        (lit(100.0) + sin(col("id") / lit(40.0)) * 5.0).as("mid"))
  }

  /** Scripted per-scenario logic: open LONG on the 10th tick seen in the
    * scenario, close on the 20th. Scenario transitions are tracked by
    * scenarioId (scenarios arrive sequentially within a partition). */
  final class Scripted extends DecisionLogic {
    private var sid: String = null
    private var count = 0
    def onTick(ctx: DecisionContext): Seq[Decision] = {
      if (ctx.tick.scenarioId != sid) { sid = ctx.tick.scenarioId; count = 0 }
      count += 1
      if (count >= 10 && count < 20 && ctx.openPositions.isEmpty)
        Seq(OpenMarket(Long_, lots = 1.0))
      else if (count >= 20 && ctx.openPositions.nonEmpty)
        Seq(ClosePosition(ctx.openPositions.head.positionId))
      else Seq(Hold)
    }
  }

  private val cfg = Backtest.Config(
    splitGapMs = 3600000L, blockMs = 2L * 86400 * 1000,
    minBlockMs = 86400000L, oosSplit = 0.3, warmupBarMs = 60000L,
    halfSpread = 0.005, commissionPerLot = 2.5)

  test("phases 0-7: windows, warmup gate, trades, reports, ranking") {
    val out = java.nio.file.Files.createTempDirectory("backtest_e2e").toString
    val ranked = Backtest.run(spark, syntheticTicks, out, new Scripted, cfg)
      .collect()

    // window generation: exactly 3 scenarios, trailing one OOS
    assert(ranked.length === 3)
    val byStart = ranked.sortBy(_.getAs[String]("scenarioId")
      .split('@').last.toLong)
    assert(byStart.map(_.getAs[String]("role")).toSeq ===
      Seq("IN_SAMPLE", "IN_SAMPLE", "OUT_OF_SAMPLE"))

    // every scenario ran its scripted round-trip exactly once
    assert(ranked.forall(_.getAs[Long]("nTrades") === 1L))

    // ranking is net_pnl desc with rank 1..3
    assert(ranked.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("net_pnl"))
      .toSeq.reverse === ranked.map(_.getAs[Double]("net_pnl")).toSeq.sorted)

    // the ranking CSV artifact exists with a header and 3 data rows
    val csv = spark.read.option("header", "true").csv(s"$out/ranking")
    assert(csv.count() === 3)
    assert(csv.columns.contains("net_pnl"))

    // report JSONs exist and are consistent with the trade ledger
    val analytics = spark.read.json(s"$out/trade_analytics")
    val sumNet = analytics.agg(sum("sum_net")).head().getDouble(0)
    val rankedNet = ranked.map(_.getAs[Double]("net_pnl")).sum
    assert(math.abs(sumNet - rankedNet) < 1e-6,
      s"analytics sum_net $sumNet != ranked net total $rankedNet")
    val wfe = spark.read.json(s"$out/wfe")
    assert(wfe.count() === 1) // one symbol, IS and OOS means both present
    assert(wfe.head().getAs[Long]("n_is") === 2L)
    assert(wfe.head().getAs[Long]("n_oos") === 1L)
  }

  test("warmup gate: ticks warm indicators but trades never start early") {
    val out = java.nio.file.Files.createTempDirectory("backtest_gate").toString
    // capture trades via the pipeline's outcome path: rerun with a logic
    // that tries to open IMMEDIATELY (count >= 1) — the gate must hold
    // every entry until the scenario's trade window starts
    final class Eager extends DecisionLogic {
      def onTick(ctx: DecisionContext): Seq[Decision] =
        if (ctx.openPositions.isEmpty) Seq(OpenMarket(Long_, 1.0)) else Seq(Hold)
    }
    Backtest.run(spark, syntheticTicks, out, new Eager, cfg)
    // block 2 and 3 have warmup ticks (8 bars before the window);
    // entries must all sit at/after their block_start
    val trades = spark.read.json(s"$out/trade_analytics")
    assert(trades.count() >= 1) // trades happened at all
    // structural check via the ranking: every scenario's id carries its
    // trade start; the eager logic would open during warmup without the
    // gate, producing an entry before start — proven impossible by the
    // kernel outcome: re-derive entries from the event-stream CSV is
    // overkill here, the WarmupGate property is asserted directly below
    val gateProbe = new Backtest.WarmupGate(new Eager)
    val tick = SimTick("S#0#0@1000", 999L, 999L, 1.0, 1.01)
    val ctx = new DecisionContext(tick, 0L, Nil, IndexedSeq(1.0))
    assert(gateProbe.onTick(ctx) === Seq(Hold))
    val tickAfter = SimTick("S#0#0@1000", 1000L, 1000L, 1.0, 1.01)
    val ctxAfter = new DecisionContext(tickAfter, 1L, Nil, IndexedSeq(1.0))
    assert(gateProbe.onTick(ctxAfter).exists(_.isInstanceOf[OpenMarket]))
  }

  test("sweep mode: shared mount, fused grid, combo matches its solo run") {
    val out = java.nio.file.Files.createTempDirectory("backtest_sweep").toString
    // (5, 8) carries the grid's max warmup (rsi 5→6 bars, bb 8→8 bars),
    // so its sweep execution sees exactly the warmup margin a solo run
    // with those params computes — the parity below is then bit-exact
    val grid = Map("rsi_period" -> Seq("5", "3"), "bb_period" -> Seq("8", "6"))
    val ranked = Backtest.sweep(spark, syntheticTicks, out, grid,
      lots = 1.0, cfg = cfg).collect()

    assert(ranked.length === 4)
    assert(ranked.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2, 3, 4))
    // ranking is objective desc
    assert(ranked.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("net_pnl"))
      .toSeq.reverse === ranked.map(_.getAs[Double]("net_pnl")).toSeq.sorted)

    // parity: the (5, 8) combination == the solo phase 0-7 pipeline with
    // the same params (cfg defaults are rsi 5 / bb 8)
    val soloOut = java.nio.file.Files.createTempDirectory("backtest_solo").toString
    val solo = Backtest.run(spark, syntheticTicks, soloOut,
      new TickReplay.RsiBollingerTrend(lots = 1.0, rsiPeriod = 5, bbPeriod = 8),
      cfg)
    val soloNet = solo.collect().map(_.getAs[Double]("net_pnl")).sum
    val combo = ranked.find { r =>
      val p = r.getAs[Map[String, String]]("params")
      p("rsi_period") == "5" && p("bb_period") == "8"
    }.get
    // ranking objective passes through ledgerObjectives' round(..., 6)
    assert(combo.getAs[Double]("net_pnl") ===
      BigDecimal(soloNet).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "fused sweep combo diverges from the solo pipeline")
    // ...and the un-rounded ledger rows match the solo run to the bit
    val comboLedger = spark.read.json(s"$out/sweep_ledger")
      .filter(col("runId") === combo.getAs[String]("run_id"))
      .select("scenarioId", "netPnl").collect()
      .map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("netPnl")).toMap
    val soloPerScenario = solo.collect()
      .map(r => r.getAs[String]("scenarioId") -> r.getAs[Double]("net_pnl")).toMap
    assert(comboLedger === soloPerScenario,
      "fused sweep ledger diverges from the solo pipeline per scenario")

    // artifacts: ranking CSV with 4 rows, ledger JSON per combo x scenario
    val csv = spark.read.option("header", "true").csv(s"$out/sweep_ranking")
    assert(csv.count() === 4)
    val ledger = spark.read.json(s"$out/sweep_ledger")
    assert(ledger.select("runId").distinct().count() === 4)
    assert(ledger.count() === 12) // 4 combos x 3 scenarios
  }

  /** Counts every tick decision in a driver-side accumulator. Task-side
    * updates count every execution of a partition, so a recomputed
    * kernel partition shows up as extra calls. */
  final class Counting(inner: DecisionLogic, calls: LongAccumulator)
      extends DecisionLogic {
    def onTick(ctx: DecisionContext): Seq[Decision] = {
      calls.add(1L); inner.onTick(ctx)
    }
  }

  test("phase 7's concurrent writes replay each tagged tick exactly once") {
    val out = java.nio.file.Files.createTempDirectory("backtest_once").toString
    val calls = spark.sparkContext.longAccumulator("backtest_on_tick")
    val ranked = Backtest.run(spark, syntheticTicks, out,
      new Counting(new Scripted, calls), cfg).collect()
    assert(ranked.length === 3)

    // the tagged ticks Backtest.run hands the kernel (phase 3 warmup)
    val (rsiW, bbW) = (Workers.registry("CORE/rsi"), Workers.registry("CORE/bollinger"))
    val warmupMs = math.max(rsiW.warmupBars(rsiW.validate(cfg.rsiParams)),
      bbW.warmupBars(bbW.validate(cfg.bbParams))) * cfg.warmupBarMs
    val tagged = Backtest.prepareMount(spark, syntheticTicks, cfg, warmupMs)
      .simTicks.count()
    assert(tagged > 0L)
    assert(calls.value === tagged,
      s"kernel decided ${calls.value} times for $tagged tagged ticks")
  }

  /** The job group of every job Spark starts while `body` runs, in
    * start order. The listener bus is FIFO: once the start of a marker
    * job run after `body` arrives, every job `body` started has been
    * seen. */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "listener barrier")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    assert(seen.contains("marker"), "listener never saw the marker job")
    seen.takeWhile(_ != "marker")
  }

  test("every job of a Backtest.run inherits the caller's job group") {
    val out = java.nio.file.Files.createTempDirectory("backtest_group").toString
    val sc = spark.sparkContext
    val inRun = jobGroupsOf {
      sc.setJobGroup("g", "backtest under a job group")
      try Backtest.run(spark, syntheticTicks, out, new Scripted, cfg)
      finally sc.clearJobGroup()
    }
    assert(inRun.size >= 8, s"expected the run's jobs, saw ${inRun.size}")
    assert(inRun.forall(_ == "g"), s"jobs outside group g: ${inRun.filter(_ != "g")}")
  }

  test("Backtest.run and sweep stay within their job budgets") {
    // the counts measured on this fixture: the mount's one ordered pass
    // and gate action (3 jobs), the kernel, one ranking collect and one
    // single-file write per artifact; a new job anywhere fails the gate
    val out = java.nio.file.Files.createTempDirectory("backtest_jobs").toString
    val runJobs = jobGroupsOf(
      Backtest.run(spark, syntheticTicks, s"$out/run", new Scripted, cfg)).size
    assert(runJobs <= 22, s"Backtest.run ran $runJobs jobs")
    val grid = Map("rsi_period" -> Seq("5", "3"), "bb_period" -> Seq("8", "6"))
    val sweepJobs = jobGroupsOf(Backtest.sweep(spark, syntheticTicks,
      s"$out/sweep", grid, lots = 1.0, cfg = cfg)).size
    assert(sweepJobs <= 13, s"Backtest.sweep ran $sweepJobs jobs")
  }

  test("a row the load filter drops counts in availability only") {
    val out = java.nio.file.Files.createTempDirectory("backtest_null").toString
    val t0 = 1700000000000L
    // a null-mid row two hours before the first valid tick: were it a
    // tick, its gap (over splitGapMs) would open a region of its own
    val withNull = syntheticTicks.union(
      Seq(("EURUSD", t0 - 7200000L, None: Option[Double])).toDF("symbol", "ts_ms", "mid"))
    def ranked(ticks: org.apache.spark.sql.DataFrame, dir: String) =
      Backtest.run(spark, ticks, s"$out/$dir", new Scripted, cfg).collect().toSeq
    // the same scenarios (id = symbol#region#block@start), roles and results
    assert(ranked(withNull, "with_null") === ranked(syntheticTicks, "without"))
    val avail = spark.read.json(s"$out/with_null/availability").head()
    assert(avail.getAs[Long]("n_rows") === 6L * 24 * 60 + 1)
    assert(avail.getAs[Long]("data_start_ms") === t0 - 7200000L)
    val quality = spark.read.json(s"$out/with_null/quality").head()
    assert(quality.getAs[Long]("n_ticks") === 6L * 24 * 60)
  }

  test("a tick table rewritten in place is re-read, not served from cache") {
    val base = java.nio.file.Files.createTempDirectory("backtest_rewrite").toString
    // four days starting 20 days after syntheticTicks' six
    val later = spark.range(0, 4 * 24 * 60, 1, 4)
      .select(lit("EURUSD").as("symbol"),
        (lit(1700000000000L + 20L * 86400000L) + col("id") * 60000L).as("ts_ms"),
        (lit(90.0) + cos(col("id") / lit(30.0)) * 4.0).as("mid"))
    def runOn(table: String, out: String): Seq[Seq[String]] = {
      val ranked = Backtest.run(spark, spark.read.parquet(table),
        s"$base/$out", new Scripted, cfg).collect()
      def rows(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toString).sorted.toSeq
      rows(ranked) +: Seq("availability", "quality").map(n =>
        rows(spark.read.json(s"$base/$out/$n").collect()))
    }
    syntheticTicks.write.parquet(s"$base/ticks")
    val first = runOn(s"$base/ticks", "first")
    // rewrite the table the way another process would: a Spark write to
    // the path itself would make this session re-cache plans over it
    later.write.parquet(s"$base/staging")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ticks"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$base/staging"),
      new org.apache.hadoop.fs.Path(s"$base/ticks"))
    val rewritten = runOn(s"$base/ticks", "rewritten")
    later.write.parquet(s"$base/fresh_ticks")
    val fresh = runOn(s"$base/fresh_ticks", "fresh")
    assert(fresh.head.nonEmpty && fresh != first)
    assert(rewritten === fresh,
      "a run over a rewritten tick table must equal a run over a fresh copy")
  }

  test("phase 0 fails fast on invalid strategy parameters") {
    val out = java.nio.file.Files.createTempDirectory("backtest_bad").toString
    val e = intercept[IllegalArgumentException] {
      Backtest.run(spark, syntheticTicks, out, new Scripted,
        cfg.copy(rsiParams = Map("period" -> "not_a_number")))
    }
    assert(e.getMessage.contains("not numeric"))
  }
}
