package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Tick-replay workload mirroring the reference benchmark
  * (`BASELINE.md`: 40 parallel 12h scenarios, 1,496,267 ticks total,
  * RSI + Bollinger workers + aggressive-trend decision logic, registered
  * baseline 90,000 ticks/s on 16 cores).
  *
  * Ticks are generated distributed (`spark.range → map`, seeded per
  * scenario — never materialized on the driver) and replayed through
  * [[SimKernel]] with an RSI+Bollinger strategy computed in-kernel over
  * the rolling mid window, matching the reference's per-tick worker
  * recompute shape.
  */
object TickReplay {

  val ReferenceTotalTicks = 1496267L
  val Scenarios = 40

  /** Deterministic per-scenario random-walk ticks, ~1 tick/29ms over 12h. */
  def syntheticTicks(spark: SparkSession, scenarios: Int = Scenarios,
                     totalTicks: Long = ReferenceTotalTicks): Dataset[SimTick] = {
    import spark.implicits._
    val perScenario = totalTicks / scenarios
    val t0 = 1700000000000L
    spark.range(0, scenarios.toLong, 1, scenarios).flatMap { s =>
      val rnd = new scala.util.Random(1000 + s)
      var mid = 150.0 + s
      val stepMs = (12L * 3600 * 1000) / perScenario
      (0L until perScenario).iterator.map { i =>
        mid += (rnd.nextDouble() - 0.5) * 0.02
        val spread = 0.008 + rnd.nextDouble() * 0.004
        val msc = t0 + i * stepMs
        SimTick(f"USDJPY_$s%02d", msc, msc, mid - spread / 2, mid + spread / 2)
      }
    }
  }

  /** RSI(14) + Bollinger(20) aggressive-trend-style logic over the
    * kernel's rolling mid window (recomputed per tick, like the
    * reference's LIVE compute basis — `rsi_worker.py:88-94`). */
  final class RsiBollingerTrend(lots: Double = 1.0,
                                val rsiPeriod: Int = 14,
                                val bbPeriod: Int = 20) extends DecisionLogic {

    def onTick(ctx: DecisionContext): Seq[Decision] = {
      val m = ctx.recentMids
      // warm up until BOTH lookbacks fit (rsi needs period+1 mids for its
      // deltas — guarding only bbPeriod under-indexed when rsi > bb)
      if (m.length < math.max(rsiPeriod, bbPeriod) + 1) return Seq(Hold)
      // RSI over the last rsiPeriod deltas (simple-mean variant, W6)
      var gain = 0.0; var loss = 0.0
      var i = m.length - rsiPeriod
      while (i < m.length) {
        val d = m(i) - m(i - 1)
        if (d > 0) gain += d else loss -= d
        i += 1
      }
      val rsi =
        if (loss == 0) 100.0
        else 100.0 - 100.0 / (1.0 + (gain / rsiPeriod) / (loss / rsiPeriod))
      // Bollinger over the last bbPeriod mids (W7)
      var sum = 0.0
      i = m.length - bbPeriod
      while (i < m.length) { sum += m(i); i += 1 }
      val mean = sum / bbPeriod
      var sq = 0.0
      i = m.length - bbPeriod
      while (i < m.length) { val d = m(i) - mean; sq += d * d; i += 1 }
      val sd = math.sqrt(sq / (bbPeriod - 1))
      val price = m.last
      val hasOpen = ctx.openPositions.nonEmpty
      if (!hasOpen && rsi < 30 && sd > 0 && price < mean - 2 * sd)
        Seq(OpenMarket(Long_, lots, slPrice = price - 4 * sd, tpPrice = price + 4 * sd))
      else if (!hasOpen && rsi > 70 && sd > 0 && price > mean + 2 * sd)
        Seq(OpenMarket(Short_, lots, slPrice = price + 4 * sd, tpPrice = price - 4 * sd))
      else if (hasOpen && rsi > 45 && rsi < 55)
        Seq(ClosePosition(ctx.openPositions.head.positionId))
      else Seq(Hold)
    }
  }

  /** Full replay → per-scenario stats DataFrame (40 rows). */
  def run(spark: SparkSession, scenarios: Int = Scenarios,
          totalTicks: Long = ReferenceTotalTicks): DataFrame = {
    import spark.implicits._
    val cfg = SimConfig(
      SymbolSpec(digits = 3, tickValue = 1.0), // JPY-quote style
      commissionPerLot = 2.5,
      tickBudgetMs = 0.0,
      latencyMinMs = 20, latencyMaxMs = 120, latencySeed = 42L,
      // reference workload renders bars on every tick (ST2)
      barTimeframesMs = Seq(60000L, 300000L))
    SimKernel.runScenarios(syntheticTicks(spark, scenarios, totalTicks),
        cfg, new RsiBollingerTrend())
      .map(_.stats)
      .toDF()
  }
}
