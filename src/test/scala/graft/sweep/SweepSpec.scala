package graft.sweep

import graft.SparkSpecBase
import graft.report.Reports
import graft.sim._

/** Sweep-side strategy: open LONG at a parameterized tick index, close
  * N ticks later (top-level: serializable without an outer test ref). */
private class OpenAt(openIdx: Long, holdTicks: Long) extends DecisionLogic {
  def onTick(ctx: DecisionContext): Seq[Decision] =
    if (ctx.tickIndex == openIdx) Seq(OpenMarket(Long_, 1.0))
    else if (ctx.tickIndex == openIdx + holdTicks && ctx.openPositions.nonEmpty)
      Seq(ClosePosition(ctx.openPositions.head.positionId))
    else Seq(Hold)
}

class SweepSpec extends SparkSpecBase {
  import spark.implicits._

  test("expandGrid: deterministic cartesian product, sorted keys, stable run ids") {
    val combos = Sweep.expandGrid(Map("b" -> Seq("1", "2"), "a" -> Seq("x", "y")))
    assert(combos.length === 4)
    assert(combos.map(_.runId) === Seq("run_0000", "run_0001", "run_0002", "run_0003"))
    // key 'a' varies slowest (sorted key order), value order preserved
    assert(combos.map(_.params) === Seq(
      Map("a" -> "x", "b" -> "1"), Map("a" -> "x", "b" -> "2"),
      Map("a" -> "y", "b" -> "1"), Map("a" -> "y", "b" -> "2")))
  }

  test("runSweepFused: load-once replay, ledger ranks and OFAT-analyzes") {
    // rising price series: longer hold -> larger P&L, deterministic ranking
    val ticks = (0 until 30).map { i =>
      SimTick("s1", 1000L + i * 1000, i.toLong, 100.0 + i * 0.01, 100.002 + i * 0.01)
    }
    val grid = Map("open" -> Seq("2", "5"), "hold" -> Seq("3", "10"))
    val ledger = Sweep.runSweepFused("sw1", ticks.toDS(), grid,
      p => (SimConfig(SymbolSpec(3, 1.0)), new OpenAt(p("open").toLong, p("hold").toLong)))
    val obj = Sweep.ledgerObjectives(ledger)
    assert(obj.count() === 4)
    val ranked = Reports.sweepRanking(obj, "objective").orderBy("rank").collect()
    // hold=10 beats hold=3 regardless of open index (rising market)
    val top = ranked.head
    assert(top.getAs[Map[String, String]]("params")("hold") === "10")
    assert(ranked.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3, 4))
    val sens = Reports.ofatSensitivity(obj, "params", "objective")
      .collect().map(r => r.getAs[String]("param") -> r.getAs[Double]("influence")).toMap
    // hold drives the objective; open barely matters
    assert(sens("hold") > sens("open"))
  }

  private def ledgerRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => Seq[Any](r.getAs[String]("sweepId"),
        r.getAs[String]("runId"), r.getAs[String]("status"),
        r.getAs[Map[String, String]]("params").toSeq.sorted,
        r.getAs[String]("scenarioId"), r.getAs[Long]("nTrades"),
        r.getAs[Double]("netPnl"), r.getAs[Double]("maxDrawdown"),
        r.getAs[String]("error")))
      .sortBy(_.mkString("|")).toSeq

  test("runSweepFused: ledger bit-identical to the per-combo path") {
    // two scenarios x four combos: the fused kernel (one shuffle, all
    // combos in lockstep per streamed scenario) must reproduce each combination's
    // solo kernel run EXACTLY — same scenarioIds mean same latency seeds,
    // so every netPnl matches to the bit, not within a tolerance
    val ticks = (0 until 30).flatMap { i =>
      Seq(SimTick("s1", 1000L + i * 1000, i.toLong, 100.0 + i * 0.01, 100.002 + i * 0.01),
        SimTick("s2", 1000L + i * 1000, i.toLong, 200.0 - i * 0.02, 200.004 - i * 0.02))
    }
    val grid = Map("open" -> Seq("2", "5"), "hold" -> Seq("3", "10"))
    def build(p: Map[String, String]): (SimConfig, DecisionLogic) =
      (SimConfig(SymbolSpec(3, 1.0)), new OpenAt(p("open").toLong, p("hold").toLong))
    val solo = Sweep.expandGrid(grid).flatMap { c =>
      val (cfg, logic) = build(c.params)
      SimKernel.runScenariosOutcomes(ticks.toDS(), cfg, logic).collect().map { o =>
        val r = o.result.get
        Seq[Any]("sw", c.runId, "ok", c.params.toSeq.sorted, r.stats.scenarioId,
          r.stats.nTrades, r.stats.finalBalance - cfg.startBalance,
          r.stats.maxDrawdown, "")
      }
    }.sortBy(_.mkString("|"))
    val fused = ledgerRows(Sweep.runSweepFused("sw", ticks.toDS(), grid, build))
    assert(solo.length === 8) // 4 combos x 2 scenarios
    assert(fused === solo)
  }

  test("runSweepFused: a failing build records an error row, rest proceed") {
    val ticks = (0 until 10).map { i =>
      SimTick("s1", 1000L + i * 1000, i.toLong, 100.0 + i * 0.01, 100.002 + i * 0.01)
    }
    val grid = Map("open" -> Seq("2", "boom"))
    def build(p: Map[String, String]): (SimConfig, DecisionLogic) =
      (SimConfig(SymbolSpec(3, 1.0)), new OpenAt(p("open").toLong, 3))
    val rows = Sweep.runSweepFused("sw", ticks.toDS(), grid, build).collect()
    val byStatus = rows.groupBy(_.getAs[String]("status"))
    assert(byStatus("ok").map(_.getAs[String]("runId")).toSet === Set("run_0000"))
    assert(byStatus("error").length === 1)
    assert(byStatus("error").head.getAs[String]("error").nonEmpty)
  }
}
