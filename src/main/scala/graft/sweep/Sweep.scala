package graft.sweep

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.sim._

/** Parameter-sweep orchestration (SURVEY §3.4, J8, A16–A18).
  *
  * - [[expandGrid]] — deterministic cartesian product of the parameter
  *   grid (`/root/reference/python/framework/optimization/grid_expander.py:16-28`):
  *   keys sorted, value order preserved, combination order reproducible.
  * - [[runSweepFused]] — load-once/run-many: the ticks shuffle ONCE and
  *   every combination steps in lockstep over the same streamed scenario
  *   — the Spark form of the reference's mount-identity reuse
  *   (`batch_orchestrator.py:656-695`: data identity excludes strategy
  *   params, so the mount is shared across the whole sweep).
  *
  * The sweep ledger feeds [[graft.report.Reports.sweepRanking]] (A16) and
  * [[graft.report.Reports.ofatSensitivity]] (A17).
  */
object Sweep {

  /** One sweep combination. runId is stable: zero-padded position in the
    * deterministic expansion order. */
  case class Combo(runId: String, params: Map[String, String])

  def expandGrid(grid: Map[String, Seq[String]]): Seq[Combo] = {
    val keys = grid.keys.toSeq.sorted
    val combos = keys.foldLeft(Seq(Map.empty[String, String])) { (acc, k) =>
      for (m <- acc; v <- grid(k)) yield m + (k -> v)
    }
    combos.zipWithIndex.map { case (m, i) => Combo(f"run_$i%04d", m) }
  }

  /** Sweep ledger row: per (combo, scenario) outcome. `status` is exactly
    * "ok" | "error" (the reference ledger convention —
    * `optimization_analysis.py` matches on the literal); the failure
    * message lives in `error`, not in the status value. */
  case class SweepRow(
      sweepId: String, runId: String, status: String,
      params: Map[String, String], scenarioId: String,
      nTrades: Long, netPnl: Double, maxDrawdown: Double,
      error: String = "")

  /** Run every combination of the grid against the same tick data in
    * ONE repartition+sort pass ([[SimKernel.runScenariosMultiplexed]]):
    * each scenario's rows stream through once and every combination
    * steps through each tick in lockstep, instead of one full shuffle of
    * the tick data per combination. `build` maps a combination to
    * (config, strategy) — the reference's dotted-path parameter override
    * collapses to ordinary function application here. Combinations must
    * not share mutable [[DecisionLogic]] state: their callbacks
    * interleave.
    *
    * Each ledger row is bit-identical to that combination's solo
    * [[SimKernel.runScenariosOutcomes]] run (spec'd): the kernel runs
    * under the original scenarioId, so latency seeds and every
    * downstream stat match. Results map to stats-level `SweepRow`s ON
    * THE EXECUTORS — the nested trade ledgers never reach the driver. */
  def runSweepFused(sweepId: String, ticks: Dataset[SimTick],
               grid: Map[String, Seq[String]],
               build: Map[String, String] => (SimConfig, DecisionLogic)): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val built = expandGrid(grid).map { c => (c, scala.util.Try(build(c.params))) }
    // build() failures surface at plan-construction time on the driver;
    // record the message so the ledger says WHY the combo failed.
    val bad = built.collect { case (c, scala.util.Failure(e)) =>
      SweepRow(sweepId, c.runId, "error", c.params, "", 0L, 0.0, 0.0, e.getMessage)
    }
    val good = built.collect { case (c, scala.util.Success((cfg, logic))) =>
      (c.runId, cfg, logic)
    }
    val meta = built.collect { case (c, scala.util.Success((cfg, _))) =>
      c.runId -> (c.params, cfg.startBalance)
    }.toMap
    val fused =
      if (good.isEmpty) spark.emptyDataset[SweepRow]
      else SimKernel.runScenariosMultiplexed(ticks, good).map { case (runId, o) =>
        val (params, start) = meta(runId)
        o.result match {
          case Some(r) =>
            SweepRow(sweepId, runId, "ok", params,
              r.stats.scenarioId, r.stats.nTrades,
              r.stats.finalBalance - start, r.stats.maxDrawdown)
          case None =>
            SweepRow(sweepId, runId, "error", params,
              o.scenarioId, 0L, 0.0, 0.0, o.error)
        }
      }
    if (bad.isEmpty) fused.toDF()
    else fused.toDF().union(spark.createDataset(bad).toDF())
  }

  /** Per-run objective roll-up of a sweep ledger (sum net P&L across the
    * run's scenarios) — the input shape for Reports.sweepRanking. */
  def ledgerObjectives(ledger: DataFrame): DataFrame =
    ledger.groupBy(col("sweepId").as("sweep_id"), col("runId").as("run_id"),
        col("status"), col("params"))
      .agg(round(sum(col("netPnl")), 6).as("objective"),
        sum(col("nTrades")).as("n_trades"),
        max(col("maxDrawdown")).as("worst_drawdown"))
}
