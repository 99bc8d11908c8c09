package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Result-ledger aggregations (SURVEY §2.4 A7–A18): per-currency trade
  * analytics, portfolio roll-ups whose ratios are recomputed from sums
  * (never averaged — `/root/reference/python/framework/reporting/
  * report_aggregators.py:6-9`), robustness distributions with WFE, sweep
  * ranking with stable tie-breaks, and OFAT parameter sensitivity.
  *
  * All are plain groupBy/window plans over a trade/run ledger DataFrame —
  * ledger schemas are the reference's (`TradeRecord`, `RunResultRow`).
  */
object Reports {

  /** A7: per-currency trade analytics over a closed-trade ledger with
    * columns (currency, net_pnl, r_multiple, mae, mfe, gross_profit,
    * fees). Expectancy = mean R; win/loss splits by net_pnl sign. */
  def tradeAnalytics(trades: DataFrame): DataFrame =
    trades.groupBy(col("currency")).agg(
      count(lit(1)).as("n_trades"),
      avg(col("r_multiple")).as("expectancy_r"),
      avg(when(col("net_pnl") > 0, col("r_multiple"))).as("avg_win_r"),
      avg(when(col("net_pnl") < 0, col("r_multiple"))).as("avg_loss_r"),
      avg(when(col("net_pnl") > 0, col("mae"))).as("avg_mae_winners"),
      avg(when(col("net_pnl") < 0, col("mae"))).as("avg_mae_losers"),
      avg(when(col("net_pnl") > 0, col("mfe"))).as("avg_mfe_winners"),
      sum(col("gross_profit")).as("sum_gross"),
      sum(col("net_pnl")).as("sum_net"),
      sum(col("fees")).as("sum_fees"))

  /** A9: portfolio roll-up per currency — ratios recomputed FROM SUMS:
    * win_rate = wins/total, profit_factor = sum(profits)/|sum(losses)|.
    * Worst drawdown attributed via max_by on magnitude. Ledger columns:
    * (currency, scenario_name, net_pnl, max_drawdown). */
  def portfolioRollup(trades: DataFrame): DataFrame =
    trades.groupBy(col("currency")).agg(
      count(lit(1)).as("n_trades"),
      sum(when(col("net_pnl") > 0, 1L).otherwise(0L)).as("n_wins"),
      sum(when(col("net_pnl") < 0, 1L).otherwise(0L)).as("n_losses"),
      sum(when(col("net_pnl") > 0, col("net_pnl")).otherwise(0.0)).as("sum_profit"),
      sum(when(col("net_pnl") < 0, col("net_pnl")).otherwise(0.0)).as("sum_loss"),
      max_by(col("scenario_name"), abs(col("max_drawdown"))).as("worst_dd_scenario"),
      max(abs(col("max_drawdown"))).as("worst_dd"))
      .withColumn("win_rate",
        col("n_wins").cast("double") / col("n_trades"))
      .withColumn("profit_factor",
        when(abs(col("sum_loss")) > 0, col("sum_profit") / abs(col("sum_loss"))))

  /** A10 fragment: weighted-average latency = sum(avg·n)/sum(n) — never
    * the average of averages. Input columns: (unit, avg_latency_ms,
    * n_orders). */
  def weightedLatency(units: DataFrame, keys: Seq[String]): DataFrame =
    units.groupBy(keys.map(col): _*).agg(
      (sum(col("avg_latency_ms") * col("n_orders")) / sum(col("n_orders")))
        .as("weighted_avg_latency_ms"),
      min(col("avg_latency_ms")).as("min_latency_ms"),
      max(col("avg_latency_ms")).as("max_latency_ms"),
      sum(col("n_orders")).as("n_orders"))

  /** A10: rich portfolio aggregate — one row per currency composing the
    * per-unit portfolio rows with execution and pending-order stats
    * (`report_aggregators.py:157-249` aggregate_full_portfolio). All
    * ratios recomputed from sums; drawdown/equity attribution via
    * max_by; weighted-avg latency = sum(avg·n)/sum(n), never the mean
    * of means.
    *
    * `units`: (currency, name, n_trades, n_wins, n_losses, sum_profit,
    *   sum_loss, n_long, n_short, initial_balance, current_balance,
    *   total_spread_cost, total_commission, total_swap, max_drawdown,
    *   max_equity).
    * `execStats`: (name, orders_sent, orders_executed, orders_rejected,
    *   sl_tp_triggered). `pending`: (name, total_resolved, total_filled,
    *   avg_latency_ms, latency_count, min_latency_ms, max_latency_ms).
    * Both joined by unit name (left — units without stats contribute 0).
    */
  def richPortfolioAggregate(units: DataFrame, execStats: DataFrame,
                             pending: DataFrame): DataFrame = {
    val joined = units
      .join(broadcast(execStats), Seq("name"), "left")
      .join(broadcast(pending), Seq("name"), "left")
    joined.groupBy(col("currency")).agg(
      count(lit(1)).as("n_units"),
      sum(col("n_trades")).as("total_trades"),
      sum(col("n_long")).as("total_long_trades"),
      sum(col("n_short")).as("total_short_trades"),
      (sum(col("sum_profit")) /
        sum(col("n_wins")).cast("double")).as("avg_win"),
      (abs(sum(col("sum_loss"))) /
        sum(col("n_losses")).cast("double")).as("avg_loss"),
      sum(col("initial_balance")).as("initial_balance"),
      sum(col("current_balance")).as("final_balance"),
      (sum(col("initial_balance")) / count(lit(1))).as("avg_initial"),
      (sum(col("current_balance")) - sum(col("initial_balance")))
        .as("balance_pnl"),
      max_by(col("name"), abs(col("max_drawdown"))).as("max_drawdown_scenario"),
      max(abs(col("max_drawdown"))).as("max_dd_abs"),
      max_by(col("name"), col("max_equity")).as("max_equity_scenario"),
      max(col("max_equity")).as("max_equity"),
      sum(col("total_spread_cost")).as("total_spread_cost"),
      sum(col("total_commission")).as("total_commission"),
      sum(col("total_swap")).as("total_swap"),
      (sum(col("total_spread_cost")) /
        sum(col("n_trades")).cast("double")).as("avg_spread"),
      sum(coalesce(col("orders_sent"), lit(0L))).as("orders_sent"),
      sum(coalesce(col("orders_executed"), lit(0L))).as("orders_executed"),
      sum(coalesce(col("orders_rejected"), lit(0L))).as("orders_rejected"),
      sum(coalesce(col("sl_tp_triggered"), lit(0L))).as("sl_tp_triggered"),
      sum(coalesce(col("total_resolved"), lit(0L))).as("pending_total_resolved"),
      sum(coalesce(col("total_filled"), lit(0L))).as("pending_total_filled"),
      (sum(col("avg_latency_ms") * col("latency_count")) /
        sum(when(col("avg_latency_ms").isNotNull, col("latency_count"))))
        .as("pending_avg_latency_ms"),
      min(col("min_latency_ms")).as("pending_min_latency_ms"),
      max(col("max_latency_ms")).as("pending_max_latency_ms"))
      .withColumn("balance_pnl_pct",
        when(col("initial_balance") > 0,
          col("balance_pnl") / col("initial_balance") * 100))
      .withColumn("recovery_factor",
        when(col("max_dd_abs") =!= 0, col("balance_pnl") / col("max_dd_abs")))
      .withColumn("max_dd_pct",
        when(col("max_equity") > 0, col("max_dd_abs") / col("max_equity") * 100))
  }

  /** A15: per-regime metric breakdown (`robustness_report_builder.py:
    * 163-180`): windows without a regime are excluded; pct_profitable is
    * ×100 as the reference reports it. */
  def regimeBreakdown(windows: DataFrame, keys: Seq[String],
                      metric: String): DataFrame =
    windows.filter(col("regime").isNotNull && col("regime") =!= "")
      .groupBy((keys.map(col) :+ col("regime")): _*)
      .agg(count(lit(1)).as("window_count"),
        avg(col(metric)).as("mean_metric"),
        (sum(when(col(metric) > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)) * 100).as("pct_profitable"))

  /** A18: per-sweep summary for the sweep list view
    * (`optimization_analysis.py:43-79`): distinct run counts, ok/error
    * split, duration from the run-timestamp span, head fields from the
    * first run (min run_id — deterministic where the reference takes
    * arrival order). Rows without a sweep_id are ignored. */
  def sweepSummaries(ledger: DataFrame): DataFrame = {
    // r17: run-grain pre-aggregation instead of two filtered
    // countDistincts + min_bys over the raw ledger. The distinct
    // rewrite EXPANDed every ledger row once per distinct aggregate and
    // the plan fell to a 4-deep SortAggregate chain (sorting the 2×
    // stream three times); aggregating to one row per (sweep, run)
    // first — the grain every output column is defined on — makes all
    // downstream counts plain, every aggregate hash-based, and the
    // exchange carry runs, not ledger rows. Map-side partial
    // aggregation collapses each task's rows before either shuffle, the
    // 100 TB contract for a ledger with many rows per run. Identical
    // output: run_count ≡ count of run rows, error_count ≡ count of
    // runs with ≥1 non-ok row, span mins/maxes compose, and the head
    // fields are min_by over per-run values (the ledger contract —
    // decision_logic_type/objective_name are constant within a run; for
    // ill-formed ledgers the old row-level min_by tie-broke
    // arbitrarily, the per-run min is strictly more deterministic).
    //
    // NULL run_ids (r18, ADVICE): the pre-r17 countDistinct(run_id)
    // (and the oracle's count(DISTINCT run_id)) never counted a NULL
    // run_id as a run, but r17's count(lit(1)) over the run grain
    // counted the NULL group as one and could count its errors. The
    // NULL group STAYS in the inner aggregate — its rows participate
    // in started_ms/duration_s exactly as every row did pre-r17 — and
    // is excluded from run_count (count(run_id) skips NULLs) and
    // error_count; min_by ignores NULL ordering keys on both forms.
    ledger.filter(col("sweep_id").isNotNull && col("sweep_id") =!= "")
      .groupBy(col("sweep_id"), col("run_id")).agg(
        min(col("run_ts_ms")).as("__ts_min"),
        max(col("run_ts_ms")).as("__ts_max"),
        // status != "ok" (not status == "error"): matches sweepRanking's
        // convention and stays correct for ledgers that carry annotated
        // statuses like "error: <msg>" from older writers.
        max(when(col("status") =!= "ok", 1L).otherwise(0L)).as("__has_err"),
        min(col("decision_logic_type")).as("__dlt"),
        min(col("objective_name")).as("__obj"))
      .groupBy(col("sweep_id")).agg(
        min(col("__ts_min")).as("started_ms"),
        ((max(col("__ts_max")) - min(col("__ts_min"))) / 1000.0)
          .as("duration_s"),
        count(col("run_id")).as("run_count"),
        sum(when(col("run_id").isNotNull, col("__has_err"))
          .otherwise(lit(0L))).as("error_count"),
        min_by(col("__dlt"), col("run_id")).as("decision_logic_type"),
        min_by(col("__obj"), col("run_id")).as("objective"))
      .withColumn("ok_count", col("run_count") - col("error_count"))
  }

  /** A13: robustness distribution over a per-window metric column:
    * mean/median/population stddev/% profitable/best/worst/CoV.
    * (`robustness_report_builder.py:109-130`). */
  def robustnessStats(windows: DataFrame, keys: Seq[String],
                      metric: String): DataFrame =
    windows.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_windows"),
      avg(col(metric)).as("mean"),
      expr(s"percentile($metric, 0.5)").as("median"),
      stddev_pop(col(metric)).as("stddev"),
      (sum(when(col(metric) > 0, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("pct_profitable"),
      max(col(metric)).as("best"),
      min(col(metric)).as("worst"))
      .withColumn("cov",
        when(abs(col("mean")) > 0, col("stddev") / abs(col("mean"))))

  /** A14: per-role aggregate + Walk-Forward Efficiency = OOS mean / IS
    * mean, undefined (null) when IS mean ≤ 0
    * (`robustness_report_builder.py:133-160`). Input: (keys…, role,
    * metric); roles are IN_SAMPLE / OUT_OF_SAMPLE, other rows are
    * ignored. One aggregate per key with role-conditional `avg`/`count`
    * (no IS ⋈ OOS join); a key without one of the roles gets null for
    * that role's mean and count, as a full outer join would; null key
    * values form one group. */
  def walkForwardEfficiency(windows: DataFrame, keys: Seq[String],
                            metric: String): DataFrame = {
    val perRole = Seq("IN_SAMPLE" -> ("is_mean", "n_is"),
        "OUT_OF_SAMPLE" -> ("oos_mean", "n_oos")).flatMap { case (role, (mean, n)) =>
      val in = col("role") === role
      Seq(avg(when(in, col(metric))).as(mean),
        nullif(count(when(in, lit(1))), lit(0L)).as(n))
    }
    windows.filter(col("role").isin("IN_SAMPLE", "OUT_OF_SAMPLE"))
      .groupBy(keys.map(col): _*)
      .agg(perRole.head, perRole.tail: _*)
      .withColumn("wfe",
        when(col("is_mean") > 0, col("oos_mean") / col("is_mean")))
  }

  /** A16: sweep ranking — objective desc, stable tie-break run_id asc
    * (`optimization_analysis.py:82-107`); only status == 'ok' rows rank
    * (P8). Input: (sweep_id, run_id, status, objective…). */
  def sweepRanking(ledger: DataFrame, objective: String): DataFrame = {
    val w = Window.partitionBy(col("sweep_id"))
      .orderBy(col(objective).desc, col("run_id").asc)
    ledger.filter(col("status") === "ok")
      .withColumn("rank", row_number().over(w))
  }

  /** A17: OFAT (one-factor-at-a-time) sensitivity — per swept parameter:
    * mean objective per level, influence = max−min of the level means
    * (`optimization_analysis.py:110-146`). `params` is a
    * MapType(String,String) column of the run's swept values. */
  def ofatSensitivity(ledger: DataFrame, params: String,
                      objective: String): DataFrame = {
    val exploded = ledger.filter(col("status") === "ok")
      .select(col(objective), explode(col(params)).as(Seq("param", "level")))
    val perLevel = exploded.groupBy(col("param"), col("level"))
      .agg(avg(col(objective)).as("mean_objective"),
        count(lit(1)).as("n_runs"))
    perLevel.groupBy(col("param"))
      .agg((max(col("mean_objective")) - min(col("mean_objective")))
        .as("influence"),
        countDistinct(col("level")).as("n_levels"))
  }
}
