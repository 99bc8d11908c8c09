package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.bars.Ohlcv
import graft.functions.TradingMath
import graft.indicators.Indicators
import graft.ops.{AsOfJoin, RangeJoin, SequentialOps}
import graft.report.Reports
import graft.serve.Serve
import graft.signal.Signals
import graft.stress.StaleData
import graft.windows.{ScenarioWindows, Splitters}

/** Round-3 coverage pack: oracle entries for the operator families that
  * previously had only ScalaTest specs — indicators (W8/W10, Wilder W1/W6),
  * the full signal chain (S6/S7→J2→J6→J1→ST7), report aggregates
  * (A7/A9/A11/A12/A13/A14), scenario windowing + splitters, sampled stats
  * (A6), semver (F7), and √time volatility scaling (F12).
  *
  * Ledger-shaped inputs are derived DETERMINISTICALLY from the TPC-H-ish
  * testdata (lineitem/orders/events) so both engines compute identical
  * values; the aggregation shapes are the reference's.
  */
object OperatorQueries extends QueryPack {

  private val BaseCte =
    """base AS (SELECT event_id, user_id, event_type, value, ts,
      |  epoch_ns(ts) AS ts_ns, epoch_ms(ts) AS ts_ms FROM events)""".stripMargin

  /** 2024-01-08 / 2024-01-25 / 2024-01-16 00:00:00 UTC (epoch ms) —
    * inside the testdata's January 2024 span at every SF. */
  private val TrimStartMs = 1704672000000L
  private val TrimEndMs = 1706140800000L
  private val RoleCutoffMs = 1705363200000L

  override def queries: Seq[(String, QueryDef)] = Seq(

    // W8: MACD — fast/slow EMA of close, signal EMA of the line, histogram.
    // Three recursive EMAs through the SequentialOps kernel; the oracle
    // carries all three states through ONE recursive CTE.
    "q46_macd" -> QueryDef(
      (s, dir) => {
        Indicators.macd(Tables.events(s, dir), Seq("user_id"), Seq("ts_ns"),
            close = "value", fast = 12, slow = 26, signal = 9)
          .select(col("user_id"), col("event_id"),
            round(col("macd_line"), 6).as("macd_line"),
            round(col("macd_signal"), 6).as("macd_signal"),
            round(col("macd_line") - col("macd_signal"), 6).as("macd_hist"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH RECURSIVE ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn
          FROM events),
        m AS (
          SELECT user_id, event_id, rn, value,
            value AS f, value AS sl, 0.0::DOUBLE AS line, 0.0::DOUBLE AS sig
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.event_id, o.rn, o.value,
            (2.0/13.0)*o.value + (1.0 - 2.0/13.0)*m.f,
            (2.0/27.0)*o.value + (1.0 - 2.0/27.0)*m.sl,
            ((2.0/13.0)*o.value + (1.0 - 2.0/13.0)*m.f)
              - ((2.0/27.0)*o.value + (1.0 - 2.0/27.0)*m.sl),
            (2.0/10.0)*(((2.0/13.0)*o.value + (1.0 - 2.0/13.0)*m.f)
              - ((2.0/27.0)*o.value + (1.0 - 2.0/27.0)*m.sl))
              + (1.0 - 2.0/10.0)*m.sig
          FROM ordered o JOIN m ON o.user_id = m.user_id AND o.rn = m.rn + 1)
        SELECT user_id, event_id, round(line, 6) AS macd_line,
          round(sig, 6) AS macd_signal, round(line - sig, 6) AS macd_hist
        FROM m ORDER BY user_id, event_id"""),
      "MACD fast/slow/signal EMAs + histogram (SURVEY W8)"),

    // W10: moving-average trend slope normalized by window stddev.
    "q47_ma_trend" -> QueryDef(
      (s, dir) => {
        Indicators.maTrend(Tables.events(s, dir), Seq("user_id"), Seq("ts_ns"),
            close = "value", period = 10)
          .select(col("user_id"), col("event_id"),
            round(col("ma_avg"), 6).as("ma_avg"),
            round(col("ma_slope"), 6).as("ma_slope"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""WITH $BaseCte,
        f AS (SELECT *, avg(value) OVER fr AS ma, stddev_samp(value) OVER fr AS sd
              FROM base
              WINDOW fr AS (PARTITION BY user_id ORDER BY ts_ns
                            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
        l AS (SELECT *, lag(ma) OVER (PARTITION BY user_id ORDER BY ts_ns) AS pma FROM f)
        SELECT user_id, event_id, round(ma, 6) AS ma_avg,
          round(CASE WHEN sd > 0 THEN (ma - pma) / sd END, 6) AS ma_slope
        FROM l ORDER BY user_id, event_id"""),
      "MA trend slope normalized by rolling stddev (SURVEY W10)"),

    // W1/W6 classic variants: Wilder smoothing — alpha = 1/period, seeded
    // with the SMA of the first `period` values (rsi_worker/ATR classic).
    "q61_wilder_atr" -> QueryDef(
      (s, dir) => {
        SequentialOps.wilder(Tables.events(s, dir), Seq("user_id"), Seq("ts_ns"),
            "value", period = 14, "watr")
          .filter(col("watr").isNotNull)
          .select(col("user_id"), col("event_id"), round(col("watr"), 6).as("watr"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH RECURSIVE ordered AS (
          SELECT user_id, event_id, value,
            row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS rn,
            avg(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sma14
          FROM events),
        w AS (
          SELECT user_id, event_id, rn, value, sma14 AS sm FROM ordered WHERE rn = 14
          UNION ALL
          SELECT o.user_id, o.event_id, o.rn, o.value,
            (w.sm * 13.0 + o.value) / 14.0
          FROM ordered o JOIN w ON o.user_id = w.user_id AND o.rn = w.rn + 1)
        SELECT user_id, event_id, round(sm, 6) AS watr
        FROM w ORDER BY user_id, event_id"""),
      "Wilder smoothing: SMA-seeded, alpha=1/period (SURVEY W1/W6 classic)"),

    // S6/S7 + J2 + J6 + J1 + ST7: the signal chain end-to-end. Signals are
    // reshaped from events (views of user 7 = symbol rows; signups of any
    // user = envelope sentinels), then: point-in-time trim keeping one
    // pre-start snapshot per symbol (J2) → last-wins symbol-vs-sentinel
    // dedup per instant (J6) → backward as-of attach to user 7's purchase
    // ticks, carrying the whole matched row (J1) → staleness flag
    // (ST7). A sentinel instant resolves to NULL payload — "a collection
    // happened but said nothing about this symbol" is not stale data.
    "q48_signal_chain" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val ticks = ev.filter(col("event_type") === "purchase" && col("user_id") === 7
            && col("ts_ms").between(TrimStartMs, TrimEndMs))
          .select(col("event_id"), col("ts_ms"))
          .withColumn("symbol", lit("U7"))
        val sigSym = ev.filter(col("event_type") === "view" && col("user_id") === 7)
          .select(col("ts_ms").as("collected_msc"), lit("U7").as("symbol"),
            col("event_id"), col("value").as("sentiment_score"))
        val sentinels = ev.filter(col("event_type") === "signup")
          .select(col("ts_ms").as("collected_msc"),
            lit(Signals.EnvelopeSymbol).as("symbol"), col("event_id"),
            lit(null).cast("double").as("sentiment_score"))
        // dedup per (symbol, instant) by event_id desc — deterministic in
        // both engines if two source rows land on the same millisecond
        val uni = sigSym.unionByName(sentinels)
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("symbol"), col("collected_msc"))
              .orderBy(col("event_id").desc)))
          .filter(col("__rn") === 1).drop("__rn")
        val trimmed = Signals.pointInTimeTrim(uni, TrimStartMs, TrimEndMs)
        // A sentinel's NULL sentiment survives the as-of: it carries the
        // whole matched row. `resolved` is unique per (symbol,
        // collected_msc) (resolveForSymbol's rn3 = 1), so the payload
        // tie-break never fires.
        val resolved = Signals.resolveForSymbol(trimmed, "U7")
          .withColumn("symbol", lit("U7")) // sentinel rows join the same key
          .withColumn("sig_msc", col("collected_msc"))
        AsOfJoin.backward(ticks, resolved, Seq("symbol"),
          "ts_ms", "collected_msc", Seq("sig_msc", "sentiment_score"))
          .withColumn("is_stale",
            col("sig_msc").isNull || (col("ts_ms") - col("sig_msc")) > 21600000L)
          .select(col("event_id"), col("ts_ms"), col("sig_msc"),
            round(col("sentiment_score"), 2).as("sentiment_score"), col("is_stale"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH $BaseCte,
        ticks AS (SELECT event_id, ts_ms, ts FROM base
          WHERE event_type = 'purchase' AND user_id = 7
            AND ts_ms BETWEEN $TrimStartMs AND $TrimEndMs),
        sigsym AS (SELECT ts_ms AS collected_msc, 'U7' AS symbol, event_id,
            value AS sentiment_score
          FROM base WHERE event_type = 'view' AND user_id = 7),
        sent AS (SELECT ts_ms AS collected_msc, '__envelope__' AS symbol, event_id,
            NULL::DOUBLE AS sentiment_score
          FROM base WHERE event_type = 'signup'),
        uni AS (
          SELECT * FROM (SELECT *, row_number() OVER (
              PARTITION BY symbol, collected_msc ORDER BY event_id DESC) AS rn
            FROM (SELECT * FROM sigsym UNION ALL SELECT * FROM sent)) t
          WHERE rn = 1),
        trimmed AS (
          SELECT collected_msc, symbol, event_id, sentiment_score FROM uni
          WHERE collected_msc BETWEEN $TrimStartMs AND $TrimEndMs
          UNION ALL
          SELECT collected_msc, symbol, event_id, sentiment_score FROM (
            SELECT *, row_number() OVER (PARTITION BY symbol
                ORDER BY collected_msc DESC) AS rn2
            FROM uni WHERE collected_msc < $TrimStartMs) p WHERE rn2 = 1),
        resolved AS (
          SELECT collected_msc, event_id AS sig_uid, sentiment_score FROM (
            SELECT *, row_number() OVER (PARTITION BY collected_msc
                ORDER BY CASE WHEN symbol = 'U7' THEN 0 ELSE 1 END) AS rn3
            FROM trimmed) t WHERE rn3 = 1)
        SELECT t.event_id, t.ts_ms, s.collected_msc AS sig_msc,
          round(s.sentiment_score, 2) AS sentiment_score,
          (s.collected_msc IS NULL OR t.ts_ms - s.collected_msc > 21600000)
            AS is_stale
        FROM ticks t ASOF LEFT JOIN resolved s ON t.ts_ms >= s.collected_msc
        ORDER BY t.event_id"""),
      "Signal chain: trim + last-wins + as-of + staleness (S6/S7,J2,J6,J1,ST7)"),

    // A7: per-currency trade analytics over a deterministic ledger derived
    // from lineitem (expectancy = mean R, win/loss splits, excursion means).
    "q49_trade_analytics" -> QueryDef(
      (s, dir) => {
        val trades = Tables.lineitem(s, dir).select(
          col("l_returnflag").as("currency"),
          (col("l_extendedprice") * (col("l_discount") - 0.05)).as("net_pnl"),
          (col("l_extendedprice") * (col("l_discount") - 0.05) /
            (col("l_quantity") + 1.0)).as("r_multiple"),
          (-(col("l_tax") * col("l_extendedprice"))).as("mae"),
          col("l_quantity").cast("double").as("mfe"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("gross_profit"),
          (col("l_extendedprice") * 0.01).as("fees"))
        Reports.tradeAnalytics(trades)
          .select(col("currency"), col("n_trades"),
            round(col("expectancy_r"), 6).as("expectancy_r"),
            round(col("avg_win_r"), 6).as("avg_win_r"),
            round(col("avg_loss_r"), 6).as("avg_loss_r"),
            round(col("avg_mae_winners"), 4).as("avg_mae_winners"),
            round(col("avg_mae_losers"), 4).as("avg_mae_losers"),
            round(col("avg_mfe_winners"), 4).as("avg_mfe_winners"),
            round(col("sum_gross"), 2).as("sum_gross"),
            round(col("sum_net"), 2).as("sum_net"),
            round(col("sum_fees"), 2).as("sum_fees"))
          .orderBy(col("currency"))
      },
      Some("""WITH trades AS (SELECT l_returnflag AS currency,
          l_extendedprice * (l_discount - 0.05) AS net_pnl,
          l_extendedprice * (l_discount - 0.05) / (l_quantity + 1.0) AS r_multiple,
          -(l_tax * l_extendedprice) AS mae,
          l_quantity::DOUBLE AS mfe,
          l_extendedprice * (1 - l_discount) AS gross_profit,
          l_extendedprice * 0.01 AS fees
        FROM lineitem)
        SELECT currency, count(*) AS n_trades,
          round(avg(r_multiple), 6) AS expectancy_r,
          round(avg(CASE WHEN net_pnl > 0 THEN r_multiple END), 6) AS avg_win_r,
          round(avg(CASE WHEN net_pnl < 0 THEN r_multiple END), 6) AS avg_loss_r,
          round(avg(CASE WHEN net_pnl > 0 THEN mae END), 4) AS avg_mae_winners,
          round(avg(CASE WHEN net_pnl < 0 THEN mae END), 4) AS avg_mae_losers,
          round(avg(CASE WHEN net_pnl > 0 THEN mfe END), 4) AS avg_mfe_winners,
          round(sum(gross_profit), 2) AS sum_gross,
          round(sum(net_pnl), 2) AS sum_net,
          round(sum(fees), 2) AS sum_fees
        FROM trades GROUP BY currency ORDER BY currency"""),
      "Per-currency trade analytics: expectancy + win/loss splits (SURVEY A7)"),

    // A9: portfolio roll-up — ratios recomputed FROM SUMS, worst-drawdown
    // attribution via max_by over a constructed-unique magnitude.
    "q50_portfolio_rollup" -> QueryDef(
      (s, dir) => {
        val ledger = Tables.orders(s, dir).select(
          col("o_orderstatus").as("currency"),
          concat(lit("sc_"), (col("o_custkey") % 25).cast("string")).as("scenario_name"),
          (col("o_totalprice") * ((col("o_orderkey") % 7) - 3) / 10.0).as("net_pnl"),
          (-(col("o_totalprice") + col("o_orderkey") * 1e-9)).as("max_drawdown"))
        Reports.portfolioRollup(ledger)
          .select(col("currency"), col("n_trades"), col("n_wins"), col("n_losses"),
            round(col("sum_profit"), 2).as("sum_profit"),
            round(col("sum_loss"), 2).as("sum_loss"),
            col("worst_dd_scenario"),
            round(col("worst_dd"), 4).as("worst_dd"),
            round(col("win_rate"), 6).as("win_rate"),
            round(col("profit_factor"), 6).as("profit_factor"))
          .orderBy(col("currency"))
      },
      Some("""WITH ledger AS (SELECT o_orderstatus AS currency,
          'sc_' || (o_custkey % 25)::VARCHAR AS scenario_name,
          o_totalprice * ((o_orderkey % 7) - 3) / 10.0 AS net_pnl,
          -(o_totalprice + o_orderkey * 1e-9) AS max_drawdown
        FROM orders)
        SELECT currency, count(*) AS n_trades,
          sum(CASE WHEN net_pnl > 0 THEN 1 ELSE 0 END)::BIGINT AS n_wins,
          sum(CASE WHEN net_pnl < 0 THEN 1 ELSE 0 END)::BIGINT AS n_losses,
          round(sum(CASE WHEN net_pnl > 0 THEN net_pnl ELSE 0 END), 2) AS sum_profit,
          round(sum(CASE WHEN net_pnl < 0 THEN net_pnl ELSE 0 END), 2) AS sum_loss,
          arg_max(scenario_name, abs(max_drawdown)) AS worst_dd_scenario,
          round(max(abs(max_drawdown)), 4) AS worst_dd,
          round(sum(CASE WHEN net_pnl > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            AS win_rate,
          round(CASE WHEN abs(sum(CASE WHEN net_pnl < 0 THEN net_pnl ELSE 0 END)) > 0
            THEN sum(CASE WHEN net_pnl > 0 THEN net_pnl ELSE 0 END)
              / abs(sum(CASE WHEN net_pnl < 0 THEN net_pnl ELSE 0 END)) END, 6)
            AS profit_factor
        FROM ledger GROUP BY currency ORDER BY currency"""),
      "Portfolio roll-up: ratios from sums + dd attribution (SURVEY A9)"),

    // A13: robustness distribution over per-(user, day) windows.
    "q51_robustness" -> QueryDef(
      (s, dir) => {
        val windows = Tables.events(s, dir)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("day", col("ts_utc"))).as("day_ms"))
          .agg((sum(col("value")) - 100.0).as("metric"))
        Reports.robustnessStats(windows, Seq("user_id"), "metric")
          .select(col("user_id"), col("n_windows"),
            round(col("mean"), 6).as("mean"),
            round(col("median"), 6).as("median"),
            round(col("stddev"), 6).as("stddev"),
            round(col("pct_profitable"), 6).as("pct_profitable"),
            round(col("best"), 4).as("best"),
            round(col("worst"), 4).as("worst"),
            round(col("cov"), 6).as("cov"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $BaseCte,
        w AS (SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
            sum(value) - 100.0 AS metric
          FROM base GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_windows,
          round(avg(metric), 6) AS mean,
          round(quantile_cont(metric, 0.5), 6) AS median,
          round(stddev_pop(metric), 6) AS stddev,
          round(sum(CASE WHEN metric > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
            AS pct_profitable,
          round(max(metric), 4) AS best, round(min(metric), 4) AS worst,
          round(CASE WHEN abs(avg(metric)) > 0
            THEN stddev_pop(metric) / abs(avg(metric)) END, 6) AS cov
        FROM w GROUP BY user_id ORDER BY user_id"""),
      "Robustness distribution: mean/median/stddev/CoV (SURVEY A13)"),

    // A14: IS/OOS role aggregate + Walk-Forward Efficiency (OOS/IS mean,
    // undefined when IS mean <= 0).
    "q52_wfe" -> QueryDef(
      (s, dir) => {
        val windows = Tables.events(s, dir)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("day", col("ts_utc"))).as("day_ms"))
          .agg((sum(col("value")) - 100.0).as("metric"))
          .withColumn("role",
            when(col("day_ms") < RoleCutoffMs, "IN_SAMPLE")
              .otherwise("OUT_OF_SAMPLE"))
        Reports.walkForwardEfficiency(windows, Seq("user_id"), "metric")
          .select(col("user_id"),
            round(col("is_mean"), 6).as("is_mean"), col("n_is"),
            round(col("oos_mean"), 6).as("oos_mean"), col("n_oos"),
            round(col("wfe"), 6).as("wfe"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $BaseCte,
        w AS (SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
            sum(value) - 100.0 AS metric
          FROM base GROUP BY 1, 2),
        r AS (SELECT *, CASE WHEN day_ms < $RoleCutoffMs THEN 'IN_SAMPLE'
                             ELSE 'OUT_OF_SAMPLE' END AS role FROM w),
        i AS (SELECT user_id, avg(metric) AS is_mean, count(*) AS n_is
              FROM r WHERE role = 'IN_SAMPLE' GROUP BY user_id),
        o AS (SELECT user_id, avg(metric) AS oos_mean, count(*) AS n_oos
              FROM r WHERE role = 'OUT_OF_SAMPLE' GROUP BY user_id)
        SELECT coalesce(i.user_id, o.user_id) AS user_id,
          round(is_mean, 6) AS is_mean, n_is,
          round(oos_mean, 6) AS oos_mean, n_oos,
          round(CASE WHEN is_mean > 0 THEN oos_mean / is_mean END, 6) AS wfe
        FROM i FULL OUTER JOIN o ON i.user_id = o.user_id
        ORDER BY user_id"""),
      "IS/OOS aggregate + walk-forward efficiency (SURVEY A14)"),

    // Regions → blocks → time-ordered IS/OOS roles (the scenario window
    // generator chain: continuous_region_extractor + blocks_split +
    // role_assignment).
    "q53_scenario_windows" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("user_id") <= 20)
        val regions = ScenarioWindows.continuousRegions(ev, Seq("user_id"),
          "ts_ms", splitGapMs = 21600000L)
        val blocks = ScenarioWindows.blocks(regions, Seq("user_id"),
          blockMs = 259200000L, minBlockMs = 86400000L)
        ScenarioWindows.assignRolesTimeOrdered(blocks, Seq("user_id"),
            "block_start_ms", oosSplit = 0.3)
          .select(col("user_id"), col("region_idx"), col("block_no"),
            col("block_start_ms"), col("block_end_ms"), col("role"))
          .orderBy(col("user_id"), col("block_start_ms"))
      },
      Some(s"""WITH $BaseCte,
        e AS (SELECT user_id, ts_ms FROM base WHERE user_id <= 20),
        d AS (SELECT user_id, ts_ms,
            CASE WHEN ts_ms - lag(ts_ms) OVER w IS NULL
                   OR ts_ms - lag(ts_ms) OVER w <= 21600000 THEN 0 ELSE 1 END AS split
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
        reg AS (SELECT user_id, ts_ms,
            (sum(split) OVER (PARTITION BY user_id ORDER BY ts_ms
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS region_idx
          FROM d),
        regions AS (SELECT user_id, region_idx, min(ts_ms) AS rs, max(ts_ms) AS re
          FROM reg GROUP BY 1, 2),
        blk AS (SELECT user_id, region_idx, rs, re, unnest(range(0,
            greatest((re - rs) // 259200000, 0) + 1)) AS block_no
          FROM regions),
        blocks AS (SELECT user_id, region_idx, block_no,
            rs + block_no * 259200000 AS block_start_ms,
            least(rs + (block_no + 1) * 259200000, re) AS block_end_ms
          FROM blk),
        kept AS (SELECT * FROM blocks
          WHERE block_end_ms - block_start_ms >= 86400000),
        n AS (SELECT *, count(*) OVER (PARTITION BY user_id) AS nb,
            row_number() OVER (PARTITION BY user_id ORDER BY block_start_ms) AS idx
          FROM kept),
        r AS (SELECT *,
            greatest(1, least(
              CASE WHEN nb * 0.3 - floor(nb * 0.3) = 0.5
                THEN CASE WHEN floor(nb * 0.3)::BIGINT % 2 = 0
                          THEN floor(nb * 0.3) ELSE ceil(nb * 0.3) END
                ELSE round(nb * 0.3) END::BIGINT, nb - 1)) AS n_oos
          FROM n)
        SELECT user_id, region_idx, block_no, block_start_ms, block_end_ms,
          CASE WHEN nb = 1 THEN 'IN_SAMPLE'
               WHEN idx > nb - n_oos THEN 'OUT_OF_SAMPLE'
               ELSE 'IN_SAMPLE' END AS role
        FROM r ORDER BY user_id, block_start_ms"""),
      "Scenario windows: regions -> blocks -> IS/OOS roles (SURVEY §7.6)"),

    // Walk-forward splitter: rolling train/test folds per key.
    "q54_walkforward" -> QueryDef(
      (s, dir) => {
        Splitters.walkForward(
            Tables.events(s, dir).filter(col("user_id") <= 20),
            Seq("user_id"), "ts_ms",
            trainMs = 604800000L, testMs = 259200000L, stepMs = 432000000L)
          .orderBy(col("user_id"), col("fold"), col("role"))
      },
      Some(s"""WITH $BaseCte,
        span AS (SELECT user_id, min(ts_ms) AS t0, max(ts_ms) AS t1
          FROM base WHERE user_id <= 20 GROUP BY user_id),
        nf AS (SELECT *, greatest(
            floor((t1 - t0 - ${604800000L + 259200000L}) / 432000000.0)::BIGINT + 1,
            0) AS n
          FROM span),
        folds AS (SELECT user_id, t0, unnest(range(0, n)) AS fold
          FROM nf WHERE n >= 1),
        f AS (SELECT user_id, fold, t0 + fold * 432000000 AS fs FROM folds)
        SELECT user_id, fold, 'IN_SAMPLE' AS role, fs AS start_ms,
          fs + 604800000 AS end_ms FROM f
        UNION ALL
        SELECT user_id, fold, 'OUT_OF_SAMPLE', fs + 604800000,
          fs + ${604800000L + 259200000L} FROM f
        ORDER BY user_id, fold, role"""),
      "Walk-forward splitter: rolling IS/OOS folds (splitters family)"),

    // Volatility splitter: contiguous runs of high-volatility periods.
    "q55_volatility_split" -> QueryDef(
      (s, dir) => {
        Splitters.volatilityWindows(
            Tables.events(s, dir).withColumn("sym", lit("ALL")),
            Seq("sym"), "ts_ms", "value", periodMs = 3600000L)
          .select(col("sym"), col("window_start_ms"), col("window_end_ms"),
            col("n_periods"))
          .orderBy(col("window_start_ms"))
      },
      Some(s"""WITH $BaseCte,
        p AS (SELECT ts_ms - ts_ms % 3600000 AS bucket_ms,
            max(value) - min(value) AS r
          FROM base GROUP BY 1),
        g AS (SELECT *, r / avg(r) OVER () AS ratio FROM p),
        c AS (SELECT bucket_ms,
            CASE WHEN ratio < 0.3 THEN 'very_low' WHEN ratio < 0.8 THEN 'low'
                 WHEN ratio < 1.2 THEN 'medium' WHEN ratio < 2.0 THEN 'high'
                 ELSE 'very_high' END AS regime
          FROM g),
        kept AS (SELECT bucket_ms,
            bucket_ms // 3600000 - row_number() OVER (ORDER BY bucket_ms) AS island
          FROM c WHERE regime IN ('high', 'very_high'))
        SELECT 'ALL' AS sym, min(bucket_ms) AS window_start_ms,
          max(bucket_ms) + 3600000 AS window_end_ms, count(*) AS n_periods
        FROM kept GROUP BY island ORDER BY window_start_ms"""),
      "Volatility splitter: contiguous high-regime windows (splitters family)"),

    // A11: worker timing totals — per-unit explode, per-worker roll-up
    // with avg = total/count (never mean-of-means), ordered by total desc.
    "q56_worker_timing" -> QueryDef(
      (s, dir) => {
        val perUnit = Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type").as("worker_name"))
          .agg(count(lit(1)).as("calls"), sum(col("value")).as("unit_ms"))
        perUnit.groupBy(col("worker_name"))
          .agg(sum(col("calls")).as("call_count"),
            round(sum(col("unit_ms")), 2).as("total_ms"),
            round(sum(col("unit_ms")) / sum(col("calls")), 6).as("avg_ms"),
            round(min(col("unit_ms")), 4).as("min_unit_ms"),
            round(max(col("unit_ms")), 4).as("max_unit_ms"))
          .orderBy(col("total_ms").desc, col("worker_name"))
      },
      Some(s"""WITH $BaseCte,
        pu AS (SELECT user_id, event_type AS worker_name, count(*) AS calls,
            sum(value) AS unit_ms
          FROM base GROUP BY 1, 2)
        SELECT worker_name, sum(calls)::BIGINT AS call_count,
          round(sum(unit_ms), 2) AS total_ms,
          round(sum(unit_ms) / sum(calls), 6) AS avg_ms,
          round(min(unit_ms), 4) AS min_unit_ms,
          round(max(unit_ms), 4) AS max_unit_ms
        FROM pu GROUP BY worker_name
        ORDER BY total_ms DESC, worker_name"""),
      "Worker timing totals: explode + roll-up, avg from sums (SURVEY A11)"),

    // A12: profiling aggregate — cross-scenario mean of per-scenario
    // averages, P95-of-averages ×1.1 budget recommendation, bottleneck op.
    "q57_profiling" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val perScenario = ev.groupBy(col("user_id"))
          .agg(avg(col("value")).as("avg_ms"))
        val stats = perScenario.agg(
          count(lit(1)).as("n_scenarios"),
          round(avg(col("avg_ms")), 6).as("mean_avg_ms"),
          round(expr("percentile(avg_ms, 0.95)") * 1.1, 6).as("p95_budget_ms"))
        val bottleneck = ev.groupBy(col("event_type"))
          .agg(sum(col("value")).as("op_total"))
          .orderBy(col("op_total").desc, col("event_type"))
          .limit(1)
          .select(col("event_type").as("bottleneck_op"))
        stats.crossJoin(bottleneck)
      },
      Some(s"""WITH $BaseCte,
        ps AS (SELECT user_id, avg(value) AS avg_ms FROM base GROUP BY user_id),
        st AS (SELECT count(*) AS n_scenarios,
            round(avg(avg_ms), 6) AS mean_avg_ms,
            round(quantile_cont(avg_ms, 0.95) * 1.1, 6) AS p95_budget_ms
          FROM ps),
        b AS (SELECT event_type AS bottleneck_op FROM base
          GROUP BY event_type ORDER BY sum(value) DESC, event_type LIMIT 1)
        SELECT n_scenarios, mean_avg_ms, p95_budget_ms, bottleneck_op
        FROM st CROSS JOIN b"""),
      "Profiling aggregate: P95-of-averages budget + bottleneck (SURVEY A12)"),

    // A6: sampled per-file stats with a DETERMINISTIC hash sample (md5 of
    // the row id — identical selection in both engines; the reference's
    // 10% random sample made reproducible).
    "q58_sampled_stats" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir)
          .filter(conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 10 === 0)
          .groupBy(col("user_id"))
          // exact integer sum (value pre-rounded to 1e-4 grid) so the mean is
          // bit-identical across engines regardless of double-summation order
          .agg(count(lit(1)).as("n_sampled"),
            round(sum(round(col("value") * 10000).cast("long"))
              / (count(lit(1)) * 10000.0), 4).as("avg_value_sampled"),
            countDistinct(col("event_type")).as("n_types_sampled"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH $BaseCte,
        s AS (SELECT * FROM base
          WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 10 = 0)
        SELECT user_id, count(*) AS n_sampled,
          round(sum(round(value * 10000)::BIGINT)
            / (count(*) * 10000.0), 4) AS avg_value_sampled,
          count(DISTINCT event_type) AS n_types_sampled
        FROM s GROUP BY user_id ORDER BY user_id"""),
      "Deterministic 10% hash-sampled per-key stats (SURVEY A6)"),

    // F7: semver compare/sort — numeric component order, not lexicographic.
    "q59_semver" -> QueryDef(
      (s, dir) => {
        val parts = Tables.part(s, dir)
          .withColumn("version", concat_ws(".",
            (col("p_partkey") % 3) + 1, col("p_partkey") % 12, col("p_partkey") % 7))
        val split0 = split(col("version"), "\\.")
        val w = Window.partitionBy(col("p_brand")).orderBy(
          split0.getItem(0).cast("int").desc,
          split0.getItem(1).cast("int").desc,
          split0.getItem(2).cast("int").desc)
        parts
          .withColumn("__rn", row_number().over(w))
          .groupBy(col("p_brand"))
          .agg(max(when(col("__rn") === 1, col("version"))).as("max_version"),
            countDistinct(col("version")).as("n_versions"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH v AS (SELECT p_brand,
          ((p_partkey % 3) + 1)::VARCHAR || '.' || (p_partkey % 12)::VARCHAR
            || '.' || (p_partkey % 7)::VARCHAR AS version
        FROM part),
        r AS (SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY
            string_split(version, '.')[1]::INT DESC,
            string_split(version, '.')[2]::INT DESC,
            string_split(version, '.')[3]::INT DESC) AS rn
          FROM v)
        SELECT p_brand, max(CASE WHEN rn = 1 THEN version END) AS max_version,
          count(DISTINCT version) AS n_versions
        FROM r GROUP BY p_brand ORDER BY p_brand"""),
      "Semver numeric compare/sort, max version per group (SURVEY F7)"),

    // F12: sqrt-of-time volatility scaling over hourly ranges.
    "q60_sqrt_time_vol" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(unix_millis(date_trunc("hour", col("ts_utc"))).as("bucket_ms"))
          .agg((max(col("value")) - min(col("value"))).as("range_val"),
            max(col("value")).as("close_val"))
          .select(col("bucket_ms"),
            round(col("range_val") * sqrt(lit(24.0)), 6).as("vol_daily"),
            round(col("range_val") * sqrt(lit(24.0)) / col("close_val") * 100.0, 6)
              .as("vol_pct"))
          .orderBy(col("bucket_ms"))
      },
      Some(s"""WITH $BaseCte,
        h AS (SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
            max(value) - min(value) AS range_val, max(value) AS close_val
          FROM base GROUP BY 1)
        SELECT bucket_ms, round(range_val * sqrt(24.0), 6) AS vol_daily,
          round(range_val * sqrt(24.0) / close_val * 100.0, 6) AS vol_pct
        FROM h ORDER BY bucket_ms"""),
      "Sqrt-of-time volatility scaling: hourly -> daily ATR% (SURVEY F12)"),

    // A10: rich portfolio aggregate — units/exec/pending ledgers derived
    // deterministically from orders; one row per currency with balances,
    // cost split, dd/equity attribution, weighted-avg latency.
    "q62_rich_portfolio" -> QueryDef(
      (s, dir) => {
        val base = Tables.orders(s, dir).select(
          col("o_orderstatus").as("currency"),
          concat(col("o_orderstatus"), lit("_u"),
            (col("o_custkey") % 20).cast("string")).as("name"),
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val units = base.groupBy(col("currency"), col("name")).agg(
          count(lit(1)).as("n_trades"),
          sum(when(col("o_orderkey") % 3 === 0, 1L).otherwise(0L)).as("n_wins"),
          sum(when(col("o_orderkey") % 3 === 1, 1L).otherwise(0L)).as("n_losses"),
          sum(when(col("o_orderkey") % 3 === 0, col("o_totalprice"))
            .otherwise(0.0)).as("sum_profit"),
          (-sum(when(col("o_orderkey") % 3 === 1, col("o_totalprice"))
            .otherwise(0.0))).as("sum_loss"),
          sum(when(col("o_orderkey") % 2 === 0, 1L).otherwise(0L)).as("n_long"),
          sum(when(col("o_orderkey") % 2 === 1, 1L).otherwise(0L)).as("n_short"),
          sum(col("o_totalprice") * ((col("o_orderkey") % 7) - 3) / 100.0)
            .as("__pnl"),
          sum(col("o_totalprice") * 0.0001).as("total_spread_cost"),
          sum(col("o_totalprice") * 0.0002).as("total_commission"),
          sum(col("o_totalprice") * 0.00005).as("total_swap"),
          // min(custkey) term makes dd/equity unique per unit, so the
          // max_by attribution is deterministic in both engines
          (-(max(col("o_totalprice")) + min(col("o_custkey")) / 1e6))
            .as("max_drawdown"),
          (max(col("o_totalprice")) + min(col("o_custkey")) / 5e5)
            .as("max_equity"))
          .withColumn("initial_balance", lit(10000.0))
          .withColumn("current_balance", lit(10000.0) + col("__pnl"))
        val execStats = base.groupBy(col("name")).agg(
          count(lit(1)).as("orders_sent"),
          sum(when(col("o_orderkey") % 5 =!= 0, 1L).otherwise(0L))
            .as("orders_executed"),
          sum(when(col("o_orderkey") % 5 === 0, 1L).otherwise(0L))
            .as("orders_rejected"),
          sum(when(col("o_orderkey") % 11 === 0, 1L).otherwise(0L))
            .as("sl_tp_triggered"))
        // integer latencies → exact sums → engine-identical weighted avg
        val pending = base.groupBy(col("name")).agg(
          count(lit(1)).as("total_resolved"),
          sum(when(col("o_orderkey") % 4 =!= 0, 1L).otherwise(0L))
            .as("total_filled"),
          avg((col("o_orderkey") % 97).cast("double")).as("avg_latency_ms"),
          count(lit(1)).as("latency_count"),
          min((col("o_orderkey") % 97).cast("double")).as("min_latency_ms"),
          max((col("o_orderkey") % 97).cast("double")).as("max_latency_ms"))
        Reports.richPortfolioAggregate(units, execStats, pending)
          .select(col("currency"), col("n_units"), col("total_trades"),
            col("total_long_trades"), col("total_short_trades"),
            round(col("avg_win"), 4).as("avg_win"),
            round(col("avg_loss"), 4).as("avg_loss"),
            round(col("initial_balance"), 2).as("initial_balance"),
            round(col("final_balance"), 2).as("final_balance"),
            round(col("balance_pnl_pct"), 6).as("balance_pnl_pct"),
            round(col("recovery_factor"), 6).as("recovery_factor"),
            round(col("max_dd_pct"), 6).as("max_dd_pct"),
            col("max_drawdown_scenario"), col("max_equity_scenario"),
            round(col("total_spread_cost"), 4).as("total_spread_cost"),
            round(col("total_commission"), 4).as("total_commission"),
            round(col("total_swap"), 4).as("total_swap"),
            round(col("avg_spread"), 6).as("avg_spread"),
            col("orders_sent"), col("orders_executed"), col("orders_rejected"),
            col("sl_tp_triggered"), col("pending_total_resolved"),
            col("pending_total_filled"),
            round(col("pending_avg_latency_ms"), 6).as("pending_avg_latency_ms"),
            round(col("pending_min_latency_ms"), 2).as("pending_min_latency_ms"),
            round(col("pending_max_latency_ms"), 2).as("pending_max_latency_ms"))
          .orderBy(col("currency"))
      },
      Some("""WITH base AS (SELECT o_orderstatus AS currency,
          o_orderstatus || '_u' || (o_custkey % 20)::VARCHAR AS name,
          o_orderkey, o_custkey, o_totalprice FROM orders),
        units AS (SELECT currency, name,
          count(*) AS n_trades,
          sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_wins,
          sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_losses,
          sum(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice ELSE 0 END) AS sum_profit,
          -sum(CASE WHEN o_orderkey % 3 = 1 THEN o_totalprice ELSE 0 END) AS sum_loss,
          sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_long,
          sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_short,
          10000.0::DOUBLE AS initial_balance,
          10000.0::DOUBLE + sum(o_totalprice * ((o_orderkey % 7) - 3) / 100.0) AS current_balance,
          sum(o_totalprice * 0.0001) AS total_spread_cost,
          sum(o_totalprice * 0.0002) AS total_commission,
          sum(o_totalprice * 0.00005) AS total_swap,
          -(max(o_totalprice) + min(o_custkey) / 1e6) AS max_drawdown,
          max(o_totalprice) + min(o_custkey) / 5e5 AS max_equity
        FROM base GROUP BY 1, 2),
        ex AS (SELECT name, count(*) AS orders_sent,
          sum(CASE WHEN o_orderkey % 5 != 0 THEN 1 ELSE 0 END)::BIGINT AS orders_executed,
          sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS orders_rejected,
          sum(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)::BIGINT AS sl_tp_triggered
        FROM base GROUP BY name),
        pend AS (SELECT name, count(*) AS total_resolved,
          sum(CASE WHEN o_orderkey % 4 != 0 THEN 1 ELSE 0 END)::BIGINT AS total_filled,
          avg((o_orderkey % 97)::DOUBLE) AS avg_latency_ms,
          count(*) AS latency_count,
          min((o_orderkey % 97)::DOUBLE) AS min_latency_ms,
          max((o_orderkey % 97)::DOUBLE) AS max_latency_ms
        FROM base GROUP BY name),
        j AS (SELECT u.*, ex.orders_sent, ex.orders_executed,
            ex.orders_rejected, ex.sl_tp_triggered, pend.total_resolved,
            pend.total_filled, pend.avg_latency_ms, pend.latency_count,
            pend.min_latency_ms, pend.max_latency_ms
          FROM units u LEFT JOIN ex USING (name) LEFT JOIN pend USING (name))
        SELECT currency, count(*) AS n_units,
          sum(n_trades)::BIGINT AS total_trades,
          sum(n_long)::BIGINT AS total_long_trades,
          sum(n_short)::BIGINT AS total_short_trades,
          round(sum(sum_profit) / sum(n_wins), 4) AS avg_win,
          round(abs(sum(sum_loss)) / sum(n_losses), 4) AS avg_loss,
          round(sum(initial_balance), 2) AS initial_balance,
          round(sum(current_balance), 2) AS final_balance,
          round(CASE WHEN sum(initial_balance) > 0 THEN
            (sum(current_balance) - sum(initial_balance))
              / sum(initial_balance) * 100 END, 6) AS balance_pnl_pct,
          round(CASE WHEN max(abs(max_drawdown)) != 0 THEN
            (sum(current_balance) - sum(initial_balance))
              / max(abs(max_drawdown)) END, 6) AS recovery_factor,
          round(CASE WHEN max(max_equity) > 0 THEN
            max(abs(max_drawdown)) / max(max_equity) * 100 END, 6) AS max_dd_pct,
          arg_max(name, abs(max_drawdown)) AS max_drawdown_scenario,
          arg_max(name, max_equity) AS max_equity_scenario,
          round(sum(total_spread_cost), 4) AS total_spread_cost,
          round(sum(total_commission), 4) AS total_commission,
          round(sum(total_swap), 4) AS total_swap,
          round(sum(total_spread_cost) / sum(n_trades), 6) AS avg_spread,
          sum(coalesce(orders_sent, 0))::BIGINT AS orders_sent,
          sum(coalesce(orders_executed, 0))::BIGINT AS orders_executed,
          sum(coalesce(orders_rejected, 0))::BIGINT AS orders_rejected,
          sum(coalesce(sl_tp_triggered, 0))::BIGINT AS sl_tp_triggered,
          sum(coalesce(total_resolved, 0))::BIGINT AS pending_total_resolved,
          sum(coalesce(total_filled, 0))::BIGINT AS pending_total_filled,
          round(sum(avg_latency_ms * latency_count) /
            sum(CASE WHEN avg_latency_ms IS NOT NULL THEN latency_count END), 6)
            AS pending_avg_latency_ms,
          round(min(min_latency_ms), 2) AS pending_min_latency_ms,
          round(max(max_latency_ms), 2) AS pending_max_latency_ms
        FROM j GROUP BY currency ORDER BY currency"""),
      "Rich portfolio aggregate: balances/costs/latency roll-up (SURVEY A10)"),

    // A15: per-regime metric breakdown; windows without a regime excluded.
    "q63_regime_breakdown" -> QueryDef(
      (s, dir) => {
        val windows = Tables.events(s, dir)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("day", col("ts_utc"))).as("day_ms"))
          .agg((sum(col("value")) - 100.0).as("metric"))
          .withColumn("regime",
            when((col("day_ms") / 86400000L % 5) === 0, lit(""))
              .otherwise(concat(lit("regime_"),
                (col("day_ms") / 86400000L % 4).cast("long").cast("string"))))
        Reports.regimeBreakdown(windows, Seq.empty, "metric")
          .select(col("regime"), col("window_count"),
            round(col("mean_metric"), 6).as("mean_metric"),
            round(col("pct_profitable"), 6).as("pct_profitable"))
          .orderBy(col("regime"))
      },
      Some(s"""WITH $BaseCte,
        w AS (SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
            sum(value) - 100.0 AS metric
          FROM base GROUP BY 1, 2),
        r AS (SELECT *, CASE WHEN (day_ms // 86400000) % 5 = 0 THEN ''
            ELSE 'regime_' || ((day_ms // 86400000) % 4)::VARCHAR END AS regime
          FROM w)
        SELECT regime, count(*) AS window_count,
          round(avg(metric), 6) AS mean_metric,
          round(sum(CASE WHEN metric > 0 THEN 1 ELSE 0 END)::DOUBLE
            / count(*) * 100, 6) AS pct_profitable
        FROM r WHERE regime IS NOT NULL AND regime != ''
        GROUP BY regime ORDER BY regime"""),
      "Per-regime metric breakdown, pct profitable x100 (SURVEY A15)"),

    // A18: per-sweep summaries — run counts, ok/error split, duration
    // span, head fields from the first (min run_id) row.
    "q64_sweep_summary" -> QueryDef(
      (s, dir) => {
        val ledger = Tables.orders(s, dir).select(
          when(col("o_custkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("swp_"), (col("o_custkey") % 3).cast("string")))
            .as("sweep_id"),
          concat(lit("run_"), (col("o_orderkey") % 500).cast("string")).as("run_id"),
          when(col("o_orderkey") % 13 === 0, "error").otherwise("ok").as("status"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("run_ts_ms"),
          // functionally dependent on run_id so min_by ties are harmless
          concat(lit("dl_"), (col("o_orderkey") % 500 % 3).cast("string"))
            .as("decision_logic_type"),
          lit("sharpe").as("objective_name"))
        Reports.sweepSummaries(ledger)
          .select(col("sweep_id"), col("started_ms"),
            round(col("duration_s"), 3).as("duration_s"), col("run_count"),
            col("ok_count"), col("error_count"), col("decision_logic_type"),
            col("objective"))
          .orderBy(col("sweep_id"))
      },
      Some("""WITH ledger AS (SELECT
          CASE WHEN o_custkey % 10 = 0 THEN NULL
               ELSE 'swp_' || (o_custkey % 3)::VARCHAR END AS sweep_id,
          'run_' || (o_orderkey % 500)::VARCHAR AS run_id,
          CASE WHEN o_orderkey % 13 = 0 THEN 'error' ELSE 'ok' END AS status,
          epoch_ms(o_orderdate::TIMESTAMP) AS run_ts_ms,
          'dl_' || (o_orderkey % 500 % 3)::VARCHAR AS decision_logic_type,
          'sharpe' AS objective_name
        FROM orders)
        SELECT sweep_id, min(run_ts_ms) AS started_ms,
          round((max(run_ts_ms) - min(run_ts_ms)) / 1000.0, 3) AS duration_s,
          count(DISTINCT run_id) AS run_count,
          count(DISTINCT run_id) - count(DISTINCT CASE WHEN status != 'ok'
            THEN run_id END) AS ok_count,
          count(DISTINCT CASE WHEN status != 'ok' THEN run_id END)
            AS error_count,
          arg_min(decision_logic_type, run_id) AS decision_logic_type,
          arg_min(objective_name, run_id) AS objective
        FROM ledger WHERE sweep_id IS NOT NULL AND sweep_id != ''
        GROUP BY sweep_id ORDER BY sweep_id"""),
      "Per-sweep ledger summaries: counts + duration span (SURVEY A18)"),

    // ST8: stale-data stress — carve [start,end) outage windows from the
    // signal series; summarize survivors per symbol.
    "q65_stale_slice" -> QueryDef(
      (s, dir) => {
        val signals = Tables.events(s, dir).select(
          col("ts_ms").as("collected_msc"),
          concat(lit("s"), (col("user_id") % 5).cast("string")).as("symbol"),
          col("value"))
        val carved = StaleData.carveSignalSeries(signals, Seq(
          (TrimStartMs, TrimStartMs + 3L * 86400000L),
          (TrimStartMs + 10L * 86400000L, TrimStartMs + 12L * 86400000L)))
        carved.groupBy(col("symbol"))
          .agg(count(lit(1)).as("n_kept"),
            min(col("collected_msc")).as("first_msc"),
            max(col("collected_msc")).as("last_msc"),
            round(sum(round(col("value") * 10000).cast("long")) / 10000.0, 4)
              .as("sum_value"))
          .orderBy(col("symbol"))
      },
      Some(s"""WITH $BaseCte,
        sig AS (SELECT ts_ms AS collected_msc,
            's' || (user_id % 5)::VARCHAR AS symbol, value FROM base),
        carved AS (SELECT * FROM sig WHERE NOT (
          (collected_msc >= $TrimStartMs AND
           collected_msc < ${TrimStartMs + 3L * 86400000L}) OR
          (collected_msc >= ${TrimStartMs + 10L * 86400000L} AND
           collected_msc < ${TrimStartMs + 12L * 86400000L})))
        SELECT symbol, count(*) AS n_kept, min(collected_msc) AS first_msc,
          max(collected_msc) AS last_msc,
          round(sum(round(value * 10000)::BIGINT) / 10000.0, 4) AS sum_value
        FROM carved GROUP BY symbol ORDER BY symbol"""),
      "Stale-data stress: carve outage windows, [start,end) (SURVEY ST8)"),

    // F8: pip-size derivation — tick/digits/pip-mode rule over part.
    "q66_pip_size" -> QueryDef(
      (s, dir) => {
        val p = Tables.part(s, dir)
          .withColumn("digits", (col("p_partkey") % 7).cast("int"))
          .withColumn("tick_size",
            lit(0.00001) * pow(lit(10.0), (col("p_partkey") % 3).cast("double")))
          .withColumn("pip_mode",
            when(col("p_partkey") % 2 === 0, TradingMath.PipModeFractional)
              .otherwise(TradingMath.PipModeTick))
        p.withColumn("pip_size",
            TradingMath.pipSize(col("tick_size"), col("digits"), col("pip_mode")))
          .groupBy(col("digits"), col("pip_mode"))
          .agg(count(lit(1)).as("n_symbols"),
            round(max(col("pip_size")), 8).as("max_pip"),
            round(min(col("pip_size")), 8).as("min_pip"))
          .orderBy(col("digits"), col("pip_mode"))
      },
      Some("""WITH p AS (SELECT
          (p_partkey % 7)::INT AS digits,
          0.00001 * power(10.0, (p_partkey % 3)::DOUBLE) AS tick_size,
          CASE WHEN p_partkey % 2 = 0 THEN 'FRACTIONAL_PIP' ELSE 'TICK' END
            AS pip_mode
        FROM part),
        d AS (SELECT *, CASE WHEN pip_mode = 'TICK' THEN tick_size
            WHEN digits IN (3, 5) THEN tick_size * 10 ELSE tick_size END
            AS pip_size
          FROM p)
        SELECT digits, pip_mode, count(*) AS n_symbols,
          round(max(pip_size), 8) AS max_pip, round(min(pip_size), 8) AS min_pip
        FROM d GROUP BY 1, 2 ORDER BY digits, pip_mode"""),
      "Pip-size derivation: tick/digits/pip-mode rule (SURVEY F8)"),

    // S12: the bars read-API slice — newest maxBars inside [from, to],
    // returned ascending.
    "q67_bars_api" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val bars = Ohlcv.render(ev, Seq.empty,
            unix_millis(date_trunc("hour", col("ts_utc"))),
            col("value"), col("value"), col("ts_ns"), col("event_id"))
          .withColumnRenamed("bucket", "ts_ms")
          .withColumn("timeframe", lit("H1"))
        Serve.barsSlice(bars, "H1", TrimStartMs, TrimEndMs, maxBars = 48)
          .select(col("ts_ms"), col("open"), col("high"), col("low"),
            col("close"), round(col("volume"), 2).as("volume"),
            col("tick_count"))
      },
      Some(s"""WITH $BaseCte,
        r AS (SELECT *, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
          row_number() OVER (PARTITION BY date_trunc('hour', ts)
                             ORDER BY ts_ns, event_id) AS rn_a,
          row_number() OVER (PARTITION BY date_trunc('hour', ts)
                             ORDER BY ts_ns DESC, event_id DESC) AS rn_d
          FROM base),
        bars AS (SELECT bucket_ms AS ts_ms,
          max(CASE WHEN rn_a = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rn_d = 1 THEN value END) AS close,
          round(sum(value), 2) AS volume, count(*) AS tick_count
          FROM r GROUP BY bucket_ms),
        capped AS (SELECT * FROM bars
          WHERE ts_ms BETWEEN $TrimStartMs AND $TrimEndMs
          ORDER BY ts_ms DESC LIMIT 48)
        SELECT * FROM capped ORDER BY ts_ms"""),
      "Bars read-API slice: newest maxBars in range, ascending (SURVEY S12)"),

    // J3: interval-overlap join via the bucketed range-join — per-user
    // daily activity spans, cross-user overlapping day pairs.
    "q68_interval_join" -> QueryDef(
      (s, dir) => {
        val spans = Tables.events(s, dir).filter(col("user_id") <= 20)
          .groupBy(col("user_id"),
            unix_millis(date_trunc("day", col("ts_utc"))).as("day_ms"))
          .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
        val a = spans.select(col("user_id").as("user_a"),
          col("start_ms"), col("end_ms"))
        val b = spans.select(col("user_id").as("user_b"),
          col("start_ms").as("b_start"), col("end_ms").as("b_end"))
        RangeJoin.intervalOverlap(a, b, Seq.empty,
            "start_ms", "end_ms", "b_start", "b_end", 86400000L)
          .filter(col("user_a") < col("user_b"))
          .groupBy(col("user_a"), col("user_b"))
          .agg(count(lit(1)).as("n_overlaps"))
          .orderBy(col("user_a"), col("user_b"))
      },
      Some(s"""WITH $BaseCte,
        spans AS (SELECT user_id, epoch_ms(date_trunc('day', ts)) AS day_ms,
            min(ts_ms) AS s, max(ts_ms) AS e
          FROM base WHERE user_id <= 20 GROUP BY 1, 2)
        SELECT a.user_id AS user_a, b.user_id AS user_b,
          count(*) AS n_overlaps
        FROM spans a JOIN spans b
          ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
        GROUP BY 1, 2 ORDER BY user_a, user_b"""),
      "Interval-overlap join, bucketed (no nested-loop) (SURVEY J3)"),

    // U3: requirement dedup — merge overlapping per-user hourly intervals
    // (padded past the next hour so consecutive active hours fuse).
    "q69_interval_merge" -> QueryDef(
      (s, dir) => {
        val hours = Tables.events(s, dir).filter(col("user_id") <= 20)
          .select(col("user_id"),
            unix_millis(date_trunc("hour", col("ts_utc"))).as("start_ms"))
          .distinct()
          .withColumn("end_ms", col("start_ms") + 6300000L)
        RangeJoin.mergeIntervals(hours, Seq("user_id"), "start_ms", "end_ms")
          .orderBy(col("user_id"), col("start_ms"))
      },
      Some(s"""WITH $BaseCte,
        d AS (SELECT DISTINCT user_id, epoch_ms(date_trunc('hour', ts)) AS start_ms
          FROM base WHERE user_id <= 20),
        i AS (SELECT user_id, start_ms, start_ms + 6300000 AS end_ms FROM d),
        n AS (SELECT *, CASE WHEN start_ms > max(end_ms) OVER
            (PARTITION BY user_id ORDER BY start_ms, end_ms
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS nw FROM i),
        g AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
            ORDER BY start_ms, end_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS island
          FROM n)
        SELECT user_id, min(start_ms) AS start_ms, max(end_ms) AS end_ms,
          count(*) AS n_merged
        FROM g GROUP BY user_id, island ORDER BY user_id, start_ms"""),
      "Merge overlapping intervals per key, islands pass (SURVEY U3)")
  )
}
