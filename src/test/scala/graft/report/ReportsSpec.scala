package graft.report

import graft.SparkSpecBase

class ReportsSpec extends SparkSpecBase {
  import spark.implicits._

  test("portfolioRollup: ratios recomputed from sums, drawdown attributed") {
    val trades = Seq(
      ("EUR", "s1", 100.0, -50.0), ("EUR", "s2", -40.0, -80.0),
      ("EUR", "s3", 60.0, -10.0)).toDF("currency", "scenario_name", "net_pnl", "max_drawdown")
    val r = Reports.portfolioRollup(trades).collect().head
    assert(r.getAs[Long]("n_wins") === 2L)
    assert(math.abs(r.getAs[Double]("win_rate") - 2.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("profit_factor") - 160.0 / 40.0) < 1e-12)
    assert(r.getAs[String]("worst_dd_scenario") === "s2")
  }

  test("weightedLatency: sum(avg*n)/sum(n), not mean of means") {
    val units = Seq(("u1", 10.0, 100L), ("u2", 50.0, 10L))
      .toDF("unit", "avg_latency_ms", "n_orders")
      .withColumn("run", org.apache.spark.sql.functions.lit("r1"))
    val r = Reports.weightedLatency(units, Seq("run")).collect().head
    // (10*100 + 50*10) / 110 = 1500/110 ≈ 13.636 — NOT (10+50)/2 = 30
    assert(math.abs(r.getAs[Double]("weighted_avg_latency_ms") - 1500.0 / 110) < 1e-9)
  }

  test("walkForwardEfficiency: OOS/IS mean, undefined when IS <= 0") {
    val ws = Seq(
      ("s", "IN_SAMPLE", 10.0), ("s", "IN_SAMPLE", 20.0), ("s", "OUT_OF_SAMPLE", 12.0),
      ("t", "IN_SAMPLE", -5.0), ("t", "OUT_OF_SAMPLE", 3.0),
      ("u", "IN_SAMPLE", 4.0), ("v", "OUT_OF_SAMPLE", 6.0), ("v", "OUT_OF_SAMPLE", 8.0),
      ("s", "WARMUP", 1000.0), ("w", "WARMUP", 1.0))
      .toDF("strategy", "role", "metric")
    val wfe = Reports.walkForwardEfficiency(ws, Seq("strategy"), "metric")
    assert(wfe.columns.toSeq ===
      Seq("strategy", "is_mean", "n_is", "oos_mean", "n_oos", "wfe"))
    val out = wfe.orderBy("strategy").collect()
    // a row whose role is neither is ignored: "w" has no row, "s" keeps its means
    assert(out.map(_.getString(0)).toSeq === Seq("s", "t", "u", "v"))
    assert(math.abs(out(0).getAs[Double]("wfe") - 12.0 / 15.0) < 1e-12)
    assert(out(1).isNullAt(out(1).fieldIndex("wfe"))) // IS mean negative
    // IS-only and OOS-only keys: the missing role's mean and count are null, not 0
    assert(out(2).toSeq === Seq("u", 4.0, 1L, null, null, null))
    assert(out(3).toSeq === Seq("v", null, null, 7.0, 2L, null))
  }

  test("sweepSummaries: NULL run_ids span the timestamps but never count as runs") {
    // pre-r17 contract (countDistinct(run_id) + row-level min/max):
    // a NULL run_id row's timestamp participates in started/duration,
    // but it is no run — run_count/error_count exclude it even when its
    // status is non-ok (the r18 ADVICE fix).
    val ledger = Seq(
      ("sw", Option("r1"), "ok", 1000L, "dl", "obj"),
      ("sw", Option("r1"), "error", 2000L, "dl", "obj"),
      ("sw", Option("r2"), "ok", 3000L, "dl", "obj"),
      ("sw", Option.empty[String], "error", 9000L, "dl", "obj"))
      .toDF("sweep_id", "run_id", "status", "run_ts_ms",
        "decision_logic_type", "objective_name")
    val r = Reports.sweepSummaries(ledger).collect().head
    assert(r.getAs[Long]("run_count") === 2L)
    assert(r.getAs[Long]("error_count") === 1L)   // r1 only, not the NULL row
    assert(r.getAs[Long]("ok_count") === 1L)
    assert(r.getAs[Long]("started_ms") === 1000L)
    assert(math.abs(r.getAs[Double]("duration_s") - 8.0) < 1e-12) // 9000 spans
  }

  test("sweepRanking: objective desc with stable run_id tie-break, errors excluded") {
    val ledger = Seq(
      ("sw1", "r3", "ok", 5.0), ("sw1", "r1", "ok", 5.0),
      ("sw1", "r2", "ok", 9.0), ("sw1", "r4", "error", 99.0))
      .toDF("sweep_id", "run_id", "status", "sharpe")
    val out = Reports.sweepRanking(ledger, "sharpe")
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("run_id")).toSeq === Seq("r2", "r1", "r3"))
  }

  test("ofatSensitivity: influence = max - min of per-level means") {
    val ledger = Seq(
      ("r1", "ok", Map("period" -> "10", "k" -> "2"), 1.0),
      ("r2", "ok", Map("period" -> "20", "k" -> "2"), 5.0),
      ("r3", "ok", Map("period" -> "10", "k" -> "3"), 3.0),
      ("r4", "ok", Map("period" -> "20", "k" -> "3"), 7.0))
      .toDF("run_id", "status", "params", "objective")
    val out = Reports.ofatSensitivity(ledger, "params", "objective")
      .orderBy("param").collect()
    val byParam = out.map(r => r.getAs[String]("param") ->
      r.getAs[Double]("influence")).toMap
    // period: mean(10)=2, mean(20)=6 -> 4 ; k: mean(2)=3, mean(3)=5 -> 2
    assert(math.abs(byParam("period") - 4.0) < 1e-12)
    assert(math.abs(byParam("k") - 2.0) < 1e-12)
  }
}
