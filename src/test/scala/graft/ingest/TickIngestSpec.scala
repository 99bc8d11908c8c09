package graft.ingest

import java.nio.file.Files
import graft.SparkSpecBase

class TickIngestSpec extends SparkSpecBase {

  private def writeExport(offsetHours: Int, brokerType: String = "MT5!",
                          brokerField: String = "broker_type"): String = {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    val f = new java.io.File(dir, "EURUSD_20260101_ticks.json")
    // 09:00 broker time; extra "server_time" field must be dropped
    val json =
      s"""{"metadata": {"symbol": "EURUSD", "$brokerField": "$brokerType",
         |  "broker_utc_offset_hours": $offsetHours,
         |  "data_format_version": "1.3.0", "market_type": "forex_cfd"},
         | "ticks": [
         |  {"timestamp": "2026.01.01 09:00:00", "time_msc": 1767258000000,
         |   "collected_msc": 1767258000100, "bid": 1.10, "ask": 1.11, "last": 0.0,
         |   "tick_volume": 1, "real_volume": 5.0, "chart_tick_volume": 2,
         |   "spread_points": 10, "spread_pct": 0.9, "tick_flags": "BID ASK",
         |   "session": "wrong_label", "server_time": "x"},
         |  {"timestamp": "2026.01.01 09:00:01", "time_msc": 1767258001000,
         |   "bid": -1.0, "ask": 1.12, "last": 0.0,
         |   "tick_volume": 1, "real_volume": 5.0, "chart_tick_volume": 2,
         |   "spread_points": 10, "spread_pct": 7.5, "tick_flags": "BID ASK",
         |   "session": "wrong_label", "server_time": "x"}
         | ]}""".stripMargin
    Files.writeString(f.toPath, json)
    f.getAbsolutePath
  }

  test("load: offset shift on both clocks, session recalc, backfill, normalization") {
    val ticks = TickIngest.loadExports(spark, Seq(writeExport(-3)))
      .orderBy("arrival_idx").collect()
    assert(ticks.length === 2)
    val t0 = ticks(0)
    // -3h offset: 09:00 broker -> 06:00 UTC
    assert(t0.getAs[java.sql.Timestamp]("timestamp").toString.startsWith("2026-01-01 06:00:00"))
    assert(t0.getAs[Long]("time_msc") === 1767258000000L - 3 * 3600000L)
    // session recalculated from shifted UTC hour (06 -> sydney_tokyo)
    assert(t0.getAs[String]("session") === "sydney_tokyo")
    // broker_type normalized: "MT5!" -> "mt5_"
    assert(t0.getAs[String]("broker_type") === "mt5_")
    // collected_msc backfilled to 0 when absent (tick 2)
    assert(ticks(1).getAs[Long]("collected_msc") === 0L)
  }

  test("quality report counts invalid quotes and excess spread") {
    val ticks = TickIngest.loadExports(spark, Seq(writeExport(0)))
    val q = TickIngest.qualityReport(ticks, maxSpreadPct = 5.0).collect().head
    assert(q.getAs[Long]("n_ticks") === 2L)
    assert(q.getAs[Long]("n_invalid_quote") === 1L) // bid = -1
    assert(q.getAs[Long]("n_excess_spread") === 1L) // spread_pct 7.5
  }

  test("duplicate anti-join rejects an already-imported source file") {
    val batch = TickIngest.loadExports(spark, Seq(writeExport(0)))
    val manifest = batch.select("source_file")
    assert(TickIngest.rejectDuplicates(batch, manifest).count() === 0L)
    val fresh = TickIngest.rejectDuplicates(batch,
      manifest.limit(0))
    assert(fresh.count() === 2L)
  }

  test("write + normalized read roundtrip: partition layout, volume alias, mid") {
    val out = Files.createTempDirectory("graft_ticks").toString
    val batch = TickIngest.loadExports(spark, Seq(writeExport(0)))
    TickIngest.writeTickTable(batch, out)
    assert(new java.io.File(s"$out/broker_type=mt5_/symbol=EURUSD").exists())
    val back = TickIngest.readNormalized(spark, out).collect()
    assert(back.length === 2)
    val r = back.map(x => x.getAs[Long]("arrival_idx") -> x).toMap.apply(0L)
    assert(math.abs(r.getAs[Float]("volume") - 5.0f) < 1e-6)
    assert(math.abs(r.getAs[Double]("mid") - 1.105) < 1e-6)
  }

  test("normalizeBrokerType: trim, lower, everything outside [a-z0-9_] to '_'") {
    import spark.implicits._
    val cases = Seq(
      " MT5-Live " -> "mt5_live",     // surrounding spaces trimmed, '-' replaced
      "IC.Markets/Raw" -> "ic_markets_raw",
      "Broker_9" -> "broker_9",
      "BÄR" -> "b_r",                 // a non-ASCII letter lowers to 'ä', then '_'
      "\u212AFX" -> "kfx")            // the Kelvin sign lowers to ASCII 'k'
    val out = cases.map(_._1).toDF("b")
      .select(TickIngest.normalizeBrokerType($"b")).as[String].collect().toSeq
    assert(out === cases.map(_._2))
    // a legacy export names the broker in `data_collector`
    val legacy = TickIngest.loadExports(spark,
      Seq(writeExport(0, " MT5-Live ", brokerField = "data_collector")))
    assert(legacy.select("broker_type").distinct().as[String].collect().toSeq ===
      Seq("mt5_live"))
  }
}
