package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase

/** S14 (live tick feed parse + warm start) and ST11 (snapshot/restore:
  * stateful bar rendering survives a query restart from checkpoint with
  * exactly-once closes). */
class LiveTicksSpec extends SparkSpecBase {
  import spark.implicits._

  private val m0 = 1700000000000L - (1700000000000L % 60000L)

  test("parse maps wire JSON to typed ticks and drops malformed lines") {
    val lines = Seq(
      s"""{"symbol":"BTCUSD","price":100.5,"qty":2.0,"time_msc":$m0}""",
      s"""{"symbol":"BTCUSD","price":101.0,"time_msc":${m0 + 1000}}""", // no qty -> 0.0
      """not json at all""",
      s"""{"symbol":null,"price":1.0,"qty":1.0,"time_msc":1}""",  // null key
      s"""{"price":1.0,"qty":1.0}""")                             // missing fields
      .toDF("value")
    val got = LiveTicks.parse(lines).collect().sortBy(_.tsMs)
    assert(got.toSeq === Seq(
      IncrementalBars.Tick("BTCUSD", m0, 100.5, 2.0),
      IncrementalBars.Tick("BTCUSD", m0 + 1000, 101.0, 0.0)))
  }

  test("warm-started renderer continues the historical open bar") {
    implicit val sqlCtx = spark.sqlContext
    // history: a half-formed bar for minute 0 (as the REST warmup leaves it)
    val warm = Seq(("BTCUSD",
      IncrementalBars.OpenBar(m0, 100.0, 102.0, 99.0, 101.0, 5.0, 3L))).toDS()
    val stream = MemoryStream[IncrementalBars.Tick]
    val bars = IncrementalBars.renderTicksWarm(stream.toDS(), 60000L, warm)
    val q = bars.writeStream.outputMode("append")
      .format("memory").queryName("warm_bars").start()
    try {
      // live ticks: one more into minute 0, then minute 1 closes it
      stream.addData(
        IncrementalBars.Tick("BTCUSD", m0 + 30000L, 98.0, 1.0),
        IncrementalBars.Tick("BTCUSD", m0 + 60000L, 103.0, 1.0))
      q.processAllAvailable()
      val got = spark.table("warm_bars").as[IncrementalBars.Bar].collect()
      // minute-0 bar: open from history, low from the live tick, vol 5+1
      assert(got.toSeq === Seq(IncrementalBars.Bar(
        "BTCUSD", m0, 100.0, 102.0, 98.0, 98.0, 6.0, 4L)))
    } finally q.stop()
  }

  test("ST11: restart from checkpoint restores open-bar state, closes exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("bars_ckpt").toString
    val out = Files.createTempDirectory("bars_out").toString
    val stream = MemoryStream[IncrementalBars.Tick]
    // file sink: the memory sink can't recover from a checkpoint
    def start() = IncrementalBars.renderTicks(stream.toDS(), 60000L)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    def written() =
      try spark.read.parquet(out).as[IncrementalBars.Bar].collect()
      catch { case _: Throwable => Array.empty[IncrementalBars.Bar] }

    // run 1: two ticks into minute 0 — bar still forming, nothing emitted
    val q1 = start()
    try {
      stream.addData(
        IncrementalBars.Tick("BTCUSD", m0 + 1000L, 100.0, 1.0),
        IncrementalBars.Tick("BTCUSD", m0 + 2000L, 101.0, 1.0))
      q1.processAllAvailable()
      assert(written().isEmpty)
    } finally q1.stop()

    // run 2: restart from the same checkpoint; a minute-1 tick closes the
    // restored minute-0 bar with the pre-restart ticks folded in
    val q2 = start()
    try {
      stream.addData(IncrementalBars.Tick("BTCUSD", m0 + 61000L, 99.0, 1.0))
      q2.processAllAvailable()
      assert(written().toSeq === Seq(IncrementalBars.Bar(
        "BTCUSD", m0, 100.0, 101.0, 100.0, 101.0, 2.0, 2L)))
    } finally q2.stop()
  }
}
