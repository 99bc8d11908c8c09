package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase

/** Scripted by bar: BUY on the first closed bar, CLOSE_ALL two bars
  * later — deterministic entry/exit prices for exact-P&L assertions. */
private class ScriptedTrader(t0: Long) extends LiveLoop.SignalBarStrategy {
  val lookbackBars = 1
  def onBarClose(history: Seq[IncrementalBars.Bar],
                 signal: Option[LiveLoop.SignalView]): Seq[String] = {
    val b = history.last.barStartMs
    if (b == t0) Seq("BUY")
    else if (b == t0 + 120000L) Seq("CLOSE_ALL")
    else Seq.empty
  }
}

class StreamingBrokerSpec extends SparkSpecBase {
  import spark.implicits._

  test("full loop + broker leg: ticks -> decisions -> fills -> exact P&L, one query") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    // one tick per second, rising 0.01/s for 4 minutes:
    //   bar0 close price = tick 59  = 100.59 (BUY fills here)
    //   bar2 close price = tick 179 = 101.79 (CLOSE_ALL fills here)
    val ticks = (0 until 240).map(i =>
      IncrementalBars.Tick("X", t0 + i * 1000L, 100.0 + i * 0.01, 1.0))
    val tickStream = MemoryStream[IncrementalBars.Tick]
    val sigStream = MemoryStream[(String, Long, Double)]
    // TWO chained stateful stages in ONE streaming query:
    // loop (bars+strategy state) -> broker (positions+balance state)
    val fills = StreamingBroker.execute(
      LiveLoop.runWithSignals(tickStream.toDS(), sigStream.toDS(),
        60000L, new ScriptedTrader(t0), maxSignalAgeMs = Long.MaxValue),
      startBalance = 10000.0, lots = 2.0)
    val q = fills.writeStream.outputMode("append")
      .format("memory").queryName("broker_fills").start()
    try {
      val (a, b) = ticks.splitAt(100) // split mid-position: state carries
      tickStream.addData(a); q.processAllAvailable()
      tickStream.addData(b); q.processAllAvailable()
      val got = spark.table("broker_fills").as[StreamingBroker.FillEvent]
        .collect().sortBy(_.barStartMs)
      assert(got.map(_.action).toSeq === Seq("BUY", "CLOSE"))
      val Seq(buy, close) = got.toSeq
      assert(math.abs(buy.price - 100.59) < 1e-9)
      assert(buy.openCount === 1)
      assert(math.abs(close.price - 101.79) < 1e-9)
      // pnl = (101.79 - 100.59) * 2 lots = 2.40, balance 10002.40
      assert(math.abs(close.pnl - 2.40) < 1e-9)
      assert(math.abs(close.balance - 10002.40) < 1e-9)
      assert(close.openCount === 0)
    } finally q.stop()
  }
}
