package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.ops.AsOfJoin

/** Fires BUY on every closed bar once the history holds `lookbackBars`. */
private class BuyFromLookback(val lookbackBars: Int) extends LiveLoop.BarStrategy {
  def onBarClose(h: Seq[IncrementalBars.Bar]): Seq[String] =
    if (h.length >= lookbackBars) Seq("BUY") else Nil
}

/** RocksDB state-store soaks for the two keyed streaming loops at high
  * KEY cardinality. The reference runs one autotrader loop per symbol;
  * the Spark form holds every symbol's state in ONE store, so the scale
  * question is state-store behavior as keys multiply, not tick volume
  * alone. 1000 keys × 30 minutes of 1 s ticks = 1.8M ticks, one batch
  * per simulated minute (state must survive every batch boundary) —
  * 5× the key cardinality and 25× the ticks of the LiveLoopSpec case.
  *
  * Heavy by design — gated behind `SPARK_GRAFT_SCALE_SPECS=1` so
  * `sbt test` stays fast:
  *
  *   SPARK_GRAFT_SCALE_SPECS=1 sbt "testOnly graft.streaming.StreamingSoakSpec"
  */
class StreamingSoakSpec extends SparkSpecBase {
  import spark.implicits._

  private val optIn = sys.env.get("SPARK_GRAFT_SCALE_SPECS").contains("1")

  private val (nKeys, minutes) = (1000, 30)
  private val nTicks = nKeys.toLong * 60L * minutes
  private val t0 = 1700000000000L - (1700000000000L % 60000L)

  /** Minute `m`'s ticks: 1 tick/s per key, rising per-key prices. */
  private def minuteTicks(m: Int): Seq[IncrementalBars.Tick] =
    (0 until 60).flatMap { s =>
      val ts = t0 + (m * 60L + s) * 1000L
      (0 until nKeys).map(k =>
        IncrementalBars.Tick(s"sym_$k", ts, 100.0 + (m * 60 + s) * 0.01 + k, 1.0))
    }

  /** Minute `m`'s signals: one every 15 s per key (at s % 15 == 7), so
    * each minute's tail ticks (s > 52) stay pending until the NEXT
    * minute's first signal, and the final minute's tail stays pending. */
  private def minuteSignals(m: Int): Seq[(String, Long, Double)] =
    (0 until 60).filter(_ % 15 == 7).flatMap { s =>
      val ts = t0 + (m * 60L + s) * 1000L
      (0 until nKeys).map(k => (s"sym_$k", ts, (m * 60 + s) * 0.001 + k))
    }

  test("live loop: every key closes minutes-1 bars and fires from its lookback on") {
    assume(optIn, "set SPARK_GRAFT_SCALE_SPECS=1 to run the streaming soaks")
    implicit val sqlCtx = spark.sqlContext
    val lookback = 3
    val stream = MemoryStream[IncrementalBars.Tick]
    val q = LiveLoop.run(stream.toDS(), 60000L, new BuyFromLookback(lookback))
      .writeStream.outputMode("append").format("memory")
      .queryName("live_soak").start()
    try {
      val start = System.nanoTime()
      (0 until minutes).foreach { m =>
        stream.addData(minuteTicks(m))
        q.processAllAvailable()
      }
      info(f"$nTicks ticks in ${(System.nanoTime() - start) / 1e9}%.1f s")
      val events = spark.table("live_soak")
      assert(events.select("key").distinct().count() === nKeys)
      val barsPerKey = events.filter($"kind" === "bar").groupBy("key")
        .count().select("count").distinct().as[Long].collect().toSeq
      assert(barsPerKey === Seq(minutes - 1L), s"uneven bar counts: $barsPerKey")
      val decPerKey = events.filter($"kind" === "decision").groupBy("key")
        .count().select("count").distinct().as[Long].collect().toSeq
      assert(decPerKey === Seq(minutes - 1L - (lookback - 1L)),
        s"uneven decision counts: $decPerKey")
    } finally q.stop()
  }

  test("forward as-of: emitted rows equal the batch join, pending equals its null set") {
    assume(optIn, "set SPARK_GRAFT_SCALE_SPECS=1 to run the streaming soaks")
    implicit val sqlCtx = spark.sqlContext
    val ticks = MemoryStream[IncrementalBars.Tick]
    val signals = MemoryStream[(String, Long, Double)]
    val q = StreamingAsOf.enrichForward(ticks.toDS(), signals.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("fwd_soak").start()
    try {
      val start = System.nanoTime()
      (0 until minutes).foreach { m =>
        // each feed is processed before the next, so no micro-batch
        // takes a minute's signals without its ticks
        ticks.addData(minuteTicks(m))
        q.processAllAvailable()
        signals.addData(minuteSignals(m))
        q.processAllAvailable()
      }
      info(f"$nTicks ticks in ${(System.nanoTime() - start) / 1e9}%.1f s")

      // batch mirror on the same events; the signal ts is duplicated
      // into the payload so the matched signal's TIMESTAMP is visible
      val allTicks = (0 until minutes).flatMap(minuteTicks)
        .map(t => (t.key, t.tsMs, t.price)).toDF("key", "tsMs", "price")
      val allSignals = (0 until minutes).flatMap(minuteSignals)
        .map { case (k, ts, v) => (k, ts, ts, v) }
        .toDF("key", "sigTs", "signalTsMs", "signalValue")
      val batch = AsOfJoin.forward(allTicks, allSignals, Seq("key"),
        "tsMs", "sigTs", Seq("signalTsMs", "signalValue"))
      val cols = Seq("key", "tsMs", "price", "signalTsMs", "signalValue").map(col)
      val batchMatched = batch.filter(col("signalTsMs").isNotNull).select(cols: _*)
      val batchNull = batch.filter(col("signalTsMs").isNull).select("key", "tsMs")

      val streamed = spark.table("fwd_soak").select(cols: _*)
      def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.except(b).count() + b.except(a).count()
      assert(diff(streamed, batchMatched) === 0L,
        "streamed rows differ from the batch forward join's non-null rows")
      val pending = allTicks.select("key", "tsMs").except(streamed.select("key", "tsMs"))
      assert(diff(pending, batchNull) === 0L,
        "pending ticks differ from the batch null-payload set")
      assert(streamed.count() + pending.count() === nTicks,
        "emitted + pending does not cover every tick exactly once")
    } finally q.stop()
  }
}
