package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase

/** SMA-cross demo strategy: BUY when the closing bar's close exceeds the
  * mean close of the full lookback window (needs a full window). */
private class SmaCross(val lookbackBars: Int) extends LiveLoop.BarStrategy {
  def onBarClose(history: Seq[IncrementalBars.Bar]): Seq[String] =
    if (history.length < lookbackBars) Seq.empty
    else {
      val mean = history.map(_.close).sum / history.length
      if (history.last.close > mean) Seq("BUY") else Seq.empty
    }
}

/** Signal-gated strategy: act only on a FRESH attached signal (the ST8
  * staleness guard inside the loop); direction from the signal's sign. */
private class SignalGate extends LiveLoop.SignalBarStrategy {
  val lookbackBars = 1
  def onBarClose(history: Seq[IncrementalBars.Bar],
                 signal: Option[LiveLoop.SignalView]): Seq[String] =
    signal match {
      case Some(s) if !s.stale => Seq(if (s.value >= 0) "BUY" else "SELL")
      case _ => Seq.empty
    }
}

/** Reports the closing bar's summed volume as its action, so the test
  * reads what the strategy saw in `history` from the decision rows. */
private class VolumeProbe extends LiveLoop.BarStrategy {
  val lookbackBars = 1
  def onBarClose(history: Seq[IncrementalBars.Bar]): Seq[String] =
    Seq(s"vol=${history.last.volume}")
}

private class SignalVolumeProbe extends LiveLoop.SignalBarStrategy {
  val lookbackBars = 1
  def onBarClose(history: Seq[IncrementalBars.Bar],
                 signal: Option[LiveLoop.SignalView]): Seq[String] =
    Seq(s"vol=${history.last.volume}")
}

class LiveLoopSpec extends SparkSpecBase {
  import spark.implicits._

  test("ST1 live loop: ticks -> bars -> BAR_CLOSE strategy -> decisions, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    // rising closes: 100, 101, ... one tick per second, 6 minutes
    val ticks = (0 until 360).map(i =>
      IncrementalBars.Tick("X", t0 + i * 1000L, 100.0 + i * 0.01, 1.0))
    val stream = MemoryStream[IncrementalBars.Tick]
    val q = LiveLoop.run(stream.toDS(), 60000L, new SmaCross(3))
      .writeStream.outputMode("append").format("memory").queryName("live_loop").start()
    try {
      val (a, b) = ticks.splitAt(150) // split mid-bar: state carries over
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val events = spark.table("live_loop").orderBy("barStartMs", "kind").collect()
        .map(e => (e.getAs[String]("kind"), e.getAs[String]("action"),
          e.getAs[Long]("barStartMs")))
      val bars = events.filter(_._1 == "bar")
      val decisions = events.filter(_._1 == "decision")
      // 6 minutes of ticks -> 5 closed bars (the 6th stays forming)
      assert(bars.length === 5)
      // strategy needs a full 3-bar window: closes fire on bars 3..5,
      // and with rising closes the last close always beats the mean
      assert(decisions.map(_._2).toSeq === Seq("BUY", "BUY", "BUY"))
      assert(decisions.map(_._3).toSeq === bars.map(_._3).drop(2).toSeq)
    } finally q.stop()
  }

  test("full loop: signal attach + staleness gate drive decisions in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    // one tick per second for 6 minutes -> bars close at +60s..+300s
    val ticks = (0 until 360).map(i =>
      IncrementalBars.Tick("X", t0 + i * 1000L, 100.0 + i * 0.01, 1.0))
    val tickStream = MemoryStream[IncrementalBars.Tick]
    val sigStream = MemoryStream[(String, Long, Double)]
    // freshness budget 100s:
    //   signal@+30s  -> bar0 close(+60s)  age  30s fresh -> BUY
    //                   bar1 close(+120s) age  90s fresh -> BUY
    //                   bar2 close(+180s) age 150s STALE -> no decision
    //   signal@+195s -> bar3 close(+240s) age  45s fresh -> SELL (value<0)
    //                   bar4 close(+300s) age 105s STALE -> no decision
    val q = LiveLoop.runWithSignals(tickStream.toDS(), sigStream.toDS(),
        60000L, new SignalGate, maxSignalAgeMs = 100000L)
      .writeStream.outputMode("append").format("memory").queryName("live_loop_sig").start()
    try {
      // Each signal is PROCESSED before its phase's ticks (the live
      // contract: feeds are consumed in collection order; the engine may
      // otherwise split addData calls into separate micro-batches). The
      // tick split at +210s is mid-bar-3: bar + signal state carry over.
      sigStream.addData(("X", t0 + 30000L, 1.0))
      q.processAllAvailable()
      tickStream.addData(ticks.take(210))
      q.processAllAvailable()
      sigStream.addData(("X", t0 + 195000L, -2.0))
      q.processAllAvailable()
      tickStream.addData(ticks.drop(210))
      q.processAllAvailable()

      val rows = spark.table("live_loop_sig").orderBy("barStartMs", "kind").collect()
      val bars = rows.filter(_.getAs[String]("kind") == "bar")
      val decisions = rows.filter(_.getAs[String]("kind") == "decision")
        .map(r => (r.getAs[Long]("barStartMs") - t0,
          r.getAs[String]("action"), r.getAs[Long]("signalAgeMs")))
      assert(bars.length === 5)
      assert(decisions.toSeq === Seq(
        (0L, "BUY", 30000L), (60000L, "BUY", 90000L), (180000L, "SELL", 45000L)))
      // the stale closes are observable on the bar events themselves
      val staleBars = bars.filter(_.getAs[Boolean]("signalStale"))
        .map(_.getAs[Long]("barStartMs") - t0).toSeq
      assert(staleBars === Seq(120000L, 240000L))
      // every bar after the first signal has one attached
      assert(bars.forall(_.getAs[Boolean]("hasSignal")))
    } finally q.stop()
  }

  test("RocksDB state holds per-key at 200-symbol cardinality across batches") {
    // the reference runs one loop per symbol; here one store holds all
    // symbols' (forming bar + history) — the invariant that must hold as
    // keys multiply: EVERY key closes exactly minutes-1 bars and fires
    // its decision on every bar from the lookback on, with a mid-bar
    // batch split. The opt-in StreamingSoakSpec drives the same invariant
    // at 1000 keys / 1.8M ticks.
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    val (nKeys, minutes) = (200, 6)
    val ticks = for {
      s <- 0 until (60 * minutes); k <- 0 until nKeys
    } yield IncrementalBars.Tick(s"sym_$k", t0 + s * 1000L, 100.0 + s * 0.01 + k, 1.0)
    val stream = MemoryStream[IncrementalBars.Tick]
    val q = LiveLoop.run(stream.toDS(), 60000L, new SmaCross(3))
      .writeStream.outputMode("append").format("memory")
      .queryName("live_loop_many").start()
    try {
      val (a, b) = ticks.splitAt(ticks.length / 2 + nKeys / 2) // mid-bar, mid-second
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val events = spark.table("live_loop_many")
      assert(events.select("key").distinct().count() === nKeys)
      val barsPerKey = events.filter($"kind" === "bar").groupBy("key")
        .count().select("count").distinct().as[Long].collect().toSeq
      assert(barsPerKey === Seq(minutes - 1L), s"uneven bar counts: $barsPerKey")
      val decPerKey = events.filter($"kind" === "decision").groupBy("key")
        .count().select("count").distinct().as[Long].collect().toSeq
      // SmaCross(3) fires from the 3rd closed bar on, rising closes -> BUY
      assert(decPerKey === Seq(minutes - 3L), s"uneven decision counts: $decPerKey")
    } finally q.stop()
  }

  test("both loops hand the strategy bars that carry the summed tick volume") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    // 4 minutes, one tick per second, volume 1..7 cycling: bar sums differ
    val ticks = (0 until 240).map(i =>
      IncrementalBars.Tick("X", t0 + i * 1000L, 100.0 + i * 0.01, 1.0 + i % 7))
    val want = ticks.groupBy(t => (t.tsMs - t0) / 60000L).toSeq.sortBy(_._1)
      .dropRight(1).map { case (_, ts) => s"vol=${ts.map(_.volume).sum}" }
    def actions(table: String): Seq[String] =
      spark.table(table).filter($"kind" === "decision").orderBy("barStartMs")
        .select("action").as[String].collect().toSeq

    val plain = MemoryStream[IncrementalBars.Tick]
    val q1 = LiveLoop.run(plain.toDS(), 60000L, new VolumeProbe)
      .writeStream.outputMode("append").format("memory").queryName("live_loop_vol").start()
    val tickStream = MemoryStream[IncrementalBars.Tick]
    val sigStream = MemoryStream[(String, Long, Double)]
    val q2 = LiveLoop.runWithSignals(tickStream.toDS(), sigStream.toDS(), 60000L,
        new SignalVolumeProbe, maxSignalAgeMs = 100000L)
      .writeStream.outputMode("append").format("memory").queryName("live_loop_sig_vol").start()
    try {
      val (a, b) = ticks.splitAt(150) // mid-bar: the forming volume carries over
      plain.addData(a); q1.processAllAvailable()
      plain.addData(b); q1.processAllAvailable()
      sigStream.addData(("X", t0, 1.0)); q2.processAllAvailable()
      tickStream.addData(a); q2.processAllAvailable()
      tickStream.addData(b); q2.processAllAvailable()
      assert(want === Seq("vol=234.0", "vol=243.0", "vol=238.0"))
      assert(actions("live_loop_vol") === want)
      assert(actions("live_loop_sig_vol") === want)
    } finally { q1.stop(); q2.stop() }
  }

  test("ticks out of time order within one batch fold as the sorted batch does") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 60000L)
    val ticks = (0 until 300).map(i =>
      IncrementalBars.Tick("X", t0 + i * 1000L, 100.0 + i * 0.01 + (i * 37 % 101) * 0.001, 1.0))
    val shuffled = new scala.util.Random(7).shuffle(ticks)
    assert(shuffled !== ticks)
    def events(batch: Seq[IncrementalBars.Tick], name: String) = {
      val stream = MemoryStream[IncrementalBars.Tick]
      val q = LiveLoop.run(stream.toDS(), 60000L, new SmaCross(2))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        stream.addData(batch); q.processAllAvailable()
        spark.table(name).as[LiveLoop.LoopEvent].collect().toSeq
          .sortBy(e => (e.barStartMs, e.kind))
      } finally q.stop()
    }
    val sorted = events(ticks, "live_loop_sorted")
    assert(sorted.count(_.kind == "bar") === 4)
    assert(sorted.forall(_.tickCount == 60L))
    assert(sorted.count(_.kind == "decision") === 3)
    assert(events(shuffled, "live_loop_shuffled") === sorted)
  }
}
