package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase

class StreamingAsOfSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming as-of enrichment: ticks carry the latest prior signal across batches") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = MemoryStream[IncrementalBars.Tick]
    val signals = MemoryStream[(String, Long, Double)]
    val out = StreamingAsOf.enrich(ticks.toDS(), signals.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_enriched").start()
    try {
      // batch 0: a tick before any signal exists
      ticks.addData(IncrementalBars.Tick("X", 50L, 1.0, 0))
      q.processAllAvailable()
      // batch 1: signal lands at t=100, then ticks at/after it (separate
      // sources = separate micro-batches; cross-batch order is the
      // source contract, same as the bar renderer)
      signals.addData(("X", 100L, 0.7))
      ticks.addData(IncrementalBars.Tick("X", 100L, 2.0, 0),
        IncrementalBars.Tick("X", 150L, 3.0, 0))
      q.processAllAvailable()
      // batch 2: no new signal — state must carry across the batch gap
      ticks.addData(IncrementalBars.Tick("X", 200L, 4.0, 0))
      q.processAllAvailable()
      // batch 3: fresh signal, then a tick; an OLDER signal is ignored
      signals.addData(("X", 250L, 0.9), ("X", 240L, 0.1))
      ticks.addData(IncrementalBars.Tick("X", 300L, 5.0, 0))
      q.processAllAvailable()
      val rows = spark.table("asof_enriched").orderBy("tsMs").collect()
        .map(r => (r.getAs[Long]("tsMs"), r.getAs[Boolean]("hasSignal"),
          r.getAs[Long]("signalTsMs"), r.getAs[Double]("signalValue")))
      assert(rows.toSeq === Seq(
        (50L, false, 0L, 0.0),     // before any signal
        (100L, true, 100L, 0.7),   // signal at the same instant visible (<=)
        (150L, true, 100L, 0.7),
        (200L, true, 100L, 0.7),   // carried across the micro-batch boundary
        (300L, true, 250L, 0.9)))  // newest wins; stale 240 ignored
    } finally q.stop()
  }

  test("streaming forward as-of: ticks emit once at the next signal; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val ticks = MemoryStream[IncrementalBars.Tick]
    val signals = MemoryStream[(String, Long, Double)]
    val out = StreamingAsOf.enrichForward(ticks.toDS(), signals.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_fwd").start()
    try {
      // batch 0: a tick with no signal at/after it yet — stays pending
      ticks.addData(IncrementalBars.Tick("X", 50L, 1.0, 0))
      q.processAllAvailable()
      assert(spark.table("asof_fwd").isEmpty)
      // batch 1: signal at 100 releases the pending tick; an equal-ts
      // tick matches via the retained snapshot (>= visibility); a later
      // tick waits
      signals.addData(("X", 100L, 0.7))
      ticks.addData(IncrementalBars.Tick("X", 100L, 2.0, 0),
        IncrementalBars.Tick("X", 150L, 3.0, 0))
      q.processAllAvailable()
      // batch 2: still no signal ≥ 150 — pending grows across batches
      ticks.addData(IncrementalBars.Tick("X", 200L, 4.0, 0))
      q.processAllAvailable()
      // batch 3: signal at 250 releases 150 and 200; the later 260
      // signal releases nothing; tick 300 never matches (stays pending)
      signals.addData(("X", 250L, 0.9), ("X", 260L, 0.1))
      ticks.addData(IncrementalBars.Tick("X", 300L, 5.0, 0))
      q.processAllAvailable()
      // equal-ts signal tie in ONE batch: the pending tick must match the
      // HIGHEST payload at the minimal timestamp (the batch tie rule)
      ticks.addData(IncrementalBars.Tick("Y", 10L, 9.0, 0))
      q.processAllAvailable()
      signals.addData(("Y", 20L, 0.2), ("Y", 20L, 0.8))
      q.processAllAvailable()

      val rows = spark.table("asof_fwd").orderBy("key", "tsMs").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("tsMs"),
          r.getAs[Long]("signalTsMs"), r.getAs[Double]("signalValue")))
      assert(rows.toSeq === Seq(
        ("X", 50L, 100L, 0.7),   // released by the first signal after it
        ("X", 100L, 100L, 0.7),  // equal-instant signal visible (>=)
        ("X", 150L, 250L, 0.9),  // buffered across batches, then released
        ("X", 200L, 250L, 0.9),
        ("Y", 10L, 20L, 0.8)))   // equal-ts tie: highest payload wins
      // tick X@300 has no signal at/after it — pending, never emitted

      // Batch parity: the emitted set IS AsOfJoin.forward's matched rows;
      // the still-pending ticks are exactly its null-payload rows.
      import spark.implicits._
      val allTicks = Seq(("X", 50L, 1.0), ("X", 100L, 2.0), ("X", 150L, 3.0),
        ("X", 200L, 4.0), ("X", 300L, 5.0), ("Y", 10L, 9.0))
        .toDF("key", "tsMs", "price")
      val allSignals = Seq(("X", 100L, 0.7), ("X", 250L, 0.9), ("X", 260L, 0.1),
        ("Y", 20L, 0.2), ("Y", 20L, 0.8))
        .toDF("key", "sigTs", "sigValue")
      val batch = graft.ops.AsOfJoin.forward(allTicks, allSignals, Seq("key"),
        "tsMs", "sigTs", Seq("sigValue"))
      val matched = batch.filter($"sigValue".isNotNull)
        .select($"key", $"tsMs", $"sigValue").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.map(r => (r._1, r._2, r._4)).toSet === matched)
      val pendingBatch = batch.filter($"sigValue".isNull)
        .select($"key", $"tsMs").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(pendingBatch === Set(("X", 300L)))
    } finally q.stop()
  }
}
