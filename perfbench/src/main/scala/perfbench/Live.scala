package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.bars.Ohlcv
import graft.streaming.{IncrementalBars, LiveLoop, LiveTicks}

/** Seeded live tick feed: `Keys` symbols interleaved, tick `i` belongs to
  * key `i % Keys` and is that key's tick `i / Keys`. Every key puts
  * exactly `TicksPerBar` ticks into each M1 bar, so the tick that closes a
  * bar (the first tick of the key's next bar) is known from its index. */
object LiveFeed {

  val Keys = 16
  val BarMs = 60000L
  val TicksPerBar = 12
  /** Ticks of all keys per bar: phases are whole multiples of it. */
  val Block: Int = Keys * TicksPerBar
  private val StepMs = BarMs / TicksPerBar
  /** Event time of the first bar (minute aligned). */
  val T0: Long = Gen.FirstSessionMs

  def key(k: Int): String = s"LIVE$k"

  /** The first `n` feed lines for a seed, as the wire format
    * [[LiveTicks.wireSchema]] parses: a per-key random walk in 1e-6 price
    * units, integer quantities, times jittered inside their step. */
  def lines(seed: Long, n: Int): Array[String] = {
    val rnd = Array.tabulate(Keys)(k => new SplittableRandom(seed * 31L + k))
    val mid = Array.tabulate(Keys)(k => 100000000L + rnd(k).nextInt(50000000))
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val (k, j) = (i % Keys, i / Keys)
      val r = rnd(k)
      val ts = T0 + j * StepMs + r.nextInt((StepMs * 8 / 10).toInt)
      mid(k) += r.nextInt(2001) - 1000
      out(i) = "{\"symbol\":\"" + key(k) + "\",\"price\":" + Gen.fixed(mid(k), 6) +
        ",\"qty\":" + (1 + r.nextInt(100)) + ".0,\"time_msc\":" + ts + "}"
      i += 1
    }
    out
  }

  def barOf(barStartMs: Long): Long = (barStartMs - T0) / BarMs

  def keyIndex(key: String): Int = key.stripPrefix("LIVE").toInt

  /** Feed index of the tick that closes bar `bar` of key `k`. */
  def closingTick(k: Int, bar: Long): Long = (bar + 1) * Block + k

  /** Bars of every key that the first `n` ticks close (`n` a multiple of
    * [[Block]]): all but the last, which is still forming. */
  def closedBars(n: Int): Long = n / Block - 1L
}

/** Open-loop arithmetic: ticks are due at fixed times whether or not the
  * system keeps up, and latency counts from the due time, so a sender
  * that falls behind shows up as latency instead of hiding it. */
object OpenLoop {

  /** Due time of the `i`-th tick of a phase paced at `rate` ticks/s. */
  def dueNs(startNs: Long, i: Long, rate: Double): Long =
    startNs + math.round(i * 1e9 / rate)

  /** Bar latency: from the due time of the tick that closed the bar to the
    * sink's receipt of the bar. */
  def latencyMs(dueNs: Long, receivedNs: Long): Double = (receivedNs - dueNs) / 1e6
}

/** One end of the feed: a local server socket the socket source connects
  * to. `send` writes lines in feed order, each at its due time. */
final class Feeder(lines: Array[String]) extends AutoCloseable {
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  @volatile private var conn: Socket = _
  private var out: BufferedWriter = _
  /** When each line was actually written. */
  val sentNs = new Array[Long](lines.length)

  private val acceptor = new Thread(() => {
    try conn = server.accept() catch { case _: java.io.IOException => }
  }, "perfbench-feed-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def port: Int = server.getLocalPort

  private def writer(): BufferedWriter = {
    if (out == null) {
      acceptor.join(60000)
      require(conn != null, "the socket source did not connect")
      out = new BufferedWriter(new OutputStreamWriter(conn.getOutputStream,
        StandardCharsets.UTF_8), 1 << 16)
    }
    out
  }

  def sendRaw(ls: Seq[String]): Unit = {
    val w = writer()
    ls.foreach { l => w.write(l); w.write('\n') }
    w.flush()
  }

  /** Writes lines `[from, until)`, line `i` due at
    * `OpenLoop.dueNs(start, i - from, rate)`. Returns the phase's start
    * time. */
  def send(from: Int, until: Int, rate: Double): Long = {
    val w = writer()
    val start = System.nanoTime()
    var i = from
    while (i < until) {
      val due = OpenLoop.dueNs(start, i - from, rate)
      if (due > System.nanoTime()) {
        w.flush()
        var now = System.nanoTime()
        while (due > now) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      }
      w.write(lines(i)); w.write('\n')
      sentNs(i) = System.nanoTime()
      i += 1
    }
    w.flush()
    start
  }

  override def close(): Unit = {
    server.close()
    if (conn != null) conn.close()
    acceptor.join(10000)
  }
}

/** A loop event as the sink received it. */
final case class Arrival(key: String, barStartMs: Long, kind: String, close: Double,
                         tickCount: Long)

/** The live loop the traced `sweep_grid` run measures: the benchmark's
  * feed → `LiveTicks.fromSocket` → `LiveLoop.run` with a bar-close
  * strategy → a `foreachBatch` sink that stamps each bar with its arrival
  * time. */
object Live {

  /** Strategy lookback: a decision on every closed bar from the fifth on. */
  val Lookback = 5

  /** Bar-close strategy: BUY when the close is at or above the mean close of
    * the lookback window, SELL below it. */
  final class AboveMean extends LiveLoop.BarStrategy {
    val lookbackBars: Int = Lookback
    def onBarClose(history: Seq[IncrementalBars.Bar]): Seq[String] =
      if (history.length < lookbackBars) Nil
      else Seq(if (history.last.close >= history.map(_.close).sum / history.length) "BUY"
               else "SELL")
  }

  /** The nominal open-loop phase: rate and length. Its ticks close 304
    * bars, so the 90th-percentile latency has more than ten samples above
    * it. */
  val NominalRate = 2000.0
  val NominalTicks: Int = 20 * LiveFeed.Block
  /** The rate ladder (ticks/s), `LadderSeconds` at each rate. */
  val Ladder = Seq(4000.0, 8000.0, 16000.0, 32000.0)
  val LadderSeconds = 2.0
  def ladderTicks(rate: Double): Int =
    (rate * LadderSeconds / LiveFeed.Block).toInt * LiveFeed.Block
  /** A rate is sustained when the 90th-percentile bar latency stays below. */
  val LatencyLimitMs = 2500.0
  private val WaitS = 60.0

  /** Warm-up lines of a key outside the measured ones: two ticks a bar
    * apart, so the first closes a bar. */
  private val warmLines: Seq[String] = Seq(0L, LiveFeed.BarMs).map(dt =>
    "{\"symbol\":\"WARM\",\"price\":1.0,\"qty\":1.0,\"time_msc\":" +
      (LiveFeed.T0 + dt) + "}")

  /** A started live loop with its feed and sink. */
  final class Session(spark: SparkSession, lines: Array[String], checkpoint: String) {
    val feeder = new Feeder(lines)
    val arrivals = new ConcurrentLinkedQueue[Arrival]()
    /** Arrival time of each measured bar, by (key index, bar). */
    val barArrivals = new ConcurrentHashMap[(Int, Long), Long]()
    val query: StreamingQuery = {
      import spark.implicits._
      LiveLoop.run(LiveTicks.fromSocket(spark, "localhost", feeder.port),
        LiveFeed.BarMs, new AboveMean)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(new VoidFunction2[Dataset[LiveLoop.LoopEvent], java.lang.Long] {
          def call(ds: Dataset[LiveLoop.LoopEvent], id: java.lang.Long): Unit = {
            val rows = ds.collect()
            val now = System.nanoTime()
            rows.foreach { e =>
              arrivals.add(Arrival(e.key, e.barStartMs, e.kind, e.close, e.tickCount))
              if (e.kind == "bar" && e.key.startsWith("LIVE"))
                barArrivals.put((LiveFeed.keyIndex(e.key), LiveFeed.barOf(e.barStartMs)), now)
            }
          }
        }).start()
    }

    /** Waits until `pred` holds on the arrivals or the query fails. */
    def await(what: String)(pred: => Boolean): Unit = {
      val deadline = System.nanoTime() + (WaitS * 1e9).toLong
      while (!pred) {
        query.exception.foreach(e => throw new IllegalStateException(s"live loop failed: $what", e))
        require(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(2)
      }
    }

    /** Waits until every bar the first `n` ticks close has arrived. A
      * key's bars arrive in order, so it waits for each key's last one. */
    def awaitClosed(n: Int): Unit = {
      val last = (0 until LiveFeed.Keys).map(k => (k, LiveFeed.closedBars(n) - 1))
      await(s"bars closed by $n ticks")(last.forall(barArrivals.containsKey))
    }

    def stop(): Unit = {
      query.stop()
      feeder.close()
      arrivals.clear()
      barArrivals.clear()
    }
  }

  /** The start-up: start the query, feed the warm-up ticks and wait for
    * the first bar to reach the sink. */
  def start(spark: SparkSession, lines: Array[String]): Session = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = new Session(spark, lines, "live_checkpoint")
    s.feeder.sendRaw(warmLines)
    s.await("the warm-up bar")(s.arrivals.asScala.exists(_.kind == "bar"))
    s
  }

  /** Open-loop phase over ticks `[from, until)` at `rate`: the latency of
    * every bar those ticks close, and the sender's lag behind the due
    * times. */
  def paced(s: Session, from: Int, until: Int, rate: Double): (Seq[Double], Seq[Double]) = {
    val start = s.feeder.send(from, until, rate)
    s.awaitClosed(until)
    val got = s.barArrivals
    val lat = for {
      k <- 0 until LiveFeed.Keys
      bar <- math.max(0L, from / LiveFeed.Block - 1L) until LiveFeed.closedBars(until)
      closing = LiveFeed.closingTick(k, bar) if closing >= from && closing < until
    } yield OpenLoop.latencyMs(OpenLoop.dueNs(start, closing - from, rate), got.get((k, bar)))
    val lag = (from until until).map(i =>
      (s.feeder.sentNs(i) - OpenLoop.dueNs(start, (i - from).toLong, rate)) / 1e6)
    (lat, lag)
  }

  // ---- output checks ------------------------------------------------

  /** The bars the loop emitted for the first `n` ticks equal batch
    * `Ohlcv` M1 bars over the same lines minus each key's still-forming
    * bar, and the strategy decided once per bar from its lookback on. */
  def checks(spark: SparkSession, s: Session, lines: Array[String], n: Int)
      : Seq[(String, Boolean)] = {
    import spark.implicits._
    val ticks = LiveTicks.parse(spark.createDataset(lines.take(n).toSeq).toDF("value"))
    val batch = Ohlcv.renderTimeframe(ticks.toDF(), Seq(col("key")),
        timestamp_millis(col("tsMs")), col("price"), col("volume"), col("tsMs"), "M1")
      .select(col("key"), unix_millis(col("bar_start")).as("start"), col("close"),
        col("tick_count"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val forming = batch.groupBy(_._1).map { case (k, bs) => k -> bs.map(_._2).max }
    val expected = batch.filter(b => b._2 != forming(b._1)).toSet
    val events = s.arrivals.asScala.toSeq.filter(_.key.startsWith("LIVE"))
    val bars = events.filter(_.kind == "bar")
    val emitted = bars.map(a => (a.key, a.barStartMs, a.close, a.tickCount))
    val decisions = events.filter(_.kind == "decision")
    val perKey = LiveFeed.closedBars(n)
    Seq(
      "live_bars_equal_batch_ohlcv_minus_forming" ->
        (emitted.size == emitted.toSet.size && emitted.toSet == expected),
      "live_bars_per_key" -> (bars.groupBy(_.key).values.map(_.size.toLong).toSet ==
        Set(perKey) && bars.map(_.key).distinct.size == LiveFeed.Keys),
      "live_one_decision_per_bar_from_lookback" ->
        (decisions.size.toLong == LiveFeed.Keys * (perKey - (Lookback - 1)) &&
          decisions.map(d => (d.key, d.barStartMs)).distinct.size == decisions.size),
      "live_query_healthy" -> (s.query.isActive && s.query.exception.isEmpty))
  }
}
