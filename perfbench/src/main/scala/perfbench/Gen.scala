package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generator for the backtest workloads: broker JSON tick
  * exports in the shape of the reference loadtest (40 USDJPY sessions of
  * 12 hours each, 1,496,267 ticks in total, one export file per session).
  *
  * Everything is a pure function of the seed: the per-session tick counts
  * (which always sum to `totalTicks`), the tick times (strictly increasing
  * inside a session) and the random-walk prices. Sessions start at 12:00
  * UTC on consecutive weekdays, so the 12-hour gap between two sessions
  * splits them into separate scenario windows.
  */
object Gen {

  val Symbol = "USDJPY"
  val SessionMs: Long = 12L * 3600 * 1000
  /** Monday 2025-01-06 12:00:00 UTC. */
  val FirstSessionMs = 1736164800000L

  final case class Session(index: Int, startMs: Long, ticks: Int)

  /** Session layout for a seed: counts vary ±20% around the mean and are
    * then rescaled so they sum to exactly `totalTicks`. */
  def sessions(seed: Long, n: Int, totalTicks: Long): Seq[Session] = {
    val rnd = new SplittableRandom(seed * 7919L + 17L)
    val weights = Array.fill(n)(0.8 + 0.4 * rnd.nextDouble())
    val sum = weights.sum
    val counts = weights.map(w => (totalTicks * w / sum).toLong)
    var rest = totalTicks - counts.sum
    var i = 0
    while (rest > 0) { counts(i % n) += 1; rest -= 1; i += 1 }
    val days = Iterator.from(0).filter(d => d % 7 < 5) // skip weekends
    counts.toSeq.zipWithIndex.map { case (c, k) =>
      Session(k, FirstSessionMs + days.next() * 86400000L, c.toInt)
    }
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy.MM.dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Write one export per session into `dir` (sessions in parallel, one
    * thread per core); returns the file paths in session order. */
  def writeExports(dir: File, seed: Long, n: Int, totalTicks: Long): Seq[String] = {
    dir.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val jobs = sessions(seed, n, totalTicks).map { s =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            val f = new File(dir, f"${Symbol}_${s.index}%02d_ticks.json")
            val w = new BufferedWriter(new OutputStreamWriter(
              new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
            try writeSession(w, seed, s) finally w.close()
            f.getPath
          }
        })
      }
      jobs.map(_.get())
    } finally pool.shutdown()
  }

  /** One export document: metadata plus the session's ticks in arrival
    * order. Prices are a seeded random walk with a 0.8–1.2 pip spread. */
  def writeSession(w: java.io.Writer, seed: Long, s: Session): Unit = {
    val rnd = new SplittableRandom(seed * 1000003L + s.index)
    w.write("{\"metadata\":{\"symbol\":\"" + Symbol + "\",\"broker_type\":\"mt5\"," +
      "\"broker\":\"bench\",\"broker_utc_offset_hours\":0," +
      "\"data_format_version\":\"1.3.0\",\"market_type\":\"forex\"},")
    w.write("\"ticks\":[")
    val step = SessionMs.toDouble / s.ticks
    var mid = 140.0 + 10.0 * rnd.nextDouble()
    var j = 0
    val sb = new java.lang.StringBuilder(256)
    while (j < s.ticks) {
      // jitter stays inside ±40% of a step, so times strictly increase
      val t = s.startMs + ((j + 0.1 + 0.8 * rnd.nextDouble()) * step).toLong
      mid += (rnd.nextDouble() - 0.5) * 0.006
      val spreadPts = 8 + rnd.nextInt(5)
      val bidMilli = math.round((mid - spreadPts * 0.0005) * 1000)
      val askMilli = bidMilli + spreadPts
      sb.setLength(0)
      if (j > 0) sb.append(',')
      sb.append("{\"timestamp\":\"").append(tsFmt.format(java.time.Instant.ofEpochMilli(t)))
        .append("\",\"time_msc\":").append(t)
        .append(",\"collected_msc\":").append(t + 5 + rnd.nextInt(40))
        .append(",\"bid\":").append(milli(bidMilli))
        .append(",\"ask\":").append(milli(askMilli))
        .append(",\"last\":0.0,\"tick_volume\":0,\"real_volume\":0.0,\"chart_tick_volume\":")
        .append(1 + rnd.nextInt(20))
        .append(",\"spread_points\":").append(spreadPts)
        .append(",\"spread_pct\":")
        .append(micro(math.round(spreadPts * 1e8 / bidMilli)))
        .append(",\"tick_flags\":\"BID ASK\",\"session\":\"new_york\"}")
      w.append(sb)
      j += 1
    }
    w.write("]}\n")
  }

  /** Fixed-point decimals without String.format (1.5M ticks per export set). */
  private[perfbench] def fixed(v: Long, digits: Int): String = {
    val s = java.lang.Long.toString(v)
    val padded = if (s.length > digits) s else "0" * (digits + 1 - s.length) + s
    padded.substring(0, padded.length - digits) + "." + padded.substring(padded.length - digits)
  }
  private def milli(v: Long): String = fixed(v, 3)
  private def micro(v: Long): String = fixed(v, 6)
}
