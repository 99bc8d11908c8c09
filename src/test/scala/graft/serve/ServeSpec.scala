package graft.serve

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** S11–S13: the serving layer — read-API slice semantics and CSV/JSON
  * sinks (round-trips, since a sink's contract is what comes back). */
class ServeSpec extends SparkSpecBase {
  import spark.implicits._

  /** The lines of each `part-*<ext>` file the sink wrote under `dir`. */
  private def partLines(dir: String, ext: String): Seq[List[String]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }

  private def bars = (0 until 100).map { i =>
    (1000L + i * 60000L, "M1", 100.0 + i)
  }.toDF("ts_ms", "timeframe", "close")

  test("barsSlice caps at the NEWEST maxBars and returns ascending") {
    val got = Serve.barsSlice(bars, "M1", 0L, Long.MaxValue / 2, maxBars = 10)
      .select("ts_ms").as[Long].collect()
    // newest 10 of 100 bars, ascending
    assert(got.toSeq === (90 until 100).map(i => 1000L + i * 60000L))
  }

  test("barsSlice filters timeframe and range before capping") {
    val mixed = bars.union(
      Seq((1000L, "H1", 1.0)).toDF("ts_ms", "timeframe", "close"))
    val got = Serve.barsSlice(mixed, "M1", 1000L + 10 * 60000L,
      1000L + 20 * 60000L, maxBars = 100)
      .select("ts_ms").as[Long].collect()
    assert(got.length === 11)
    assert(got.toSeq === got.toSeq.sorted)
  }

  test("barsSlice validates inputs fail-fast") {
    intercept[IllegalArgumentException](Serve.barsSlice(bars, "M1", 10L, 5L, 1))
    intercept[IllegalArgumentException](Serve.barsSlice(bars, "M1", 0L, 5L, 0))
  }

  test("ranking CSV sink round-trips ordered with header") {
    val dir = Files.createTempDirectory("serve_csv").toString
    // unsorted rows over three partitions: the sink must sort and merge
    val ranking = Seq((3, "run_c", 0.5), (1, "run_b", 2.5), (2, "run_a", 1.5))
      .toDF("rank", "run_id", "objective").repartition(3)
    assert(ranking.rdd.getNumPartitions === 3)
    Serve.writeRankingCsv(ranking, s"$dir/ranking")
    assert(partLines(s"$dir/ranking", ".csv") === Seq(Seq("rank,run_id,objective",
      "1,run_b,2.5", "2,run_a,1.5", "3,run_c,0.5")))
  }

  test("event stream CSV: every file has the header and is sorted by ts_ms") {
    val dir = Files.createTempDirectory("serve_events").toString
    // 60 events in descending time order over 3 partitions
    val events = (0 until 60).map(i => (10000L - i * 7L, s"ev$i", i % 2 == 0))
      .toDF("ts_ms", "event", "is_fill").repartition(3)
    Serve.writeEventStreamCsv(events, s"$dir/events")
    val lines = partLines(s"$dir/events", ".csv")
    assert(lines.size > 1, "the event stream stays partitioned")
    assert(lines.forall(_.head == "ts_ms,event,is_fill"))
    val ts = lines.map(_.tail.map(_.split(',')(0).toLong))
    assert(ts.forall(t => t == t.sorted), "rows must be in ts_ms order within a file")
    assert(ts.flatten.sorted === (0 until 60).map(i => 10000L - i * 7L).sorted)
  }

  test("report JSON store writes, lists, and reads back") {
    val dir = Files.createTempDirectory("serve_json").toString
    val report = Seq(("USD", 7, -1.5), ("EUR", 10, 123.45))
      .toDF("currency", "n_trades", "net_pnl").repartition(2)
    Serve.writeReportJson(report, dir, "portfolio_summary", col("currency"))
    Serve.writeReportJson(report.limit(1), dir, "another_report")
    assert(Serve.listReports(spark, dir) ===
      Seq("another_report", "portfolio_summary"))
    val back = Serve.readReportJson(spark, dir, "portfolio_summary")
    assert(back.count() === 2)
    assert(back.filter(col("currency") === "EUR")
      .select("net_pnl").as[Double].head() === 123.45)
    // one file, in `currency` order
    assert(partLines(s"$dir/portfolio_summary", ".json")
      .map(_.map(_.split('"')(3))) === Seq(Seq("EUR", "USD")))
  }

  test("concurrent writes all finish; the first failure in order is re-thrown") {
    val dir = Files.createTempDirectory("serve_concurrent").toString
    val report = Seq(("EUR", 1), ("USD", 2)).toDF("currency", "n")
    val e = intercept[IllegalStateException] {
      Serve.writeConcurrently(Seq(
        () => Serve.writeReportJson(report, dir, "a"),
        () => throw new IllegalStateException("first"),
        () => Serve.writeReportJson(report, dir, "b"),
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
    assert(Serve.listReports(spark, dir) === Seq("a", "b"))
    assert(Serve.readReportJson(spark, dir, "b").count() === 2)
  }
}
