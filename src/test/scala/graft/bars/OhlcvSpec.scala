package graft.bars

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** Mirrors the reference's synthetic bar-parity fixture
  * (`/root/reference/tests/parity/test_bar_parity_kraken_spot_btcusd.py:1-14`,
  * generators `tests/shared/parity_fixtures.py`): a deterministic tick
  * stream at 1 tick/second must render exact, gap-free M1 bars; plus
  * ScalaCheck OHLC invariants per SURVEY §5.
  */
class OhlcvSpec extends SparkSpecBase {
  import spark.implicits._

  private val t0 = 1700000000000L // 2023-11-14 22:13:20 UTC

  /** 1000 ticks, 1/s, seeded deterministic walk (mid = 100 + wiggle). */
  private def syntheticTicks = {
    val rnd = new scala.util.Random(42)
    var mid = 100.0
    (0 until 1000).map { i =>
      mid += (rnd.nextDouble() - 0.5)
      (i.toLong, t0 + i * 1000L, mid, 1.0)
    }.toDF("tick_id", "ts_ms", "price", "vol")
  }

  test("1000 ticks at 1/s render 17 M1 buckets, 16 complete (reference parity shape)") {
    val ticks = syntheticTicks
      .withColumn("sym", lit("BTCUSD"))
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val bars = Ohlcv.renderTimeframe(ticks, Seq(col("sym")), col("ts"),
        col("price"), col("vol"), col("tick_id"), "M1")
      .orderBy("bar_start").collect()
    // t0 is 20s past the minute: bucket 1 has 40 ticks, then 16 complete
    // 60-tick bars, bucket 18 has 0 -> total 1000 = 40 + 16*60
    assert(bars.length === 17)
    val counts = bars.map(_.getAs[Long]("tick_count"))
    assert(counts.head === 40L)
    assert(counts.tail.forall(_ === 60L))
    assert(counts.sum === 1000L)
  }

  test("open/close are first/last by time; high/low bound them") {
    val ticks = Seq(
      ("A", 1L, 10.0), ("A", 2L, 30.0), ("A", 3L, 5.0), ("A", 4L, 20.0),
      ("B", 1L, 7.0)).toDF("sym", "seq", "price")
    val bars = Ohlcv.render(ticks, Seq(col("sym")), lit(0L), col("price"),
        col("price"), col("seq"), col("seq"))
      .orderBy("sym").collect()
    assert(bars(0).getAs[Double]("open") === 10.0)
    assert(bars(0).getAs[Double]("close") === 20.0)
    assert(bars(0).getAs[Double]("high") === 30.0)
    assert(bars(0).getAs[Double]("low") === 5.0)
    assert(bars(1).getAs[Double]("open") === 7.0)
    assert(bars(1).getAs[Double]("close") === 7.0)
  }

  test("OHLC invariants hold on random tick streams (property, 10 seeds)") {
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(200)
      val ps = List.fill(n)(1.0 + rnd.nextDouble() * 999.0)
      val ticks = ps.zipWithIndex
        .map { case (p, i) => ("S", i.toLong, t0 + i * 7000L, p) }
        .toDF("sym", "tick_id", "ts_ms", "price")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      val bars = Ohlcv.renderTimeframe(ticks, Seq(col("sym")), col("ts"),
        col("price"), col("price"), col("tick_id"), "M5").collect()
      // window-count conservation
      assert(bars.map(_.getAs[Long]("tick_count")).sum === ps.length.toLong)
      bars.foreach { b =>
        val (o, h, l, c) = (b.getAs[Double]("open"), b.getAs[Double]("high"),
          b.getAs[Double]("low"), b.getAs[Double]("close"))
        assert(l <= o && o <= h)
        assert(l <= c && c <= h)
      }
    }
  }

  /** Plain-Scala bars: per (key, epoch-aligned bucket) the first/last
    * price by (ts, id), max, min, volume sum and tick count. Rows are
    * (timeframe, key, bar_start µs, open, high, low, close, volume, n). */
  private def modelBars(ticks: Seq[(String, Long, Long, Double, Double)])
      : Set[(String, String, Long, Double, Double, Double, Double, Double, Long)] = {
    val widthsS = Map("M1" -> 60L, "M5" -> 300L, "M15" -> 900L, "M30" -> 1800L,
      "H1" -> 3600L, "H4" -> 14400L, "D1" -> 86400L)
    (for {
      (tf, s) <- widthsS.toSeq
      w = s * 1000000L
      ((key, start), ts) <- ticks.groupBy(t => (t._1, Math.floorDiv(t._3, w) * w))
    } yield {
      val byTime = ts.sortBy(t => (t._3, t._2))
      (tf, key, start, byTime.head._4, ts.map(_._4).max, ts.map(_._4).min,
        byTime.last._4, ts.map(_._5).sum, ts.size.toLong)
    }).toSet
  }

  /** Random ticks over two days and a half from a day boundary: two or
    * three keys, many equal timestamps (broken by the unique id), a share
    * of ticks exactly on D1/H4/H1/M5 boundaries. */
  private def randomTicks(seed: Int, volume: scala.util.Random => Double) = {
    val rnd = new scala.util.Random(seed)
    val day0 = 1700006400L * 1000000L // a UTC midnight, in µs
    val keys = Seq("AAA", "BBB", "CCC").take(2 + rnd.nextInt(2))
    val boundaries = Seq(86400L, 14400L, 3600L, 300L).map(_ * 1000000L)
    val pool = Vector.fill(120) {
      if (rnd.nextInt(4) == 0) {
        val w = boundaries(rnd.nextInt(boundaries.size))
        day0 - w + w * rnd.nextInt((3 * 86400000000L / w).toInt)
      } else day0 - 43200000000L + (rnd.nextDouble() * 2.5 * 86400000000L).toLong
    }
    (0 until 400 + rnd.nextInt(200)).map { i =>
      (keys(rnd.nextInt(keys.size)), i.toLong, pool(rnd.nextInt(pool.size)),
        1.0 + rnd.nextInt(5000) / 100.0, volume(rnd))
    }
  }

  private def rendered(ticks: Seq[(String, Long, Long, Double, Double)]) =
    Ohlcv.renderAllTimeframes(
        ticks.toDF("key", "id", "ts_us", "price", "vol")
          .withColumn("ts", timestamp_micros(col("ts_us"))).repartition(3),
        Seq(col("key")), col("ts"), col("price"), col("vol"), col("id"))
      .collect().map { r =>
        (r.getAs[String]("timeframe"), r.getAs[String]("key"),
          r.getAs[java.sql.Timestamp]("bar_start").getTime * 1000L,
          r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume"), r.getAs[Long]("tick_count"))
      }

  test("renderAllTimeframes equals a plain-Scala model on all 7 timeframes (property)") {
    for (seed <- 1 to 6) {
      // binary-fraction float volumes: every summation order is exact, so
      // the M1-then-rollup sums must equal the model's tick sums exactly
      val ticks = randomTicks(seed, r => r.nextInt(1 << 12) / 64.0)
      val got = rendered(ticks)
      assert(got.length === got.toSet.size, s"seed $seed: duplicate bars")
      val want = modelBars(ticks)
      assert(got.toSet === want, s"seed $seed: missing ${want -- got.toSet}, " +
        s"extra ${got.toSet -- want}")
      assert(got.map(_._1).toSet === Ohlcv.Timeframes.keySet)
    }
  }

  test("renderAllTimeframes: arbitrary float volumes differ only by summation order") {
    for (seed <- 7 to 9) {
      val ticks = randomTicks(seed, r => r.nextDouble() * 10.0)
      val got = rendered(ticks).map(b => b.copy(_8 = 0.0) -> b._8).toMap
      val want = modelBars(ticks).map(b => b.copy(_8 = 0.0) -> b._8).toMap
      assert(got.keySet === want.keySet, s"seed $seed: OHLC/count differ")
      want.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) <= 1e-12 * math.max(1.0, math.abs(v)),
          s"seed $seed: volume ${got(k)} vs $v for $k")
      }
    }
  }
}
