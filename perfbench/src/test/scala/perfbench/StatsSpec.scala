package perfbench

import java.io.StringWriter

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between closest ranks, over 21 samples") {
    val xs = (1 to 21).map(_.toDouble).reverse // order must not matter
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 50) === 11.0)
    assert(Stats.percentile(xs, 90) === 19.0)
    assert(Stats.percentile(xs, 100) === 21.0)
    assert(Stats.median(xs) === 11.0)
    // between ranks: 12 samples, p90 sits at rank 9.9 (0-based)
    val ys = (0 until 12).map(i => i * 10.0)
    assert(math.abs(Stats.percentile(ys, 90) - 99.0) < 1e-9)
    assert(Stats.median(ys) === 55.0)
  }

  test("percentile rejects empty samples and out-of-range ranks") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("self time subtracts overlapping children once and clips them to the parent") {
    // parent [0, 100); children [10, 40) and [30, 50) overlap on [30, 40)
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 50L))) === 60L)
    // a child nested inside another adds nothing
    assert(Stats.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) === 20L)
    // a child sticking out of the parent only counts inside it
    assert(Stats.selfTime(0, 100, Seq((-20L, 10L), (95L, 130L))) === 85L)
    // disjoint children, and none
    assert(Stats.selfTime(0, 100, Seq((0L, 10L), (90L, 100L))) === 80L)
    assert(Stats.selfTime(0, 100, Nil) === 100L)
  }

  test("stolen CPU comes out of the wall time in proportion to runnable time") {
    assert(Lap.stolenShare(busy = 300, steal = 100) === 0.25)
    assert(Lap.stolenShare(0, 0) === 0.0)
    assert(Lap(wallS = 10.0, cpuS = 5.0, stolenShare = 0.25).busyWallS === 7.5)
  }

  test("top-level self times plus the root's remainder sum to the root's wall") {
    val spans = Seq(
      Span(0, "root", -1, "t", 0, 1000),
      Span(1, "a", 0, "t", 100, 400),
      Span(2, "a.inner", 1, "t", 150, 300),
      Span(3, "b", 0, "t", 350, 900)) // overlaps a on [350, 400)
    val self = Tracer.selfTimes(spans)
    assert(self(2) === 150L)
    assert(self(1) === 150L)
    assert(self(3) === 550L)
    assert(self(0) === 1000L - 800L) // union of a and b is [100, 900)
  }
}

class GenSpec extends AnyFunSuite {

  private def render(seed: Long, s: Gen.Session): String = {
    val w = new StringWriter()
    Gen.writeSession(w, seed, s)
    w.toString
  }

  test("the same seed gives the same exports, another seed different ones") {
    val a = Gen.sessions(7, 40, 10000)
    assert(a === Gen.sessions(7, 40, 10000))
    assert(a.map(render(7, _)) === Gen.sessions(7, 40, 10000).map(render(7, _)))
    assert(a.map(_.ticks) !== Gen.sessions(8, 40, 10000).map(_.ticks))
    assert(render(7, a.head) !== render(8, a.head))
  }

  test("session counts sum to the total and sessions do not overlap") {
    val ss = Gen.sessions(3, 40, 374066)
    assert(ss.map(_.ticks.toLong).sum === 374066L)
    ss.sliding(2).foreach { case Seq(x, y) =>
      assert(y.startMs - x.startMs >= 86400000L)
    }
  }

  test("tick times strictly increase inside the session window") {
    val s = Gen.sessions(5, 40, 8000).head
    val times = "\"time_msc\":(\\d+)".r.findAllMatchIn(render(5, s)).map(_.group(1).toLong).toSeq
    assert(times.size === s.ticks)
    assert(times.sliding(2).forall { case Seq(a, b) => b > a })
    assert(times.head >= s.startMs && times.last < s.startMs + Gen.SessionMs)
  }
}

class LiveSpec extends AnyFunSuite {

  test("open-loop latency counts from the due time, not from when the tick was sent") {
    val start = 1000000000L
    // at 2000 ticks/s tick 10 is due 5 ms after the start
    val due = OpenLoop.dueNs(start, 10, 2000.0)
    assert(due === start + 5000000L)
    // the sender fell 40 ms behind and the bar arrived 50 ms after the
    // late send: the latency is 90 ms, not the 50 ms a closed loop reports
    val sent = due + 40000000L
    assert(OpenLoop.latencyMs(due, sent + 50000000L) === 90.0)
    // due times do not drift with the index
    assert(OpenLoop.dueNs(start, 3000, 3000.0) === start + 1000000000L)
  }

  test("the feed is a pure function of the seed") {
    val a = LiveFeed.lines(11, 2 * LiveFeed.Block)
    assert(a.toSeq === LiveFeed.lines(11, 2 * LiveFeed.Block).toSeq)
    assert(a.toSeq !== LiveFeed.lines(12, 2 * LiveFeed.Block).toSeq)
    // a longer feed starts with the shorter one
    assert(LiveFeed.lines(11, 3 * LiveFeed.Block).take(a.length).toSeq === a.toSeq)
  }

  test("every key puts exactly TicksPerBar ticks in each bar, so closing ticks are known") {
    val n = 3 * LiveFeed.Block
    val ticks = LiveFeed.lines(5, n).zipWithIndex.map { case (l, i) =>
      val key = "\"symbol\":\"(\\w+)\"".r.findFirstMatchIn(l).get.group(1)
      val ts = "\"time_msc\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
      (i, LiveFeed.keyIndex(key), (ts - LiveFeed.T0) / LiveFeed.BarMs)
    }
    ticks.groupBy(t => (t._2, t._3)).values.foreach(g => assert(g.size === LiveFeed.TicksPerBar))
    // the tick that closes bar 0 of key 2 is that key's first tick of bar 1
    val closing = LiveFeed.closingTick(2, 0)
    assert(ticks(closing.toInt)._2 === 2 && ticks(closing.toInt)._3 === 1L)
    assert(ticks.filter(t => t._2 == 2 && t._3 == 1L).map(_._1).min === closing)
    // three bars of ticks close two bars per key; the third is still forming
    assert(LiveFeed.closedBars(n) === 2L)
  }
}
