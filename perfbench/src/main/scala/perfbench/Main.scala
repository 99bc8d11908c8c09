package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Backtest, GraftSession}

/** Benchmark process: `Main <workload> <seed> <seconds> <trace 0|1> <result.json>`.
  *
  * Runs in its own working directory (the caller gives it a fresh one),
  * so every table, report and index it writes starts empty. Writes one
  * result document; the launcher turns it into the result line. */
object Main {

  final case class Result(metrics: Seq[(String, Double, String)],
                          checks: Seq[(String, Boolean)],
                          attempted: Long, failed: Long,
                          extra: ListMap[String, Any])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val res = workload match {
      case "etl_backtest" => if (trace) tracedEtl(seed) else etl(seed, seconds)
      case "sweep_grid" => if (trace) tracedSweep(seed) else sweep(seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val doc = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "host" -> host(seed),
      "correct" -> (res.failed == 0 && res.checks.forall(_._2)),
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> ListMap(res.metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "checks" -> ListMap(res.checks: _*)) ++ res.extra
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), doc)
  }

  /** Host shape and versions recorded in every result. */
  private def host(seed: Long): ListMap[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> os.getTotalMemorySize / 1048576L,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "seed" -> seed)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Heap still in use after full collections: what the run retained.
    * Listener events are drained first and collections repeat until the
    * reading settles, so in-flight bookkeeping does not count. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while (n < 6 && math.abs(prev - cur) > 1.0) {
      Thread.sleep(200)
      prev = cur; cur = used(); n += 1
    }
    cur
  }

  private def lapDocs(ls: Seq[Lap]) = ls.map(l =>
    ListMap("wall_s" -> l.wallS, "busy_wall_s" -> l.busyWallS, "cpu_s" -> l.cpuS,
      "stolen_share" -> l.stolenShare))

  /** Set-up repetitions. An `etl_backtest` set-up starts the engine's
    * session and generates the exports; it is cheap, so it repeats and
    * reports the median. `sweep_grid` sets up once: its set-up also
    * ingests the tick table on a cold engine, and repeating that would cost
    * more run time than the budget allows (see README.md). */
  private val EtlSetupReps = 3

  private def exportsFor(seed: Long): Seq[String] =
    Gen.writeExports(new File("exports"), seed, Backtests.Scenarios, Backtests.TotalTicks)

  /** Runs `f` and stops the session after it. */
  private def withSpark[T](spark: SparkSession)(f: SparkSession => T): T =
    try f(spark) finally spark.stop()

  private def endToEnd(setup: Seq[Lap], laps: Seq[Lap], ticks: Double,
                       heap: Double): Seq[(String, Double, String)] = {
    val wall = Stats.median(laps.map(_.busyWallS))
    Seq(("setup_s", Stats.median(setup.map(_.busyWallS)), "s"), ("wall_s", wall, "s"),
      ("ticks_per_s", ticks / wall, "1/s"), ("retained_heap_mb", heap, "MB"))
  }

  /** Attempted operations are the checks plus every scenario replay;
    * failures are failed checks plus scenario error rows. */
  private def counts(checks: Seq[(String, Boolean)], scenarios: Long, errors: Long) =
    (checks.size + scenarios, checks.count(!_._2) + errors)

  // ---- etl_backtest -------------------------------------------------

  private def etl(seed: Long, seconds: Double): Result = {
    val reps = (1 to EtlSetupReps).map { r =>
      val (started, lap) = Lap.measure((GraftSession.localFromEnv(), exportsFor(seed)))
      if (r < EtlSetupReps) started._1.stop()
      (started, lap)
    }
    val ((spark, exports), setup) = (reps.last._1, reps.map(_._2))
    withSpark(spark) { _ =>
      var dirs: Backtests.Dirs = null
      val (measured, (quality, ranked, steps)) = laps(seconds) { i =>
        if (dirs != null) deleteTree(dirs.root)
        dirs = Backtests.Dirs(new File(s"etl_lap$i"))
        Backtests.etlLap(spark, exports, dirs)
      }
      val heap = retainedHeapMb(spark)
      val checks = Backtests.ingestChecks(spark, dirs.ticks, Some(quality)) ++
        Backtests.barChecks(spark, dirs) ++ Backtests.rankingChecks(ranked, dirs)
      // scenario error rows fail the `no_scenario_error_rows` check
      val (attempted, failed) = counts(checks, measured.size * Backtests.Scenarios.toLong, 0L)
      Result(endToEnd(setup, measured, Backtests.tagged(seed).toDouble, heap), checks,
        attempted, failed, ListMap("laps" -> lapDocs(measured), "setup_reps" -> lapDocs(setup),
          "last_lap_steps_s" -> ListMap("ingest" -> steps(0), "bars" -> steps(1),
            "backtest" -> steps(2))))
    }
  }

  // ---- sweep_grid ---------------------------------------------------

  private val TickDir = "sweep_ticks"

  /** Set-up: start the session, generate the exports and write them into
    * the tick table through the ingest path. The timed laps only read the
    * table. */
  private def sweep(seed: Long, seconds: Double): Result = {
    val exports = exportsFor(seed)
    val (spark, setup) = Lap.measure {
      val s = GraftSession.localFromEnv()
      Backtests.writeTicks(s, exports, TickDir)
      s
    }
    withSpark(spark) { _ =>
      var outDir: String = null
      val (measured, ranked) = laps(seconds) { i =>
        if (outDir != null) deleteTree(new File(outDir))
        outDir = s"sweep_lap$i"
        Backtests.sweepLap(spark, TickDir, outDir)
      }
      val heap = retainedHeapMb(spark)
      val checks = Backtests.ingestChecks(spark, TickDir, None) ++
        Backtests.sweepChecks(spark, ranked, outDir, None)
      val errors = ranked.count(_.getAs[String]("status") != "ok").toLong
      val (attempted, failed) = counts(checks,
        measured.size * Backtests.Combos * Backtests.Scenarios.toLong, errors)
      Result(endToEnd(Seq(setup), measured,
        Backtests.tagged(seed).toDouble * Backtests.Combos, heap), checks, attempted, failed,
        ListMap("laps" -> lapDocs(measured), "setup_reps" -> lapDocs(Seq(setup))))
    }
  }

  private def pctDoc(xs: Seq[Double]) = ListMap("n" -> xs.size,
    "p50" -> Stats.percentile(xs, 50), "p90" -> Stats.percentile(xs, 90), "max" -> xs.max)

  /** Runs `lap` until `seconds` of wall time have been measured, at least
    * once; returns every lap's measurement and the last lap's output. */
  private def laps[T](seconds: Double)(lap: Int => T): (Seq[Lap], T) = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Lap]
    var last: Option[T] = None
    while (done.isEmpty || done.map(_.wallS).sum < seconds) {
      val (r, l) = Lap.measure(lap(done.size))
      done += l
      last = Some(r)
    }
    (done.toSeq, last.get)
  }

  // ---- traced runs --------------------------------------------------

  /** Every per-layer metric with its unit, in the order BENCHMARK.json
    * lists them. A traced run reports all of them; a layer the workload
    * does not exercise reads 0. */
  private val PerLayer: Seq[(String, String)] = Seq(
    "ingest.load_s" -> "s", "ingest.write_s" -> "s", "ingest.bytes_written" -> "bytes",
    "ingest.files_written" -> "count",
    "bars.render_s" -> "s", "bars.shuffle_bytes" -> "bytes", "bars.rows" -> "count",
    "catalog.mount_s" -> "s", "catalog.jobs" -> "count",
    "windows.tag_s" -> "s", "windows.tick_amplification" -> "ratio",
    "sim.tickrun_s" -> "s", "sim.kernel_ticks_per_s" -> "1/s", "sim.task_s" -> "s",
    "sim.shuffle_bytes" -> "bytes", "sim.peak_task_mem_mb" -> "MB", "sim.gc_s" -> "s",
    "sweep.rank_s" -> "s", "sweep.tick_exchanges" -> "count",
    "report.summary_s" -> "s", "report.jobs" -> "count",
    "serve.write_s" -> "s", "serve.files" -> "count",
    "streaming.bar_latency_p50_ms" -> "ms", "streaming.bar_latency_p90_ms" -> "ms",
    "streaming.sustained_ticks_per_s" -> "1/s", "streaming.batch_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.commit_ms" -> "ms",
    "streaming.generator_lag_ms" -> "ms") ++ QuerySuite.LayerUnits ++ Seq(
    "trace.wall_s" -> "s", "trace.unattributed_s" -> "s", "trace.overhead_s" -> "s",
    "trace.extra_jobs" -> "count")

  private def complete(ms: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val given = ms.toMap
    require(given.keySet.subsetOf(PerLayer.map(_._1).toSet),
      s"unlisted per-layer metrics: ${given.keySet -- PerLayer.map(_._1)}")
    PerLayer.map { case (n, u) => (n, given.getOrElse(n, 0.0), u) }
  }

  private def mb(b: Long): Double = b / 1048576.0

  /** Spans of the backtest proper (phases 1–7). */
  private val BacktestSpans = Seq("catalog.mount", "windows.tag", "sim.tickrun",
    "sweep.rank", "report.summary", "serve.write")

  /** The root span's self time and the spans as documents. */
  private def spanDocs(spans: Seq[Span]): (Double, ListMap[String, Any]) = {
    val self = Tracer.selfTimes(spans)
    val root = spans.head
    (self(0) / 1e9, ListMap(
      "spans" -> spans.map(s => ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "trace_id" -> s.traceId,
        "start_s" -> (s.startNs - root.startNs) / 1e9,
        "end_s" -> (s.endNs - root.startNs) / 1e9,
        "self_s" -> self(s.id) / 1e9)),
      "self_time_sum_s" -> spans.map(s => self(s.id)).sum / 1e9))
  }

  /** Per-layer metrics of a backtest workload from the spans and the
    * listener. `overhead` is the traced backtest's wall minus the untraced
    * entry point's, both warm, and the entry point's job count (see
    * [[overhead]]). */
  private def layers(t: Tracer, spans: Seq[Span], facts: Map[String, Double],
                     tickDir: String, outDir: String, overhead: (Double, Long))
      : (Seq[(String, Double)], ListMap[String, Any]) = {
    val l = t.listener
    val tagged = facts("tagged")
    val sim = l.get("sim.tickrun")
    val tickrun = t.seconds("sim.tickrun")
    val (unattributed, docs) = spanDocs(spans)
    val tracedJobs = BacktestSpans.map(l.get(_).jobs).sum
    val metrics = Seq(
      "ingest.load_s" -> t.seconds("ingest.load"),
      "ingest.write_s" -> t.seconds("ingest.write"),
      "ingest.bytes_written" -> l.get("ingest.write").outputBytes.toDouble,
      "ingest.files_written" -> files(tickDir, ".parquet").toDouble,
      "bars.render_s" -> t.seconds("bars.render"),
      "bars.shuffle_bytes" -> l.get("bars.render").shuffleBytes.toDouble,
      "bars.rows" -> l.get("bars.render").outputRecords.toDouble,
      "catalog.mount_s" -> t.seconds("catalog.mount"),
      "catalog.jobs" -> l.get("catalog.mount").jobs.toDouble,
      "windows.tag_s" -> t.seconds("windows.tag"),
      "windows.tick_amplification" -> tagged / Backtests.TotalTicks,
      "sim.tickrun_s" -> tickrun,
      "sim.kernel_ticks_per_s" -> tagged * facts("combos") / tickrun,
      "sim.task_s" -> sim.taskNs / 1e9,
      "sim.shuffle_bytes" -> sim.shuffleBytes.toDouble,
      "sim.peak_task_mem_mb" -> mb(sim.peakTaskMem),
      "sim.gc_s" -> sim.gcMs / 1e3,
      "sweep.rank_s" -> t.seconds("sweep.rank"),
      "sweep.tick_exchanges" -> sim.shuffleRecords / tagged,
      "report.summary_s" -> t.seconds("report.summary"),
      "report.jobs" -> l.get("report.summary").jobs.toDouble,
      "serve.write_s" -> t.seconds("serve.write"),
      "serve.files" -> files(outDir, "").toDouble,
      "trace.wall_s" -> spans.head.seconds,
      "trace.unattributed_s" -> unattributed,
      "trace.overhead_s" -> overhead._1,
      "trace.extra_jobs" -> (tracedJobs - overhead._2).toDouble)
    (metrics, docs ++ ListMap("traced_backtest_jobs" -> tracedJobs,
      "untraced_backtest_jobs" -> overhead._2))
  }

  /** Data files under a directory (part files, not Spark's markers). */
  private def files(dir: String, suffix: String): Long = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).count { f =>
      val n = f.getName
      n.startsWith("part-") && n.endsWith(suffix) && !n.endsWith(".crc")
    }.toLong
  }

  private def sameRanking(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toSeq.map(String.valueOf)).toSeq == b.map(_.toSeq.map(String.valueOf)).toSeq

  /** Runs `f` untraced (no job group) and returns its result, wall time
    * and job count. */
  private def untraced[T](t: Tracer)(f: => T): (T, (Double, Long)) = {
    t.drain()
    val before = t.listener.get("").jobs
    val (r, lap) = Lap.measure(f)
    t.drain()
    (r, (lap.wallS, t.listener.get("").jobs - before))
  }

  /** Tracing overhead, measured warm after the cold traced pipeline: the
    * entry point untraced, the traced backtest again, the entry point
    * again. Returns the first untraced result, the traced wall minus the
    * mean of the two untraced walls, the entry point's job count and the
    * three walls. */
  private def overhead[T](t: Tracer)(plain: Int => T)(traced: Tracer => Any)
      : (T, (Double, Long), ListMap[String, Any]) = {
    val (r, (u1, jobs)) = untraced(t)(plain(1))
    val (_, lap) = Lap.measure(traced(new Tracer(t.sc, t.traceId + "-warm", "warm:")))
    val (_, (u2, _)) = untraced(t)(plain(2))
    (r, (lap.wallS - (u1 + u2) / 2, jobs), ListMap("overhead_walls_s" ->
      ListMap("untraced_before" -> u1, "traced" -> lap.wallS, "untraced_after" -> u2)))
  }

  private def taggedCheck(seed: Long, facts: Map[String, Double]) =
    "windows_tagged_rows_equal_generated_replays" -> (facts("tagged") == Backtests.tagged(seed))

  /** Traced `etl_backtest`: the pipeline from the modules' public calls,
    * then the overhead measurement on the same tick table. */
  private def tracedEtl(seed: Long): Result = withSpark(GraftSession.localFromEnv()) { spark =>
    val exports = exportsFor(seed)
    val d = Backtests.Dirs(new File("etl_traced"))
    val t = new Tracer(spark.sparkContext, s"etl_backtest-$seed")
    val (ranked, facts, quality) = Backtests.tracedEtl(t, spark, exports, d)
    val spans = t.finish()
    val (plain, cost, walls) = overhead(t)(i => Backtest.run(spark,
      Backtests.feed(spark, d.ticks), s"etl_untraced$i", Backtests.RunLogic, Backtests.Cfg)
      .collect())(Backtests.tracedBacktest(_, spark, d.ticks, "etl_traced_warm"))
    val (metrics, extra) = layers(t, spans, facts, d.ticks, d.out, cost)
    val checks = Seq("traced_ranking_equals_untraced" -> sameRanking(ranked, plain),
      taggedCheck(seed, facts)) ++
      Backtests.ingestChecks(spark, d.ticks, Some(quality)) ++
      Backtests.barChecks(spark, d) ++ Backtests.rankingChecks(ranked, d)
    val (qMetrics, qChecks, qDocs) = queryPhase(spark, seed)
    val (attempted, failed) = counts(checks ++ qChecks,
      4L * Backtests.Scenarios + QuerySuite.Subset.size, 0L)
    Result(complete(metrics ++ qMetrics), checks ++ qChecks, attempted, failed,
      extra ++ walls ++ qDocs)
  }

  /** Traced `sweep_grid`: the set-up ingest and the sweep from the modules'
    * public calls, then the overhead measurement on the same table and
    * `Backtest.run` for the rsi=5/bb=8 check. */
  private def tracedSweep(seed: Long): Result = withSpark(GraftSession.localFromEnv()) { spark =>
    val exports = exportsFor(seed)
    val t = new Tracer(spark.sparkContext, s"sweep_grid-$seed")
    t.span("ingest.write")(Backtests.writeTicks(spark, exports, TickDir))
    val (ranked, facts) = Backtests.tracedSweep(t, spark, TickDir, "sweep_traced")
    val spans = t.finish()
    val (plain, cost, walls) = overhead(t)(i =>
      Backtests.sweepLap(spark, TickDir, s"sweep_untraced$i"))(
      Backtests.tracedSweep(_, spark, TickDir, "sweep_traced_warm"))
    val runRanked = Backtest.run(spark, Backtests.feed(spark, TickDir),
      "sweep_run", Backtests.RunLogic, Backtests.Cfg).collect()
    val (metrics, extra) = layers(t, spans, facts, TickDir, "sweep_traced", cost)
    val checks = Seq("traced_ranking_equals_untraced" -> sameRanking(ranked, plain),
      taggedCheck(seed, facts)) ++
      Backtests.ingestChecks(spark, TickDir, None) ++
      Backtests.sweepChecks(spark, plain, "sweep_untraced1",
        Some(Backtests.pnlByScenario(runRanked)))
    val (sMetrics, sChecks, batches, sDocs) = streamingPhase(spark, seed)
    // attempted adds every micro-batch; a failed batch stops the query and
    // fails `live_query_healthy`
    val (attempted, failed) = counts(checks ++ sChecks,
      4L * Backtests.Combos * Backtests.Scenarios + batches, 0L)
    Result(complete(metrics ++ sMetrics), checks ++ sChecks, attempted, failed,
      extra ++ walls ++ sDocs)
  }

  /** Where the traced `etl_backtest` run writes the query suite's tables,
    * its results and their oracle SQL; the launcher runs the oracle check. */
  private val QueryTables = "query_tables"
  private val QueryResults = "query_results"

  /** The `queries.<pack>` layer, measured in the traced `etl_backtest` run
    * after the backtest: the per-pack subset over tables generated from the
    * seed, with spans of its own. */
  private def queryPhase(spark: SparkSession, seed: Long)
      : (Seq[(String, Double)], Seq[(String, Boolean)], ListMap[String, Any]) = {
    val t = new Tracer(spark.sparkContext, s"queries-$seed")
    t.span("queries.tables")(QueryData.write(spark, QueryTables, seed))
    val runs = QuerySuite.run(spark, t, QueryTables, QuerySuite.Subset)
    val (_, docs) = spanDocs(t.finish())
    val rows = QuerySuite.writeResults(spark, QueryTables, QueryResults, QuerySuite.Subset)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      new File("oracle_sql.json"), QuerySuite.oracles(QuerySuite.Subset))
    (QuerySuite.layers(runs),
      QuerySuite.Subset.sorted.map(n => s"query_${n}_has_rows" -> (rows(n) > 0)),
      ListMap("queries" -> (docs ++ ListMap("runs" -> runs.map(r => ListMap(
        "name" -> r.name, "pack" -> r.pack, "wall_s" -> r.wallS, "planning_s" -> r.planningS,
        "driver_s" -> r.driverS, "jobs" -> r.jobs, "tasks" -> r.tasks,
        "shuffle_bytes" -> r.shuffleBytes, "spill_bytes" -> r.spillBytes, "gc_s" -> r.gcS,
        "rows" -> rows(r.name)))))))
  }

  /** The `streaming` layer, measured in the traced `sweep_grid` run after
    * the backtest, with spans of its own: the live loop's start-up, an
    * open-loop phase at the nominal rate for the bar latencies, then a rate
    * ladder for the sustained rate, the highest rate (the nominal one
    * included) whose 90th-percentile bar latency stays under
    * `Live.LatencyLimitMs`. Returns the metrics, the checks, the number of
    * micro-batches and the documents. */
  private def streamingPhase(spark: SparkSession, seed: Long)
      : (Seq[(String, Double)], Seq[(String, Boolean)], Long, ListMap[String, Any]) = {
    val t = new Tracer(spark.sparkContext, s"live_loop-$seed")
    val lines = LiveFeed.lines(seed, Live.NominalTicks + Live.Ladder.map(Live.ladderTicks).sum)
    val s = t.span("streaming.start")(Live.start(spark, lines))
    val (lat, lag) = t.span("streaming.nominal")(
      Live.paced(s, 0, Live.NominalTicks, Live.NominalRate))
    var sent = Live.NominalTicks
    val ladder = (Live.NominalRate -> Stats.percentile(lat, 90)) +: Live.Ladder.map { rate =>
      sent += Live.ladderTicks(rate)
      val (l, _) = t.span("streaming.ladder")(
        Live.paced(s, sent - Live.ladderTicks(rate), sent, rate))
      rate -> Stats.percentile(l, 90)
    }
    val sustained = ladder.filter(_._2 <= Live.LatencyLimitMs).map(_._1).maxOption.getOrElse(0.0)
    val progress = s.query.recentProgress.toSeq.filter(_.numInputRows > 0)
    val ops = progress.flatMap(_.stateOperators.headOption)
    val checks = Live.checks(spark, s, lines, sent)
    s.stop()
    val (_, docs) = spanDocs(t.finish())
    val metrics = Seq(
      "streaming.bar_latency_p50_ms" -> Stats.percentile(lat, 50),
      "streaming.bar_latency_p90_ms" -> Stats.percentile(lat, 90),
      "streaming.sustained_ticks_per_s" -> sustained,
      "streaming.batch_ms" ->
        Stats.median(progress.map(_.durationMs.get("triggerExecution").doubleValue)),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.state_rows" -> ops.last.numRowsTotal.toDouble,
      "streaming.state_bytes" -> ops.last.memoryUsedBytes.toDouble,
      "streaming.commit_ms" -> Stats.median(ops.map(_.commitTimeMs.toDouble)),
      "streaming.generator_lag_ms" -> Stats.percentile(lag, 90))
    (metrics, checks, progress.size.toLong, ListMap("streaming" -> (docs ++ ListMap(
      "bar_latency_ms" -> pctDoc(lat), "generator_lag_ms" -> pctDoc(lag),
      "ladder_p90_ms" -> ListMap(ladder.map { case (r, p) => f"$r%.0f" -> p }: _*)))))
  }
}
