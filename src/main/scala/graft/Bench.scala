package graft

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries execute in name order (stable run-to-run); a warmup action
  * first pays session/codegen startup so per-query numbers reflect the
  * plans, not JVM warmup. Results are fully materialized through the
  * `noop` sink — `count()` alone would let Catalyst prune most of the
  * computed columns.
  *
  * Task-metric attribution lives in [[TaskMetricsCensus]].
  */
object Bench {

  /** 1-minute host load average; -1.0 where unreadable (non-Linux), which
    * admits immediately and never reports contention. */
  private def readLoadavg(): Double = scala.util.Try(new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
    .split(' ')(0).toDouble).getOrElse(-1.0)

  /** Loadavg-gated witness admission (round 15: the mint gate's
    * discipline applied to witnesses — round 14's q87/q91 witnesses ran
    * at loadavg 8–12 against certs of 0.52/1.73 s and adjudicated
    * nothing). Sample the 1-minute load; above `gate`, sleep and
    * re-sample until quiet or the SHARED deferral budget runs out (the
    * budget spans all witnesses of one bench, so a permanently-loud host
    * cannot stall the suite unboundedly). Returns
    * (loadAtAdmission, deferrals, remainingBudgetMs); the caller marks
    * `contended` when the admission load still exceeds the gate, so a
    * still-loud witness is visibly self-disqualifying in the artifact
    * instead of masquerading as a clean number. */
  private[graft] def awaitQuiet(readLoad: () => Double, sleep: Long => Unit,
      gate: Double, sleepMs: Long, budgetMs: Long): (Double, Int, Long) = {
    var budget = budgetMs
    var deferred = 0
    var load = readLoad()
    while (load > gate && budget >= sleepMs) {
      sleep(sleepMs)
      budget -= sleepMs
      deferred += 1
      load = readLoad()
    }
    (load, deferred, budget)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // A21: optional median-of-N per query (reference benchmark protocol:
    // median of repeated runs absorbs JIT/GC noise). Default 1 run —
    // the driver contract is unchanged unless the env asks for more.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt.max(1)
    // Dev-only subset filter (comma-separated query names) for scale-ladder
    // runs at big SFs, where the documented-quadratic exact paths would
    // dominate wall-clock without adding information. Unset = full suite
    // (the driver contract).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Dev-only complement of ONLY: run the full registry MINUS a short
    // list (the full-suite ladders drop only the two contract-quadratic
    // exact baselines, q33/q44, whose scale paths are q34/q71/q78).
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // `var`: a query failure that takes the SparkContext down with it
    // (executor OOM in local mode stops the context) must not cascade —
    // the round-10 sf10 full-suite run lost 11 healthy queries to one
    // crash. After any failure the harness checks the context and
    // rebuilds the session, so each query is measured on a live engine.
    var spark = GraftSession.localFromEnv()
    val census = new TaskMetricsCensus
    spark.sparkContext.addSparkListener(census)
    // warmup: JVM + parquet reader + codegen paths. EVERY fact table
    // present warms (count() pages it through the reader): round 13's
    // subset-ladder sessions proved warming only the first table leaves
    // the first query of every other family paying the cold read — a
    // 2-run median there is mean(cold, warm), which mis-read q95's sf100
    // decade point as 112 s (warm 3-run: 29.1 s).
    val warmTables = Seq("lineitem", "documents", "events", "embeddings")
      .filter(t => java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet")))
    def warm(): Unit =
      warmTables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    warm()
    // Optional UNMEASURED warm lap over the selected queries (dev-only,
    // for subset ladder sessions): table warmup pays the read path, but
    // the alphabetically-FIRST query of a subset session still pays the
    // session's JIT + whole-stage-codegen compilation inside its
    // measured runs — the round-14 sf10full ladders read q100 anywhere
    // from 4.4 to 17.4 s purely by session position (gc column 10.7 s
    // cold vs 2.8 s warm). One unmeasured lap makes every query's
    // measured runs equally warm. Off by default: the driver contract
    // measures cold-inclusive, and the certificate mint's median-of-3
    // already absorbs one cold run.
    val warmLap = sys.env.get("SPARK_GRAFT_BENCH_WARM_LAP").contains("1")
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val metricsOut =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    def drain(): Unit = org.apache.spark.graftbridge.ListenerDrain
      .drain(spark.sparkContext)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) &&
        !skip.contains(name) }
    if (warmLap) selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warm lap $name failed: $e")
      }
    }
    val results = selected
      .flatMap { case (name, fn) =>
      drain(); census.reset()
      // Guide §1.5: label the query's jobs so the UI/event log reads per
      // query (thread-local; measurement-neutral).
      spark.sparkContext.setJobDescription(s"bench: $name")
      // A crashed run's elapsed time is NOT a measurement: only
      // successful runs enter `times` (and so the median); failures are
      // recorded in the JSON's errors array, and a query with zero
      // successful runs is omitted from the queries map entirely so a
      // fast-fail crash can never deflate the reported median.
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            e.getStackTrace.take(8)
              .foreach(f => System.err.println(s"    at $f"))
            failed += name
            if (spark.sparkContext.isStopped) {
              System.err.println(s"[bench] SparkContext died during $name — " +
                "rebuilding the session so later queries still measure")
              spark = GraftSession.localFromEnv()
              spark.sparkContext.addSparkListener(census)
              warm()
              // The rebuild's warmup tasks must not fold into this
              // query's metrics row: drain the listener bus, then zero
              // the census. (Earlier successful runs' metrics go with
              // it — the row is marked unreliable below anyway.)
              drain(); census.reset()
            }
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Drop per-query caches (dedup/similarity intermediates) so they
        // don't accumulate heap pressure across the 45-query session.
        spark.catalog.clearCache()
        if (ok) Some(dt) else None
      }.sorted
      spark.sparkContext.setJobDescription(null)
      val okRuns = times.length
      // true median: mean of the two middle samples when runs is even
      val mid = times.length / 2
      val med = if (times.isEmpty) Double.NaN
                else if (times.length % 2 == 1) times(mid)
                else (times(mid - 1) + times(mid)) / 2.0
      drain()
      // Locale-proof decimal formatting (the BenchCertify Locale.ROOT
      // lesson): BigDecimal, never an f-interpolator.
      def dec(v: Double, scale: Int): String =
        BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
      // Per-run averages divide by SUCCESSFUL runs, not the requested
      // count; a row touched by any failure is flagged unreliable (a
      // crash's partial task metrics, and possibly a census reset, make
      // its deltas unattributable).
      val denom = math.max(okRuns, 1)
      def gb(v: Long): String = dec(v.toDouble / denom / 1e9, 3)
      val unreliable =
        if (failed.contains(name)) s""","unreliable":true,"ok_runs":$okRuns"""
        else ""
      metricsOut(name) =
        s"""{"disk_spill_gb":${gb(census.diskSpill.get)},""" +
        s""""mem_spill_gb":${gb(census.memSpill.get)},""" +
        s""""shuffle_write_gb":${gb(census.shufWrite.get)},""" +
        s""""shuffle_read_gb":${gb(census.shufRead.get)},""" +
        s""""gc_s":${dec(census.gcMs.get.toDouble / denom / 1e3, 1)},""" +
        s""""peak_task_mem_mb":${dec(census.peakTaskMem.get / 1e6, 0)}""" +
        unreliable + "}"
      if (okRuns == 0) None else Some(name -> med)
    }
    // 3-decimal seconds: millisecond resolution is plenty, and the compact
    // line survives log-tail capture (a full-precision 69-query line is
    // ~3.3 KB and gets truncated by downstream tail buffers).
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    // ---- witness adjudication: the artifact carries its own contention
    // verdict. In-suite outliers on this host are co-tenancy (a query
    // reading 10–40× its committed median with unchanged code and a
    // clean plan — the pattern every round since 7 adjudicated by hand).
    // Any query whose in-suite median exceeds 5× its CERTIFICATE median
    // (plus a 2 s floor: micro-query jitter is not contention) is re-run
    // at suite end, when no co-tenant suite work remains, and the
    // re-measured median lands in a "witnessed" block with the load
    // average at witness time. Witness numbers never replace the suite
    // medians — they adjudicate them. Gated on the certificate's own SF
    // (a scale-ladder run legitimately dwarfs sf0.1 medians). ALL
    // outliers are witnessed by default — round 12 proved a fixed cap
    // (then 8) defeats the feature on exactly the contended runs it
    // exists for, leaving 18 outliers formally unadjudicated; a witness
    // run costs ~1 s at sf0.1, so witnessing every outlier is cheap.
    // WITNESS_MAX remains an env override for ladder runs where a
    // witness is expensive; any overflow stays NAMED in
    // "witness_skipped" (no silent caps). Round 15: witnesses are
    // ADMISSION-GATED on loadavg like the mint (awaitQuiet) — each
    // witness defers while the host is loud (shared budget), and one
    // that runs loud anyway carries "contended":true, so it visibly
    // adjudicates nothing. Reference discipline mirrored:
    // tests/simulation/benchmark/test_throughput_regression.py's
    // median-of-repeats policy.
    val witnessBlock: String = {
      val certPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_CERT", "bench_certificate.json"))
      val disabled = sys.env.get("SPARK_GRAFT_BENCH_WITNESS").contains("0")
      val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
      if (disabled || !java.nio.file.Files.exists(certPath)) ""
      else {
        val cert = tools.BenchCertificate.read(certPath)
        if (cert.sf != sfBase) ""
        else {
          val outliers = results.flatMap { case (name, med) =>
            cert.queries.get(name)
              .filter(base => med > math.max(base * 5.0, 2.0))
              .map(base => (name, med, base, med / base))
          }.sortBy(-_._4)
          if (outliers.isEmpty) ""
          else {
            val maxW = sys.env.get("SPARK_GRAFT_BENCH_WITNESS_MAX")
              .map(_.toInt).getOrElse(outliers.length)
            val wRuns =
              sys.env.getOrElse("SPARK_GRAFT_BENCH_WITNESS_RUNS", "3").toInt
            val (taken, dropped) = outliers.splitAt(maxW)
            // Witness admission gate (see awaitQuiet): same 4.0 default
            // as the mint scripts; the deferral budget is SHARED across
            // all of this bench's witnesses.
            val gate = sys.env
              .getOrElse("SPARK_GRAFT_WITNESS_LOADAVG_MAX", "4.0").toDouble
            val gateSleepMs = sys.env
              .getOrElse("SPARK_GRAFT_WITNESS_SLEEP_MS", "30000").toLong
            var deferBudgetMs = sys.env
              .getOrElse("SPARK_GRAFT_WITNESS_DEFER_BUDGET_MS", "600000")
              .toLong
            val entries = taken.map { case (name, med, base, ratio) =>
              val (load, deferred, remaining) = awaitQuiet(
                () => readLoadavg(), Thread.sleep, gate, gateSleepMs,
                deferBudgetMs)
              deferBudgetMs = remaining
              val contended = load > gate
              val times = (1 to wRuns).flatMap { _ =>
                val t0 = System.nanoTime()
                val ok =
                  try {
                    SparkEntry.queries(name)(spark, sfDir)
                      .write.format("noop").mode("overwrite").save()
                    true
                  } catch { case e: Throwable =>
                    System.err.println(s"[bench] witness $name failed: $e")
                    false
                  }
                val dt = (System.nanoTime() - t0) / 1e9
                spark.catalog.clearCache()
                if (ok) Some(dt) else None
              }.sorted
              val wm = times.length / 2
              val wMedStr =
                if (times.isEmpty) "null"
                else if (times.length % 2 == 1) fmt(times(wm))
                else fmt((times(wm - 1) + times(wm)) / 2.0)
              s""""$name":{"suite_sec":${fmt(med)},"witness_sec":$wMedStr,""" +
                s""""witness_runs":${times.length},"cert_sec":${fmt(base)},""" +
                s""""suite_over_cert":${fmt(ratio)},"loadavg":${fmt(load)},""" +
                s""""deferred":$deferred,"contended":$contended}"""
            }
            val skipped =
              if (dropped.isEmpty) ""
              else dropped.map("\"" + _._1 + "\"")
                .mkString(""","witness_skipped":[""", ",", "]")
            entries.mkString(""","witnessed":{""", ",", "}") + skipped
          }
        }
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errs =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$errs$witnessBlock,"sf":"$sfDir"}"""
    println(json)
    // The per-query line grows with the registry (84 queries ≈ 3 KB) and
    // can outgrow a log tail buffer, front-truncating into unparseable
    // JSON. Print a short fixed-size summary line LAST so tail capture
    // always ends with something parseable; the full line above and the
    // file below stay the authoritative per-query record.
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.length},"failed":$failedArr,"sf":"$sfDir"}"""
    println(summary)
    // r18 (round-17 verdict #1 "what's wrong" / Next #2): the first line
    // above embeds the witness block and can run to hundreds of KB, so a
    // log-tail capture front-truncates it and a consumer that parses the
    // captured tail sees per-query seconds from NO line (the short
    // summary has none) — per-query round-over-round comparison went
    // blind. The LAST stdout line is therefore the original driver
    // contract, compact: total + name→median seconds only, no witness /
    // errors detail (~3 KB at 102 queries — survives tail buffers).
    // Witness/cert adjudication detail stays in the full line and in
    // $SPARK_GRAFT_BENCH_OUT; this line is an ADDITION, nothing removed.
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_queries":${results.length},"failed":$failedArr,"sf":"$sfDir"}"""
    println(compact)
    // sbt prefixes stdout with "[info] ", which breaks naive line-parsers —
    // also persist the JSON to a file so consumers never scrape logs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_out.json")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    // Plan-shape sidecar: the formatted physical plan of the 5 most
    // expensive queries, written next to the bench artifact so a plan
    // audit (Exchange count, broadcast vs shuffle joins, PushedFilters,
    // WholeStageCodegen spans) reads the round's artifact instead of
    // re-deriving plans in a separate session. Planning only — with one
    // caveat: size-ROUTED operators (simhash pairs, clusters,
    // contamination, LM scoring) run their bounded route probe at
    // DataFrame construction, so building a plan here can cost a
    // column-pruned count/limit job — milliseconds on the parquet
    // inputs every registered query reads, never a recompute of the
    // measured pipeline.
    val top5 = results.sortBy(-_._2).take(5).map(_._1)
    val plans = top5.map { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      s"========== $n ==========\n" + qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out + ".plans.txt"), plans.mkString("\n"))
    // Memory-regime sidecar: per-query executor metrics (per-run means;
    // peak is a max), so a scale-ladder artifact carries the evidence of
    // WHICH regime it ran in — a >1 decade time exponent with linear
    // work volume and exploding spill bytes is a local-JVM artifact, not
    // an operator property.
    // Unit wording matches the denominator exactly: failure-touched rows
    // divide by ok_runs (not the requested count), and after a mid-query
    // session rebuild the census reset means such a row covers only
    // post-rebuild runs — which is precisely what its unreliable flag
    // marks.
    val metricsJson = metricsOut
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{\"unit\":\"per-successful-run mean (" + runs +
        " requested; rows flagged unreliable divide by their ok_runs and," +
        " after a mid-query session rebuild, cover only post-rebuild runs)\"" +
        ",\"queries\":{",
        ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out + ".metrics.json"), metricsJson + "\n")
    spark.stop()
  }
}
