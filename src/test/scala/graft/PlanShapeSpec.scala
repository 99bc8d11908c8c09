package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression gate: the scale claims in README's "Scale
  * design" section, asserted against the actual physical plans so a
  * refactor that silently drops pushdown, un-broadcasts a dim join, or
  * adds an Exchange to the as-of join fails CI — not just a bench.
  * (Plans come from the formatted explain of the registered queries on
  * the sf0.001 testdata.) */
class PlanShapeSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def countOf(haystack: String, needle: String): Int =
    needle.r.findAllMatchIn(haystack).size

  test("q02 filter+projection push into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(!p.contains("PushedFilters: []"), "pushed filter list is empty")
    // pruned read schema, not the full table
    assert(p.contains("ReadSchema"))
  }

  test("q03 dimension lookups broadcast (no shuffle join for small dims)") {
    val p = plan("q03_region_rollup")
    assert(p.contains("BroadcastHashJoin"), "dim join is not broadcast")
  }

  test("q18 as-of join is the single-shuffle union+window shape") {
    val p = plan("q18_asof_join")
    // one Exchange for the (key) window partitioning + the final sort's
    // range Exchange; anything more means the idiom regressed
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    assert(exchanges <= 2, s"as-of join grew to $exchanges exchanges:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q74 native as-of keeps the sort-merge-join shape") {
    val p = plan("q74_asof_native")
    assert(p.contains("AsOfMergeJoin"), "native as-of node missing")
    // one hash Exchange per child + the final orderBy's range Exchange;
    // NO union of the two sides, NO window
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    assert(exchanges <= 3, s"native as-of grew to $exchanges exchanges:\n$p")
    assert(!p.contains("Union"), "union crept into the native as-of plan")
    assert(!p.contains("Window"), "window crept into the native as-of plan")
  }

  test("q15 OHLCV shares one key Exchange between window and aggregation") {
    val p = plan("q15_ohlcv_hourly")
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    // one (keys, bucket) aggregate + final orderBy range exchange
    assert(exchanges <= 3, s"OHLCV plan grew to $exchanges exchanges:\n$p")
  }

  test("q25 text metrics carry no interpreted higher-order lambdas") {
    // HOF lambdas (filter/transform/aggregate with lambdafunction) don't
    // codegen and knock the whole stage out of whole-stage codegen — the
    // metrics projection must stay on plain codegen'd built-ins. (An
    // unexecuted AQE plan prints no codegen ids, so assert on the
    // expression shape instead.)
    val p = plan("q25_text_metrics")
    assert(!p.contains("lambdafunction"),
      "interpreted HOF lambda crept into the metrics projection:\n" + p)
  }

  test("q31 langid joins the broadcast marker dim (no interpreted array scans)") {
    val p = plan("q31_langid")
    assert(p.contains("BroadcastHashJoin"), "marker dim not broadcast")
    assert(!p.toLowerCase.contains("arrayfilter"), "HOF filter crept back in")
  }

  test("no registered query plans a cartesian product") {
    // the dedup/similarity families are the likely offenders if a join
    // key is ever dropped — check them all at the logical level
    for (name <- Seq("q26_dedup_exact", "q27_ngram_jaccard", "q28_minhash_lsh",
      "q30_simhash_pairs", "q33_cosine_topk", "q44_cosine_topk_blocked",
      "q70_embedding_neardup", "q34_lsh_topk", "q71_ivf_ann", "q78_ivf_pq",
      "q77_currency_format")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
    }
  }

  test("q27/q28 verify joins carry no static hash-join hints") {
    // the round-5 shape hinted SHUFFLE_HASH on the fat docs relations
    // (build ∝ docs/partition → OOM at sf100); a candidate-stream hint
    // then OOMed on q27's 30M-candidate verify. Hints can't see runtime
    // sizes: join strategy is AQE's call (GraftSession enables runtime
    // SMJ→SHJ conversion), so the static plan must contain NO
    // ShuffledHashJoin — one appearing means a hint crept back in.
    for (name <- Seq("q27_ngram_jaccard", "q28_minhash_lsh")) {
      val p = plan(name)
      assert(countOf(p, "\\(\\d+\\) ShuffledHashJoin") === 0,
        s"$name carries a static shuffle-hash hint again:\n$p")
    }
  }

  test("q73 salted as-of keeps its bounded-task shape (no blowup vs q18)") {
    val p = plan("q73_asof_salted")
    // within-bucket window + carry window + repair join + final sort:
    // a handful of exchanges over metadata-sized sides, never a
    // cartesian and never a shuffle of payload per bucket replica
    assert(!p.contains("CartesianProduct"))
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    assert(exchanges <= 7, s"salted as-of grew to $exchanges exchanges:\n$p")
  }

  test("renderAllTimeframes: one input scan, no Window, at most 2 Exchanges") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("bars_plan").toString
    spark.range(0, 1000, 1, 2)
      .select(lit("EURUSD").as("symbol"), col("id").as("arrival_idx"),
        timestamp_seconds(lit(1700000000L) + col("id") * 7L).as("timestamp"),
        (lit(100.0) + col("id") / 1000.0).as("mid"), lit(1.0f).as("volume"))
      .write.mode("overwrite").parquet(dir)
    val bars = graft.bars.Ohlcv.renderAllTimeframes(spark.read.parquet(dir),
      Seq(col("symbol")), col("timestamp"), col("mid"), col("volume"),
      col("arrival_idx"))
    val p = bars.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // M1 aggregate on (symbol, bucket), then the roll-up aggregate on
    // (symbol, bar_start, timeframe): the ticks are read and shuffled once
    assert(countOf(p, "\\(\\d+\\) Scan parquet") === 1, s"input scanned more than once:\n$p")
    assert(countOf(p, "\\(\\d+\\) Window") === 0, s"window operator in the bar plan:\n$p")
    val exchanges = countOf(p, "\\(\\d+\\) Exchange")
    assert(exchanges <= 2, s"bar plan grew to $exchanges exchanges:\n$p")
  }
}
