package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries._

/** Seeded tables in the shape of the query suite's testdata (the same
  * table names, columns and types; value domains like the synthetic
  * TPC-H-style star schema, the `events` stream, `documents` and
  * `embeddings`), small enough to write in seconds. Written with one
  * partition per table, so the same seed gives the same files. */
object QueryData {

  private val Vocab = Seq("a", "the", "table", "row", "scan", "join", "agg", "sort",
    "hash", "key", "value", "part", "line", "order", "query", "spark", "batch",
    "stream", "window", "group", "filter", "merge", "column", "data", "fast", "slow",
    "big", "small", "customer")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def r(c: Int): Column = rand(seed * 101L + c)
    def ri(c: Int, n: Int): Column = floor(r(c) * n).cast("int")
    def pick(c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), ri(c, xs.size) + 1)
    def h(c: Int, cols: Column*): Column = pmod(hash(lit(seed) +: lit(c) +: cols: _*), lit(Int.MaxValue))
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF("id")
    def day(from: String, c: Int, days: Int): Column =
      date_add(lit(from).cast("date"), ri(c, days)).cast("timestamp_ntz")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    save("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    save("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", rows(1500).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), ri(1, 25).as("c_nationkey"),
      round(r(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE"))
        .as("c_mktsegment")))
    save("supplier", rows(100).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), ri(4, 25).as("s_nationkey"),
      round(r(5) * 11000 - 1000, 2).as("s_acctbal")))
    save("part", rows(2000).select(id.as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "blue", "large", "green")),
        pick(7, Seq("ring", "widget", "bolt", "gear", "nut"))).as("p_name"),
      concat(lit("Brand#"), ri(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")).as("p_type"),
      (ri(10, 50) + 1).as("p_size"), round(lit(900.0) + id * 0.1, 2).as("p_retailprice")))
    save("orders", rows(15000).select(id.as("o_orderkey"),
      floor(r(11) * 1500).cast("long").as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(r(13) * 500000 + 1000, 2).as("o_totalprice"),
      day("1992-01-01", 14, 2557).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", rows(60000).select(floor(r(16) * 15000).cast("long").as("l_orderkey"),
      floor(r(17) * 2000).cast("long").as("l_partkey"),
      floor(r(18) * 100).cast("long").as("l_suppkey"), (ri(19, 7) + 1).as("l_linenumber"),
      (ri(20, 50) + 1).cast("double").as("l_quantity"),
      round(r(21) * 100000 + 900, 2).as("l_extendedprice"),
      (ri(22, 11) / 100.0).as("l_discount"), (ri(23, 9) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"), pick(25, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-01", 26, 2500).as("l_shipdate")))
    save("events", rows(20000).select(id.as("event_id"),
      expr(s"timestampadd(MICROSECOND, cast(floor(rand(${seed * 101L + 27}) * 2592000000000) " +
        "as bigint), TIMESTAMP_NTZ'2024-01-01 00:00:00')").as("ts"),
      floor(r(28) * 150).cast("long").as("user_id"),
      pick(29, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(r(30) * 490 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), ri(31, 100), lit("}")).as("props")))
    // every tenth document repeats the one before it, so the dedup
    // queries find exact duplicates
    val base = when(id % 10 === 9, id - 1).otherwise(id)
    val words = transform(sequence(lit(1), h(32, base) % 60 + 20), i =>
      element_at(array(Vocab.map(lit): _*), (pmod(hash(lit(seed), base, i), lit(Vocab.size)) + 1)
        .cast("int")))
    save("documents", rows(1000).select(id.as("doc_id"), concat_ws(" ", words).as("text"),
      pick(33, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", rows(1000).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(hash(lit(seed), id, i), lit(20001)) - 10000) / 10000.0).cast("float"))
        .as("embedding"),
      (h(34, id) % 10).cast("int").as("label")))
  }
}

/** One query of the suite as measured in a traced run. */
final case class QueryRun(name: String, pack: String, wallS: Double, planningS: Double,
                          driverS: Double, jobs: Long, tasks: Long, shuffleBytes: Long,
                          spillBytes: Long, gcS: Double)

/** A per-pack subset of the registered queries, run the way the suite's
  * bench runs them: name order, a `noop` sink, the cache cleared between
  * queries. */
object QuerySuite {

  val Packs: Seq[(String, QueryPack)] = Seq("relational" -> RelationalQueries,
    "timeseries" -> TimeseriesQueries, "text" -> TextQueries, "vector" -> VectorQueries,
    "ledger" -> LedgerQueries, "operator" -> OperatorQueries)

  /** Two queries per pack, each with a DuckDB oracle. */
  val Subset: Seq[String] = Seq(
    "q01_pricing_summary", "q03_region_rollup",
    "q15_ohlcv_hourly", "q21_rsi",
    "q25_text_metrics", "q26_dedup_exact",
    "q33_cosine_topk", "q35_label_centroids",
    "q36_lastwins_dedup", "q38_user_ranking",
    "q46_macd", "q51_robustness")

  private val registry: Map[String, (String, QueryDef)] =
    Packs.flatMap { case (p, q) => q.queries.map { case (n, d) => n -> (p, d) } }.toMap

  def oracles(names: Seq[String]): Map[String, String] =
    names.flatMap(n => registry(n)._2.oracle.map(n -> _)).toMap

  /** Sums the planning phases (analysis, optimization, physical planning)
    * of every query execution that finishes. */
  private final class Planning extends QueryExecutionListener {
    private var total = 0L
    private def add(qe: QueryExecution): Unit = synchronized {
      total += qe.tracker.phases.collect {
        case (p, s) if p != "parsing" => s.durationMs
      }.sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    def ms: Long = synchronized(total)
  }

  /** Runs `names` over the tables in `dir`, each in a span named
    * `queries.<pack>/<name>`; returns one row per query. */
  def run(spark: SparkSession, t: Tracer, dir: String, names: Seq[String]): Seq[QueryRun] = {
    val planning = new Planning
    spark.listenerManager.register(planning)
    try names.sorted.map { name =>
      val (pack, q) = registry(name)
      spark.catalog.clearCache()
      t.drain()
      val plan0 = planning.ms
      val span = s"queries.$pack/$name"
      val (ms0, ms1) = t.span(span) {
        val ms0 = System.currentTimeMillis()
        q.fn(spark, dir).write.format("noop").mode("overwrite").save()
        (ms0, System.currentTimeMillis())
      }
      t.drain()
      val w = t.listener.get(span)
      val wall = t.seconds(span)
      QueryRun(name, pack, wall, (planning.ms - plan0) / 1e3,
        Stats.selfTime(ms0, ms1, w.taskIntervals.toSeq) / 1e3, w.jobs, w.tasks,
        w.shuffleBytes, w.spillBytes, w.gcMs / 1e3)
    } finally spark.listenerManager.unregister(planning)
  }

  /** Writes each query's result under `out/<name>` for the oracle check,
    * outside the timed spans; returns the row counts. */
  def writeResults(spark: SparkSession, dir: String, out: String,
                   names: Seq[String]): Map[String, Long] = names.map { name =>
    val df = registry(name)._2.fn(spark, dir)
    df.write.mode("overwrite").parquet(s"$out/$name")
    name -> spark.read.parquet(s"$out/$name").count()
  }.toMap

  /** The per-pack layer metrics. */
  def layers(runs: Seq[QueryRun]): Seq[(String, Double)] = Packs.map(_._1).flatMap { p =>
    val rs = runs.filter(_.pack == p)
    Seq(s"queries.$p.wall_s" -> rs.map(_.wallS).sum,
      s"queries.$p.planning_s" -> rs.map(_.planningS).sum,
      s"queries.$p.driver_s" -> rs.map(_.driverS).sum,
      s"queries.$p.jobs" -> rs.map(_.jobs).sum.toDouble,
      s"queries.$p.tasks" -> rs.map(_.tasks).sum.toDouble,
      s"queries.$p.shuffle_bytes" -> rs.map(_.shuffleBytes).sum.toDouble,
      s"queries.$p.spill_bytes" -> rs.map(_.spillBytes).sum.toDouble,
      s"queries.$p.gc_s" -> rs.map(_.gcS).sum)
  }

  val LayerUnits: Seq[(String, String)] = Packs.map(_._1).flatMap { p =>
    Seq("wall_s" -> "s", "planning_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
      "tasks" -> "count", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s")
      .map { case (m, u) => s"queries.$p.$m" -> u }
  }
}
