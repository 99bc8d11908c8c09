package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Broker JSON tick export → validated, UTC-normalized, type-optimized
  * tick tables (the reference's import pipeline,
  * `/root/reference/python/data_management/importers/tick_importer.py`).
  *
  * One lazy lineage per import batch: `spark.read.schema(...).json` →
  * offset shift → session recalc → dtype downcast → 13-column projection →
  * `write.partitionBy(broker_type, symbol).parquet`. Parallelism, predicate
  * pushdown and column pruning come from the layout; no per-file driver
  * loops. Quality checks (P5) and duplicate detection (J5) are DataFrame
  * aggregates/anti-joins over the same lineage.
  */
object TickIngest {

  /** Raw export shape: {"metadata": {...}, "ticks": [...]} — one JSON doc
    * per file (`tick_importer.py:185-263`, FIXTURES.md §1). */
  val ExportSchema: StructType = StructType(Seq(
    StructField("metadata", StructType(Seq(
      StructField("symbol", StringType),
      StructField("broker_type", StringType),
      StructField("data_collector", StringType), // legacy alias of broker_type
      StructField("broker", StringType),
      StructField("broker_utc_offset_hours", IntegerType),
      StructField("data_format_version", StringType),
      StructField("market_type", StringType)))),
    StructField("ticks", ArrayType(StructType(Seq(
      StructField("timestamp", StringType),
      StructField("time_msc", LongType),
      StructField("collected_msc", LongType),
      StructField("bid", DoubleType),
      StructField("ask", DoubleType),
      StructField("last", DoubleType),
      StructField("tick_volume", LongType),
      StructField("real_volume", DoubleType),
      StructField("chart_tick_volume", LongType),
      StructField("spread_points", LongType),
      StructField("spread_pct", DoubleType),
      StructField("tick_flags", StringType),
      StructField("session", StringType)))))))

  /** The 13-column at-rest schema (`tick_importer.py:369-375`); extra
    * export columns are dropped, dtypes downcast (`:548-567`). */
  val TickColumns: Seq[String] = Seq(
    "timestamp", "time_msc", "collected_msc", "bid", "ask", "last",
    "tick_volume", "real_volume", "chart_tick_volume", "spread_points",
    "spread_pct", "tick_flags", "session")

  /** Broker-type normalization (`tick_importer.py:99-112`): lower, trim,
    * non [a-z0-9_] → '_'. `lower` is the JVM's case mapping (the session
    * turns ICU's off, see [[graft.GraftSession]]). A non-ASCII letter
    * ends as '_' unless it lowers to ASCII, as the Kelvin sign does to
    * 'k'. */
  def normalizeBrokerType(c: Column): Column =
    regexp_replace(lower(trim(c)), "[^a-z0-9_]", "_")

  /** Session label from UTC hour — same map as
    * [[graft.discovery.Discovery.sessionFromUtcHour]]. */
  private def session(tsCol: Column) =
    graft.discovery.Discovery.sessionFromUtcHour(hour(tsCol))

  /** Load one or more export JSON files into normalized tick rows.
    *
    * Applies (in reference order): timestamp parse ("yyyy.MM.dd HH:mm:ss"),
    * broker UTC offset shift on both timestamp and time_msc
    * (`tick_importer.py:413-450`), session recalculation from the shifted
    * UTC time, `collected_msc` backfill to 0 for pre-v1.3.0 exports
    * (`:255-257`), legacy `data_collector` → `broker_type` fallback
    * (`:674-687`), and dtype optimization. Arrival order is preserved as
    * `arrival_idx` (per-file monotonic) — `collected_msc` monotonicity
    * semantics depend on it (`:291-293`).
    */
  def loadExports(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.schema(ExportSchema)
      .option("multiLine", "true").json(paths: _*)
      .withColumn("source_file", input_file_name())
    val meta = raw
      .withColumn("broker_type",
        normalizeBrokerType(coalesce(col("metadata.broker_type"),
          col("metadata.data_collector"))))
      .withColumn("symbol", col("metadata.symbol"))
      .withColumn("offset_h", coalesce(col("metadata.broker_utc_offset_hours"), lit(0)))
      .withColumn("data_format_version",
        coalesce(col("metadata.data_format_version"), lit("1.0.0")))
    val ticks = meta.select(
      col("broker_type"), col("symbol"), col("offset_h"),
      col("data_format_version"), col("source_file"),
      posexplode(col("ticks")).as(Seq("arrival_idx", "t")))
    ticks.select(
      col("broker_type"), col("symbol"), col("data_format_version"),
      col("source_file"), col("arrival_idx").cast("long").as("arrival_idx"),
      // broker clock shifted to UTC by -offset? The reference ADDS the
      // configured offset hours (broker local -> UTC) on both clocks.
      (to_timestamp(col("t.timestamp"), "yyyy.MM.dd HH:mm:ss")
        + col("offset_h") * expr("INTERVAL 1 HOUR")).as("timestamp"),
      (col("t.time_msc") + col("offset_h").cast("long") * 3600000L).as("time_msc"),
      coalesce(col("t.collected_msc"), lit(0L)).as("collected_msc"),
      col("t.bid").cast("float").as("bid"),
      col("t.ask").cast("float").as("ask"),
      col("t.last").cast("float").as("last"),
      col("t.tick_volume").cast("int").as("tick_volume"),
      col("t.real_volume").cast("float").as("real_volume"),
      col("t.chart_tick_volume").cast("int").as("chart_tick_volume"),
      col("t.spread_points").cast("int").as("spread_points"),
      col("t.spread_pct").cast("float").as("spread_pct"),
      col("t.tick_flags").as("tick_flags"))
      .withColumn("session", session(col("timestamp")))
  }

  /** Quality report (`tick_importer.py:569-593`): invalid quotes (bid<=0
    * or ask<=0), excessive spread (spread_pct > maxSpreadPct), price jumps
    * (|pct_change(bid)| > maxJumpPct in arrival order per (broker_type,
    * symbol, source_file)). Returns one row per (broker_type, symbol). */
  def qualityReport(ticks: DataFrame, maxSpreadPct: Double = 5.0,
                    maxJumpPct: Double = 10.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("broker_type"), col("symbol"), col("source_file"))
      .orderBy(col("arrival_idx"))
    ticks.select(col("broker_type") +: col("symbol") +:
        qualityCounts(lag(col("bid"), 1).over(w), maxSpreadPct, maxJumpPct): _*)
      .groupBy(col("broker_type"), col("symbol"))
      .agg(count(lit(1)).as("n_ticks"), QualityCounts.map(c => sum(c).as(c)): _*)
  }

  /** The quality rule for one tick: 0/1 columns named [[QualityCounts]],
    * over its `bid`, `ask`, `spread_pct` and `prevBid`, the previous bid. */
  def qualityCounts(prevBid: Column, maxSpreadPct: Double = 5.0,
                    maxJumpPct: Double = 10.0): Seq[Column] =
    Seq(col("bid") <= 0.0f || col("ask") <= 0.0f, col("spread_pct") > maxSpreadPct,
        prevBid.isNotNull && prevBid =!= 0.0f &&
          abs(col("bid") / prevBid - 1.0) * 100.0 > maxJumpPct)
      .zip(QualityCounts).map { case (c, n) => when(c, 1L).otherwise(0L).as(n) }

  val QualityCounts: Seq[String] = Seq("n_invalid_quote", "n_excess_spread", "n_price_jumps")

  /** Duplicate-import detection (`tick_importer.py:468-546`): an incoming
    * batch is rejected when its source_file already exists in the manifest
    * — a broadcast anti-join, J5. Returns only novel rows. */
  def rejectDuplicates(incoming: DataFrame, manifest: DataFrame): DataFrame =
    incoming.join(broadcast(manifest.select(col("source_file")).distinct()),
      Seq("source_file"), "left_anti")

  /** Write the at-rest layout: snappy parquet partitioned by
    * (broker_type, symbol) — partition pruning replaces the reference's
    * manual file index for time/symbol scoped reads. */
  def writeTickTable(ticks: DataFrame, path: String): Unit =
    ticks.select((Seq("broker_type", "symbol", "source_file", "arrival_idx")
        ++ TickColumns.filterNot(_ == "session")).map(col) :+ col("session"): _*)
      .write.mode("append")
      .option("compression", "snappy")
      .partitionBy("broker_type", "symbol")
      .parquet(path)

  /** Normalized read (S4, `tick_parquet_reader.py:27-50`): volume alias
    * with 0.0 backfill, mid price. */
  def readNormalized(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .withColumn("volume", coalesce(col("real_volume"), lit(0.0f)))
      .withColumn("mid", (col("bid") + col("ask")) / 2)
}
