package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live tick ingestion (SURVEY S14): a line-delimited JSON tick feed as a
  * Structured Streaming source.
  *
  * The reference's live loop is a WebSocket client pushing trade messages
  * into a queue with a REST OHLC warmup
  * (`/root/reference/python/framework/autotrader/tick_sources/
  * kraken_tick_source.py`, `autotrader_tick_loop.py`). The Spark shape:
  * any line-delimited transport (socket source here; Kafka in production
  * — same parse stage) → `from_json` → typed ticks → the stateful bar
  * renderer, with warmup expressed as INITIAL STATE on the renderer
  * ([[IncrementalBars.renderTicksWarm]]) rather than a replayed batch,
  * so restart and cold-start are the same code path.
  */
object LiveTicks {

  /** Wire schema of one live tick message (the reference feed's fields:
    * symbol, price, qty, broker ms timestamp). */
  val wireSchema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("qty", DoubleType, nullable = true),
    StructField("time_msc", LongType, nullable = false)))

  /** Parse a streaming (or batch) DataFrame of JSON lines (`value` column)
    * into typed tick rows; malformed lines are dropped, not failed — a
    * live feed must survive a bad message. */
  def parse(lines: DataFrame): Dataset[IncrementalBars.Tick] = {
    import lines.sparkSession.implicits._
    lines.select(from_json(col("value").cast("string"), wireSchema).as("t"))
      .filter(col("t").isNotNull && col("t.symbol").isNotNull &&
        col("t.time_msc").isNotNull && col("t.price").isNotNull)
      .select(col("t.symbol").as("key"), col("t.time_msc").as("tsMs"),
        col("t.price").as("price"),
        coalesce(col("t.qty"), lit(0.0)).as("volume"))
      .as[IncrementalBars.Tick]
  }

  /** S14: the live loop — socket transport → parse. Production swaps the
    * transport line for Kafka; everything downstream is unchanged. */
  def fromSocket(spark: SparkSession, host: String, port: Int)
      : Dataset[IncrementalBars.Tick] =
    parse(spark.readStream.format("socket")
      .option("host", host).option("port", port).load())
}
