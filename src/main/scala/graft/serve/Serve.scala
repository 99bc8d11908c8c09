package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin serving/sink layer (SURVEY S11–S13): the read-API slice semantics
  * and the CSV/JSON result sinks. The reference serves these over HTTP
  * (`/root/reference/python/api/endpoints/bars_router.py:65-115`,
  * `reports_router.py:24-270`) — the engine-side contract is the plan
  * shape, which any HTTP framework can wrap.
  */
object Serve {

  /** S12: the bars read-API slice — validate, time-filter, cap at
    * `maxBars` NEWEST rows, return ascending (`bars_router.py:65-115`:
    * the router sorts, tail-caps, and re-sorts so a capped response is
    * the most recent window). The filter + limit push into the scan.
    */
  def barsSlice(bars: DataFrame, timeframe: String, fromMs: Long, toMs: Long,
                maxBars: Int, tsCol: String = "ts_ms",
                tfCol: String = "timeframe"): DataFrame = {
    require(fromMs <= toMs, s"from ($fromMs) must be <= to ($toMs)")
    require(maxBars > 0, s"maxBars must be positive, got $maxBars")
    bars.filter(col(tfCol) === timeframe && col(tsCol).between(fromMs, toMs))
      .orderBy(col(tsCol).desc)
      .limit(maxBars)
      .orderBy(col(tsCol).asc)
  }

  /** S11: sweep-ranking CSV sink (`optimization_report.py:189-210`) —
    * a single rank-ordered CSV with header. One file by contract (it feeds
    * a spreadsheet, not a downstream job), so the one partition is the
    * point, not a scale bug; large ledgers should use the parquet ledger.
    */
  def writeRankingCsv(ranking: DataFrame, path: String): Unit =
    ranking.coalesce(1).sortWithinPartitions(col("rank"))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S11: per-event trade stream CSV (`event_stream_csv_writer.py`) —
    * chronological event rows, partitioned output (this one IS a data
    * feed, so it stays distributed).
    */
  def writeEventStreamCsv(events: DataFrame, path: String,
                          orderCol: String = "ts_ms"): Unit =
    events.sortWithinPartitions(col(orderCol))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S13: report store — one JSON document set per report name
    * (`reports_router.py`: reports are written once, listed, and fetched
    * whole), as one file, sorted within it by `sortBy` when given: no
    * range-sampling job or exchange, unlike `orderBy(...).coalesce(1)`. */
  def writeReportJson(report: DataFrame, storeDir: String,
                      name: String, sortBy: Column*): Unit =
    report.coalesce(1).sortWithinPartitions(sortBy: _*)
      .write.mode("overwrite").json(s"$storeDir/$name")

  /** Runs independent artifact writes concurrently, one short-lived
    * thread per write, and returns when all have finished. The threads
    * are created inside the call, so they inherit the caller's Spark
    * local properties (job group, description) and active session. If
    * any write fails, the first failure in `writes` order is re-thrown
    * (the others are attached as suppressed). */
  def writeConcurrently(writes: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (w, i) =>
      new Thread(() => try w() catch { case t: Throwable => failures(i) = t },
        s"serve-write-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }

  def readReportJson(spark: SparkSession, storeDir: String,
                     name: String): DataFrame =
    spark.read.json(s"$storeDir/$name")

  /** S13: list stored report names (the 12-endpoint store's index view).
    * Listed via the Hadoop FileSystem of the store URI so the index works
    * on every scheme the sink accepts (file://, hdfs://, s3a://…), not
    * just local paths. */
  def listReports(spark: SparkSession, storeDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }
}
