package graft.windows

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Scenario window generation (SURVEY §1 WindowSet, §7 step 6):
  * gap-aware continuous regions → chronological blocks → time-ordered
  * IS/OOS role assignment. All steps are per-key window/groupBy plans —
  * regions for a million symbols materialize in one pass.
  *
  * Reference: `/root/reference/python/scenario/generator/splitters/
  * continuous_region_extractor.py` (split only at disallowed gaps),
  * `blocks_split.py` (fixed-duration chronological blocks),
  * `role_assignment.py` (trailing OOS fraction, ≥1 of each for n≥2).
  */
object ScenarioWindows {

  /** Continuous data regions per key: the timeline splits at gaps larger
    * than `splitGapMs` (allowed gap classes — weekend/short — are modeled
    * by choosing the threshold; regions span smaller gaps).
    * Returns (keys…, region_idx, region_start_ms, region_end_ms, n_events). */
  def continuousRegions(df: DataFrame, keys: Seq[String], tsMs: String,
                        splitGapMs: Long): DataFrame =
    withRegionIdx(df, col(tsMs),
        Window.partitionBy(keys.map(col): _*).orderBy(col(tsMs)), splitGapMs)
      .groupBy((keys.map(col) :+ col("region_idx")): _*)
      .agg(min(col(tsMs)).as("region_start_ms"),
        max(col(tsMs)).as("region_end_ms"),
        count(lit(1)).as("n_events"))

  /** The gap-split rule of [[continuousRegions]]: adds `region_idx`, the
    * count of gaps over `splitGapMs` between non-null `ts` so far in `w`. */
  def withRegionIdx(df: DataFrame, ts: Column, w: WindowSpec, splitGapMs: Long): DataFrame = {
    val delta = ts - lag(ts, 1, null, true).over(w)
    df.withColumn("region_idx", when(delta > splitGapMs, 1).otherwise(0))
      .withColumn("region_idx",
        sum(col("region_idx")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Chronological fixed-duration blocks within each region.
    * Blocks shorter than `minBlockMs` (the trailing remainder) are
    * dropped, mirroring the reference's minimum-block rule. */
  def blocks(regions: DataFrame, keys: Seq[String], blockMs: Long,
             minBlockMs: Long): DataFrame = {
    val starts = sequence(lit(0L),
      greatest((col("region_end_ms") - col("region_start_ms")) / blockMs cast "long",
        lit(0L)))
    regions
      .select((keys.map(col) :+ col("region_idx") :+ col("region_start_ms") :+
        col("region_end_ms") :+ explode(starts).as("block_no")): _*)
      .withColumn("block_start_ms", col("region_start_ms") + col("block_no") * blockMs)
      .withColumn("block_end_ms",
        least(col("block_start_ms") + blockMs, col("region_end_ms")))
      .filter(col("block_end_ms") - col("block_start_ms") >= minBlockMs)
  }

  /** Time-ordered IS/OOS role assignment per key
    * (`role_assignment.py:15-36`): the trailing round(n·oosSplit) windows
    * are OUT_OF_SAMPLE, clamped so n≥2 always has at least one of each;
    * a single window is IN_SAMPLE. */
  def assignRolesTimeOrdered(windows: DataFrame, keys: Seq[String],
                             orderCol: String, oosSplit: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val ordered = w.orderBy(col(orderCol))
    val n = count(lit(1)).over(w)
    val idx = row_number().over(ordered)
    // Python round() is banker's rounding -> bround, then clamp to [1, n-1]
    val nOos = greatest(lit(1L),
      least(bround(n * oosSplit, 0).cast("long"), n - 1))
    windows
      .withColumn("__n", n)
      .withColumn("__idx", idx)
      .withColumn("role",
        when(col("__n") === 1, "IN_SAMPLE")
          .when(col("__idx") > col("__n") - nOos, "OUT_OF_SAMPLE")
          .otherwise("IN_SAMPLE"))
      .drop("__n", "__idx")
  }
}
