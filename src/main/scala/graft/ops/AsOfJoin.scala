package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, attach the payload of the most
  * recent right row with `right.ts <= left.ts` within the same key group —
  * the reference's central time join
  * (`/root/reference/python/framework/signal_data/signal_data_provider.py:41-60`,
  * a per-tick `bisect_right - 1` over the signal snapshot list).
  *
  * Implementation is the scalable union+window idiom (SURVEY §2.3 J1):
  * tag both sides, union, and take `last(struct(payload), ignoreNulls)`
  * over a window ordered by (ts, side) where the right side sorts BEFORE
  * the left at equal timestamps (<= semantics: a signal stamped exactly at
  * the tick time is visible to that tick). One shuffle + one sort on (keys, ts);
  * no per-row lookup, no broadcast requirement on either side — this is
  * the 100 TB-safe default. If one key dominates (skew), salt the key by
  * coarse time range and repair at range boundaries.
  */
object AsOfJoin {

  /** @param left      probe side (e.g. ticks)
    * @param right     build side (e.g. signals)
    * @param keys      equi-join key column names (present on both sides)
    * @param leftTs    event-time column name on `left`
    * @param rightTs   event-time column name on `right`
    * @param payload   right-side columns to carry (renamed as-is onto left rows)
    * @return `left.*` plus `payload` columns (null when no right row at/before)
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    unpack(asof(left, right, keys, leftTs, rightTs, payload, forwardDir = false),
      left.columns, payload)

  /** FORWARD as-of: the payload of the EARLIEST right row with
    * `right.ts >= left.ts` per key — the mirror of [[backward]]
    * (`bisect_left` instead of `bisect_right - 1`): "the next signal at
    * or after this tick". Same one-shuffle union+window idiom with the
    * time axis reversed; a right row stamped exactly at the left time is
    * visible (>= semantics), and among right rows sharing the minimal
    * timestamp the highest payload tuple wins (the same deterministic
    * tie rule as backward). */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    unpack(asof(left, right, keys, leftTs, rightTs, payload, forwardDir = true),
      left.columns, payload)

  /** The union+window idiom; returns `left.*` plus the matched right
    * row's payload as ONE struct column `__pl` (null when no right row
    * matches). The struct is non-null for every right row, so
    * `last(…, ignoreNulls)` carries the whole matched row: a NULL payload
    * value stays NULL instead of back-filling from an older row. */
  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, payload: Seq[String],
                   forwardDir: Boolean): DataFrame = {
    val leftCols = left.columns
    // Right side: only keys + ts + payload struct survive into the union.
    val rTagged = right.select(
      keys.map(col) :+ col(rightTs).as("__ts") :+
        struct(payload.map(col): _*).as("__pl"): _*)
      .withColumn("__side", lit(0))
    // Left side: full row, payload struct null.
    val lTagged = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .withColumn("__pl", lit(null).cast(rTagged.schema("__pl").dataType))
    val unioned = lTagged.select(
      (keys.map(col) :+ col("__ts") :+ col("__side") :+ col("__pl")) ++
        leftCols.filterNot(c => keys.contains(c)).map(col): _*)
      .unionByName(rTagged, allowMissingColumns = true)

    // Tiebreak: when several right rows share (keys, ts), order them by
    // their payload tuple so `last` picks a well-defined row (highest
    // payload tuple wins, NULL values lowest) instead of a shuffle-order-
    // dependent one — required for the repo's byte-stable determinism
    // guarantees. Payload columns must therefore be orderable types.
    // Forward mirrors the time axis (ts DESC): "last right row at or
    // before" becomes "first right row at or after". Side/payload order
    // is unchanged, so equal-ts visibility and the tie rule carry over.
    val tsOrd = if (forwardDir) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrd, col("__side").asc, col("__pl").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned.withColumn("__pl", last(col("__pl"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) :+ col("__pl"): _*)
  }

  /** `left.*` plus the payload columns unpacked from `__pl`. */
  private def unpack(matched: DataFrame, leftCols: Seq[String],
                     payload: Seq[String]): DataFrame =
    matched.select(leftCols.map(col) ++ payload.map(p => col("__pl").getField(p).as(p)): _*)

  /** Skew-safe [[backward]]: when one key dominates (a single hot symbol
    * carrying most of the stream), the plain union+window puts that whole
    * key in ONE task. This variant salts the window by time bucket:
    *
    *   1. the as-of window runs per (keys, bucket) — every task is
    *      bounded by bucket width, regardless of key skew;
    *   2. left rows with no right row in their own bucket repair from a
    *      carry table: per (keys, bucket) the last right payload, rolled
    *      forward over the bucket SPINE (all buckets either side touches)
    *      with a strictly-earlier-bucket window. The carry table has one
    *      row per (key, bucket) — tiny next to the data — so its window
    *      is never the bottleneck.
    *
    * Both steps carry the matched row's payload as one struct, so the
    * result equals [[backward]]'s, NULL payload values included. */
  def backwardSalted(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String, payload: Seq[String],
                     bucketMs: Long): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val leftCols = left.columns
    // bucket id = bucket START, via integer arithmetic — epoch-nano
    // longs exceed double's exact range, so float division would
    // misassign boundary rows
    def bucketOf(ts: Column): Column = ts - pmod(ts, lit(bucketMs))
    val leftB = left.withColumn("__bucket", bucketOf(col(leftTs)))
    val rightB = right.withColumn("__bucket", bucketOf(col(rightTs)))
    // (1) bounded within-bucket as-of
    val within = asof(leftB, rightB, keys :+ "__bucket", leftTs, rightTs, payload,
      forwardDir = false)
    // (2) carry: last right payload per (keys, bucket) — same (ts, payload)
    // tie-break as backward — rolled forward across the bucket spine
    val carry = rightB.groupBy((keys.map(col) :+ col("__bucket")): _*)
      .agg(max(struct(col(rightTs), struct(payload.map(col): _*).as("__pl"))).as("__last"))
    val spine = leftB.select((keys.map(col) :+ col("__bucket")): _*)
      .union(rightB.select((keys.map(col) :+ col("__bucket")): _*))
      .distinct()
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = spine.join(carry, keys :+ "__bucket", "left")
      .withColumn("__prev", last(col("__last"), ignoreNulls = true).over(w))
      .select((keys.map(col) :+ col("__bucket") :+ col("__prev")): _*)
    val repaired = within.join(carried, keys :+ "__bucket", "left")
      .withColumn("__pl", coalesce(col("__pl"), col("__prev.__pl")))
    unpack(repaired, leftCols, payload)
  }
}
