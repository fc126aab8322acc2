package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and range joins — the two temporal join shapes Spark has no
  * built-in operator for, each implemented with a scale-safe plan:
  *
  *  - [[asofBackward]]: union + running window. ONE shuffle on the join
  *    key, no range fan-out at all — the standard alternative
  *    (non-equi join then per-left top-1) materializes every candidate
  *    pair, which on a hot key is O(left·right) before the window prunes
  *    it. Here each input row is shuffled exactly once.
  *  - [[rangeJoinBucketed]]: fixed-width bucket equi-join. Each left
  *    interval explodes to the ≤ len/width + 1 buckets it covers; a right
  *    row lands in exactly ONE bucket, so every qualifying pair meets
  *    exactly once (no post-join dedup) and the shuffle key (keys,
  *    bucket) spreads hot keys across time. This is the same bucketing
  *    Databricks' range-join optimization and Flink's interval join use.
  */
object TemporalJoins {

  /** Backward as-of join: for every left row, the LAST right row of the
    * same `keys` with `right(rightTime) <= left(leftTime)` (ties at
    * equal time included; among equal-time right rows the one with the
    * greatest `tieBreak` wins). Determinism requires `tieBreak` to be
    * UNIQUE within (keys, rightTime) — e.g. an event id; with duplicate
    * (time, tieBreak) right rows the window's pick among them is
    * partitioning-dependent. Left rows with no prior right row keep
    * NULL payload (left-outer semantics).
    *
    * Plan: tag both inputs, union, then one running
    * `last(payload, ignoreNulls)` window partitioned by `keys` ordered
    * by (time, side, tieBreak) with right rows sorting before left rows
    * at equal times. Right payload columns come back prefixed with
    * `prefix` to stay collision-free.
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String, tieBreak: String,
                   prefix: String = "asof_"): DataFrame = {
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    require(payloadCols.contains(tieBreak), s"tieBreak $tieBreak must be a right payload column")
    val rt = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side"),
        struct(payloadCols.map(col): _*).as("__r")): _*)
    val lt = left.select(
      keys.map(col) ++ Seq(col(leftTime).as("__t"), lit(1).as("__side"),
        lit(null).cast(rt.schema("__r").dataType).as("__r"),
        struct(left.columns.map(col).toSeq: _*).as("__l")): _*)
    val u = lt.unionByName(rt, allowMissingColumns = true)
    // Right rows (side 0) sort before left rows (side 1) at equal time →
    // "at-or-before" includes ties; the running frame ends at the current
    // row, so a left row only ever sees right rows at or before its time.
    val win = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col(s"__r.$tieBreak").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__r"), ignoreNulls = true).over(win))
      .filter(col("__side") === 1)
      .select(left.columns.toSeq.map(c => col(s"__l.$c").as(c)) ++
        payloadCols.map(c => col(s"__m.$c").as(prefix + c)): _*)
  }

  /** Range join with inclusive bounds: pairs every left row with the
    * right rows of the same `keys` whose `rightT` ∈ [lo, hi]. `lo`, `hi`
    * and `rightT` are longs on a shared scale (e.g. epoch micros);
    * negative values are fine — `div` truncates toward zero rather than
    * flooring, but truncation is monotone and BOTH sides bucket with the
    * same function, so every in-range pair still lands in a shared
    * bucket (the zero-straddling bucket is merely wider). Inner
    * semantics — unmatched left rows are absent (join counts back to
    * the left side to keep zeros, as j06 does).
    *
    * `bucketWidth` trades fan-out for bucket size: each left row emits
    * (hi-lo)/width + 1 bucket rows, so pick width ≈ the typical interval
    * length. Empty intervals (hi < lo) match nothing.
    */
  def rangeJoinBucketed(left: DataFrame, lo: String, hi: String,
                        right: DataFrame, rightT: String, keys: Seq[String],
                        bucketWidth: Long, prefix: String = "r_"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // `div`, not `/`: column `/` is double division, and a near-integer
    // double quotient truncates wrong at bucket boundaries
    val lb = left.filter(col(hi) >= col(lo))
      .withColumn("__b", explode(sequence(
        expr(s"CAST(`$lo` AS BIGINT) div $bucketWidth"),
        expr(s"CAST(`$hi` AS BIGINT) div $bucketWidth"))))
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    val rb = right.select(
      keys.map(col) ++ Seq(expr(s"CAST(`$rightT` AS BIGINT) div $bucketWidth").as("__b")) ++
        payloadCols.map(c => col(c).as(prefix + c)): _*)
    lb.join(rb, keys :+ "__b")
      .filter(col(prefix + rightT).between(col(lo), col(hi)))
      .drop("__b")
  }
}
