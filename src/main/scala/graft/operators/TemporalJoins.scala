package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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

  /** Backward as-of join with TIME-SLICED windows — the hot-key
    * fallback for [[asofBackward]].
    *
    * The plain shape windows over partitionBy(keys); windows cannot be
    * skew-split by AQE (only joins can), so ONE pathologically hot key
    * puts that key's entire history into one straggler task (knee
    * measured in SCALE.md via the `ScaleProbes` temporal-skew leg).
    * This variant bounds every task at (key, time-slice) granularity:
    *
    *  1. the same union + running-last window, but partitioned by
    *     (keys, slice = floordiv(t, sliceWidth)) — a left row sees its
    *     in-slice prior right rows;
    *  2. one row per (keys, slice): the LAST right row of the slice,
    *     via max(struct(t, tieBreak, payload)) — an aggregate, so
    *     map-side partials absorb the hot key before the shuffle;
    *  3. a per-key running last over those slice summaries with the
    *     frame ending at the PREVIOUS slice — a window again, but over
    *     at most (time horizon / sliceWidth) rows per key, not events;
    *  4. left rows keep their in-slice match, else take the
    *     previous-slice summary (one AQE-splittable equi-join).
    *
    * Output is row-identical to [[asofBackward]] for any sliceWidth
    * (TemporalJoinsSuite asserts several widths). Costs ~2 extra
    * shuffles, so prefer the plain shape unless one key's row count
    * rivals a whole task's fair share. */
  def asofBackwardSliced(left: DataFrame, right: DataFrame,
                         keys: Seq[String], leftTime: String,
                         rightTime: String, tieBreak: String,
                         sliceWidth: Long,
                         prefix: String = "asof_"): DataFrame = {
    require(sliceWidth > 0, "sliceWidth must be positive")
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    require(payloadCols.contains(tieBreak),
      s"tieBreak $tieBreak must be a right payload column")
    // exact floor division for any sign: pmod is non-negative, so the
    // numerator is an exact multiple and truncating `div` == floor. All
    // long arithmetic — a double divide here loses exactness for
    // |t| > 2^53 and can put a row one slice off.
    def slice(t: Column): Column = {
      val tl = t.cast("long")
      call_function("div", tl - pmod(tl, lit(sliceWidth)), lit(sliceWidth))
    }

    val rt = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side"),
        struct(payloadCols.map(col): _*).as("__r")): _*)
      .withColumn("__slice", slice(col("__t")))
    val lt = left.select(
      keys.map(col) ++ Seq(col(leftTime).as("__t"), lit(1).as("__side"),
        lit(null).cast(rt.schema("__r").dataType).as("__r"),
        struct(left.columns.map(col).toSeq: _*).as("__l")): _*)
      .withColumn("__slice", slice(col("__t")))

    // 1. in-slice running last (right rows sort before left at ties)
    val sliceKeys = keys.map(col) :+ col("__slice")
    val inSliceWin = Window.partitionBy(sliceKeys: _*)
      .orderBy(col("__t").asc, col("__side").asc, col(s"__r.$tieBreak").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inSlice = lt.unionByName(rt, allowMissingColumns = true)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(inSliceWin))
      .filter(col("__side") === 1)

    // 2. last right row per (keys, slice): max_by on the window's own
    // (t, tieBreak) order — unlike max(struct(t, tb, payload)), the
    // payload is never itself ordered, so non-orderable payload columns
    // (maps) work exactly as in the plain variant; the (time, tieBreak)
    // uniqueness contract makes the pick deterministic
    val summaries = rt.groupBy(keys.map(col) :+ col("__slice"): _*)
      .agg(max_by(col("__r"),
        struct(col("__t"), col(s"__r.$tieBreak").as("__tb"))).as("__spay"))
      .select(keys.map(col) ++ Seq(col("__slice"), col("__spay")): _*)

    // NULL join keys: the window variants group NULL keys into one
    // partition (so a NULL-key left row DOES match NULL-key right
    // history in asofBackward) — the two equi-joins below must use
    // null-safe equality or those rows silently vanish here, forking
    // the documented row-identical contract. The SLICE comparison needs
    // <=> for the same reason (r15 review): slice(NULL time) is NULL,
    // and under === a NULL-time left row was dropped from the output
    // entirely (a row-count fork vs the plain variant, where it
    // survives with its NULL-sorts-first match) and NULL-time right
    // history landed in an unreachable slice. Right sides are RENAMED
    // before joining (dom derives from summaries, so df-qualified refs
    // trip the ambiguous-self-join detector).
    def nullSafeOn(rSuffix: String): Column =
      (keys.map(k => col(k) <=> col(s"__$rSuffix$k")) :+
        (col("__slice") <=> col(s"__${rSuffix}slice"))).reduce(_ && _)
    def renamed(df: DataFrame, rSuffix: String, extra: String): DataFrame =
      df.select(keys.map(k => col(k).as(s"__$rSuffix$k")) ++
        Seq(col("__slice").as(s"__${rSuffix}slice"), col(extra)): _*)

    // 3. previous-slice summary over the union of both sides' slices
    val dom = lt.select(sliceKeys: _*).distinct()
      .unionByName(summaries.select(sliceKeys: _*)).distinct()
    val prevWin = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__slice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = dom.join(renamed(summaries, "s_", "__spay"),
        nullSafeOn("s_"), "left")
      .select(keys.map(col) ++ Seq(col("__slice"), col("__spay")): _*)
      .withColumn("__prev", last(col("__spay"), ignoreNulls = true).over(prevWin))
      .select(keys.map(col) ++ Seq(col("__slice"), col("__prev")): _*)

    // 4. in-slice match wins; otherwise the previous slices' last row
    inSlice.join(renamed(prev, "p_", "__prev"), nullSafeOn("p_"))
      .withColumn("__f", coalesce(col("__m"), col("__prev")))
      .select(left.columns.toSeq.map(c => col(s"__l.$c").as(c)) ++
        payloadCols.map(c => col(s"__f.$c").as(prefix + c)): _*)
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
