package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish parquet tables plus
  * determinism helpers for oracle (DuckDB) hash parity.
  *
  * Float determinism: a `sum` over doubles depends on accumulation order,
  * which differs between engines (and between Spark runs at different
  * parallelism). Summing an exact DECIMAL rendition of each addend is
  * order-independent and bit-identical across engines; casting the exact
  * decimal sum back to double and doing any further arithmetic in IEEE
  * doubles keeps every subsequent value bit-identical too. All oracle-facing
  * aggregates below use that trick.
  */
/* Residual parity note (r14 review): for |x| < 0.1 a shortest-repr
 * double can carry > 18 fractional digits, so the oracle's
 * DECIMAL(38,18) cast rounds once before the scale-10 round — two
 * roundings that can disagree with Spark's single HALF_UP round by one
 * decimal ULP when digits 11-18 are exactly 49999999 followed by >=
 * half. Probability ~1e-8 per addend; no fixture value hits it (360k-
 * value fuzz + 14 rounds of full-catalog hash gates). A future
 * mismatch in a tiny-magnitude sum should look here first. */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** `events.parquet` has shipped with two physical `ts` renditions
    * across driver versions — TIMESTAMP(NANOS) (readable only via
    * `spark.sql.legacy.parquet.nanosAsLong`, set in every entry-point
    * session) and plain TIMESTAMP(MICROS) (which that same flag leaves
    * as a timestamp; non-UTC-adjusted files surface as TIMESTAMP_NTZ).
    * Dispatch on the READ schema, not the flag, so every rendition
    * lands on the same session-zone microsecond TimestampType. */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    withEventTs(load(spark, sfDir, "events"))

  /** The ts dispatch itself, applicable to ANY frame with the events
    * schema — batch or readStream (StreamingSuite's file-stream leg
    * reuses it, so the next physical-type change is fixed once). */
  def withEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      // FLOOR division in integer space: `ts div 1000` truncates toward
      // zero, which rounds pre-epoch (negative) nanos UP by 1 µs,
      // diverging from the MICROS-physical-type rendition of the same
      // instant (Parquet nanos→micros floors) — subtracting pmod first
      // makes the divide exact-and-floored for any sign (r15 review).
      // Still integer arithmetic: double division would round and lose
      // precision past 2^53.
      case LongType => raw.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"unexpected events.ts type $other")
    }
  }

  /** `df` collected into a local relation with its schema. The rows must
    * be driver-sized by the caller's contract; the result no longer reads
    * the caches, checkpoints or scratch files `df` did, so the caller may
    * release those before returning it. */
  def localRelation(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Order-independent, cross-engine-deterministic sum of a double column:
    * each addend is cast to an exact DECIMAL first (exact decimal addition),
    * and the exact total is cast back to double. DECIMAL(38,10) holds any
    * per-row value these tables produce (|x| < 1e27) without overflow at
    * 100 TB row counts of typical magnitudes; scale 10 keeps more precision
    * than the doubles being summed carry past the decimal point in practice.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,10)")).cast("double")

  /** [[dsum]] at scale 18 — for sums of NORMALIZED small-magnitude
    * addends (squared replicate deviations: dd ~ sd/√n, so dd² can sit
    * near or below the 1e-10 scale-10 quantum and the variance would
    * silently round to 0 for small-scale y at large n; r16 review).
    * The price is headroom: addends must stay < 10²⁰ — true for any
    * deviation-squared term, NOT for raw w·y totals, which keep
    * [[dsum]]. */
  def dsum18(c: Column): Column =
    sum(c.cast("decimal(38,18)")).cast("double")

  /** Deterministic mean: exact decimal numerator / exact count, divided in
    * IEEE double => bit-identical across engines. */
  def dmean(c: Column): Column = dsum(c) / count(c)

  /** Deterministic sample variance (n-1 denominator) from exact decimal
    * sums of x and x*x. The per-row square is an IEEE double product
    * (bit-identical in any engine) before the exact decimal summation.
    * NULL for fewer than two non-null values, as R's `var` gives NA
    * (a bare n-1 = 0 divisor would throw DIVIDE_BY_ZERO under ANSI). */
  def dvarSamp(c: Column): Column = {
    val n = count(c).cast("double")
    when(n >= lit(2.0), (dsum(c * c) - dsum(c) * dsum(c) / n) / (n - lit(1.0)))
  }

  /** Matching DuckDB SQL fragment for [[dsum]]. Both cast directions need
    * VARCHAR round-trips to be bit-identical to Spark:
    *
    *  - INPUT (double→decimal): DuckDB's direct cast mis-rounds ~13% of
    *    noisy large-magnitude values (measured: addends ~1e5 with full
    *    53-bit tails land off-by-one at the 10th decimal). Spark casts via
    *    the shortest decimal string (`BigDecimal.valueOf`) with HALF_UP.
    *    Rendition: shortest VARCHAR → exact DECIMAL(38,18) parse (≤18
    *    fractional digits in any shortest repr of |x| ≥ 1e-1, so no
    *    rounding) → `round(_, 10)` (DuckDB rounds decimals half-away-from-
    *    zero = Java HALF_UP) — verified equal to Spark's cast on targeted
    *    tie cases and 360k fuzz values across 9 magnitude scales.
    *  - OUTPUT (decimal→double): DuckDB's direct cast is not correctly
    *    rounded for >2⁵³ unscaled values; its string→double parse is (as
    *    is Spark's BigDecimal.doubleValue).
    */
  def sqlDsum(e: String): String =
    s"CAST(CAST(sum(CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,18)), 10) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

  /** Matching DuckDB fragment for [[dsum18]]: the VARCHAR round-trip
    * parses the shortest-repr double and the DECIMAL(38,18) cast rounds
    * at scale 18 HALF_UP — the same value Spark's cast produces. */
  def sqlDsum18(e: String): String =
    s"CAST(CAST(sum(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"

  /** Windowed [[dsum]]: the same exact-decimal sum over a window frame
    * instead of a group. Kept here beside dsum so the two Spark/SQL
    * renditions of the bit-parity recipe stay a single source of truth. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(c.cast("decimal(38,10)")).over(w).cast("double")
  /** Windowed [[sqlDsum]]: `w` is a WINDOW-clause name. */
  def sqlDsumOver(e: String, w: String): String =
    s"CAST(CAST(sum(CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,18)), 10) AS DECIMAL(38,10))) OVER $w AS VARCHAR) AS DOUBLE)"
  def sqlDmean(e: String): String = s"(${sqlDsum(e)} / count($e))"
  def sqlDvarSamp(e: String): String = {
    val n = s"CAST(count($e) AS DOUBLE)"
    s"(CASE WHEN $n >= 2.0 THEN (${sqlDsum(s"($e)*($e)")} - ${sqlDsum(e)} * ${sqlDsum(e)} / $n) / ($n - 1.0) END)"
  }
}
