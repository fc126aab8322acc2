package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FormulaSpec, SurveyDesign}
import graft.stats.{Logistic, Replication, WeightedStats}
import graft.util.Tables.{dsum, dvarSamp, load, sqlDsum, sqlDsum18, sqlDvarSamp}

/** The estimator-core operators (SURVEY.md §2.10, M1–M11) as driver-
  * gradable queries with closed-form DuckDB oracles.
  *
  * A deterministic "survey" is carved out of the `customer` table:
  *   population U  = customer                       (y = c_acctbal)
  *   prob sample A = c_custkey % 37 = 1, design weight d = 20 + custkey%40
  *   big sample  B = c_acctbal > 1000 (biased toward high balances)
  * Because calibration with the linear calfun, OLS, linearization
  * variance, and the DR combinations are all CLOSED FORM, every formula
  * is written with the same expression tree in Spark and in SQL over
  * exact-decimal sums — so results are bit-identical and hash-checkable.
  * (The library versions in graft.stats are covered by ScalaTest with
  * 1e-10 tolerances instead.)
  *
  * Scale note (100 TB): every query here is one or two aggregation jobs
  * of O(k²) state plus a codegen'd projection — no data rows ever reach
  * the driver; scalars are broadcast back as literals.
  */
object StatsQueries {

  // deterministic sample definitions, shared by Spark + SQL sides
  private val sqlA =
    """SELECT c_custkey AS id, c_acctbal AS y,
              20.0 + (c_custkey % 40) AS d,
              CAST(c_nationkey AS DOUBLE) AS x
       FROM customer WHERE c_custkey % 37 = 1"""
  private val sqlB =
    """SELECT c_custkey AS id, c_acctbal AS y,
              CAST(c_nationkey AS DOUBLE) AS x
       FROM customer WHERE c_acctbal > 1000.0"""

  private def sampleA(s: SparkSession, d: String): DataFrame =
    load(s, d, "customer")
      .filter(col("c_custkey") % 37 === 1)
      .select(col("c_custkey").as("id"), col("c_acctbal").as("y"),
        (lit(20.0) + (col("c_custkey") % 40)).as("d"),
        col("c_nationkey").cast("double").as("x"))

  private def sampleB(s: SparkSession, d: String): DataFrame =
    load(s, d, "customer")
      .filter(col("c_acctbal") > 1000.0)
      .select(col("c_custkey").as("id"), col("c_acctbal").as("y"),
        col("c_nationkey").cast("double").as("x"))

  private def dbl(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.getAs[Number](i).doubleValue()

  /** Distributed INCLUSIVE cumulative sums of (t, t1) over the grouped
    * distinct-value frame `byV(v, t, t1)`, ordered by v — the two-pass
    * rendition (guide §2) of
    * `Window.orderBy(v).rowsBetween(unboundedPreceding, currentRow)`,
    * which plans a "No Partition Defined" WindowExec that moves EVERY
    * row to ONE task. The frame is |distinct v|-bounded, so that was
    * bounded state — but at 100 TB "distinct document lengths" can be
    * millions of rows on one task (r17 verdict finding 3).
    *
    * The partitioning key is DETERMINISTIC bucketing, not a range
    * exchange: bucket __b = v >> 16 (arithmetic shift = floor
    * division — order-preserving for any sign). A width-2^16 integer
    * interval holds at most 2^16 distinct v values, so the
    * within-bucket cumsum window — PARTITIONED by __b, so no
    * single-task WindowExec — holds ≤ 65536 rows per task at ANY
    * corpus size. Each bucket's EXCLUSIVE prefix offset comes from the
    * bucket-totals frame — ≤ (value-range / 2^16) + 1 rows, e.g. ≤ 32
    * for documents up to 2 M chars — collected and prefix-summed in
    * exact Long arithmetic on the driver (the k×k Gram / m37
    * fold-decimals convention for provably bounded frames) and joined
    * back as a broadcast LOCAL relation, which costs no build job. No
    * repartitionByRange (its range-boundary sampling is a full extra
    * evaluation of the input), no spark_partition_id coupling between
    * branches — bucket ids are pure functions of v. All sums are exact
    * longs, so `ct`/`c1` are IDENTICAL to the single-task window's
    * values under any partitioning. The bucket collect is EAGER (one
    * tiny job at construction), like semanticDedup's cells count.
    *
    * Returns (cum, (n, n1)): `cum` = byV's columns + ct/c1 (inclusive
    * cumsums of t/t1); (n, n1) = the exact grand totals of t/t1 — they
    * are the prefix sums' final values, already on the driver for
    * free, so callers needing totals skip a whole aggregation pass.
    * Internally byV is lease-pinned so the documents scan underneath
    * runs once across the bucket-totals and windowed passes.
    *
    * Precondition: `v` is an integral column (byte, short, int or long).
    * The ≤ 2^16-rows-per-bucket bound counts integers; a fractional v
    * would put unboundedly many distinct values in one bucket (every
    * |v| < 2^16 lands in bucket 0), so any other type is rejected with
    * an IllegalArgumentException before a job runs. */
  private[queries] def withCumSums(byV: DataFrame): (DataFrame, (Long, Long)) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
      StructField, StructType}
    val vType = byV.schema("v").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(vType),
      s"withCumSums needs an integral value column v, got $vType: its " +
        "2^16-wide buckets bound rows per task only for integer values")
    val base = graft.util.QueryLeases.leased(
      byV.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val vb = base.withColumn("__b", shiftright(col("v").cast("long"), 16))
    val w1 = Window.partitionBy("__b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bt = vb.groupBy("__b")
      .agg(sum(col("t")).as("__st"), sum(col("t1")).as("__s1"))
      .orderBy("__b").collect()
    var ot = 0L
    var o1 = 0L
    val offRows: Seq[Row] = bt.toSeq.map { r =>
      val row = Row(r.getLong(0), ot, o1)
      ot += r.getLong(1)
      o1 += r.getLong(2)
      row
    }
    val off = byV.sparkSession.createDataFrame(
      java.util.Arrays.asList(offRows: _*),
      StructType(Seq(StructField("__b", LongType),
        StructField("__ot", LongType), StructField("__o1", LongType))))
    val cum = vb.join(broadcast(off), Seq("__b"))
      .withColumn("ct", col("__ot") + sum(col("t")).over(w1))
      .withColumn("c1", col("__o1") + sum(col("t1")).over(w1))
      .drop("__b", "__ot", "__o1")
    (cum, (ot, o1))
  }

  /** Closed-form simple OLS y ~ 1 + x over `df` — returns (b0, b1, n).
    * Exact-decimal sums then double arithmetic: bit-identical to the SQL
    * rendition in [[sqlOlsCoefs]]. */
  private def olsCoefs(df: DataFrame, x: Column, y: Column): (Double, Double, Double) = {
    val r = df.agg(dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
      dsum(x * x).as("sxx"), count(lit(1)).cast("double").as("n")).head()
    val (sx, sy, sxy, sxx, n) = (dbl(r, 0), dbl(r, 1), dbl(r, 2), dbl(r, 3), dbl(r, 4))
    val b1 = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val b0 = sy / n - b1 * (sx / n)
    (b0, b1, n)
  }

  /** SQL CTE computing the same (b0, b1, n) from relation `rel(x, y)`. */
  private def sqlOlsCoefs(rel: String): String =
    s"""g AS (SELECT ${sqlDsum("x")} AS sx, ${sqlDsum("y")} AS sy,
                     ${sqlDsum("x * y")} AS sxy, ${sqlDsum("x * x")} AS sxx,
                     CAST(count(*) AS DOUBLE) AS n
              FROM $rel),
        coefs AS (SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b1,
                         sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx / n) AS b0,
                         n
                  FROM g)"""

  /** Unrolled DuckDB rendition of [[Logistic.fitPortable2]]: CTEs c0
    * (β = 0) through c`iters`, each Fisher-scoring step a weighted-OLS
    * block with the sigmoid and the updated coefficients quantized at
    * 2⁻²⁰ — the same fixed IEEE tree the Spark side evaluates, so the
    * final (b0, b1) hash-match bit-for-bit. `src` must be a CTE with
    * columns (y, x). */
  // private[queries]: t22's classifier-filter oracle unrolls the SAME
  // IRLS rendition over text features — one definition, two oracles,
  // no silent divergence (the sqlQuality convention)
  private[queries] def sqlIrls2(src: String, iters: Int): String = {
    def qz(e: String) = s"floor(($e) * 1048576.0 + 0.5) / 1048576.0"
    val steps = (1 to iters).map { i =>
      s"""e$i AS (SELECT y, x, b0 + b1 * x AS eta FROM $src, c${i - 1}),
          q$i AS (SELECT y, x, eta,
                    ${qz("1.0 / (1.0 + exp(-eta))")} AS p FROM e$i),
          w$i AS (SELECT x, greatest(p * (1.0 - p), 1e-10) AS w,
                    eta + (y - p) / greatest(p * (1.0 - p), 1e-10) AS z
                  FROM q$i),
          m$i AS (SELECT ${sqlDsum("w")} AS sw, ${sqlDsum("w * x")} AS swx,
                    ${sqlDsum("w * x * x")} AS swxx,
                    ${sqlDsum("w * z")} AS swz,
                    ${sqlDsum("w * x * z")} AS swxz FROM w$i),
          c$i AS (SELECT
              ${qz("(swxx * swz - swx * swxz) / (sw * swxx - swx * swx)")} AS b0,
              ${qz("(sw * swxz - swx * swz) / (sw * swxx - swx * swx)")} AS b1
            FROM m$i)"""
    }.mkString(",\n")
    s"c0 AS (SELECT 0.0 AS b0, 0.0 AS b1),\n$steps"
  }

  val qs: Seq[Q] = Seq(

    // ---- M2 GREG calibration, k=1 aux var, closed form ----------------
    // λ = (T − Σd·x) / Σd·x² ;  w = d·(1 + λ·x)   (RegDI2.R:188-193)
    Q("m02_calibrate_k1",
      (s, d) => {
        val a = sampleA(s, d)
        val t = load(s, d, "customer").agg(dsum(col("c_acctbal"))).head().getDouble(0)
        val g = a.agg(dsum(col("d") * col("y")).as("sdx"),
          dsum(col("d") * col("y") * col("y")).as("sdxx")).head()
        val lambda = (t - dbl(g, 0)) / dbl(g, 1)
        a.select(col("id"),
          (col("d") * (lit(1.0) + lit(lambda) * col("y"))).as("w_cal"))
          .orderBy("id")
      },
      Some(s"""WITH a AS ($sqlA),
                    t AS (SELECT ${sqlDsum("c_acctbal")} AS tot FROM customer),
                    g AS (SELECT ${sqlDsum("d * y")} AS sdx,
                                 ${sqlDsum("d * y * y")} AS sdxx FROM a),
                    l AS (SELECT (t.tot - g.sdx) / g.sdxx AS lambda FROM g, t)
               SELECT a.id, a.d * (1.0 + l.lambda * a.y) AS w_cal
               FROM a, l ORDER BY a.id""")),

    // ---- M2 GREG calibration, k=2 (intercept + x), adjugate solve -----
    // A = [[Σd, Σdx],[Σdx, Σdxx]], r = [N−Σd, T−Σdx], λ = A⁻¹r via
    // det/adjugate — same expression tree both engines.
    Q("m02_calibrate_k2",
      (s, d) => {
        val a = sampleA(s, d)
        val pop = load(s, d, "customer")
          .agg(count(lit(1)).cast("double").as("n"), dsum(col("c_acctbal")).as("t")).head()
        val (nPop, t) = (dbl(pop, 0), dbl(pop, 1))
        val g = a.agg(dsum(col("d")).as("sd"), dsum(col("d") * col("y")).as("sdx"),
          dsum(col("d") * col("y") * col("y")).as("sdxx")).head()
        val (sd, sdx, sdxx) = (dbl(g, 0), dbl(g, 1), dbl(g, 2))
        val det = sd * sdxx - sdx * sdx
        val r1 = nPop - sd
        val r2 = t - sdx
        val l1 = (sdxx * r1 - sdx * r2) / det
        val l2 = (sd * r2 - sdx * r1) / det
        a.select(col("id"),
          (col("d") * (lit(1.0) + lit(l1) + lit(l2) * col("y"))).as("w_cal"))
          .orderBy("id")
      },
      Some(s"""WITH a AS ($sqlA),
                    pop AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                                   ${sqlDsum("c_acctbal")} AS t FROM customer),
                    g AS (SELECT ${sqlDsum("d")} AS sd, ${sqlDsum("d * y")} AS sdx,
                                 ${sqlDsum("d * y * y")} AS sdxx FROM a),
                    l AS (SELECT (g.sdxx * (pop.n - g.sd) - g.sdx * (pop.t - g.sdx))
                                   / (g.sd * g.sdxx - g.sdx * g.sdx) AS l1,
                                 (g.sd * (pop.t - g.sdx) - g.sdx * (pop.n - g.sd))
                                   / (g.sd * g.sdxx - g.sdx * g.sdx) AS l2
                          FROM g, pop)
               SELECT a.id, a.d * (1.0 + l.l1 + l.l2 * a.y) AS w_cal
               FROM a, l ORDER BY a.id""")),

    // ---- M3 svymean + linearization variance (ids=~1, uncalibrated) ---
    // μ = Σdy/Σd ; sᵢ = d(y−μ) ; V = n/(n−1)·(Σs² − (Σs)²/n)/(Σd)²
    // (UNNORMALIZED scores — the /Σd inside each decimal addend put z²
    // at O(1/n²), below the DECIMAL(38,10) quantum at large n; see
    // WeightedStats' scaladoc, r15 review)
    Q("m03_svymean_var",
      (s, d) => {
        val a = sampleA(s, d)
        val m = a.agg(dsum(col("d") * col("y")).as("sdy"), dsum(col("d")).as("sd"))
          .head()
        val mu = dbl(m, 0) / dbl(m, 1)
        val sw = dbl(m, 1)
        val sc = col("d") * (col("y") - lit(mu))
        a.agg(max(lit(mu)).as("mean_y"),
          ((count(lit(1)).cast("double") / (count(lit(1)).cast("double") - lit(1.0))) *
            (dsum(sc * sc) - dsum(sc) * dsum(sc) / count(lit(1)).cast("double")) /
            lit(sw * sw))
            .as("var_mean"))
      },
      Some(s"""WITH a AS ($sqlA),
                    m AS (SELECT ${sqlDsum("d * y")} / ${sqlDsum("d")} AS mu,
                                 ${sqlDsum("d")} AS sw FROM a),
                    z AS (SELECT a.d * (a.y - m.mu) AS s, m.mu, m.sw FROM a, m)
               SELECT max(mu) AS mean_y,
                      (CAST(count(*) AS DOUBLE) / (CAST(count(*) AS DOUBLE) - 1.0)) *
                        (${sqlDsum("s * s")} - ${sqlDsum("s")} * ${sqlDsum("s")}
                           / CAST(count(*) AS DOUBLE)) / (max(sw) * max(sw))
                        AS var_mean
               FROM z""")),

    // ---- M4 svytotal — HT totals from the A design (PC.R:190-193) -----
    Q("m04_svytotal",
      (s, d) => sampleA(s, d).agg(
        dsum(col("d") * col("y")).as("ht_y"),
        dsum(col("d") * col("x")).as("ht_x"),
        dsum(col("d")).as("ht_n")),
      Some(s"""WITH a AS ($sqlA)
               SELECT ${sqlDsum("d * y")} AS ht_y,
                      ${sqlDsum("d * x")} AS ht_x,
                      ${sqlDsum("d")} AS ht_n FROM a""")),

    // ---- M5 OLS fit y ~ 1 + x, closed form (RegDI2.R:209) -------------
    Q("m05_ols_fit",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val (b0, b1, n) = olsCoefs(li, col("l_quantity"), col("l_extendedprice"))
        li.sparkSession.range(1).select(lit(b0).as("b0"), lit(b1).as("b1"),
          lit(n).as("n"))
      },
      Some(s"""WITH src AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
                    ${sqlOlsCoefs("src")}
               SELECT b0, b1, n FROM coefs""")),

    // ---- M6 logistic regression via IRLS (PC.R:274,311) ---------------
    // Hash-graded rendition: exactly 3 Fisher-scoring steps with the
    // sigmoid and coefficients quantized at 2⁻²⁰ each step (the m36
    // literal-digit convention) and exact-decimal moment sums — a fixed
    // IEEE tree DuckDB replays by unrolling the iterations as
    // weighted-OLS CTEs. The adaptive-tolerance fit (and its parity
    // with R glm fixtures) stays in StatsSuite.
    Q("m06_logistic_fit",
      (s, d) => {
        val df = load(s, d, "customer")
          .select((col("c_acctbal") > 4500.0).cast("double").as("y"),
            col("c_nationkey").cast("double").as("x"))
        Logistic.fitPortable2(df, "y", "x", iters = 3)
      },
      Some(s"""WITH src AS (SELECT CASE WHEN c_acctbal > 4500.0
                                        THEN 1.0 ELSE 0.0 END AS y,
                                   CAST(c_nationkey AS DOUBLE) AS x
                            FROM customer),
                    ${sqlIrls2("src", 3)}
               SELECT b0, b1 FROM c3""")),

    // ---- M7 broadcast-β scoring (predict) -----------------------------
    Q("m07_predict",
      (s, d) => sampleB(s, d)
        .select(col("id"), (lit(500.0) + lit(0.8) * col("y") - lit(12.5) * col("x"))
          .as("yhat"))
        .orderBy("id"),
      Some(s"""WITH b AS ($sqlB)
               SELECT id, 500.0 + 0.8 * y - 12.5 * x AS yhat
               FROM b ORDER BY id""")),

    // ---- M8 masked residual column (PC.R:286,322) ---------------------
    Q("m08_masked_residual",
      (s, d) => {
        val c = load(s, d, "customer")
        val yhat = lit(500.0) + lit(0.8) * col("c_acctbal")
        c.select(col("c_custkey"),
          when(col("c_acctbal") > 1000.0, col("c_acctbal") - yhat)
            .otherwise(lit(null)).as("resid_B"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
                     CASE WHEN c_acctbal > 1000.0
                          THEN c_acctbal - (500.0 + 0.8 * c_acctbal)
                          ELSE NULL END AS resid_B
              FROM customer ORDER BY c_custkey""")),

    // ---- M9 doubly-robust combination (PC.R scenario 3, :325-328) -----
    // Fit y ~ 1 + x on A (closed form); est = (Σ_B (y−ŷ) + Σ_U ŷ) / N.
    Q("m09_dr_combination",
      (s, d) => {
        val a = sampleA(s, d)
        val (b0, b1, _) = olsCoefs(a, col("x"), col("y"))
        val u = load(s, d, "customer")
          .select(col("c_acctbal").as("y"),
            col("c_nationkey").cast("double").as("x"))
        val yhat = lit(b0) + lit(b1) * col("x")
        val sums = u.agg(
          dsum(when(col("y") > 1000.0, col("y") - yhat)).as("s_b_resid"),
          dsum(yhat).as("s_u_pred"),
          count(lit(1)).cast("double").as("n_pop")).head()
        val est = (dbl(sums, 0) + dbl(sums, 1)) / dbl(sums, 2)
        u.sparkSession.range(1).select(lit(est).as("dr_estimate"))
      },
      Some(s"""WITH a AS ($sqlA),
                    ${sqlOlsCoefs("a")},
                    u AS (SELECT c_acctbal AS y, CAST(c_nationkey AS DOUBLE) AS x
                          FROM customer),
                    sums AS (SELECT
                      ${sqlDsum("CASE WHEN u.y > 1000.0 THEN u.y - (c.b0 + c.b1 * u.x) END")} AS s_b_resid,
                      ${sqlDsum("c.b0 + c.b1 * u.x")} AS s_u_pred,
                      CAST(count(*) AS DOUBLE) AS n_pop
                      FROM u, coefs c)
               SELECT (s_b_resid + s_u_pred) / n_pop AS dr_estimate FROM sums""")),

    // ---- M10 measurement-error inversion (RegDI2.R:264-302) -----------
    // "True" y_A observed on A-rows only; mismeasured y_B everywhere.
    // Fit y_A ~ y_B on the overlap, invert: y_corr = (y_B_fitted⁻¹).
    Q("m10_measurement_error",
      (s, d) => {
        val c = load(s, d, "customer")
          .select(col("c_custkey").as("id"), col("c_acctbal").as("y_a"),
            (lit(1.1) * col("c_acctbal") + lit(50.0)).as("y_b"))
        val overlap = c.filter(col("id") % 5 === 0)
        val (b0, b1, _) = olsCoefs(overlap, col("y_b"), col("y_a"))
        // invert the fit for non-overlap rows: corrected = b0 + b1·y_b is
        // the calibrated prediction; A-rows keep observed y_a
        c.select(col("id"),
          when(col("id") % 5 === 0, col("y_a"))
            .otherwise(lit(b0) + lit(b1) * col("y_b")).as("y_corrected"))
          .orderBy("id")
      },
      Some(s"""WITH c AS (SELECT c_custkey AS id, c_acctbal AS y_a,
                                 1.1 * c_acctbal + 50.0 AS y_b FROM customer),
                    src AS (SELECT y_b AS x, y_a AS y FROM c WHERE id % 5 = 0),
                    ${sqlOlsCoefs("src")}
               SELECT c.id,
                      CASE WHEN c.id % 5 = 0 THEN c.y_a
                           ELSE f.b0 + f.b1 * c.y_b END AS y_corrected
               FROM c, coefs f ORDER BY c.id""")),

    // ---- M11 DR variance: var(w·e)/n + var(ŷ)/N (RegDI2.R:222-225) ----
    Q("m11_dr_variance",
      (s, d) => {
        val a = sampleA(s, d)
        val yhat = lit(500.0) + lit(0.8) * col("y")
        val e = col("y") - yhat
        val va = a.agg(
          (dvarSamp(col("d") * e) / count(lit(1)).cast("double")).as("v_resid"),
          (dvarSamp(yhat) / lit(10000.0)).as("v_pred")).head()
        a.sparkSession.range(1).select(
          lit(dbl(va, 0)).as("v_resid"), lit(dbl(va, 1)).as("v_pred"),
          lit(dbl(va, 0) + dbl(va, 1)).as("v_dr"))
      },
      Some {
        val e = "y - (500.0 + 0.8 * y)"
        s"""WITH a AS ($sqlA),
                 v AS (SELECT
                   ${sqlDvarSamp(s"d * ($e)")} / CAST(count(*) AS DOUBLE) AS v_resid,
                   ${sqlDvarSamp("500.0 + 0.8 * y")} / 10000.0 AS v_pred
                   FROM a)
            SELECT v_resid, v_pred, v_resid + v_pred AS v_dr FROM v"""
      }),

    // ---- M26 JK1 jackknife replicate variance (extension) -------------
    // Delete-one-PSU jackknife for the A-design weighted mean — the
    // replicate-weight counterpart of m03's linearization (Wolter 2007
    // §4.2, survey::as.svrepdesign(type="JK1")). PSU = id % 12; the only
    // full-data pass is the groupBy(psu) — all 12 replicate estimates
    // derive arithmetically from the group totals (stats.Replication).
    Q("m26_jackknife_var",
      (s, d) => Replication.jk1Mean(sampleA(s, d), col("y"), col("d"),
        col("id") % 12),
      Some(s"""WITH a AS ($sqlA),
                    g AS (SELECT id % 12 AS psu, ${sqlDsum("d * y")} AS tg,
                                 ${sqlDsum("d")} AS wg
                          FROM a GROUP BY 1),
                    tot AS (SELECT ${sqlDsum("tg")} AS t, ${sqlDsum("wg")} AS w,
                                   CAST(count(*) AS DOUBLE) AS gn FROM g),
                    rep AS (SELECT tot.t, tot.w, tot.gn,
                                   (tot.t - g.tg) / (tot.w - g.wg) AS theta
                            FROM g, tot),
                    bar AS (SELECT ${sqlDsum("theta")} / max(gn) AS thetabar
                            FROM rep)
               SELECT max(t / w) AS mean_y,
                      CAST(max(gn) AS BIGINT) AS g_psus,
                      ((max(gn) - 1.0) / max(gn)) *
                        ${sqlDsum18("(theta - thetabar) * (theta - thetabar)")}
                        AS var_jk,
                      ((max(gn) - 1.0) / max(gn)) *
                        ${sqlDsum18("(theta - t / w) * (theta - t / w)")}
                        AS var_jk_mse
               FROM rep, bar""")),

    // ---- M27 JKn stratified jackknife variance (extension) ------------
    // Stratified delete-one-PSU jackknife (Wolter 2007 §4.5): deleting
    // a PSU reweights only its own stratum by n_h/(n_h−1). Strata
    // id % 2, PSUs id % 12 — chosen because BOTH strata keep ≥ 2 PSUs
    // at every graded SF including the 5-row sf0.001 sample (id % 3
    // leaves stratum 0 a single PSU there, which jknMean rejects
    // loudly). Same one-pass shape as m26.
    Q("m27_jackknife_strat",
      (s, d) => Replication.jknMean(sampleA(s, d), col("y"), col("d"),
        col("id") % 2, col("id") % 12),
      Some(s"""WITH a AS ($sqlA),
                    g AS (SELECT id % 2 AS h, id % 12 AS psu,
                                 ${sqlDsum("d * y")} AS tg,
                                 ${sqlDsum("d")} AS wg
                          FROM a GROUP BY 1, 2),
                    byh AS (SELECT h, ${sqlDsum("tg")} AS th,
                                   ${sqlDsum("wg")} AS wh,
                                   CAST(count(*) AS DOUBLE) AS nh
                            FROM g GROUP BY h),
                    tot AS (SELECT ${sqlDsum("th")} AS t,
                                   ${sqlDsum("wh")} AS w,
                                   CAST(count(*) AS BIGINT) AS hn,
                                   CAST(sum(nh) AS BIGINT) AS gn FROM byh),
                    rep AS (SELECT tot.t, tot.w, tot.hn, tot.gn, byh.nh,
                              ((tot.t - byh.th +
                                 (byh.nh / (byh.nh - 1.0)) * (byh.th - g.tg)) /
                               (tot.w - byh.wh +
                                 (byh.nh / (byh.nh - 1.0)) * (byh.wh - g.wg)))
                                AS theta
                            FROM g JOIN byh USING (h), tot)
               SELECT max(t / w) AS mean_y,
                      max(hn) AS n_strata,
                      max(gn) AS g_psus,
                      ${sqlDsum18(
                        "((nh - 1.0) / nh) * (theta - t / w) * (theta - t / w)")}
                        AS var_jkn
               FROM rep""")),

    // ---- M29 BRR balanced repeated replication variance ---------------
    // The third classic replicate method beside m26/m27 (Wolter §3):
    // strata id % 2 with PSU (id div 2) % 2 — verified exactly 2 PSUs
    // per stratum at every SF. Sylvester-Hadamard keep/drop signs are
    // pure integer arithmetic ((−1)^popcount(r AND h+1)), so the whole
    // R=4-replicate expansion hash-matches the oracle.
    Q("m29_brr_var",
      (s, d) => Replication.brrMean(sampleA(s, d), col("y"), col("d"),
        col("id") % 2, expr("id div 2") % 2),
      Some(s"""WITH a AS ($sqlA),
                    g AS (SELECT id % 2 AS h, (id // 2) % 2 AS psu,
                                 ${sqlDsum("d * y")} AS tg,
                                 ${sqlDsum("d")} AS wg
                          FROM a GROUP BY 1, 2),
                    idx AS (SELECT h, psu, tg, wg,
                              dense_rank() OVER (ORDER BY h) - 1 AS h_idx,
                              row_number() OVER
                                (PARTITION BY h ORDER BY psu) - 1 AS slot
                            FROM g),
                    reps AS (SELECT unnest(generate_series(0, 3)) AS r),
                    keep AS (SELECT i.tg, i.wg, r.r
                             FROM idx i CROSS JOIN reps r
                             WHERE i.slot =
                               bit_count(CAST(r.r AS BIGINT) & (i.h_idx + 1)) % 2),
                    rt AS (SELECT r, ${sqlDsum("2.0 * tg")} AS tr,
                                  ${sqlDsum("2.0 * wg")} AS wr
                           FROM keep GROUP BY r),
                    tot AS (SELECT ${sqlDsum("tg")} AS t,
                                   ${sqlDsum("wg")} AS w FROM g)
               SELECT max(t / w) AS mean_y,
                      CAST(2 AS BIGINT) AS n_strata,
                      CAST(4 AS BIGINT) AS n_reps,
                      ${sqlDsum18(
                        "(tr / wr - t / w) * (tr / wr - t / w)")} / 4.0
                        AS var_brr
               FROM rt, tot""")),

    // ---- M30 svyquantile: weighted quantiles of the A design ----------
    // survey::svyquantile's lower-boundary rendition: q_p = min{y :
    // cumW(y) ≥ p·W} under design weights — pure SELECTION (no
    // interpolation), so the result hash-matches exactly. The
    // cumulative-weight window is GLOBAL by nature; it runs over the
    // probability sample A, which is small BY DESIGN (the reference's
    // n_A ≈ 1-2k — a single-task window is the right plan; for
    // population-scale quantiles the two-pass approx-threshold shape
    // of t09 is the documented path). Exact-decimal running sums keep
    // the crossing points engine-identical.
    Q("m30_svyquantile",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.util.Tables.dsumOver
        val a = sampleA(s, d)
        val w = Window.partitionBy(lit(1)).orderBy(col("y"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = a.select(col("y"), dsumOver(col("d"), w).as("cw"))
        val tot = a.agg(dsum(col("d")).as("tw"))
        cum.crossJoin(broadcast(tot)).agg(
          min(when(col("cw") >= lit(0.25) * col("tw"), col("y"))).as("q25"),
          min(when(col("cw") >= lit(0.50) * col("tw"), col("y"))).as("q50"),
          min(when(col("cw") >= lit(0.75) * col("tw"), col("y"))).as("q75"))
      },
      Some(s"""WITH a AS ($sqlA),
                    c AS (SELECT y, ${graft.util.Tables.sqlDsumOver("d", "w")}
                            AS cw
                          FROM a
                          WINDOW w AS (ORDER BY y, id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                    t AS (SELECT ${sqlDsum("d")} AS tw FROM a)
               SELECT min(CASE WHEN cw >= 0.25 * tw THEN y END) AS q25,
                      min(CASE WHEN cw >= 0.50 * tw THEN y END) AS q50,
                      min(CASE WHEN cw >= 0.75 * tw THEN y END) AS q75
               FROM c, t""")),

    // ---- M28 grouped OLS: per-group closed-form regression ------------
    // One partial-aggregable pass computes every group's (b0, b1)
    // simultaneously — per-domain/segment trend fitting at corpus scale
    // without per-group jobs (the groupBy carries O(1) moment state per
    // group; a million groups cost one shuffle). Same exact-decimal
    // moments + IEEE closed form as m05's global OLS.
    Q("m28_grouped_ols",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val (x, yv) = (col("l_quantity"), col("l_extendedprice"))
        val g = li.groupBy("l_returnflag").agg(
          dsum(x).as("sx"), dsum(yv).as("sy"), dsum(x * yv).as("sxy"),
          dsum(x * x).as("sxx"), count(lit(1)).cast("double").as("n"))
        val b1 = (col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))
        g.select(col("l_returnflag"), b1.as("b1"),
            (col("sy") / col("n") - b1 * (col("sx") / col("n"))).as("b0"),
            col("n").cast("long").as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH g AS (SELECT l_returnflag,
                    ${sqlDsum("l_quantity")} AS sx,
                    ${sqlDsum("l_extendedprice")} AS sy,
                    ${sqlDsum("l_quantity * l_extendedprice")} AS sxy,
                    ${sqlDsum("l_quantity * l_quantity")} AS sxx,
                    CAST(count(*) AS DOUBLE) AS n
                  FROM lineitem GROUP BY l_returnflag)
              SELECT l_returnflag,
                     (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b1,
                     sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                       * (sx / n) AS b0,
                     CAST(n AS BIGINT) AS n_rows
              FROM g ORDER BY l_returnflag""")),

    // ---- M31 raking / IPF calibration (survey::rake) ------------------
    // Multiplicative margin calibration on two factors (id%3 × id%2 over
    // the A design, targets = population counts). The iteration state is
    // the 6-cell contingency table of exact-decimal weight sums — one
    // partial-aggregable pass; the final weight is the closed form
    // d·R1(f1)·R2(f2) (graft.stats.Raking). The oracle unrolls the same
    // half-steps over the same pivoted cell scalars with identical
    // association order, so the IEEE ratio chains are bit-identical.
    Q("m31_raking",
      (s, d) => {
        val a = sampleA(s, d)
          .withColumn("f1", col("id") % 3)
          .withColumn("f2", col("id") % 2)
        val popAggs =
          (0 to 2).map(i => sum(when(col("c_custkey") % 3 === i, 1)
            .otherwise(0)).cast("double").as(s"t1_$i")) ++
          (0 to 1).map(i => sum(when(col("c_custkey") % 2 === i, 1)
            .otherwise(0)).cast("double").as(s"t2_$i"))
        val pop = load(s, d, "customer").agg(popAggs.head, popAggs.tail: _*).head()
        val t1 = (0 to 2).map(i => i.toLong -> dbl(pop, i)).toMap
        val t2 = (0 to 1).map(i => i.toLong -> dbl(pop, 3 + i)).toMap
        graft.stats.Raking.rake(a, "d", "f1", "f2", t1, t2, iters = 3)
          .select(col("id"), col("f1"), col("f2"), col("w_rake"))
          .orderBy("id")
      },
      Some(rakingOracle(iters = 3))),

    // ---- M32 svyratio: ratio of HT totals + linearized variance -------
    // R̂ = Σdy/Σdx; score zᵢ = dᵢ(yᵢ − R̂xᵢ)/Σdx; with-replacement score
    // variance (survey::svyratio on the ids=~1 design). Exercises the
    // WeightedStats.svyratio library path — two aggregation jobs, scalars
    // lifted back as literals.
    Q("m32_svyratio",
      (s, d) => {
        val a = sampleA(s, d)
        val res = WeightedStats.svyratio(SurveyDesign(a, "d"), "y", "x")
        s.range(1).select(lit(res.ratio).as("ratio"),
          lit(res.variance).as("var_ratio"))
      },
      Some(s"""WITH a AS ($sqlA),
                    m AS (SELECT ${sqlDsum("d * y")} / ${sqlDsum("d * x")} AS r,
                                 ${sqlDsum("d * x")} AS swx FROM a),
                    z AS (SELECT a.d * (a.y - m.r * a.x) AS s, m.r, m.swx
                          FROM a, m)
               SELECT max(r) AS ratio,
                      (CAST(count(*) AS DOUBLE) / (CAST(count(*) AS DOUBLE) - 1.0)) *
                        (${sqlDsum("s * s")} - ${sqlDsum("s")} * ${sqlDsum("s")}
                           / CAST(count(*) AS DOUBLE)) / (max(swx) * max(swx))
                        AS var_ratio
               FROM z""")),

    // ---- M33 domain (subpopulation) mean + design-correct variance ----
    // The domain indicator u stays IN the score over the FULL sample
    // (zᵢ = dᵢuᵢ(yᵢ−μ̂_D)/Σ_D d, full n in the variance), so the random
    // realized domain size contributes — filtering first would understate
    // the variance (Särndal et al. §5.8; survey::svymean on subset()).
    Q("m33_domain_mean",
      (s, d) => {
        val a = sampleA(s, d)
        val res = WeightedStats.svymeanDomain(
          SurveyDesign(a, "d"), "y", col("x") > 10.0)
        s.range(1).select(lit(res.mean).as("mean_dom"),
          lit(res.variance).as("var_dom"))
      },
      Some(s"""WITH a0 AS ($sqlA),
                    a AS (SELECT a0.*,
                                 CASE WHEN x > 10.0 THEN 1.0 ELSE 0.0 END AS u
                          FROM a0),
                    m AS (SELECT ${sqlDsum("d * u * y")} / ${sqlDsum("d * u")} AS mu,
                                 ${sqlDsum("d * u")} AS swd FROM a),
                    z AS (SELECT a.d * a.u * (a.y - m.mu) AS s, m.mu, m.swd
                          FROM a, m)
               SELECT max(mu) AS mean_dom,
                      (CAST(count(*) AS DOUBLE) / (CAST(count(*) AS DOUBLE) - 1.0)) *
                        (${sqlDsum("s * s")} - ${sqlDsum("s")} * ${sqlDsum("s")}
                           / CAST(count(*) AS DOUBLE)) / (max(swd) * max(swd))
                        AS var_dom
               FROM z""")),

    // ---- M34 post-stratification (survey::postStratify) ---------------
    // One-margin raking: each stratum's weights scaled once so their sum
    // hits the known population stratum count — exact after a single
    // adjustment. Same one-pass cell sums + literal-CASE projection as
    // m31 (graft.stats.Raking.poststratify).
    Q("m34_poststratify",
      (s, d) => {
        val a = sampleA(s, d).withColumn("f", col("id") % 4)
        val popAggs = (0 to 3).map(i =>
          sum(when(col("c_custkey") % 4 === i, 1).otherwise(0))
            .cast("double").as(s"t$i"))
        val pop = load(s, d, "customer").agg(popAggs.head, popAggs.tail: _*).head()
        val t = (0 to 3).map(i => i.toLong -> dbl(pop, i)).toMap
        graft.stats.Raking.poststratify(a, "d", "f", t)
          .select(col("id"), col("f"), col("w_post"))
          .orderBy("id")
      },
      Some(s"""WITH a AS ($sqlA),
                    g AS (SELECT id % 4 AS f, ${sqlDsum("d")} AS s
                          FROM a GROUP BY 1),
                    t AS (SELECT c_custkey % 4 AS f,
                                 CAST(count(*) AS DOUBLE) AS t
                          FROM customer GROUP BY 1),
                    r AS (SELECT g.f, t.t / g.s AS r FROM g JOIN t ON g.f = t.f)
               SELECT a.id, a.id % 4 AS f, a.d * r.r AS w_post
               FROM a JOIN r ON a.id % 4 = r.f ORDER BY a.id""")),

    // ---- M35 Fay's BRR (ρ=0.5) ----------------------------------------
    // Judkins 1990: the kept PSU is reweighted 2−ρ and the dropped one ρ
    // (instead of 2/0), stabilizing replicate estimates for sparse
    // domains; variance divisor R·(1−ρ)². Same Sylvester-Hadamard
    // replicate frame as m29, every cell contributing to every
    // replicate through the CASE factor.
    Q("m35_brr_fay",
      (s, d) => Replication.brrMean(sampleA(s, d), col("y"), col("d"),
        col("id") % 2, expr("id div 2") % 2, fayRho = 0.5),
      Some(s"""WITH a AS ($sqlA),
                    g AS (SELECT id % 2 AS h, (id // 2) % 2 AS psu,
                                 ${sqlDsum("d * y")} AS tg,
                                 ${sqlDsum("d")} AS wg
                          FROM a GROUP BY 1, 2),
                    idx AS (SELECT h, psu, tg, wg,
                              dense_rank() OVER (ORDER BY h) - 1 AS h_idx,
                              row_number() OVER
                                (PARTITION BY h ORDER BY psu) - 1 AS slot
                            FROM g),
                    reps AS (SELECT unnest(generate_series(0, 3)) AS r),
                    fct AS (SELECT i.tg, i.wg, r.r,
                              CASE WHEN i.slot =
                                bit_count(CAST(r.r AS BIGINT) & (i.h_idx + 1)) % 2
                              THEN 1.5 ELSE 0.5 END AS f
                            FROM idx i CROSS JOIN reps r),
                    rt AS (SELECT r, ${sqlDsum("f * tg")} AS tr,
                                  ${sqlDsum("f * wg")} AS wr
                           FROM fct GROUP BY r),
                    tot AS (SELECT ${sqlDsum("tg")} AS t,
                                   ${sqlDsum("wg")} AS w FROM g)
               SELECT max(t / w) AS mean_y,
                      CAST(2 AS BIGINT) AS n_strata,
                      CAST(4 AS BIGINT) AS n_reps,
                      ${sqlDsum18(
                        "(tr / wr - t / w) * (tr / wr - t / w)")} / (4.0 * 0.25)
                        AS var_brr
               FROM rt, tot""")),

    // ---- M37 k-fold cross-validated OLS (leave-fold-out moments) ------
    // Each fold's training coefficients come from TOTAL − fold moments
    // (Gram additivity — the jackknife trick applied to model
    // validation): two data passes for any k, no per-fold jobs. Held-out
    // RMSE per fold via a broadcast k-row coefficient join; closed forms
    // and sqrt are fixed IEEE trees over exact-decimal sums.
    Q("m37_cv_ols",
      (s, d) => {
        val li = load(s, d, "lineitem").select(
          col("l_quantity").as("x"), col("l_extendedprice").as("y"),
          ((col("l_orderkey") * 10 + col("l_linenumber")) % 5).as("fold"))
        graft.stats.CrossVal.olsKFold(li, "x", "y", "fold").orderBy("fold")
      },
      Some(s"""WITH s AS (SELECT l_quantity AS x, l_extendedprice AS y,
                                 (l_orderkey * 10 + l_linenumber) % 5 AS fold
                          FROM lineitem),
                    g AS (SELECT fold, ${sqlDsum("x")} AS sxf,
                                 ${sqlDsum("y")} AS syf,
                                 ${sqlDsum("x * y")} AS sxyf,
                                 ${sqlDsum("x * x")} AS sxxf,
                                 CAST(count(*) AS DOUBLE) AS nf
                          FROM s GROUP BY fold),
                    t AS (SELECT ${sqlDsum("x")} AS sxt, ${sqlDsum("y")} AS syt,
                                 ${sqlDsum("x * y")} AS sxyt,
                                 ${sqlDsum("x * x")} AS sxxt,
                                 CAST(count(*) AS DOUBLE) AS nt
                          FROM s),
                    c AS (SELECT fold,
                            ((sxyt - sxyf) - (sxt - sxf) * (syt - syf) / (nt - nf)) /
                              ((sxxt - sxxf) - (sxt - sxf) * (sxt - sxf) / (nt - nf))
                              AS b1,
                            (syt - syf) / (nt - nf) -
                              (((sxyt - sxyf) - (sxt - sxf) * (syt - syf) / (nt - nf)) /
                               ((sxxt - sxxf) - (sxt - sxf) * (sxt - sxf) / (nt - nf)))
                              * ((sxt - sxf) / (nt - nf)) AS b0
                          FROM g, t),
                    e AS (SELECT s.fold, c.b0, c.b1,
                                 s.y - (c.b0 + c.b1 * s.x) AS r
                          FROM s JOIN c ON s.fold = c.fold)
               SELECT fold, max(b0) AS b0, max(b1) AS b1,
                      count(*) AS n_test,
                      sqrt(${sqlDsum("r * r")} / CAST(count(*) AS DOUBLE))
                        AS rmse
               FROM e GROUP BY fold ORDER BY fold""")),

    // ---- M40 svyby: per-group domain means + variances ----------------
    // survey::svyby(~y, ~g, svymean) over the A design, groups id % 3:
    // every group's mean AND design-correct domain variance from two
    // grouped passes (each one shuffle, any group count) —
    // WeightedStats.svybyMean. Full-sample n in each variance (domain
    // semantics, like m33).
    Q("m40_svyby",
      (s, d) => {
        val a = sampleA(s, d).withColumn("g", col("id") % 3)
        WeightedStats.svybyMean(SurveyDesign(a, "d"), "y", "g")
          .orderBy("g")
      },
      Some(s"""WITH a AS ($sqlA),
                    f AS (SELECT a.*, id % 3 AS g FROM a),
                    m AS (SELECT g, ${sqlDsum("d * y")} AS sdy,
                                 ${sqlDsum("d")} AS sd,
                                 count(*) AS cnt
                          FROM f GROUP BY g),
                    mt AS (SELECT m.*, CAST(sum(cnt) OVER () AS DOUBLE)
                                         AS n FROM m),
                    z AS (SELECT f.g, mt.sdy, mt.sd, mt.n,
                                 f.d * (f.y - mt.sdy / mt.sd) AS s
                          FROM f JOIN mt ON mt.g = f.g)
               SELECT g, max(sdy) / max(sd) AS mean_y,
                      max(n) / (max(n) - 1.0) *
                        (${sqlDsum("s * s")} - ${sqlDsum("s")} *
                           ${sqlDsum("s")} / max(n)) /
                        (max(sd) * max(sd)) AS var_mean
               FROM z GROUP BY g ORDER BY g""")),

    // ---- M43 isotonic (PAVA) score calibration ------------------------
    // Monotone calibration of P(high-price | quantity) over binned
    // sufficient statistics (graft.stats.Isotonic): one partial-
    // aggregable pass + driver PAVA over the bounded bin table. Full
    // hash oracle: the fitted value is graded QUANTIZED at 2⁻²⁰ and the
    // oracle computes the identical isotonic fit through the minimax
    // identity fit(i) = max_{a≤i} min_{b≥i} mean(a..b) (Robertson,
    // Wright & Dykstra 1988 §1.2) — O(B³) over B = 17 bins, with
    // interval means from exact-decimal sums. PAVA's pairwise pooling
    // and the minimax interval means agree exactly in real arithmetic
    // and to ~1e-15 in IEEE; 2⁻²⁰ ≈ 1e-6 absorbs that while separating
    // distinct fitted levels (~1e-2 apart). IsotonicSuite still pins
    // the classic PAVA fixtures and mean preservation.
    Q("m43_isotonic",
      (s, d) => {
        val li = load(s, d, "lineitem").select(
          col("l_quantity").as("score"),
          (col("l_extendedprice") > 30000.0).cast("double").as("label"))
        val fit = graft.stats.Isotonic.fitBinned(li, "score", "label",
          lo = 0.0, hi = 51.0, nBins = 17)
        fit.select(col("bin"), col("x_lo"), col("n"), col("y_mean"),
            (floor(col("fitted") * lit(1048576.0) + lit(0.5)) /
              lit(1048576.0)).as("qfitted"))
          .orderBy("bin")
      },
      Some(s"""WITH src AS (SELECT CAST(l_quantity AS DOUBLE) AS score,
                      CASE WHEN l_extendedprice > 30000.0
                           THEN 1.0 ELSE 0.0 END AS label
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL
                      AND l_extendedprice IS NOT NULL),
              bins AS (SELECT least(16, greatest(0,
                           CAST(floor((score - 0.0) / 3.0) AS BIGINT)))
                             AS bin,
                         count(*) AS n,
                         ${sqlDsum("label")} / count(label) AS y_mean
                       FROM src GROUP BY 1),
              pairs AS (SELECT la.bin AS a, lb.bin AS b
                        FROM bins la JOIN bins lb ON la.bin <= lb.bin),
              ivm AS (SELECT p.a, p.b,
                        ${sqlDsum("CAST(k.n AS DOUBLE) * k.y_mean")} /
                          CAST(sum(k.n) AS DOUBLE) AS m
                      FROM pairs p JOIN bins k
                        ON k.bin BETWEEN p.a AND p.b
                      GROUP BY p.a, p.b),
              minb AS (SELECT i.bin, v.a, min(v.m) AS mn
                       FROM bins i JOIN ivm v
                         ON v.a <= i.bin AND v.b >= i.bin
                       GROUP BY i.bin, v.a),
              fit AS (SELECT bin, max(mn) AS fitted
                      FROM minb GROUP BY bin)
              SELECT b.bin, CAST(b.bin AS DOUBLE) * 3.0 AS x_lo, b.n,
                     b.y_mean,
                     floor(f.fitted * 1048576.0 + 0.5) / 1048576.0
                       AS qfitted
              FROM bins b JOIN fit f ON f.bin = b.bin
              ORDER BY b.bin""")),

    // ---- M42 Wilson score intervals for proportions -------------------
    // Per-event-type share of events with the Wilson 95% CI (the
    // interval that behaves at small n and extreme p, unlike Wald):
    // center (p̂ + z²/2n)/(1+z²/n), half-width z·√(p̂(1−p̂)/n + z²/4n²)
    // /(1+z²/n). Counts are exact integers; the z constant is a
    // literal; sqrt is correctly rounded — full hash oracle.
    Q("m42_wilson_ci",
      (s, d) => {
        // ONE events scan: the grouped counts are driver-sized (a few
        // event types), n is their exact sum, and the Wilson arithmetic
        // runs driver-side with the same IEEE trees the oracle writes
        val per = graft.util.Tables.loadEvents(s, d)
          .groupBy("event_type").agg(count(lit(1)).as("k"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        val n = per.map(_._2).sum.toDouble
        val z = 1.96
        val z2 = z * z
        import s.implicits._
        per.toSeq.map { case (t, k) =>
          val p = k.toDouble / n
          val denom = 1.0 + z2 / n
          val center = (p + z2 / (2.0 * n)) / denom
          val half = (z * math.sqrt(p * (1.0 - p) / n +
            z2 / (4.0 * n * n))) / denom
          (t, k, p, center - half, center + half)
        }.toDF("event_type", "k", "p_hat", "ci_lo", "ci_hi")
          .orderBy("event_type")
      },
      Some(s"""WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM events),
                    per AS (SELECT event_type, count(*) AS k
                            FROM events GROUP BY event_type),
                    c AS (SELECT per.event_type, per.k, n.n,
                            CAST(per.k AS DOUBLE) / n.n AS p,
                            1.0 + CAST('${1.96 * 1.96}' AS DOUBLE) / n.n
                              AS denom
                          FROM per, n),
                    w AS (SELECT event_type, k, p,
                            (p + CAST('${1.96 * 1.96}' AS DOUBLE)
                              / (2.0 * n)) / denom AS center,
                            (1.96 * sqrt(p * (1.0 - p) / n +
                              CAST('${1.96 * 1.96}' AS DOUBLE)
                                / (4.0 * n * n))) / denom AS half
                          FROM c)
               SELECT event_type, k, p AS p_hat,
                      center - half AS ci_lo, center + half AS ci_hi
               FROM w ORDER BY event_type""")),

    // ---- M44 Mann–Whitney U (two-sample rank test) ---------------------
    // (cumulative sums via the two-pass `withCumSums` below, not a
    // global-order window — see its scaladoc)
    // Nonparametric A/B of document length between English and the rest
    // — the rank-based alternative to m38's Welch t. All rank
    // arithmetic stays in exact integers by carrying DOUBLED midranks
    // (2·midrank of a tie group = 2·cum_before + t + 1), so the rank
    // sum, tie correction Σ(t³−t), and U never touch floats; the
    // normal-approximation z (no continuity correction) is a mirrored
    // IEEE tree over those exact integers. One grouped pass to the
    // |distinct values|-bounded frame, then a window over that frame.
    Q("m44_mannwhitney",
      (s, d) => {
        val byV = load(s, d, "documents")
          .select(col("n_chars").as("v"),
            when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("g1"))
          .groupBy("v")
          .agg(count(lit(1)).as("t"), sum(col("g1")).as("t1"))
        // t³ wraps silently past t = 2²¹ under Spark's non-ANSI long
        // arithmetic (DuckDB would raise) — guard the cube before it
        // happens (the doremiReweight overflow contract)
        val tGuarded = when(col("t") >= lit(2097152L),
          raise_error(lit("m44: a tie group exceeds 2^21 rows — t^3 " +
            "overflows long; bucket the value column first")))
          .otherwise(col("t"))
        val (cum, _) = withCumSums(byV)
        val a = cum
          .withColumn("r2", lit(2L) * (col("ct") - col("t"))
            + col("t") + lit(1L))
          .agg(sum(col("t1") * col("r2")).as("r2sum1"),
            sum(col("t1")).as("n1"), sum(col("t")).as("n"),
            sum(tGuarded * col("t") * col("t") - col("t")).as("ties"))
        // an empty group (no 'en' docs, or all 'en') zeroes n1·n2 and
        // the variance denominator — z would be a silent NaN; raise
        // instead (the degenerate-input convention from thresholdSweep).
        // The guard is THREADED through u1/mu/sig2, not just the n1
        // output column: a consumer selecting only z would otherwise
        // let column pruning drop the raise and surface the NaN anyway
        val n1G = when(col("n1") === lit(0L) || col("n1") === col("n"),
          raise_error(lit("m44: one group is empty (n1 = 0 or n1 = n) " +
            "— the rank-test variance is zero and z is undefined")))
          .otherwise(col("n1"))
        val u1 = (col("r2sum1") - n1G * (n1G + lit(1L)))
          .cast("double") / lit(2.0)
        val mu = (n1G * (col("n") - n1G)).cast("double") /
          lit(2.0)
        val sig2 = (n1G * (col("n") - n1G)).cast("double") /
          lit(12.0) *
          ((col("n") + lit(1L)).cast("double") -
            col("ties").cast("double") /
              (col("n") * (col("n") - lit(1L))).cast("double"))
        a.select(n1G.as("n1"), (col("n") - col("n1")).as("n2"),
          u1.as("u1"), ((u1 - mu) / sqrt(sig2)).as("z"))
      },
      Some("""WITH b AS (SELECT n_chars AS v, count(*) AS t,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS t1
                   FROM documents GROUP BY n_chars),
                  r AS (SELECT t, t1,
                          2 * (sum(t) OVER (ORDER BY v
                                 ROWS UNBOUNDED PRECEDING) - t) + t + 1
                            AS r2
                        FROM b),
                  a AS (SELECT CAST(sum(t1 * r2) AS BIGINT) AS r2sum1,
                          CAST(sum(t1) AS BIGINT) AS n1,
                          CAST(sum(t) AS BIGINT) AS n,
                          CAST(sum(t*t*t - t) AS BIGINT) AS ties
                        FROM r)
              SELECT n1, n - n1 AS n2,
                     CAST(r2sum1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
                     (CAST(r2sum1 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                       - CAST(n1 * (n - n1) AS DOUBLE) / 2.0)
                     / sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 12.0
                            * (CAST(n + 1 AS DOUBLE)
                               - CAST(ties AS DOUBLE)
                                 / CAST(n * (n - 1) AS DOUBLE))) AS z
              FROM a""")),

    // ---- M45 Kolmogorov–Smirnov two-sample test ------------------------
    // Distribution-level A/B beside m44's location test: D = max over
    // distinct values of |F_en(v) − F_rest(v)|, ECDFs from exact
    // integer cumulative counts on the same doubled-midrank-free
    // grouped frame as m44; the scaled statistic c = D·√(n1·n2/(n1+n2))
    // is a mirrored IEEE tree. Windows run only on the distinct-value
    // frame; max over identical doubles is engine-stable.
    Q("m45_ks_test",
      (s, d) => {
        val byV = load(s, d, "documents")
          .select(col("n_chars").as("v"),
            when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("g1"))
          .groupBy("v")
          .agg(count(lit(1)).as("t"), sum(col("g1")).as("t1"))
        // empty-group guard (the m44 convention): n1 = 0 or n1 = n makes
        // one ECDF denominator zero — fd and ks_scaled would be silent
        // NaN; raise instead
        val n1G = when(col("n1") === lit(0L) || col("n1") === col("n"),
          raise_error(lit("m45: one group is empty (n1 = 0 or n1 = n) " +
            "— the two-sample ECDF difference is undefined")))
          .otherwise(col("n1"))
        val (cum, (nTot, n1Tot)) = withCumSums(byV)
        // grand totals are the cumsum prefixes' driver-side final
        // values — exact integer sums, identical to the old
        // Window.partitionBy(lit(1)) values without moving every row
        // to one task or running a second aggregation
        val diffs = cum
          .withColumn("n", lit(nTot)).withColumn("n1", lit(n1Tot))
          .select(n1G.as("n1"), (col("n") - col("n1")).as("n2"),
            abs(col("c1").cast("double") / n1G.cast("double")
              - (col("ct") - col("c1")).cast("double")
                / (col("n") - col("n1")).cast("double")).as("fd"))
        diffs.groupBy("n1", "n2").agg(max(col("fd")).as("d"))
          .select(col("n1"), col("n2"), col("d"),
            (col("d") * sqrt((col("n1") * col("n2")).cast("double")
              / (col("n1") + col("n2")).cast("double"))).as("ks_scaled"))
      },
      Some("""WITH b AS (SELECT n_chars AS v, count(*) AS t,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS t1
                   FROM documents GROUP BY n_chars),
                  cum AS (SELECT v, t, t1,
                           CAST(sum(t1) OVER (ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
                           CAST(sum(t) OVER (ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ct,
                           CAST(sum(t1) OVER () AS BIGINT) AS n1,
                           CAST(sum(t) OVER () AS BIGINT) AS n
                         FROM b),
                  f AS (SELECT n1, n - n1 AS n2,
                          abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                            - CAST(ct - c1 AS DOUBLE)
                              / CAST(n - n1 AS DOUBLE)) AS fd
                        FROM cum),
                  m AS (SELECT n1, n2, max(fd) AS d FROM f GROUP BY n1, n2)
              SELECT n1, n2, d,
                     d * sqrt(CAST(n1 * n2 AS DOUBLE)
                              / CAST(n1 + n2 AS DOUBLE)) AS ks_scaled
              FROM m""")),

    // ---- M41 per-row regression diagnostics ---------------------------
    // Leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx and Cook's distance for the
    // simple OLS fit — influence screening as a pure projection: ONE
    // moment pass (SSE from the closed form Syy − b1·Sxy, no residual
    // pass), scalars broadcast as literals, per-row IEEE identical
    // across engines.
    Q("m41_ols_diagnostics",
      (s, d) => {
        val src = load(s, d, "lineitem").select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        val g = src.agg(dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("y")).as("sxy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"),
          count(lit(1)).cast("double").as("n")).head()
        val (sx, sy, sxy, sxx, syy, n) =
          (dbl(g, 0), dbl(g, 1), dbl(g, 2), dbl(g, 3), dbl(g, 4), dbl(g, 5))
        val xbar = sx / n
        val sxxc = sxx - sx * sx / n
        val b1 = (sxy - sx * sy / n) / (sxx - sx * sx / n)
        val b0 = sy / n - b1 * (sx / n)
        val s2 = ((syy - sy * sy / n) - b1 * (sxy - sx * sy / n)) / (n - 2.0)
        val invn = 1.0 / n
        val hthr = 4.0 / n
        val resid = col("y") - (lit(b0) + lit(b1) * col("x"))
        val lev = lit(invn) +
          (col("x") - lit(xbar)) * (col("x") - lit(xbar)) / lit(sxxc)
        src.select(col("id"), col("x"), col("y"),
            resid.as("resid"), lev.as("leverage"),
            (resid * resid / lit(2.0 * s2) *
              (lev / ((lit(1.0) - lev) * (lit(1.0) - lev)))).as("cooks_d"),
            (lev > lit(hthr)).cast("int").as("high_leverage"))
          .orderBy("id")
      },
      Some(s"""WITH src AS (SELECT l_orderkey * 10 + l_linenumber AS id,
                                   l_quantity AS x, l_extendedprice AS y
                            FROM lineitem),
                    g AS (SELECT ${sqlDsum("x")} AS sx, ${sqlDsum("y")} AS sy,
                                 ${sqlDsum("x * y")} AS sxy,
                                 ${sqlDsum("x * x")} AS sxx,
                                 ${sqlDsum("y * y")} AS syy,
                                 CAST(count(*) AS DOUBLE) AS n
                          FROM src),
                    c AS (SELECT n, sx / n AS xbar,
                            sxx - sx * sx / n AS sxxc,
                            (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b1,
                            sy / n - ((sxy - sx * sy / n) /
                              (sxx - sx * sx / n)) * (sx / n) AS b0,
                            ((syy - sy * sy / n) -
                              ((sxy - sx * sy / n) / (sxx - sx * sx / n)) *
                                (sxy - sx * sy / n)) / (n - 2.0) AS s2,
                            1.0 / n AS invn, 4.0 / n AS hthr
                          FROM g),
                    e AS (SELECT src.id, src.x, src.y,
                            src.y - (c.b0 + c.b1 * src.x) AS resid,
                            c.invn + (src.x - c.xbar) * (src.x - c.xbar)
                              / c.sxxc AS lev,
                            c.s2, c.hthr
                          FROM src, c)
               SELECT id, x, y, resid, lev AS leverage,
                      resid * resid / (2.0 * s2) *
                        (lev / ((1.0 - lev) * (1.0 - lev))) AS cooks_d,
                      CAST(lev > hthr AS INTEGER) AS high_leverage
               FROM e ORDER BY id""")),

    // ---- M38 Welch two-sample t-test (A/B testing) --------------------
    // t statistic + Welch–Satterthwaite df for F-status vs O-status
    // order totals: pure closed-form arithmetic over exact-decimal
    // conditional moments (sqrt is the only transcendental — correctly
    // rounded in both engines), mirrored CTE-for-CTE so every IEEE
    // intermediate is bit-identical.
    Q("m38_welch_ttest",
      (s, d) => {
        val o = load(s, d, "orders")
        def grp(st: String, tag: String) = Seq(
          count(when(col("o_orderstatus") === st, 1)).cast("double")
            .as(s"n$tag"),
          dsum(when(col("o_orderstatus") === st, col("o_totalprice")))
            .as(s"sx$tag"),
          dsum(when(col("o_orderstatus") === st,
            col("o_totalprice") * col("o_totalprice"))).as(s"sxx$tag"))
        val aggs = grp("F", "1") ++ grp("O", "2")
        val g = o.agg(aggs.head, aggs.tail: _*)
        val m = g.select(col("n1"), col("n2"),
          (col("sx1") / col("n1")).as("m1"),
          (col("sx2") / col("n2")).as("m2"),
          ((col("sxx1") - col("sx1") * col("sx1") / col("n1")) /
            (col("n1") - lit(1.0))).as("v1"),
          ((col("sxx2") - col("sx2") * col("sx2") / col("n2")) /
            (col("n2") - lit(1.0))).as("v2"))
        val t = m.select(col("n1"), col("n2"), col("m1"), col("m2"),
          (col("v1") / col("n1")).as("a1"), (col("v2") / col("n2")).as("a2"),
          (col("v1") / col("n1") + col("v2") / col("n2")).as("se2"))
        t.select(col("m1").as("mean_f"), col("m2").as("mean_o"),
          ((col("m1") - col("m2")) / sqrt(col("se2"))).as("t_stat"),
          (col("se2") * col("se2") /
            (col("a1") * col("a1") / (col("n1") - lit(1.0)) +
              col("a2") * col("a2") / (col("n2") - lit(1.0)))).as("df_welch"))
      },
      Some(s"""WITH g AS (SELECT
                    CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                      AS DOUBLE) AS n1,
                    ${sqlDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS sx1,
                    ${sqlDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * o_totalprice END")} AS sxx1,
                    CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                      AS DOUBLE) AS n2,
                    ${sqlDsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS sx2,
                    ${sqlDsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * o_totalprice END")} AS sxx2
                  FROM orders),
                m AS (SELECT n1, n2, sx1 / n1 AS m1, sx2 / n2 AS m2,
                        (sxx1 - sx1 * sx1 / n1) / (n1 - 1.0) AS v1,
                        (sxx2 - sx2 * sx2 / n2) / (n2 - 1.0) AS v2
                      FROM g),
                t AS (SELECT n1, n2, m1, m2, v1 / n1 AS a1, v2 / n2 AS a2,
                        v1 / n1 + v2 / n2 AS se2
                      FROM m)
               SELECT m1 AS mean_f, m2 AS mean_o,
                      (m1 - m2) / sqrt(se2) AS t_stat,
                      se2 * se2 / (a1 * a1 / (n1 - 1.0) +
                        a2 * a2 / (n2 - 1.0)) AS df_welch
               FROM t""")),

    // ---- M39 chi-square independence test -----------------------------
    // Pearson chi² of o_orderstatus × o_orderpriority: integer
    // marginals, per-cell (O−E)²/E in IEEE, exact-decimal cell sum →
    // hash-exact. One grouped pass + tiny marginal joins.
    Q("m39_chisq_independence",
      (s, d) => {
        val obs = load(s, d, "orders")
          .groupBy(col("o_orderstatus").as("s"), col("o_orderpriority").as("p"))
          .agg(count(lit(1)).as("o"))
        val rows = obs.groupBy("s").agg(sum(col("o")).as("rs"))
        val cols_ = obs.groupBy("p").agg(sum(col("o")).as("cs"))
        val n = obs.agg(sum(col("o")).as("nn"))
        val e = obs.join(broadcast(rows), "s").join(broadcast(cols_), "p")
          .crossJoin(broadcast(n))
          .select(col("s"), col("p"), col("o").cast("double").as("od"),
            ((col("rs") * col("cs")).cast("double") /
              col("nn").cast("double")).as("ed"))
        e.agg(
          dsum((col("od") - col("ed")) * (col("od") - col("ed")) / col("ed"))
            .as("chi2"),
          ((count_distinct(col("s")) - lit(1L)) *
            (count_distinct(col("p")) - lit(1L))).as("dof"))
      },
      Some(s"""WITH obs AS (SELECT o_orderstatus AS s, o_orderpriority AS p,
                              count(*) AS o
                            FROM orders GROUP BY 1, 2),
                    r AS (SELECT s, CAST(sum(o) AS BIGINT) AS rs
                          FROM obs GROUP BY s),
                    c AS (SELECT p, CAST(sum(o) AS BIGINT) AS cs
                          FROM obs GROUP BY p),
                    n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM obs),
                    e AS (SELECT obs.s, obs.p, CAST(obs.o AS DOUBLE) AS od,
                            CAST(r.rs * c.cs AS DOUBLE) / CAST(n.nn AS DOUBLE)
                              AS ed
                          FROM obs JOIN r ON r.s = obs.s
                          JOIN c ON c.p = obs.p CROSS JOIN n)
               SELECT ${sqlDsum("(od - ed) * (od - ed) / ed")} AS chi2,
                      (count(DISTINCT s) - 1) * (count(DISTINCT p) - 1) AS dof
               FROM e""")),

    // ---- M36 Poisson bootstrap variance -------------------------------
    // Hash-checkable bootstrap: replicate r reweights each element by a
    // DETERMINISTIC Poisson(1) draw — portable multiplicative hash of
    // (id, r) → inverse CDF over literal-digit thresholds (no libm) —
    // so the whole resampling scheme reruns bit-identically in DuckDB.
    // One ×R row expansion, then a single partial-aggregable groupBy(r).
    // fixture is the FULL customer table, not the %37 sampleA carve:
    // at sf0.001 the carve has ~4 rows and an independent Poisson(1)
    // replicate drawing all-zero K there is a ~44% event per run —
    // the operator raises loudly on it (see poissonBootstrapMean);
    // 150+ rows put the probability at e^−150 ≈ 0 at every graded SF
    Q("m36_poisson_bootstrap",
      (s, d) => Replication.poissonBootstrapMean(
        load(s, d, "customer").select(col("c_custkey").as("id"),
          col("c_acctbal").as("y"),
          (lit(1.0) + (col("c_custkey") % 7).cast("double")).as("d")),
        col("y"), col("d"), col("id"), reps = 32),
      Some(bootstrapOracle(reps = 32)))
  )

  /** DuckDB rendition of m36: same md5-unit draw (first 13 hex digits
    * of md5("id:r") / 2⁵² — the e20/o04 portable convention; the old
    * affine hash made every replicate a global rotation of the first),
    * same CASE inverse-CDF, same replicate aggregation — constants
    * embedded as shortest-repr VARCHAR casts per the float-parity
    * convention. */
  private def bootstrapOracle(reps: Int): String = {
    val cs = graft.stats.Replication.poisson1Cum.map(c =>
      s"CAST('$c' AS DOUBLE)")
    val kCase = "CASE " + cs.zipWithIndex.map { case (c, i) =>
      s"WHEN u < $c THEN $i.0"
    }.mkString(" ") + " ELSE 8.0 END"
    val hexParse13 = (0 until 13).map { i =>
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * " +
        s"${BigInt(16).pow(12 - i)}"
    }.mkString(" + ")
    s"""WITH a AS (SELECT c_custkey AS id, c_acctbal AS y,
                          1.0 + CAST(c_custkey % 7 AS DOUBLE) AS d
                   FROM customer),
              reps AS (SELECT unnest(generate_series(0, ${reps - 1})) AS r),
              hxx AS (SELECT a.y, a.d, reps.r,
                        md5(CAST(a.id AS VARCHAR) || ':' ||
                            CAST(reps.r AS VARCHAR)) AS hx
                      FROM a CROSS JOIN reps),
              x AS (SELECT y, d, r,
                      CAST($hexParse13 AS DOUBLE) / 4503599627370496.0 AS u
                    FROM hxx),
              kk AS (SELECT r, y, d, $kCase AS k FROM x),
              rt AS (SELECT r, ${sqlDsum("k * d * y")} AS tr,
                            ${sqlDsum("k * d")} AS wr
                     FROM kk GROUP BY r),
              tot AS (SELECT ${sqlDsum("d * y")} AS t,
                             ${sqlDsum("d")} AS w FROM a)
         SELECT max(t / w) AS mean_y,
                CAST($reps AS BIGINT) AS n_reps,
                ${sqlDsum18("(tr / wr - t / w) * (tr / wr - t / w)")}
                  / $reps.0 AS var_boot
         FROM rt, tot"""
  }

  /** DuckDB rendition of m31: pivot the 6 exact-decimal cells to scalars,
    * then unroll `iters` IPF rounds as CTEs — every ratio update is the
    * same left-associated IEEE expression the Scala loop folds. */
  private def rakingOracle(iters: Int): String = {
    val k1 = 0 to 2
    val k2 = 0 to 1
    val cellCols = (for { a <- k1; b <- k2 } yield
      s"COALESCE(max(CASE WHEN f1 = $a AND f2 = $b THEN cw END), 0.0) AS c$a$b")
      .mkString(",\n                      ")
    val tgtCols =
      (k1.map(a => s"CAST(sum(CASE WHEN c_custkey % 3 = $a THEN 1 ELSE 0 END) AS DOUBLE) AS t1_$a") ++
       k2.map(b => s"CAST(sum(CASE WHEN c_custkey % 2 = $b THEN 1 ELSE 0 END) AS DOUBLE) AS t2_$b"))
        .mkString(",\n                      ")
    val r0Cols = (k1.map(a => s"CAST(1.0 AS DOUBLE) AS r1_$a") ++
                  k2.map(b => s"CAST(1.0 AS DOUBLE) AS r2_$b")).mkString(", ")
    val steps = new StringBuilder
    var prev = "r0"
    var idx = 0
    for (_ <- 1 to iters) {
      idx += 1
      val up1 = k1.map { a =>
        val s = k2.map(b => s"c$a$b * r1_$a * r2_$b").mkString(" + ")
        s"r1_$a * (t1_$a / ($s)) AS r1_$a"
      }
      val keep2 = k2.map(b => s"r2_$b")
      steps ++= s",\n h$idx AS (SELECT ${(up1 ++ keep2).mkString(", ")} FROM $prev, cw, tgt)"
      prev = s"h$idx"
      idx += 1
      val up2 = k2.map { b =>
        val s = k1.map(a => s"c$a$b * r1_$a * r2_$b").mkString(" + ")
        s"r2_$b * (t2_$b / ($s)) AS r2_$b"
      }
      val keep1 = k1.map(a => s"r1_$a")
      steps ++= s",\n h$idx AS (SELECT ${(keep1 ++ up2).mkString(", ")} FROM $prev, cw, tgt)"
      prev = s"h$idx"
    }
    s"""WITH a AS ($sqlA),
              cells AS (SELECT id % 3 AS f1, id % 2 AS f2, ${sqlDsum("d")} AS cw
                        FROM a GROUP BY 1, 2),
              cw AS (SELECT $cellCols
                     FROM cells),
              tgt AS (SELECT $tgtCols
                      FROM customer),
              r0 AS (SELECT $r0Cols)$steps
         SELECT a.id, a.id % 3 AS f1, a.id % 2 AS f2,
                a.d * (CASE a.id % 3 WHEN 0 THEN r1_0 WHEN 1 THEN r1_1 ELSE r1_2 END)
                    * (CASE a.id % 2 WHEN 0 THEN r2_0 ELSE r2_1 END) AS w_rake
         FROM a, $prev ORDER BY a.id"""
  }
}
