package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Tables.dsum

/** Replicate-weight variance estimation — the classic design-based
  * alternative to the linearization variance the reference uses
  * (`RegDI2.R:246-248` via `survey::svymean`; see [[WeightedStats]]).
  * Delete-one-group jackknife (JK1 — Wolter 2007 §4.2; Rust 1985;
  * `survey::as.svrepdesign(type="JK1")`): with PSUs g = 1..G,
  *
  *   θ̂      = Σwy / Σw                       (full-sample weighted mean)
  *   θ̂₍g₎   = (Σwy − t_g) / (Σw − w_g)       (mean with PSU g deleted)
  *   V̂_JK1  = (G−1)/G · Σ_g (θ̂₍g₎ − θ̄₍·₎)²   (θ̄₍·₎ = replicate mean)
  *   V̂_mse  = (G−1)/G · Σ_g (θ̂₍g₎ − θ̂)²      (svrepdesign mse=TRUE)
  *
  * Both centerings are published (survey's `mse` option); both columns
  * are emitted.
  *
  * Scale shape (100 TB): the ONLY full-data pass is one partial-
  * aggregable `groupBy(psu)` producing G rows of (t_g, w_g) — every
  * replicate estimate then derives from the group totals by pure
  * arithmetic, so G replicates cost ONE aggregation job, not G re-scans
  * of the data (the naive rendition of a replicate-weight estimator —
  * one weighted pass per replicate — is exactly what does not survive a
  * 1000-executor cluster). Everything downstream of the G-row frame is
  * broadcast one-row joins. All sums ride the exact-decimal [[dsum]]
  * rendition, so the result is bit-identical to the DuckDB oracle
  * (m26_jackknife_var) and invariant to partitioning.
  */
object Replication {

  import graft.util.Tables.dsum18

  /** The WeightedStats fail-loud NULL contract, applied to the
    * replicate estimators (r16 review): a NULL y/w would be silently
    * skipped by the decimal sums while the row still counts elsewhere
    * (biased totals, no error), and a NULL stratum/psu GROUPS fine but
    * then falls out of the stratum equi-join in JKn — its PSUs vanish
    * from the replicate frame while the grand totals keep them, an
    * underestimated variance with no error. */
  private def loud(c: Column, what: String, fn: String): Column =
    when(c.isNull, raise_error(lit(
      s"$fn: NULL in $what — filter or impute first (a NULL here " +
        "silently biases the totals or drops replicate rows)")))
      .otherwise(c)

  /** Named zero-denominator guard for the per-replicate ratios — an
    * unnamed ANSI DIVIDE_BY_ZERO (or a silent NULL non-ANSI) otherwise
    * (r16 review; the poisson wrG precedent). */
  private def nonZero(c: Column, what: String, fn: String): Column =
    when(c === lit(0.0), raise_error(lit(
      s"$fn: $what is zero — the replicate/full-sample ratio is " +
        "undefined (zero summed weight)")))
      .otherwise(c)

  /** The collect-then-localize step every estimator here shares: the
    * grouped-totals frame is G-row-bounded by contract (PSU/stratum
    * counts are design metadata, never data-scale), and the local
    * relation stops downstream branches from re-expanding the full
    * scan. Callers validate the rows between the two uses. The rows are
    * read back from the local relation's plan on the driver: no job and
    * no second query execution (ReplicationSuite pins one action). */
  private def localized(gDist: DataFrame)
      : (Array[org.apache.spark.sql.Row], DataFrame) = {
    val local = graft.util.Tables.localRelation(gDist)
    (local.queryExecution.executedPlan.executeCollectPublic(), local)
  }

  /** JK1 jackknife mean + variance of the `w`-weighted mean of `y`,
    * with PSUs given by `psu`. Returns ONE row:
    * (mean_y, g_psus, var_jk, var_jk_mse).
    *
    * The G-row (t_g, w_g) frame is materialized EAGERLY into a local
    * relation (g12-precedent): left lazy, every downstream reference
    * (tot, the replicate join, both centerings) would re-expand the
    * subtree and the planner would scan the data 4× — the opposite of
    * the one-pass shape this operator exists for. The collect is
    * G-row-bounded by contract: a design's PSU count is design
    * metadata (10s–10,000s), never data-scale. ReplicationSuite pins
    * the single-job construction; PlanSuite pins the scan-free final
    * plan. */
  def jk1Mean(df: DataFrame, y: Column, w: Column, psu: Column): DataFrame = {
    val gDist = df.groupBy(loud(psu, "the psu column", "jk1Mean").as("__psu"))
      .agg(dsum(loud(w, "the weights", "jk1Mean") *
        loud(y, "the response", "jk1Mean")).as("tg"), dsum(w).as("wg"))
      .select("tg", "wg")
    val (rows, g) = localized(gDist)
    // a lone PSU has no delete-one contrast: theta = 0/0 would come back
    // as a silent NULL variance — fail loudly like jknMean instead
    require(rows.length >= 2,
      s"JK1 needs >= 2 PSUs, got ${rows.length}")
    val tot = g.agg(dsum(col("tg")).as("t"), dsum(col("wg")).as("w"),
      count(lit(1)).cast("double").as("gn"))
    val rep = g.crossJoin(broadcast(tot))
      .select(col("t"), col("w"), col("gn"),
        ((col("t") - col("tg")) /
          nonZero(col("w") - col("wg"),
            "a delete-one survivor weight (Σw − w_g)", "jk1Mean"))
          .as("theta"))
    val bar = rep.agg((dsum(col("theta")) / first(col("gn"))).as("thetabar"))
    // explicit products, not pow(x, 2): x*x is a single IEEE multiply,
    // bit-identical everywhere; libm pow need not be
    val dBar = col("theta") - col("thetabar")
    val dMse = col("theta") - col("t") / nonZero(col("w"),
      "the summed weight", "jk1Mean")
    rep.crossJoin(broadcast(bar))
      .agg(
        first(col("t") / col("w")).as("mean_y"),
        first(col("gn")).cast("long").as("g_psus"),
        // dsum18: the deviations are normalized ratios (dd ~ sd/√n) —
        // their squares sit near the 1e-10 scale-10 quantum for
        // small-scale y and would round to a variance of exactly 0
        (((first(col("gn")) - lit(1.0)) / first(col("gn"))) *
          dsum18(dBar * dBar)).as("var_jk"),
        (((first(col("gn")) - lit(1.0)) / first(col("gn"))) *
          dsum18(dMse * dMse)).as("var_jk_mse"))
  }

  /** Stratified delete-one-PSU jackknife (JKn — Wolter 2007 §4.5,
    * `survey::as.svrepdesign(type="JKn")`, mse centering): deleting PSU
    * g of stratum h reweights that stratum's survivors by
    * n_h/(n_h − 1), leaving other strata untouched, so with stratum
    * totals (T_h, W_h) and PSU totals (t_hg, w_hg)
    *
    *   T₍hg₎ = T − T_h + (n_h/(n_h−1))·(T_h − t_hg)   (same for W)
    *   θ̂₍hg₎ = T₍hg₎ / W₍hg₎
    *   V̂     = Σ_h (n_h−1)/n_h · Σ_g (θ̂₍hg₎ − θ̂)²
    *
    * Same one-pass shape as [[jk1Mean]]: one partial-aggregable
    * groupBy(stratum, psu) over the data; stratum and grand totals then
    * derive from the Σn_h-row frame, which is materialized eagerly
    * under the same G-row-bounded contract. Returns ONE row:
    * (mean_y, n_strata, g_psus, var_jkn). */
  def jknMean(df: DataFrame, y: Column, w: Column, stratum: Column,
              psu: Column): DataFrame = {
    // the stratum guard is load-bearing beyond the usual NULL contract:
    // a NULL stratum GROUPS fine (and passes the lonely check), but the
    // g.join(byH, "__h") below is an equi-join — null ≠ null — so the
    // NULL stratum's PSUs would silently vanish from the replicate
    // frame while the grand totals keep them (r16 review)
    val gDist = df.groupBy(
        loud(stratum, "the stratum column", "jknMean").as("__h"),
        loud(psu, "the psu column", "jknMean").as("__psu"))
      .agg(dsum(loud(w, "the weights", "jknMean") *
        loud(y, "the response", "jknMean")).as("tg"), dsum(w).as("wg"))
      .select("__h", "tg", "wg")
    val (rows, g) = localized(gDist)
    require(rows.nonEmpty, "jknMean: empty input frame")
    // single-PSU strata have no within-stratum replicate contrast —
    // fail loudly like survey::svrepdesign, not with a NaN variance
    val lonely = rows.groupBy(_.get(0)).collect {
      case (h, rs) if rs.length < 2 => h
    }
    require(lonely.isEmpty,
      s"JKn needs >= 2 PSUs per stratum; single-PSU strata: ${lonely.mkString(", ")}")
    val byH = g.groupBy(col("__h"))
      .agg(dsum(col("tg")).as("th"), dsum(col("wg")).as("wh"),
        count(lit(1)).cast("double").as("nh"))
    // nh values are small exact integers in double — a plain sum is
    // exact and order-free, no decimal rendition needed
    val tot = byH.agg(dsum(col("th")).as("t"), dsum(col("wh")).as("w"),
      count(lit(1)).cast("long").as("hn"),
      sum(col("nh")).cast("long").as("gn"))
    val rep = g.join(byH, Seq("__h"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("w"), col("hn"), col("gn"), col("nh"),
        ((col("t") - col("th") +
          (col("nh") / (col("nh") - lit(1.0))) * (col("th") - col("tg"))) /
         nonZero(col("w") - col("wh") +
           (col("nh") / (col("nh") - lit(1.0))) * (col("wh") - col("wg")),
           "a delete-one reweighted survivor weight", "jknMean"))
          .as("theta"))
    val d = col("theta") -
      col("t") / nonZero(col("w"), "the summed weight", "jknMean")
    rep.agg(
      first(col("t") / col("w")).as("mean_y"),
      first(col("hn")).as("n_strata"),
      first(col("gn")).as("g_psus"),
      // dsum18: normalized squared deviations (see jk1Mean)
      dsum18(((col("nh") - lit(1.0)) / col("nh")) * d * d).as("var_jkn"))
  }

  /** Cumulative Poisson(1) probabilities P(K ≤ k), k = 0..7, written as
    * literal digits (NOT computed via exp) so the same constants can be
    * embedded verbatim in an oracle — no libm dependence. */
  val poisson1Cum: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253)

  /** The ×(R+1) expansion + ONE grouped pass behind
    * [[poissonBootstrapMean]], exposed lazily (R+1 rows, uncollected)
    * so the `ScaleProbes` bootstrap leg can pin the plan shape — partial agg,
    * broadcast expansion, no cartesian — without running it. */
  private[graft] def poissonBootstrapMeanPlan(
      df: DataFrame, y: Column, w: Column,
      idCol: Column, reps: Int): DataFrame = {
    require(reps > 0, s"bootstrap needs at least one replicate, got $reps")
    val spark = df.sparkSession
    // sentinel replicate __r = -1 carries K ≡ 1, so the FULL-SAMPLE
    // totals ride the same grouped pass as the R replicates — the old
    // separate df.agg(...) was a second complete scan of the input
    // for two scalars. One extra broadcast row, one scan saved.
    val repsDf = spark.range(reps.toLong)
      .select(col("id").cast("long").as("__r"))
      .unionByName(spark.range(1).select(lit(-1L).as("__r")))
    // a NULL id would make u NULL, every `u < c` NULL, and the fold's
    // innermost otherwise fire — the row gets K = 8 in EVERY replicate,
    // identically shifting all replicate means with no error. Raise.
    val idG = when(idCol.isNull, raise_error(lit(
      "poissonBootstrapMean: NULL in id column — the portable draw " +
        "needs a non-null row id"))).otherwise(idCol)
    val yG = loud(y, "the response", "poissonBootstrapMean")
    val wLoud = loud(w, "the weights", "poissonBootstrapMean")
    // md5-unit draw, NOT the multiplicative hash: any affine-mod-p
    // hash h(id, r) has h(id, r+1) − h(id, r) ≡ const, so every
    // replicate's uniforms are one global rotation of replicate 0's
    // (perfectly correlated resampling — measured var_boot at 1.4% of
    // s²/n on a linear-trend y, a 70× underestimate), and sequential
    // ids form a Weyl lattice within a replicate (the same defect the
    // LSH hyperplane doc calls out — AnnQueries.portableUnit). The
    // first 13 md5 hex digits of "id:r" / 2⁵² are cryptographic-
    // quality uniforms, engine-portable (the e20/o04 oracle
    // convention), and the power-of-two divide is exact in both
    // engines. Cost: one short-string md5 per expanded row — the
    // declared price of an unbiased hash-checkable bootstrap.
    val hx = md5(concat(idG.cast("string"), lit(":"),
      col("__r").cast("string")))
    val u = conv(substring(hx, 1, 13), 16, 10).cast("double") /
      lit(4503599627370496.0)
    val k0 = poisson1Cum.zipWithIndex.reverse
      .foldLeft(lit(8.0): Column) { case (acc, (c, i)) =>
        when(u < lit(c), lit(i.toDouble)).otherwise(acc)
      }
    val k = when(col("__r") === lit(-1L), lit(1.0)).otherwise(k0)
    df.crossJoin(broadcast(repsDf))
      .groupBy("__r")
      .agg(dsum(k * wLoud * yG).as("tr"), dsum(k * wLoud).as("wr"))
  }

  /** Poisson bootstrap mean + replicate variance (Hanley & MacGibbon
    * 2006; the streaming-friendly bootstrap): replicate r reweights each
    * element by an independent Poisson(1) draw K_ri, so no resample
    * index structure is ever built — θ_r = Σ K·w·y / Σ K·w and
    * V̂ = (1/R)·Σ (θ_r − θ̂)².
    *
    * The draws are DETERMINISTIC: u_ri is the md5-unit draw of "id:r"
    * (first 13 hex digits / 2⁵² — the e20/o04 portable convention; an
    * affine multiplicative hash is unusable here, see the inline note)
    * and K comes from the inverse CDF over [[poisson1Cum]] (capped at
    * 8, tail mass 1e-6) — the same arithmetic reruns bit-identically
    * in any engine, which is what makes a bootstrap hash-checkable at
    * all. Scale shape: the cross
    * join with the R-row replicate frame expands rows ×R (the inherent
    * bootstrap cost), but everything after is ONE partial-aggregable
    * groupBy(r) of O(R) state — no resampled copies are materialized.
    */
  def poissonBootstrapMean(df: DataFrame, y: Column, w: Column,
                           idCol: Column, reps: Int): DataFrame = {
    // R+1 bounded rows: materialize ONCE as a local relation so the
    // replicate/total split below cannot re-execute the ×R expansion
    // per branch (the p20 union-re-executes-agg lesson)
    val rtAll = poissonBootstrapMeanPlan(df, y, w, idCol, reps)
    val (rtRows, local) = localized(rtAll)
    // an empty input expands to ZERO grouped rows (even the sentinel),
    // so the raise-guards below never fire and the result would be one
    // all-NULL-looking row claiming n_reps=R (r16 review)
    require(rtRows.nonEmpty, "poissonBootstrapMean: empty input frame")
    val tot = local.filter(col("__r") === lit(-1L))
      .select(col("tr").as("t"),
        nonZero(col("wr"), "the full-sample summed weight",
          "poissonBootstrapMean").as("wsum"))
    // a replicate whose every row drew K = 0 has Σ K·w = 0 and an
    // undefined θ_r — probability e^−n per replicate, real only for
    // tiny n (the md5 draws are genuinely independent; the pre-r15
    // affine hash could never produce one, which silently masked the
    // case). Raise with the cause named rather than die on ANSI
    // divide-by-zero mid-aggregate.
    val wrG = when(col("wr") === lit(0.0), raise_error(lit(
      "poissonBootstrapMean: a replicate drew an empty resample " +
        "(every K = 0, Σ K·w = 0) — n is too small for a Poisson(1) " +
        "bootstrap; use more rows or fewer replicates")))
      .otherwise(col("wr"))
    val dd = col("tr") / wrG - col("t") / col("wsum")
    local.filter(col("__r") =!= lit(-1L))
      .crossJoin(broadcast(tot))
      .agg(
        first(col("t") / col("wsum")).as("mean_y"),
        lit(reps.toLong).as("n_reps"),
        // dsum18: normalized squared deviations (see jk1Mean)
        (dsum18(dd * dd) / lit(reps.toDouble)).as("var_boot"))
  }

  /** Balanced repeated replication (BRR — Wolter 2007 §3; McCarthy
    * 1969) for a 2-PSUs-per-stratum design: replicate r keeps one PSU
    * per stratum at doubled weight and drops the other, with the
    * keep/drop pattern taken from a Hadamard matrix so the replicates
    * are pairwise balanced;  V̂ = (1/R)·Σ_r (θ̂_r − θ̂)².
    *
    * The Hadamard signs come from the SYLVESTER construction —
    * sign(r, c) = (−1)^popcount(r AND c), pure integer arithmetic that
    * any engine reproduces bit-for-bit (no stored matrix). Stratum h
    * (0-indexed by ascending stratum value) uses column h + 1: column 0
    * of a Sylvester matrix is all-ones, which would pin every replicate
    * to the same PSU of that stratum. R is the smallest power of two
    * > H, giving exact column orthogonality.
    *
    * Same scale shape as the jackknives: ONE partial-aggregable
    * groupBy(stratum, psu) pass; the 2H-row totals frame is eagerly
    * materialized (G-row contract), and the R × H replicate expansion
    * is arithmetic on that local frame. Returns ONE row:
    * (mean_y, n_strata, n_reps, var_brr). */
  def brrMean(df: DataFrame, y: Column, w: Column, stratum: Column,
              psu: Column, fayRho: Double = 0.0): DataFrame = {
    require(fayRho >= 0.0 && fayRho < 1.0,
      s"Fay's rho must be in [0, 1), got $fayRho")
    val spark = df.sparkSession
    val gDist = df.groupBy(
        loud(stratum, "the stratum column", "brrMean").as("__h"),
        loud(psu, "the psu column", "brrMean").as("__psu"))
      .agg(dsum(loud(w, "the weights", "brrMean") *
        loud(y, "the response", "brrMean")).as("tg"), dsum(w).as("wg"))
    val (rows, g) = localized(gDist)
    require(rows.nonEmpty, "BRR on an empty frame (no strata)")
    val byH = rows.groupBy(_.get(0))
    val bad = byH.collect { case (h, rs) if rs.length != 2 => h }
    require(bad.isEmpty,
      s"BRR needs exactly 2 PSUs per stratum; offending strata: ${bad.mkString(", ")}")
    // 0-indexed stratum column and 0/1 PSU slot, both by ascending
    // value — the deterministic labeling the oracle mirrors with
    // dense_rank/row_number
    import org.apache.spark.sql.expressions.Window
    // constant partition key: the frame is a 2H-row local relation, the
    // lit key only silences the unpartitioned-window warning
    val idx = g
      .withColumn("h_idx",
        dense_rank().over(
          Window.partitionBy(lit(1)).orderBy(col("__h"))) - 1)
      .withColumn("slot",
        row_number().over(
          Window.partitionBy(col("__h")).orderBy(col("__psu"))) - 1)
    val hCount = byH.size
    val r0 = Integer.highestOneBit(hCount) * 2 // smallest pow2 > H
    val reps = spark.range(r0.toLong).select(col("id").cast("int").as("r"))
    // Sylvester sign: keep slot 0 when popcount(r & (h_idx+1)) is even.
    // Fay's generalization reweights the kept PSU by 2−ρ and the dropped
    // one by ρ instead of 2/0 (Judkins 1990); ρ=0 is classic BRR — the
    // dropped cells then contribute exact decimal zeros, so the ρ=0
    // result is bit-identical to the old keep-filter formulation.
    val keepSlot = (bit_count(col("r").bitwiseAND(col("h_idx") + 1)) % 2)
      .cast("int")
    val fayFactor = when(col("slot") === keepSlot, lit(2.0) - lit(fayRho))
      .otherwise(lit(fayRho))
    val repTotals = idx.crossJoin(reps)
      .groupBy("r")
      .agg(dsum(fayFactor * col("tg")).as("tr"),
        dsum(fayFactor * col("wg")).as("wr"))
    val tot = g.agg(dsum(col("tg")).as("t"), dsum(col("wg")).as("w"))
    val dd = col("tr") / nonZero(col("wr"),
        "a replicate's summed weight", "brrMean") -
      col("t") / nonZero(col("w"), "the summed weight", "brrMean")
    repTotals.crossJoin(broadcast(tot))
      .agg(
        first(col("t") / col("w")).as("mean_y"),
        lit(hCount.toLong).as("n_strata"),
        lit(r0.toLong).as("n_reps"),
        // dsum18: normalized squared deviations (see jk1Mean)
        (dsum18(dd * dd) /
          lit(r0 * (1.0 - fayRho) * (1.0 - fayRho))).as("var_brr"))
  }
}
