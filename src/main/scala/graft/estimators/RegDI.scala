package graft.estimators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.FormulaSpec
import graft.stats.{Gram, GramResult, GramSpec, Ols}
import graft.util.Tables.{dsum, dvarSamp}

/** RegDI calibration estimator (Kim & Tam 2021), re-expressing
  * `RegDI2.R:5-333` Spark-first.
  *
  * Pipeline (one lazy plan + a handful of tiny-aggregate actions): the
  * [[Greg]] entry (fusion, indicators, sizes and N in one pass) → delta
  * feature columns, whose totals ride that pass → GREG calibration of the
  * A design (Gram agg + k×k driver solve, k = 3 + #aux) → weighted mean
  * with linearization variance. What is RegDI's own here: the delta
  * features, the correction dispatch and correction 2's inversion.
  * Corrections:
  *     0/1 — calibrated `svymean(~y_A)` (`RegDI2.R:244-248,320-325`)
  *     2   — measurement-error: OLS y_A ~ y_B on A∩B, invert, rebuild
  *           `delta_yi_corrected` totals, re-calibrate (`RegDI2.R:250-307`)
  *     3   — doubly robust: outcome model on A, predict all, combine
  *           (`RegDI2.R:196-241,309-313`)
  *
  * Scale: no data rows ever reach the driver. Per-correction cost is
  * O(#rows) scan work with O(k²) aggregate state; the fusion join
  * broadcasts A, so B is never shuffled.
  */
final case class RegDIResult(
    mean: Double, variance: Double,
    rmse: Option[Double] = None, r2: Option[Double] = None) {
  def se: Double = math.sqrt(variance)
}

final case class RegDIConfig(
    yACol: String,
    yBCol: String,
    auxVars: Seq[String] = Nil,
    nTotal: Option[Double] = None,
    weightsA: Option[String] = None,
    outcomeModel: Option[String] = None,
    modelType: String = "normal",
    correction: Int = 0,
    evalModelPerformance: Boolean = false
)

object RegDI {

  /** Two-table API (`RegDI2.R` with data_A/data_B). */
  def twoSample(
      dataA: DataFrame,
      dataB: DataFrame,
      idVarA: String,
      idVarB: String,
      cfg: RegDIConfig
  ): RegDIResult = {
    // y, aux and weights must come from their OWN side (r14/r15 review):
    // an aux var missing from B would leave delta_* NULL on every B-only
    // row, the calibration Gram partial, wrong or singular. NOTE the
    // correction-3 contract (mirroring RegDI2.R:218 verbatim): the DR
    // prediction term sums Y_pred over THIS fused A∪B frame — for the
    // textbook population-frame DR estimator, use oneTable with a
    // population-coverage frame (the golden-run configuration).
    val f = Greg.fuse(dataA, dataB, idVarA, idVarB, cfg.yACol, cfg.yBCol,
      ownA = (cfg.yACol -> s"y_A_col '${cfg.yACol}' is not a column of dataA") +:
        cfg.weightsA.toSeq.map(w => w -> s"weightsA '$w' is not a column of dataA"),
      ownB = (cfg.yBCol -> s"y_B_col '${cfg.yBCol}' is not a column of dataB") +:
        cfg.auxVars.map(v => v -> (s"aux var '$v' is not a column of dataB — " +
          "RegDI aux variables are the B-side (big data) covariates")))
    // side-aware resolution (fixes the reference's cell-10 rename bug)
    run(f.df, Greg.IndA, Greg.IndB, f.resolveA(cfg.yACol), f.resolveB(cfg.yBCol),
      cfg.auxVars.map(f.resolveB), cfg.weightsA.map(f.resolveA), cfg,
      popIsData = false)
  }

  /** One-table API (`RegDI2.R` with `data` + indicator columns); without
    * `nTotal`, N is the frame's row count. */
  def oneTable(
      data: DataFrame,
      indVarA: String,
      indVarB: String,
      cfg: RegDIConfig
  ): RegDIResult =
    run(data, indVarA, indVarB, cfg.yACol, cfg.yBCol, cfg.auxVars,
      cfg.weightsA, cfg, popIsData = true)

  // ------------------------------------------------------------------

  private def run(
      data0: DataFrame,
      indA: String, indB: String,
      yA: String, yB: String,
      aux: Seq[String],
      weightsA: Option[String],
      cfg: RegDIConfig,
      popIsData: Boolean
  ): RegDIResult = {
    val isA = col(indA) === 1
    val isB = col(indB) === 1

    if (cfg.correction < 0 || cfg.correction > 3)
      throw new IllegalArgumentException(s"correction ${cfg.correction} not in 0-3")
    // correction-3 prerequisites fail fast, before any job (RegDI2.R:26-42)
    val outcome: Option[Greg.Outcome] =
      if (cfg.correction != 3) None
      else Some(Greg.outcome(cfg.outcomeModel.getOrElse(
        throw new IllegalArgumentException("Correction 3 requires 'outcomeModel'")),
        cfg.modelType, data0))

    // delta feature columns (RegDI2.R:126-141) as expressions — usable
    // both over data0 (first fused pass) and as materialized columns
    val deltaIExpr = when(isB, lit(1.0)).otherwise(lit(0.0))
    val deltaYiExpr = when(isB, col(yB)).otherwise(lit(0.0))
    val deltaAuxExpr = aux.map(z => z -> when(isB, col(z)).otherwise(lit(0.0)))
    val calExprs: Seq[Column] =
      lit(1.0) +: deltaIExpr +: deltaYiExpr +: deltaAuxExpr.map(_._2)

    // the first pass (RegDI2.R:91-103,144-168) carries the calibration
    // totals — the delta totals don't involve d_i_A — and the Grams that
    // do not need n_A:
    //  - "cal": the A-design calibration Gram (corrections 0/1/3) when
    //    d_i_A = w is static, with y_A moments attached so the calibrated
    //    mean's β reuses it (0/1)
    //  - "me": the measurement-error OLS y_A ~ y_B on A∩B (correction 2),
    //    a model FIT (lm), so complete-case
    //  - "ols": the outcome-model Gram on A (correction 3, normal)
    val totAggs = dsum(deltaIExpr).as("t_di") +: dsum(deltaYiExpr).as("t_dyi") +:
      deltaAuxExpr.map { case (z, e) => dsum(e).as(s"t_d$z") }
    val firstSpecs =
      (if (cfg.correction == 2)
         Seq("me" -> GramSpec(Seq(lit(1.0), col(yB)), y = Some(col(yA)),
           mask = Some(isA && isB), completeCase = true))
       else weightsA.toSeq.map(w => "cal" -> GramSpec(calExprs,
         Greg.designWeight(isA, col(w)),
         if (cfg.correction <= 1) Some(col(yA)) else None, Some(isA)))) ++
      outcome.toSeq.flatMap(_.gram(isA))
    val (grams0, sizes) = Greg.firstPass(data0, isA, isB, weightsA,
      cfg.nTotal, popIsData, firstSpecs, totAggs)

    val data = data0
      .withColumn("d_i_A", sizes.dA(weightsA))
      .withColumn("uno", lit(1.0))
      .withColumn("delta_i", deltaIExpr)
      .withColumn("delta_yi", deltaYiExpr)
      .transform(d => deltaAuxExpr.foldLeft(d) { case (acc, (z, e)) =>
        acc.withColumn(s"delta_$z", e)
      })
      .cache()

    try {
      val calCols = "uno" +: "delta_i" +: "delta_yi" +: aux.map(z => s"delta_$z")
      val totals = sizes.nTotal +:
        ("t_di" +: "t_dyi" +: aux.map(z => s"t_d$z")).map(sizes(_))

      // calibration Gram: fused above when d_i_A was static, else one
      // masked pass over the derived frame now
      def calGram(withY: Boolean): GramResult = grams0.getOrElse("cal",
        Gram.momentsMulti(data, Seq("cal" -> GramSpec(calCols.map(col),
          col("d_i_A"), if (withY) Some(col(yA)) else None, Some(isA))))
          ._1("cal"))

      cfg.correction match {
        case 0 | 1 =>
          // GREG calibration of the A-row design (RegDI2.R:181-193)
          val g = calGram(withY = true)
          val m = Greg.calibratedMean(data, isA, yA,
            Greg.calibrated(col("d_i_A"), g, calCols, totals), calCols, g)
          RegDIResult(m.mean, m.variance)

        case 2 =>
          measurementError(data, grams0("me"), isA, isB, yA, yB, aux, totals)

        case _ =>
          doublyRobust(data, grams0, calGram(withY = false), outcome.get,
            isA, yA, calCols, totals, sizes, cfg.evalModelPerformance)
      }
    } finally data.unpersist()
  }

  /** Correction 2 (RegDI2.R:250-307): measurement-error inversion from the
    * A∩B validation overlap, then re-calibration on corrected totals.
    * Two fused passes: the overlap OLS rode the first pass (`meGram`);
    * the corrected totals + corrected calibration Gram (with y moments
    * for the calibrated mean's β) share the second. */
  private def measurementError(
      data: DataFrame,
      meGram: GramResult,
      isA: Column, isB: Column,
      yA: String, yB: String,
      aux: Seq[String],
      totals: Seq[Double]
  ): RegDIResult = {
    // Guard BEFORE the solve: a one-row overlap makes the Gram singular,
    // and the contract message must surface ahead of Det's generic
    // singular-system error.
    require(meGram.n >= 2,
      "Not enough validation data in sample A for the measurement-error model")
    val fit = Ols.fitFromGram(FormulaSpec(Some(yA), Seq(yB), intercept = true), meGram)
    val (b0, b1) = (fit.beta(0), fit.beta(1))
    // a SINGULAR overlap Gram (constant y_B across A∩B) passes n >= 2
    // but Cramer emits NaN betas — and a near-zero slope turns the
    // inversion (y_A − b0)/b1 into ±Inf corrected values. Same loud
    // contract as the n guard.
    require(java.lang.Double.isFinite(b0) && java.lang.Double.isFinite(b1)
        && b1 != 0.0,
      s"degenerate measurement-error fit (b0=$b0, b1=$b1): y_B must " +
        "vary over the A∩B overlap and the model must be invertible")

    val corrected = data
      .withColumn("y_corrected",
        when(isA, (col(yA) - lit(b0)) / lit(b1)).otherwise(col(yB)))
      .withColumn("delta_yi_corrected",
        when(isB, col("y_corrected")).otherwise(lit(0.0)))

    // totals: uno, delta_i unchanged; delta_yi replaced; aux appended
    val calCols = "uno" +: "delta_i" +: "delta_yi_corrected" +:
      aux.map(z => s"delta_$z")
    val (grams, exRow) = Gram.momentsMulti(corrected,
      Seq("cal" -> GramSpec(calCols.map(col), col("d_i_A"),
        Some(col("y_corrected")), Some(isA))),
      Seq(dsum(col("delta_yi_corrected")).as("t_corr")))
    val totalsCorr = totals(0) +: totals(1) +: exRow.getAs[Double]("t_corr") +:
      totals.drop(3)
    val g = grams("cal")
    val m = Greg.calibratedMean(corrected, isA, "y_corrected",
      Greg.calibrated(col("d_i_A"), g, calCols, totalsCorr), calCols, g)
    RegDIResult(m.mean, m.variance)
  }

  /** Correction 3 (RegDI2.R:196-241): outcome model on A, predict all,
    * DR combination (Σ w_cal·e + Σ ŷ)/N with its variance. The normal
    * model's Gram rode the first pass; the A-side and whole-frame score
    * sums share one scoring pass via isA-masking (masked rows contribute
    * NULL, which the exact-decimal sums skip). */
  private def doublyRobust(
      data: DataFrame,
      grams0: Map[String, GramResult],
      calG: GramResult,
      outcome: Greg.Outcome,
      isA: Column,
      yA: String,
      calCols: Seq[String],
      totals: Seq[Double],
      sizes: Greg.Sizes,
      evalModel: Boolean
  ): RegDIResult = {
    // w_cal and ŷ are pure column expressions, so the A-side sums need
    // no pre-materialized calibrated frame — score in place
    val scored = data
      .withColumn("Y_pred", outcome.predict(grams0, data, isA))
      .withColumn("w_cal", Greg.calibrated(col("d_i_A"), calG, calCols, totals))
    val wres = when(isA, (col(yA) - col("Y_pred")) * col("w_cal"))
    val (sums, fit) = Greg.score(scored, isA, yA, col("Y_pred"), Seq(
      dsum(wres).as("s_wres"),
      (dvarSamp(wres) / lit(sizes.nA)).as("v_wres"),
      dsum(col("Y_pred")).as("s_pred"),
      (dvarSamp(col("Y_pred")) / lit(sizes.nTotal)).as("v_pred")),
      sizes.nA, evalModel)
    RegDIResult(
      (sums.getAs[Double]("s_wres") + sums.getAs[Double]("s_pred")) / sizes.nTotal,
      sums.getAs[Double]("v_wres") + sums.getAs[Double]("v_pred"),
      rmse = fit.map(_.rmse), r2 = fit.map(_.r2))
  }
}
