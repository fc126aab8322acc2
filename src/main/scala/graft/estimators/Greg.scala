package graft.estimators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{ColumnResolver, FormulaSpec, Fusion}
import graft.stats.{Calibration, FitMetrics, Gram, GramResult, GramSpec, Logistic, MeanResult, Ols, WeightedStats}
import graft.util.Tables.dsum

/** The pipeline both estimators share around their one GREG step
  * (generalized regression calibration: λ = (XᵀDX)⁻¹(T − Xᵀd), then
  * wᵢ = dᵢ(1 + xᵢᵀλ)). RegDI (Kim & Tam 2021) calibrates the A design and
  * PC (Golini & Righi 2024) the B design; everything around that step is
  * the same: the two-table entry, one first aggregate pass for the sample
  * sizes and N, the design weights, the calibrated weight and mean, the
  * outcome model and its fit metrics. Every sum is exact-decimal, so a
  * masked aggregate over the whole frame equals the filtered one bit for
  * bit, and the estimators may fuse any of these into their own passes. */
private[estimators] object Greg {

  /** Indicator columns the two-table entry adds to the fused frame. */
  val IndA = "ind_var_A"
  val IndB = "ind_var_B"

  /** Two-table entry: each `(column, message)` of `ownA`/`ownB` must be a
    * column of its own side. A column missing from its side would resolve
    * to the other side's bare column after fusion and leave the
    * indicators, totals or Grams silently wrong, so it fails first with
    * the caller's message. Then the broadcast-A fusion, with `IndA`/`IndB`
    * marking the rows whose side-resolved `yA`/`yB` is observed. The
    * returned [[Fusion]]'s `resolveA`/`resolveB` give each checked
    * column's fused name. */
  def fuse(dataA: DataFrame, dataB: DataFrame, idVarA: String, idVarB: String,
           yA: String, yB: String,
           ownA: Seq[(String, String)], ownB: Seq[(String, String)]): Fusion = {
    ownA.foreach { case (c, msg) => require(dataA.columns.contains(c), msg) }
    ownB.foreach { case (c, msg) => require(dataB.columns.contains(c), msg) }
    val f = Fusion.fuse(dataA, dataB, idVarA, idVarB)
    f.copy(df = f.df
      .withColumn(IndA, col(f.resolveA(yA)).isNotNull.cast("int"))
      .withColumn(IndB, col(f.resolveB(yB)).isNotNull.cast("int")))
  }

  /** The first pass's sample sizes, N, and the caller's extra aggregates. */
  final case class Sizes(isA: Column, isB: Column, nA: Double, nB: Double,
                         nTotal: Double, row: Row) {
    /** An extra aggregate of the first pass; NULL (nothing summed) is 0. */
    def apply(name: String): Double = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) 0.0 else row.getAs[Number](i).doubleValue()
    }
    /** d_i_A: the given A weights, else N/n_A (`RegDI2.R:106-116`,
      * `PC.R:149-171`). */
    def dA(weights: Option[String]): Column =
      designWeight(isA, weights.map(col).getOrElse(lit(nTotal / nA)))
    /** d_i_B: the given B weights, else N/n_B. */
    def dB(weights: Option[String]): Column =
      designWeight(isB, weights.map(col).getOrElse(lit(nTotal / nB)))
  }

  /** A design weight: `d` on the side's rows, 0 elsewhere. */
  def designWeight(side: Column, d: Column): Column =
    when(side, d).otherwise(lit(0.0))

  /** ONE aggregate pass for n_A, n_B, the row count and Σ_A w, fused with
    * the caller's Gram `specs` and `extra` aggregates. N is `nTotal` when
    * given; else the row count when the frame is the population
    * (`popIsData`, the one-table mode); else Σ_A w, which needs A weights. */
  def firstPass(data: DataFrame, isA: Column, isB: Column,
                weightsA: Option[String], nTotal: Option[Double],
                popIsData: Boolean, specs: Seq[(String, GramSpec)],
                extra: Seq[Column]): (Map[String, GramResult], Sizes) = {
    // coalesce: an empty sample sums to NULL, which must surface as the
    // "No units" contract below, not a null-value read
    val sizes = Seq(
      coalesce(dsum(when(isA, lit(1.0))), lit(0.0)).as("nA"),
      coalesce(dsum(when(isB, lit(1.0))), lit(0.0)).as("nB"),
      count(lit(1)).cast("double").as("nrows"),
      coalesce(weightsA.map(w => dsum(when(isA, col(w))))
        .getOrElse(lit(0.0)), lit(0.0)).as("sumWA"))
    val (grams, row) = Gram.momentsMulti(data, specs, sizes ++ extra)
    val nA = row.getAs[Double]("nA")
    val nB = row.getAs[Double]("nB")
    require(nA > 0, "No units in sample A")
    require(nB > 0, "No units in sample B")
    val n = nTotal.getOrElse {
      if (popIsData) row.getAs[Double]("nrows")
      else {
        require(weightsA.nonEmpty,
          "To approximate N_total, provide weights for sample A")
        row.getAs[Double]("sumWA")
      }
    }
    (grams, Sizes(isA, isB, nA, nB, n, row))
  }

  /** The calibrated weight d·(1 + xᵀλ), λ from the d-weighted Gram `g`
    * of the calibration variables `x` and their population `totals`
    * (`RegDI2.R:181-193`, `PC.R:216-237`). */
  def calibrated(d: Column, g: GramResult, x: Seq[String],
                 totals: Seq[Double]): Column =
    d * Calibration.gWeightFactor(Calibration.solveLambda(g, x, totals))

  /** `svymean(~y, calibrated design)` over the `side` rows under the
    * calibrated weight `w`; `g` must carry y's moments for the residual
    * regression of the linearization variance. */
  def calibratedMean(data: DataFrame, side: Column, y: String, w: Column,
                     x: Seq[String], g: GramResult): MeanResult =
    WeightedStats.svymeanCalibrated(
      data.filter(side).withColumn("w_cal", w), y, "w_cal", x, g)

  /** An outcome model resolved against the frame. */
  final case class Outcome(spec: FormulaSpec, logistic: Boolean) {
    /** The normal model's OLS Gram over the `mask` rows, to fuse into a
      * pass; a model FIT (lm), so complete-case like Ols.fit. The
      * logistic IRLS iterates and cannot fuse. */
    def gram(mask: Column): Seq[(String, GramSpec)] =
      if (logistic) Nil
      else Seq("ols" -> GramSpec(Ols.designCols(spec),
        y = Some(col(spec.response.getOrElse(
          throw new IllegalArgumentException("OLS needs a response")))),
        mask = Some(mask), completeCase = true))

    /** ŷ as a column: the normal model from the `gram` result in `grams`,
      * the logistic one fit by IRLS over the `mask` rows of `data`. */
    def predict(grams: Map[String, GramResult], data: DataFrame,
                mask: Column): Column =
      if (logistic) Logistic.fit(data.filter(mask), spec).predict
      else Ols.fitFromGram(spec, grams("ols")).predict
  }

  /** Checks the model type and resolves the formula's `_A`/`_B` names. */
  def outcome(model: String, modelType: String, data: DataFrame): Outcome = {
    if (modelType != "normal" && modelType != "logistic")
      throw new IllegalArgumentException(s"model_type '$modelType' unsupported")
    Outcome(ColumnResolver.resolve(FormulaSpec.parse(model), data),
      modelType == "logistic")
  }

  /** ONE scoring pass of `scored`: the estimator's own `sums` plus the
    * outcome model's SSR and Σy_A over the A rows. With `eval`, RMSE and
    * R² about the A mean (`RegDI2.R:228-235`, `PC.R:331-338`) take one
    * more pass for SST. */
  def score(scored: DataFrame, isA: Column, yA: String, pred: Column,
            sums: Seq[Column], nA: Double,
            eval: Boolean): (Row, Option[FitMetrics]) = {
    val e = col(yA) - pred
    val aggs = sums ++ Seq(dsum(when(isA, e * e)).as("ssr"),
      dsum(when(isA, col(yA))).as("s_yA"))
    val row = scored.agg(aggs.head, aggs.tail: _*).head()
    if (!eval) (row, None)
    else {
      val dev = col(yA) - lit(row.getAs[Double]("s_yA") / nA)
      val sst = scored.agg(dsum(when(isA, dev * dev))).head().getDouble(0)
      (row, Some(Ols.fitMetrics(row.getAs[Double]("ssr"), sst, nA, yA,
        "evalModelPerformance")))
    }
  }
}
