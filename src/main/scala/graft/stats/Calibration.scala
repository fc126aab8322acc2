package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.SurveyDesign

/** GREG / linear calibration (Deville–Särndal 1992), matching
  * `survey::calibrate(design, formula, population, calfun="linear")` as used
  * at `RegDI2.R:188-193`, `PC.R:221-230`.
  *
  * Linear calfun has the closed form
  *   λ = (XᵀDX)⁻¹ (T − Xᵀd),   wᵢ = dᵢ · (1 + xᵢᵀλ)
  * which minimizes the chi-square distance Σ (wᵢ−dᵢ)²/dᵢ subject to
  * Σ wᵢ xᵢ = T. One Gram pass over the design rows (O(k²) partial state per
  * task), one k×k driver solve ([[Calibration.lambda]], the one λ solve of
  * the Spark estimators and the Monte-Carlo kernels), then a codegen'd
  * projection — no iteration, no data collected to the driver.
  */
final case class CalibrationInfo(
    xCols: Seq[String],
    lambda: IndexedSeq[Double],
    totals: IndexedSeq[Double]
)

object Calibration {

  /** Returns the design's DataFrame with calibrated weights in `outCol`,
    * plus the solved multipliers. `totals` must be in `xCols` order (the
    * reference's named `population` vector, `RegDI2.R:144-168`).
    */
  def calibrate(
      design: SurveyDesign,
      xCols: Seq[String],
      totals: Seq[Double],
      outCol: String = "w_cal"
  ): (DataFrame, CalibrationInfo) = {
    val g = Gram.moments(design.df, xCols, Some(design.weightCol), None)
    val info = solveLambda(g, xCols, totals)
    val out = design.df.withColumn(outCol,
      col(design.weightCol) * gWeightFactor(info))
    (out, info)
  }

  /** Driver-side λ solve from a PRECOMPUTED Gram (lets callers fuse the
    * calibration Gram with other aggregates into one distributed pass —
    * see [[Gram.momentsMulti]]). Identical arithmetic to [[calibrate]]. */
  def solveLambda(
      g: GramResult,
      xCols: Seq[String],
      totals: Seq[Double]
  ): CalibrationInfo = {
    require(xCols.nonEmpty, "calibration requires at least one variable")
    require(xCols.size == totals.size,
      s"xCols (${xCols.size}) and totals (${totals.size}) differ in length")
    val t = totals.toIndexedSeq
    CalibrationInfo(xCols, lambda(g, t), t)
  }

  /** The GREG step λ = (XᵀDX)⁻¹(T − Xᵀd) from the design-weighted Gram
    * `g` of the calibration variables and their population `totals`.
    * [[solveLambda]] and the Monte-Carlo kernels (`graft.mc.LocalSim`,
    * whose Gram is [[Gram.local]]) both solve through it. */
  def lambda(g: GramResult, totals: IndexedSeq[Double]): IndexedSeq[Double] = {
    require(totals.length == g.xtw.length,
      s"${totals.length} totals for ${g.xtw.length} calibration variables")
    g.solve(totals.indices.map(i => totals(i) - g.xtw(i)))
  }

  /** The linear-calfun g-weight multiplier `1 + xᵀλ` as a broadcast-λ
    * column; calibrated weight = design weight × this. */
  def gWeightFactor(info: CalibrationInfo): Column =
    info.xCols.zipWithIndex.foldLeft(lit(1.0): Column) {
      case (acc, (c, i)) => acc + col(c) * lit(info.lambda(i))
    }
}
