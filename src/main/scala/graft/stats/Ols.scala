package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.FormulaSpec

/** Closed-form (W)LS via the Gram primitive: β = (XᵀWX)⁻¹ XᵀWy — exact and
  * deterministic, matching R `lm` coefficients to float precision
  * (`RegDI2.R:209,258-262`, `PC.R:272,308`). One distributed pass + a p×p
  * driver solve (p ≤ ~8); never collects data rows.
  */
final case class OlsFit(
    spec: FormulaSpec,
    beta: IndexedSeq[Double],
    n: Long
) {
  /** Score new data: ŷ = β₀ + Σ βⱼ xⱼ with broadcast coefficients
    * (`predict(model, newdata)`, `RegDI2.R:212`). */
  def predict: Column = Gram.linearPredictor(spec.terms, beta, spec.intercept)
  def coef(term: String): Double =
    if (term == "(Intercept)") {
      require(spec.intercept, "coef: the model has no intercept")
      beta(0)
    } else {
      // indexOf(-1) + 1 would silently return the intercept — a
      // plausible wrong number for a typo'd term
      val i = spec.terms.indexOf(term)
      require(i >= 0, s"unknown term '$term'; terms: ${spec.terms.mkString(", ")}")
      beta(if (spec.intercept) i + 1 else i)
    }
}

final case class FitMetrics(rmse: Double, r2: Double)

object Ols {

  def fit(df: DataFrame, spec: FormulaSpec,
          weight: Column = lit(1.0)): OlsFit = {
    val y = spec.response.getOrElse(
      throw new IllegalArgumentException("OLS needs a response"))
    val xs0 = spec.terms.map(col)
    val xs = if (spec.intercept) lit(1.0) +: xs0 else xs0
    // complete-case (lm semantics): see GramSpec.completeCase (r15)
    val g = Gram.moments(df, xs, weight, Some(col(y)), completeCase = true)
    OlsFit(spec, g.solve(), g.n)
  }

  def fit(df: DataFrame, formula: String): OlsFit =
    fit(df, FormulaSpec.parse(formula))

  /** Closed-form fit from a PRECOMPUTED Gram of the design matrix
    * (intercept-first when the spec has one) — lets callers fuse the model
    * Gram with other aggregates into one pass ([[Gram.momentsMulti]]). */
  def fitFromGram(spec: FormulaSpec, g: GramResult): OlsFit =
    OlsFit(spec, g.solve(), g.n)

  /** The spec's design-matrix columns, intercept-first — the xCols a
    * caller must hand [[Gram.momentsMulti]] for [[fitFromGram]]. */
  def designCols(spec: FormulaSpec): Seq[Column] = {
    val xs0 = spec.terms.map(col)
    if (spec.intercept) lit(1.0) +: xs0 else xs0
  }

  /** RMSE = sqrt(mean(e²)) and R² = 1 − SSR/SST over `df`
    * (`RegDI2.R:228-235`, `PC.R:331-338`), one pass. */
  def metrics(df: DataFrame, yCol: String, predicted: Column): FitMetrics = {
    import graft.util.Tables.dsum
    // whole-row filter first: a null y OR null prediction drops the row
    // from EVERY sum (a per-term null would understate ssr while n kept
    // the row); dsum keeps the sums order/partitioning-invariant like
    // every other estimator pass
    val rows = df.filter(col(yCol).isNotNull && predicted.isNotNull)
    val e = col(yCol) - predicted
    val r = rows.agg(
      dsum(e * e).as("ssr"), dsum(col(yCol)).as("sy"),
      dsum(col(yCol) * col(yCol)).as("syy"), count(col(yCol)).as("n")).head()
    // zero surviving rows: the sums come back NULL and getDouble would
    // die as an opaque 'Value at index 0 is null' — name the cause
    // (r15 review)
    require(r.getLong(3) > 0,
      s"Ols.metrics: no rows with non-NULL '$yCol' and prediction")
    val ssr = r.getDouble(0)
    val sy = r.getDouble(1)
    val syy = r.getDouble(2)
    val n = r.getLong(3).toDouble
    fitMetrics(ssr, syy - sy * sy / n, n, yCol, "Ols.metrics")
  }

  /** RMSE = sqrt(SSR/n) and R² = 1 − SSR/SST; `fn` names the caller in
    * the error for a constant response. */
  def fitMetrics(ssr: Double, sst: Double, n: Double, yCol: String,
                 fn: String): FitMetrics = {
    // constant y: SST = 0 makes R² = 1 − ssr/0 a silent −Inf/NaN that
    // poisons any fit comparison downstream (r15 review)
    require(sst != 0.0,
      s"$fn: '$yCol' is constant — R² is undefined (SST = 0)")
    FitMetrics(rmse = math.sqrt(ssr / n), r2 = 1.0 - ssr / sst)
  }
}
