package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.FormulaSpec

/** Unregularized logistic regression via IRLS (Fisher scoring) — the same
  * algorithm R `glm(family=binomial)` uses (`PC.R:274,311`), so coefficients
  * match the reference to ~1e-8 rather than the ~1e-5 an LBFGS fit gives.
  *
  * Each iteration is ONE distributed Gram pass with working weights
  * wᵢ = pᵢ(1−pᵢ) and working response zᵢ = ηᵢ + (yᵢ−pᵢ)/wᵢ, then a tiny
  * driver solve; p ≤ ~8 covariates ⇒ O(k²) aggregate state. Converges in
  * < 10 iterations on the reference's workloads.
  */
final case class LogisticFit(
    spec: FormulaSpec,
    beta: IndexedSeq[Double],
    iterations: Int,
    converged: Boolean
) {
  /** type="response" prediction: sigmoid of the linear predictor. */
  def predict: Column = {
    val eta = Gram.linearPredictor(spec.terms, beta, spec.intercept)
    lit(1.0) / (lit(1.0) + exp(-eta))
  }
}

object Logistic {

  def fit(df: DataFrame, spec: FormulaSpec, maxIter: Int = 25,
          tol: Double = 1e-9): LogisticFit = {
    val respName = spec.response.getOrElse(
      throw new IllegalArgumentException("logistic needs a response"))
    val y = col(respName)
    val xs0 = spec.terms.map(col)
    val xs = if (spec.intercept) lit(1.0) +: xs0 else xs0
    val k = xs.size
    // iterative ⇒ cache ONLY the referenced columns for the loop: each
    // IRLS pass then scans narrow in-memory columnar batches instead of
    // re-reading (and re-filtering) the source per iteration
    val work = df.select((respName +: spec.terms).distinct.map(col): _*).cache()
    try {
      var beta = IndexedSeq.fill(k)(0.0)
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val eta = xs.zipWithIndex.foldLeft(lit(0.0): Column) {
          case (acc, (x, i)) => acc + x * lit(beta(i))
        }
        val p = lit(1.0) / (lit(1.0) + exp(-eta))
        // clamp keeps the working weight invertible on separable data
        val w = greatest(p * (lit(1.0) - p), lit(1e-10))
        val z = eta + (y - p) / w
        // complete-case (glm semantics): without it a null y nulls z
        // (XtWy drops the row) while w = p(1−p) depends only on x
        // (XtWX keeps it) — silently shrunk coefficients (r15)
        val g = Gram.moments(work, xs, w, Some(z), completeCase = true)
        val newBeta = g.solve()
        val step = beta.indices.map { i => val d = newBeta(i) - beta(i); d * d }
        converged = math.sqrt(step.sum) < tol
        beta = newBeta
        iter += 1
      }
      LogisticFit(spec, beta, iter, converged)
    } finally work.unpersist()
  }

  def fit(df: DataFrame, formula: String): LogisticFit =
    fit(df, FormulaSpec.parse(formula))

  /** Engine-portable fixed-iteration IRLS for y ~ 1 + x (k = 2): exactly
    * `iters` Fisher-scoring steps, with the sigmoid p and the updated
    * (b0, b1) quantized to 2⁻²⁰ each step and the weighted moments summed
    * in exact decimal ([[graft.util.Tables.dsum]]). Quantization makes the
    * per-row values immune to cross-engine `exp` ulp drift (exp is not
    * correctly rounded; sums/products/divisions are), so the WHOLE fit is
    * a fixed IEEE tree an ANSI-SQL engine replays bit-identically by
    * unrolling the iterations as weighted-OLS CTEs — the hash-gradable
    * rendition of [[fit]] (m06). 2⁻²⁰ ≈ 1e-6 sits far above ulp noise and
    * far below the coefficient movement per step, so the quantized path
    * converges to the same 5-decimal coefficients as the adaptive fit
    * (StatsSuite pins that agreement). Returns a 1-row (b0, b1) frame;
    * fully in-plan — each step's k×k solve is a broadcast scalar join,
    * no data ever reaches the driver.
    *
    * Cache lifecycle (r17 advice): leases a MEMORY_AND_DISK pin of the
    * (y, x) projection via `graft.util.QueryLeases`; long-lived
    * non-harness callers must call `QueryLeases.releaseAll()` after
    * materializing the result. */
  def fitPortable2(df: DataFrame, yCol: String, xCol: String,
                   iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import graft.util.Tables.dsum
    require(iters >= 1, s"iters=$iters must be >= 1")
    val q = lit(1048576.0) // 2^20
    def quant(c: Column): Column = floor(c * q + lit(0.5)) / q
    // pinned (r17): the lazy iteration chain nests `base` once per
    // IRLS step (each step's 1-row coefs broadcast embeds the previous
    // step's whole plan), so an expensive feature subtree — t22's
    // langId + stopwordRatio corpus scan — evaluated `iters` times.
    // The leased 2-column persist makes every step read one cache
    // (QueryLeases scaladoc; harnesses drain per query).
    val base = graft.util.QueryLeases.leased(
      df.select(col(yCol).cast("double").as("y"),
          col(xCol).cast("double").as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var coefs = base.sparkSession.range(1)
      .select(lit(0.0).as("b0"), lit(0.0).as("b1"))
    for (_ <- 1 to iters) {
      val joined = base.crossJoin(broadcast(coefs))
      val eta = col("b0") + col("b1") * col("x")
      val p = quant(lit(1.0) / (lit(1.0) + exp(-eta)))
      val w = greatest(p * (lit(1.0) - p), lit(1e-10))
      val z = eta + (col("y") - p) / w
      val m = joined
        .select(w.as("w"), (w * col("x")).as("wx"),
          (w * col("x") * col("x")).as("wxx"), (w * z).as("wz"),
          (w * col("x") * z).as("wxz"))
        .agg(dsum(col("w")).as("sw"), dsum(col("wx")).as("swx"),
          dsum(col("wxx")).as("swxx"), dsum(col("wz")).as("swz"),
          dsum(col("wxz")).as("swxz"))
      // a constant-x (or <2-row) frame zeroes the 2×2 determinant —
      // under ANSI that dies mid-aggregate as an opaque DIVIDE_BY_ZERO
      // (and under non-ANSI b0/b1 go silently NULL for the remaining
      // iterations); name the cause instead, like Det.solve's singular
      // guard on the adaptive path (r15 review)
      val det0 = col("sw") * col("swxx") - col("swx") * col("swx")
      val det = when(det0 === lit(0.0), raise_error(lit(
        "fitPortable2: singular IRLS system (constant x or fewer than " +
          "2 distinct x values)"))).otherwise(det0)
      coefs = m.select(
        quant((col("swxx") * col("swz") - col("swx") * col("swxz")) / det)
          .as("b0"),
        quant((col("sw") * col("swxz") - col("swx") * col("swz")) / det)
          .as("b1"))
    }
    coefs
  }
}
