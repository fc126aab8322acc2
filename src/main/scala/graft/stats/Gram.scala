package graft.stats

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Weighted second-moment (Gram) accumulation — the single distributed
  * primitive behind GREG calibration, closed-form OLS/WLS, IRLS logistic,
  * and linearization variance (SURVEY.md §7.3; reference call sites
  * `RegDI2.R:188-193,209`, `PC.R:221-230,272`).
  *
  * Design note (100 TB): rather than a `TypedImperativeAggregate`, the
  * moments are expressed as a single multi-column `agg` of exact-decimal
  * sums (`Σ w·xᵢ·xⱼ` for i≤j, `Σ w·xᵢ`, `Σ w·xᵢ·y`, …). Catalyst
  * compiles this to one whole-stage-codegen'd partial/final HashAggregate:
  * O(k²) state per task, map-side combine, one shuffle of a single tiny
  * row, zero driver-side data movement. Each of the k(k+1)/2 + O(k)
  * aggregates is planned and compiled per call, so this suits the
  * estimators' narrow designs (k ≤ ~8); a wide factor design (ANOVA)
  * instead comes from per-cell moments ([[Anova.sequential]]). The k×k
  * solve happens on the driver ([[GramResult.solve]]), and the solution
  * is broadcast back implicitly as literals in subsequent projections.
  *
  * A `GramResult` is the sufficient statistic of every linear fit here:
  * [[solve]] gives OLS/WLS β and (through [[Calibration.lambda]]) the GREG
  * λ, [[solveAliased]] the β of a saturated outcome model. The
  * Monte-Carlo kernels fill the same result from JVM arrays
  * ([[Gram.local]]) and call the same solves.
  */
final case class GramResult(
    xtwx: IndexedSeq[IndexedSeq[Double]], // Σ w · x xᵀ   (k×k)
    xtw: IndexedSeq[Double],              // Σ w · x      (k)
    xtwy: IndexedSeq[Double],             // Σ w · x · y  (k; zeros when y absent)
    sw: Double,                           // Σ w
    swy: Double,                          // Σ w · y
    swyy: Double,                         // Σ w · y²
    n: Long                               // row count
) {
  /** Solve (XᵀWX) b = XᵀWy — WLS/OLS coefficients. */
  def solve(): IndexedSeq[Double] = solve(xtwy)
  /** Solve (XᵀWX) b = rhs — e.g. calibration λ.
    *
    * k ≤ [[Det.maxCramerK]] uses the deterministic Cramer expansion so the
    * result is the exact expression the SQL oracles evaluate (see [[Det]]);
    * larger systems use [[eliminate]] with no tolerance, which raises
    * Det's `singular system` error on an exactly zero pivot. */
  def solve(rhs: IndexedSeq[Double]): IndexedSeq[Double] =
    if (rhs.length <= Det.maxCramerK) Det.solve(xtwx, rhs)
    else eliminate(rhs, dropBelow = 0.0)

  /** Solve (XᵀWX) b = XᵀWy, DROPPING aliased (collinear) columns: a pivot
    * below 1e-9 of the largest |entry| forces that coefficient to 0, as
    * R's lm reports NA for an aliased term and predicts without it. */
  def solveAliased(): IndexedSeq[Double] =
    eliminate(xtwy, 1e-9 * math.max(1e-300, xtwx.map(_.map(math.abs).max).max))

  /** Gaussian elimination with partial pivoting of (XᵀWX | rhs). A column
    * whose largest remaining |pivot| is below `dropBelow` gets
    * coefficient 0; with `dropBelow = 0` nothing is dropped, and an
    * exactly zero pivot or a non-finite solution raises instead. */
  private def eliminate(rhs: IndexedSeq[Double], dropBelow: Double): IndexedSeq[Double] = {
    val k = rhs.length
    val a = xtwx.map(_.toArray).toArray
    val b = rhs.toArray
    val dropped = new Array[Boolean](k)
    var col = 0
    while (col < k) {
      var pv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(pv)(col))) pv = r; r += 1 }
      val p = math.abs(a(pv)(col))
      if (p < dropBelow || p == 0.0) {
        Det.requireNonSingular(dropBelow > 0.0, s"zero pivot in column $col")
        dropped(col) = true
        // zero the column so back-substitution ignores it
        r = 0
        while (r < k) { a(r)(col) = 0.0; r += 1 }
        a(col)(col) = 1.0; b(col) = 0.0
      } else {
        val ta = a(col); a(col) = a(pv); a(pv) = ta
        val tb = b(col); b(col) = b(pv); b(pv) = tb
        r = col + 1
        while (r < k) {
          val f = a(r)(col) / a(col)(col)
          var c = col
          while (c < k) { a(r)(c) -= f * a(col)(c); c += 1 }
          b(r) -= f * b(col)
          r += 1
        }
      }
      col += 1
    }
    val out = new Array[Double](k)
    var r2 = k - 1
    while (r2 >= 0) {
      if (!dropped(r2)) {
        var s = b(r2)
        var c = r2 + 1
        while (c < k) { s -= a(r2)(c) * out(c); c += 1 }
        out(r2) = s / a(r2)(r2)
      }
      r2 -= 1
    }
    if (dropBelow == 0.0)
      Det.requireNonSingular(out.forall(java.lang.Double.isFinite), "non-finite solution")
    ArraySeq.unsafeWrapArray(out)
  }
}

/** One Gram computation inside a fused [[Gram.momentsMulti]] pass:
  * moments of `xCols` (optionally with `y`) under weight `w`, restricted
  * to rows where `mask` holds. Masking via `when(mask, term)` (no
  * otherwise) makes excluded rows contribute NULL, which `sum`/`count`
  * skip — bit-identical to `df.filter(mask)` + a standalone
  * [[Gram.moments]] because the exact-decimal sums see the same multiset
  * of addends. */
final case class GramSpec(
    xCols: Seq[Column],
    w: Column = lit(1.0),
    y: Option[Column] = None,
    mask: Option[Column] = None,
    completeCase: Boolean = false)

object Gram {

  /** One-pass weighted moments of `xCols` (and optionally `yCol`) under
    * weight `w`. Null rows contribute null products, which Spark's `sum`
    * skips — matching the reference's pervasive `na.rm=TRUE`.
    */
  def moments(
      df: DataFrame,
      xCols: Seq[Column],
      w: Column = lit(1.0),
      yCol: Option[Column] = None,
      completeCase: Boolean = false
  ): GramResult = {
    val (res, _) = momentsMulti(df,
      Seq("g" -> GramSpec(xCols, w, yCol, completeCase = completeCase)))
    res("g")
  }

  /** SEVERAL Gram computations (each with its own mask/weight/terms) plus
    * arbitrary extra aggregate columns, fused into ONE distributed pass.
    *
    * This is the scale lever for the estimator pipelines: RegDI/PC need a
    * calibration Gram, an outcome-model Gram, and a handful of totals —
    * all independent given the driver-side solves between them. Fusing
    * them turns 3-4 full-table scans into one partial/final HashAggregate
    * job (still O(k²) state per task, one tiny shuffled row). Returns the
    * per-spec [[GramResult]]s and the Row of `extraAggs` values.
    */
  def momentsMulti(
      df: DataFrame,
      specs: Seq[(String, GramSpec)],
      extraAggs: Seq[Column] = Nil
  ): (Map[String, GramResult], Row) = {
    // dsum = exact-decimal summation: order-independent, so the moments
    // (and everything solved from them) are bit-identical under any
    // repartitioning — a tested invariant (SURVEY.md §5 property tests).
    import graft.util.Tables.dsum
    require(specs.map(_._1).distinct.size == specs.size,
      "duplicate Gram spec names")
    require(specs.nonEmpty || extraAggs.nonEmpty,
      "momentsMulti needs at least one spec or extra aggregate")
    def aggsFor(p: String, s: GramSpec): Seq[Column] = {
      val k = s.xCols.size
      val y = s.y.getOrElse(lit(0.0))
      // completeCase = R's lm/glm row-wise deletion: a row with ANY
      // null term/response/weight is excluded from EVERY moment. The
      // default per-term null-skip (na.rm semantics, right for totals)
      // is silently WRONG for model fits — sums not referencing the
      // null column keep rows the others drop, so the solved system
      // mixes two row multisets and beta matches no dataset (r15
      // review). Fit paths (Ols.fit, Logistic.fit, the estimators'
      // outcome/measurement-error specs) set it.
      val ccMask: Option[Column] =
        if (!s.completeCase) s.mask
        else {
          val allPresent = (s.xCols ++ s.y.toSeq :+ s.w)
            .map(_.isNotNull).reduce(_ && _)
          Some(s.mask.map(_ && allPresent).getOrElse(allPresent))
        }
      def m(term: Column): Column = ccMask match {
        case Some(f) => when(f, term)
        case None    => term
      }
      val upper = for { i <- 0 until k; j <- i until k }
        yield dsum(m(s.w * s.xCols(i) * s.xCols(j))).as(s"${p}_xx_${i}_$j")
      val firsts = (0 until k).map(i => dsum(m(s.w * s.xCols(i))).as(s"${p}_xw_$i"))
      // y-less specs skip the k+2 y-moment aggregates entirely — each
      // was an exact-decimal cast + sum of w·x·0.0 per row on the
      // full-table fused pass, pure waste (r15 review); the zeros are
      // synthesized in the result assembly below
      val xy =
        if (s.y.isEmpty) Nil
        else (0 until k).map(i =>
          dsum(m(s.w * s.xCols(i) * y)).as(s"${p}_xy_$i"))
      val yTail =
        if (s.y.isEmpty) Nil
        else Seq(dsum(m(s.w * y)).as(s"${p}_swy"),
          dsum(m(s.w * y * y)).as(s"${p}_swyy"))
      upper ++ firsts ++ xy ++ Seq(dsum(m(s.w)).as(s"${p}_sw")) ++
        yTail :+ count(m(lit(1))).as(s"${p}_n")
    }
    val aggs = specs.flatMap { case (p, s) => aggsFor(p, s) } ++ extraAggs
    val row: Row = df.agg(aggs.head, aggs.tail: _*).head()

    // NULL aggregate → 0.0 is the na.rm contract for an empty mask or
    // an all-NULL column (R: sum(c(NA), na.rm=TRUE) = 0). Under the
    // default ANSI mode a decimal-sum OVERFLOW throws before reaching
    // here; only a session that disables ANSI could conflate overflow
    // with the legitimate zero (r15 review note).
    def d(name: String): Double =
      if (row.isNullAt(row.fieldIndex(name))) 0.0
      else row.getAs[Number](name).doubleValue()

    val results = specs.map { case (p, s) =>
      val k = s.xCols.size
      p -> GramResult(
        xtwx = ArraySeq.tabulate(k, k)((i, j) =>
          d(s"${p}_xx_${math.min(i, j)}_${math.max(i, j)}")),
        xtw = ArraySeq.tabulate(k)(i => d(s"${p}_xw_$i")),
        xtwy =
          if (s.y.isEmpty) ArraySeq.fill(k)(0.0)
          else ArraySeq.tabulate(k)(i => d(s"${p}_xy_$i")),
        sw = d(s"${p}_sw"),
        swy = if (s.y.isEmpty) 0.0 else d(s"${p}_swy"),
        swyy = if (s.y.isEmpty) 0.0 else d(s"${p}_swyy"),
        n = row.getAs[Long](s"${p}_n")
      )
    }.toMap
    (results, row)
  }

  /** Writes row r's features into `f`: one design row of [[local]]. A
    * trait rather than a function type, so the row index is not boxed. */
  trait Features { def fill(r: Int, f: Array[Double]): Unit }

  /** One [[momentsMulti]] spec over JVM arrays, for the task-local
    * Monte-Carlo kernels (`graft.mc.LocalSim`): the rows r with `mask(r)`,
    * weight `w(r)` (a constant weight is `_ => c`), the `k` features that
    * `x.fill(r, f)` writes into `f`, and optionally the response `y`.
    * Plain double sums in row order, not exact-decimal ones, but the same
    * `(w·xᵢ)·xⱼ` (i ≤ j, mirrored) and `(w·xᵢ)·y` association. No
    * NULL/complete-case mode: a NaN in a masked row reaches the sums. */
  def local(mask: Array[Boolean], w: Int => Double, k: Int, x: Features,
            y: Option[Array[Double]] = None): GramResult = {
    val xx = Array.ofDim[Double](k, k)
    val xw = new Array[Double](k)
    val xy = new Array[Double](k)
    val f = new Array[Double](k)
    val ys = y.orNull
    var sw = 0.0; var swy = 0.0; var swyy = 0.0; var n = 0L
    var r = 0
    while (r < mask.length) {
      if (mask(r)) {
        val wr = w(r)
        x.fill(r, f)
        var i = 0
        while (i < k) {
          val wx = wr * f(i)
          xw(i) += wx
          var j = i
          while (j < k) { xx(i)(j) += wx * f(j); j += 1 }
          if (ys != null) xy(i) += wx * ys(r)
          i += 1
        }
        sw += wr
        if (ys != null) { val wy = wr * ys(r); swy += wy; swyy += wy * ys(r) }
        n += 1
      }
      r += 1
    }
    GramResult(ArraySeq.tabulate(k, k)((i, j) => xx(math.min(i, j))(math.max(i, j))),
      ArraySeq.unsafeWrapArray(xw), ArraySeq.unsafeWrapArray(xy), sw, swy, swyy, n)
  }

  def moments(df: DataFrame, xCols: Seq[String], wCol: Option[String],
              yColName: Option[String]): GramResult =
    moments(df, xCols.map(col), wCol.map(col).getOrElse(lit(1.0)),
      yColName.map(col))

  /** Linear predictor `b0? + Σ bᵢ·termᵢ` as a Column (broadcast-β score,
    * `RegDI2.R:212`, `PC.R:280-283`). `beta` is laid out intercept-first
    * when `intercept` is true. */
  def linearPredictor(terms: Seq[String], beta: IndexedSeq[Double],
                      intercept: Boolean): Column = {
    val (b0, bs) = if (intercept) (beta(0), beta.drop(1)) else (0.0, beta)
    terms.zip(bs).foldLeft(lit(b0): Column) { case (acc, (t, b)) =>
      acc + col(t) * lit(b)
    }
  }
}
