package graft.mc

import scala.collection.immutable.ArraySeq

import graft.stats.{Calibration, Gram}

/** One task-local simulation replicate: population synthesis, sample
  * draws, and the estimator battery — pure JVM arrays, no Spark.
  *
  * Mirrors `generate_population_NMAR` (`Simulaciones_Clean.ipynb:
  * 1242-1290 (cell 18)`) and the cell-23 battery semantics: x ~ N(2,1),
  * y = 3 + 0.7(x−2) + η with η ~ N(0, √0.51); A = SRS(n_A); B = exact-n
  * weighted draw with π ∝ logistic(γ·(y−c)) (Efraimidis–Spirakis keys —
  * same inclusion-probability law as R's `sample(prob=)`). RNG parity
  * with R is distributional, not bitwise (SURVEY.md §7.5.4): streams are
  * seeded per phase (seed, seed+1000, seed+2000) exactly as the
  * reference seeds its three `set.seed` calls.
  *
  * The estimators are the local (single-task) renditions of the closed
  * forms graft.estimators computes over DataFrames. Both families are one
  * GREG step — λ = (XᵀDX)⁻¹(T − Xᵀd), wᵢ = dᵢ(1 + xᵢᵀλ) — and each has
  * one kernel here:
  *  - [[regdi]]: RegDI (Kim & Tam 2021) calibrates the A design;
  *  - [[calB]]: PC (Golini & Righi 2024) calibrates the B design, and
  *    [[pcMean]], [[pcModel]] and [[pcDr1]] combine its λ into the
  *    scenario-1, -2 and -3 estimates.
  * What is LocalSim's own is the synthesis, the draws and the array sums.
  * Every Gram is [[graft.stats.Gram.local]]'s `GramResult`, and every
  * solve is the Spark estimators' own: λ from
  * [[graft.stats.Calibration.lambda]], the scenario-2 β from
  * `GramResult.solve` (both the Cramer solve of `Det`, so a singular
  * design raises its named `singular system` error), the scenario-3 β
  * from the alias-tolerant `GramResult.solveAliased`. In two-table calls
  * a proxy ỹ observed only on B is NaN on every other row — R's NA — and
  * [[pcModel]] drops the NaN predictions from its A-residual sum, as the
  * reference's `na.rm` does.
  */
object LocalSim {

  private final val TrueC = 3.0

  /** The cell-18 NMAR population + sample draw, exposed for tests that
    * need to hand the SAME realization to the distributed estimators. */
  final case class NmarDraw(x: Array[Double], y: Array[Double],
                            inA: Array[Boolean], inB: Array[Boolean])

  def nmarDraw(cfg: SimConfig): NmarDraw = {
    val n = cfg.nPop
    val rng = new java.util.Random(cfg.seedBase)
    val x = Array.fill(n)(2.0 + rng.nextGaussian())
    val eta = Array.fill(n)(rng.nextGaussian() * math.sqrt(0.51))
    val y = Array.tabulate(n)(i => 3.0 + 0.7 * (x(i) - 2.0) + eta(i))
    val inA = new Array[Boolean](n)
    drawExact(Array.range(0, n), cfg.nA,
      new java.util.Random(cfg.seedBase + 1000L), inA)
    NmarDraw(x, y, inA,
      nmarB(y, cfg.gamma, cfg.nB, new java.util.Random(cfg.seedBase + 2000L)))
  }

  def run(cfg: SimConfig): Seq[SimResult] = {
    val n = cfg.nPop
    val NmarDraw(x, y, inA, inB) = nmarDraw(cfg)
    val (x1, x2) = dummies(x, 2.0)
    val xs = Array(x1, x2)
    val d = Array.fill(n)(n.toDouble / cfg.nA)
    val dB = n.toDouble / cfg.nB
    def res(name: String, est: Double) = SimResult(cfg.sim, cfg.gamma, name, est)
    Seq(
      res("Mean_S_A", meanWhere(y, inA)),
      res("Mean_S_B", meanWhere(y, inB)),
      res("RegDI_X1", regdi(y, y, Array(x1), inA, inB, d, n)),
      res("PC_X1_X2", pcMean(y, xs, inB, dB, calB(xs, inB, dB, colSums(xs)))))
  }

  /** Simulation-1 battery (`ipynb` cells 2+4): stratified-by-x1 big
    * sample B (n_B1 from x≤2, n_B2 from x>2), SRS A, contaminated
    * ỹ = 2 + 0.9(y−3) + N(0,.5); 13 estimators across scenarios I/II —
    * RegDI(∅/x1/e1), PC scen-1 (x1,x2)/(e1,e2), naive means, and the
    * scenario-II variants (y_B = ỹ for RegDI; PC scen-2 with outcome
    * model y ~ ỹ). PC calibrates on direct population totals (one-table
    * mode, `PC.R:181-187` — the reference's cell-4 calls pass the full
    * population frame). */
  def runSim1(sim: Int, seedBase: Long, n: Int, nA: Int,
              nB1: Int, nB2: Int): Seq[SimResult] = {
    val rng = new java.util.Random(seedBase)
    val x = Array.fill(n)(2.0 + rng.nextGaussian())
    val eta = Array.fill(n)(rng.nextGaussian() * math.sqrt(0.51))
    val y = Array.tabulate(n)(i => 3.0 + 0.7 * (x(i) - 2.0) + eta(i))
    val tildeY = Array.tabulate(n)(i =>
      2.0 + 0.9 * (y(i) - 3.0) + rng.nextGaussian() * 0.5)
    val v = Array.fill(n)(rng.nextGaussian())
    val e = Array.tabulate(n)(i => 0.5 * x(i) + math.sqrt(0.75) * v(i))
    val (e1, e2) = dummies(e, 1.0)
    val (x1, x2) = dummies(x, 2.0)

    val inA = new Array[Boolean](n)
    drawExact(Array.range(0, n), nA, new java.util.Random(seedBase + 500L), inA)
    // B: exact n_B1 from stratum x≤2, n_B2 from x>2 (cell 2 design)
    val rngB = new java.util.Random(seedBase + 900L)
    val inB = new Array[Boolean](n)
    drawExact((0 until n).filter(x(_) <= 2.0).toArray, nB1, rngB, inB)
    drawExact((0 until n).filter(x(_) > 2.0).toArray, nB2, rngB, inB)

    val d = Array.fill(n)(n.toDouble / nA)
    val dB = n.toDouble / (nB1 + nB2)
    val (xs, es) = (Array(x1, x2), Array(e1, e2))
    val (lx, le) = (calB(xs, inB, dB, colSums(xs)), calB(es, inB, dB, colSums(es)))

    def res(name: String, est: Double) = SimResult(sim, 0.0, name, est)
    Seq(
      res("Mean_S_A", meanWhere(y, inA)),
      res("Mean_S_B", meanWhere(y, inB)),
      res("RegDI", regdi(y, y, Array.empty, inA, inB, d, n)),
      res("RegDI_X1", regdi(y, y, Array(x1), inA, inB, d, n)),
      res("RegDI_e1", regdi(y, y, Array(e1), inA, inB, d, n)),
      res("PC_X1", pcMean(y, xs, inB, dB, lx)),
      res("PC_e1", pcMean(y, es, inB, dB, le)),
      res("Mean_S_B_II", meanWhere(tildeY, inB)),
      res("RegDI_II", regdi(y, tildeY, Array.empty, inA, inB, d, n)),
      res("RegDI_X1_II", regdi(y, tildeY, Array(x1), inA, inB, d, n)),
      res("RegDI_e1_II", regdi(y, tildeY, Array(e1), inA, inB, d, n)),
      res("PC_X1_II", pcModel(y, tildeY, xs, inA, inB, d, dB, lx, n)),
      res("PC_e1_II", pcModel(y, tildeY, es, inA, inB, d, dB, le, n)))
  }

  /** NMAR-v2 study (`ipynb` cells 33+37): one population per (sim, γ)
    * carrying FIVE response columns y_sd_s = 3 + 0.7(x−2) + N(0, s) for
    * s in sdVector; B is drawn by the FIRST response's logistic π
    * (cell 33:  `prob_selection` uses `y_i_sd_<sd_vector[1]>`); per
    * response, five estimators: PC-DR scen-3 with (x1,x2) and (e1,e2)
    * aux+model, RegDI with no aux / x1 / e1. Emits long rows
    * (estimator, sd, estimate) for the cell-40/41 reporting pipeline. */
  def runSimV2(sim: Int, gamma: Double, seedBase: Long, n: Int, nA: Int,
               nB: Int, sdVector: Seq[Double]): Seq[SimResultV2] = {
    val rng = new java.util.Random(seedBase)
    val x = Array.fill(n)(2.0 + rng.nextGaussian())
    // noise drawn per-response in sdVector order (mirrors the R loop)
    val ys = sdVector.map(s =>
      Array.tabulate(n)(i => 3.0 + 0.7 * (x(i) - 2.0) + rng.nextGaussian() * s))
    val v = Array.fill(n)(rng.nextGaussian())
    val e = Array.tabulate(n)(i => 0.5 * x(i) + math.sqrt(0.75) * v(i))
    val (e1, e2) = dummies(e, 1.0)
    val (x1, x2) = dummies(x, 2.0)

    val inA = new Array[Boolean](n)
    drawExact(Array.range(0, n), nA, new java.util.Random(seedBase + 1000L), inA)
    val inB = nmarB(ys.head, gamma, nB, new java.util.Random(seedBase + 2000L))

    val d = Array.fill(n)(n.toDouble / nA)
    val dB = n.toDouble / nB
    val (xs, es) = (Array(x1, x2), Array(e1, e2))
    val (lx, le) = (calB(xs, inB, dB, colSums(xs)), calB(es, inB, dB, colSums(es)))
    sdVector.zip(ys).flatMap { case (s, y) =>
      def row(est: String, v: Double) = SimResultV2(sim, gamma, est, s, v)
      Seq(
        row("PC_xi_DR", pcDr1(y, xs, inA, inB, dB, lx)),
        row("PC_ei_DR", pcDr1(y, es, inA, inB, dB, le)),
        row("RegDI_no_aux", regdi(y, y, Array.empty, inA, inB, d, n)),
        row("RegDI_xi", regdi(y, y, Array(x1), inA, inB, d, n)),
        row("RegDI_ei", regdi(y, y, Array(e1), inA, inB, d, n)))
    }
  }

  /** Stratified-sampling study (`ipynb` cells 7+12): x~N(10,1),
    * z~Bern(.5), 4 strata from (x≤9.5, z), y = 5+0.1x+3z+ε (true mean
    * 7.5), ỹ = 7.5+3(y−7.5)+N(0,√.5); A stratified proportional exact-n
    * with weights N_h/n_h, B stratified Bernoulli (π=.8/.2) with one
    * size-adjustment redraw. TWO-TABLE estimator calls: N̂ = Σ d_A,
    * PC totals are HT from A (`PC.R:190-199`), ỹ is observed on B only,
    * RegDI_X1 calibrates on numeric `stratum` + x (the SURVEY §1.2 trap:
    * stratum enters as a single numeric column, NOT factor dummies). */
  def runSim2(sim: Int, seedBase: Long, n: Int, nATotal: Int,
              nBTotal: Int): Seq[SimResult] = {
    val rng = new java.util.Random(seedBase)
    val x = Array.fill(n)(10.0 + rng.nextGaussian())
    val z = Array.fill(n)(if (rng.nextDouble() < 0.5) 1.0 else 0.0)
    val stratum = Array.tabulate(n) { i =>
      if (x(i) <= 9.5) { if (z(i) == 0.0) 1.0 else 2.0 }
      else { if (z(i) == 0.0) 3.0 else 4.0 }
    }
    val y = Array.tabulate(n)(i =>
      5.0 + 0.1 * x(i) + 3.0 * z(i) + rng.nextGaussian())
    val tildeY = Array.tabulate(n)(i =>
      7.5 + 3.0 * (y(i) - 7.5) + rng.nextGaussian() * math.sqrt(0.5))

    // A: stratified proportional exact-n, d = N_h/n_h
    val rngA = new java.util.Random(seedBase + 500L)
    val inA = new Array[Boolean](n)
    val dOfStratum = new Array[Double](5)
    for (s <- 1 to 4) {
      val members = (0 until n).filter(stratum(_) == s.toDouble).toArray
      val nAh = math.floor(members.length.toDouble / n * nATotal + 0.5).toInt
      dOfStratum(s) = members.length.toDouble / nAh
      drawExact(members, nAh, rngA, inA)
    }
    val d = Array.tabulate(n)(i => if (inA(i)) dOfStratum(stratum(i).toInt) else 0.0)

    // B: Bernoulli by stratum prob, one rescaled redraw to target size
    val rngB = new java.util.Random(seedBase + 900L)
    val pi = Array.tabulate(n)(i => if (stratum(i) <= 2.0) 0.8 else 0.2)
    var inB = Array.tabulate(n)(i => rngB.nextDouble() < pi(i))
    val got = inB.count(identity)
    if (got != nBTotal) {
      val f = nBTotal.toDouble / got
      inB = Array.tabulate(n)(i => rngB.nextDouble() < math.min(pi(i) * f, 1.0))
    }

    val nHatA = d.sum                    // N̂ = Σ d_A (two-table default)
    val dB = nHatA / inB.count(identity)
    val tildeYB = Array.tabulate(n)(i => if (inB(i)) tildeY(i) else Double.NaN)
    def wMeanA: Double = {
      var sw = 0.0; var swy = 0.0; var k = 0
      while (k < n) { if (inA(k)) { sw += d(k); swy += d(k) * y(k) }; k += 1 }
      swy / sw
    }
    def calHt(aux: Array[Array[Double]]) = calB(aux, inB, dB, htTotals(aux, inA, d))
    val (sx, st, sxz) = (Array(stratum, x), Array(stratum), Array(x, z, stratum))
    val lst = calHt(st)

    def res(name: String, est: Double) = SimResult(sim, 0.0, name, est)
    Seq(
      res("Mean_S_A", wMeanA),
      res("Mean_S_B", meanWhere(y, inB)),
      res("RegDI", regdi(y, y, Array.empty, inA, inB, d, nHatA)),
      res("RegDI_X1", regdi(y, y, sx, inA, inB, d, nHatA)),
      res("PC_X1", pcMean(y, st, inB, dB, lst)),
      res("Mean_S_B_II", meanWhere(tildeY, inB)),
      res("RegDI_II", regdi(y, tildeY, Array.empty, inA, inB, d, nHatA)),
      res("RegDI_X1_II", regdi(y, tildeY, sx, inA, inB, d, nHatA)),
      res("PC_X1_II", pcModel(y, tildeYB, st, inA, inB, d, dB, lst, nHatA)),
      // cell-13 re-run: same scenario-2 call with the richer aux set
      // (x, z, stratum) — the notebook's stored 0.284/0.014 check value
      res("PC_X1_II_cell13",
        pcModel(y, tildeYB, sxz, inA, inB, d, dB, calHt(sxz), nHatA)))
  }

  // ---- draws and helpers ---------------------------------------------

  /** Exact-size SRS without replacement by partial Fisher–Yates over
    * `members` (permuted in place): marks `size` of them in `into`. */
  private def drawExact(members: Array[Int], size: Int,
                        rng: java.util.Random, into: Array[Boolean]): Unit = {
    var k = 0
    while (k < size) {
      val j = k + rng.nextInt(members.length - k)
      val t = members(k); members(k) = members(j); members(j) = t
      into(members(k)) = true
      k += 1
    }
  }

  /** NMAR B: weighted without replacement, exact n_B, π ∝
    * logistic(γ·(y−c)) — Efraimidis–Spirakis keys u^(1/π). */
  private def nmarB(y: Array[Double], gamma: Double, nB: Int,
                    rng: java.util.Random): Array[Boolean] = {
    val keyed = Array.tabulate(y.length) { k =>
      val p = 1.0 / (1.0 + math.exp(-gamma * (y(k) - TrueC)))
      (math.pow(rng.nextDouble(), 1.0 / p), k)
    }
    val inB = new Array[Boolean](y.length)
    keyed.sortBy(-_._1).take(nB).foreach { case (_, k) => inB(k) = true }
    inB
  }

  private def meanWhere(vals: Array[Double], sel: Array[Boolean]): Double = {
    var s = 0.0; var c = 0; var k = 0
    while (k < vals.length) { if (sel(k)) { s += vals(k); c += 1 }; k += 1 }
    s / c
  }

  /** The two indicator columns (v ≤ cut, v > cut). */
  private def dummies(v: Array[Double], cut: Double): (Array[Double], Array[Double]) =
    (v.map(w => if (w <= cut) 1.0 else 0.0), v.map(w => if (w > cut) 1.0 else 0.0))

  /** Direct population totals of each aux column (one-table mode). */
  private[mc] def colSums(aux: Array[Array[Double]]): Array[Double] =
    aux.map { col =>
      var s = 0.0; var r = 0
      while (r < col.length) { s += col(r); r += 1 }
      s
    }

  /** Horvitz–Thompson totals Σ_A d·aux from the A design (two-table
    * mode, `PC.R:190-199`). */
  private[mc] def htTotals(aux: Array[Array[Double]], inA: Array[Boolean],
                           d: Array[Double]): Array[Double] =
    aux.map { col =>
      var s = 0.0; var r = 0
      while (r < col.length) { if (inA(r)) s += d(r) * col(r); r += 1 }
      s
    }

  /** acc + Σ_a coef(off + a)·aux_a(r) — a row's linear predictor. */
  private def lin(acc: Double, coef: Array[Double], off: Int,
                  aux: Array[Array[Double]], r: Int): Double = {
    var s = acc; var a = 0
    while (a < aux.length) { s += coef(off + a) * aux(a)(r); a += 1 }
    s
  }

  /** Row r's design (1, aux…) with `intercept`, else (aux…), for
    * [[graft.stats.Gram.local]]. */
  private def design(aux: Array[Array[Double]], intercept: Boolean): Gram.Features = {
    val off = if (intercept) 1 else 0
    (r, f) => {
      if (intercept) f(0) = 1.0
      var a = 0
      while (a < aux.length) { f(off + a) = aux(a)(r); a += 1 }
    }
  }

  // ---- estimator kernels ---------------------------------------------

  /** RegDI correction 0/1 (`RegDI2.R:144-193,244-248`): calibrate the A
    * design d on x = (1, δ_B, δ_B·y_B, δ_B·aux…) to the totals
    * T = (N, n_B, Σ_B y_B, Σ_B aux…), then est = Σ_A w·y_A / Σ_A w.
    * Scenario II passes ỹ as y_B (`RegDI2.R` y_A_col vs y_B_col);
    * one-table callers pass d ≡ N/n_A, two-table ones N̂ = Σ d_A. */
  private[mc] def regdi(yA: Array[Double], yB: Array[Double],
                        aux: Array[Array[Double]],
                        inA: Array[Boolean], inB: Array[Boolean],
                        d: Array[Double], nTotal: Double): Double = {
    val k = 3 + aux.length
    val x: Gram.Features = (r, f) => {
      f(0) = 1.0
      if (inB(r)) {
        f(1) = 1.0; f(2) = yB(r)
        var a = 0
        while (a < aux.length) { f(3 + a) = aux(a)(r); a += 1 }
      } else java.util.Arrays.fill(f, 1, k, 0.0)
    }
    val t = new Array[Double](k)
    t(0) = nTotal
    var r = 0
    while (r < inB.length) {
      if (inB(r)) {
        t(1) += 1.0; t(2) += yB(r)
        var a = 0
        while (a < aux.length) { t(3 + a) += aux(a)(r); a += 1 }
      }
      r += 1
    }
    val lambda =
      Calibration.lambda(Gram.local(inA, d(_), k, x), ArraySeq.unsafeWrapArray(t)).toArray
    // w = d·(((1 + x₀λ₀) + x₁λ₁) + …), Calibration.gWeightFactor's fold
    val f = new Array[Double](k)
    var sw = 0.0; var swy = 0.0
    r = 0
    while (r < inA.length) {
      if (inA(r)) {
        x.fill(r, f)
        var g = 1.0; var i = 0
        while (i < k) { g += f(i) * lambda(i); i += 1 }
        val w = d(r) * g
        sw += w; swy += w * yA(r)
      }
      r += 1
    }
    swy / sw
  }

  /** PC's B-side calibration (`PC.R:216-237`): the λ that makes the
    * calibrated weights d_B(1 + auxᵀλ) over B reproduce `totals`. */
  private[mc] def calB(aux: Array[Array[Double]], inB: Array[Boolean],
                       dB: Double, totals: Array[Double]): Array[Double] =
    Calibration.lambda(Gram.local(inB, _ => dB, aux.length,
      design(aux, intercept = false)), ArraySeq.unsafeWrapArray(totals)).toArray

  /** PC scenario 1 (`PC.R:240-253`): the calibrated B mean of y. */
  private[mc] def pcMean(y: Array[Double], aux: Array[Array[Double]],
                         inB: Array[Boolean], dB: Double,
                         lambda: Array[Double]): Double = {
    var sw = 0.0; var swy = 0.0; var r = 0
    while (r < y.length) {
      if (inB(r)) {
        val w = dB * (1.0 + lin(0.0, lambda, 0, aux, r))
        sw += w; swy += w * y(r)
      }
      r += 1
    }
    swy / sw
  }

  /** PC scenario 2 (`PC.R:255-297`): fit OLS y ~ 1 + ỹ on A∩B, then
    * est = (Σ_B d_B(1 + auxᵀλ)·ŷ + Σ_A d·(y − ŷ)) / N. A NaN proxy
    * (R's NA) gives a NaN prediction, which the A sum skips. */
  private[mc] def pcModel(y: Array[Double], proxy: Array[Double],
                          aux: Array[Array[Double]],
                          inA: Array[Boolean], inB: Array[Boolean],
                          d: Array[Double], dB: Double,
                          lambda: Array[Double], nTotal: Double): Double = {
    val n = y.length
    val both = new Array[Boolean](n)
    var r = 0
    while (r < n) { both(r) = inA(r) && inB(r); r += 1 }
    val beta = Gram.local(both, _ => 1.0, 2, design(Array(proxy), intercept = true),
      Some(y)).solve()
    val (b0, b1) = (beta(0), beta(1))
    var acc = 0.0
    r = 0
    while (r < n) {
      val yhat = b0 + b1 * proxy(r)
      if (inB(r)) acc += dB * (1.0 + lin(0.0, lambda, 0, aux, r)) * yhat
      if (inA(r) && !yhat.isNaN) acc += d(r) * (y(r) - yhat)
      r += 1
    }
    acc / nTotal
  }

  /** PC scenario-3 DR1 (`PC.R:299-328`, one-table): fit y ~ 1 + aux on
    * A (alias-tolerant: with saturated dummies the intercept is
    * collinear and R's lm drops the aliased column), predict everywhere,
    * est = (Σ_B d_B(1 + auxᵀλ)·(y−ŷ) + Σ_U ŷ)/N. */
  private[mc] def pcDr1(y: Array[Double], aux: Array[Array[Double]],
                        inA: Array[Boolean], inB: Array[Boolean],
                        dB: Double, lambda: Array[Double]): Double = {
    val n = y.length
    val beta = Gram.local(inA, _ => 1.0, aux.length + 1,
      design(aux, intercept = true), Some(y)).solveAliased().toArray
    var acc = 0.0
    var r = 0
    while (r < n) {
      val yhat = lin(beta(0), beta, 1, aux, r)
      acc += yhat
      if (inB(r)) acc += dB * (1.0 + lin(0.0, lambda, 0, aux, r)) * (y(r) - yhat)
      r += 1
    }
    acc / n
  }
}
