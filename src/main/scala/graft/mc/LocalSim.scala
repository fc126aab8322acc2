package graft.mc

import graft.stats.Det

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
  * Every calibration solve is [[graft.stats.Det.solve]], the Cramer solve
  * `GramResult.solve` uses for k ≤ 6 (the designs here have k ≤ 5), so a
  * singular design raises Det's named `singular system` error.
  * [[solveAliased]] is the one alias-tolerant solve, for the scenario-3
  * outcome model. In two-table calls a proxy ỹ observed only on B is NaN
  * on every other row — R's NA — and [[pcModel]] drops the NaN
  * predictions from its A-residual sum, as the reference's `na.rm` does.
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

  /** λ = (XᵀDX)⁻¹(T − Xᵀd) through the estimators' shared solve. */
  private def gregLambda(xtdx: Array[Array[Double]], t: Array[Double],
                         xtd: Array[Double]): Array[Double] =
    Det.solve(IndexedSeq.tabulate(t.length, t.length)((i, j) => xtdx(i)(j)),
      IndexedSeq.tabulate(t.length)(i => t(i) - xtd(i))).toArray

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
    val n = yA.length
    val k = 3 + aux.length
    val t = new Array[Double](k)
    t(0) = nTotal
    val xtdx = Array.ofDim[Double](k, k)
    val xtd = new Array[Double](k)
    val f = new Array[Double](k)
    f(0) = 1.0
    var r = 0
    while (r < n) {
      if (inB(r)) {
        t(1) += 1.0; t(2) += yB(r)
        var a = 0
        while (a < aux.length) { t(3 + a) += aux(a)(r); a += 1 }
      }
      if (inA(r)) {
        if (inB(r)) {
          f(1) = 1.0; f(2) = yB(r)
          var a = 0
          while (a < aux.length) { f(3 + a) = aux(a)(r); a += 1 }
        } else java.util.Arrays.fill(f, 1, k, 0.0)
        var ii = 0
        while (ii < k) {
          xtd(ii) += d(r) * f(ii)
          var jj = 0
          while (jj < k) { xtdx(ii)(jj) += d(r) * f(ii) * f(jj); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    val lambda = gregLambda(xtdx, t, xtd)
    var sw = 0.0; var swy = 0.0
    r = 0
    while (r < n) {
      if (inA(r)) {
        val xl =
          if (inB(r))
            lin(lambda(0) + (lambda(1) + lambda(2) * yB(r)), lambda, 3, aux, r)
          else lambda(0)
        val w = d(r) * (1.0 + xl)
        sw += w; swy += w * yA(r)
      }
      r += 1
    }
    swy / sw
  }

  /** PC's B-side calibration (`PC.R:216-237`): the λ that makes the
    * calibrated weights d_B(1 + auxᵀλ) over B reproduce `totals`. */
  private[mc] def calB(aux: Array[Array[Double]], inB: Array[Boolean],
                       dB: Double, totals: Array[Double]): Array[Double] = {
    val k = aux.length
    val xtdx = Array.ofDim[Double](k, k)
    val xtd = new Array[Double](k)
    var r = 0
    while (r < inB.length) {
      if (inB(r)) {
        var ii = 0
        while (ii < k) {
          xtd(ii) += dB * aux(ii)(r)
          var jj = 0
          while (jj < k) { xtdx(ii)(jj) += dB * aux(ii)(r) * aux(jj)(r); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    gregLambda(xtdx, totals, xtd)
  }

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
    var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var m = 0
    var r = 0
    while (r < n) {
      if (inA(r) && inB(r)) {
        sx += proxy(r); sy += y(r); sxy += proxy(r) * y(r)
        sxx += proxy(r) * proxy(r); m += 1
      }
      r += 1
    }
    val b1 = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    val b0 = sy / m - b1 * sx / m
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
    val p = aux.length + 1
    val f = new Array[Double](p)
    f(0) = 1.0
    val oXtX = Array.ofDim[Double](p, p)
    val oXty = new Array[Double](p)
    var r = 0
    while (r < n) {
      if (inA(r)) {
        var a = 0
        while (a < aux.length) { f(1 + a) = aux(a)(r); a += 1 }
        var ii = 0
        while (ii < p) {
          oXty(ii) += f(ii) * y(r)
          var jj = 0
          while (jj < p) { oXtX(ii)(jj) += f(ii) * f(jj); jj += 1 }
          ii += 1
        }
      }
      r += 1
    }
    val beta = solveAliased(oXtX, oXty)
    var acc = 0.0
    r = 0
    while (r < n) {
      val yhat = lin(beta(0), beta, 1, aux, r)
      acc += yhat
      if (inB(r)) acc += dB * (1.0 + lin(0.0, lambda, 0, aux, r)) * (y(r) - yhat)
      r += 1
    }
    acc / n
  }

  /** Gaussian elimination that DROPS aliased (collinear) columns — the
    * coefficient is forced to 0, as R's lm reports NA for aliased terms
    * and predicts without them. */
  private[mc] def solveAliased(a0: Array[Array[Double]],
                               b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    val dropped = new Array[Boolean](k)
    val scale = math.max(1e-300, a.map(_.map(math.abs).max).max)
    var col = 0
    while (col < k) {
      var pv = col
      var r = col + 1
      while (r < k) { if (math.abs(a(r)(col)) > math.abs(a(pv)(col))) pv = r; r += 1 }
      if (math.abs(a(pv)(col)) < 1e-9 * scale) {
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
    out
  }
}
