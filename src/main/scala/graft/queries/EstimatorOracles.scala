package graft.queries

import graft.stats.Det
import graft.util.Tables.sqlDsum

/** Generated DuckDB oracle SQL for the estimator entry points m20–m25
  * (`RegDI.twoSample`, `PC.twoSample` — the reference's whole public API,
  * `RegDI2.R:5`, `PC.R:47`).
  *
  * Every stage of those pipelines is bit-reproducible across engines:
  * per-row arithmetic is IEEE-double in both; aggregate sums use the
  * exact-decimal `dsum`/`sqlDsum` pair (order-independent); and the k×k
  * calibration/OLS solves go through [[Det.solve]], whose SQL instance
  * renders the structurally identical Cramer expression the driver
  * evaluates in doubles. The oracle text below therefore mirrors the
  * exact expression tree of `RegDI.run` / `PC.run` and the `Greg` core
  * they share — any change to the fold orders there (e.g. the `1 + Σ xλ`
  * calibration projection in `Calibration.gWeightFactor`) must be
  * mirrored here, which is why each fragment cites the Scala symbol it
  * transliterates.
  *
  * Sample carve (must match `MiscQueries.abSamples`):
  *   A = customers with custkey%37==1, design weight 20+custkey%40
  *   B = customers with acctbal>1000, y observed in both, aux x1/x2.
  */
object EstimatorOracles {

  private val S = Det.SqlArith

  /** Fused A∪B frame (`Fusion.fuse` full-outer on cid) plus the RegDI
    * delta columns (`RegDI.run`'s `deltaIExpr`/`deltaYiExpr`/`deltaAuxExpr`). `yB` parameterizes the B-side
    * response (m21 mismeasures it before fusing). */
  private def rowsCte(yB: String = "bal"): String =
    s"""fused AS (
       |  SELECT c_custkey AS id, c_acctbal AS bal,
       |         CASE WHEN c_custkey % 37 = 1 THEN 1 ELSE 0 END AS inA,
       |         CASE WHEN c_acctbal > 1000.0 THEN 1 ELSE 0 END AS inB,
       |         20.0 + (c_custkey % 40) AS d_w,
       |         CASE WHEN c_nationkey <= 11 THEN 1.0 ELSE 0.0 END AS x1,
       |         CASE WHEN c_nationkey > 11 THEN 1.0 ELSE 0.0 END AS x2
       |  FROM customer
       |  WHERE c_custkey % 37 = 1 OR c_acctbal > 1000.0),
       |r AS (
       |  SELECT id, bal, inA, inB, x1, x2,
       |         CASE WHEN inA = 1 THEN bal END AS y_A,
       |         CASE WHEN inB = 1 THEN ($yB) END AS y_B,
       |         CASE WHEN inA = 1 THEN d_w ELSE 0.0 END AS d_i_A,
       |         1.0 AS uno,
       |         CASE WHEN inB = 1 THEN 1.0 ELSE 0.0 END AS delta_i,
       |         CASE WHEN inB = 1 THEN ($yB) ELSE 0.0 END AS delta_yi,
       |         CASE WHEN inB = 1 THEN x1 ELSE 0.0 END AS delta_x1
       |  FROM fused),
       |np AS (SELECT CAST(count(*) AS DOUBLE) AS n_pop FROM customer),
       |sz AS (SELECT coalesce(${sqlDsum("CASE WHEN inA = 1 THEN 1.0 END")}, 0.0) AS sA,
       |              coalesce(${sqlDsum("CASE WHEN inB = 1 THEN 1.0 END")}, 0.0) AS sB
       |       FROM r)""".stripMargin

  /** Gram-moment CTE over weight `w` and columns `cs` (+ optional `y`),
    * mirroring `Gram.moments`'s `(w * xi) * xj` / `(w * xi) * y`
    * association order (`Gram.momentsMulti`). */
  private def gramCte(name: String, from: String, w: String,
                      cs: Seq[String], y: Option[String]): String = {
    val k = cs.size
    val xx = for { i <- 0 until k; j <- i until k }
      yield s"${sqlDsum(s"((($w) * (${cs(i)})) * (${cs(j)}))")} AS xx_${i}_$j"
    val xw = (0 until k).map(i => s"${sqlDsum(s"(($w) * (${cs(i)}))")} AS xw_$i")
    val xy = y.toSeq.flatMap(yc => (0 until k).map(i =>
      s"${sqlDsum(s"((($w) * (${cs(i)})) * ($yc))")} AS xy_$i"))
    s"$name AS (SELECT ${(xx ++ xw ++ xy).mkString(",\n    ")} FROM $from)"
  }

  /** Symmetric k×k Gram matrix as SQL refs into `gramCte` output. */
  private def gramRefs(tbl: String, k: Int): IndexedSeq[IndexedSeq[String]] =
    IndexedSeq.tabulate(k, k)((i, j) =>
      s"$tbl.xx_${math.min(i, j)}_${math.max(i, j)}")

  /** Cramer solve rendered as a SQL select list (`GramResult.solve` →
    * `Det.solve` at Double; identical tree here at SQL text). */
  private def solveSelect(tbl: String, k: Int, rhs: IndexedSeq[String],
                          names: Seq[String]): String =
    Det.solve(gramRefs(tbl, k), rhs)(S).zip(names)
      .map { case (e, n) => s"$e AS $n" }.mkString(",\n    ")

  /** `Greg.calibrated`'s weight projection
    * `d · (((1 + c0·λ0) + c1·λ1) + …)` (`Calibration.gWeightFactor`). */
  private def wCal(d: String, cs: Seq[String], ls: Seq[String]): String = {
    val xl = cs.zip(ls).foldLeft("1.0") { case (acc, (c, l)) =>
      S.add(acc, S.mul(c, l))
    }
    S.mul(d, xl)
  }

  /** `WeightedStats.svymeanCalibrated`'s residual fold
    * `(((y − c0·b0) − c1·b1) − …)`. */
  private def resid(y: String, cs: Seq[String], bs: Seq[String]): String =
    cs.zip(bs).foldLeft(y) { case (acc, (c, b)) => S.sub(acc, S.mul(c, b)) }

  /** `meanWithScores`'s variance `n/(n−1) · (Σz² − (Σz)²/n)`
    * (`WeightedStats.scoreVariance`). */
  private def varEst(szz: String, sz: String, n: String): String =
    S.mul(S.div(n, S.sub(n, "1.0")),
      S.sub(szz, S.div(S.mul(sz, sz), n)))

  /** `Tables.dvarSamp` as SQL over a named column: exact-decimal sums of c
    * and c·c, then `(Σc² − Σc·Σc/n) / (n−1)`. */
  private def dvar(c: String, n: String): String =
    S.div(S.sub(sqlDsum(s"(($c) * ($c))"),
      S.div(S.mul(sqlDsum(c), sqlDsum(c)), n)), S.sub(n, "1.0"))

  private val regdiCal = Seq("uno", "delta_i", "delta_yi", "delta_x1")
  private val lamN = Seq("l0", "l1", "l2", "l3")
  private val betaN = Seq("b0", "b1", "b2", "b3")

  /** RegDI calibration rhs: totals − Σw·x (`Calibration.lambda`),
    * with totals = (N, Σδᵢ, Σδyᵢ, Σδx₁) (`RegDI.run`'s `totals`). */
  private def regdiRhs(yiTot: String): IndexedSeq[String] = IndexedSeq(
    "(np.n_pop - g.xw_0)", "(tot.t_di - g.xw_1)",
    s"($yiTot - g.xw_2)", "(tot.t_dx1 - g.xw_3)")

  /** Shared m20/m21 tail: calibrated-design svymean with linearization
    * variance over the A rows (`Greg.calibratedMean` → `WeightedStats
    * .svymeanCalibrated`). `yCol`/`dyiCol` differ under correction 2.
    * Scores are UNNORMALIZED (s = w_cal·resid; the /Σw happens once
    * after aggregation — WeightedStats.scoreVariance's decimal-quantum
    * contract, r15). */
  private def svymeanTail(yCol: String, cs: Seq[String]): String = {
    val csA = cs // column names available on `arows`
    s"""m1 AS (SELECT ${sqlDsum(s"(w_cal * ($yCol))")} AS swy,
       |              ${sqlDsum("w_cal")} AS sw
       |       FROM arows),
       |beta AS (SELECT ${solveSelect("g", 4,
                   IndexedSeq.tabulate(4)(i => s"g.xy_$i"), betaN)} FROM g),
       |zr AS (SELECT (a.w_cal * ${resid(s"(a.$yCol)",
                  csA.map(c => s"a.$c"), betaN.map("beta." + _))}) AS z
       |       FROM arows a, beta),
       |v AS (SELECT ${sqlDsum("z")} AS sz, ${sqlDsum("(z * z)")} AS szz,
       |             CAST(count(*) AS DOUBLE) AS n FROM zr)""".stripMargin
  }

  /** m20 — RegDI correction 1 (`RegDI2.R:244-248`): GREG-calibrated
    * svymean of y_A with linearization variance. */
  val m20: String =
    s"""WITH ${rowsCte()},
       |tot AS (SELECT ${sqlDsum("delta_i")} AS t_di,
       |               ${sqlDsum("delta_yi")} AS t_dyi,
       |               ${sqlDsum("delta_x1")} AS t_dx1 FROM r),
       |${gramCte("g", "r WHERE inA = 1", "d_i_A", regdiCal, Some("y_A"))},
       |lam AS (SELECT ${solveSelect("g", 4, regdiRhs("tot.t_dyi"), lamN)}
       |        FROM g, np, tot),
       |arows AS (SELECT r.*,
       |    ${wCal("r.d_i_A", regdiCal.map("r." + _), lamN.map("lam." + _))} AS w_cal
       |  FROM r, lam WHERE r.inA = 1),
       |${svymeanTail("y_A", regdiCal)}
       |SELECT m1.swy / m1.sw AS mean,
       |       sqrt(${varEst("v.szz", "v.sz", "v.n")} / (m1.sw * m1.sw)) AS se
       |FROM m1, v""".stripMargin

  /** m21 — RegDI correction 2 (`RegDI2.R:250-307`): OLS y_A ~ y_B on the
    * A∩B validation overlap, invert, rebuild corrected totals,
    * re-calibrate, svymean of the corrected y. B's y is mismeasured
    * 50 + 1.1·y before fusion (`MiscQueries.m21`). */
  val m21: String = {
    val corrCal = Seq("uno", "delta_i", "dyc", "delta_x1")
    s"""WITH ${rowsCte("(50.0 + (bal * 1.1))")},
       |tot AS (SELECT ${sqlDsum("delta_i")} AS t_di,
       |               ${sqlDsum("delta_x1")} AS t_dx1 FROM r),
       |${gramCte("og", "r WHERE inA = 1 AND inB = 1 " +
                  "AND y_B IS NOT NULL AND y_A IS NOT NULL", "1.0",
                  Seq("1.0", "y_B"), Some("y_A"))},
       |ob AS (SELECT ${solveSelect("og", 2,
                IndexedSeq("og.xy_0", "og.xy_1"), Seq("b0", "b1"))} FROM og),
       |rc AS (SELECT r.*,
       |         CASE WHEN r.inA = 1 THEN ((r.y_A - ob.b0) / ob.b1)
       |              ELSE r.y_B END AS y_corr,
       |         CASE WHEN r.inB = 1 THEN
       |           CASE WHEN r.inA = 1 THEN ((r.y_A - ob.b0) / ob.b1)
       |                ELSE r.y_B END
       |           ELSE 0.0 END AS dyc
       |       FROM r, ob),
       |tc AS (SELECT ${sqlDsum("dyc")} AS t_dyc FROM rc),
       |${gramCte("g", "rc WHERE inA = 1", "d_i_A", corrCal, Some("y_corr"))},
       |lam AS (SELECT ${solveSelect("g", 4, regdiRhs("tc.t_dyc"), lamN)}
       |        FROM g, np, tot, tc),
       |arows AS (SELECT rc.*,
       |    ${wCal("rc.d_i_A", corrCal.map("rc." + _), lamN.map("lam." + _))} AS w_cal
       |  FROM rc, lam WHERE rc.inA = 1),
       |${svymeanTail("y_corr", corrCal)}
       |SELECT m1.swy / m1.sw AS mean,
       |       sqrt(${varEst("v.szz", "v.sz", "v.n")} / (m1.sw * m1.sw)) AS se
       |FROM m1, v""".stripMargin
  }

  /** m22 — RegDI correction 3 (`RegDI2.R:196-241`): standard calibration,
    * OLS outcome model y_A ~ x1_A on A, DR combination
    * (Σ w_cal·e + Σ ŷ)/N with variance, plus RMSE/R². */
  val m22: String =
    s"""WITH ${rowsCte()},
       |tot AS (SELECT ${sqlDsum("delta_i")} AS t_di,
       |               ${sqlDsum("delta_yi")} AS t_dyi,
       |               ${sqlDsum("delta_x1")} AS t_dx1 FROM r),
       |${gramCte("g", "r WHERE inA = 1", "d_i_A", regdiCal, None)},
       |lam AS (SELECT ${solveSelect("g", 4, regdiRhs("tot.t_dyi"), lamN)}
       |        FROM g, np, tot),
       |${gramCte("og", "r WHERE inA = 1 " +
                  "AND x1 IS NOT NULL AND y_A IS NOT NULL", "1.0",
                  Seq("1.0", "x1"), Some("y_A"))},
       |ob AS (SELECT ${solveSelect("og", 2,
                IndexedSeq("og.xy_0", "og.xy_1"), Seq("b0", "b1"))} FROM og),
       |arows AS (SELECT r.*,
       |    ${wCal("r.d_i_A", regdiCal.map("r." + _), lamN.map("lam." + _))} AS w_cal,
       |    (ob.b0 + (r.x1 * ob.b1)) AS y_pred
       |  FROM r, lam, ob WHERE r.inA = 1),
       |wr AS (SELECT a.*, ((a.y_A - a.y_pred) * a.w_cal) AS wres FROM arows a),
       |asum AS (SELECT ${sqlDsum("wres")} AS s_wres,
       |                (${dvar("wres", "CAST(count(wres) AS DOUBLE)")} / sz.sA) AS v_wres,
       |                ${sqlDsum("y_A")} AS s_yA,
       |                ${sqlDsum("((y_A - y_pred) * (y_A - y_pred))")} AS ssr
       |         FROM wr, sz GROUP BY sz.sA),
       |usum AS (SELECT ${sqlDsum("yp")} AS s_pred,
       |                (${dvar("yp", "CAST(count(yp) AS DOUBLE)")} / np.n_pop) AS v_pred
       |         FROM (SELECT CASE WHEN r.inA = 1 THEN (ob.b0 + (r.x1 * ob.b1)) END AS yp
       |               FROM r, ob), np GROUP BY np.n_pop),
       |sst AS (SELECT ${sqlDsum("((a.y_A - m.my) * ((a.y_A - m.my)))")} AS sst
       |        FROM arows a, (SELECT asum.s_yA / sz.sA AS my FROM asum, sz) m)
       |SELECT (asum.s_wres + usum.s_pred) / np.n_pop AS mean,
       |       sqrt(asum.v_wres + usum.v_pred) AS se,
       |       sqrt(asum.ssr / sz.sA) AS rmse,
       |       1.0 - (asum.ssr / sst.sst) AS r2
       |FROM asum, usum, sst, np, sz""".stripMargin

  private val pcAux = Seq("x1", "x2")

  /** PC shared head: HT population totals from the A design
    * (`PC.R:181-199` → `WeightedStats.svytotal`), then GREG calibration
    * of the B design on (x1, x2) (`PC.R:216-237`), rendering the
    * calibrated weight as the closed-form per-row expression. */
  private def pcHead: String =
    s"""ht AS (SELECT ${sqlDsum("((d_i_A) * (x1))")} AS t_x1,
       |              ${sqlDsum("((d_i_A) * (x2))")} AS t_x2
       |       FROM r WHERE inA = 1),
       |rb AS (SELECT r.*,
       |         CASE WHEN inB = 1 THEN (np.n_pop / sz.sB) ELSE 0.0 END AS d_b_pre
       |       FROM r, np, sz),
       |${gramCte("bg", "rb WHERE inB = 1", "d_b_pre", pcAux, Some("y_B"))},
       |blam AS (SELECT ${solveSelect("bg", 2,
                  IndexedSeq("(ht.t_x1 - bg.xw_0)", "(ht.t_x2 - bg.xw_1)"),
                  Seq("l0", "l1"))} FROM bg, ht),
       |rw AS (SELECT rb.*,
       |         CASE WHEN rb.inB = 1 THEN ${wCal("rb.d_b_pre",
                  pcAux.map("rb." + _), Seq("blam.l0", "blam.l1"))}
       |              ELSE 0.0 END AS d_i_B
       |       FROM rb, blam)""".stripMargin

  /** m23 — PC scenario 1 (`PC.R:240-253`): svymean of y_B under the
    * calibrated B design, linearization variance with the pre-calibration
    * weights in the Gram. */
  val m23: String =
    s"""WITH ${rowsCte()},
       |$pcHead,
       |m1 AS (SELECT ${sqlDsum("(d_i_B * (y_B))")} AS swy,
       |              ${sqlDsum("d_i_B")} AS sw
       |       FROM rw WHERE inB = 1),
       |beta AS (SELECT ${solveSelect("bg", 2,
                  IndexedSeq("bg.xy_0", "bg.xy_1"), Seq("b0", "b1"))} FROM bg),
       |zr AS (SELECT (w.d_i_B * ${resid("(w.y_B)",
                  pcAux.map(c => s"w.$c"), Seq("beta.b0", "beta.b1"))}) AS z
       |       FROM rw w, beta WHERE w.inB = 1),
       |v AS (SELECT ${sqlDsum("z")} AS sz, ${sqlDsum("(z * z)")} AS szz,
       |             CAST(count(*) AS DOUBLE) AS n FROM zr)
       |SELECT m1.swy / m1.sw AS estimator,
       |       sqrt(${varEst("v.szz", "v.sz", "v.n")} / (m1.sw * m1.sw)) AS se
       |FROM m1, v""".stripMargin

  /** m24 — PC scenario 2 (`PC.R:255-297`): OLS y_A ~ x1_A on A∩B,
    * combine (Σ d_B·ŷ + Σ d_A·(y_A − ŷ))/N. Predictions are null off the
    * A side (x1 resolves to x1_A), so the d_B term sums over A∩B only —
    * matching the Spark plan's null-skipping sums. */
  val m24: String =
    s"""WITH ${rowsCte()},
       |$pcHead,
       |${gramCte("og", "r WHERE inA = 1 AND inB = 1 " +
                  "AND x1 IS NOT NULL AND y_A IS NOT NULL", "1.0",
                  Seq("1.0", "x1"), Some("y_A"))},
       |ob AS (SELECT ${solveSelect("og", 2,
                IndexedSeq("og.xy_0", "og.xy_1"), Seq("b0", "b1"))} FROM og),
       |pr AS (SELECT w.*, CASE WHEN w.inA = 1 THEN (ob.b0 + (w.x1 * ob.b1)) END AS yp
       |       FROM rw w, ob),
       |s AS (SELECT ${sqlDsum("(d_i_B * yp)")} AS t1,
       |             ${sqlDsum("CASE WHEN inA = 1 THEN (d_i_A * (y_A - yp)) END")} AS t2
       |      FROM pr)
       |SELECT (s.t1 + s.t2) / np.n_pop AS estimator FROM s, np""".stripMargin

  /** m25 — PC scenario 3 (`PC.R:299-354`): OLS on A only, predict, DR1
    * (Σ d_B·(y_B − ŷ) + Σ ŷ)/N, plus RMSE/R² on the A fit. */
  val m25: String =
    s"""WITH ${rowsCte()},
       |$pcHead,
       |${gramCte("og", "r WHERE inA = 1 " +
                  "AND x1 IS NOT NULL AND y_A IS NOT NULL", "1.0",
                  Seq("1.0", "x1"), Some("y_A"))},
       |ob AS (SELECT ${solveSelect("og", 2,
                IndexedSeq("og.xy_0", "og.xy_1"), Seq("b0", "b1"))} FROM og),
       |pr AS (SELECT w.*, CASE WHEN w.inA = 1 THEN (ob.b0 + (w.x1 * ob.b1)) END AS yp
       |       FROM rw w, ob),
       |s AS (SELECT ${sqlDsum("yp")} AS s_pred,
       |             ${sqlDsum(
                 "(d_i_B * ((CASE WHEN inB = 1 THEN (y_B) ELSE 0.0 END) - yp))")} AS t1,
       |             ${sqlDsum(
                 "CASE WHEN inA = 1 THEN ((y_A - yp) * (y_A - yp)) END")} AS ssr,
       |             ${sqlDsum("CASE WHEN inA = 1 THEN y_A END")} AS s_yA
       |      FROM pr),
       |sst AS (SELECT ${sqlDsum("((p.y_A - m.my) * ((p.y_A - m.my)))")} AS sst
       |        FROM pr p, (SELECT s.s_yA / sz.sA AS my FROM s, sz) m
       |        WHERE p.inA = 1)
       |SELECT (s.t1 + s.s_pred) / np.n_pop AS estimator,
       |       sqrt(s.ssr / sz.sA) AS rmse,
       |       1.0 - (s.ssr / sst.sst) AS r2
       |FROM s, sst, np, sz""".stripMargin
}
