package graft.estimators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.SurveyDesign
import graft.stats.{Gram, GramResult, GramSpec, WeightedStats}
import graft.util.Tables.dsum

/** PC pseudo-calibration estimator (Golini & Righi 2024), re-expressing
  * `PC.R:47-358` Spark-first.
  *
  * Pipeline: the [[Greg]] entry (fusion, indicators, sizes and N in one
  * pass, default/explicit weights) → population totals of the aux vars
  * (direct sum in one-table mode, Horvitz–Thompson from the A design in
  * two-table mode, `PC.R:181-199`) → GREG-calibrate the B-row design on
  * the aux vars (`PC.R:216-237`) → scenario. What is PC's own here: the
  * totals, the scenario dispatch and the scenario-2/3 combinations:
  *   1 — `svymean(~y_B, calibrated_B)` (`PC.R:240-253`)
  *   2 — outcome model fit on A∩B via the dynamic `_A`/`_B` formula
  *       resolver, predict on A and B, combine
  *       `(Σ d_B·ŷ + Σ d_A·e)/N` (`PC.R:255-297`)
  *   3 — model fit on A only, predict everywhere, DR1
  *       `(Σ d_B·(y_B−ŷ) + Σ_U ŷ)/N` (`PC.R:299-354`)
  *
  * Scale: B is the big side (~50k in the reference, arbitrarily large at
  * 100 TB). Calibrated weights are NOT materialized by a join: the linear
  * calfun's closed form w = d·(1 + λᵀx) lets us re-derive them as a
  * broadcast-λ column expression over the full frame — every scenario is
  * then a handful of O(k²)-state aggregates over one cached frame, with
  * the fusion join (broadcast-A) as the only shuffle.
  */
final case class PCResult(
    estimator: Double,
    se: Option[Double] = None,
    rmse: Option[Double] = None,
    r2: Option[Double] = None,
    /** B rows with calibrated weights in `d_i_B` (lazy plan). */
    weightsB: Option[DataFrame] = None
)

final case class PCConfig(
    yACol: Option[String] = None,
    yBCol: Option[String] = None,
    auxVars: Seq[String] = Nil,
    nTotal: Option[Double] = None,
    weightsA: Option[String] = None,
    weightsB: Option[String] = None,
    outcomeModel: Option[String] = None,
    modelType: String = "normal",
    scenario: Int = 1,
    evalModelPerformance: Boolean = false
)

object PC {

  /** Two-table API (`PC.R` with data_A/data_B). */
  def twoSample(
      dataA: DataFrame,
      dataB: DataFrame,
      idVarA: String,
      idVarB: String,
      cfg: PCConfig
  ): PCResult = {
    val yARaw = cfg.yACol.getOrElse(cfg.yBCol.getOrElse(
      throw new IllegalArgumentException("y_A_col or y_B_col required")))
    val yBRaw = cfg.yBCol.getOrElse(yARaw)
    // each y column must come from its OWN side: a defaulted y_A_col
    // that only exists in dataB would make ind_var_A ≡ ind_var_B — HT
    // totals over the wrong row set with no error (r14 review). Aux vars
    // are consumed on BOTH sides (A-side HT totals feed the population
    // targets, B-side values feed the calibration design), so each must
    // be in both (r15 review). Same scenario-3 frame note as
    // RegDI.twoSample: Σŷ sums over this fused frame (PC.R semantics);
    // use oneTable with a population frame for the population-
    // denominator estimator.
    def aux(side: String) = cfg.auxVars.map(v => v -> (s"aux var '$v' is not " +
      s"a column of data$side — PC aux variables must be observed in both samples"))
    val f = Greg.fuse(dataA, dataB, idVarA, idVarB, yARaw, yBRaw,
      ownA = ((yARaw -> (s"y_A_col (resolved '$yARaw') is not a column of " +
        "dataA — pass yACol explicitly")) +: aux("A")) ++
        cfg.weightsA.map(w => w -> s"weightsA '$w' is not a column of dataA"),
      ownB = ((yBRaw -> s"y_B_col (resolved '$yBRaw') is not a column of dataB") +:
        aux("B")) ++
        cfg.weightsB.map(w => w -> s"weightsB '$w' is not a column of dataB"))
    run(f.df, Greg.IndA, Greg.IndB, Some(f.resolveA(yARaw)),
      Some(f.resolveB(yBRaw)), cfg.auxVars.map(f.resolveA),
      cfg.auxVars.map(f.resolveB), cfg.weightsA.map(f.resolveA),
      cfg.weightsB.map(f.resolveB), cfg, popIsData = false)
  }

  /** One-table API: `data` is the fused frame (or the full population),
    * with explicit indicator columns (`PC.R` data-direct mode). */
  def oneTable(
      data: DataFrame,
      indVarA: String,
      indVarB: String,
      cfg: PCConfig
  ): PCResult =
    run(data, indVarA, indVarB, cfg.yACol, cfg.yBCol,
      cfg.auxVars, cfg.auxVars, cfg.weightsA, cfg.weightsB, cfg,
      popIsData = true)

  // ------------------------------------------------------------------

  private def run(
      data0: DataFrame,
      indA: String, indB: String,
      yAOpt: Option[String], yBOpt: Option[String],
      auxA: Seq[String], auxB: Seq[String],
      weightsA: Option[String], weightsB: Option[String],
      cfg: PCConfig,
      popIsData: Boolean
  ): PCResult = {
    val isA = col(indA) === 1
    val isB = col(indB) === 1

    // scenario prerequisites, checked before any job runs (PC.R:69-85
    // stop() contracts — same messages, failure just surfaces earlier)
    def need(y: Option[String], what: String): Unit =
      if (y.isEmpty)
        throw new IllegalArgumentException(s"Scenario ${cfg.scenario} requires $what")
    val outcome: Option[Greg.Outcome] = cfg.scenario match {
      case 1 => need(yBOpt, "y_B_col"); None
      case s @ (2 | 3) =>
        val m = cfg.outcomeModel.getOrElse(throw new IllegalArgumentException(
          s"Scenario $s requires 'outcomeModel'"))
        need(yAOpt, "y_A_col")
        if (s == 3) need(yBOpt, "y_B_col")
        Some(Greg.outcome(m, cfg.modelType, data0))
      case s => throw new IllegalArgumentException(s"scenario $s not in 1-3")
    }
    // scenario 2 fits on A∩B, scenario 3 on A
    val fitMask = if (cfg.scenario == 2) isA && isB else isA

    // the first pass also counts A∩B and, when it can, sums the
    // population totals (PC.R:134-199): directly over the population in
    // one-table mode; as the HT totals Σ_A w·z when explicit A-weights
    // exist (same addend multiset as svytotal over the A-filtered design
    // ⇒ bit-identical). Without them d_i_A = N/n_A needs n_A from this
    // very pass, so the totals stay a second pass.
    val htFold = !popIsData && weightsA.nonEmpty && auxB.nonEmpty
    val totAggs =
      if (popIsData) auxA.map(z => dsum(col(z)).as(s"t_$z"))
      else if (htFold)
        auxA.map(z => dsum(when(isA, col(weightsA.get) * col(z))).as(s"t_$z"))
      else Nil
    val (_, sizes) = Greg.firstPass(data0, isA, isB, weightsA, cfg.nTotal,
      popIsData, Nil, count(when(isA && isB, lit(1))).as("nAB") +: totAggs)
    if (cfg.scenario == 2)
      require(sizes("nAB") > 0, "No units in S_A ∩ S_B to fit the model")

    val pre = data0
      .withColumn("d_i_A", sizes.dA(weightsA))
      .withColumn("d_b_pre", sizes.dB(weightsB))
      .cache()

    try {
      // population totals of aux vars (PC.R:181-199)
      val popTotals: Seq[Double] =
        if (auxB.isEmpty) Nil
        else if (popIsData || htFold) auxA.map(z => sizes(s"t_$z"))
        else {
          val t = WeightedStats.svytotal(SurveyDesign(pre.filter(isA), "d_i_A"), auxA)
          auxA.map(t)
        }

      // ONE fused pass (Gram.momentsMulti) for every remaining Gram:
      //  - "cal": the B-design calibration Gram (PC.R:216-237), carrying
      //    y_B moments in scenario 1 so the calibrated-mean β reuses it
      //  - "ols": the normal outcome model's Gram (PC.R:272)
      val specs =
        (if (auxB.isEmpty) Nil
         else Seq("cal" -> GramSpec(auxB.map(col), col("d_b_pre"),
           if (cfg.scenario == 1) Some(col(yBOpt.get)) else None, Some(isB)))) ++
        outcome.toSeq.flatMap(_.gram(fitMask))
      val grams: Map[String, GramResult] =
        if (specs.nonEmpty) Gram.momentsMulti(pre, specs)._1 else Map.empty

      // closed-form calibrated B-weights re-applied over the FULL frame
      val data = pre.withColumn("d_i_B", grams.get("cal") match {
        case Some(g) => Greg.designWeight(isB,
          Greg.calibrated(col("d_b_pre"), g, auxB, popTotals))
        case None => col("d_b_pre")
      })
      def bWeights: Option[DataFrame] = {
        val keep = (if (data.columns.contains("id")) Seq("id") else Nil) :+ "d_i_B"
        Some(data.filter(isB).select(keep.map(col): _*))
      }
      def predict: Column = outcome.get.predict(grams, data, fitMask)

      cfg.scenario match {
        case 1 =>
          val m = grams.get("cal") match {
            case Some(g) =>
              Greg.calibratedMean(data, isB, yBOpt.get, col("d_i_B"), auxB, g)
            case None =>
              WeightedStats.svymean(SurveyDesign(data.filter(isB), "d_i_B"), yBOpt.get)
          }
          PCResult(m.mean, se = Some(m.se), weightsB = bWeights)

        case 2 =>
          val yA = yAOpt.get
          val p = predict
          // (Σ d_B·ŷ_B + Σ d_A·(y_A − ŷ_A)) / N in one whole-frame agg.
          // NULL predictions (a covariate resolved to one side) are
          // SKIPPED by the null-skipping dsum — deliberately: the
          // reference sums with na.rm = TRUE (PC.R:288-289), so rows
          // whose prediction is NA drop out of both terms there too.
          // The twoSample aux requires above keep the CALIBRATION side
          // loud; the outcome-model formula keeps reference semantics.
          val r = data.agg(
            dsum(col("d_i_B") * p).as("t1"),
            dsum(when(isA, col("d_i_A") * (col(yA) - p))).as("t2")).head()
          PCResult((r.getDouble(0) + r.getDouble(1)) / sizes.nTotal,
            weightsB = bWeights)

        case 3 =>
          // DR1 (Σ d_B·(y_B − ŷ) + Σ_U ŷ) / N (PC.R:299-354)
          val hat = col("hat_y_i")
          val (sums, fit) = Greg.score(data.withColumn("hat_y_i", predict),
            isA, yAOpt.get, hat, Seq(
              dsum(hat).as("s_pred"),
              dsum(col("d_i_B") *
                (when(isB, col(yBOpt.get)).otherwise(lit(0.0)) - hat)).as("t1")),
            sizes.nA, cfg.evalModelPerformance)
          PCResult(
            (sums.getAs[Double]("t1") + sums.getAs[Double]("s_pred")) / sizes.nTotal,
            rmse = fit.map(_.rmse), r2 = fit.map(_.r2), weightsB = bWeights)
      }
    } finally pre.unpersist()
  }
}
