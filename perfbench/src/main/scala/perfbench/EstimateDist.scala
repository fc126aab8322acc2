package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fusion
import graft.estimators.{PC, PCConfig, RegDI, RegDIConfig}
import graft.stats.{Calibration, Gram, GramSpec, Logistic, Ols}
import graft.synth.Population

/** `estimate_dist`: the distributed DataFrame estimators on a synthetic
  * cell-2 population with A and B draws added in the style of
  * `MonteCarlo.runDistributed`. Each pass synthesizes and caches one
  * replicate at the paper's N=100,000 and runs the full battery on it,
  * then one at N=2,000,000 and runs the paper's headline call (RegDI
  * correction 1) on it. At 100k a call is mostly fixed driver and
  * scheduling cost; at 2M every action is a full scan with an
  * exact-decimal Gram. The large replicate runs one call, not the whole
  * battery, so that one run stays inside the benchmark's time budget. */
final class EstimateDist(s: Settings) extends Workload {
  val name = "estimate_dist"

  private val paperN = if (s.smoke) 5000L else 100000L
  private val largeN = if (s.smoke) 20000L else 2000000L
  private val largeCalls = Set("regdi_c1")
  private val twoSample = "regdi_two_sample"
  private val sampleFraction = 100 // n_A = N / 100, as in the paper (1,000 of 100,000)

  private def regdi(n: Long, correction: Int, y: String = "y_i",
                    model: Option[String] = None, modelType: String = "normal") =
    RegDIConfig(yACol = y, yBCol = y, auxVars = Seq("x_i"), nTotal = Some(n.toDouble),
      correction = correction, outcomeModel = model, modelType = modelType)

  private def pc(n: Long, scenario: Int, model: Option[String] = None) =
    PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"), auxVars = Seq("x_i"),
      nTotal = Some(n.toDouble), scenario = scenario, outcomeModel = model)

  /** The battery: (call name, estimate) over a cached population of size n. */
  private val battery: Seq[(String, (DataFrame, Long) => Double)] = Seq(
    "regdi_c1" -> ((d, n) => RegDI.oneTable(d, "in_A", "in_B", regdi(n, 1)).mean),
    "regdi_c2" -> ((d, n) => RegDI.oneTable(d, "in_A", "in_B", regdi(n, 2)).mean),
    "regdi_c3" -> ((d, n) =>
      RegDI.oneTable(d, "in_A", "in_B", regdi(n, 3, model = Some("y_i ~ x_i"))).mean),
    "regdi_c3_logistic" -> ((d, n) => RegDI.oneTable(d, "in_A", "in_B",
      regdi(n, 3, y = "e1_i", model = Some("e1_i ~ x_i"), modelType = "logistic")).mean),
    "pc_s1" -> ((d, n) => PC.oneTable(d, "in_A", "in_B", pc(n, 1)).estimator),
    "pc_s2" -> ((d, n) =>
      PC.oneTable(d, "in_A", "in_B", pc(n, 2, Some("y_i ~ x_i"))).estimator),
    "pc_s3" -> ((d, n) =>
      PC.oneTable(d, "in_A", "in_B", pc(n, 3, Some("y_i ~ x_i"))).estimator),
    twoSample -> ((d, n) => {
      val (a, b) = samples(d)
      RegDI.twoSample(a, b, "id", "id", regdi(n, 1)).mean
    }))

  private def samples(d: DataFrame): (DataFrame, DataFrame) =
    (d.filter(col("in_A") === 1).select("id", "y_i"),
      d.filter(col("in_B") === 1).select("id", "y_i", "x_i"))

  /** Cell-2 population plus the A (SRS by id hash) and B (y-dependent
    * Bernoulli) indicators, exactly as `MonteCarlo.runDistributed` adds
    * them. */
  private def population(spark: SparkSession, n: Long, seed: Long): DataFrame =
    Population.cell2(spark, n, seed)
      .withColumn("in_A",
        (pmod(hash(col("id") + lit(seed)), lit(sampleFraction)) === 0).cast("int"))
      .withColumn("in_B",
        (shiftrightunsigned(xxhash64(col("id"), lit(seed + 2000)), 11)
          .cast("double") / lit(9007199254740992.0) <
          lit(0.7) - lit(0.4) * (col("y_i") > 3.0).cast("double")).cast("int"))

  private def replicateSeed(n: Long, p: Int): Long =
    new scala.util.Random(s.seed * 31 + p * 7 + n).nextLong()

  def warm(spark: SparkSession): Unit = {
    val d = population(spark, 5000, 1L).cache()
    try RegDI.oneTable(d, "in_A", "in_B", regdi(5000, 1)) finally d.unpersist()
  }

  def pass(h: Harness, p: Int): Unit =
    Seq(paperN, largeN).foreach(n => replicate(h, n, replicateSeed(n, p)))

  private def group(n: Long) = if (n == paperN) "paper" else "large"

  private def replicate(h: Harness, n: Long, seed: Long): Unit = {
    val pop = h.op("synth.population", "synth") {
      val d = population(h.spark, n, seed).cache()
      d.count()
      d
    }
    pop.foreach { d =>
      val calls = if (n == paperN) battery else battery.filter(c => largeCalls(c._1))
      val results = calls.map { case (call, f) =>
        call -> (h.op(s"estimators.$call", group(n))(f(d, n)), h.lastOp)
      }
      results.foreach { case (call, (est, rec)) =>
        h.check(rec) {
          est.toSeq.filterNot(_.isFinite).map(v => s"$call estimate $v is not finite")
        }
      }
      val c1 = results.find(_._1 == "regdi_c1").flatMap(_._2._1)
      // the fusion join must not change the estimate: twoSample over the
      // A and B samples equals correction-1 oneTable over the population
      results.find(_._1 == twoSample).foreach { case (_, (ts, tsRec)) =>
        h.check(tsRec) {
          (c1, ts) match {
            case (Some(a), Some(b)) if math.abs(a - b) > 1e-9 * math.max(1.0, math.abs(a)) =>
              Seq(f"twoSample $b%.12f differs from oneTable c1 $a%.12f by more than 1e-9 (relative)")
            case _ => Nil
          }
        }
      }
      h.untimed(d.unpersist(blocking = true))
    }
  }

  private def callSeconds(h: Harness, g: String): Seq[Double] =
    h.ops.filter(_.group == g).map(_.seconds).toSeq

  def latencies(h: Harness): Seq[Double] = callSeconds(h, "paper")

  def report(h: Harness): Seq[(String, Double, String)] = Seq(
    ("estimate_paper_p50_s", Stats.median(callSeconds(h, "paper")), "s"),
    ("estimate_2m_p50_s", Stats.median(callSeconds(h, "large")), "s"))

  private def actionsPerCall(h: Harness): Double = {
    val calls = h.ops.filter(_.layer.startsWith("estimators.")).flatMap(_.stats)
    if (calls.isEmpty) 0.0 else calls.map(_.actions).sum.toDouble / calls.size
  }

  /** Single layers replayed on a cached large population: the fusion
    * join, the RegDI calibration Gram, the k×k calibration solve, and the
    * OLS and logistic outcome-model fits on sample A. */
  override def traced(h: Harness): Seq[(String, Double, String)] = {
    val n = largeN
    val d = population(h.spark, n, replicateSeed(n, -1)).cache()
    d.count()
    try {
      val isA = col("in_A") === 1
      val isB = col("in_B") === 1
      def onB(c: Column) = when(isB, c).otherwise(lit(0.0))
      val (a, b) = samples(d)
      def secs(layer: String): Double =
        h.replays.filter(_.layer == layer).map(_.seconds).sum
      h.replay("core.fusion") {
        Fusion.fuse(a, b, "id", "id", broadcastA = true).df
          .write.format("noop").mode("overwrite").save()
      }
      // the correction-1 calibration spec: x = (1, δ, δ·y, δ·x) on A rows
      // weighted by N/n_A, with the y moments the calibrated mean reuses
      val xs = Seq(lit(1.0), onB(lit(1.0)), onB(col("y_i")), onB(col("x_i")))
      val nA = d.filter(isA).count().toDouble
      val gram = h.replay("stats.gram") {
        Gram.momentsMulti(d, Seq("cal" -> GramSpec(xs, when(isA, lit(n / nA)),
          Some(col("y_i")), Some(isA))),
          Seq(sum(onB(lit(1.0))).as("t_di"), sum(onB(col("y_i"))).as("t_dyi"),
            sum(onB(col("x_i"))).as("t_dx")))
      }
      val solveMs = gram.map { case (g, row) =>
        val totals = n.toDouble +: Seq("t_di", "t_dyi", "t_dx").map(row.getAs[Double])
        val names = Seq("uno", "delta_i", "delta_yi", "delta_x_i")
        val reps = 200
        val t0 = System.nanoTime()
        h.tracer.span("stats.calibration_solve") {
          (1 to reps).foreach(_ => Calibration.solveLambda(g("cal"), names, totals))
        }
        (System.nanoTime() - t0) / 1e6 / reps
      }.getOrElse(0.0)
      h.replay("stats.ols_fit")(Ols.fit(d.filter(isA), "y_i ~ x_i"))
      val logit = h.replay("stats.logistic_fit")(Logistic.fit(d.filter(isA), "e1_i ~ x_i"))
      Seq(("core.fusion_s", secs("core.fusion"), "s"),
        ("stats.gram_s", secs("stats.gram"), "s"),
        ("stats.calibration_solve_ms", solveMs, "ms"),
        ("stats.ols_fit_s", secs("stats.ols_fit"), "s"),
        ("stats.logistic_fit_s", secs("stats.logistic_fit"), "s"),
        ("stats.logistic_iters", logit.map(_.iterations.toDouble).getOrElse(0.0), "count"),
        ("estimators.actions_per_call", actionsPerCall(h), "count"))
    } finally d.unpersist()
  }
}
