package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.mc.{LocalSim, MonteCarlo, Reporting}

/** `mc_study`: the paper's four Monte-Carlo studies through the
  * task-local path (`graft.mc.LocalSim` inside executor tasks, no
  * shuffle) at N=100,000 with few replicates, each followed by
  * `summarize`, then the NMAR-v2 reporting chain. The three gated studies
  * (sim-1, stratified, NMAR) use their default seeds, as
  * `graft.mc.GoldenRun` does, so the design-consistency gate sees the
  * same draw on every run and either always passes or flags a real
  * regression; `--seed` draws the NMAR-v2 grid, whose checks are exact.
  * The order of the studies is fixed: in a fresh JVM the first study
  * pays the compilation the later ones reuse. */
final class McStudy(s: Settings) extends Workload {
  val name = "mc_study"

  private val nPop = 100000
  private val gammas = (0 to 10).map(_ / 10.0)
  // NMAR-v2 sweeps every other γ of the paper's grid: `gridAnova`'s cost
  // grows with the square of its dummy columns (Sd × γ interactions), and
  // the full 11 × 5 grid alone takes longer than a run can afford
  private val v2Gammas = gammas.indices.filter(_ % 2 == 0).map(gammas)
  private val sds = Seq(0.0, 0.125, 0.25, 0.375, 0.5)
  private val v2Ests = Seq("PC_xi_DR", "PC_ei_DR", "RegDI_no_aux", "RegDI_xi", "RegDI_ei")
  // replicates per study; the NMAR grids multiply theirs by their gammas.
  // Two is the fewest `summarize` accepts: its variance divides by n - 1.
  private val (sim1Reps, sim2Reps, nmarReps, v2Reps) =
    if (s.smoke) (2, 2, 2, 2) else (20, 20, 2, 2)
  // sim-1 runs in batches of one replicate per two cores (see `sim1`)
  private val sim1Batch = math.max(1, s.cores / 2)

  // design-consistent estimators (GoldenRun's gate set, plus sim-1's
  // RegDI family); the naive and PC estimators carry known design bias
  private val sim1Consistent = Seq("Mean_S_A", "RegDI", "RegDI_X1", "RegDI_e1",
    "RegDI_II", "RegDI_X1_II", "RegDI_e1_II")
  private val sim2Consistent = Seq("Mean_S_A", "RegDI", "RegDI_X1", "RegDI_II", "RegDI_X1_II")
  private val nmarConsistent = Seq("Mean_S_A", "RegDI_X1")
  private val goldenMeanSB = -0.112 // BASELINE_REPRO.md, sim-1 at 1,000 replicates

  private var evals = 0L

  /** Each study and `summarize` once at N=10,000, and one sim-1 batch at
    * the study's size: the JIT compiles the `LocalSim` kernels here
    * instead of racing the timed studies for the cores, and the first
    * timed sim-1 batch is no slower than the rest. (Reporting stays cold:
    * `gridAnova`'s generated code depends on the grid, and a real run
    * pays that compilation once too.) */
  def warm(spark: SparkSession): Unit = {
    val n = 10000
    MonteCarlo.summarize(MonteCarlo.runSim1(spark, nSim = 2, nPop = n, nA = 100,
      nB1 = 3000, nB2 = 2000), trueMean = 3.0).collect()
    MonteCarlo.runSim1(spark, nSim = sim1Batch, nPop = nPop, nA = 1000,
      nB1 = 30000, nB2 = 20000).count()
    MonteCarlo.runSim2(spark, nSim = 2, nPop = n, nATotal = 200, nBTotal = 3000).count()
    MonteCarlo.run(spark, MonteCarlo.nmarGrid(nSim = 2, gammas = Seq(0.0, 1.0),
      nPop = n, nA = 100, nB = 5000)).count()
    MonteCarlo.runV2(spark, nSim = 2, gammas = Seq(0.0), nPop = n, nA = 100, nB = 5000,
      sdVector = sds).count()
  }

  def pass(h: Harness, p: Int): Unit = {
    sim1(h)
    sim2(h)
    nmar(h)
    v2(h, new scala.util.Random(s.seed * 31 + p).nextLong())
  }

  /** Materialize a study's result rows (cached) as one timed operation. */
  private def study(h: Harness, layer: String, group: String = "study")(
      df: => DataFrame): Option[DataFrame] =
    h.op(layer, group) {
      val d = df.cache()
      evals += d.count()
      d
    }

  /** |bias| ≤ 3·SE/√reps for each consistent estimator of a summary. */
  private def gate(rows: Array[Row], ests: Seq[String]): Seq[String] =
    ests.flatMap { e =>
      rows.find(_.getAs[String]("estimator") == e) match {
        case None => Seq(s"$e missing from the summary")
        case Some(r) =>
          val (b, se, n) = (r.getAs[Double]("bias"), r.getAs[Double]("se"),
            r.getAs[Long]("n_sims"))
          val bound = 3 * se / math.sqrt(n.toDouble)
          if (math.abs(b) <= bound) Nil
          else Seq(f"$e bias $b%+.4f exceeds 3·SE/√n = $bound%.4f")
      }
    }

  /** Sim-1 as batches of one replicate per two cores, each its own timed
    * operation; replicate i keeps the seed it has in one
    * `runSim1(nSim = sim1Reps)` call, so the batches together are that
    * study. The batches are the homogeneous set behind `op_p50_s`; half
    * the cores per batch keeps a single slow task from setting a batch's
    * latency. */
  private def sim1(h: Harness): Unit = {
    val batches = (0 until sim1Reps).grouped(sim1Batch).toSeq.map { idx =>
      study(h, "mc.sim1", "sim1_batch")(MonteCarlo.runSim1(h.spark, nSim = idx.size,
        nPop = nPop, nA = 1000, nB1 = 30000, nB2 = 20000, seed0 = 10000L * idx.head))
    }
    if (batches.forall(_.nonEmpty)) {
      val d = batches.flatten.reduce(_ union _)
      val rows = h.op("mc.summarize")(MonteCarlo.summarize(d, trueMean = 3.0).collect())
      h.check(h.lastOp) {
        rows.toSeq.flatMap { rs =>
          val sb = rs.find(_.getAs[String]("estimator") == "Mean_S_B")
          // Monte-Carlo tolerance around the golden value: 3·SE/√n plus
          // the golden figure's own rounding
          val sbProblem = sb.map { r =>
            val (b, se, n) = (r.getAs[Double]("bias"), r.getAs[Double]("se"),
              r.getAs[Long]("n_sims"))
            val tol = 3 * se / math.sqrt(n.toDouble) + 0.0005
            if (math.abs(b - goldenMeanSB) <= tol) Nil
            else Seq(f"Mean_S_B bias $b%+.4f is not within $tol%.4f of $goldenMeanSB")
          }.getOrElse(Seq("Mean_S_B missing from the summary"))
          gate(rs, sim1Consistent) ++ sbProblem
        }
      }
    }
    batches.flatten.foreach(b => h.untimed(b.unpersist(blocking = true)))
  }

  private def sim2(h: Harness): Unit =
    study(h, "mc.sim2")(MonteCarlo.runSim2(h.spark, nSim = sim2Reps, nPop = nPop,
      nATotal = 2000, nBTotal = 30000)).foreach { d =>
      val rows = h.op("mc.summarize")(MonteCarlo.summarize(d, trueMean = 7.5).collect())
      h.check(h.lastOp)(rows.toSeq.flatMap(gate(_, sim2Consistent)))
      h.untimed(d.unpersist(blocking = true))
    }

  private def nmar(h: Harness): Unit = {
    val grid = MonteCarlo.nmarGrid(nSim = nmarReps, gammas = gammas, nPop = nPop,
      nA = 1000, nB = 50000)
    study(h, "mc.nmar")(MonteCarlo.run(h.spark, grid)).foreach { d =>
      h.op("mc.summarize")(MonteCarlo.summarize(d, trueMean = 3.0).collect())
      // SRS-A and A-calibrated estimators are design-consistent at every
      // gamma, so the gate pools the whole grid
      h.check(h.lastOp) {
        val pooled = d.filter(col("estimator").isin(nmarConsistent: _*))
          .groupBy("estimator")
          .agg(avg(col("estimate") - 3.0).as("bias"), stddev_samp("estimate").as("se"),
            count(lit(1)).as("n_sims"))
          .collect()
        gate(pooled, nmarConsistent)
      }
      h.untimed(d.unpersist(blocking = true))
    }
  }

  private def v2(h: Harness, seed0: Long): Unit =
    study(h, "mc.v2")(MonteCarlo.runV2(h.spark, nSim = v2Reps, gammas = v2Gammas,
      nPop = nPop, nA = 1000, nB = 50000, sdVector = sds, seed0 = seed0)).foreach { long =>
      val reshaped = h.op("mc.reporting.reshape") {
        val wide = Reporting.toWide(long, v2Ests, sds)
        val bl = Reporting.biasLong(Reporting.withBiasColumns(wide, 3.0)).cache()
        val n = bl.count()
        val table = Reporting.biasTable(Reporting.biasSummary(bl), "PC_xi_DR_y_i", sds)
          .collect()
        (bl, n, table)
      }
      reshaped.foreach { case (bl, n, table) =>
        h.check(h.lastOp) {
          val expected = v2Reps.toLong * v2Gammas.size * v2Ests.size * sds.size
          (if (n == expected) Nil else Seq(s"biasLong has $n rows, expected $expected")) ++
            (if (table.length == v2Gammas.size) Nil
             else Seq(s"bias table has ${table.length} rows, expected ${v2Gammas.size}"))
        }
        val anova = h.op("mc.reporting.grid_anova")(Reporting.gridAnova(bl))
        h.check(h.lastOp) {
          anova.toSeq.flatMap { rows =>
            val terms = rows.map(_.term)
            val missing = Seq("factor(Sd)", "factor(Gamma)", "Estimator",
              "factor(Sd):factor(Gamma)").filterNot(terms.contains)
            missing.map(t => s"ANOVA term $t missing") ++
              rows.filterNot(r => r.sumSq.isFinite && r.sumSq >= 0)
                .map(r => s"ANOVA term ${r.term} has sum of squares ${r.sumSq}")
          }
        }
        h.untimed(bl.unpersist(blocking = true))
      }
      h.untimed(long.unpersist(blocking = true))
    }

  def latencies(h: Harness): Seq[Double] =
    h.ops.filter(_.group == "sim1_batch").map(_.seconds).toSeq

  def report(h: Harness): Seq[(String, Double, String)] = {
    val runTotal = h.passSeconds.sum
    Seq(("mc_evals_per_s", evals / runTotal, "1/s"))
  }

  override def traced(h: Harness): Seq[(String, Double, String)] = {
    // the per-replicate kernel on one driver thread: LocalSim.runSim1 at
    // the study's size, median of five calls
    val ms = (1 to 5).map { i =>
      val t0 = System.nanoTime()
      h.tracer.span("mc.local_sim.replicate") {
        LocalSim.runSim1(i, 10000L * i, nPop, 1000, 30000, 20000)
      }
      (System.nanoTime() - t0) / 1e6
    }
    Seq(("mc.local_sim.replicate_ms", Stats.median(ms), "ms"))
  }
}
