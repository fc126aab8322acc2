package graft.mc

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables.{dmean, dsum, dvarSamp}

/** Monte-Carlo simulation harness (reference `ipynb` cell 23/37:
  * `parLapply(cl, 1:n_sim, run_simulation)` over a γ grid).
  *
  * Spark-first design (SURVEY.md §3.3): the SIMULATION GRID is the
  * parallelism axis. Each (sim, γ) config becomes one Dataset row; a
  * `flatMap` runs the entire population-synthesis + estimator battery
  * task-locally ([[LocalSim]] — a 100k-row population is ~8 MB of
  * primitive arrays, comfortably inside one task), emitting one row per
  * estimator. 1000 replicates × 11 γ = 11,000 independent simulations —
  * embarrassing parallelism that scales to any cluster width with no
  * shuffle before or during the simulations (the grid is parallelized
  * straight into its slices); only the tiny result rows move, into
  * [[MonteCarlo.summarize]]'s one group-by. For populations too large for
  * one task (N ≳ 10M) the same estimators run distributed per-sim via
  * graft.estimators on a DataFrame population instead.
  */
final case class SimConfig(sim: Int, gamma: Double, seedBase: Long,
                           nPop: Int, nA: Int, nB: Int)

final case class SimResult(sim: Int, gamma: Double, estimator: String,
                           estimate: Double)

final case class SimResultV2(sim: Int, gamma: Double, estimator: String,
                             sd: Double, estimate: Double)

object MonteCarlo {

  /** NMAR grid: replicates × gamma values (ipynb:1791-1794).
    * Seed spacing 1e8 per replicate: LocalSim's phase streams sit at
    * seedBase+1000/+2000, so a per-replicate spacing of 1 made sim s's
    * A-draw RNG bit-identical to sim s+1000's population RNG once
    * nSim > 1000 — the documented harness scale (r15 review). 1e8 per
    * sim / 1e4 per gamma keeps every phase stream of every cell
    * disjoint for nSim ≤ 10⁶ and |gammas| ≤ 10⁴. */
  def nmarGrid(nSim: Int, gammas: Seq[Double], nPop: Int, nA: Int,
               nB: Int, seed0: Long = 1234L): Seq[SimConfig] =
    for {
      (g, gi) <- gammas.zipWithIndex
      s <- 1 to nSim
    } yield SimConfig(s, g, seed0 + 10000L * gi + 100000000L * s, nPop,
      nA, nB)

  /** Simulation-1 study (`ipynb` cell 4): nSim replicates of the
    * 13-estimator scenario-I/II battery. */
  def runSim1(spark: SparkSession, nSim: Int, nPop: Int, nA: Int,
              nB1: Int, nB2: Int, seed0: Long = 0L): DataFrame = {
    import spark.implicits._
    // 1e4 per-replicate spacing: runSim1's phase streams live at
    // seedBase+500/+900, so spacing 1 made sim s's sample-draw RNG
    // identical to sim s+500's population RNG at the 1000-replicate
    // golden scale
    fanOut(spark, 1 to nSim)(s =>
      LocalSim.runSim1(s, seed0 + 10000L * s, nPop, nA, nB1, nB2))
  }

  /** Stratified-sampling study (`ipynb` cell 12): nSim replicates. */
  def runSim2(spark: SparkSession, nSim: Int, nPop: Int, nATotal: Int,
              nBTotal: Int, seed0: Long = 0L): DataFrame = {
    import spark.implicits._
    // same 1e4 spacing as runSim1 (phase streams at +500/+900)
    fanOut(spark, 1 to nSim)(s =>
      LocalSim.runSim2(s, seed0 + 10000L * s, nPop, nATotal, nBTotal))
  }

  /** Portable-twin grid (o04): replicates × gamma values, each carrying
    * its gamma INDEX so the per-cell seed base is integer-derivable in
    * both engines (the nmarGrid seed scheme, without the Long seed the
    * SQL side cannot thread through generate_series cleanly). */
  def portableGrid(nSim: Int, gammas: Seq[Double],
                   nPop: Int): Seq[PortableConfig] =
    for {
      (g, gi) <- gammas.zipWithIndex
      s <- 1 to nSim
    } yield PortableConfig(s, gi, g, nPop)

  /** Fan the portable grid out — the SAME fan-out as [[run]], but over
    * [[PortableSim.simulate]]'s engine-exact arithmetic, so the
    * assembled rows are DuckDB-replayable and o04 hash-grades this very
    * code path. */
  def runPortable(spark: SparkSession, grid: Seq[PortableConfig]): DataFrame = {
    import spark.implicits._
    fanOut(spark, grid)(PortableSim.simulate)
  }

  /** Fan the grid out; one task-local simulation per config. */
  def run(spark: SparkSession, grid: Seq[SimConfig]): DataFrame = {
    import spark.implicits._
    fanOut(spark, grid)(LocalSim.run)
  }

  /** NMAR-v2 study (`ipynb` cell 37): per (sim, γ) population with a
    * response column per sd in `sdVector`; 5 estimators × |sdVector|
    * evaluations per replicate, emitted LONG, over [[nmarGrid]]'s cells
    * and seeds. [[Reporting.toWide]] pivots to the reference's wide CSV
    * layout. */
  def runV2(spark: SparkSession, nSim: Int, gammas: Seq[Double],
            nPop: Int, nA: Int, nB: Int, sdVector: Seq[Double],
            seed0: Long = 1234L): DataFrame = {
    import spark.implicits._
    fanOut(spark, nmarGrid(nSim, gammas, nPop, nA, nB, seed0))(c =>
      LocalSim.runSimV2(c.sim, c.gamma, c.seedBase, c.nPop, c.nA, c.nB, sdVector))
  }

  /** The one task-local fan-out: the grid is parallelized into at most
    * two slices per core (one slice for an empty grid, which gives an
    * empty frame), with no shuffle, and each task runs `simulate` on its
    * slice's configs; only the result rows leave the task. */
  private def fanOut[C: Encoder: ClassTag, R: Encoder](spark: SparkSession, grid: Seq[C])
                                                      (simulate: C => Seq[R]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(grid,
        math.max(1, math.min(grid.size, spark.sparkContext.defaultParallelism * 2))))
      .flatMap(simulate)
      .toDF()

  /** DISTRIBUTED mode (SCALE.md §Monte-Carlo): for per-replicate
    * populations too large for one task (N ≳ 10M), a driver loop of
    * independent Spark jobs per replicate, running the production
    * DataFrame estimators (graft.estimators) instead of [[LocalSim]].
    * Same result schema as [[run]]; replicates execute sequentially but
    * each one uses the whole cluster. */
  def runDistributed(spark: SparkSession, nSim: Int, nPop: Long, nA: Int,
                     seed0: Long = 1234L): DataFrame = {
    import spark.implicits._
    (1 to nSim).flatMap { sim =>
      // same per-replicate spacing discipline as the task-local modes
      // (phase channels live at seed+2000 — r15)
      val seed = seed0 + 10000L * sim
      val pop = graft.synth.Population.cell2(spark, nPop, seed)
        .withColumn("in_A",
          (pmod(hash(col("id") + lit(seed)), lit(nPop / nA)) === 0).cast("int"))
        // id-keyed uniform (not rand): replicate draws are reproducible
        // under any partitioning, like the rest of synthesis/sampling.
        // NOTE this inlines the xxhash64>>11/2^53 recipe rather than
        // calling Samplers.rowUniform (whose struct() wrapper hashes
        // differently) — if the shared uniform convention is ever
        // hardened (the 37f7fde class), update BOTH sites (r15 review)
        .withColumn("in_B",
          (shiftrightunsigned(xxhash64(col("id"), lit(seed + 2000)), 11)
            .cast("double") / lit(9007199254740992.0) <
            lit(0.7) - lit(0.4) * (col("y_i") > 3.0).cast("double")).cast("int"))
        .cache()
      try {
        val naive = pop.filter(col("in_B") === 1)
          .agg(avg("y_i")).head().getDouble(0)
        val regdi = graft.estimators.RegDI.oneTable(pop, "in_A", "in_B",
          graft.estimators.RegDIConfig(yACol = "y_i", yBCol = "y_i",
            auxVars = Seq("x_i"), correction = 1)).mean
        Seq(SimResult(sim, 0.0, "Mean_S_B", naive),
          SimResult(sim, 0.0, "RegDI_X1", regdi))
      } finally pop.unpersist()
    }.toDF()
  }

  /** Grouped bias/SE/RMSE vs the known true mean (ipynb:2066-2073,
    * :2750-2757): the reference's reporting stage. The result has one row
    * per (gamma, estimator), so it is sorted in one partition: a global
    * `orderBy` would run a job to sample range bounds for these few rows. */
  def summarize(results: DataFrame, trueMean: Double): DataFrame = {
    val bias = col("estimate") - lit(trueMean)
    results.groupBy("gamma", "estimator")
      .agg(
        dmean(bias).as("bias"),
        sqrt(dvarSamp(col("estimate"))).as("se"),
        sqrt(dsum(bias * bias) / count(lit(1))).as("rmse"),
        count(lit(1)).as("n_sims"))
      .coalesce(1).sortWithinPartitions("gamma", "estimator")
  }
}
