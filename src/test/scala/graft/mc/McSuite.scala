package graft.mc

import graft.SparkSpec

/** Monte-Carlo harness checks against BASELINE.md's NMAR robustness
  * qualitative structure (true mean 3.0; naive B bias grows with γ,
  * RegDI stays ≈0) at reduced scale for test runtime. Tolerances are
  * Monte-Carlo bands (seeded → deterministic, no flakes). */
class McSuite extends SparkSpec {
  import spark.implicits._

  private lazy val results = MonteCarlo.run(spark,
    MonteCarlo.nmarGrid(nSim = 10, gammas = Seq(0.0, 1.0),
      nPop = 20000, nA = 1000, nB = 5000)).cache()

  private def meanEst(gamma: Double, est: String): Double = {
    val xs = results.filter(r => r.getAs[Double]("gamma") == gamma &&
        r.getAs[String]("estimator") == est)
      .select("estimate").as[Double].collect()
    xs.sum / xs.length
  }

  test("γ=0 (MCAR): every estimator unbiased for the true mean 3.0") {
    for (e <- Seq("Mean_S_A", "Mean_S_B", "RegDI_X1", "PC_X1_X2"))
      assert(math.abs(meanEst(0.0, e) - 3.0) < 0.05, s"$e biased at γ=0")
  }

  test("γ=1 (NMAR): naive B mean biased up; RegDI corrects it") {
    val naiveBias = meanEst(1.0, "Mean_S_B") - 3.0
    val regdiBias = meanEst(1.0, "RegDI_X1") - 3.0
    assert(naiveBias > 0.1, s"expected strong NMAR bias, got $naiveBias")
    assert(math.abs(regdiBias) < 0.06, s"RegDI bias $regdiBias")
    assert(math.abs(regdiBias) < naiveBias / 2)
  }

  test("A-sample SRS mean is unbiased regardless of γ") {
    assert(math.abs(meanEst(1.0, "Mean_S_A") - 3.0) < 0.05)
  }

  test("summarize reports bias/se/rmse per (γ, estimator)") {
    val s = MonteCarlo.summarize(results.toDF(), trueMean = 3.0).collect()
    assert(s.length === 8) // 2 γ × 4 estimators
    val row = s.find(r => r.getAs[Double]("gamma") == 1.0 &&
      r.getAs[String]("estimator") == "Mean_S_B").get
    assert(row.getAs[Double]("bias") > 0.1)
    assert(row.getAs[Double]("rmse") >= math.abs(row.getAs[Double]("bias")))
    assert(row.getAs[Long]("n_sims") === 10L)
  }

  test("one replicate: summarize and biasSummary give a NULL spread, as " +
    "R's var gives NA, instead of dividing by n - 1 = 0") {
    val one = MonteCarlo.summarize(MonteCarlo.run(spark,
      MonteCarlo.nmarGrid(nSim = 1, gammas = Seq(0.0), nPop = 2000, nA = 100,
        nB = 500)), trueMean = 3.0).collect()
    assert(one.nonEmpty)
    assert(one.forall(r => r.isNullAt(r.fieldIndex("se"))))
    assert(one.forall(r => r.getAs[Long]("n_sims") == 1L))
    assert(one.forall(r => r.getAs[Double]("bias").isFinite))

    val sds = Seq(0.0, 0.25)
    val ests = Seq("PC_xi_DR", "PC_ei_DR", "RegDI_no_aux", "RegDI_xi", "RegDI_ei")
    val long = MonteCarlo.runV2(spark, nSim = 1, gammas = Seq(0.0), nPop = 2000,
      nA = 100, nB = 500, sdVector = sds)
    val summary = Reporting.biasSummary(Reporting.biasLong(
      Reporting.withBiasColumns(Reporting.toWide(long, ests, sds), 3.0))).collect()
    assert(summary.length === ests.size * sds.size)
    assert(summary.forall(r => r.isNullAt(r.fieldIndex("Bias_SD"))))
    assert(summary.forall(r => r.getAs[Double]("Bias_Mean").isFinite))
  }

  test("simulations are deterministic given seeds") {
    val grid = MonteCarlo.nmarGrid(2, Seq(0.5), 2000, 100, 400)
    val a = MonteCarlo.run(spark, grid).as[SimResult].collect().sortBy(r => (r.sim, r.estimator)).toSeq
    val b = MonteCarlo.run(spark, grid).as[SimResult].collect().sortBy(r => (r.sim, r.estimator)).toSeq
    assert(a === b)
  }

  test("every study fans out with no shuffle, over min(|grid|, 2 × " +
      "defaultParallelism) partitions") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val slots = 2 * spark.sparkContext.defaultParallelism
    // plans only: no study below runs a replicate
    val studies = Seq(
      ("runSim1", 3, MonteCarlo.runSim1(spark, nSim = 3, nPop = 2000, nA = 100,
        nB1 = 600, nB2 = 400)),
      ("runSim2", slots + 1, MonteCarlo.runSim2(spark, nSim = slots + 1,
        nPop = 2000, nATotal = 200, nBTotal = 600)),
      ("run", 2 * slots, MonteCarlo.run(spark, MonteCarlo.nmarGrid(nSim = slots,
        gammas = Seq(0.0, 1.0), nPop = 2000, nA = 100, nB = 500))),
      ("runV2", 2, MonteCarlo.runV2(spark, nSim = 1, gammas = Seq(0.0, 1.0),
        nPop = 2000, nA = 100, nB = 500, sdVector = Seq(0.0))),
      ("runPortable", 6, MonteCarlo.runPortable(spark, MonteCarlo.portableGrid(
        nSim = 3, gammas = Seq(0.0, 1.0), nPop = 2000))))
    val plans = new AdaptiveSparkPlanHelper {}
    for ((name, cells, df) <- studies) {
      val plan = df.queryExecution.executedPlan
      assert(plans.collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
        s"$name shuffles before its replicates run:\n$plan")
      assert(df.queryExecution.toRdd.getNumPartitions === math.min(cells, slots),
        name)
    }
  }

  test("an empty grid (nSim = 0) gives empty results and an empty summary") {
    val none = MonteCarlo.runSim1(spark, nSim = 0, nPop = 2000, nA = 100,
      nB1 = 600, nB2 = 400)
    assert(none.collect().isEmpty)
    assert(MonteCarlo.summarize(none, trueMean = 3.0).collect().isEmpty)
    assert(MonteCarlo.run(spark, Seq.empty).collect().isEmpty)
    assert(MonteCarlo.runPortable(spark, Seq.empty).collect().isEmpty)
  }

  // multi-partition inputs for the summaries: every (gamma, estimator)
  // and (Gamma, Sd, Estimator) cell holds rows from several partitions
  private lazy val simRows = spark.createDataset(spark.sparkContext.parallelize(
    for (g <- Seq(1.0, 0.0, 0.5); e <- Seq("b", "d", "a", "c"); s <- 1 to 5)
      yield SimResult(s, g, e, 3.0 + g * s / 7.0 + e.head / 97.0), 3)).toDF()
  private lazy val biasRows = spark.createDataset(spark.sparkContext.parallelize(
    for (g <- (10 to 0 by -1).map(_ / 10.0); sd <- Seq(0.25, 0.0);
         e <- Seq("y", "x"); s <- 1 to 4)
      yield (s, g, e, sd, (g - sd) * s / 11.0 + e.head / 113.0), 3))
    .toDF("Simulacion", "Gamma", "Estimator", "Sd", "Bias")

  test("summarize and the bias summary/table run one Spark job each " +
      "(no range-bound sampling job)") {
    // counted with AQE off, as in RoundsSuite: AQE's job count per
    // query stage is not stable
    val (summarizeJobs, tableJobs) = withoutAqe((
      countJobs(MonteCarlo.summarize(simRows, trueMean = 3.0).collect()),
      countJobs(Reporting.biasTable(Reporting.biasSummary(biasRows), "x",
        Seq(0.0, 0.25)).collect())))
    assert((summarizeJobs, tableJobs) === ((1, 1)),
      "(summarize, biasTable(biasSummary(...)))")
  }

  test("summarize, biasSummary and biasTable return the rows, in the order, " +
      "of an explicit orderBy on a multi-partition input") {
    for (aqe <- Seq(false, true)) {
      // AQE coalesces these tiny aggregates into one partition; with it
      // off each keeps spark.sql.shuffle.partitions partitions
      def rows(df: => org.apache.spark.sql.DataFrame) =
        if (aqe) df.collect().toSeq else withoutAqe(df.collect().toSeq)
      val summ = MonteCarlo.summarize(simRows, trueMean = 3.0)
      assert(rows(summ) === rows(summ.orderBy("gamma", "estimator")), s"aqe=$aqe")
      assert(rows(summ).size === 12)
      val bs = Reporting.biasSummary(biasRows)
      assert(rows(bs) === rows(bs.orderBy("Estimator", "Gamma", "Sd")), s"aqe=$aqe")
      assert(rows(bs).size === 44)
      // biasSummary's result is one partition; biasTable takes any frame
      val table = Reporting.biasTable(bs.repartition(3), "y", Seq(0.0, 0.25))
      assert(rows(table) === rows(table.orderBy("Gamma")), s"aqe=$aqe")
      assert(rows(table).map(_.getDouble(0)) === (0 to 10).map(_ / 10.0))
    }
  }

  test("o02/o03 self-validating columns are all true (the rows-only invariant)") {
    import org.apache.spark.sql.functions.{col, lit, min}
    val o02 = graft.queries.MiscQueries.qs.find(_.name == "o02_mc_fanout").get
      .run(spark, "/root/testdata/sf0.001")
    val f02 = o02.agg(
      min(col("battery_complete").cast("int")),
      min(col("estimate_finite").cast("int")),
      min(col("deterministic").cast("int"))).head()
    assert(f02.getInt(0) === 1, "battery_complete")
    assert(f02.getInt(1) === 1, "estimate_finite")
    assert(f02.getInt(2) === 1, "deterministic")
    assert(o02.count() === 2 * 3 * 4) // 2 γ × 3 sims × 4 estimators

    val o03 = graft.queries.MiscQueries.qs.find(_.name == "o03_mc_summary").get
      .run(spark, "/root/testdata/sf0.001")
    val f03 = o03.agg(
      min(col("identity_ok").cast("int")),
      min(col("n_sims_ok").cast("int"))).head()
    assert(f03.getInt(0) === 1, "rmse²=bias²+var·(n−1)/n identity")
    assert(f03.getInt(1) === 1, "n_sims")
    assert(o03.count() === 3 * 4) // 3 γ × 4 estimators
  }

  test("o04 twin: the distributed fan-out reproduces the driver-side " +
      "replay bit-for-bit (o02's fan-out machinery, hash-anchored)") {
    val grid = MonteCarlo.portableGrid(nSim = 3, gammas = Seq(0.0, 1.0),
      nPop = 2000)
    val fanned = MonteCarlo.runPortable(spark, grid).as[SimResult]
      .collect().sortBy(r => (r.gamma, r.estimator, r.sim)).toSeq
    val local = grid.flatMap(PortableSim.simulate)
      .sortBy(r => (r.gamma, r.estimator, r.sim))
    assert(fanned === local,
      "flatMap fan-out diverged from the sequential replay")
  }

  test("o02/o03 agreement with the o04 twin: same fan-out result " +
      "schema, same battery size per cell, same summarize identities " +
      "(r14-verdict task 4 pins)") {
    import org.apache.spark.sql.functions.{abs => sabs, col, lit, max => smax}
    val grid = MonteCarlo.portableGrid(nSim = 3, gammas = Seq(0.0, 1.0),
      nPop = 2000)
    val twin = MonteCarlo.runPortable(spark, grid).cache()
    try {
      // schema agreement: the twin's assembled rows are the production
      // fan-out's SimResult schema, column for column
      assert(twin.schema === results.toDF().schema,
        "o04 twin schema diverged from MonteCarlo.run's")
      // battery agreement: 4 estimators per (gamma, sim) cell, like o02
      val cells = twin.groupBy("gamma", "sim").count().collect()
      assert(cells.length === 6 && cells.forall(_.getAs[Long]("count") == 4L))
      // o03's identity invariant holds on the twin's summary — and is
      // now ALSO hash-anchored externally via o04's DuckDB oracle
      val summ = MonteCarlo.summarize(twin, trueMean = 3.0)
      val gap = summ.agg(smax(sabs(col("rmse") * col("rmse") -
        (col("bias") * col("bias") +
          col("se") * col("se") * (col("n_sims") - 1) / col("n_sims")))))
        .head().getDouble(0)
      assert(gap <= 1e-9, s"summarize identity gap $gap on the twin")
      // and the twin's battery behaves like a battery, not arithmetic
      // soup: at γ=1 the naive B mean is biased up, the regression and
      // DR estimators correct most of it, the A-sample mean stays clean
      val m = summ.collect().map(r => (r.getAs[Double]("gamma"),
        r.getAs[String]("estimator")) -> r.getAs[Double]("bias")).toMap
      assert(m((1.0, "Mean_S_B")) > 0.02, "no NMAR tilt at gamma=1")
      assert(math.abs(m((1.0, "Reg_X1"))) < m((1.0, "Mean_S_B")),
        "regression adjustment did not reduce the NMAR bias")
      assert(math.abs(m((1.0, "Mean_S_A"))) < 0.05)
    } finally twin.unpersist()
  }

  test("RegDI linearization SE matches the Monte-Carlo spread (variance validation)") {
    // Empirical truth: spread of the point estimate over 100 replicates
    val cfgOf = (i: Int) => SimConfig(i, 0.5, 5000L + i, 20000, 800, 5000)
    val points = (1 to 100).map { i =>
      val r = LocalSim.run(cfgOf(i))
      r.find(_.estimator == "RegDI_X1").get.estimate
    }
    val mcMean = points.sum / points.size
    val mcSd = math.sqrt(points.map(p => (p - mcMean) * (p - mcMean)).sum /
      (points.size - 1))

    // Estimated SE: the distributed estimator's linearization variance on
    // ONE of those exact realizations
    val d = LocalSim.nmarDraw(cfgOf(1))
    val df = (0 until 20000).map(i =>
        (i.toLong, d.x(i), d.y(i), if (d.x(i) <= 2.0) 1.0 else 0.0,
          if (d.inA(i)) 1 else 0, if (d.inB(i)) 1 else 0))
      .toDF("id", "x_i", "y_i", "x1_i", "in_A", "in_B")
    val est = graft.estimators.RegDI.oneTable(df, "in_A", "in_B",
      graft.estimators.RegDIConfig(yACol = "y_i", yBCol = "y_i",
        auxVars = Seq("x1_i"), correction = 1))
    assert(est.se > 0.5 * mcSd && est.se < 2.0 * mcSd,
      s"linearization SE ${est.se} vs MC sd $mcSd")
  }

  test("distributed mode: production estimators per replicate, same story") {
    val res = MonteCarlo.runDistributed(spark, nSim = 2, nPop = 20000L,
      nA = 800)
    val byEst = res.groupBy("estimator")
      .agg(org.apache.spark.sql.functions.avg("estimate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byEst("Mean_S_B") < 2.95)                 // biased selection
    assert(math.abs(byEst("RegDI_X1") - 3.0) < 0.1)  // corrected
  }

  test("local solver matches a hand-computed 2x2 system") {
    val x = graft.stats.Det.solve(IndexedSeq(IndexedSeq(2.0, 1.0),
      IndexedSeq(1.0, 3.0)), IndexedSeq(5.0, 10.0))
    assert(math.abs(x(0) - 1.0) < 1e-12)
    assert(math.abs(x(1) - 3.0) < 1e-12)
  }

  test("a LocalSim design with an aux column zero on every B row raises " +
    "Det's singular-system error instead of returning NaN") {
    val n = 200
    val y = Array.tabulate(n)(i => 3.0 + (i % 7) * 0.1)
    val inA = Array.tabulate(n)(i => i % 3 == 0)
    val inB = Array.tabulate(n)(i => i % 2 == 0)
    val zeroOnB = Array.tabulate(n)(i => if (inB(i)) 0.0 else 1.0 + i)
    val aux = Array(zeroOnB)
    val dB = n.toDouble / inB.count(identity)
    val cal = intercept[IllegalArgumentException](
      LocalSim.calB(aux, inB, dB, LocalSim.colSums(aux)))
    assert(cal.getMessage.contains("singular system"), cal.getMessage)
    val reg = intercept[IllegalArgumentException](
      LocalSim.regdi(y, y, aux, inA, inB, Array.fill(n)(4.0), n))
    assert(reg.getMessage.contains("singular system"), reg.getMessage)
    // one A∩B row (row 0): the scenario-2 fit y ~ 1 + proxy has no slope
    val oneOverlap = Array.tabulate(n)(i => i == 0 || i % 2 == 1)
    val model = intercept[IllegalArgumentException](
      LocalSim.pcModel(y, y, Array.empty, oneOverlap, inB, Array.fill(n)(2.0),
        dB, Array.empty, n))
    assert(model.getMessage.contains("singular system"), model.getMessage)
  }
}
