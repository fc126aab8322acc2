package graft.stats

import graft.SparkSpec
import graft.mc.Reporting

/** Balanced 2×2 fixture where Type-I sums of squares have closed forms
  * (balanced ⇒ sequential SS equal the textbook factor SS):
  * cells (a1,b1)=(1,2) (a1,b2)=(3,4) (a2,b1)=(5,6) (a2,b2)=(9,10)
  * ⇒ SS_A=50, SS_B=18, SS_AB=2, SS_resid=2 (df 1,1,1,4). */
class AnovaSuite extends SparkSpec {
  import spark.implicits._

  private lazy val fixture = Seq(
    (1.0, "a1", "b1"), (2.0, "a1", "b1"), (3.0, "a1", "b2"), (4.0, "a1", "b2"),
    (5.0, "a2", "b1"), (6.0, "a2", "b1"), (9.0, "a2", "b2"), (10.0, "a2", "b2")
  ).toDF("y", "fa", "fb")

  test("NULL factor values fail loudly, not silently skewed") {
    val withNull = fixture.union(
      Seq((7.0, null.asInstanceOf[String], "b1")).toDF("y", "fa", "fb"))
    val e = intercept[IllegalArgumentException] {
      Anova.twoFactor(withNull, "y", "fa", "fb")
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("high-cardinality factor fails fast with the level-cap error") {
    // 200 distinct "levels" (> 2× the cap — the DISTRIBUTIVE HLL guard
    // fires before any collect_set materializes): a mis-specified id
    // column must be named at the factorLevels choke point, not
    // explode the dummy design into a 200-wide Gram before failing
    // somewhere inside the solve. The estimate is approximate (~200),
    // so assert the named pieces, not the exact count.
    val idAsFactor = spark.range(200)
      .selectExpr("cast(id as double) as y",
        "cast(id as string) as fa",
        "cast(id % 2 as string) as fb")
    val e = intercept[IllegalArgumentException] {
      Anova.twoFactor(idAsFactor, "y", "fa", "fb")
    }
    assert(e.getMessage.contains("distinct levels"))
    assert(e.getMessage.contains(s"max ${Anova.maxFactorLevels}"))
    // the in-between band (cap, 2·cap] falls through to the EXACT
    // post-collect check — still a named failure, bounded set
    val midBand = spark.range(100)
      .selectExpr("cast(id as double) as y",
        "cast(id as string) as fa",
        "cast(id % 2 as string) as fb")
    val e2 = intercept[IllegalArgumentException] {
      Anova.twoFactor(midBand, "y", "fa", "fb")
    }
    assert(e2.getMessage.contains("100 distinct levels"))
  }

  test("two-factor Type-I SS matches the balanced closed form") {
    val rows = Anova.twoFactor(fixture, "y", "fa", "fb")
      .map(r => r.term -> r).toMap
    assert(math.abs(rows("fa").sumSq - 50.0) < 1e-9)
    assert(math.abs(rows("fb").sumSq - 18.0) < 1e-9)
    assert(math.abs(rows("fa:fb").sumSq - 2.0) < 1e-9)
    assert(math.abs(rows("Residuals").sumSq - 2.0) < 1e-9)
    assert(rows("fa").df === 1L)
    assert(rows("Residuals").df === 4L)
  }

  test("F statistics and p-values") {
    val rows = Anova.twoFactor(fixture, "y", "fa", "fb")
      .map(r => r.term -> r).toMap
    assert(math.abs(rows("fa").fValue - 100.0) < 1e-9)
    assert(math.abs(rows("fb").fValue - 36.0) < 1e-9)
    assert(math.abs(rows("fa:fb").fValue - 4.0) < 1e-9)
    // p for F(1,4)=100 ≈ 0.00056; F(1,4)=4 ≈ 0.116
    assert(rows("fa").pValue < 0.001)
    assert(rows("fa:fb").pValue > 0.05)
    assert(rows("Residuals").fValue.isNaN)
  }

  test("unbalanced data: sequential SS still sum to total SS") {
    val unb = fixture.union(Seq((7.0, "a2", "b1")).toDF("y", "fa", "fb"))
    val rows = Anova.twoFactor(unb, "y", "fa", "fb")
    val totalFromParts = rows.map(_.sumSq).sum
    val g = Gram.moments(unb, Seq(org.apache.spark.sql.functions.lit(1.0)),
      org.apache.spark.sql.functions.lit(1.0),
      Some(org.apache.spark.sql.functions.col("y")))
    val sst = g.swyy - g.swy * g.swy / g.sw
    assert(math.abs(totalFromParts - sst) < 1e-9)
  }

  /** Unbalanced three factors — `fa` strings, `fb` doubles (compared as
    * strings, like Sd/Gamma), `fc` strings — with y on a 0.01 grid so
    * the exact-decimal reference Gram carries no rounding. Every (fa, fb)
    * cell is filled; the extra rows land unevenly. */
  private lazy val unbalanced3 = {
    val rng = new scala.util.Random(7)
    val base = for (a <- Seq("a1", "a2", "a3"); b <- Seq(0.5, 1.5)) yield (a, b)
    val extra = Seq.fill(40)((Seq("a1", "a2", "a3")(rng.nextInt(3)),
      Seq(0.5, 1.5)(rng.nextInt(2))))
    (base ++ base ++ extra).map { case (a, b) =>
      val c = Seq("c1", "c2", "c3")(rng.nextInt(3))
      val y = math.round(100 * (b * a.last.asDigit + (if (c == "c2") 1.0 else 0.0) +
        rng.nextGaussian())) / 100.0
      (y, a, b, c)
    }.toDF("y", "fa", "fb", "fc")
  }

  test("cell-moment sequential SS equal an explicit dummy-column Gram " +
    "(unbalanced, three factors, A:B interaction)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val df = unbalanced3
    def dummies(c: String): Seq[Column] = {
      val lv = df.select(col(c).cast("string")).distinct().as[String].collect().sorted
      lv.toSeq.drop(1).map(l => (col(c).cast("string") === l).cast("double"))
    }
    val (aD, bD, cD) = (dummies("fa"), dummies("fb"), dummies("fc"))
    val blocks = Seq("fa" -> aD, "fb" -> bD, "fc" -> cD,
      "fa:fb" -> (for (a <- aD; b <- bD) yield a * b))
    val g = Gram.moments(df, lit(1.0) +: blocks.flatMap(_._2), lit(1.0),
      Some(col("y")))
    def rss(p: Int): Double = {
      val sub = breeze.linalg.DenseMatrix.tabulate(p, p)(g.xtwx(_)(_))
      val rhs = breeze.linalg.DenseVector(g.xtwy.take(p).toArray)
      g.swyy - ((sub \ rhs) dot rhs)
    }
    val refRss = blocks.scanLeft(1)(_ + _._2.size).map(rss)
    val ref = blocks.indices.map(t =>
      (blocks(t)._1, blocks(t)._2.size.toLong, refRss(t) - refRss(t + 1))) :+
      (("Residuals", g.n - (1 + blocks.map(_._2.size).sum), refRss.last))

    val rows = Anova.sequential(df, "y", Seq("fa" -> Seq("fa"),
      "fb" -> Seq("fb"), "fc" -> Seq("fc"), "fa:fb" -> Seq("fa", "fb")))
    assert(rows.map(r => (r.term, r.df)) === ref.map(r => (r._1, r._2)))
    rows.zip(ref).foreach { case (r, (term, _, ss)) =>
      assert(math.abs(r.sumSq - ss) < 1e-9, s"$term: ${r.sumSq} vs $ss")
    }
    assert(ref.map(_._3).forall(_ > 1e-3)) // no term is trivially zero
  }

  /** A small biasLong-shaped grid: 3 Sd × 3 Gamma × 2 estimators × 2 reps. */
  private lazy val smallGrid = {
    val rng = new scala.util.Random(11)
    (for {
      g <- Seq(0.0, 0.5, 1.0); sd <- Seq(0.0, 0.25, 0.5)
      e <- Seq("PC_xi_DR_y_i", "RegDI_xi_y_i"); s <- 1 to 2
    } yield (s, g, e, sd, 0.1 * g + (if (e.startsWith("PC")) 0.05 else 0.0) +
      0.01 * rng.nextGaussian())).toDF("Simulacion", "Gamma", "Estimator", "Sd", "Bias")
  }

  test("gridAnova names NULL factors and NULL Bias values") {
    import org.apache.spark.sql.functions._
    val nullGamma = smallGrid.withColumn("Gamma",
      when(col("Simulacion") === 1 && col("Sd") === 0.25 && col("Gamma") === 0.5,
        lit(null)).otherwise(col("Gamma")))
    val e1 = intercept[IllegalArgumentException](Reporting.gridAnova(nullGamma))
    assert(e1.getMessage.contains(
      "factor column Gamma has 2 NULL values; drop or impute them before ANOVA"),
      e1.getMessage)
    val nullBias = smallGrid.withColumn("Bias",
      when(col("Simulacion") === 2 && col("Sd") === 0.5, lit(null))
        .otherwise(col("Bias")))
    val e2 = intercept[Exception](Reporting.gridAnova(nullBias))
    assert(e2.getMessage.contains("ANOVA: NULL in response column 'Bias'"),
      e2.getMessage)
  }

  test("gridAnova with an empty Sd×Gamma cell names the singular design") {
    import org.apache.spark.sql.functions._
    // a hole at a first (dropped) level zeroes no design column, so the
    // factorization need not hit an exact zero pivot; both kinds must be
    // named
    for ((sd, g) <- Seq((0.25, 0.5), (0.0, 0.5), (0.0, 0.0))) {
      val holed = smallGrid.filter(!(col("Sd") === sd && col("Gamma") === g))
      val e = intercept[IllegalArgumentException](Reporting.gridAnova(holed))
      assert(e.getMessage.contains("ANOVA design is singular — an empty " +
        "(Sd, Gamma) cell"), e.getMessage)
    }
  }

  /** Golden reproduction of the reference's stored cell-42 ANOVA
    * (`ipynb:2809-2830`): `aov(Bias ~ factor(Sd) * factor(Gamma) +
    * Estimator)` over the full NMAR-v2 grid (100 reps × 11 γ × 5 sd ×
    * 5 estimators = 27,500 evaluations at N=100k). Stored reference:
    * F_Sd 0.624 (ns), F_Gamma 877.421, F_Estimator 10776.257,
    * F_Sd:Gamma 0.065 (ns), residual df 27441. Our seeds are fixed, so
    * the run is deterministic; bands are ±10% of the stored F/SS values
    * (BASELINE_REPRO.md records our exact values inside every band).
    * The replicate fan-out uses a parallel collection — runSimV2 is a
    * pure function, and the shared test session is only local[4]; the
    * Spark half under test is the reporting pipeline + the per-cell
    * moment ANOVA. Its cell sums are plain double sums, so partitioning
    * can move the last bits; the bands are far wider than that.
    */
  test("NMAR-v2 grid ANOVA reproduces the stored cell-42 table") {
    import scala.collection.parallel.CollectionConverters._
    import graft.mc.LocalSim
    val sds = Seq(0.0, 0.125, 0.25, 0.375, 0.5)
    // runV2's γ spacing (1e4), but replicates spaced by 1 where runV2
    // spaces them by 1e8: the stored bands were recorded with these seeds
    val grid = for {
      (g, gi) <- (0 to 10).map(_ / 10.0).zipWithIndex
      s <- 1 to 100
    } yield (s, g, 1234L + 10000L * gi + s)
    val sims = grid.par.flatMap { case (s, g, seed) =>
      LocalSim.runSimV2(s, g, seed, n = 100000, nA = 1000, nB = 50000, sds)
    }.seq
    val long = spark.createDataFrame(sims)
    val ests = Seq("PC_xi_DR", "PC_ei_DR", "RegDI_no_aux", "RegDI_xi", "RegDI_ei")
    val wide = Reporting.toWide(long, ests, sds)
    val bl = Reporting.biasLong(Reporting.withBiasColumns(wide, 3.0))
    val rows = Reporting.gridAnova(bl).map(r => r.term -> r).toMap

    assert(rows("factor(Sd)").df === 4L)
    assert(rows("factor(Gamma)").df === 10L)
    assert(rows("Estimator").df === 4L)
    assert(rows("factor(Sd):factor(Gamma)").df === 40L)
    assert(rows("Residuals").df === 27441L)

    assert(rows("factor(Gamma)").fValue > 877.421 * 0.9 &&
      rows("factor(Gamma)").fValue < 877.421 * 1.1)
    assert(rows("Estimator").fValue > 10776.257 * 0.9 &&
      rows("Estimator").fValue < 10776.257 * 1.1)
    assert(rows("factor(Sd)").pValue > 0.05)          // ref p = 0.645
    assert(rows("factor(Sd):factor(Gamma)").pValue > 0.05) // ref p = 1.000

    assert(math.abs(rows("factor(Gamma)").sumSq - 4.124) < 0.42)
    assert(math.abs(rows("Estimator").sumSq - 20.258) < 2.03)
    assert(math.abs(rows("Residuals").sumSq - 12.896) < 1.29)
  }

  test("sequential() itself guards NULL responses — the gridAnova " +
    "direct-call path was unguarded (r15 review)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1.0, "a"), (2.0, "b"), (3.0, "a"), (4.0, "b"))
      .toDF("y", "f")
      .withColumn("y", when(col("f") === "b", lit(null)).otherwise(col("y")))
    val e = intercept[Exception] {
      Anova.sequential(df, "y", Seq("f" -> Seq("f")))
    }
    assert(e.getMessage.contains("NULL in response column"), e.getMessage)
  }

  test("twoFactorTypeIDf names single-level factors instead of a 0x0 " +
    "solve or silent NaN rows (r15 review)") {
    import spark.implicits._
    val df = Seq((1.0, "a", "x"), (2.0, "b", "x"), (3.0, "a", "x"),
      (4.0, "b", "x")).toDF("y", "fa", "fb")
    val e = intercept[IllegalArgumentException] {
      Anova.twoFactorTypeIDf(df, "y", "fa", "fb").collect()
    }
    assert(e.getMessage.contains("only 1 level"), e.getMessage)
  }
}
