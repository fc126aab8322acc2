package graft.estimators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Fusion

/** M14: the reference's defensive `stop()` contracts (`RegDI2.R:26-42,
  * 95-123,254-256`, `PC.R:69-85,177-178,262-264`) as typed exceptions. */
class ValidationSuite extends SparkSpec {
  import spark.implicits._

  // big enough that the calibration system is non-singular
  private lazy val pop = (1 to 60).map(i =>
      (i.toLong, i * 1.7 % 11.0, if (i % 3 == 0) 1 else 0,
        if (i % 2 == 0) 1 else 0))
    .toDF("id", "y", "in_A", "in_B")

  test("ppsPoisson raises on NULL ids instead of silently dropping rows") {
    import graft.operators.Samplers
    val df = Seq((Some(1L), 2.0), (None, 3.0), (Some(3L), 4.0))
      .toDF("id", "x")
    val e = intercept[Exception](
      Samplers.ppsPoisson(df, "x", "id", targetN = 2).collect())
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("ppsPoisson raises on a negative size instead of excluding it") {
    import graft.operators.Samplers
    val df = Seq((1L, 2.0), (2L, -1.0), (3L, 4.0)).toDF("id", "x")
    val e = intercept[Exception](
      Samplers.ppsPoisson(df, "x", "id", targetN = 2).collect())
    assert(e.getMessage.contains("negative"), e.getMessage)
  }

  test("olsKFold rejects a fold whose training x is constant") {
    import graft.stats.CrossVal
    // two folds, each constant in x: leaving either out keeps x constant
    val df = Seq((1.0, 1.0, 0L), (1.0, 2.0, 0L), (2.0, 3.0, 1L),
        (2.0, 4.0, 1L))
      .toDF("x", "y", "fold")
    val e = intercept[IllegalArgumentException](
      CrossVal.olsKFold(df, "x", "y", "fold").collect())
    assert(e.getMessage.contains("constant"), e.getMessage)
  }

  test("olsKFold excludes NULL x/y rows from moments AND scoring") {
    import graft.stats.CrossVal
    val clean = Seq((1.0, 2.0, 0L), (2.0, 3.0, 0L), (3.0, 5.0, 1L),
      (4.0, 6.0, 1L), (5.0, 9.0, 2L), (6.0, 11.0, 2L))
    val withNulls = clean.map { case (x, y, f) => (Some(x), Some(y), f) } ++
      Seq((None, Some(99.0), 0L), (Some(99.0), None, 1L))
    val a = CrossVal.olsKFold(clean.toDF("x", "y", "fold"), "x", "y", "fold")
      .orderBy("fold").collect()
    val b = CrossVal.olsKFold(withNulls.toDF("x", "y", "fold"),
      "x", "y", "fold").orderBy("fold").collect()
    assert(a.toSeq === b.toSeq,
      "NULL-bearing rows must not perturb coefficients, counts, or rmse")
  }

  test("fusion rejects a missing id column") {
    val df = Seq((1L, 1.0)).toDF("id", "y")
    val e = intercept[IllegalArgumentException](
      Fusion.fuse(df, df, "nope", "id"))
    assert(e.getMessage.contains("nope"))
  }

  test("fusion rejects an input whose 'id' column is not its id " +
    "variable (duplicate-column trap — r15 review)") {
    val clean = Seq((1L, 1.0)).toDF("key", "y")
    val trapped = Seq((1L, 2L, 1.0)).toDF("key", "id", "y")
    val e = intercept[IllegalArgumentException](
      Fusion.fuse(trapped, clean, "key", "key"))
    assert(e.getMessage.contains("already has a column named 'id'"))
    val e2 = intercept[IllegalArgumentException](
      Fusion.fuse(clean, trapped, "key", "key"))
    assert(e2.getMessage.contains("data_B"))
    // idVar == "id" stays legal
    Fusion.fuse(Seq((1L, 1.0)).toDF("id", "y"),
      Seq((1L, 2.0)).toDF("id", "z"), "id", "id")
  }

  test("RegDI/PC reject aux vars and weights missing from their own " +
    "side instead of silently resolving across (r15 review)") {
    val a = (1 to 30).map(i => (i.toLong, i * 1.3, i * 0.7, 2.0))
      .toDF("id", "y", "x", "d_w")
    val b = (10 to 50).map(i => (i.toLong, i * 1.3, i * 0.7))
      .toDF("id", "y", "x")
    // 'd_w' exists only in a: as a RegDI AUX var it must be rejected
    val e1 = intercept[IllegalArgumentException](
      RegDI.twoSample(a, b, "id", "id",
        RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("d_w"),
          nTotal = Some(100.0), weightsA = Some("d_w"))))
    assert(e1.getMessage.contains("aux var 'd_w'"), e1.getMessage)
    // weightsA must come from dataA
    val e2 = intercept[IllegalArgumentException](
      RegDI.twoSample(a, b, "id", "id",
        RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x"),
          nTotal = Some(100.0), weightsA = Some("w_only_in_b"))))
    assert(e2.getMessage.contains("weightsA"), e2.getMessage)
    // PC aux must exist on BOTH sides
    val e3 = intercept[IllegalArgumentException](
      PC.twoSample(a, b, "id", "id",
        PCConfig(yACol = Some("y"), yBCol = Some("y"),
          auxVars = Seq("d_w"), nTotal = Some(100.0), scenario = 1)))
    assert(e3.getMessage.contains("aux var 'd_w'"), e3.getMessage)
  }

  test("nmarPropensity names the cause on an empty frame instead of " +
    "an NPE (r15 review)") {
    import graft.synth.Population
    val empty = pop.filter(lit(false)).withColumnRenamed("y", "y_i")
    val e = intercept[IllegalArgumentException] {
      Population.nmarPropensity(empty, gamma = 1.0)
    }
    assert(e.getMessage.contains("no rows"), e.getMessage)
  }

  test("SurveyDesign accepts a weight column under Spark's default " +
    "case-insensitive resolution (r15 review)") {
    import graft.core.SurveyDesign
    val df = Seq((1.0, 2.0)).toDF("y", "W")
    val d = SurveyDesign(df, "w") // resolves like col("w") does
    assert(d.df.select(d.weights).head().getDouble(0) === 2.0)
  }

  test("RegDI rejects an empty sample A") {
    val noA = pop.withColumn("in_A", lit(0))
    val e = intercept[IllegalArgumentException](
      RegDI.oneTable(noA, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y")))
    assert(e.getMessage.contains("sample A"))
  }

  test("RegDI rejects an out-of-range correction") {
    val e = intercept[IllegalArgumentException](
      RegDI.oneTable(pop, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y", correction = 7)))
    assert(e.getMessage.contains("correction"))
  }

  test("RegDI correction 2 names a one-row A∩B overlap before solving") {
    // only id 6 is in both samples: the measurement-error Gram is
    // singular, and the named contract error must come first
    val oneRow = pop.withColumn("in_B",
      when(col("in_A") === 1, (col("id") === 6L).cast("int"))
        .otherwise(col("in_B")))
    val e = intercept[IllegalArgumentException](
      RegDI.oneTable(oneRow, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y", correction = 2)))
    assert(e.getMessage.contains("Not enough validation data"), e.getMessage)
  }

  test("RegDI correction 3 requires an outcome model") {
    val e = intercept[IllegalArgumentException](
      RegDI.oneTable(pop, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y", correction = 3)))
    assert(e.getMessage.contains("outcomeModel"))
  }

  test("two-sample RegDI without weights cannot approximate N_total") {
    val a = pop.filter(col("in_A") === 1).select("id", "y")
    val b = pop.filter(col("in_B") === 1).select("id", "y")
    val e = intercept[IllegalArgumentException](
      RegDI.twoSample(a, b, "id", "id",
        RegDIConfig(yACol = "y", yBCol = "y")))
    assert(e.getMessage.toLowerCase.contains("n_total"))
  }

  test("PC scenario 2 requires overlap and an outcome model") {
    val e1 = intercept[IllegalArgumentException](
      PC.oneTable(pop, "in_A", "in_B",
        PCConfig(yACol = Some("y"), yBCol = Some("y"), scenario = 2)))
    assert(e1.getMessage.contains("outcomeModel") ||
      e1.getMessage.contains("Scenario 2"))

    val disjoint = pop.withColumn("in_B",
      when(col("in_A") === 1, 0).otherwise(1))
    val e2 = intercept[IllegalArgumentException](
      PC.oneTable(disjoint, "in_A", "in_B",
        PCConfig(yACol = Some("y"), yBCol = Some("y"), scenario = 2,
          outcomeModel = Some("y ~ y"))))
    assert(e2.getMessage.contains("∩") || e2.getMessage.contains("intersect")
      || e2.getMessage.toLowerCase.contains("no units"))
  }

  test("PC rejects an unknown scenario and model type") {
    val e = intercept[IllegalArgumentException](
      PC.oneTable(pop, "in_A", "in_B",
        PCConfig(yACol = Some("y"), yBCol = Some("y"), scenario = 9)))
    assert(e.getMessage.contains("scenario"))
    val e2 = intercept[IllegalArgumentException](
      PC.oneTable(pop, "in_A", "in_B",
        PCConfig(yACol = Some("y"), yBCol = Some("y"), scenario = 3,
          outcomeModel = Some("y ~ y"), modelType = "poisson")))
    assert(e2.getMessage.contains("poisson"))
  }
  test("r14 guards: twoSample rejects y columns absent from their own " +
      "side; OlsFit.coef rejects unknown terms; a degenerate " +
      "measurement-error overlap raises instead of returning NaN") {
    import graft.estimators._
    val a = Seq((1L, 1.0, 1.0)).toDF("id", "y", "d_w")
    val b = Seq((1L, 2.0, 0.5)).toDF("id", "yb", "x1")
    val e1 = intercept[IllegalArgumentException] {
      RegDI.twoSample(a, b, "id", "id",
        RegDIConfig(yACol = "nope", yBCol = "yb"))
    }
    assert(e1.getMessage.contains("not a column of dataA"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      PC.twoSample(a, b, "id", "id",
        PCConfig(yBCol = Some("yb"), weightsA = Some("d_w")))
    }
    assert(e2.getMessage.contains("not a column of dataA"), e2.getMessage)
    // unknown term: used to return the intercept (or last coefficient)
    val df = Seq((1.0, 2.0), (2.0, 3.0), (3.0, 5.0)).toDF("x1", "y")
    val fit = graft.stats.Ols.fit(df,
      graft.core.FormulaSpec.parse("y ~ x1"))
    val e3 = intercept[IllegalArgumentException] { fit.coef("x9") }
    assert(e3.getMessage.contains("unknown term"), e3.getMessage)
    val noIntercept = graft.stats.Ols.fit(df,
      graft.core.FormulaSpec.parse("y ~ 0 + x1"))
    val e3b = intercept[IllegalArgumentException] {
      noIntercept.coef("(Intercept)")
    }
    assert(e3b.getMessage.contains("no intercept"), e3b.getMessage)
    // constant y_B over the overlap: singular Gram, NaN betas — raise
    val pop = Seq(
      (1L, Some(1.0), Some(5.0), 1.0), (2L, Some(2.0), Some(5.0), 1.0),
      (3L, Some(3.0), Some(5.0), 1.0), (4L, None, Some(5.0), 1.0))
      .toDF("id", "ya", "yb", "d_w")
      .withColumn("indA", col("ya").isNotNull.cast("int"))
      .withColumn("indB", col("yb").isNotNull.cast("int"))
    val e4 = intercept[IllegalArgumentException] {
      RegDI.oneTable(pop, "indA", "indB",
        RegDIConfig(yACol = "ya", yBCol = "yb", weightsA = Some("d_w"),
          nTotal = Some(4.0), correction = 2))
    }
    // the Det-level singular guard (also r14) fires first for an
    // exactly-singular overlap; the RegDI-level finite/nonzero-slope
    // guard still covers near-zero finite slopes
    assert(e4.getMessage.contains("singular system") ||
      e4.getMessage.contains("degenerate measurement-error fit"),
      e4.getMessage)
  }

  // y_A constant on A while y_B varies: the outcome model fits exactly
  // (SSR = 0) and SST = 0, so R² = 1 − 0/0 has no value
  private lazy val constYA = (1 to 60).map(i =>
      (i.toLong, 5.0, i * 1.7 % 11.0, (i % 7).toDouble,
        if (i % 3 == 0) 1 else 0, if (i % 2 == 0) 1 else 0))
    .toDF("id", "ya", "y", "x1", "in_A", "in_B")

  test("RegDI correction 3 names a constant y_A instead of returning R² = NaN") {
    val e = intercept[IllegalArgumentException](
      RegDI.oneTable(constYA, "in_A", "in_B",
        RegDIConfig(yACol = "ya", yBCol = "y", auxVars = Seq("x1"),
          correction = 3, outcomeModel = Some("ya ~ x1"),
          evalModelPerformance = true)))
    assert(e.getMessage.contains("R² is undefined (SST = 0)"), e.getMessage)
  }

  test("PC scenario 3 names a constant y_A instead of returning R² = NaN") {
    val e = intercept[IllegalArgumentException](
      PC.oneTable(constYA, "in_A", "in_B",
        PCConfig(yACol = Some("ya"), yBCol = Some("y"), auxVars = Seq("x1"),
          scenario = 3, outcomeModel = Some("ya ~ x1"),
          evalModelPerformance = true)))
    assert(e.getMessage.contains("R² is undefined (SST = 0)"), e.getMessage)
  }
}
