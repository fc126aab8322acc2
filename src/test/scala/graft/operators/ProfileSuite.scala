package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class ProfileSuite extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(2.5), Some("b")),
    (2L, None, Some("a")),
    (3L, Some(4.0), None),
    (4L, Some(2.5), Some("c"))
  ).toDF("id", "x", "s")

  test("profiles counts, distincts, and typed min/max per column") {
    val p = Profile.profile(df, Seq("id", "x", "s")).collect()
      .map(r => r.col_name -> r).toMap
    assert(p("id").n_nonnull === 4 && p("id").n_null === 0)
    assert(p("id").n_distinct === 4)
    assert(p("id").min_num === Some(1.0) && p("id").max_num === Some(4.0))
    assert(p("id").min_str.isEmpty && p("id").max_str.isEmpty)
    assert(p("x").n_nonnull === 3 && p("x").n_null === 1)
    assert(p("x").n_distinct === 2) // 2.5 appears twice
    assert(p("x").min_num === Some(2.5) && p("x").max_num === Some(4.0))
    assert(p("s").n_null === 1 && p("s").n_distinct === 3)
    assert(p("s").min_str === Some("a") && p("s").max_str === Some("c"))
    assert(p("s").min_num.isEmpty)
  }

  test("histogram bins with under/overflow; observed bins only") {
    val vals = Seq(-5.0, 0.0, 9.9, 10.0, 25.0, 99.9, 100.0, 250.0)
      .map(Tuple1(_)).toDF("v")
    val h = Profile.histogram(vals, "v", lo = 0.0, hi = 100.0, nBins = 10)
      .collect().map(r => r.getAs[Any](0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(h(-1L) === ((1L, None)))         // -5.0
    assert(h(0L) === ((2L, Some(0.0))))     // 0.0, 9.9
    assert(h(1L) === ((1L, Some(10.0))))    // 10.0
    assert(h(2L) === ((1L, Some(20.0))))    // 25.0
    assert(h(9L) === ((1L, Some(90.0))))    // 99.9
    assert(h(10L) === ((2L, None)))         // 100.0, 250.0 overflow
  }

  test("expectations: one pass, NULL predicates violate, uniqueness") {
    val df = Seq(
      (Some(1L), "ok"), (Some(2L), "ok"), (Some(2L), "bad"), (None, "ok")
    ).toDF("k", "s")
    import Profile.{RowExpectation, UniqueExpectation}
    val rep = Profile.expectations(df, Seq(
        RowExpectation("k_not_null", col("k").isNotNull),
        UniqueExpectation("k_unique", "k"),
        RowExpectation("s_ok", col("s") === "ok")))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(rep("k_not_null") === ((1L, 0)))
    assert(rep("k_unique") === ((1L, 0)))  // 2 appears twice → 3−2=1
    assert(rep("s_ok") === ((1L, 0)))
  }

  test("unknown columns fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("id", "nope"))
    }
    assert(e.getMessage.contains("not in schema"))
  }

  test("iqrOutliers: planted outliers counted, fences from exact " +
      "quartiles, NULLs ignored") {
    val vals = (1 to 8).map(_.toDouble) ++ Seq(100.0, -100.0)
    val df = (vals.map(Option(_)) :+ Option.empty[Double]).toDF("x")
    val out = Profile.iqrOutliers(df, Seq("x")).collect().head
    // Spark percentile over the 10 non-NULL values: idx = p*(n-1)
    val sorted = vals.sorted
    def pct(p: Double): Double = {
      val i = p * (sorted.length - 1)
      val lo = math.floor(i).toInt
      sorted(lo) + (i - lo) * (sorted(math.ceil(i).toInt) - sorted(lo))
    }
    val (q1, q3) = (pct(0.25), pct(0.75))
    assert(out.getString(0) == "x")
    assert(out.getDouble(1) == q1 && out.getDouble(2) == q3)
    assert(out.getDouble(3) == q1 - 1.5 * (q3 - q1))
    assert(out.getDouble(4) == q3 + 1.5 * (q3 - q1))
    assert(out.getLong(5) == 1L && out.getLong(6) == 1L) // -100 / 100
    // an all-NULL column names itself instead of NPEing
    val allNull = Seq(Option.empty[Double], Option.empty[Double]).toDF("y")
    val e = intercept[IllegalArgumentException] {
      Profile.iqrOutliers(allNull, Seq("y")).collect()
    }
    assert(e.getMessage.contains("'y' has no non-NULL values"),
      e.getMessage)
  }
  test("referentialCheck: NULL child keys are not orphans (ANSI " +
      "optional-FK semantics)") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Option(1L), Option(2L), None, Option(9L)).toDF("fk")
    val row = Profile.referentialCheck(child, parent, "fk", "pk").head()
    assert(row.getLong(0) === 4L)  // all child rows counted
    assert(row.getLong(1) === 1L)  // only fk=9 is an orphan, not NULL
    val clean = Seq(Option(1L), None).toDF("fk")
    assert(Profile.referentialCheck(clean, parent, "fk", "pk")
      .head().getInt(2) === 1)     // pass=1 on the valid optional-FK table
  }

  test("iqrOutliers accepts column names needing quoting") {
    val df = Seq(1.0, 2.0, 3.0, 100.0).toDF("unit price")
    val out = Profile.iqrOutliers(df, Seq("unit price")).collect().head
    assert(out.getString(0) === "unit price")
    assert(out.getLong(6) === 1L) // 100.0 above the hi fence
  }

  test("profile() accepts column names needing quoting (a dot parses " +
      "as struct-field access under bare col())") {
    val df = Seq((1.0, "a"), (2.0, "b"), (3.0, null: String))
      .toDF("unit.price", "seg name")
    val p = Profile.profile(df, Seq("unit.price", "seg name"))
      .collect().sortBy(_.col_name)
    assert(p(0).col_name === "seg name" && p(0).n_null === 1L &&
      p(0).n_distinct === 2L)
    assert(p(1).col_name === "unit.price" && p(1).n_nonnull === 3L &&
      p(1).min_num === Some(1.0) && p(1).max_num === Some(3.0))
  }

}
