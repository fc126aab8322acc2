package graft.stats

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.core.SurveyDesign

/** Property-based invariants (SURVEY.md §5 derived test plan):
  * partitioning-invariance of the Gram moments, the calibration
  * identity, and weighted-mean invariance under row order. */
class PropertySuite extends SparkSpec {
  import spark.implicits._

  // scalacheck generators driven manually (no scalatest-plus bridge in
  // the offline cache): 8 seeded samples per property
  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 8).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val rowsGen: Gen[List[(Double, Double, Double)]] =
    Gen.listOfN(60, for {
      x <- Gen.choose(-50.0, 50.0)
      y <- Gen.choose(-10.0, 10.0)
      w <- Gen.choose(0.5, 30.0)
    } yield (x, y, w))

  test("Gram moments are bit-identical under any repartitioning (exact sums)") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("x", "y", "w")
        val g1 = Gram.moments(df.repartition(1), Seq(col("x")), col("w"),
          Some(col("y")))
        val g7 = Gram.moments(df.repartition(7), Seq(col("x")), col("w"),
          Some(col("y")))
        assert(g1.xtwx(0)(0) === g7.xtwx(0)(0))
        assert(g1.xtwy(0) === g7.xtwy(0))
        assert(g1.sw === g7.sw)
      }
    }
  }

  test("calibration identity: totals already met ⇒ weights unchanged") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty && rows.map(r => math.abs(r._1)).sum > 1e-6) {
        val df = rows.toDF("x", "y", "w").withColumn("uno", lit(1.0))
        val htTotals = df.agg(
          graft.util.Tables.dsum(col("w")),
          graft.util.Tables.dsum(col("w") * col("x"))).head()
        val (cal, _) = Calibration.calibrate(SurveyDesign(df, "w"),
          Seq("uno", "x"),
          Seq(htTotals.getDouble(0), htTotals.getDouble(1)))
        val maxDiff = cal
          .agg(max(abs(col("w_cal") - col("w")))).head().getDouble(0)
        assert(maxDiff < 1e-6, s"weights moved by $maxDiff")
      }
    }
  }

  test("fused masked Grams are bit-identical to standalone filtered Grams") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("x", "y", "w")
          .withColumn("grp", (col("x") > 0).cast("int"))
        val inGrp = col("grp") === 1
        // standalone: filter, then one Gram per computation
        val gCal = Gram.moments(df.filter(inGrp), Seq(col("x")), col("w"),
          Some(col("y")))
        val gOls = Gram.moments(df, Seq(lit(1.0), col("x")), lit(1.0),
          Some(col("y")))
        // fused: both Grams + an extra aggregate in ONE pass, mask-restricted
        val (grams, extra) = Gram.momentsMulti(df,
          Seq(
            "cal" -> GramSpec(Seq(col("x")), col("w"), Some(col("y")),
              Some(inGrp)),
            "ols" -> GramSpec(Seq(lit(1.0), col("x")), y = Some(col("y")))),
          Seq(graft.util.Tables.dsum(col("w")).as("sw_all")))
        val fCal = grams("cal"); val fOls = grams("ols")
        assert(fCal.xtwx(0)(0) === gCal.xtwx(0)(0))
        assert(fCal.xtwy(0) === gCal.xtwy(0))
        assert(fCal.sw === gCal.sw)
        assert(fCal.n === gCal.n)
        assert(fOls.xtwx(0)(1) === gOls.xtwx(0)(1))
        assert(fOls.xtwy(1) === gOls.xtwy(1))
        assert(fOls.n === gOls.n)
        val swAll = df.agg(graft.util.Tables.dsum(col("w"))).head().getDouble(0)
        assert(extra.getAs[Double]("sw_all") === swAll)
      }
    }
  }

  test("synthesis and sampling are invariant under repartitioning") {
    import graft.operators.Samplers
    import graft.synth.Population
    val pop = Population.cell7(spark, 2000, seed = 7)
    // identical population rows regardless of physical layout
    assert(pop.repartition(1).exceptAll(pop.repartition(7)).isEmpty)
    // identical selected multiset for exact-n and Bernoulli draws
    val s1 = Samplers.srsExact(pop.repartition(1), 100, seed = 5)
    val s7 = Samplers.srsExact(pop.repartition(7), 100, seed = 5)
    assert(s1.exceptAll(s7).isEmpty && s7.exceptAll(s1).isEmpty)
    val b1 = Samplers.bernoulli(pop.repartition(1), lit(0.1), seed = 3)
    val b7 = Samplers.bernoulli(pop.repartition(7), lit(0.1), seed = 3)
    assert(b1.exceptAll(b7).isEmpty && b7.exceptAll(b1).isEmpty)
  }

  test("capPerGroup: exact per-group sizes, deterministic subset, " +
      "partition-invariant") {
    import graft.operators.Samplers
    // 4 groups with sizes 3, 10, 50, 1 — cap at 5
    val rows = (Seq.tabulate(3)(i => (i.toLong, "a")) ++
      Seq.tabulate(10)(i => (100L + i, "b")) ++
      Seq.tabulate(50)(i => (200L + i, "c")) ++
      Seq((999L, "d")))
    val df = rows.toDF("id", "grp")
    val out = Samplers.capPerGroup(df, "grp", "id", cap = 5)
    val sizes = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes === Map("a" -> 3L, "b" -> 5L, "c" -> 5L, "d" -> 1L))
    // same kept multiset under any partitioning and on rerun
    val again = Samplers.capPerGroup(df.repartition(7), "grp", "id", cap = 5)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("splitByPortableHash: cluster-keyed split never splits a " +
      "cluster; fractions land near target; deterministic") {
    import graft.operators.Samplers
    val df = (1L to 1000L).map(i => (i, i / 10)).toDF("id", "cluster")
    val out = Samplers.splitByPortableHash(df, "cluster",
      Seq("train" -> 0.8, "test" -> 0.2))
    val straddle = out.groupBy("cluster")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddle === 0L, "a cluster straddled train/test")
    val trainFrac = out.filter(col("split") === "train").count() / 1000.0
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train frac $trainFrac")
    val again = Samplers.splitByPortableHash(df.repartition(7), "cluster",
      Seq("train" -> 0.8, "test" -> 0.2))
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("bernoulli keyCols decorrelates duplicate rows") {
    import graft.operators.Samplers
    // 400 identical payload rows + a unique id: content-keyed draws are
    // all-or-none; id-keyed draws select ≈ p of them independently
    val dup = spark.range(400).select(col("id"), lit(1.0).as("x"))
    val contentKeyed = Samplers.bernoulli(dup.select("x"), lit(0.5), seed = 9)
      .agg(sum(col("selected"))).head().getLong(0)
    assert(contentKeyed === 0L || contentKeyed === 400L) // correlated by design
    val idKeyed = Samplers.bernoulli(dup, lit(0.5), seed = 9,
        keyCols = Some(Seq("id")))
      .agg(sum(col("selected"))).head().getLong(0)
    assert(idKeyed > 120L && idKeyed < 280L) // binomial(400, .5), ±8σ
  }

  test("text-pipeline ops are invariant under repartitioning") {
    import graft.operators.{Samplers, TextPipeline}
    import graft.util.Tables.load
    val sf = "/root/testdata/sf0.001"
    val docs = load(spark, sf, "documents")
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // top terms: ranking keys (df, tf, tok) are total per doc, so the
    // result set is layout-independent
    assert(same(
      TextPipeline.topTermsByRarity(docs.repartition(1), "doc_id", "text", 3),
      TextPipeline.topTermsByRarity(docs.repartition(7), "doc_id", "text", 3)))
    // packing: bin assignment depends only on (group, order, tokens)
    assert(same(
      TextPipeline.packSequences(docs.repartition(1),
        Seq("lang", "source"), "doc_id", "text", 256),
      TextPipeline.packSequences(docs.repartition(7),
        Seq("lang", "source"), "doc_id", "text", 256)))
    // mixture resampling: partition-invariant uniforms select the same
    // rows under any layout
    val t = Map("en" -> 0.3, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2,
      "zh" -> 0.1)
    assert(same(
      Samplers.mixtureExact(docs.repartition(1), "lang", t, 100, seed = 5),
      Samplers.mixtureExact(docs.repartition(7), "lang", t, 100, seed = 5)))
  }

  test("fused vector expressions match driver-side references on random vectors") {
    import graft.expressions.VectorExpressions._
    val vecGen: Gen[List[Array[Float]]] =
      Gen.listOfN(40, Gen.listOfN(12,
        Gen.choose(-3.0, 3.0)).map(_.map(_.toFloat).toArray))
    val centGen: Gen[Seq[Seq[Double]]] =
      Gen.listOfN(6, Gen.listOfN(12, Gen.choose(-1.0, 1.0)).map(_.toSeq))
        .map(_.toSeq)
    forAll(Gen.zip(vecGen, centGen)) { case (vecs, cents) =>
      whenever(vecs.nonEmpty) {
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "v")
        val rows = df.select(col("id"),
            argMaxDot(col("v"), cents).as("am"),
            argTopPDot(col("v"), cents, 3).as("t3"),
            pqEncode(col("v"), Seq(cents.map(_.take(6)),
              cents.map(_.drop(6))), 12).as("codes"))
          .as[(Long, Int, Seq[Int], Seq[Int])].collect()
        rows.foreach { case (id, am, t3, codes) =>
          val v = vecs(id.toInt)
          def dot(c: Seq[Double], off: Int): Double = {
            var s = 0.0
            for (i <- c.indices) s += v(off + i).toDouble * c(i)
            s
          }
          // argmax reference (ties toward higher index via >=)
          val scores = cents.map(dot(_, 0))
          val ref = scores.zipWithIndex.maxBy { case (s, i) => (s, i) }._2
          assert(am === ref, s"vec $id argmax")
          assert(t3.head === am, s"vec $id top-p head")
          assert(t3.distinct.size === 3, s"vec $id top-p distinct")
          // every non-member scores ≤ every member (set property)
          val t3min = t3.map(scores).min
          cents.indices.filterNot(t3.contains).foreach(i =>
            assert(scores(i) <= t3min, s"vec $id top-p membership"))
          // PQ codes: the chosen code minimizes subspace L2 distance
          for ((half, j) <- Seq(0, 6).zipWithIndex) {
            val sub = cents.map(c =>
              if (j == 0) c.take(6) else c.drop(6))
            def l2(c: Seq[Double]): Double =
              c.indices.map(i => {
                val d = v(half + i).toDouble - c(i); d * d
              }).sum
            val best = sub.map(l2).min
            assert(math.abs(l2(sub(codes(j))) - best) < 1e-12,
              s"vec $id subspace $j code not L2-minimal")
          }
        }
      }
    }
  }

  test("weighted mean is invariant under row order") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("x", "y", "w")
        val m1 = WeightedStats.svymean(SurveyDesign(df, "w"), "y").mean
        val m2 = WeightedStats.svymean(
          SurveyDesign(df.orderBy(desc("x")), "w"), "y").mean
        assert(m1 === m2)
      }
    }
  }
}
