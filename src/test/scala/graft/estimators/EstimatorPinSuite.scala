package graft.estimators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bit-exact regression pin for the DataFrame estimators: every output of
  * RegDI corrections 0-3 (3 also logistic) and PC scenarios 1-3 (1 also
  * without aux, 3 also logistic) on one fixed 400-row frame, through
  * `oneTable` and `twoSample`, with and without A/B weights and N. The
  * pinned values are `==`, not a tolerance: every sum is exact-decimal, so
  * a refactor that keeps the arithmetic keeps every bit, and one that
  * reorders a solve or a combination shows here first. PC's calibrated
  * B weights are pinned by their id-ordered sum. */
class EstimatorPinSuite extends SparkSpec {
  import spark.implicits._

  private lazy val frame: DataFrame = (1 to 400).map { i =>
    val x1 = (i * 37 % 101) / 10.0
    val x2 = (i * 13 % 17).toDouble
    val y = 2.0 + 0.5 * x1 + 0.1 * x2 + (i * 7919 % 23) / 10.0
    val e = if ((i * 53 % 10) + x1 > 9.0) 1.0 else 0.0
    val inB = if (i * 17 % 10 < (if (y > 4.5) 4 else 7)) 1 else 0
    (i.toLong, y, 1.25 * y + 0.5, x1, x2, e,
      if (i % 4 == 0) 1 else 0, inB, 3.5 + i % 5, 1.2 + i % 3)
  }.toDF("id", "y", "ya", "x1", "x2", "e", "in_A", "in_B", "w", "wb").cache()

  private val N = 1200.0

  /** (tag, weightsA, nTotal) per mode; two-sample needs weights or N. */
  private val oneTableRegDI = Seq(("plain", None, None),
    ("w", Some("w"), None), ("n", None, Some(N)), ("wn", Some("w"), Some(N)))
  private val twoSampleRegDI = Seq(("w", Some("w"), None),
    ("n", None, Some(N)), ("wn", Some("w"), Some(N)))

  private def sideA(y: String): DataFrame = frame.filter(col("in_A") === 1)
    .select(col("id"), col(y).as("y"), col("x1"), col("e"), col("w"))
  private lazy val sideB: DataFrame = frame.filter(col("in_B") === 1)
    .select("id", "y", "x1", "x2", "e", "wb")

  private def regdiCases: Seq[(String, RegDIConfig, Boolean)] = Seq(
    ("c0", RegDIConfig("y", "y", auxVars = Seq("x1", "x2")), false),
    ("c1", RegDIConfig("y", "y", auxVars = Seq("x1", "x2"), correction = 1), false),
    ("c2", RegDIConfig("ya", "y", auxVars = Seq("x1"), correction = 2), true),
    ("c3", RegDIConfig("y", "y", auxVars = Seq("x1"), correction = 3,
      outcomeModel = Some("y ~ x1"), evalModelPerformance = true), false),
    ("c3logit", RegDIConfig("e", "e", auxVars = Seq("x1"), correction = 3,
      outcomeModel = Some("e ~ x1"), modelType = "logistic",
      evalModelPerformance = true), false))

  private def regdiOut(name: String, r: RegDIResult): Seq[(String, Double)] =
    Seq(s"$name.mean" -> r.mean, s"$name.variance" -> r.variance) ++
      r.rmse.map(s"$name.rmse" -> _) ++ r.r2.map(s"$name.r2" -> _)

  private def regdiAll: Seq[(String, Double)] = regdiCases.flatMap {
    case (c, cfg, distortedA) =>
      oneTableRegDI.flatMap { case (t, w, n) =>
        regdiOut(s"regdi.$c.one.$t", RegDI.oneTable(frame, "in_A", "in_B",
          cfg.copy(weightsA = w, nTotal = n)))
      } ++ twoSampleRegDI.flatMap { case (t, w, n) =>
        // correction 2's A side carries the mismeasured y under B's name
        val (a, yA) = if (distortedA) (sideA(cfg.yACol), "y") else (sideA("y"), cfg.yACol)
        regdiOut(s"regdi.$c.two.$t", RegDI.twoSample(a, sideB, "id", "id",
          cfg.copy(yACol = yA, weightsA = w, nTotal = n)))
      }
  }

  /** (tag, weightsA, weightsB, nTotal) per mode. */
  private val oneTablePC = Seq(("plain", None, None, None),
    ("wab", Some("w"), Some("wb"), None), ("n", None, None, Some(N)),
    ("wan", Some("w"), None, Some(N)))
  private val twoSamplePC = Seq(("wa", Some("w"), None, None),
    ("wabn", Some("w"), Some("wb"), Some(N)), ("n", None, None, Some(N)))

  private def pcCases: Seq[(String, PCConfig)] = Seq(
    ("s1", PCConfig(Some("y"), Some("y"), auxVars = Seq("x1"))),
    ("s1noaux", PCConfig(Some("y"), Some("y"))),
    ("s2", PCConfig(Some("y"), Some("y"), auxVars = Seq("x1"), scenario = 2,
      outcomeModel = Some("y ~ x1"))),
    ("s3", PCConfig(Some("y"), Some("y"), auxVars = Seq("x1"), scenario = 3,
      outcomeModel = Some("y ~ x1"), evalModelPerformance = true)),
    ("s3logit", PCConfig(Some("e"), Some("e"), auxVars = Seq("x1"),
      scenario = 3, outcomeModel = Some("e ~ x1"), modelType = "logistic",
      evalModelPerformance = true)))

  private def pcOut(name: String, r: PCResult): Seq[(String, Double)] =
    Seq(s"$name.estimator" -> r.estimator) ++ r.se.map(s"$name.se" -> _) ++
      r.rmse.map(s"$name.rmse" -> _) ++ r.r2.map(s"$name.r2" -> _) ++
      r.weightsB.map(wb => s"$name.weightsB" ->
        wb.orderBy("id").collect().map(_.getAs[Double]("d_i_B")).sum)

  private def pcAll: Seq[(String, Double)] = pcCases.flatMap { case (s, cfg) =>
    oneTablePC.flatMap { case (t, wa, wb, n) =>
      pcOut(s"pc.$s.one.$t", PC.oneTable(frame, "in_A", "in_B",
        cfg.copy(weightsA = wa, weightsB = wb, nTotal = n)))
    } ++ twoSamplePC.flatMap { case (t, wa, wb, n) =>
      pcOut(s"pc.$s.two.$t", PC.twoSample(sideA("y"), sideB, "id", "id",
        cfg.copy(weightsA = wa, weightsB = wb, nTotal = n)))
    }
  }

  private def check(got: Seq[(String, Double)], want: Map[String, Double]): Unit = {
    assert(got.map(_._1).toSet === want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"$k: $v vs pinned ${want(k)}") }
  }

  test("RegDI corrections 0-3: every output matches the bit-exact pin") {
    check(regdiAll, Map(
      "regdi.c0.one.plain.mean" -> 6.4360000000096536,
      "regdi.c0.one.plain.variance" -> 0.012309389087187811,
      "regdi.c0.one.w.mean" -> 6.413985048674439,
      "regdi.c0.one.w.variance" -> 0.013375809286484356,
      "regdi.c0.one.n.mean" -> 6.551999999989626,
      "regdi.c0.one.n.variance" -> 0.028384201722137046,
      "regdi.c0.one.wn.mean" -> 6.518569888744278,
      "regdi.c0.one.wn.variance" -> 0.030843258450864903,
      "regdi.c0.two.w.mean" -> 6.456769755981772,
      "regdi.c0.two.w.variance" -> 0.01965224504908537,
      "regdi.c0.two.n.mean" -> 6.551999999989626,
      "regdi.c0.two.n.variance" -> 0.028384201722137046,
      "regdi.c0.two.wn.mean" -> 6.518569888744278,
      "regdi.c0.two.wn.variance" -> 0.030843258450864903,
      "regdi.c1.one.plain.mean" -> 6.4360000000096536,
      "regdi.c1.one.plain.variance" -> 0.012309389087187811,
      "regdi.c1.one.w.mean" -> 6.413985048674439,
      "regdi.c1.one.w.variance" -> 0.013375809286484356,
      "regdi.c1.one.n.mean" -> 6.551999999989626,
      "regdi.c1.one.n.variance" -> 0.028384201722137046,
      "regdi.c1.one.wn.mean" -> 6.518569888744278,
      "regdi.c1.one.wn.variance" -> 0.030843258450864903,
      "regdi.c1.two.w.mean" -> 6.456769755981772,
      "regdi.c1.two.w.variance" -> 0.01965224504908537,
      "regdi.c1.two.n.mean" -> 6.551999999989626,
      "regdi.c1.two.n.variance" -> 0.028384201722137046,
      "regdi.c1.two.wn.mean" -> 6.518569888744278,
      "regdi.c1.two.wn.variance" -> 0.030843258450864903,
      "regdi.c2.one.plain.mean" -> 6.436000000006937,
      "regdi.c2.one.plain.variance" -> 0.012309389087175503,
      "regdi.c2.one.w.mean" -> 6.413985048674439,
      "regdi.c2.one.w.variance" -> 0.013375809286484356,
      "regdi.c2.one.n.mean" -> 6.5519999999887,
      "regdi.c2.one.n.variance" -> 0.02838420172212779,
      "regdi.c2.one.wn.mean" -> 6.518569888744278,
      "regdi.c2.one.wn.variance" -> 0.03084325845086504,
      "regdi.c2.two.w.mean" -> 6.456769755981772,
      "regdi.c2.two.w.variance" -> 0.019652245049085703,
      "regdi.c2.two.n.mean" -> 6.5519999999887,
      "regdi.c2.two.n.variance" -> 0.02838420172212779,
      "regdi.c2.two.wn.mean" -> 6.518569888744278,
      "regdi.c2.two.wn.variance" -> 0.03084325845086504,
      "regdi.c3.one.plain.mean" -> 6.408610483593249,
      "regdi.c3.one.plain.variance" -> 0.11227928259207985,
      "regdi.c3.one.plain.rmse" -> 0.8157851149254931,
      "regdi.c3.one.plain.r2" -> 0.752132609389834,
      "regdi.c3.one.w.mean" -> 6.406901543397249,
      "regdi.c3.one.w.variance" -> 0.11749288570544066,
      "regdi.c3.one.w.rmse" -> 0.8157851149254931,
      "regdi.c3.one.w.r2" -> 0.752132609389834,
      "regdi.c3.one.n.mean" -> 2.2001630395764997,
      "regdi.c3.one.n.variance" -> 1.2436597302959125,
      "regdi.c3.one.n.rmse" -> 0.8157851149254931,
      "regdi.c3.one.n.r2" -> 0.752132609389834,
      "regdi.c3.one.wn.mean" -> 2.1975679822421665,
      "regdi.c3.one.wn.variance" -> 1.281652983581897,
      "regdi.c3.one.wn.rmse" -> 0.8157851149254931,
      "regdi.c3.one.wn.r2" -> 0.752132609389834,
      "regdi.c3.two.w.mean" -> 1.1966464923387272,
      "regdi.c3.two.w.variance" -> 0.22142520693886286,
      "regdi.c3.two.w.rmse" -> 0.8157851149254931,
      "regdi.c3.two.w.r2" -> 0.752132609389834,
      "regdi.c3.two.n.mean" -> 0.6013795172243334,
      "regdi.c3.two.n.variance" -> 1.2436462246964635,
      "regdi.c3.two.n.rmse" -> 0.8157851149254931,
      "regdi.c3.two.n.r2" -> 0.752132609389834,
      "regdi.c3.two.wn.mean" -> 0.59878445989,
      "regdi.c3.two.wn.variance" -> 1.281639477982448,
      "regdi.c3.two.wn.rmse" -> 0.8157851149254931,
      "regdi.c3.two.wn.r2" -> 0.752132609389834,
      "regdi.c3logit.one.plain.mean" -> 0.6280883149622499,
      "regdi.c3logit.one.plain.variance" -> 0.03110099501886563,
      "regdi.c3logit.one.plain.rmse" -> 0.4060482238158418,
      "regdi.c3logit.one.plain.r2" -> 0.3338377371151515,
      "regdi.c3logit.one.w.mean" -> 0.61362980290825,
      "regdi.c3logit.one.w.variance" -> 0.03068025882657229,
      "regdi.c3logit.one.w.rmse" -> 0.4060482238158418,
      "regdi.c3logit.one.w.r2" -> 0.3338377371151515,
      "regdi.c3logit.one.n.mean" -> 0.216308000885,
      "regdi.c3logit.one.n.variance" -> 0.2521461220693978,
      "regdi.c3logit.one.n.rmse" -> 0.4060482238158418,
      "regdi.c3logit.one.n.r2" -> 0.3338377371151515,
      "regdi.c3logit.one.wn.mean" -> 0.19509528766774997,
      "regdi.c3logit.one.wn.variance" -> 0.25863204404153023,
      "regdi.c3logit.one.wn.rmse" -> 0.4060482238158418,
      "regdi.c3logit.one.wn.r2" -> 0.3338377371151515,
      "regdi.c3logit.two.w.mean" -> 0.14547191167090906,
      "regdi.c3logit.two.w.variance" -> 0.05121712374037183,
      "regdi.c3logit.two.w.rmse" -> 0.4060482238158418,
      "regdi.c3logit.two.w.r2" -> 0.3338377371151515,
      "regdi.c3logit.two.n.mean" -> 0.08021085567558332,
      "regdi.c3logit.two.n.variance" -> 0.2521458309500394,
      "regdi.c3logit.two.n.rmse" -> 0.4060482238158418,
      "regdi.c3logit.two.n.r2" -> 0.3338377371151515,
      "regdi.c3logit.two.wn.mean" -> 0.05899814245833333,
      "regdi.c3logit.two.wn.variance" -> 0.25863175292217183,
      "regdi.c3logit.two.wn.rmse" -> 0.4060482238158418,
      "regdi.c3logit.two.wn.r2" -> 0.3338377371151515))
  }

  test("PC scenarios 1-3: every output matches the bit-exact pin") {
    check(pcAll, Map(
      "pc.s1.one.plain.estimator" -> 6.236182503716943,
      "pc.s1.one.plain.se" -> 0.1372939072963573,
      "pc.s1.one.plain.weightsB" -> 409.7635909585815,
      "pc.s1.one.wab.estimator" -> 6.277389757553791,
      "pc.s1.one.wab.se" -> 0.1288296086206731,
      "pc.s1.one.wab.weightsB" -> 401.7770477211798,
      "pc.s1.one.n.estimator" -> 5.314405338954467,
      "pc.s1.one.n.se" -> 0.18524742707975478,
      "pc.s1.one.n.weightsB" -> 633.1544126749942,
      "pc.s1.one.wan.estimator" -> 5.314405338954467,
      "pc.s1.one.wan.se" -> 0.18524742707975478,
      "pc.s1.one.wan.weightsB" -> 633.1544126749942,
      "pc.s1.two.wa.estimator" -> 6.229363040768721,
      "pc.s1.two.wa.se" -> 0.13754266910306992,
      "pc.s1.two.wa.weightsB" -> 559.5274779745885,
      "pc.s1.two.wabn.estimator" -> 6.443839556214835,
      "pc.s1.two.wabn.se" -> 0.1262498370174051,
      "pc.s1.two.wabn.weightsB" -> 515.230251474531,
      "pc.s1.two.n.estimator" -> 6.242614712934568,
      "pc.s1.two.n.se" -> 0.13706115339362546,
      "pc.s1.two.n.weightsB" -> 1237.420717242539,
      "pc.s1noaux.one.plain.estimator" -> 6.212285714324077,
      "pc.s1noaux.one.plain.se" -> 0.1372048060695805,
      "pc.s1noaux.one.plain.weightsB" -> 399.9999999999992,
      "pc.s1noaux.one.wab.estimator" -> 6.236167979002625,
      "pc.s1noaux.one.wab.se" -> 0.12354177589162209,
      "pc.s1noaux.one.wab.weightsB" -> 380.9999999999988,
      "pc.s1noaux.one.n.estimator" -> 6.21228571432441,
      "pc.s1noaux.one.n.se" -> 0.13720480606956215,
      "pc.s1noaux.one.n.weightsB" -> 1200.0000000000025,
      "pc.s1noaux.one.wan.estimator" -> 6.21228571432441,
      "pc.s1noaux.one.wan.se" -> 0.13720480606956215,
      "pc.s1noaux.one.wan.weightsB" -> 1200.0000000000025,
      "pc.s1noaux.two.wa.estimator" -> 6.212285714201287,
      "pc.s1noaux.two.wa.se" -> 0.1372048060668228,
      "pc.s1noaux.two.wa.weightsB" -> 550.0000000000014,
      "pc.s1noaux.two.wabn.estimator" -> 6.236167979002625,
      "pc.s1noaux.two.wabn.se" -> 0.12354177589162209,
      "pc.s1noaux.two.wabn.weightsB" -> 380.9999999999988,
      "pc.s1noaux.two.n.estimator" -> 6.21228571432441,
      "pc.s1noaux.two.n.se" -> 0.13720480606956215,
      "pc.s1noaux.two.n.weightsB" -> 1200.0000000000025,
      "pc.s2.one.plain.estimator" -> 6.488470124829999,
      "pc.s2.one.plain.weightsB" -> 409.7635909585815,
      "pc.s2.one.wab.estimator" -> 6.468572323689,
      "pc.s2.one.wab.weightsB" -> 401.7770477211798,
      "pc.s2.one.n.estimator" -> 2.904951560303667,
      "pc.s2.one.n.weightsB" -> 633.1544126749942,
      "pc.s2.one.wan.estimator" -> 2.8508114457403333,
      "pc.s2.one.wan.weightsB" -> 633.1544126749942,
      "pc.s2.two.wa.estimator" -> 1.7418147171387273,
      "pc.s2.two.wa.weightsB" -> 559.5274779745885,
      "pc.s2.two.wabn.estimator" -> 0.7467186366823334,
      "pc.s2.two.wabn.weightsB" -> 515.230251474531,
      "pc.s2.two.n.estimator" -> 1.758815418377667,
      "pc.s2.two.n.weightsB" -> 1237.420717242539,
      "pc.s3.one.plain.estimator" -> 6.2922565985195,
      "pc.s3.one.plain.rmse" -> 0.8157851149254931,
      "pc.s3.one.plain.r2" -> 0.752132609389834,
      "pc.s3.one.plain.weightsB" -> 409.7635909585815,
      "pc.s3.one.wab.estimator" -> 6.28777873691225,
      "pc.s3.one.wab.rmse" -> 0.8157851149254931,
      "pc.s3.one.wab.r2" -> 0.752132609389834,
      "pc.s3.one.wab.weightsB" -> 401.7770477211798,
      "pc.s3.one.n.estimator" -> 2.0387209628596663,
      "pc.s3.one.n.rmse" -> 0.8157851149254931,
      "pc.s3.one.n.r2" -> 0.752132609389834,
      "pc.s3.one.n.weightsB" -> 633.1544126749942,
      "pc.s3.one.wan.estimator" -> 2.0387209628596663,
      "pc.s3.one.wan.rmse" -> 0.8157851149254931,
      "pc.s3.one.wan.r2" -> 0.752132609389834,
      "pc.s3.one.wan.weightsB" -> 633.1544126749942,
      "pc.s3.two.wa.estimator" -> 1.1378835503821818,
      "pc.s3.two.wa.rmse" -> 0.8157851149254931,
      "pc.s3.two.wa.r2" -> 0.752132609389834,
      "pc.s3.two.wa.weightsB" -> 559.5274779745885,
      "pc.s3.two.wabn.estimator" -> 0.52326880437875,
      "pc.s3.two.wabn.rmse" -> 0.8157851149254931,
      "pc.s3.two.wabn.r2" -> 0.752132609389834,
      "pc.s3.two.wabn.weightsB" -> 515.230251474531,
      "pc.s3.two.n.estimator" -> 0.5050016441251667,
      "pc.s3.two.n.rmse" -> 0.8157851149254931,
      "pc.s3.two.n.r2" -> 0.752132609389834,
      "pc.s3.two.n.weightsB" -> 1237.420717242539,
      "pc.s3logit.one.plain.estimator" -> 0.7189751550402499,
      "pc.s3logit.one.plain.rmse" -> 0.4060482238158418,
      "pc.s3logit.one.plain.r2" -> 0.3338377371151515,
      "pc.s3logit.one.plain.weightsB" -> 409.7635909585815,
      "pc.s3logit.one.wab.estimator" -> 0.6987597044474999,
      "pc.s3logit.one.wab.rmse" -> 0.4060482238158418,
      "pc.s3logit.one.wab.r2" -> 0.3338377371151515,
      "pc.s3logit.one.wab.weightsB" -> 401.7770477211798,
      "pc.s3logit.one.n.estimator" -> 0.313405373166,
      "pc.s3logit.one.n.rmse" -> 0.4060482238158418,
      "pc.s3logit.one.n.r2" -> 0.3338377371151515,
      "pc.s3logit.one.n.weightsB" -> 633.1544126749942,
      "pc.s3logit.one.wan.estimator" -> 0.313405373166,
      "pc.s3logit.one.wan.rmse" -> 0.4060482238158418,
      "pc.s3logit.one.wan.r2" -> 0.3338377371151515,
      "pc.s3logit.one.wan.weightsB" -> 633.1544126749942,
      "pc.s3logit.two.wa.estimator" -> 0.09643026965018181,
      "pc.s3logit.two.wa.rmse" -> 0.4060482238158418,
      "pc.s3logit.two.wa.r2" -> 0.3338377371151515,
      "pc.s3logit.two.wa.weightsB" -> 559.5274779745885,
      "pc.s3logit.two.wabn.estimator" -> 0.041235779169500004,
      "pc.s3logit.two.wabn.rmse" -> 0.4060482238158418,
      "pc.s3logit.two.wabn.r2" -> 0.3338377371151515,
      "pc.s3logit.two.wabn.weightsB" -> 515.230251474531,
      "pc.s3logit.two.n.estimator" -> 0.04202710950841666,
      "pc.s3logit.two.n.rmse" -> 0.4060482238158418,
      "pc.s3logit.two.n.r2" -> 0.3338377371151515,
      "pc.s3logit.two.n.weightsB" -> 1237.420717242539))
  }
}
