package graft.mc

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.estimators.{PC, PCConfig, RegDI, RegDIConfig}

/** Cross-implementation consistency: the DISTRIBUTED estimators
  * (graft.estimators, exact-decimal `Gram.momentsMulti` sums over
  * DataFrames) and the TASK-LOCAL ones (graft.mc.LocalSim, plain-double
  * `Gram.local` sums over arrays) fill the same `GramResult` and solve it
  * with the same functions (`Calibration.lambda`, `GramResult.solve`) —
  * on identical data they must agree to summation precision. One test per
  * call shape the Monte-Carlo studies run pins the harness to the
  * production estimators. */
class CrossImplSuite extends SparkSpec {
  import spark.implicits._

  private val n = 4000
  // deterministic synthetic population (no RNG-parity concerns)
  private lazy val rng = new java.util.Random(99L)
  private lazy val x = Array.fill(n)(2.0 + rng.nextGaussian())
  private lazy val y = Array.tabulate(n)(i => 3.0 + 0.7 * (x(i) - 2.0) +
    rng.nextGaussian() * 0.7)
  private lazy val x1 = x.map(v => if (v <= 2.0) 1.0 else 0.0)
  private lazy val x2 = x.map(v => if (v > 2.0) 1.0 else 0.0)
  private lazy val inA = Array.tabulate(n)(i => i % 7 == 0)
  private lazy val inB = Array.tabulate(n)(i => y(i) < 3.2 && i % 2 == 0)
  // scenario-II proxy ỹ and unequal (stratified-like) A weights
  private lazy val ty = Array.tabulate(n)(i => 2.0 + 0.9 * (y(i) - 3.0) +
    rng.nextGaussian() * 0.5)
  private lazy val dW = Array.tabulate(n)(i => if (inA(i)) 4.0 + i % 5 else 0.0)

  private lazy val df = (0 until n).map(i =>
      (i.toLong, x(i), y(i), x1(i), x2(i), ty(i), dW(i),
        if (inA(i)) 1 else 0, if (inB(i)) 1 else 0))
    .toDF("id", "x_i", "y_i", "x1_i", "x2_i", "ty_i", "d_A", "in_A", "in_B")
    .cache()

  private lazy val dA = Array.fill(n)(n.toDouble / inA.count(identity))
  private lazy val dB = n.toDouble / inB.count(identity)
  private def close(local: Double, dist: Double): Unit = {
    info(f"|local - dist| = ${math.abs(local - dist)}%.2e")
    assert(math.abs(local - dist) < 1e-9, s"local $local vs dist $dist")
  }

  test("RegDI correction 1: distributed == task-local to 1e-9") {
    val local = LocalSim.regdi(y, y, Array(x1), inA, inB, dA, n)
    val dist = RegDI.oneTable(df, "in_A", "in_B",
      RegDIConfig(yACol = "y_i", yBCol = "y_i", auxVars = Seq("x1_i"),
        correction = 1)).mean
    close(local, dist)
  }

  test("RegDI with no aux (sim-1 RegDI, NMAR-v2 RegDI_no_aux): " +
    "distributed == task-local to 1e-9") {
    val local = LocalSim.regdi(y, y, Array.empty, inA, inB, dA, n)
    val dist = RegDI.oneTable(df, "in_A", "in_B",
      RegDIConfig(yACol = "y_i", yBCol = "y_i", correction = 1)).mean
    close(local, dist)
  }

  test("PC scenario 1 (direct totals): distributed == task-local to 1e-9") {
    val aux = Array(x1, x2)
    val local = LocalSim.pcMean(y, aux, inB, dB,
      LocalSim.calB(aux, inB, dB, LocalSim.colSums(aux)))
    val dist = PC.oneTable(df, "in_A", "in_B",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i", "x2_i"), scenario = 1)).estimator
    close(local, dist)
  }

  test("RegDI with per-row A weights and N = sum of d_A: distributed == " +
    "task-local to 1e-9") {
    val nHat = dW.sum
    val local = LocalSim.regdi(y, y, Array(x1, x), inA, inB, dW, nHat)
    val dist = RegDI.oneTable(df, "in_A", "in_B",
      RegDIConfig(yACol = "y_i", yBCol = "y_i", auxVars = Seq("x1_i", "x_i"),
        weightsA = Some("d_A"), nTotal = Some(nHat), correction = 1)).mean
    close(local, dist)
  }

  test("RegDI scenario II (y_B = proxy): distributed == task-local to 1e-9") {
    val local = LocalSim.regdi(y, ty, Array(x1), inA, inB, dA, n)
    val dist = RegDI.oneTable(df, "in_A", "in_B",
      RegDIConfig(yACol = "y_i", yBCol = "ty_i", auxVars = Seq("x1_i"),
        correction = 1)).mean
    close(local, dist)
  }

  test("PC scenario 1 with HT totals from A: twoSample == task-local to 1e-9") {
    val aux = Array(x1, x2)
    val nHat = dW.sum
    val dBHat = nHat / inB.count(identity)
    val local = LocalSim.pcMean(y, aux, inB, dBHat,
      LocalSim.calB(aux, inB, dBHat, LocalSim.htTotals(aux, inA, dW)))
    val dataA = df.filter(col("in_A") === 1).select("id", "y_i", "x1_i", "x2_i", "d_A")
    val dataB = df.filter(col("in_B") === 1).select("id", "y_i", "x1_i", "x2_i")
    val dist = PC.twoSample(dataA, dataB, "id", "id",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i", "x2_i"), weightsA = Some("d_A"),
        scenario = 1)).estimator
    close(local, dist)
  }

  test("PC scenario 2 (one table, model y ~ proxy): distributed == " +
    "task-local to 1e-9") {
    val aux = Array(x1, x2)
    val local = LocalSim.pcModel(y, ty, aux, inA, inB, dA, dB,
      LocalSim.calB(aux, inB, dB, LocalSim.colSums(aux)), n)
    val dist = PC.oneTable(df, "in_A", "in_B",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i", "x2_i"), outcomeModel = Some("y_i ~ ty_i"),
        scenario = 2)).estimator
    close(local, dist)
  }

  test("PC scenario 2 with HT totals and a proxy observed on B only " +
    "(sim-2 PC_X1_II): twoSample == task-local to 1e-9") {
    val aux = Array(x1, x2)
    val nHat = dW.sum
    val dBHat = nHat / inB.count(identity)
    // R's NA off B: NaN in the arrays, absent from data A in the frames
    val tyB = Array.tabulate(n)(i => if (inB(i)) ty(i) else Double.NaN)
    val local = LocalSim.pcModel(y, tyB, aux, inA, inB, dW, dBHat,
      LocalSim.calB(aux, inB, dBHat, LocalSim.htTotals(aux, inA, dW)), nHat)
    val dataA = df.filter(col("in_A") === 1).select("id", "y_i", "x1_i", "x2_i", "d_A")
    val dataB = df.filter(col("in_B") === 1).select("id", "y_i", "x1_i", "x2_i", "ty_i")
    val dist = PC.twoSample(dataA, dataB, "id", "id",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i", "x2_i"), weightsA = Some("d_A"),
        outcomeModel = Some("y_i ~ ty_i"), scenario = 2)).estimator
    close(local, dist)
  }

  test("PC scenario 3 DR1 (non-aliased aux): distributed == task-local " +
    "to 1e-9") {
    val aux = Array(x1, x)
    val local = LocalSim.pcDr1(y, aux, inA, inB, dB,
      LocalSim.calB(aux, inB, dB, LocalSim.colSums(aux)))
    val dist = PC.oneTable(df, "in_A", "in_B",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i", "x_i"), outcomeModel = Some("y_i ~ x1_i + x_i"),
        scenario = 3)).estimator
    close(local, dist)
  }
}
