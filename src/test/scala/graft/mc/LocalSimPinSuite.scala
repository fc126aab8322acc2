package graft.mc

import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the task-local battery: every estimate of one fixed
  * replicate of each study at N = 20,000, recorded while LocalSim still
  * solved with Gaussian elimination. A changed draw, helper or kernel
  * moves an estimate by far more than the 1e-12 allowed; the switch to
  * the Cramer solve moved none by more than 5e-14. */
class LocalSimPinSuite extends AnyFunSuite {

  private val Tol = 1e-12

  private def check(study: String, got: Map[String, Double],
                    want: Map[String, Double]): Unit = {
    assert(got.keySet === want.keySet, study)
    want.foreach { case (est, w) =>
      assert(math.abs(got(est) - w) <= Tol,
        s"$study $est: ${got(est)} vs pinned $w")
    }
  }

  test("sim-1 replicate: all 13 estimates match the pin") {
    val got = LocalSim.runSim1(1, 10000L, 20000, 200, 6000, 4000)
    check("sim-1", got.map(r => r.estimator -> r.estimate).toMap, Map(
      "Mean_S_A" -> 2.8842067341287327,
      "Mean_S_B" -> 2.885584627481938,
      "RegDI" -> 2.9427739085967723,
      "RegDI_X1" -> 2.942773908596774,
      "RegDI_e1" -> 2.942773908596777,
      "PC_X1" -> 2.9966233066689103,
      "PC_e1" -> 2.9050369399525198,
      "Mean_S_B_II" -> 1.8839254167694857,
      "RegDI_II" -> 2.9138278574925307,
      "RegDI_X1_II" -> 2.9328505199246133,
      "RegDI_e1_II" -> 2.914534754696108,
      "PC_X1_II" -> 2.9600755879666223,
      "PC_e1_II" -> 2.8858055347967126))
  }

  test("sim-2 replicate: all 10 estimates match the pin") {
    val got = LocalSim.runSim2(1, 10000L, 20000, 400, 6000)
    check("sim-2", got.map(r => r.estimator -> r.estimate).toMap, Map(
      "Mean_S_A" -> 7.508456213554634,
      "Mean_S_B" -> 7.431692176944007,
      "RegDI" -> 7.516372918664227,
      "RegDI_X1" -> 7.516372918664232,
      "PC_X1" -> 7.504668209427592,
      "Mean_S_B_II" -> 7.296828530013564,
      "RegDI_II" -> 7.519728348726581,
      "RegDI_X1_II" -> 7.519321380009158,
      "PC_X1_II" -> 9.409370514758814,
      "PC_X1_II_cell13" -> 7.550833355175755))
  }

  test("NMAR replicate at gamma 0 and 1: all estimates match the pin") {
    val grid = MonteCarlo.nmarGrid(1, Seq(0.0, 1.0), 20000, 200, 10000)
    def at(g: Double) = LocalSim.run(grid.find(_.gamma == g).get)
      .map(r => r.estimator -> r.estimate).toMap
    check("nmar gamma=0", at(0.0), Map(
      "Mean_S_A" -> 3.096788493865319,
      "Mean_S_B" -> 3.0008362650927056,
      "RegDI_X1" -> 3.0660296645735348,
      "PC_X1_X2" -> 3.004162382774904))
    check("nmar gamma=1", at(1.0), Map(
      "Mean_S_A" -> 2.947920062683831,
      "Mean_S_B" -> 3.304662457354824,
      "RegDI_X1" -> 2.9821026259433014,
      "PC_X1_X2" -> 3.2204831757933454))
  }

  test("NMAR-v2 replicate: all 25 estimates match the pin") {
    val got = LocalSim.runSimV2(1, 1.0, 1234L + 10000L + 100000000L, 20000,
      200, 10000, Seq(0.0, 0.125, 0.25, 0.375, 0.5))
    val want = Map(
      ("PC_xi_DR", 0.0) -> 3.0573528105450127,
      ("PC_ei_DR", 0.0) -> 3.1313780950884027,
      ("RegDI_no_aux", 0.0) -> 2.9926760298918467,
      ("RegDI_xi", 0.0) -> 2.9926760298918467,
      ("RegDI_ei", 0.0) -> 2.992676029891848,
      ("PC_xi_DR", 0.125) -> 3.055627073281042,
      ("PC_ei_DR", 0.125) -> 3.1299114664574845,
      ("RegDI_no_aux", 0.125) -> 2.9863869231748335,
      ("RegDI_xi", 0.125) -> 2.986386923174833,
      ("RegDI_ei", 0.125) -> 2.986386923174833,
      ("PC_xi_DR", 0.25) -> 3.0552855709278144,
      ("PC_ei_DR", 0.25) -> 3.1293327536911404,
      ("RegDI_no_aux", 0.25) -> 3.002550696936852,
      ("RegDI_xi", 0.25) -> 3.002550696936853,
      ("RegDI_ei", 0.25) -> 3.0025506969368556,
      ("PC_xi_DR", 0.375) -> 3.0646796010823034,
      ("PC_ei_DR", 0.375) -> 3.138875560901882,
      ("RegDI_no_aux", 0.375) -> 2.9920026243675077,
      ("RegDI_xi", 0.375) -> 2.992002624367508,
      ("RegDI_ei", 0.375) -> 2.9920026243675077,
      ("PC_xi_DR", 0.5) -> 3.0604037667473993,
      ("PC_ei_DR", 0.5) -> 3.133513280254821,
      ("RegDI_no_aux", 0.5) -> 2.9665705718302817,
      ("RegDI_xi", 0.5) -> 2.9665705718302826,
      ("RegDI_ei", 0.5) -> 2.9665705718302813)
    check("v2", got.map(r => s"${r.estimator}@${r.sd}" -> r.estimate).toMap,
      want.map { case ((e, s), v) => s"$e@$s" -> v })
  }
}
