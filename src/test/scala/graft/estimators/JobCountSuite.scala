package graft.estimators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Regression guard for the Gram-pass fusion: each estimator call must
  * stay a HANDFUL of aggregation ACTIONS (every action is a full-table
  * scan at 100 TB — the pre-fusion pipelines ran 5-8). Raw Spark jobs
  * are not the metric: AQE splits one action into a job per query stage.
  * Counted via a QueryExecutionListener, whose events ride the async
  * listener bus — hence the drain loop. */
class JobCountSuite extends SparkSpec {
  import spark.implicits._

  private def countActions(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = n.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && n.get != last) {
        last = n.get; Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    n.get
  }

  // one-table population with explicit A-weights so d_i_A is static and
  // every szRow-independent Gram fuses into the first pass
  private lazy val pop = (1 to 400).map { i =>
    (i.toLong, i * 1.7 % 11.0, (i % 7).toDouble,
      if (i % 3 == 0) 1 else 0, if (i % 2 == 0) 1 else 0, 5.0 + i % 4)
  }.toDF("id", "y", "x1", "in_A", "in_B", "w")

  test("RegDI correction 3 runs in at most 3 actions (fused passes)") {
    val jobs = countActions {
      val r = RegDI.oneTable(pop, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x1"),
          weightsA = Some("w"), nTotal = Some(400.0), correction = 3,
          outcomeModel = Some("y ~ x1")))
      assert(!r.mean.isNaN)
    }
    assert(jobs <= 3, s"correction 3 ran $jobs actions; fusion regressed")
  }

  test("RegDI correction 0 runs in at most 4 actions (shared cal Gram)") {
    val jobs = countActions {
      val r = RegDI.oneTable(pop, "in_A", "in_B",
        RegDIConfig(yACol = "y", yBCol = "y", auxVars = Seq("x1"),
          weightsA = Some("w"), nTotal = Some(400.0), correction = 0))
      assert(!r.mean.isNaN)
    }
    assert(jobs <= 4, s"correction 0 ran $jobs actions; fusion regressed")
  }

  test("PC scenario 2 runs in at most 3 actions (fused cal+model Grams)") {
    val jobs = countActions {
      val r = PC.oneTable(pop, "in_A", "in_B",
        PCConfig(yACol = Some("y"), yBCol = Some("y"), auxVars = Seq("x1"),
          weightsA = Some("w"), nTotal = Some(400.0), scenario = 2,
          outcomeModel = Some("y ~ x1")))
      assert(!r.estimator.isNaN)
    }
    assert(jobs <= 3, s"scenario 2 ran $jobs actions; fusion regressed")
  }

  // without nTotal or weights: N is the frame's row count, which rides
  // the first aggregate pass instead of a separate count action
  private def regdiNoN(correction: Int) = RegDIConfig(yACol = "y", yBCol = "y",
    auxVars = Seq("x1"), correction = correction,
    outcomeModel = Some("y ~ x1"))
  private def pcNoN(scenario: Int) = PCConfig(yACol = Some("y"),
    yBCol = Some("y"), auxVars = Seq("x1"), scenario = scenario,
    outcomeModel = Some("y ~ x1"))

  test("RegDI correction 1 without nTotal runs in at most 4 actions") {
    val jobs = countActions {
      assert(!RegDI.oneTable(pop, "in_A", "in_B", regdiNoN(1)).mean.isNaN)
    }
    assert(jobs <= 4, s"correction 1 without nTotal ran $jobs actions")
  }

  test("RegDI correction 3 without nTotal runs in at most 3 actions") {
    val jobs = countActions {
      assert(!RegDI.oneTable(pop, "in_A", "in_B", regdiNoN(3)).mean.isNaN)
    }
    assert(jobs <= 3, s"correction 3 without nTotal ran $jobs actions")
  }

  test("PC scenario 1 without nTotal runs in at most 4 actions") {
    val jobs = countActions {
      assert(!PC.oneTable(pop, "in_A", "in_B", pcNoN(1)).estimator.isNaN)
    }
    assert(jobs <= 4, s"scenario 1 without nTotal ran $jobs actions")
  }

  test("PC scenario 3 without nTotal runs in at most 3 actions") {
    val jobs = countActions {
      assert(!PC.oneTable(pop, "in_A", "in_B", pcNoN(3)).estimator.isNaN)
    }
    assert(jobs <= 3, s"scenario 3 without nTotal ran $jobs actions")
  }
}
