package perfbench

import org.apache.spark.sql.SparkSession

/** A benchmark workload: the warm-up that belongs to its set-up, one pass
  * of its fixed operation list, and the traced-only replays. */
trait Workload {
  def name: String

  /** Warm-up run as the last step of every set-up. */
  def warm(spark: SparkSession): Unit

  /** One pass of the workload's fixed operation list. */
  def pass(h: Harness, p: Int): Unit

  /** Latencies (seconds) behind `op_p50_s`. */
  def latencies(h: Harness): Seq[Double]

  /** Workload-specific end-to-end figures, printed on the report line. */
  def report(h: Harness): Seq[(String, Double, String)]

  /** Layer figures measured only in a traced run, outside the timed phase
    * (replays of single layers): (name, value, unit). */
  def traced(h: Harness): Seq[(String, Double, String)] = Nil
}

object Workload {
  def apply(name: String, s: Settings): Workload = name match {
    case "mc_study"      => new McStudy(s)
    case "estimate_dist" => new EstimateDist(s)
    case "catalog_slice" => new CatalogSlice(s)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
