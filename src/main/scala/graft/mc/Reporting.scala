package graft.mc

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.stats.{Anova, AnovaRow}
import graft.util.Tables.{dmean, dvarSamp}

/** The NMAR-v2 reporting pipeline (`ipynb` cells 40-42), exercising the
  * reshape surface end-to-end on real simulation output:
  * wide CSV layout → wildcard bias columns (P4) → pivot_longer (R2) →
  * regex separate (R3) → grouped rounded summaries (A10) →
  * pivot_wider per estimator (R4) → sequential ANOVA on the grid (M12).
  */
object Reporting {

  /** Long (sim, gamma, estimator, sd, estimate) → the reference's wide
    * layout: one row per (sim, gamma), a `mean_<est>_y_i_sd_<sd>`
    * column per estimator×sd (`ipynb` cell 37 result_row). */
  def toWide(long: DataFrame, estimators: Seq[String],
             sds: Seq[Double]): DataFrame = {
    val combos = for (e <- estimators; s <- sds) yield s"${e}_y_i_sd_$s"
    long
      .withColumn("est_sd",
        concat(col("estimator"), lit("_y_i_sd_"), col("sd").cast("string")))
      .groupBy(col("sim").as("Simulacion"), col("gamma").as("Gamma"))
      .pivot("est_sd", combos)
      .agg(first("estimate"))
      .withColumnsRenamed(combos.map(c => c -> s"mean_$c").toMap)
  }

  /** Cell 40: bias_<col> = <col> − trueMean for every mean_* column,
    * as ONE projection (sd values put dots in column names → backtick
    * references). */
  def withBiasColumns(wide: DataFrame, trueMean: Double): DataFrame = {
    val means = wide.columns.filter(_.startsWith("mean_"))
    wide.withColumns(ListMap(means.toSeq.map(c =>
      s"bias_$c" -> (col(s"`$c`") - lit(trueMean))): _*))
  }

  /** Cell 41 bias_data: pivot_longer over bias_mean_*, then separate
    * on "_mean_|_sd_" into (Metric, Estimator, Sd). */
  def biasLong(wide: DataFrame): DataFrame = {
    val biasCols = wide.columns.filter(_.startsWith("bias_mean_"))
    wide
      .unpivot(Array(col("Simulacion"), col("Gamma")),
        biasCols.map(c => col(s"`$c`")), "Estimator_Sd", "Bias")
      .withColumn("parts", split(col("Estimator_Sd"), "_mean_|_sd_"))
      .select(col("Simulacion"), col("Gamma"),
        col("parts").getItem(1).as("Estimator"),
        col("parts").getItem(2).cast("double").as("Sd"),
        col("Bias"))
  }

  /** Cell 41 bias_summary: rounded mean/sd/RMSE per (Gamma, Sd, Est).
    * This and [[biasTable]] have a row per key, a few dozen in all, so
    * they sort in one partition rather than run `orderBy`'s range-bound
    * sampling job. */
  def biasSummary(long: DataFrame): DataFrame = {
    def r3(c: org.apache.spark.sql.Column) =
      floor(c * 1000 + 0.5) / 1000
    long.groupBy("Gamma", "Sd", "Estimator")
      .agg(r3(dmean(col("Bias"))).as("Bias_Mean"),
        r3(sqrt(dvarSamp(col("Bias")))).as("Bias_SD"))
      .withColumn("RMSE", r3(sqrt(col("Bias_Mean") * col("Bias_Mean") +
        col("Bias_SD") * col("Bias_SD"))))
      .coalesce(1).sortWithinPartitions("Estimator", "Gamma", "Sd")
  }

  /** Cell 41 per-estimator wide bias table: rows Gamma, columns Sd.
    * NOTE: the separate() split leaves estimator labels as e.g.
    * "PC_xi_DR_y_i" (the reference's own naming quirk — `sep =
    * "_mean_|_sd_"` keeps the `_y_i` tail; mirrored, not fixed). */
  def biasTable(summary: DataFrame, estimator: String,
                sds: Seq[Double]): DataFrame =
    summary.filter(col("Estimator") === estimator)
      .groupBy("Gamma")
      .pivot("Sd", sds)
      .agg(first("Bias_Mean"))
      .coalesce(1).sortWithinPartitions("Gamma")

  /** Cell 42: `aov(Bias ~ factor(Sd) * factor(Gamma) + Estimator)` —
    * Type-I sequential terms in the reference's order, from the per-cell
    * moments of the Sd × Gamma × Estimator grid (two passes over `long`:
    * the level-cap guard and one small group-by; see [[Anova.sequential]]). */
  def gridAnova(long: DataFrame): Seq[AnovaRow] =
    Anova.sequential(long, "Bias", Seq(
      "factor(Sd)" -> Seq("Sd"),
      "factor(Gamma)" -> Seq("Gamma"),
      "Estimator" -> Seq("Estimator"),
      "factor(Sd):factor(Gamma)" -> Seq("Sd", "Gamma")))
}
