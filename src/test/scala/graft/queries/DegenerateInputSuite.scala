package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input contracts for catalog queries whose statistics are
  * undefined on pathological corpora — they must raise loudly (the
  * thresholdSweep/shardCensus convention), never emit a silent NaN.
  * Exercised through the same `Catalog.queries` lambdas the driver
  * grades, over a minimal on-disk documents fixture. */
class DegenerateInputSuite extends SparkSpec {
  import spark.implicits._

  /** Writes a documents.parquet with just the columns m44/m45 read and
    * returns the fixture dir. */
  private def docsDir(tag: String, rows: Seq[(Long, String)]): String = {
    val dir = s"/tmp/graft-test-degenerate-$tag"
    rows.toDF("n_chars", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("m44/m45 raise when one group is empty (all docs 'en' or none) " +
      "instead of emitting NaN z / ks_scaled") {
    val allEn = docsDir("all-en",
      Seq((100L, "en"), (200L, "en"), (300L, "en")))
    val noEn = docsDir("no-en",
      Seq((100L, "de"), (200L, "fr"), (300L, "de")))
    for (q <- Seq("m44_mannwhitney", "m45_ks_test"); d <- Seq(allEn, noEn)) {
      val e = intercept[Exception] {
        Catalog.queries(q)(spark, d).collect()
      }
      assert(e.getMessage.contains("one group is empty"),
        s"$q on $d: ${e.getMessage}")
    }
  }

  test("m44/m45 still compute on a two-group fixture (guard does not " +
      "fire on healthy input)") {
    val mixed = docsDir("mixed",
      Seq((100L, "en"), (200L, "en"), (150L, "de"), (300L, "fr")))
    val m44 = Catalog.queries("m44_mannwhitney")(spark, mixed).head()
    assert(m44.getLong(0) == 2L && m44.getLong(1) == 2L)
    assert(!m44.getDouble(3).isNaN)
    val m45 = Catalog.queries("m45_ks_test")(spark, mixed).head()
    assert(m45.getLong(0) == 2L && m45.getLong(1) == 2L)
    assert(!m45.getDouble(3).isNaN)
  }

  test("withCumSums rejects a non-integral value column with a named " +
      "error (its per-bucket row bound holds only for integers)") {
    val byV = Seq((0.5, 1L, 0L), (1.5, 2L, 1L)).toDF("v", "t", "t1")
    val e = intercept[IllegalArgumentException](StatsQueries.withCumSums(byV))
    assert(e.getMessage.contains("integral value column v"), e.getMessage)
  }
}
