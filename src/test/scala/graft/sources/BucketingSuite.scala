package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketingSuite extends SparkSpec {
  import spark.implicits._

  // in-memory catalog can leave orphan warehouse dirs from prior JVMs
  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq("bk_a", "bk_b", "bk_c16", "bk_plain").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft-test-warehouse/$t"))
    }
  }

  test("r16: colocatedJoin REFUSES a bucket mismatch instead of " +
      "silently planning the shuffle it exists to remove") {
    val a = (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "va")
    Bucketing.writeBucketed(a, "bk_a", "id", 8)
    Bucketing.writeBucketed(a.toDF("id", "vc"), "bk_c16", "id", 16)
    a.toDF("id", "vp").write.mode("overwrite").format("parquet")
      .saveAsTable("bk_plain")
    val exCount = intercept[IllegalArgumentException] {
      Bucketing.colocatedJoin(spark, "bk_a", "bk_c16", "id")
    }
    assert(exCount.getMessage.contains("bucket counts differ"),
      exCount.getMessage)
    val exSpec = intercept[IllegalArgumentException] {
      Bucketing.colocatedJoin(spark, "bk_a", "bk_plain", "id")
    }
    assert(exSpec.getMessage.contains("not bucketed by 'id'"),
      exSpec.getMessage)
  }

  test("r17: colocatedJoin resolves the key case-insensitively and " +
      "names the catalog-table requirement for temp views") {
    val a = (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "va")
    Bucketing.writeBucketed(a, "bk_a", "id", 8)
    Bucketing.writeBucketed(a.toDF("id", "vb"), "bk_b", "id", 8)
    // Spark resolution is case-insensitive by default: a differently-
    // cased key must NOT be refused (the == Seq(key) guard was — r16
    // advice)
    assert(Bucketing.colocatedJoin(spark, "bk_a", "bk_b", "ID")
      .count() === 100L)
    // a temp view carries no bucket spec: the refusal names WHY
    a.createOrReplaceTempView("bk_temp_view")
    val exV = intercept[IllegalArgumentException] {
      Bucketing.colocatedJoin(spark, "bk_a", "bk_temp_view", "id")
    }
    assert(exV.getMessage.contains("not a catalog table"), exV.getMessage)
  }

  test("bucketed-by-key join plans with zero shuffle exchanges") {
    val a = (1L to 2000L).map(i => (i, i * 2.0)).toDF("id", "va")
    val b = (1L to 2000L).map(i => (i, s"n$i")).toDF("id", "vb")
    Bucketing.writeBucketed(a, "bk_a", "id", 8)
    Bucketing.writeBucketed(b, "bk_b", "id", 8)

    // force the big-big join shape (no broadcast) — the property under
    // test is that BUCKETING removes the shuffle, at any table size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "bk_a", "bk_b", "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      assert(joined.count() === 2000L)

      // and aggregation on the bucket key is exchange-free too
      val agg = spark.table("bk_a").groupBy("id").agg(sum("va"))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write: partition filter prunes at the scan") {
    val path = "/tmp/graft-test-warehouse/part_demo"
    val df = (1 to 1000).map(i =>
      (i.toLong, i * 1.0, if (i % 4 == 0) "gold" else "std"))
      .toDF("id", "v", "tier")
    df.write.mode("overwrite").partitionBy("tier").parquet(path)

    val gold = spark.read.parquet(path).filter(col("tier") === "gold")
    val scanLine = gold.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tier"), scanLine)   // pruned at planning
    assert(gold.count() === 250L)
    // non-partition predicates still reach PushedFilters
    val both = spark.read.parquet(path)
      .filter(col("tier") === "gold" && col("v") > 500.0)
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(v,500.0)"), plan.take(2000))
  }

  test("bucketed results match unbucketed join exactly") {
    val joined = Bucketing.colocatedJoin(spark, "bk_a", "bk_b", "id")
      .orderBy("id").collect()
    assert(joined.length === 2000)
    assert(joined.head.getString(2) === "n1")
  }
}
