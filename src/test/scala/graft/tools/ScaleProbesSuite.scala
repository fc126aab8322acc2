package graft.tools

import scala.collection.immutable.ListMap

import graft.SparkSpec

/** Runs every [[ScaleProbes]] leg on the shared session at a toy size,
  * so each leg's planted-truth checks (a failed check throws) run in
  * Tier-1. Each size is the smallest that keeps its leg's checks valid;
  * the reasons sit next to the sizes. */
class ScaleProbesSuite extends SparkSpec {
  private val sizes: ListMap[String, Seq[String]] = ListMap(
    // in_A takes 1 of nPop/2000 hash buckets: n_A ≈ 2,000 at any nPop
    "estimators" -> Seq("20000"),
    // 100 top-k and 20 SQ8 queries; 7 bits keep ~16 vectors per bucket
    // and 16 cells ~125 vectors per cell, as at the 1M default
    "ann" -> Seq("2000", "64", "7", "16"),
    "behavior" -> Seq("10000"),
    // the t(100)/t(25) ≤ 5 cap only loosens as fixed cost dominates
    "bootstrap" -> Seq("2000"),
    // 200 planted copies among 2,000 batch docs
    "dedup" -> Seq("5000", "2000"),
    // 1,000 cliques (nEdges/15) ≥ the top-25 censuses; the sf
    // directory is a two-table stand-in written below
    "graph" -> Seq("15000"),
    // coprime to 1000003; 66k values per Gini group
    "ranks" -> Seq("200000"),
    // 1,000 groups plus the hot one; n/4 sampled rows per exact-n path
    "sampler" -> Seq("100000"),
    // the smallest nEvents: 10 files × 100k users
    "streaming" -> Seq("1000000"),
    // 20 events per user (100k users): ~75% of purchases find an
    // earlier view (> half), ~370 range pairs (> nEvents/10⁴ = 200)
    "temporal" -> Seq("2000000", "40000"),
    // diameter 200: past hash-min's 12 rounds, so the star contraction
    // runs
    "temporal-chain" -> Seq("200"),
    // ≥ 1,002 docs for a planted copy; 64 shards within ±5%
    "text" -> Seq("10000"))

  private var sfTmp: Option[java.io.File] = None
  /** A two-table sf directory for the graph leg's a24-shaped phase:
    * 200 orders over 50 customers, 4 line items each over 20 suppliers. */
  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("scale_probe_sf")
      .toFile
    sfTmp = Some(dir)
    spark.range(200).selectExpr("id AS o_orderkey", "id % 50 AS o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    spark.range(800).selectExpr("id div 4 AS l_orderkey",
        "(id * 7) % 20 AS l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir.getPath
  }

  override def afterAll(): Unit =
    sfTmp.foreach(org.apache.commons.io.FileUtils.deleteDirectory)

  test("every leg has a toy size here") {
    assert(sizes.keySet == ScaleProbes.legs.keySet)
  }

  for ((leg, args) <- sizes)
    test(s"leg $leg (${args.mkString(" ")}) passes its planted-truth checks") {
      val argv = if (leg == "graph") sfDir +: args else args
      val cachedBefore = !spark.sharedState.cacheManager.isEmpty
      val out = new java.io.ByteArrayOutputStream
      try Console.withOut(out)(ScaleProbes.legs(leg)(spark, argv.toArray))
      finally graft.util.QueryLeases.releaseAll() // as Bench/Verify do
      assert(out.size() > 0, s"leg $leg printed nothing")
      // the session outlives the leg, so the leg drops what it caches
      assert(cachedBefore || spark.sharedState.cacheManager.isEmpty,
        s"leg $leg left a cached Dataset behind")
    }
}
