package graft.operators

import org.apache.spark.sql.functions._
import org.scalactic.Tolerance._

import graft.SparkSpec

/** PageRank semantics: closed-form fixtures, mass conservation, and the
  * bit-exact partitioning invariance the a24 hash oracle rests on. */
class GraphsSuite extends SparkSpec {
  import spark.implicits._

  test("two symmetric nodes hold rank 1/2 each at any iteration count") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Graphs.pageRank(edges, iters = 7)
      .as[(Long, Double)].collect().toMap
    assert(pr(1L) === 0.5 +- 1e-15)
    assert(pr(2L) === 0.5 +- 1e-15)
  }

  test("star graph: the hub outranks the leaves; mass is conserved") {
    // undirected star: hub 0 ↔ leaves 1..4
    val spokes = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L)))
    val pr = Graphs.pageRank(spokes.toDF("src", "dst"), iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(pr(0L) > pr(1L) * 2)
    assert((1L to 4L).map(pr).distinct.size === 1) // leaves symmetric
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)  // no dangling leak
  }

  test("closed form: undirected path a-b-c after one iteration") {
    // deg a=1, b=2, c=1; p0 = 1/3 each
    // p1(a) = .15/3 + .85*(1/3)/2 ; p1(b) = .15/3 + .85*(1/3 + 1/3)/2...
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .map { case (x, y) => (x.hashCode.toLong, y.hashCode.toLong) }
    val a = "a".hashCode.toLong; val b = "b".hashCode.toLong
    val c = "c".hashCode.toLong
    val pr = Graphs.pageRank(edges.toDF("src", "dst"), iters = 1)
      .as[(Long, Double)].collect().toMap
    // dsum casts each addend to DECIMAL(38,10): contributions carry a
    // ≤ 5e-11 per-addend quantization (identical in both engines — the
    // hash oracle is exact; the IEEE closed form here is not)
    val base = (1.0 - 0.85) / 3.0
    assert(pr(a) === base + 0.85 * ((1.0 / 3.0) / 2.0) +- 1e-9)
    assert(pr(b) === base + 0.85 * ((1.0 / 3.0) + (1.0 / 3.0)) +- 1e-9)
    assert(pr(c) === base + 0.85 * ((1.0 / 3.0) / 2.0) +- 1e-9)
  }

  test("ranks are bit-identical under repartitioning (exact-decimal sums)") {
    val edges = spark.range(600).select((col("id") % 53).as("src"),
      ((col("id") * 7 + 3) % 53).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val sym = Graphs.symmetrize(edges)
    val p1 = Graphs.pageRank(sym, iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1)
    val p2 = Graphs.pageRank(sym.repartition(13), iters = 3)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(p1 === p2) // exact ==, not tolerance
  }

  test("pageRankTopK equals the lazy path's top-k, bit-exact, and unpersists") {
    val edges = Graphs.symmetrize(
      spark.range(400).select((col("id") % 37).as("src"),
        ((col("id") * 11 + 5) % 37).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val lazyTop = Graphs.pageRank(edges, iters = 4)
      .orderBy(col("pr").desc, col("id")).limit(10)
      .as[(Long, Double)].collect().toSeq
    val eager = Graphs.pageRankTopK(edges, iters = 4, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(eager === lazyTop)
  }

  test("pageRank / pageRankTopK tolerate extra payload columns, even " +
    "ones colliding with internal names (r15 review)") {
    // a frame carrying a prior "pr" (re-ranking a joined output) or a
    // "__deg" used to hit an ambiguous-reference AnalysisException in
    // step's join — and a wide payload would ride every cached round
    val base = Graphs.symmetrize(
      spark.range(200).select((col("id") % 23).as("src"),
        ((col("id") * 7 + 3) % 23).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val wide = base.withColumn("pr", lit(9.9))
      .withColumn("__deg", lit(-1.0))
      .withColumn("payload", lit("x"))
    val clean = Graphs.pageRank(base, iters = 3)
      .as[(Long, Double)].collect().toMap
    val dirty = Graphs.pageRank(wide, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(dirty === clean)
    val cleanTop = Graphs.pageRankTopK(base, iters = 3, k = 5)
      .as[(Long, Double)].collect().toSeq
    val dirtyTop = Graphs.pageRankTopK(wide, iters = 3, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(dirtyTop === cleanTop)
  }

  test("triangleStats: K4 has 4 triangles; a path has none") {
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toDF("src", "dst")
    val s1 = Graphs.triangleStats(k4)
      .as[(Long, Long, Long)].collect().head
    // oriented chain-wedges in K4: Σ_m indeg·outdeg = 4, all closing
    assert(s1 === ((6L, 4L, 4L)))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val s2 = Graphs.triangleStats(path)
      .as[(Long, Long, Long)].collect().head
    assert(s2._1 === 3L)
    assert(s2._3 === 0L)
  }

  test("triangleStats counts each triangle once on a shared-edge pair") {
    // two triangles sharing edge 1-2: nodes {1,2,3} and {1,2,4}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      .toDF("src", "dst")
    val s = Graphs.triangleStats(edges).as[(Long, Long, Long)].collect().head
    assert(s === ((5L, s._2, 2L)))
  }

  test("hits: hand-computed 2-round scores on a tiny bipartite graph") {
    // edges: c1→s10, c2→s10, c1→s20
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 20L)).toDF("src", "dst")
    val got = Graphs.hits(edges, iters = 1)
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // a1 raw: s10=2, s20=1; z=√5 → a(10)=2/√5, a(20)=1/√5
    // h1 raw: c1=3/√5, c2=2/√5; z=√(13/5)
    val z1 = math.sqrt(5.0)
    assert(got(("authority", 10L)) === 2.0 / z1 +- 1e-9)
    assert(got(("authority", 20L)) === 1.0 / z1 +- 1e-9)
    val h1 = 3.0 / z1; val h2 = 2.0 / z1
    val z2 = math.sqrt(h1 * h1 + h2 * h2)
    assert(got(("hub", 1L)) === h1 / z2 +- 1e-9)
    assert(got(("hub", 2L)) === h2 / z2 +- 1e-9)
  }

  test("hits scores are bit-identical under repartitioning") {
    val edges = spark.range(500).select((col("id") % 41).as("src"),
      ((col("id") * 17 + 1) % 23 + 100).as("dst")).distinct()
    val a = Graphs.hits(edges, 2).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    val b = Graphs.hits(edges.repartition(13), 2)
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a === b)
  }

  test("hitsTopK equals the lazy path's per-role top-k, bit-exact") {
    val edges = spark.range(400).select((col("id") % 29).as("src"),
      ((col("id") * 13 + 2) % 17 + 100).as("dst")).distinct()
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("role")
      .orderBy(col("score").desc, col("id"))
    val lazyTop = Graphs.hits(edges, iters = 2)
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 5).orderBy("role", "rk")
      .as[(String, Long, Double, Int)].collect().toSeq
    val eager = Graphs.hitsTopK(edges, iters = 2, k = 5)
      .as[(String, Long, Double, Int)].collect().toSeq
    assert(eager === lazyTop)
  }

  test("bfsCensus equals the lazy census, and seeds come from the graph") {
    val edges = spark.range(300).select((col("id") % 23).as("src"),
      ((col("id") * 7 + 1) % 23).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val sym = Graphs.symmetrize(edges)
    val seeds = sym.select(col("src").as("id"))
      .filter(col("id") < 3).distinct()
    val lazyCensus = Graphs.bfsHops(sym, seeds, maxHops = 2)
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("dist").as[(Int, Long, Long, Long)].collect().toSeq
    val eager = Graphs.bfsCensus(edges, col("id") < 3, maxHops = 2,
        symmetrizeInput = true)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(eager === lazyCensus)
  }

  test("bfsHops: min hop distances, depth bound respected, unreached absent") {
    // directed path 1→2→3→4→5, plus shortcut 1→4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = Graphs.bfsHops(edges, seeds, maxHops = 2)
      .as[(Long, Int)].collect().toMap
    // shortcut wins for 4; 5 reachable at hop 2 via shortcut; 3 at 2
    assert(got === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    val zero = Graphs.bfsHops(edges, seeds, maxHops = 0)
      .as[(Long, Int)].collect().toMap
    assert(zero === Map(1L -> 0))
  }

  test("labelPropCensus: barbell graph converges to its two triangles") {
    // triangle {1,2,3} — bridge 3—4 — triangle {4,5,6}; hand-unrolled
    // synchronous rounds with the (count DESC, label) argmax settle on
    // labels 1 and 3 for the two communities after 3 rounds
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val got = Graphs.labelPropCensus(edges, iters = 3, k = 10,
      symmetrizeInput = true).as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 1L, 3L), (3L, 3L, 4L, 6L)))
  }

  test("labelPropCensus is invariant under repartitioning (integer " +
      "argmax, total tie order)") {
    val edges = Graphs.symmetrize(
      spark.range(200).select((col("id") % 23).as("src"),
        ((col("id") * 7 + 2) % 23).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val a = Graphs.labelPropCensus(edges, iters = 3, k = 25).collect().toSeq
    val b = Graphs.labelPropCensus(edges.repartition(7), iters = 3, k = 25)
      .collect().toSeq
    assert(a === b)
  }

  test("pageRankTopK leaves no new cache entries (async unpersist drains)") {
    val edges = Graphs.symmetrize(
      spark.range(100).select((col("id") % 11).as("src"),
        ((col("id") * 3 + 1) % 11).as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val boom = new RuntimeException("onRound failed")
    def failAt2(i: Int, s: Double): Unit = if (i == 2) throw boom
    // every eager kernel, plus a failure mid-loop in each onRound shape:
    // the round scope must release what it stored either way
    val runs: Seq[(String, () => Any)] = Seq(
      "pageRankTopK" -> (() => Graphs.pageRankTopK(edges, iters = 2, k = 5)),
      "hitsTopK" -> (() => Graphs.hitsTopK(edges, iters = 2, k = 5)),
      "labelPropCensus" -> (() => Graphs.labelPropCensus(edges, 2, k = 5)),
      "modularityCensus" -> (() => Graphs.modularityCensus(edges, 2, k = 5)),
      "bfsCensus" -> (() => Graphs.bfsCensus(edges, col("id") === 1, 2)),
      "ccCensus" -> (() => Graphs.ccCensus(edges, rounds = 2, k = 5)),
      "kcoreCensus" -> (() => Graphs.kcoreCensus(edges, k = 2, rounds = 2)),
      "pageRankTopK, onRound throws" -> (() => assert(intercept[
        RuntimeException](Graphs.pageRankTopK(edges, iters = 3, k = 5,
        onRound = failAt2)) eq boom)),
      "kcoreCensus, onRound throws" -> (() => assert(intercept[
        RuntimeException](Graphs.kcoreCensus(edges, k = 2, rounds = 3,
        onRound = failAt2)) eq boom)))
    runs.foreach { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run()
      // unpersist is non-blocking: poll briefly for the entries to drain
      val deadline = System.nanoTime + 10e9.toLong
      var extra = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (extra.nonEmpty && System.nanoTime < deadline) {
        Thread.sleep(100)
        extra = spark.sparkContext.getPersistentRDDs.keySet -- before
      }
      assert(extra.isEmpty, s"$name leaked cache entries: $extra")
    }
  }

  test("modularityCensus: two planted triangles score Q_c = 1/4 each " +
      "under their LPA communities") {
    import spark.implicits._
    // two disjoint triangles; 3 LPA rounds converge each to its min id
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val got = Graphs.modularityCensus(edges, iters = 3, k = 10,
        symmetrizeInput = true)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // m = 6 undirected edges; each community: n = 3, d_c = 6, e_c = 3,
    // Q_c = 3/6 − (6/12)² = 1/4 exactly (both divisions are exact)
    assert(got == Seq((1L, 3L, 6L, 3L, 0.25), (4L, 3L, 6L, 3L, 0.25)))
    // Σ d_c = 2m and Σ e_c = m: the census accounts for every edge
    assert(got.map(_._3).sum == 12L && got.map(_._4).sum == 6L)
  }

  test("kcoreCensus: a triangle survives the 2-core, a pendant chain " +
      "peels over successive rounds") {
    // triangle 1-2-3 plus chain 3-4-5: round 1 drops 5 (deg 1), round 2
    // drops 4 (deg 1 after losing 5); the triangle is the 2-core
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    def hist(rounds: Int) =
      Graphs.kcoreCensus(edges, k = 2, rounds = rounds,
          symmetrizeInput = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // after ONE round only node 5 is gone: 4 has deg 1 now (not yet
    // peeled - synchronous semantics), 3 had deg 3
    assert(hist(1) == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    // converged from round 2 on: the triangle, all degree 2
    assert(hist(2) == Seq((2L, 3L)))
    assert(hist(4) == Seq((2L, 3L)))
  }

  test("ccCensus: disjoint components converge to their min id; bounded " +
      "rounds carry exactly the R-hop min") {
    // two disjoint paths: 1-2-3-4-5 and 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    def run(rounds: Int) =
      Graphs.ccCensus(edges, rounds, k = 25, symmetrizeInput = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // converged (diameter 4 needs 4 rounds): components {1..5} and {10,11}
    assert(run(4) == Seq((1L, 5L), (10L, 2L)))
    // after 2 rounds each node carries the min within 2 hops: 1,2,3 -> 1;
    // 4 -> 2 (node 1 is 3 hops away); 5 -> 3
    assert(run(2) == Seq((1L, 3L), (10L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ccCensus on a directed (unsymmetrized) list: dst-only sinks " +
      "self-seed, so every node is in the census") {
    // 1→2→3: node 3 never appears as a source. Without the both-endpoint
    // seed it would vanish from the census entirely (the r13-ADVICE bug).
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graphs.ccCensus(edges, rounds = 3, k = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // labels spread src→dst only: 3 rounds push 1 down the whole chain
    assert(got == Seq((1L, 3L)))
    assert(got.map(_._2).sum == 3L) // all 3 nodes accounted for
    // one round spreads one hop: 1→{1}, 2→{1 via 1→2}, 3→{2 via 2→3}
    val r1 = Graphs.ccCensus(edges, rounds = 1, k = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 == Seq((1L, 2L), (2L, 1L)))
  }

  test("kcoreCensus on a directed (unsymmetrized) list peels on TOTAL " +
      "degree (in + out), not out-degree") {
    // directed triangle: every node has out-degree 1 but total degree 2.
    // Out-degree-only peeling (the r13-ADVICE bug) would empty the
    // 2-core; total-degree peeling keeps all three nodes.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graphs.kcoreCensus(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 3L)))
    // a pendant out-edge 1→4 peels: node 4 has total degree 1
    val withPendant = edges.unionByName(Seq((1L, 4L)).toDF("src", "dst"))
    val got2 = Graphs.kcoreCensus(withPendant, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((2L, 3L)))
  }

  test("r17: every kernel returns IDENTICAL rows under both join " +
      "strategies of the broadcast-node-frame lever") {
    // the bcastIfSmall lever (timing adjudicated in SCALE.md, round
    // 17) must be invisible in values: all kernels sum through
    // exact-decimal or integer aggregation, so the join
    // strategy cannot move a result. Pin that contract in the suite —
    // a future kernel edit that makes a result depend on partitioning
    // (e.g. an IEEE-double fold) would fail HERE, not in a probe.
    // The arms set the session threshold bcastAuto reads: -1 (never
    // broadcast) and the default (these 7-node frames always fit).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (6L, 7L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    val arms = try Seq(Some("-1"), None).map { thr =>
      thr.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(Graphs.bcastAuto(spark, 7L) == thr.isEmpty)
      (rows(Graphs.pageRankTopK(edges, iters = 3, k = 10,
         symmetrizeInput = true)),
       rows(Graphs.labelPropCensus(edges, iters = 2, k = 10,
         symmetrizeInput = true)),
       rows(Graphs.modularityCensus(edges, iters = 2, k = 10,
         symmetrizeInput = true)),
       rows(Graphs.ccCensus(edges, rounds = 3, k = 10,
         symmetrizeInput = true)),
       rows(Graphs.hitsTopK(edges, iters = 2, k = 5)),
       rows(Graphs.bfsCensus(edges, seedPred = col("id") === 1, maxHops = 3,
         symmetrizeInput = true)),
       rows(Graphs.kcoreCensus(edges, k = 2, rounds = 3,
         symmetrizeInput = true)))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(arms(0) == arms(1))
  }
}
