package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Tables.dsum

/** Iterative graph analytics on edge frames — PageRank (Brin & Page
  * 1998), the standard entity-importance / link-quality signal a web-
  * corpus pipeline feeds into document filtering. Complements
  * [[Dedup.connectedComponents]] (the other fixpoint iteration in this
  * engine).
  *
  * Determinism: the per-destination contribution sum is an exact-
  * decimal [[dsum]] (order-independent), and every scalar constant is
  * a plain IEEE double — so a fixed-iteration run is BIT-identical
  * across partitionings, engines, and reruns, which is what lets the
  * catalog grade a24 hash-exact against chained SQL CTEs.
  *
  * Scale shape: each iteration is one join of the rank frame with the
  * degree-annotated edges (both hash-partitioned on the source key —
  * co-partitioned after round 1, so AQE reuses the layout) plus one
  * partial-aggregable dst-keyed sum. The node list and N ride a
  * broadcast. The lazy renditions ([[pageRank]], [[hits]], [[bfsHops]])
  * suit the suites' few-round fixtures; the eager kernels run every
  * round in a [[Rounds]] scope, which truncates each round's lineage
  * and releases every round it stored, on success and on failure.
  *
  * Fault model (the [[Rounds]] truncation rule): rounds are local
  * checkpoints by default, so a lost executor block fails the query;
  * when the session's SparkContext has a checkpoint dir they are
  * reliable checkpoints, re-read from the dir after a loss and deleted
  * from it when released.
  */
object Graphs {

  /** `iters` rounds of damped PageRank over `edges(src, dst)`.
    * Dangling nodes are the caller's contract: every node must appear
    * as a source (symmetrize the edge set for undirected/bipartite
    * graphs — see [[symmetrize]]); otherwise out-degree-0 mass leaks,
    * as in the classic formulation without the dangling patch.
    * Returns (id, pr). */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    // keep ONLY (src, dst) — extra caller columns (a prior "pr", a
    // "__deg") would collide with internal names in step's join, and a
    // wide payload would otherwise ride every round (the labelProp/cc/
    // kcore census siblings all narrow the same way)
    val e = edges.select("src", "dst")
    val deg = e.groupBy("src")
      .agg(count(lit(1)).cast("double").as("__deg"))
    val edgesDeg = e.join(deg, "src")
    val nodes = e.select(col("src").as("id")).distinct()
    pageRankOver(edgesDeg, nodes, iters, damping)
  }

  /** The lazy iteration core over a pre-built degree-annotated edge
    * frame + node list: the general (dangling-tolerant, in-plan N)
    * rendition. The eager production path with the driver-known-N and
    * no-dangling levers is [[pageRankTopK]]. */
  private def pageRankOver(edgesDeg: DataFrame, nodes: DataFrame,
                           iters: Int, damping: Double): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping=$damping not in (0,1)")
    val nTot =
      broadcast(nodes.agg(count(lit(1)).cast("double").as("__n")))
    def withN(df: DataFrame): DataFrame = df.crossJoin(nTot)
    val base: Column = lit(1.0 - damping) / col("__n")
    var pr = withN(nodes).select(col("id"), (lit(1.0) / col("__n")).as("pr"))
    for (_ <- 1 to iters)
      pr = step(edgesDeg, pr, base, damping, completeInbound = false,
        nodes, withN)
    pr
  }

  /** The broadcast decision the optimizer cannot make for the
    * iterative kernels here: each round's node-sized frame (ranks,
    * labels, distances, scores) is a rewrapped LogicalRDD with NO
    * stats, so Spark plans the per-round join against the cached edge
    * list as an edge-sized exchange+sort EVERY round. The driver,
    * however, knows the frame's exact row count (the per-round
    * materializing count) — when that fits the session's own broadcast
    * threshold (~48 bytes/row unsafe-row footprint for two longs or a
    * long+double), the explicit hint makes the join map-side and the
    * edge cache is probed in place. Over the threshold (a 100TB-scale
    * node set) the shuffle join stands — measured at the boundary: a
    * FORCED broadcast of a ~1M-node rank frame ranged wash-to-loss
    * across the two probe batteries (min ratio 0.97 loaded, 1.10 on
    * the re-leg — SCALE.md, round 17), so the conservative auto gate
    * gives up nothing and forcing past it buys nothing. */
  private[operators] def bcastAuto(
      spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    thr > 0 && n * 48L <= thr
  }

  // package-visible: Dedup.connectedComponents' hash-min loop has the
  // identical per-round shape (edge cache ⋈ stats-less node frame)
  private[operators] def bcastIfSmall(df: DataFrame, n: Long): DataFrame =
    if (bcastAuto(df.sparkSession, n)) broadcast(df) else df

  /** One rank round. Name-based (USING) joins throughout: column-
    * reference joins on frames rebuilt from the same `nodes`/`edges`
    * vals would hit self-join attribute ambiguity from the second
    * round on. */
  private def step(edgesDeg: DataFrame, pr: DataFrame, base: Column,
                   damping: Double, completeInbound: Boolean,
                   nodes: DataFrame,
                   withN: DataFrame => DataFrame,
                   bcastPr: Boolean = false): DataFrame = {
    // bcastPr: the rank frame is node-sized and the edge cache is the
    // big side — broadcasting pr makes the contribution join map-side,
    // so the EDGE-SIZED exchange+sort that otherwise re-runs every
    // round disappears from the loop (the cached edge partitions are
    // probed in place); the one remaining per-round shuffle is the
    // groupBy(dst), whose partial dsum reduces map-side to ≤ nodes per
    // task. The eager path gates this on the measured node count vs
    // the session's broadcast threshold (pageRankTopK) — a
    // billion-node graph falls back to the shuffle join; rank values
    // are IDENTICAL either way (dsum is exact-decimal, so per-group
    // summation order cannot move the result).
    val prSrc = pr.withColumnRenamed("id", "src")
    val contrib = edgesDeg
      .join(if (bcastPr) broadcast(prSrc) else prSrc, Seq("src"))
      .select(col("dst"), (col("pr") / col("__deg")).as("__share"))
      .groupBy("dst").agg(dsum(col("__share")).as("__s"))
    if (completeInbound)
      withN(contrib).select(col("dst").as("id"),
        (base + lit(damping) * col("__s")).as("pr"))
    else
      withN(nodes
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left"))
        .select(col("id"),
          (base + lit(damping) * coalesce(col("__s"), lit(0.0))).as("pr"))
  }

  /** [[pageRank]] + top-k extraction with the iteration-friendly
    * resource shape: the degree-annotated edge frame and the node list
    * are truncated and stored ONCE (the lazy unrolled plan re-expands
    * both subtrees every round — at 5 rounds that is 5× the edge-build
    * join), each round is materialized and re-wrapped as a fresh
    * LogicalRDD (the lazy chain re-optimizes the whole remaining tree at
    * every adaptive stage, an O(iters²) optimizer bill), the k
    * highest-ranked nodes are collected (k rows — driver-sized by
    * contract), and the [[Rounds]] scope drops every stored round before
    * returning a local relation: a long-lived session accumulates
    * nothing. Ranks are identical to the lazy path — GraphsSuite pins
    * it.
    *
    * `symmetrizeInput = true` treats `edges` as a DIRECTED edge list
    * and unions both directions AFTER truncating it — a lazy
    * `symmetrize(expensiveBuild)` embeds the build subtree twice (and
    * the deg/nodes derivations twice more), so an expensive upstream
    * join would evaluate ~4×; truncate-then-union evaluates it once.
    * A symmetrized graph also guarantees every node has inbound edges,
    * so each round skips the left join that gives inbound-free nodes
    * their base rank.
    *
    * `onRound(i, seconds)` receives each round's wall clock after its
    * materializing count — the hook the `ScaleProbes` graph leg uses to
    * pin flat per-round time over 25 rounds; the default no-op costs
    * nothing on graded paths. */
  def pageRankTopK(edges: DataFrame, iters: Int, k: Int,
                   damping: Double = 0.85,
                   symmetrizeInput: Boolean = false,
                   onRound: (Int, Double) => Unit = (_, _) => ())
      : DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(damping > 0 && damping < 1, s"damping=$damping not in (0,1)")
    val spark = edges.sparkSession
    // narrow to (src, dst) BEFORE materializing — extra caller columns
    // (e.g. a prior "pr" from re-ranking a joined frame, or "__deg")
    // would hit an ambiguous-reference AnalysisException inside step's
    // join, and a wide payload would be stored in edgesDeg and ride
    // every round (same defensive select as the census siblings)
    val narrowed = edges.select("src", "dst")
    Rounds.local(spark) { r =>
      // base frames are lineage-TRUNCATED, not plain persists: the
      // per-round task binaries otherwise carry the whole edge-build
      // plan (see Rounds)
      val input = if (symmetrizeInput) r.truncate(narrowed) else narrowed
      val full = if (symmetrizeInput) symmetrize(input) else input
      // deg has exactly one row per node (every node is a source, per
      // the operator contract) — so it IS the node list, and its count
      // is N: no separate distinct pass over the edge set
      val deg = r.truncate(full.groupBy("src")
        .agg(count(lit(1)).cast("double").as("__deg")))
      val nodes = deg.select(col("src").as("id"))
      val edgesDeg = r.truncate(full.join(deg, "src"))
      // fills in dependency order: deg (node-sized) first — its count
      // is N — then the edge frame, after which the input blocks are
      // dead weight and drop early (edgesDeg is truncated: dropping its
      // upstream cannot strand it)
      val n = r.count(deg)
      r.count(edgesDeg)
      r.release(input)
      // the bcastIfSmall decision (see its scaladoc), driver-known n:
      // the rank frame is exactly n (id, pr) rows every round
      val bcastPr = bcastAuto(spark, n)
      val base = lit(1.0 - damping) / lit(n.toDouble)
      var pr = nodes.select(col("id"), (lit(1.0) / lit(n.toDouble)).as("pr"))
      for (i <- 1 to iters) {
        val tRound0 = System.nanoTime()
        pr = r.step(pr, step(edgesDeg, pr, base, damping,
          completeInbound = symmetrizeInput, nodes, identity,
          bcastPr = bcastPr))._1
        onRound(i, (System.nanoTime() - tRound0) / 1e9)
      }
      pr.orderBy(col("pr").desc, col("id")).limit(k)
    }
  }

  /** Both directions of an edge list — the undirected rendition that
    * also guarantees [[pageRank]]'s every-node-is-a-source contract for
    * bipartite graphs. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select("src", "dst")
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Exact triangle census over an undirected graph given as CANONICAL
    * edges (src < dst, deduplicated): one row
    * (n_edges, n_wedges, n_triangles) — all integers, hash-exact in any
    * engine.
    *
    * Degree-ordered orientation (Schank & Wagner 2005; the MapReduce
    * rendition is Suri & Vassilvitskii 2011): orient u→v iff
    * (deg u, u) < (deg v, v) under the total order, chain oriented
    * edges u→m→w into wedges, and confirm the closing u→w edge with a
    * semi join. Every triangle is counted EXACTLY once (its three
    * nodes have a unique orientation-sorted order). The orientation is
    * the scale lever: out-degree under it is O(√m) even at a star node,
    * so the wedge join's fan-out — the step that explodes on a naive
    * adjacency chain — is bounded per task; AQE's skew splitting covers
    * the residual imbalance. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val sym = symmetrize(edges)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("__d"))
    val o = sym
      .join(deg.select(col("src").as("src"), col("__d").as("__du")), "src")
      .join(deg.select(col("src").as("dst"), col("__d").as("__dv")), "dst")
      .filter(col("__du") < col("__dv") ||
        (col("__du") === col("__dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
    val wedges = o.as("e1").join(o.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e1.v").as("m"),
        col("e2.v").as("w"))
    val tri = wedges.as("wd").join(o.as("e3"),
      col("wd.u") === col("e3.u") && col("wd.w") === col("e3.v"),
      "left_semi")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
  }

  /** One normalized HITS score vector: L2 normalization through the
    * exact-decimal sum of squares and a correctly-rounded sqrt, so
    * scores are BIT-identical across engines/partitionings (same
    * discipline as [[pageRank]]). The input subtree is referenced
    * twice (z aggregate + crossJoin) — callers on the eager path
    * rewrap `scores` first so that costs two cache reads, not two
    * recomputes. */
  private def hitsNormalized(scores: DataFrame, key: String): DataFrame = {
    val z = broadcast(scores.agg(
      sqrt(dsum(col("score") * col("score"))).as("__z")))
    scores.crossJoin(z)
      .select(col(key), (col("score") / col("__z")).as("score"))
  }

  /** `iters` rounds of HITS hubs-and-authorities (Kleinberg 1999) over
    * DIRECTED edges — the natural importance pair for bipartite graphs
    * (here: customers as hubs, suppliers as authorities). Each half-
    * round is one edge join + one partial-aggregable sum.
    * Returns (role='hub'|'authority', id, score).
    *
    * LAZY composition form: each half-round references the previous
    * score vector under both the normalizer and the next join, so the
    * plan roughly doubles per half-round — fine for the 1-2 iteration
    * fixtures the suites pin, wrong for production. Real runs use
    * [[hitsTopK]], which materializes each half-round. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    var hub = edges.select(col("src")).distinct()
      .select(col("src"), lit(1.0).as("score"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = hitsNormalized(
        edges.join(hub, Seq("src"))
          .groupBy("dst").agg(dsum(col("score")).as("score")), "dst")
      hub = hitsNormalized(
        edges.join(auth, Seq("dst")) // name-join: no self-join ambiguity
          .groupBy("src").agg(dsum(col("score")).as("score")), "src")
    }
    hub.select(lit("hub").as("role"), col("src").as("id"), col("score"))
      .unionByName(auth.select(lit("authority").as("role"),
        col("dst").as("id"), col("score")))
  }

  /** [[hits]] + top-k extraction with the eager resource shape: the
    * edge frame is truncated once, each half-round's UN-normalized
    * score vector is materialized and re-wrapped (so normalization's
    * double reference and the next join read stored blocks, and the
    * plan stays one half-round deep), the k best per role are collected
    * (2k rows — driver-sized by contract) and the [[Rounds]] scope
    * drops every stored frame before returning a local relation.
    * Scores identical to the lazy path — GraphsSuite pins it.
    * Returns (role, id, score, rk) with rk = 1..k per role by
    * (score DESC, id). */
  def hitsTopK(edges: DataFrame, iters: Int, k: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(k >= 1, s"k=$k must be >= 1")
    Rounds.local(edges.sparkSession) { r =>
      val (e, _) = r.materialize(edges.select("src", "dst"))
      // each half-round's score frame is one row per node on its side
      // of the (possibly bipartite) graph — nScores is that count,
      // measured by the PREVIOUS half-round's materializing count, so
      // the bcastIfSmall gate is per-side and free. `stale` is the raw
      // frame two half-rounds back, on the same side: the one between
      // was computed from it and is already materialized.
      def halfRound(stale: DataFrame, scores: DataFrame, nScores: Long,
                    joinKey: String, groupKey: String): (DataFrame, Long) =
        r.step(stale, e.join(bcastIfSmall(scores, nScores), Seq(joinKey))
          .groupBy(groupKey).agg(dsum(col("score")).as("score")))
      // seed materialized for the same reason as lpaAssign: its count
      // feeds the gate, and round 1 stops re-running the distinct
      var (hubRaw, nHub) = r.materialize(e.select(col("src")).distinct()
        .select(col("src"), lit(1.0).as("score")))
      var hub = hubRaw
      var authRaw, auth: DataFrame = null
      var nAuth = 0L
      for (_ <- 1 to iters) {
        val (a, na) = halfRound(authRaw, hub, nHub, "src", "dst")
        authRaw = a; auth = hitsNormalized(a, "dst"); nAuth = na
        val (h, nh) = halfRound(hubRaw, auth, nAuth, "dst", "src")
        hubRaw = h; hub = hitsNormalized(h, "src"); nHub = nh
      }
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("role")
        .orderBy(col("score").desc, col("id"))
      hub
        .select(lit("hub").as("role"), col("src").as("id"), col("score"))
        .unionByName(auth.select(lit("authority").as("role"),
          col("dst").as("id"), col("score")))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= k)
        .orderBy("role", "rk")
    }
  }

  /** Bounded-depth BFS: minimum hop distance from a seed set, up to
    * `maxHops`, over directed `edges(src, dst)` (symmetrize first for
    * undirected reach). Pure integer arithmetic — hash-exact in any
    * engine. Returns (id, dist) for every node within reach.
    *
    * Each round is one frontier-edge join + a partial-aggregable min —
    * the textbook distributed BFS. LAZY composition form: `dist` feeds
    * both the frontier join and the union, so the plan roughly DOUBLES
    * per round — fine for the ≤3-hop fixtures the suites pin, wrong
    * for deeper traversals. Real runs use [[bfsCensus]] (or wrap this
    * loop with the connectedComponents per-round materialization). */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
              maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops must be >= 0")
    var dist = seeds.select(col("id")).distinct()
      .select(col("id"), lit(0).as("dist"))
    for (_ <- 1 to maxHops) {
      val expanded = edges
        .join(dist.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + lit(1)).as("dist"))
      dist = dist.unionByName(expanded)
        .groupBy("id").agg(min("dist").as("dist"))
    }
    dist
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara 2007) over an undirected graph, graded as a
    * community census. Every node starts labeled with its own id; each
    * round, every node adopts the label most frequent among its
    * neighbors, ties broken toward the SMALLEST label — with a fixed
    * round count that argmax is a total order, so the assignment is
    * deterministic all-integer arithmetic and the census hash-matches
    * any engine replaying the same rounds (the a24/a29 discipline; the
    * known synchronous-LPA oscillation on bipartite graphs is
    * acceptable for a fixed-round fixture and disappears under the
    * async variants production schedulers use).
    *
    * Scale shape: each round is one edge ⋈ label join (src-keyed, the
    * layout AQE reuses across rounds), one partial-aggregable
    * (dst, lbl) count, and one per-dst argmax window — all shuffles
    * keyed by node id, never materializing more than the (node,
    * neighbor-label) distinct pairs. Rounds are materialized and
    * re-wrapped ([[Rounds]]) so the plan stays one round deep;
    * the k largest communities (k rows — driver-sized by contract) are
    * collected and every stored round dropped.
    * Returns (community, n_members, min_id, max_id), largest first,
    * label tie-break. */
  def labelPropCensus(edges: DataFrame, iters: Int, k: Int,
                      symmetrizeInput: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(k >= 1, s"k=$k must be >= 1")
    Rounds.local(edges.sparkSession) { r =>
      val (input, _) = r.materialize(
        if (symmetrizeInput) edges else edges.select("src", "dst"))
      val full = if (symmetrizeInput) symmetrize(input) else input
      val (lbl, _) = lpaAssign(r, full, iters)
      lbl.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min("id").as("min_id"),
          max("id").as("max_id"))
        .orderBy(desc("n_members"), col("community"))
        .limit(k)
    }
  }

  /** The synchronous-LPA round loop shared by [[labelPropCensus]] and
    * [[modularityCensus]]: every node starts labeled with its own id
    * and adopts its neighbors' most frequent label each round (ties to
    * the smallest label). `full` must be the symmetrized edge list.
    * Returns the final (id, lbl) frame, stored in the caller's scope
    * `r`, and the node count (the label frame is n rows every round, so
    * callers reuse it instead of recounting). */
  private def lpaAssign(r: Rounds, full: DataFrame, iters: Int)
      : (DataFrame, Long) = {
    // symmetrized contract: every node appears as a source, so the
    // source set IS the node list — and every node has neighbors, so
    // the inner join below re-labels every node each round
    import org.apache.spark.sql.expressions.Window
    // winning label per node = rank 1 of (count desc, label asc): most
    // frequent, ties to the SMALLEST label — the rule the oracles
    // replay. The rank-1 window IS the scale shape here, not a naive
    // one: Spark's InferWindowGroupLimit plants a Partial
    // WindowGroupLimit BELOW the exchange, so each map task ships at
    // most one (count, label) row per node — the same shuffle volume a
    // partial aggregation would. The tempting max(struct(__n, −lbl))
    // rewrite was measured and plan-read (round 16): a struct buffer is
    // not hash-aggregable, so it falls to SortAggregate with the same
    // map-side sort this shape pays, flat at sf0.1 (a36 8.35 → 9.19 s,
    // a37 10.04 → 9.42 s) — kept the idiomatic window.
    val win = Window.partitionBy("dst").orderBy(desc("__n"), col("lbl"))
    // materialize the seed labels BEFORE the loop: round 1's join would
    // otherwise re-run the distinct inside its own plan, and the
    // materializing count is exactly the node count the bcastIfSmall
    // gate needs (the label frame is n rows EVERY round, so one
    // decision serves the whole loop)
    val (lbl0, n) = r.materialize(full.select(col("src").as("id"))
      .distinct().select(col("id"), col("id").as("lbl")))
    var lbl = lbl0
    for (_ <- 1 to iters)
      lbl = r.step(lbl,
        full.join(bcastIfSmall(lbl.withColumnRenamed("id", "src"), n),
            Seq("src"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("__n"))
          .withColumn("__rk", row_number().over(win))
          .filter(col("__rk") === 1)
          .select(col("dst").as("id"), col("lbl")))._1
    (lbl, n)
  }

  /** Newman modularity census of the [[labelPropCensus]] partition
    * (Newman & Girvan 2004 §II): for each detected community c,
    * Q_c = e_c/m − (d_c/2m)² — intra-community edge fraction minus the
    * degree-null expectation — reported for the k largest communities.
    * Σ Q_c over ALL communities is the partition's modularity; emitting
    * per-community terms keeps every output an exact integer or ONE
    * IEEE division/product of exact integers (no cross-community sum
    * whose order could drift), so the table hash-matches any engine
    * replaying the same LPA rounds.
    *
    * Scale shape: the LPA loop is [[lpaAssign]] (per-round
    * materialization, node-keyed shuffles); the modularity pass is two
    * node-keyed label joins over the stored edge list plus
    * community-bounded aggregates. 2m arrives as a driver scalar from
    * the edge frame's materializing count (the k×k Gram convention),
    * never a global window over data rows. */
  def modularityCensus(edges: DataFrame, iters: Int, k: Int,
                       symmetrizeInput: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(k >= 1, s"k=$k must be >= 1")
    Rounds.local(edges.sparkSession) { r =>
      // = 2m after symmetrize: both directions of every edge; the
      // directed-input count is driver-known from the materializing
      // count, so no separate full.count() job
      val (input, nDirected) = r.materialize(
        if (symmetrizeInput) edges else edges.select("src", "dst"))
      val full = if (symmetrizeInput) symmetrize(input) else input
      val m2 = if (symmetrizeInput) 2L * nDirected else nDirected
      val (lbl, nL) = lpaAssign(r, full, iters)
      val deg = full.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("__d"))
      val dc = deg.join(lbl, Seq("id"))
        .groupBy(col("lbl"))
        .agg(sum(col("__d")).as("d_c"), count(lit(1)).as("n_members"))
      val ei = full
        .join(bcastIfSmall(
            lbl.select(col("id").as("src"), col("lbl").as("__ls")), nL),
          Seq("src"))
        .join(bcastIfSmall(
            lbl.select(col("id").as("dst"), col("lbl").as("__ld")), nL),
          Seq("dst"))
        .filter(col("__ls") === col("__ld"))
        .groupBy(col("__ls").as("lbl")).agg(count(lit(1)).as("__e2"))
      dc.join(ei, Seq("lbl"), "left")
        .na.fill(0L, Seq("__e2"))
        .select(col("lbl").as("community"), col("n_members"), col("d_c"),
          expr("__e2 div 2").as("e_intra"),
          (col("__e2").cast("double") / lit(m2.toDouble)
            - (col("d_c").cast("double") / lit(m2.toDouble))
              * (col("d_c").cast("double") / lit(m2.toDouble)))
            .as("q_c"))
        .orderBy(desc("n_members"), col("community"))
        .limit(k)
    }
  }

  /** Eager BFS census: [[bfsHops]] semantics with the production
    * resource shape — edges truncated once (`symmetrizeInput = true`
    * truncates the DIRECTED list and unions the stored copy, exactly as
    * in [[pageRankTopK]]), seeds = graph nodes satisfying `seedPred`,
    * each round materialized/re-wrapped so the plan stays one round
    * deep, and the per-distance census
    * (dist, n_nodes, min_id, max_id) — a ≤ maxHops+1-row result —
    * collected into a local relation with every stored round dropped. */
  def bfsCensus(edges: DataFrame, seedPred: Column, maxHops: Int,
                symmetrizeInput: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops must be >= 0")
    Rounds.local(edges.sparkSession) { r =>
      val (input, _) = r.materialize(
        if (symmetrizeInput) edges else edges.select("src", "dst"))
      val full = if (symmetrizeInput) symmetrize(input) else input
      // the reached set GROWS round to round (seeds → ≤ all nodes), so
      // unlike the fixed-n kernels the bcastIfSmall gate re-decides
      // per round from the materializing count the loop already pays
      var (dist, nDist) = r.materialize(
        full.select(col("src").as("id")).distinct()
          .filter(seedPred)
          .select(col("id"), lit(0).as("dist")))
      for (_ <- 1 to maxHops) {
        val expanded = full
          .join(bcastIfSmall(dist.withColumnRenamed("id", "src"), nDist),
            Seq("src"))
          .select(col("dst").as("id"), (col("dist") + lit(1)).as("dist"))
        val (next, n) = r.step(dist, dist.unionByName(expanded)
          .groupBy("id").agg(min("dist").as("dist")))
        dist = next; nDist = n
      }
      dist.groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"), min("id").as("min_id"),
          max("id").as("max_id"))
        .orderBy("dist")
    }
  }

  /** Min-label connected-components census (the label-spreading half
    * of HashToMin, Rastogi et al. 2013): every node starts labeled
    * with its own id and each synchronous round takes the min of its
    * own label and its neighbors' labels, so after R rounds every node
    * carries the smallest id within R hops — converged components all
    * carry their global min id. Fixed-round semantics (the a36/a38
    * convention): the census is deterministic and engine-replayable
    * whether or not the spread has converged. Reports the k largest
    * label groups (size DESC, label ASC).
    *
    * Scale shape: per round, one node-keyed join + partial-aggregable
    * min, materialized per round (the [[lpaAssign]] eager pattern).
    * Label rows are two longs — nothing edge-sized accumulates. */
  def ccCensus(edges: DataFrame, rounds: Int, k: Int,
               symmetrizeInput: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    require(k >= 1, s"k=$k must be >= 1")
    Rounds.local(edges.sparkSession) { r =>
      val (input, _) = r.materialize(
        if (symmetrizeInput) edges else edges.select("src", "dst"))
      val full = if (symmetrizeInput) symmetrize(input) else input
      // seed from BOTH endpoints: with symmetrizeInput=true the source
      // set already covers every node (so skip the second scan), but a
      // caller-supplied list may have dst-only sinks — without a self
      // seed they'd never carry their own id and a component's label
      // need not be its min id. (Labels still spread src→dst only, so
      // the min-id-per-component guarantee needs a symmetric list —
      // either symmetrizeInput=true or a pre-symmetrized input.)
      val nodes =
        if (symmetrizeInput) full.select(col("src").as("id")).distinct()
        else full.select(col("src").as("id"))
          .unionByName(full.select(col("dst").as("id"))).distinct()
      // materialize the seed labels before the loop: the count is the
      // node count the bcastIfSmall gate needs (the label frame is n
      // rows every round — one decision serves the whole spread), and
      // round 1 stops re-running the distinct inside its own plan
      val (lbl0, n) =
        r.materialize(nodes.select(col("id"), col("id").as("lbl")))
      var lbl = lbl0
      for (_ <- 1 to rounds) {
        val spread = full
          .join(bcastIfSmall(lbl.withColumnRenamed("id", "src"), n),
            Seq("src"))
          .select(col("dst").as("id"), col("lbl"))
        lbl = r.step(lbl, lbl.unionByName(spread)
          .groupBy("id").agg(min("lbl").as("lbl")))._1
      }
      lbl.groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("n_members"), min("id").as("min_id"),
          max("id").as("max_id"))
        .orderBy(desc("n_members"), col("component"))
        .limit(k)
    }
  }

  /** Synchronous k-core peeling census (Batagelj & Zaveršnik 2003 —
    * the graph-quality screen web/citation corpora run before link
    * analysis): each of `rounds` rounds computes current degrees over
    * the surviving subgraph and removes EVERY node of degree < k at
    * once; after the fixed rounds, the census reports the surviving
    * degree histogram (degree, node count, id range). Fixed-round
    * semantics (the a36 convention): the result is deterministic and
    * engine-replayable whether or not the peel has converged — a
    * converged graph just peels nothing in later rounds.
    *
    * Scale shape: per round, one node-keyed partial-aggregable degree
    * count over the INDUCED subgraph — the edge list stays stored for
    * the whole peel and the loop state is only the NODE-sized survivor
    * set (rewrapped per round: bounded plan depth, no lineage blow-up,
    * and the rewrap is paid on nodes, not edges). The round-16 probe
    * measured the old edge-rewrap shape at ~4× per round once the edge
    * set left the columnar cache (9.7 → 36.4 s/round at 11.3M edges);
    * inducing against the stored edges keeps every round at one rate.
    * Equivalence: S_i ⊆ S_{i−1}, so inducing the ORIGINAL edges by S_i
    * equals filtering round i−1's surviving edges — same degrees, same
    * census. All outputs are exact integers → full hash oracle.
    *
    * `onRound(i, seconds)` receives each round's wall clock after its
    * materializing count (the [[pageRankTopK]] hook), so the scale
    * probe can pin per-round FLATNESS: a spill or lineage pathology
    * shows as monotone per-round growth. */
  def kcoreCensus(edges: DataFrame, k: Int, rounds: Int,
                  symmetrizeInput: Boolean = false,
                  onRound: (Int, Double) => Unit = (_, _) => ())
      : DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    Rounds.local(edges.sparkSession) { r =>
      val (input, _) = r.materialize(
        if (symmetrizeInput) edges else edges.select("src", "dst"))
      val full = if (symmetrizeInput) symmetrize(input) else input
      // survivor node set; null = every node (round 1 needs no induce);
      // nSurv from the round's materializing count feeds the
      // bcastIfSmall gate on the two semi joins (the survivor set only
      // SHRINKS, so once broadcastable it stays broadcastable). ONE
      // neutral-named frame serves BOTH endpoint filters via condition
      // joins: two differently-projected copies (surv vs its
      // dst-rename) canonicalize to different plans, so Spark built two
      // separate broadcast exchanges of the identical node set per
      // round — with a shared subtree the second is a ReusedExchange
      // (r17 review)
      var surv: DataFrame = null
      var nSurv = 0L
      def induced(): DataFrame =
        if (surv == null) full
        else {
          val b = bcastIfSmall(surv.select(col("src").as("__node")), nSurv)
          full
            .join(b, col("src") === col("__node"), "left_semi")
            .join(b, col("dst") === col("__node"), "left_semi")
            .select("src", "dst")
        }
      // on a symmetric list a node's degree IS its out-degree (one
      // scan); a caller-supplied directed list must count BOTH
      // incidences or dst-only sinks peel immediately and hubs survive
      // on out-edges alone
      def degrees(e: DataFrame): DataFrame =
        if (symmetrizeInput) e.groupBy("src").agg(count(lit(1)).as("__d"))
        else e.select(col("src"))
          .unionByName(e.select(col("dst").as("src")))
          .groupBy("src").agg(count(lit(1)).as("__d"))
      for (i <- 1 to rounds) {
        val tRound0 = System.nanoTime()
        val (next, n) = r.step(surv,
          degrees(induced()).filter(col("__d") >= k).select("src"))
        surv = next; nSurv = n
        onRound(i, (System.nanoTime() - tRound0) / 1e9)
      }
      degrees(induced())
        .withColumnRenamed("__d", "degree")
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"), min("src").as("min_id"),
          max("src").as("max_id"))
        .orderBy("degree")
    }
  }
}
