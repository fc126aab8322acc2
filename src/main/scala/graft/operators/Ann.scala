package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate nearest neighbour search over an `Array[Float]` embedding
  * column.
  *
  * == Cache lifecycle (r17 advice) ==
  * Operators noted as "leased" ([[nearDupLsh]]'s bucket frame,
  * [[semanticDedup]]'s assigned-cells frame) pin internal
  * MEMORY_AND_DISK Dataset caches via `graft.util.QueryLeases` — these
  * are NOT ContextCleaner-reclaimed. The per-round harnesses
  * (Verify/Bench) drain them after each query; any other long-lived
  * caller must call `QueryLeases.releaseAll()` once the returned frame
  * is materialized, or each invocation leaves one cache entry
  * resident. [[semanticDedup]] additionally materializes its cells
  * frame EAGERLY (one count job at call time) — the call is not a pure
  * lazy transformation.
  *
  * == Choosing a path ==
  *
  * | path | candidate cost | what it buys | when |
  * |------|----------------|--------------|------|
  * | brute force (AnnQueries.bruteForceTopK) | O(|Q|·n) exact | the oracle | small corpus / validation |
  * | [[annTopK]] LSH buckets | one (table, bucket) equi-join | no all-pairs, AQE-splittable | angular similarity, tunable (bits, tables) |
  * | [[ivfTopK]] IVF cells | one (cell) equi-join | data-adapted partitions (k-means) | clustered corpora; `nProbe` recovers boundary recall |
  * | [[pqTopK]] PQ ADC | one codes-only scan | ~16–32× less data touched per scored row | when even one float-vector scan is the bottleneck; `rerankFrom` restores exactness on survivors |
  * | [[ivfPqTopK]] IVF-PQ | broadcast probe join over (cell, codes) | both levers composed: |Q|·nProbe·(n/nCells) code-lookup scorings | the 100 TB default; all-cells+full-rerank degenerates to exact; `residual = true` is the classical Jégou §IV.B encoding (finer codes at equal bits) |
  * | [[nearDupLsh]] | bucketed pair join | exact-threshold pair output | near-duplicate detection (not top-k) |
  *
  * The levers compose: LSH/IVF bound WHICH pairs are scored, PQ bounds
  * WHAT each scoring touches, re-ranking restores exact ordering on the
  * few survivors. All assignments (bucket keys, cells, probes, codes)
  * are single fused codegen'd expressions over plan-constant arrays —
  * O(1) generated-code size regardless of table/cell/code count (the
  * per-constant expression-tree alternative stalls Janino near 8 KB of
  * generated bytecode; measured, SCALE.md).
  *
  * Scale path: random-hyperplane LSH (Charikar 2002). Each of `tables`
  * hash tables projects the vector onto `bits` seeded Gaussian hyperplanes
  * and packs the signs into a bucket key; a vector lands in `tables` buckets
  * total. Similar vectors (small angle) collide with probability
  * (1 − θ/π)^bits per table, OR-amplified across tables.
  *
  * 100 TB design: candidates come from ONE equi-join on (table, bucket) —
  * the all-pairs space is never formed. Hyperplanes are tiny literal
  * arrays compiled into the plan (no broadcast variables needed), the
  * projection is a codegen'd fold, and the final top-k is a
  * per-query-partition window over bucket-colliding rows only.
  * Recall tunes with (bits ↓, tables ↑) at higher join fan-out cost.
  */
object Ann {

  /** Deterministic seeded Gaussian hyperplanes (dim × bits per table). */
  private[operators] def hyperplanes(dim: Int, bits: Int, table: Int,
                                     seed: Long): Seq[Seq[Double]] = {
    val rng = new java.util.Random(seed * 7919L + table)
    Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Dot product of the embedding with a literal plane — a native
    * codegen'd expression (graft.expressions.FloatVecDotConst). */
  private def dotLit(vec: Column, plane: Seq[Double]): Column =
    graft.expressions.VectorExpressions.dotConst(vec, plane)

  /** (id, table, bucket) rows — `tables` rows per vector. All keys come
    * from ONE fused expression (graft.expressions.LshBucketKeys): a
    * per-plane expression tree grows with tables×bits and falls out of
    * the JIT above ~8 KB of generated bytecode (measured 3× slower than
    * interpreted at 256 planes), while the fused loop is O(1) code size
    * for any table count. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 bits: Int, tables: Int, seed: Long): DataFrame = {
    val planes =
      (0 until tables).flatMap(t => hyperplanes(dim, bits, t, seed))
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      posexplode(graft.expressions.VectorExpressions.lshKeys(
        col(vecCol), planes, dim, bits, tables)))
      .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
  }

  /** Exact cosine in plain doubles over float arrays — native codegen'd
    * dot products (the cross-engine hash-checkable decimal variant lives
    * in AnnQueries.cosineExact). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineF(a, b)

  /** LSH-bucketed approximate top-k: for each query vector, the k most
    * cosine-similar candidates among bucket collisions.
    *
    * The candidate join is NARROW — only (id, table, bucket) rides the
    * (table, bucket) equi-join, never the vectors — and the multi-table
    * collision dedup runs BEFORE scoring, on bare (qid, cid) pairs:
    * the [[nearDupLsh]] ordering, whose doc carries the measurement
    * (the reversed order — vectors through the bucket join, score per
    * collision, distinct last — was 20× slower at sf0.1, because with
    * `tables` hash tables each vector's dim-length array is shuffled
    * `tables` times and a colliding pair is re-scored up to `tables`
    * times; e03 runs 64 tables). Deduped pairs then fetch their vectors
    * with two id equi-joins (broadcast at small SF, AQE shuffle-hash at
    * scale) and score exactly once. Output rows are identical — cos is
    * functionally dependent on (qid, cid).
    *
    * PRECONDITION: `idCol` must be unique within `queries` and within
    * `cand` (the contract of every id-keyed operator here — ids are the
    * join keys). The collision dedup runs on bare (qid, cid) BEFORE the
    * vector fetch, so a duplicated id would fan out the id equi-joins
    * and the duplicate scored rows would occupy multiple top-k ranks
    * (the pre-r15 post-score `distinct` absorbed this silently — at the
    * cost of a corpus-sized extra shuffle per call; a malformed input
    * should be fixed at ingest, not laundered per query). */
  def annTopK(queries: DataFrame, cand: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, bits: Int = 12,
              tables: Int = 6, seed: Long = 42L): DataFrame = {
    val qb = lshBuckets(queries, idCol, vecCol, dim, bits, tables, seed)
      .select(col("table"), col("bucket"), col("id").as("qid"))
    val cb = lshBuckets(cand, idCol, vecCol, dim, bits, tables, seed)
      .select(col("table"), col("bucket"), col("id").as("cid"))
    val pairs = qb.join(cb, Seq("table", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .distinct()
    // self-norms are per-VECTOR quantities: project them once per row
    // below the id joins (a join boundary blocks CollapseProject from
    // inlining them back into the per-pair expression — the nearDupExact
    // discipline), so each collision pair pays ONE dot product, not
    // three. The arithmetic tree per pair is unchanged — dot/(√xx·√yy)
    // with the same operand order — so the float32 cos is bit-identical
    // to the inline cosine() form the hash-graded twins pinned.
    val dotF = graft.expressions.VectorExpressions.dotF _
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("__nq"))
    val cv = cand.select(col(idCol).as("cid"), col(vecCol).as("ce"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("__nc"))
    val scored = pairs.join(qv, "qid").join(cv, "cid")
      .select(col("qid"), col("cid"),
        (dotF(col("qe"), col("ce")) / (col("__nq") * col("__nc")))
          .cast("float").as("cos"))
    val win = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= k)
  }

  /** Default pair scorer: double-precision cosine, emitted as float32.
    * Query-layer callers that need cross-engine bit parity inject the
    * exact-decimal scorer (graft.queries.AnnQueries.cosineExact) instead. */
  private def cosineF32(a: Column, b: Column): Column =
    cosine(a, b).cast("float")

  /** Exact embedding near-duplicate pairs: every (id_a < id_b) with
    * cosine ≥ threshold, by brute force over the full pair space.
    *
    * The pair space is a non-equi theta join — a BroadcastNestedLoopJoin
    * with O(n²) pair evaluations. This is the small-corpus BASELINE and
    * the recall cross-check for [[nearDupLsh]] (see AnnSuite /
    * DedupSuite); the production near-dup path is [[nearDupLsh]].
    *
    * Two-phase scoring keeps the exact-decimal variant cheap: a
    * codegen'd double-precision cosine prefilter at (threshold − margin)
    * — margin ≫ the ~1e-15 double-vs-decimal drift — then `scorer` and
    * the final threshold only on the surviving ~0.2% of pairs, so the
    * output is bit-identical to scoring every pair with `scorer`.
    * Self-norms are projected once per row on each join side (the
    * projection sits below the join, which blocks CollapseProject from
    * inlining it into the per-pair filter), so each pair pays one dot
    * product, not three. */
  def nearDupExact(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double,
                   scorer: (Column, Column) => Column = cosineF32,
                   margin: Double = 0.01): DataFrame = {
    val dot = graft.expressions.VectorExpressions.dotF _
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("ea"),
      sqrt(dot(col(vecCol), col(vecCol))).as("na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("eb"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nb"))
    // dot ≥ (thr−margin)·|a||b| rather than dot/(|a||b|) ≥ thr−margin:
    // one multiply instead of a divide per pair; borderline FP drift is
    // inside the margin and the exact scorer decides membership anyway
    a.join(b, col("id_a") < col("id_b"))
      .filter(dot(col("ea"), col("eb")) >=
        lit(threshold - margin) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"),
        scorer(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= lit(threshold.toFloat))
  }

  /** LSH-bucketed embedding near-duplicate pairs — the production path.
    *
    * Candidates come from ONE equi-join on (table, bucket) over the
    * [[lshBuckets]] rows, mirroring how Dedup.nearDuplicates generates
    * text candidates from banded MinHash buckets: the all-pairs space is
    * never formed, so the plan is a hash-shuffle join that survives
    * 100× scale (and AQE can split a skewed bucket, which a theta join
    * cannot).
    *
    * The candidate join is NARROW — only (id, table, bucket) rides it,
    * never the vectors — and the multi-table collision dedup runs
    * BEFORE scoring, on bare (id_a, id_b) pairs. Measured at sf0.1 the
    * opposite order (vectors through the join, score per collision,
    * distinct last) was 20× slower: with `tables` hash tables a
    * colliding pair is scored up to `tables` times and two dim-length
    * arrays ride every join row. Deduped candidates then fetch their
    * vectors with two id equi-joins (broadcast at small SF, AQE
    * shuffle-hash at scale), pay one codegen'd double cosine prefilter
    * at (threshold − margin) with self-norms hoisted once per row, and
    * only prefilter survivors reach `scorer` and the final threshold.
    *
    * Recall is the LSH OR-amplification 1 − (1 − p^bits)^tables with
    * p = 1 − θ/π: tunable, not guaranteed — precision is exact because
    * every emitted pair passed `scorer` ≥ threshold. Near the default
    * production shape (bits = 16, tables = 8) buckets are sparse at
    * billions of rows; small fixtures with weak thresholds want fewer
    * bits and more tables (see queries.DedupQueries e02, which verifies
    * the chosen shape reproduces the exact-oracle pair set). */
  def nearDupLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 threshold: Double, bits: Int = 16, tables: Int = 8,
                 seed: Long = 42L,
                 scorer: (Column, Column) => Column = cosineF32,
                 margin: Double = 0.01): DataFrame = {
    val dot = graft.expressions.VectorExpressions.dotF _
    // pinned (r17): the bucket self-join broadcasts one side, and a
    // broadcast build side is never exchange-reused against the probe
    // side — unpinned, the tables x bits plane walk (exact-decimal on
    // the graded paths) evaluated once per branch. Same for the
    // vector+norm frame both pair ends attach. Leased: the returned
    // pair frame is lazy (QueryLeases scaladoc; harnesses drain).
    val bucketed = graft.util.QueryLeases.leased(
      lshBuckets(df, idCol, vecCol, dim, bits, tables, seed)
        .select("id", "table", "bucket")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = bucketed.withColumnRenamed("id", "id_a")
      .join(bucketed.withColumnRenamed("id", "id_b"), Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("ea"),
      sqrt(dot(col(vecCol), col(vecCol))).as("na"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("eb"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nb"))
    // same multiply-not-divide prefilter as nearDupExact
    cand.join(a, "id_a").join(b, "id_b")
      .filter(dot(col("ea"), col("eb")) >=
        lit(threshold - margin) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"),
        scorer(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= lit(threshold.toFloat))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster-
    * scoped semantic deduplication. Embeddings are clustered with the
    * spherical k-means already backing IVF; near-duplicate pairs are
    * searched ONLY within a cell; duplicate groups (connected
    * components of the pair graph) keep exactly one member — the one
    * with the LOWEST cosine to its cell centroid, the paper's
    * keep-the-outlier rule (retains the most diverse exemplar).
    *
    * Output: (id, cell, centroid_cos, cluster, keep) — one row per
    * input vector; singletons (no near-dup) form their own cluster and
    * are always kept. Downstream dedup = `.filter(col("keep"))`.
    *
    * Scale shape: the candidate join mirrors [[nearDupLsh]] — only
    * (id, cell) rides the self-join, vectors are fetched by id joins,
    * collisions pay the double prefilter before the exact scorer. Cost
    * follows CELL occupancy (Σ n_c², n_c ≈ n/nCells), the paper's own
    * tractability argument: nCells scales with corpus size so cells
    * stay bounded. Cluster resolution runs on bare id pairs
    * ([[Dedup.connectedComponents]]) — its final label generation stays
    * RDD-persisted backing the cluster frame and is reclaimed by the
    * ContextCleaner once this operator's result is unreferenced (the CC
    * scaladoc carries the lifecycle contract); centroid_cos is one
    * fused argmax dot + a per-cell literal lookup — no shuffle beyond
    * the pair join and the CC rounds on near-dup pairs only.
    *
    * Caveats (measured, not hidden): recall vs exact all-pairs is
    * bounded by same-cell co-residency of true near-dup pairs — the
    * graded query (e10) carries that recall as a column against the
    * declared exact oracle; `nCells` trades it against cost exactly as
    * the paper describes. The per-cell centroid-cos lookup is a
    * when-chain over nCells literals, fine at the coarse nCells
    * SemDeDup uses (≤ ~2¹⁰); IVF-scale cell counts would want a fused
    * lookup expression like the scorers use. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, nCells: Int, threshold: Double,
                    lloydIters: Int = 2, seed: Long = 42L,
                    scorer: (Column, Column) => Column = cosineF32,
                    margin: Double = 0.01,
                    centsOverride: Option[Seq[Seq[Double]]] = None,
                    exactAssign: Boolean = false): DataFrame = {
    // fail BEFORE the k-means training: cluster resolution
    // (Dedup.connectedComponents) requires LongType ids, and surfacing
    // that only after the Lloyd rounds + centroid collect have run
    // wastes the expensive work (r15 review — same fail-free-before-
    // training discipline as collectQueries)
    require(df.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"semanticDedup: '$idCol' must be LongType (got " +
        s"${df.schema(idCol).dataType.simpleString}); hash or cast " +
        "string ids to long first")
    val dot = graft.expressions.VectorExpressions.dotF _
    // centsOverride injects externally trained centroids (e.g. the
    // hash-graded e10 query's portable-unit k-means — see
    // graft.queries.AnnQueries.portableKmeansCentroids) and skips the
    // in-operator Lloyd training; `lloydIters`/`seed` are then unused.
    val cents = centsOverride
      .getOrElse(kmeansCentroids(df, vecCol, dim, nCells, lloydIters, seed))
    require(cents.size == nCells && cents.forall(_.size == dim),
      s"centsOverride must be $nCells centroids of dim $dim")
    val centNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    // assign once, scan-side; centroid_cos via per-cell literal dots.
    // `exactAssign` swaps the codegen'd double argmax for the fused
    // exact-decimal one — the cross-engine bit-parity discipline graded
    // queries inject, mirroring how they inject the exact-decimal
    // `scorer`; production keeps the double path (a double dot's
    // ulp-level fold drift cannot be REPLAYED by another engine, but is
    // harmless when nobody replays it). NOTE the two paths also differ
    // in TIE rule: cellFor/ArgMaxDotConst breaks equal dots toward the
    // HIGHER cell, ArgMaxDotScoreExact toward the LOWER — so on a tied
    // vector the assignments differ by more than precision. Graded
    // oracles replay the exact path's lower-cell rule; don't compare
    // the two assignments expecting only ulp drift.
    val assign: Column =
      if (exactAssign)
        graft.expressions.VectorExpressions
          .argMaxDotScoreExact(col("__v"), cents).getField("cell")
      else cellFor(col("__v"), cents)
    // __nrm is computed ONCE per row here and reused by centroid_cos
    // and both pair-attach branches below — same sqrt(dot) double, so
    // every downstream value is bit-identical to the inline form.
    val cos2cent = cents.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, (c, i)) =>
        when(col("cell") === i,
          dotLit(col("__v"), c) /
            (col("__nrm") *
              lit(math.max(centNorms(i), Double.MinPositiveValue))))
          .otherwise(acc)
    }
    // Persist the assigned-cells frame (r17 optimization): without the
    // pin, the scan + cell assignment subtree executes once per
    // consumer — slim inside the pair join, the labeled output, and
    // (for exactAssign, the graded path) each execution re-runs the
    // fused exact-decimal argmax over nCells×dim decimal literals, the
    // single most expensive projection in this operator. One eager
    // materialization serves the pair join, the CC edge build, and the
    // final labeling. Leased (not finally-scoped) because the returned
    // frame is lazy: the cache must survive until the CALLER
    // materializes it — the harness drains leases after each query,
    // and outside a harness the lease is inert (QueryLeases scaladoc).
    val cells = graft.util.QueryLeases.leased(df
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .select(col("id"), col("__v"), assign.as("cell"),
        sqrt(dot(col("__v"), col("__v"))).as("__nrm"))
      .select(col("id"), col("__v"), col("cell"), col("__nrm"),
        cos2cent.as("centroid_cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    cells.count()
    val slim = cells.select("id", "cell")
    val cand = slim.withColumnRenamed("id", "id_a")
      .join(slim.withColumnRenamed("id", "id_b"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val a = cells.select(col("id").as("id_a"), col("__v").as("ea"),
      col("__nrm").as("na"))
    val b = cells.select(col("id").as("id_b"), col("__v").as("eb"),
      col("__nrm").as("nb"))
    val pairs = cand.join(a, "id_a").join(b, "id_b")
      .filter(dot(col("ea"), col("eb")) >=
        lit(threshold - margin) * col("na") * col("nb"))
      .select(col("id_a"), col("id_b"),
        scorer(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= lit(threshold.toFloat))
    val clusters = Dedup.connectedComponents(pairs) // (id, cluster)
    val labeled = cells.drop("__v", "__nrm")
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    // keep-the-outlier: min centroid_cos per cluster, min id on ties
    val keepWin = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("centroid_cos").asc, col("id").asc)
    labeled
      .withColumn("keep", row_number().over(keepWin) === 1)
      .select("id", "cell", "centroid_cos", "cluster", "keep")
  }

  /** IVF coarse quantizer: assign a vector to the centroid with the
    * largest dot product — a deterministic argmax (ties toward the
    * higher cell index), computed by ONE fused codegen'd expression
    * (graft.expressions.ArgMaxDotConst) whose generated code is O(1)
    * size in `cents.size`. The earlier per-centroid
    * `greatest(struct(dot, cell))` tree stalled Janino past
    * ~16 cells × 64 dims (SCALE.md); the fused loop holds whole-stage
    * codegen at thousands of cells, so large-nCells IVF is now a real
    * single-scan, shuffle-free assignment. */
  def cellFor(vec: Column, cents: Seq[Seq[Double]]): Column =
    graft.expressions.VectorExpressions.argMaxDot(vec, cents)

  /** Seeded Gaussian-direction centroids — the k-means INIT (and the
    * pre-round-3 assignment when `lloydIters = 0`). */
  private[operators] def seedCentroids(dim: Int, nCells: Int,
                                       seed: Long): Seq[Seq[Double]] =
    (0 until nCells).map(c =>
      normalize(hyperplanes(dim, 1, c, seed * 31L + 17L).head))

  private def normalize(c: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }

  /** Spherical k-means (Lloyd) refinement of the seeded centroids over
    * `data`, run for `iters` assign→mean rounds.
    *
    * Each round is ONE distributed job: assign every vector to its cell
    * (argmax of literal dot products, codegen'd), explode components, and
    * take the per-(cell, component) mean with order-independent
    * exact-decimal sums — so the centroids are bit-stable under any
    * repartitioning, keeping e04's output deterministic across runs.
    * Only k×dim aggregated scalars reach the driver (never data rows);
    * they re-enter the next round's plan as literals. Empty cells keep
    * their previous centroid. */
  def kmeansCentroids(data: DataFrame, vecCol: String, dim: Int,
                      nCells: Int, iters: Int = 1,
                      seed: Long = 42L): Seq[Seq[Double]] = {
    import graft.util.Tables.dsum
    var cents = seedCentroids(dim, nCells, seed)
    for (_ <- 0 until iters) {
      // Two SEPARATE selects: `select(cellFor(...), posexplode(...))` in
      // one projection puts cellFor in the Project ABOVE the Generate,
      // recomputing the nCells×dim argmax once per exploded COMPONENT —
      // dim× the work (measured 199 s vs 9 s for one Lloyd round at 1M
      // vectors × 256 cells × 64 dims). Generate blocks CollapseProject,
      // so staging the cell in a lower projection pins one argmax per
      // VECTOR.
      val means = data
        .select(cellFor(col(vecCol), cents).as("cell"), col(vecCol).as("__v"))
        .select(col("cell"), posexplode(col("__v")))
        .groupBy("cell", "pos")
        .agg((dsum(col("col").cast("double")) / count(lit(1))).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (prev, cIdx) =>
        byCell.get(cIdx) match {
          case Some(rows) =>
            val m = Array.fill(dim)(0.0)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            normalize(m.toSeq)
          case None => prev
        }
      }
    }
    cents
  }

  /** Product-quantization codebooks: the vector splits into `m`
    * contiguous subvectors of dim/m; each subspace gets its own
    * `k`-centroid L2 k-means codebook (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). Returns
    * [m][k][subDim] centroids.
    *
    * Determinism discipline matches [[kmeansCentroids]]: init is a
    * hash-ordered k-row sample (partition-invariant), every Lloyd
    * round is ONE distributed job (fused [[graft.expressions.PqEncode]]
    * assignment staged BELOW the posexplode — the same
    * Generate/CollapseProject trap — then per-(subspace, code,
    * component) exact-decimal means), and only m·k·subDim aggregated
    * scalars ever reach the driver. Empty cells keep their previous
    * centroid. */
  def pqCodebooks(data: DataFrame, vecCol: String, dim: Int, m: Int,
                  k: Int = 256, iters: Int = 2,
                  seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    import graft.util.Tables.dmean
    require(m > 0 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val subDim = dim / m
    val sample = data.select(col(vecCol).as("v"))
      .orderBy(xxhash64(col("v"), lit(seed)), col("v"))
      .limit(k).collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqCodebooks needs a non-empty corpus")
    var cents: Seq[Seq[Seq[Double]]] = Seq.tabulate(m, k) { (j, c) =>
      val s = sample(c % sample.length)
      Seq.tabulate(subDim)(i => s(j * subDim + i).toDouble)
    }
    for (_ <- 0 until iters) {
      val means = data
        .select(graft.expressions.VectorExpressions
            .pqEncode(col(vecCol), cents, dim).as("__codes"),
          col(vecCol).as("__v"))
        .select(col("__codes"), posexplode(col("__v")))
        // clamp like PqEncode: an off-contract vector LONGER than dim
        // would index past code m (an ANSI element_at error); training
        // ignores the overflow components the same way the encoder does
        .filter(col("pos") < dim)
        .select((col("pos") / subDim).cast("int").as("j"),
          pmod(col("pos"), lit(subDim)).as("i"),
          element_at(col("__codes"),
            (col("pos") / subDim).cast("int") + 1).as("code"),
          col("col").cast("double").as("val"))
        .groupBy("j", "code", "i")
        .agg(dmean(col("val")).as("mean"))
        .collect()
      val byCell = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      cents = Seq.tabulate(m, k) { (j, c) =>
        byCell.get((j, c)) match {
          case Some(rows) =>
            val v = Array.fill(subDim)(0.0)
            rows.foreach(r => v(r.getInt(2)) = r.getDouble(3))
            v.toSeq
          case None => cents(j)(c)
        }
      }
    }
    cents
  }

  /** PQ asymmetric-distance top-k (flat ADC scan): candidates compress
    * to m-int codes, queries stay exact, and every candidate's
    * approximate cosine against every query comes from table lookups
    * over the codes — one corpus scan that reads CODES, not vectors.
    *
    * This is the memory-bandwidth path at 100 TB: with m = 8 and
    * k = 256 a 64-dim float vector (256 B) scores from an 8-entry code
    * (8 B stored as bytes in parquet dictionary encoding) — a ~32×
    * reduction of what the scoring scan touches, at the cost of
    * quantization error in the scores (ranking recall is MEASURED, in
    * AnnSuite + the `ScaleProbes` ann leg; precision can be recovered
    * by exact re-ranking of the PQ top-k', k' > k — composition left to
    * the caller). Compose with IVF cells ([[ivfTopK]]'s assignment) for
    * the full IVF-PQ: cell-restrict first, ADC-score inside cells.
    *
    * `rerankFrom > 0` adds the standard PQ precision-recovery stage:
    * the ADC scan keeps each query's top `rerankFrom` (k′ ≥ k)
    * candidates by approximate score, ONLY those |Q|·k′ rows fetch
    * their float vectors (one AQE-splittable id equi-join — the full
    * corpus is still scored from codes alone), and the exact
    * codegen'd cosine re-ranks them to the final top-k. With
    * k′ = corpus size this equals exact brute force (suite-pinned);
    * in production k′ is a small multiple of k, so the exact scorer
    * touches k′/n of the corpus — at 1B rows and k′ = 100 that is
    * 10⁻⁷ of the vector bytes.
    *
    * Queries are collected driver-side to build the lookup tables
    * (nQ·m·k doubles as plan constants) — the ANN query-set contract
    * (|Q| ≤ `maxQueries`), same driver-size discipline as the centroid
    * collects. Query ids must be integral (LongType-compatible). */
  def pqTopK(queries: DataFrame, cand: DataFrame, idCol: String,
             vecCol: String, dim: Int, k: Int, m: Int = 8,
             kCodes: Int = 256, iters: Int = 2, seed: Long = 42L,
             maxQueries: Int = 1024, rerankFrom: Int = 0): DataFrame = {
    require(rerankFrom <= 0 || rerankFrom >= k,
      s"rerankFrom must be ≥ k=$k (or ≤ 0 to disable)")
    // collect + validate the query set BEFORE the expensive codebook
    // training, so contract violations fail free
    val (qids, qfloats) = collectQueries(queries, idCol, vecCol, maxQueries)
    val cents = pqCodebooks(cand.select(col(vecCol)), vecCol, dim, m,
      kCodes, iters, seed)
    val qs = buildLuts(qids, qfloats, dim, m, kCodes, cents)
    // codes staged below the scoring explode (Generate evaluates its
    // generator once per input row; only the codes ride the projection)
    val scored = cand
      .select(col(idCol).as("cid"),
        graft.expressions.VectorExpressions
          .pqEncode(col(vecCol), cents, dim).as("__codes"))
      .select(col("cid"), posexplode(graft.expressions.VectorExpressions
        .pqAdcCosine(col("__codes"), qs.lut, qs.sqnorm, qs.qnorms, m,
          kCodes)))
      .select(element_at(array(qs.qids.toSeq.map(lit(_)): _*),
          col("pos") + 1).as("qid"),
        col("cid"), col("col").as("cos"))
      .filter(col("qid") =!= col("cid"))
    finishTopK(scored, queries, cand, idCol, vecCol, k, rerankFrom)
  }

  /** IVF-PQ composed top-k: IVF cells bound WHICH candidates are
    * scored, PQ codes bound WHAT each scoring touches. One corpus scan
    * emits (cell, codes) per candidate — at 100 TB both are persisted
    * columns written at ingest; the per-query probe list is computed
    * DRIVER-side from the collected query vectors (same arithmetic as
    * the fused [[graft.expressions.ArgTopPDotConst]]: ties toward the
    * higher cell) and broadcast as a tiny (query, cell) frame, so the
    * only distributed work is one broadcast-hash join on `cell` plus a
    * per-pair fused ADC lookup ([[graft.expressions.PqAdcCosineAt]]) —
    * scored pairs ≈ |Q|·nProbe·(n/nCells), and no pair ever touches a
    * float vector until the optional `rerankFrom` exact re-rank.
    *
    * `residual = true` is classical IVF-PQ (Jégou et al. §IV.B): codes
    * quantize x − centroid(cell) instead of x. Residuals concentrate
    * near the origin once the coarse quantizer has soaked up the
    * between-cell structure, so the same m·log₂k bits buy strictly
    * finer codes. The approximate cosine then assembles from three
    * row-local pieces — dot(q, centroid) rides the broadcast probe
    * frame (driver-computed per (query, probe) pair), dot(q, r̂) is the
    * fused [[graft.expressions.PqAdcDotAt]] LUT sum over the SAME
    * per-subspace LUT layout (now against residual codebooks), and the
    * reconstruction norm ‖centroid + r̂‖ is the fused
    * [[graft.expressions.PqReconNorm2]], computed in the encode scan
    * where the row still carries (cell, codes) — at 100 TB it is an
    * ingest-time column next to the codes, and query-time scans never
    * need the nCells·m·k cross-term table a LUT-only formulation
    * would. `residual = false` keeps the raw-vector layout (one
    * codebook, no per-cell terms; both recalls are measured in
    * AnnSuite + the `ScaleProbes` ann leg — the leg pins residual ≥
    * raw). */
  def ivfPqTopK(queries: DataFrame, cand: DataFrame, idCol: String,
                vecCol: String, dim: Int, k: Int, nCells: Int = 256,
                nProbe: Int = 4, m: Int = 8, kCodes: Int = 256,
                lloydIters: Int = 1, pqIters: Int = 2, seed: Long = 42L,
                maxQueries: Int = 1024, rerankFrom: Int = 0,
                residual: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells=$nCells]")
    require(rerankFrom <= 0 || rerankFrom >= k,
      s"rerankFrom must be ≥ k=$k (or ≤ 0 to disable)")
    val vx = graft.expressions.VectorExpressions
    val (qids, qfloats) = collectQueries(queries, idCol, vecCol, maxQueries)
    val cells = kmeansCentroids(cand.select(col(vecCol)), vecCol, dim,
      nCells, lloydIters, seed)
    // residual mode trains the codebooks on x − centroid(cell(x)) — one
    // extra fused projection in the training scans, same Lloyd loop
    val books =
      if (residual)
        pqCodebooks(
          cand.select(col(vecCol).as("__v"),
              cellFor(col(vecCol), cells).as("__cell"))
            .select(vx.subCentroid(col("__v"), col("__cell"), cells).as("__r")),
          "__r", dim, m, kCodes, pqIters, seed)
      else pqCodebooks(cand.select(col(vecCol)), vecCol, dim, m,
        kCodes, pqIters, seed)
    val qs = buildLuts(qids, qfloats, dim, m, kCodes, books)
    // driver-side probe list — THE SAME algorithm the distributed side
    // would run: ArgTopPDotConst's own interpreted eval on the raw
    // float vector, so the two can never drift apart. Each probe row
    // also carries dot(q, centroid(cell)) — |Q|·nProbe doubles, the
    // residual numerator's coarse term.
    val topP = graft.expressions.ArgTopPDotConst(null, cells.flatten,
      dim, nCells, nProbe)
    val probeRows = qfloats.toSeq.zipWithIndex.flatMap { case (qv, qi) =>
      topP.nullSafeEval(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(qv))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq.map { c =>
          var s = 0.0
          var i = 0
          val n = math.min(qv.length, dim)
          while (i < n) { s += qv(i).toDouble * cells(c)(i); i += 1 }
          (qi, c, s)
        }
    }
    val spark = cand.sparkSession
    import spark.implicits._
    val probes = probeRows.toDF("__qi", "cell", "__qcdot")
    val qidOf = element_at(array(qs.qids.toSeq.map(lit(_)): _*),
      col("__qi") + 1).as("qid")
    val scored =
      if (residual) {
        // staged projections (Generate-free, but the same reference-
        // counting discipline): __codes is referenced twice below, so
        // CollapseProject cannot inline the encode into both uses
        val enc = cand
          .select(col(idCol).as("cid"), col(vecCol).as("__v"),
            cellFor(col(vecCol), cells).as("cell"))
          .select(col("cid"), col("cell"),
            vx.pqEncode(vx.subCentroid(col("__v"), col("cell"), cells),
              books, dim).as("__codes"))
          .select(col("cid"), col("cell"), col("__codes"),
            vx.pqReconNorm2(col("__codes"), col("cell"), cells, books)
              .as("__rn2"))
        val qn = element_at(array(qs.qnorms.map(lit(_)): _*),
          col("__qi") + 1)
        val num = col("__qcdot") +
          vx.pqAdcDotAt(col("__codes"), col("__qi"), qs.lut, m, kCodes)
        enc.join(broadcast(probes), "cell")
          .select(qidOf, col("cid"),
            // −∞, never NaN, on degenerate denominators (same ordering
            // discipline as the fused ADC scorers)
            when(col("__rn2") > 0 && qn > 0,
              (num / (qn * sqrt(col("__rn2")))).cast("float"))
              .otherwise(lit(Float.NegativeInfinity)).as("cos"))
          .filter(col("qid") =!= col("cid"))
      } else {
        cand
          .select(col(idCol).as("cid"),
            cellFor(col(vecCol), cells).as("cell"),
            vx.pqEncode(col(vecCol), books, dim).as("__codes"))
          .join(broadcast(probes), "cell")
          .select(qidOf, col("cid"),
            vx.pqAdcCosineAt(
              col("__codes"), col("__qi"), qs.lut, qs.sqnorm, qs.qnorms,
              m, kCodes).as("cos"))
          .filter(col("qid") =!= col("cid"))
      }
    finishTopK(scored, queries, cand, idCol, vecCol, k, rerankFrom)
  }

  /** Collected query set + ADC lookup tables for the PQ paths — the
    * driver-size contract shared by [[pqTopK]] and [[ivfPqTopK]]. */
  private final case class PqQueries(qids: Array[Long],
                                     lut: Seq[Double], sqnorm: Seq[Double],
                                     qnorms: Seq[Double])

  /** Cheap driver-side query collect + contract validation — runs
    * BEFORE any distributed training so misuse fails free. */
  private def collectQueries(queries: DataFrame, idCol: String,
                             vecCol: String, maxQueries: Int)
      : (Array[Long], Array[Array[Float]]) = {
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"PQ query set exceeds maxQueries=$maxQueries")
    require(qRows.nonEmpty, "PQ top-k needs at least one query")
    (qRows.map(_.getLong(0)), qRows.map(_.getSeq[Float](1).toArray))
  }

  private def buildLuts(qids: Array[Long], qfloats: Array[Array[Float]],
                        dim: Int, m: Int, kCodes: Int,
                        cents: Seq[Seq[Seq[Double]]]): PqQueries = {
    val subDim = dim / m
    val qvecs = qfloats.map(_.map(_.toDouble))
    val lut = for {
      qv <- qvecs.toSeq; j <- 0 until m; c <- 0 until kCodes
    } yield {
      var s = 0.0
      var i = 0
      while (i < subDim) { s += qv(j * subDim + i) * cents(j)(c)(i); i += 1 }
      s
    }
    val sqnorm = for (j <- 0 until m; c <- 0 until kCodes)
      yield cents(j)(c).map(x => x * x).sum
    PqQueries(qids, lut, sqnorm,
      qvecs.toSeq.map(qv => math.sqrt(qv.map(x => x * x).sum)))
  }

  /** Final top-k window over (qid, cid, cos), with the optional exact
    * re-rank stage shared by the PQ paths. */
  private def finishTopK(scored: DataFrame, queries: DataFrame,
                         cand: DataFrame, idCol: String, vecCol: String,
                         k: Int, rerankFrom: Int): DataFrame = {
    val win = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    if (rerankFrom <= 0)
      scored.withColumn("rk", row_number().over(win)).filter(col("rk") <= k)
    else {
      val prelim = scored.withColumn("rk0", row_number().over(win))
        .filter(col("rk0") <= rerankFrom)
        .select("qid", "cid")
      val qv = queries.select(col(idCol).cast("long").as("qid"),
        col(vecCol).as("__qe"))
      val cv = cand.select(col(idCol).as("cid"), col(vecCol).as("__ce"))
      prelim.join(cv, "cid").join(broadcast(qv), "qid")
        .select(col("qid"), col("cid"),
          cosine(col("__qe"), col("__ce")).cast("float").as("cos"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= k)
    }
  }

  /** IVF-bucketed approximate top-k: centroids are spherical-k-means
    * refined (`lloydIters` Lloyd rounds over the candidate corpus, seeded
    * deterministic init), then both sides get their cell from the same
    * literal centroids and only same-cell pairs are scored — one
    * equi-join, never all-pairs.
    *
    * `nProbe` is the standard IVF recall lever: each QUERY searches its
    * `nProbe` best cells (candidates still index into exactly one cell,
    * so a candidate meets a query at most once — no dedup needed, and
    * the candidate side's storage/shuffle cost is unchanged). Probing
    * multiplies only the query-side fan-out: cost scales with
    * |queries|·nProbe·(n/nCells) scored pairs, recovering the
    * neighbors that sit just across a Voronoi boundary from the query
    * (the single-probe loss mode measured in SCALE.md). `nProbe = 1`
    * is exactly the prior single-probe semantics. */
  def ivfTopK(queries: DataFrame, cand: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, nCells: Int = 16,
              seed: Long = 42L, lloydIters: Int = 1,
              nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells=$nCells]")
    val cents =
      if (lloydIters <= 0) seedCentroids(dim, nCells, seed)
      else kmeansCentroids(cand.select(col(vecCol)), vecCol, dim, nCells,
        lloydIters, seed)
    // stage probes below the explode — same Generate/CollapseProject
    // trap as the Lloyd round: inlining the argtop into the exploding
    // projection would re-rank all nCells once per emitted probe row
    val q = queries
      .select(col(idCol).as("qid"), col(vecCol).as("qe"),
        graft.expressions.VectorExpressions
          .argTopPDot(col(vecCol), cents, nProbe).as("__probes"))
      .select(col("qid"), col("qe"), explode(col("__probes")).as("cell"))
    val c = cand.select(col(idCol).as("cid"), col(vecCol).as("ce"),
      cellFor(col(vecCol), cents).as("cell"))
    val pairs = q.join(c, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosine(col("qe"), col("ce")).cast("float").as("cos"))
    val win = Window.partitionBy("qid").orderBy(desc("cos"), col("cid"))
    pairs.withColumn("rk", row_number().over(win)).filter(col("rk") <= k)
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions
    * with a ±1 sign matrix (Achlioptas 2003): out_j = Σ_i v_i·r_ij /
    * √outDim, where r_ij ∈ {−1, +1} derives from the engine-portable
    * multiplicative hash of (i, j) — the projection matrix is never
    * materialized, reruns identically anywhere, and pairwise distances
    * are preserved within the JL (1±ε) bound.
    *
    * Scale shape: one posexplode to (id, i, v_i) then ONE
    * partial-aggregable groupBy of (id, j) — no matrix broadcast, no
    * shuffle beyond the aggregation; state per key is one sum. Exact-
    * decimal sums + correctly-rounded sqrt keep it hash-exact. */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDim: Int): DataFrame = {
    import graft.util.Tables.dsum
    require(outDim > 0, s"outDim must be positive, got $outDim")
    val p = 100000007L
    // repartition the NARROW (id, i, v) frame before the ×outDim
    // expansion (r18): the explode chain and the decimal partial
    // aggregation run inside the SCAN stage, so each input split's
    // dim×outDim-times-larger expansion is ground through ONE task —
    // measured conc=1 for the whole query at sf0.1 (one parquet
    // split), and at any scale a 128 MB vector split balloons into
    // tens of GB of per-task aggregation work. The shuffle moves only
    // 3 skinny columns pre-expansion. The partition count is EXPLICIT
    // (defaultParallelism — the cluster's width, not a constant): AQE
    // coalescing sizes partitions by the SHUFFLE's bytes and is blind
    // to the ×outDim expansion downstream, so a keys-only repartition
    // was measured coalescing straight back to one partition. Grouped
    // exact-decimal sums are partitioning-independent, so values are
    // identical (hash oracle re-proved).
    val f = df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos").as("i"), col("col").cast("double").as("v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol), col("i"))
    val j = explode(sequence(lit(0), lit(outDim - 1))).as("j")
    val expanded = f.select(col(idCol), col("i"), col("v"), j)
    val hash = pmod(
      pmod(col("i") * lit(outDim.toLong) + col("j"), lit(p)) *
        lit(1315423911L), lit(p))
    val sign = (lit(1.0) - lit(2.0) * pmod(hash, lit(2L)).cast("double"))
    expanded
      .groupBy(col(idCol), col("j"))
      .agg((dsum(col("v") * sign) / lit(math.sqrt(outDim.toDouble)))
        .as("out"))
  }

  /** k-NN majority-vote label propagation: given any top-k neighbor
    * frame `topk(qid, cid, …)` (brute-force, LSH, IVF, PQ — all of the
    * family's outputs compose) and a label table `labels(cid, label)`,
    * assign each query the modal label among its neighbors, ties broken
    * by the smaller label. This is the semi-supervised labeling step of
    * a training-data pipeline (propagate a small curated label set onto
    * an unlabeled corpus by embedding proximity, à la label spreading).
    *
    * Scale shape: the label join is broadcast-or-shuffle on cid at
    * |topk| = |Q|·k rows (NOT corpus-sized); the vote is a partial-
    * aggregable count over ≤ |Q|·k rows; the per-query argmax is a
    * `row_number = 1` window that rides WindowGroupLimit. */
  def labelVote(topk: DataFrame, labels: DataFrame): DataFrame = {
    val votes = topk.select("qid", "cid")
      .join(labels, Seq("cid"))
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
    val win = Window.partitionBy("qid")
      .orderBy(desc("votes"), col("label").asc)
    votes.withColumn("__r", row_number().over(win))
      .filter(col("__r") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
  }
}
