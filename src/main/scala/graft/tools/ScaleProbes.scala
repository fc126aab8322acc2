package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.estimators.{PC, PCConfig, RegDI, RegDIConfig}
import graft.operators.{Ann, Behavior, Dedup, Dsir, Graphs, NgramLm, Ranks,
  Samplers, TemporalJoins, TextPipeline, Tokenize}
import graft.stats.Replication
import graft.streaming.{Streams, UserEvent}
import graft.synth.Population

/** The scale probes behind SCALE.md's measured claims. Each leg
  * synthesizes planted-truth data at the size its arguments give, runs
  * the production operators fully distributed, checks the planted truth
  * (so a fast-but-wrong run cannot pass: a failed check throws) and
  * prints its wall times. Run:
  *   sbt "runMain graft.tools.ScaleProbes <leg> [args…]"
  * on `local[SPARK_GRAFT_CPUS]` (default 16). Legs, with their
  * arguments and defaults:
  *   estimators [nPop=10M]
  *   ann [nVecs=1M] [dim=64] [bits=18] [nCellsBig=256]
  *   behavior [nUsers=20M]
  *   bootstrap [nRows=10M]
  *   dedup [nCorpus=2M] [nBatch=20k]
  *   graph <sfDir> [nEdges=5M]
  *   ranks [nRows=20M]
  *   sampler [nRows=20M]
  *   streaming [nEvents=10M]
  *   temporal [nEvents=10M] [nNodes=4M]
  *   temporal-chain [nNodes=1M]
  *   text [nDocs=2M]
  * Legs never stop the session; `main` does. */
object ScaleProbes {
  type Leg = (SparkSession, Array[String]) => Unit

  val legs: ListMap[String, Leg] = ListMap(
    "estimators" -> estimators,
    "ann" -> ann,
    "behavior" -> behavior,
    "bootstrap" -> bootstrap,
    "dedup" -> dedup,
    "graph" -> graph,
    "ranks" -> ranks,
    "sampler" -> sampler,
    "streaming" -> streaming,
    "temporal" -> temporal,
    "temporal-chain" -> temporalChain,
    "text" -> text)

  def main(args: Array[String]): Unit = {
    val leg = args.headOption.flatMap(legs.get).getOrElse {
      System.err.println("usage: ScaleProbes <leg> [args…]; legs: " +
        legs.keys.mkString(", "))
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try leg(spark, args.drop(1)) finally spark.stop()
  }

  /** Runs `f`; returns its result and its wall time in seconds. */
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** [[time]], printing `[tag] label: <s> s`. */
  private def logged[T](tag: String, label: String)(f: => T): T = {
    val (r, s) = time(f)
    println(f"[$tag] $label: $s%.2f s")
    r
  }

  /** Positional numeric argument `i`, or `default` when absent. */
  private def num(args: Array[String], i: Int, default: Long): Long =
    if (args.length > i) args(i).toLong else default

  // ==================================================================
  /** The full estimator pipeline on populations 10-100× the reference's
    * N=100k, all distributed (spark.range synthesis → fusion →
    * calibration → estimate; no task-local shortcuts). Prints the
    * estimates (true mean 3.0). */
  private def estimators(spark: SparkSession, args: Array[String]): Unit = {
    val nPop = num(args, 0, 10000000L)
    val ((pop, n), tGen) = time {
      val p = Population.cell2(spark, nPop, seed = 7L)
        .withColumn("in_A",
          (pmod(hash(col("id")), lit(nPop / 2000L)) === 0).cast("int"))
        .withColumn("in_B",
          (rand(99L) < lit(0.7) - lit(0.4) * (col("y_i") > 3.0).cast("double"))
            .cast("int"))
        .cache()
      (p, p.count())
    }
    val (regdi, tRegdi) = time(RegDI.oneTable(pop, "in_A", "in_B",
      RegDIConfig(yACol = "y_i", yBCol = "y_i", auxVars = Seq("x_i"),
        correction = 1)))
    val (pc, tPc) = time(PC.oneTable(pop, "in_A", "in_B",
      PCConfig(yACol = Some("y_i"), yBCol = Some("y_i"),
        auxVars = Seq("x1_i"), scenario = 1)))
    println(f"N=$n%,d  gen+cache=$tGen%.1fs  " +
      f"RegDI corr1: ${regdi.mean}%.4f (se ${regdi.se}%.4f) in $tRegdi%.1fs  " +
      f"PC scen1: ${pc.estimator}%.4f in $tPc%.1fs")
    pop.unpersist()
  }

  // ==================================================================
  /** The embedding similarity operators (SCALE.md §Similarity search):
    * a planted-cluster corpus with deterministic hash-derived vectors
    * (no rand streams, partition-invariant) through the PRODUCTION
    * paths ([[Ann.nearDupLsh]] bucketed near-dup, [[Ann.annTopK]]
    * bucketed top-k, IVF, PQ, IVF-PQ, SQ8, prototype pruning):
    *
    *  - corpus = clusters of `m` consecutive ids; members share a
    *    hash-derived center plus 5% per-member noise, so intra-cluster
    *    cosine ≈ 0.997 and cross-cluster cosine concentrates near 0 —
    *    a hard gap on both sides of the 0.9 threshold;
    *  - PRECISION is structural: every emitted pair must be intra-cluster
    *    (id_a/m == id_b/m) — one wrong pair fails the run;
    *  - RECALL is counted against the closed-form pair total
    *    n/m · C(m,2); the noisiest planted pairs sit near cos 0.99
    *    (θ ≈ 8°, p_plane ≈ 0.974), where (bits=18, tables=8) gives a
    *    per-pair miss probability (1 − 0.974¹⁸)⁸ ≈ 4e-4, so the
    *    asserted floor is 0.998 (measured 0.9985 at tables=6,
    *    ≥ 0.999 at 8).
    *
    * Expect ~linear wall-time in corpus size PROVIDED bits grows with n:
    * random-pair collisions per table scale with bucket occupancy
    * (n / 2^bits), so holding bits fixed while n grows is superlinear by
    * design — the operating rule at scale is to add a bit per corpus
    * doubling (18 bits ≈ 1M, 20 bits ≈ 4M, …), which holds occupancy
    * and per-vector candidate count constant. Signatures are codegen'd
    * literal dot folds computed scan-side, candidates come from one
    * (table, bucket) equi-join, and only bucket collisions are scored. */
  private def ann(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = num(args, 0, 1000000L)
    val dim = num(args, 1, 64L).toInt
    val bits = num(args, 2, 18L).toInt
    val nCellsBig = num(args, 3, 256L).toInt
    val m = 4L // cluster size

    // vec_d = center(cluster, d) + 0.05 · noise(id, d), both hash-uniform
    // in [-1, 1] — deterministic under any partitioning
    def u(seedCols: Column*) =
      pmod(xxhash64(seedCols: _*), lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val cluster = (col("id") / m).cast("long")
    val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
      (u(cluster, d) + lit(0.05) * u(col("id"), d, lit(1))).cast("float"))
    val emb = spark.range(nVecs)
      .select(col("id").as("vec_id"), vec.as("embedding")).cache()
    emb.count()
    // planted cluster mates (qid ≠ cid, same cluster) in a top-k frame
    def mates(df: DataFrame): Long =
      df.filter((col("qid") / m).cast("long") ===
        (col("cid") / m).cast("long") && col("qid") =!= col("cid")).count()

    // ---- bucketed near-dup: precision structural, recall closed-form --
    val (p, tDup) = time {
      val pairs = Ann.nearDupLsh(emb, "vec_id", "embedding", dim,
        threshold = 0.9, bits = bits, tables = 8)
      pairs.agg(count(lit(1)).as("n"),
        count(when((col("id_a") / m).cast("long") =!=
          (col("id_b") / m).cast("long"), 1)).as("cross")).head()
    }
    val expected = nVecs / m * (m * (m - 1) / 2)
    require(p.getLong(1) == 0L,
      s"near-dup emitted ${p.getLong(1)} cross-cluster pairs (precision broken)")
    val recall = p.getLong(0).toDouble / expected
    require(recall >= 0.998, f"near-dup recall $recall%.5f below 0.998")

    // ---- bucketed top-k: every query's cluster mates must be found ---
    val queries = emb.filter(col("vec_id") % (nVecs / 100) === 0)
    val nQ = queries.count()
    val (topkMates, tTopK) = time {
      val topk = Ann.annTopK(queries, emb, "vec_id", "embedding", dim,
        k = m.toInt, bits = bits, tables = 8).cache()
      try mates(topk) finally topk.unpersist()
    }
    // k = m slots: self + the m−1 planted mates fill them exactly
    require(topkMates >= (nQ * (m - 1) * 999) / 1000,
      s"top-k found $topkMates of ${nQ * (m - 1)} planted mates")

    // ---- IVF top-k: same planted invariant through the k-means path --
    // Single-probe IVF is boundary-limited BY DESIGN: a query only
    // searches its own cell, so a cluster straddling a Voronoi boundary
    // loses the mates that landed across it. Measured (round 7): 283/300
    // mates (94.3%) at 16 cells / 1M vectors — the honest single-probe
    // figure; multi-probe (search the top-p cells by centroid score) is
    // the standard recall lever. Floor 0.90 catches systematic
    // cell-assignment or Lloyd breaks without pretending single-probe
    // recall it doesn't have.
    def ivfLeg(nCells: Int, floorPct: Int, nProbe: Int = 1): (Double, Double) = {
      val (ivfMates, tIvf) = time {
        val ivf = Ann.ivfTopK(queries, emb, "vec_id", "embedding", dim,
          k = m.toInt, nCells = nCells, lloydIters = 1, nProbe = nProbe).cache()
        try mates(ivf) finally ivf.unpersist()
      }
      require(ivfMates >= (nQ * (m - 1) * floorPct) / 100,
        s"ivf($nCells cells) found $ivfMates of ${nQ * (m - 1)} planted mates")
      (tIvf, ivfMates.toDouble / (nQ * (m - 1)))
    }
    val (tIvf, rIvf) = ivfLeg(16, 90)
    // Realistic cell count (≈√n for 1M vectors is ~1000; 256 here keeps
    // per-cell occupancy ≈4k): exercises the round-8 fused
    // ArgMaxDotConst assignment — the pre-round-8 literal-argmax
    // (greatest over one codegen'd dot per centroid) stalled Janino
    // compile past ~16 cells × 64 dims, so this leg COULD NOT RUN.
    // More cells = more Voronoi boundaries = more single-probe
    // straddle, hence the lower floor; the measured figure goes in
    // SCALE.md.
    val (tIvfBig, rIvfBig) = ivfLeg(nCellsBig, 80)
    // multi-probe: the recall lever — same candidate-side cost, query
    // fan-out ×4; boundary-straddle losses should mostly close
    val (tIvfMp, rIvfMp) = ivfLeg(nCellsBig, 95, nProbe = 4)

    // ---- PQ ADC: flat scan over m-int codes instead of vectors -------
    // Same planted invariant; quantization error is the recall risk, so
    // the floor stays at 0.95 (planted mates sit at cos ≈ 0.997 — far
    // above anything the codebook error can demote below background).
    val (pqMates, tPq) = time {
      val pq = Ann.pqTopK(queries, emb, "vec_id", "embedding", dim,
        k = m.toInt, m = 16, kCodes = 256, iters = 1).cache()
      try mates(pq) finally pq.unpersist()
    }
    val rPq = pqMates.toDouble / (nQ * (m - 1))
    require(pqMates >= (nQ * (m - 1) * 95) / 100,
      s"pq top-k found $pqMates of ${nQ * (m - 1)} planted mates")

    // ---- IVF-PQ composed: cells bound WHICH, codes bound WHAT --------
    // Scored pairs ≈ |Q|·nProbe·(n/nCells), each from a 16-int code;
    // floor combines the measured multi-probe IVF leg (0.990) with
    // PQ's planted-mate fidelity (1.000) — set at 0.95.
    def ivfPqMates(residual: Boolean): (Long, Double) = time {
      val ivfpq = Ann.ivfPqTopK(queries, emb, "vec_id", "embedding", dim,
        k = m.toInt, nCells = nCellsBig, nProbe = 4, m = 16, kCodes = 256,
        lloydIters = 1, pqIters = 1, rerankFrom = 2 * m.toInt,
        residual = residual).cache()
      try mates(ivfpq) finally ivfpq.unpersist()
    }
    val (ivfpqMates, tIvfPq) = ivfPqMates(residual = false)
    val rIvfPq = ivfpqMates.toDouble / (nQ * (m - 1))
    require(ivfpqMates >= (nQ * (m - 1) * 95) / 100,
      s"ivf-pq top-k found $ivfpqMates of ${nQ * (m - 1)} planted mates")

    // ---- residual IVF-PQ: classical Jégou §IV.B encoding -------------
    // Same composed leg with residual = true: codes quantize
    // x − centroid(cell), so quantization error strictly tightens at
    // equal bit budget. The pin is the round-9 done-criterion: recall
    // must be ≥ the raw-vector leg's (and ≥ the same 0.95 floor); the
    // extra cost is one more fused projection in the training/encode
    // scans plus the per-row reconstruction norm.
    val (ivfpqRMates, tIvfPqR) = ivfPqMates(residual = true)
    val rIvfPqR = ivfpqRMates.toDouble / (nQ * (m - 1))
    require(ivfpqRMates >= ivfpqMates,
      s"residual ivf-pq found $ivfpqRMates mates < raw's $ivfpqMates")
    require(ivfpqRMates >= (nQ * (m - 1) * 95) / 100,
      s"residual ivf-pq found $ivfpqRMates of ${nQ * (m - 1)} planted mates")

    // ---- SQ8 integer-dot MIPS (e25): compression fidelity at scale ---
    // Train (one exact max) + scan-side int8 encode are linear; the
    // exhaustive integer scan is the declared e22/e25 ADC shape, so the
    // leg runs a 20-query slice (|Q|·n pairs). Planted mates sit at
    // reconstruction dot ≈ |center|² — far above the ≈0 background —
    // so int8 quantization must keep them top-k: floor 0.95.
    val sqQueries = emb.filter(col("vec_id") % (nVecs / 20) === 0)
    val nSqQ = sqQueries.count()
    val (sqMates, tSq) = time {
      val sq = graft.queries.AnnQueries.sq8MipsTopK(sqQueries, emb,
        k = m.toInt).cache()
      try mates(sq) finally sq.unpersist()
    }
    val rSq = sqMates.toDouble / (nSqQ * (m - 1))
    require(sqMates >= (nSqQ * (m - 1) * 95) / 100,
      s"sq8 top-k found $sqMates of ${nSqQ * (m - 1)} planted mates")

    // ---- prototype pruning (e28): cluster-then-drop at scale ----------
    // Scale claims under test: ONE fused-expression scan emits each
    // vector's (cell, dot) pair, per-cell rank windows bounded at
    // corpus/nCells. Invariants: every vector graded exactly once, and
    // every non-trivial cell drops exactly floor(n/4) members.
    val ((prAgg, prCells), tPr) = time {
      val pruned = graft.queries.AnnQueries.prototypePrune(emb, dim,
        nCells = 16).cache()
      try (pruned.agg(count(lit(1)).as("n"),
          countDistinct(col("vid")).as("d")).head(),
        pruned.groupBy("cell")
          .agg(count(lit(1)).as("n"),
            count(when(!col("keep"), 1)).as("dropped"))
          .collect())
      finally pruned.unpersist()
    }
    require(prAgg.getLong(0) == nVecs && prAgg.getLong(1) == nVecs,
      s"prototype prune lost or duplicated rows: ${prAgg.getLong(0)}")
    prCells.foreach { r =>
      require(r.getLong(2) == r.getLong(1) / 4,
        s"cell ${r.getInt(0)} dropped ${r.getLong(2)} of ${r.getLong(1)}")
    }
    val prDropped = prCells.map(_.getLong(2)).sum
    emb.unpersist()

    println(f"vecs=$nVecs%,d dim=$dim neardup(${p.getLong(0)}%,d pairs, " +
      f"recall=$recall%.5f)=$tDup%.1fs topk($nQ queries)=$tTopK%.1fs " +
      f"ivf($nQ queries, 16 cells, mate-recall=$rIvf%.3f)=$tIvf%.1fs " +
      f"ivf($nQ queries, $nCellsBig cells, mate-recall=$rIvfBig%.3f)=$tIvfBig%.1fs " +
      f"ivf($nQ queries, $nCellsBig cells, probe=4, mate-recall=$rIvfMp%.3f)=$tIvfMp%.1fs " +
      f"pq($nQ queries, m=16 k=256, mate-recall=$rPq%.3f)=$tPq%.1fs " +
      f"ivfpq($nQ queries, $nCellsBig cells, probe=4, m=16, " +
      f"mate-recall=$rIvfPq%.3f)=$tIvfPq%.1fs " +
      f"ivfpq-residual(mate-recall=$rIvfPqR%.3f)=$tIvfPqR%.1fs " +
      f"sq8($nSqQ queries, mate-recall=$rSq%.3f)=$tSq%.1fs " +
      f"protoPrune(16 cells, $prDropped%,d dropped)=$tPr%.1fs")
  }

  // ==================================================================
  /** The behavioral-analytics family: a synthetic event log big enough
    * (default 20M users, ~41M events) that any per-user materialization
    * or second exchange would show up in wall time, with funnel
    * conversion counts known EXACTLY:
    *
    *  - every user views at t=u
    *  - u ≡ 0 (mod 2): clicks at t=u+1      → stage-2 = N/2
    *  - u ≡ 0 (mod 4): purchases at t=u+2   → stage-3 = N/4
    *  - u ≡ 2 (mod 4): purchases at t=u−1, BEFORE the view — these users
    *    DO view and click, so an unordered "has purchase" count would
    *    credit them; the ordered funnel must NOT */
  private def behavior(spark: SparkSession, args: Array[String]): Unit = {
    val n = num(args, 0, 20000000L)
    val base = spark.range(n)
    def events(keep: Column, dt: Long, kind: String): DataFrame =
      base.filter(keep).select(col("id").as("user_id"),
        timestamp_micros((col("id") + dt) * 1000000L + 1000000000L).as("ts"),
        lit(kind).as("event_type"))
    val views = events(lit(true), 0L, "view")
    val clicks = events(col("id") % 2 === 0, 1L, "click")
    val buys = events(col("id") % 4 === 0, 2L, "purchase")
    val decoys = events(col("id") % 4 === 2, -1L, "purchase")
    val all = views.unionByName(clicks).unionByName(buys)
      .unionByName(decoys)

    val counts = logged("behavior-probe", s"funnel over ~${n * 2} events")(
      Behavior.funnelCounts(all, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("stage_idx").collect())
    val got = counts.map(r => r.getInt(0) -> r.getLong(2)).toMap
    println(s"[behavior-probe] stages=${got.toSeq.sorted}")
    assert(got(1) == n, s"stage1 ${got(1)} != $n")
    assert(got(2) == n / 2, s"stage2 ${got(2)} != ${n / 2}")
    assert(got(3) == (n + 3) / 4, s"stage3 ${got(3)} != ${(n + 3) / 4}")

    val ret = logged("behavior-probe", "retention census")(
      Behavior.retentionCohorts(all, "user_id", "ts")
        .agg(count(lit(1)).as("cells"), sum("n_users").as("total"))
        .collect().head)
    println(s"[behavior-probe] retention cells=${ret.getLong(0)} " +
      s"user-weeks=${ret.getLong(1)}")
  }

  // ==================================================================
  /** The Poisson bootstrap's ×R row expansion: `poissonBootstrapMean`
    * is the catalog's only row-MULTIPLYING operator — every input row
    * rides the grouped pass R+1 times (a broadcast cross join against
    * the replicate ids, then ONE partial-aggregable groupBy with O(R)
    * aggregate state: two exact-decimal sums per replicate). The claims
    * under test:
    *
    *  1. wall time is LINEAR in R (the expansion is the inherent cost;
    *     no super-linear term from state or shuffle) — measured at
    *     R = 25/50/100 over the same input, min-of-2 per point;
    *  2. state stays O(R), never O(N·R): the aggregate output is exactly
    *     R+1 rows regardless of input size, and the plan keeps the
    *     partial-aggregation split (map-side combine eats the expansion
    *     before the shuffle, so only tasks × (R+1) partial rows move);
    *  3. the expansion never materializes: the cross join is a broadcast
    *     of the R+1-row replicate frame against the streaming input scan
    *     (no CartesianProduct, no shuffle of expanded rows).
    *
    * The default 10M rows make 1.01B expanded rows at R = 100. */
  private def bootstrap(spark: SparkSession, args: Array[String]): Unit = {
    val n = num(args, 0, 10000000L)
    val df = spark.range(1, n + 1).select(col("id"),
      (col("id") % 97).cast("double").as("y"),
      (lit(1.0) + (col("id") % 5).cast("double")).as("w"))

    // plan shape (claim 2+3): partial agg present, broadcast expansion,
    // no cartesian, no window
    val plan = Replication.poissonBootstrapMeanPlan(
      df, col("y"), col("w"), col("id"), reps = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"),
      "bootstrap lost its map-side partial aggregation:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "replicate expansion must be a broadcast join:\n" + plan.take(3000))
    println("plan: partial-agg + broadcast expansion confirmed")

    def timeOnce(reps: Int): Double = {
      val (row, dt) = time(Replication.poissonBootstrapMean(
        df, col("y"), col("w"), col("id"), reps).head())
      val (m, nr, v) =
        (row.getDouble(0), row.getLong(1), row.getDouble(2))
      assert(nr == reps && !m.isNaN && v > 0.0 && !v.isNaN,
        s"degenerate bootstrap result at R=$reps: mean=$m var=$v")
      dt
    }
    val times = Seq(25, 50, 100).map { r =>
      val t = math.min(timeOnce(r), timeOnce(r)) // min-of-2 (bench policy)
      println(f"R=$r%3d: N=$n%,d -> ${(n * (r + 1)) / 1000000}%,d M " +
        f"expanded rows in $t%.1fs")
      r -> t
    }.toMap
    // linearity (claim 1): t(R) = a + b·R would give t(100)/t(25) = 4 at
    // a = 0; scan overhead only LOWERS the ratio. 5.0 allows host noise
    // while still rejecting anything super-linear in R.
    val ratio = times(100) / times(25)
    println(f"t(100)/t(25) = $ratio%.2f (linear target <= 4, cap 5)")
    assert(ratio <= 5.0, f"super-linear in R: ratio $ratio%.2f")
  }

  // ==================================================================
  /** 60 hash-drawn tokens `w<h>` per doc, h = xxhash64(base, j) mod 50k:
    * with a 50k vocabulary, a spurious shared 3-shingle (or 5-gram)
    * between unrelated docs is ~(1/50k)³-improbable per pair — zero at
    * any feasible scale — while equal bases give exact copies. */
  private val tokensPerDoc = 60
  private def hashText(base: Column): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(tokensPerDoc - 1)),
      j => concat(lit("w"), pmod(xxhash64(base, j), lit(50000L)))))

  /** Incremental ingestion dedup (d08's operator): a 2M-doc corpus and
    * a 20k-doc incoming batch where every batch doc with id ≡ 1 (mod 10)
    * is an EXACT copy of a corpus doc and the rest are fresh
    * ([[hashText]] tokens). The claims under test:
    *
    *  - every planted copy is flagged against its exact source
    *    (recall 1.0 at Jaccard threshold 0.9 — copies score 1.0);
    *  - no fresh doc is flagged (precision 1.0 on this gap);
    *  - wall time is candidate-bound, not |corpus × batch|-bound: the
    *    batch's band keys join the corpus's band keys, so the corpus is
    *    scanned twice (bands + shingle fetch) and never paired densely. */
  private def dedup(spark: SparkSession, args: Array[String]): Unit = {
    val nCorpus = num(args, 0, 2000000L)
    val nBatch = num(args, 1, 20000L)
    val corpus = spark.range(nCorpus)
      .select(col("id").as("doc_id"), hashText(col("id")).as("text"))
    // batch ids live above the corpus range; ids ≡ 1 (mod 10) copy the
    // corpus doc with id = (id - nCorpus), the rest draw fresh tokens
    val batch = spark.range(nCorpus, nCorpus + nBatch)
      .select(col("id").as("doc_id"),
        hashText(when(col("id") % 10 === 1, col("id") - nCorpus)
          .otherwise(col("id"))).as("text"))

    val (got, t) = time {
      val out = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text",
          threshold = 0.9)
        .select(col("new_id"), col("dup_of"), col("best_jaccard"))
      out.agg(count(lit(1)).as("n"),
        count(when(col("new_id") % 10 =!= 1, 1)).as("false_flags"),
        count(when(col("new_id") % 10 === 1 &&
          col("dup_of") === col("new_id") - nCorpus &&
          col("best_jaccard") === 1.0, 1)).as("exact_hits")).head()
    }
    val planted = (nCorpus until nCorpus + nBatch).count(_ % 10 == 1)
    require(got.getLong(1) == 0L, s"${got.getLong(1)} fresh docs flagged")
    require(got.getLong(0) == planted,
      s"flagged ${got.getLong(0)} != $planted planted copies")
    require(got.getLong(2) == planted,
      "a planted copy missed its exact source at jaccard 1.0")
    println(f"incrementalNearDup (cold): corpus=$nCorpus%,d " +
      f"batch=$nBatch%,d -> $planted%,d/$planted%,d planted copies " +
      f"flagged against their exact source, 0 false flags, in $t%.1fs")

    // ---- amortized path: corpus bands + shingles stored at ingest ----
    val ((storedBands, storedShingles), tIngest) = time {
      val bands = Dedup.lshBands(corpus, "doc_id", "text").persist()
      val shingles = corpus.select(col("doc_id"),
        Dedup.wordShingles(col("text"), 3).as("sh")).persist()
      bands.count(); shingles.count()
      (bands, shingles)
    }
    val (got2, tWarm) = time(Dedup.incrementalNearDup(batch, corpus,
        "doc_id", "text", threshold = 0.9,
        corpusBands = Some(storedBands),
        corpusShingles = Some(storedShingles))
      .agg(count(lit(1)).as("n")).head())
    require(got2.getLong(0) == planted, "stored-column path disagrees")
    println(f"incrementalNearDup (stored corpus columns): ingest " +
      f"$tIngest%.1fs once, then each batch $tWarm%.1fs — the " +
      f"per-batch cost is batch-side + candidate-bound")
    storedBands.unpersist(); storedShingles.unpersist()
  }

  // ==================================================================
  /** The graph kernels:
    *
    *  1. Phase timing of the a24 PageRank shape on real sf data (edge
    *     build + cache vs the 5 rank iterations) — where does the wall
    *     go? `sfDir` holds orders.parquet and lineitem.parquet.
    *  2. Planted structures at `nEdges` scale, each with a closed-form
    *     truth: hubs for PageRank (5 and 25 rounds), vertex-disjoint
    *     triangles, 6-cliques for label propagation, modularity and
    *     connected components, and cliques with pendant chains for the
    *     k-core peel. */
  private def graph(spark: SparkSession, args: Array[String]): Unit = {
    require(args.nonEmpty, "graph leg: give the sf directory first")
    val sfDir = args(0)
    val nEdges = num(args, 1, 5000000L)
    def timed[T](label: String)(f: => T): T = logged("graph-probe", label)(f)

    // ---- leg 1: a24 shape on sf data, phase-separated -----------------
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ne = timed("sf edge build + cache")(edges.count())
    val top = timed("sf 5 iterations + top-25")(
      Graphs.pageRankTopK(edges, iters = 5, k = 25, symmetrizeInput = true)
        .collect())
    println(s"[graph-probe] sf directed edges=$ne top1=${top.head}")
    edges.unpersist(blocking = false)

    // ---- leg 2: planted hubs at nEdges scale --------------------------
    // 100k spokes each pick one of 20 hubs (skewed: hub h gets share
    // ∝ 1/(h+1)) plus a uniform random peer — hubs must own the top-20.
    val nNodes = nEdges / 5
    val raw = spark.range(nEdges).select(
      (pmod(hash(col("id")), lit(nNodes)) + lit(100L)).as("src"),
      when(col("id") % 5 === 0,
        pmod(hash(col("id") * 7 + 1), lit(20L)))     // hub 0..19
        .otherwise(pmod(hash(col("id") * 13 + 3), lit(nNodes)) + lit(100L))
        .as("dst"))
      .filter(col("src") =!= col("dst"))
    val directed = raw.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val n2 = timed("synthetic edge build + cache")(directed.count())
    val top20 = timed("synthetic 5 iterations + top-20")(
      Graphs.pageRankTopK(directed, iters = 5, k = 20, symmetrizeInput = true)
        .collect())
    val hubHits = top20.count(_.getLong(0) < 20L)
    println(s"[graph-probe] synthetic directed edges=$n2 top20-hub-hits=$hubHits/20")
    assert(hubHits >= 18, s"planted hubs not recovered: $hubHits")

    // ---- leg 2b: PRODUCTION iteration count ----------------------------
    // 25 rounds: every round is a lineage-truncated re-wrap (the Rounds
    // scope), so both the SQL plan and the RDD lineage stay one round
    // deep. Success criterion: completes with per-round cost flat
    // (total ≈ 5× the 5-round leg, not superlinear), same top-20 hub
    // recovery.
    val roundSecs = scala.collection.mutable.ArrayBuffer[Double]()
    val top20c = timed("synthetic 25 iterations")(
      Graphs.pageRankTopK(directed, iters = 25, k = 20,
        symmetrizeInput = true, onRound = (i, s) => roundSecs += s).collect())
    val hubHits25 = top20c.count(_.getLong(0) < 20L)
    println(s"[graph-probe] 25-iter top20-hub-hits=$hubHits25/20")
    assert(hubHits25 >= 18, s"planted hubs not recovered at 25 iters: $hubHits25")
    // per-round wall clock: FLAT is the success criterion — a lineage
    // leak shows up as monotone growth (each round recomputing through
    // its ancestors). Print all 25 and pin late/early ratio.
    println("[graph-probe] per-round secs: " +
      roundSecs.map(s => f"$s%.2f").mkString(" "))
    val early = roundSecs.slice(1, 6).sum / 5   // rounds 2-6 (round 1 warms)
    val late = roundSecs.slice(20, 25).sum / 5  // rounds 21-25
    println(f"[graph-probe] per-round early(2-6)=${early}%.2f " +
      f"late(21-25)=${late}%.2f ratio=${late / early}%.2f")
    assert(late <= 2.0 * early,
      f"per-round time grew ${late / early}%.2fx — lineage not truncated?")
    directed.unpersist(blocking = false)

    // ---- leg 3: planted triangle census -------------------------------
    // T vertex-disjoint triangles (nodes 3t, 3t+1, 3t+2) plus T disjoint
    // path edges on a separate id range: the exact triangle count is T
    // by construction — paths and triangles share no vertices, so no
    // accidental closures exist. Verifies the degree-oriented census at
    // a scale where any all-pairs or unbounded-fan-out shape would hang.
    val tri = nEdges / 10
    val triEdges = spark.range(tri).select(col("id").as("t"))
      .select(explode(array(
        struct((col("t") * 3).as("src"), (col("t") * 3 + 1).as("dst")),
        struct((col("t") * 3 + 1).as("src"), (col("t") * 3 + 2).as("dst")),
        struct((col("t") * 3).as("src"), (col("t") * 3 + 2).as("dst"))))
        .as("e")).select(col("e.src"), col("e.dst"))
    val pathBase = tri * 3 + 1000000000L
    val pathEdges = spark.range(tri).select(
      (col("id") * 2 + pathBase).as("src"),
      (col("id") * 2 + pathBase + 1).as("dst"))
    val census = timed(s"triangle census over ${tri * 4} edges")(
      Graphs.triangleStats(
        triEdges.unionByName(pathEdges)).collect().head)
    println(s"[graph-probe] census=$census (expect n_triangles=$tri)")
    assert(census.getLong(2) == tri,
      s"planted triangles ${census.getLong(2)} != $tri")

    // ---- leg 4: planted communities for label propagation -------------
    // C vertex-disjoint 6-cliques (nodes 6c..6c+5): no cross-clique
    // edges, so labels cannot leak between communities and every
    // community must converge to exactly its 6 members. The top-25
    // census (size DESC) proves no community ever exceeds 6 — any
    // label leak or argmax bug would surface as a larger or misaligned
    // community at the head of the ranking.
    val cliques = nEdges / 15
    val pairs6 = for (i <- 0 until 6; j <- i + 1 until 6) yield (i, j)
    val commEdges = spark.range(cliques).select(col("id").as("c"))
      .select(explode(array(pairs6.map { case (i, j) =>
        struct((col("c") * 6 + i).as("src"), (col("c") * 6 + j).as("dst"))
      }: _*)).as("e")).select(col("e.src"), col("e.dst"))
    val lpa = timed(s"label propagation over ${cliques * 15} edges, " +
        "3 rounds")(
      Graphs.labelPropCensus(commEdges, iters = 3, k = 25,
        symmetrizeInput = true).collect())
    assert(lpa.forall(_.getLong(1) == 6L),
      s"community sizes != 6: ${lpa.map(_.getLong(1)).toSeq}")
    assert(lpa.forall(r => r.getLong(2) % 6 == 0 &&
        r.getLong(3) == r.getLong(2) + 5),
      "community bounds not clique-aligned")
    println(s"[graph-probe] lpa top-25 communities all size 6, " +
      s"clique-aligned (C=$cliques planted)")

    // ---- leg 5: modularity census over the planted cliques ------------
    // Every 6-clique community has n = 6, e_c = 15, d_c = 30, so with
    // m = 15C each reported term must be EXACTLY
    // 30/(30C) − (30/(30C))² under the same IEEE tree the operator
    // uses — any assignment drift, edge miscount, or float reorder
    // surfaces as a bit-level mismatch at scale.
    val mq = timed(s"modularity census over ${cliques * 15} edges")(
      Graphs.modularityCensus(commEdges, iters = 3, k = 25,
        symmetrizeInput = true).collect())
    val m2d = (cliques * 30L).toDouble
    val expQ = 30.0 / m2d - (30.0 / m2d) * (30.0 / m2d)
    assert(mq.length == 25 && mq.forall(r => r.getLong(1) == 6L &&
        r.getLong(2) == 30L && r.getLong(3) == 15L &&
        r.getDouble(4) == expQ),
      s"modularity terms drifted: ${mq.take(3).toSeq} (want Q_c=$expQ)")
    println(s"[graph-probe] modularity top-25 terms all exactly $expQ")

    // ---- leg 6: k-core peel over cliques + pendant chains --------------
    // Each 6-clique gains a 2-node pendant chain (clique node 0 → tail1
    // → tail2, tails numbered above the clique range). Peeling the
    // 2-CORE forces a genuine cascade: round 1 sheds only tail2
    // (degree 1; tail1 still holds degree 2), round 2 sheds tail1 once
    // its child is gone — so a round loop that silently runs fewer
    // rounds leaves C degree-1 tails in the census and fails. Final
    // census must be the single row (degree 5, 6C nodes). Closed-form
    // at any C.
    val tailBase = cliques * 6
    val kcEdges = commEdges.unionByName(
      spark.range(cliques).select(col("id").as("c"))
        .select(explode(array(
          struct((col("c") * 6).as("src"),
            (lit(tailBase) + col("c") * 2).as("dst")),
          struct((lit(tailBase) + col("c") * 2).as("src"),
            (lit(tailBase) + col("c") * 2 + 1).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")))
    val kc1 = Graphs.kcoreCensus(kcEdges, k = 2, rounds = 1,
      symmetrizeInput = true).collect()
    assert(kc1.exists(_.getLong(0) == 1L),
      "round 1 must leave the mid-chain tails at degree 1 — the " +
        "cascade premise is broken")
    val kcRounds = scala.collection.mutable.ArrayBuffer[Double]()
    val kc = timed(s"2-core peel over ${cliques * 17} edges, 3 rounds")(
      Graphs.kcoreCensus(kcEdges, k = 2, rounds = 3,
        symmetrizeInput = true,
        onRound = (_, s) => kcRounds += s).collect())
    assert(kc.length == 1 && kc.head.getLong(0) == 5L &&
        kc.head.getLong(1) == cliques * 6L,
      s"k-core census drifted: ${kc.toSeq} (want one row: degree 5, " +
        s"${cliques * 6} nodes)")
    // per-round FLATNESS pin from round 2 on (the a38 47.66 s
    // adjudication): a spill pathology or lineage leak shows as
    // MONOTONE per-round growth. Round 1 sits outside the baseline
    // because it computes bare degrees with no induce joins (surv is
    // still "all nodes"); rounds 2+ each pay the same columnar-cached
    // edge scan + two semi-joins against the node-sized survivor
    // rewrap. This leg is what caught (and now pins against) the
    // pre-r16 edge-rewrap shape, which left the columnar cache after
    // round 1 and cost a flat ~4× per round thereafter (9.7 → 36.4 →
    // 38.3 s at 11.3M edges); the node-state rewrite keeps every round
    // at the columnar rate. The linear-in-edges total also
    // back-predicts a38's quiet sf0.1 time, which is what rules the
    // 47.66 s graded record a host artifact rather than a plan property.
    println("[graph-probe] kcore per-round secs: " +
      kcRounds.map(s => f"$s%.2f").mkString(" "))
    // baseline = the FASTEST round ≥ 2, not round 2 alone: a load spike
    // during any single round (external load ran 1.4–2.5 even in the
    // "quiet" adjudication runs) must not fake a pathology verdict, and
    // the real failure mode this pins — the pre-r16 edge-rewrap shape —
    // was a flat ~4× on EVERY later round, far outside a 2× band.
    val kcBase = kcRounds.drop(1).min
    assert(kcRounds.size < 3 ||
        kcRounds.drop(2).forall(_ <= 2.0 * kcBase + 0.5),
      s"kcore per-round time grew after round 2: ${kcRounds.toSeq} — " +
        "spill/lineage pathology?")
    println(s"[graph-probe] 2-core kept exactly the ${cliques * 6} " +
      "clique nodes at degree 5; the pendant chains peeled over two " +
      "cascading rounds")

    // ---- leg 7: connected components over the planted cliques ----------
    // Every 6-clique has diameter 1, so 3 min-label rounds converge and
    // each component must be exactly its clique: label 6c, size 6,
    // ids 6c..6c+5 — closed-form at any C.
    val cc = timed(s"min-label CC over ${cliques * 15} edges, 3 rounds")(
      Graphs.ccCensus(commEdges, rounds = 3, k = 25,
        symmetrizeInput = true).collect())
    assert(cc.length == 25 && cc.forall(r => r.getLong(1) == 6L &&
        r.getLong(0) % 6 == 0 && r.getLong(2) == r.getLong(0) &&
        r.getLong(3) == r.getLong(0) + 5),
      s"CC census drifted: ${cc.take(3).toSeq}")
    println("[graph-probe] CC top-25 components all size 6, clique-aligned")
  }

  // ==================================================================
  /** The distributed ranking family:
    *
    *  1. globalRowNumber over an n-row PERMUTATION (v = id·p mod n, p
    *     coprime to n, a bijection) — every row's rank must equal v + 1
    *     exactly, which catches both boundary-sampling inconsistencies
    *     (the bug class fixed in round 10) and off-by-one offsets, at a
    *     scale where every partition boundary is exercised.
    *  2. quantileSelect on the same permutation — the bp-quantile of
    *     0..n−1 is closed-form: value = (bp·n + 9999) div 10000 − 1.
    *  3. giniByGroup over near-uniform values — population Gini of
    *     uniform is 1/3; the draws must land within ±0.01.
    *  4. percentileSelect on the permutation — n DISTINCT values, the
    *     exact scale shape where aggregate `percentile`'s single-task
    *     value→count merge is the memory hazard (r16 verdict item 3);
    *     the interpolated p-percentile of 0..n−1 is closed-form
    *     ((n−1)·p through the same floor/ceil interpolation), asserted
    *     bit-exact at the a14 percentages. */
  private def ranks(spark: SparkSession, args: Array[String]): Unit = {
    val n = num(args, 0, 20000000L)
    val p = 1000003L // prime, coprime to n → v is a bijection on [0, n)
    require(n % p != 0, s"pick n coprime to $p")
    val perm = spark.range(n).select(
      pmod(col("id") * p, lit(n)).as("v"), col("id"))

    val (bad, tRank) = time(Ranks.globalRowNumber(perm, Seq(col("v")), "rn")
      .filter(col("rn") =!= col("v") + 1L).count())
    assert(bad == 0L, s"$bad rows ranked wrong")
    println(f"globalRowNumber: N=$n%,d permutation ranked exactly " +
      f"(0 mismatches) in $tRank%.1fs")

    val (q, tQ) = time(Ranks.quantileSelect(
      perm.select(col("v").cast("double").as("vd"), col("id")),
      "vd", "id", Seq(2500, 7500)))
    Seq(2500, 7500).foreach { bp =>
      val expect = ((bp.toLong * n + 9999L) / 10000L - 1L).toDouble
      assert(q(bp) == expect, s"bp $bp: ${q(bp)} != $expect")
    }
    println(f"quantileSelect: exact order statistics at 25%%/75%% " +
      f"in $tQ%.1fs")

    val (g, tG) = time(Ranks.giniByGroup(
      perm.select((col("id") % 3).as("grp"),
        (col("v") % 100000L).cast("double").as("x"), col("id")),
      "grp", "x", "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    g.foreach { case (grp, gini) =>
      assert(math.abs(gini - 1.0 / 3.0) < 0.01,
        s"group $grp gini $gini far from uniform 1/3")
    }
    println(f"giniByGroup: 3 groups x ${n / 3}%,d rows, all within " +
      f"0.01 of uniform 1/3, in $tG%.1fs")

    val ps = Seq(0.5, 0.95, 0.99)
    val (pct, tP) = time(Ranks.percentileSelect(
      perm.select(col("v").cast("double").as("vd")), Seq("vd"), ps))
    ps.foreach { pr =>
      // closed form over 0..n−1 with Percentile's own arithmetic
      val pos = (n - 1).toDouble * pr
      val lower = pos.floor.toLong
      val higher = pos.ceil.toLong
      val expect =
        if (higher == lower) lower.toDouble
        else (higher - pos) * lower + (pos - lower) * higher
      assert(pct(("vd", pr)) == expect,
        s"p=$pr: ${pct(("vd", pr))} != $expect")
    }
    println(f"percentileSelect: N=$n%,d DISTINCT values, interpolated " +
      f"p50/p95/p99 bit-exact with bounded per-task state, in $tP%.1fs")
  }

  // ==================================================================
  /** The samplers and replicate variances:
    *
    *  1. capPerGroup on a deliberately skewed corpus — one "domain" holds
    *     half the rows (the Zipf head every real crawl has). The claim
    *     under test: the WindowGroupLimit rewrite keeps the hot group's
    *     shuffle contribution at cap × #tasks, so wall time is scan-bound,
    *     not hot-partition-bound. Output sizes are asserted exactly.
    *  2. jk1Mean / jknMean at the same scale — the replicate variances
    *     must cost ONE aggregation pass regardless of PSU count.
    *  3. the exact-n path switch: srsExact's two renditions — the
    *     TakeOrderedAndProject limit path and the distributed-rank path
    *     the operator auto-selects at n ≥ exactNSwitch — must pick the
    *     IDENTICAL row multiset at n = min(5M, N/4) (the key is a total
    *     order up to hash ties). (The rank path's no-driver-funnel
    *     property is a plan shape, pinned by PlanSuite, not re-asserted
    *     here.) */
  private def sampler(spark: SparkSession, args: Array[String]): Unit = {
    val n = num(args, 0, 20000000L)
    // half the corpus in domain 0; the rest spread over 1000 domains
    val df = spark.range(n).select(col("id"),
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(1000L)) + 1L).as("grp"))

    val cap = 1000
    val (out, tCap) = time(Samplers.capPerGroup(df, "grp", "id", cap)
      .groupBy("grp").count()
      .agg(count(lit(1)).as("groups"), max("count").as("maxPerGroup"),
        sum("count").as("kept"))
      .head())
    val (groups, maxPer, kept) =
      (out.getLong(0), out.getLong(1), out.getLong(2))
    assert(maxPer <= cap, s"group exceeded cap: $maxPer")
    println(f"capPerGroup: N=$n%,d hot-domain=${n / 2}%,d cap=$cap " +
      f"-> kept=$kept%,d across $groups%,d groups " +
      f"(max $maxPer) in $tCap%.1fs")

    val withY = df.withColumn("y", (col("id") % 97).cast("double"))
      .withColumn("w", lit(1.0) + (col("id") % 5).cast("double"))
    val (jk1, tJk1) = time(Replication.jk1Mean(withY, col("y"), col("w"),
      pmod(col("id"), lit(500L))).head())
    val (jkn, tJkn) = time(Replication.jknMean(withY, col("y"), col("w"),
      pmod(col("id"), lit(20L)), pmod(col("id"), lit(500L))).head())
    println(f"jk1Mean: 500 PSUs over $n%,d rows -> mean=" +
      f"${jk1.getAs[Double]("mean_y")}%.4f se=" +
      f"${math.sqrt(jk1.getAs[Double]("var_jk"))}%.6f in $tJk1%.1fs; " +
      f"jknMean: 20 strata x 25 PSUs -> se=" +
      f"${math.sqrt(jkn.getAs[Double]("var_jkn"))}%.6f in $tJkn%.1fs")

    // leg 3: both exact-n paths on the same keyed frame —
    // forced through each path via switchAt, compared as multisets
    val nSample = math.min(5000000L, n / 4).toInt
    val pop = spark.range(n).select(col("id"))
    val key = xxhash64(col("id"), lit(42L))
    val tie = xxhash64(col("id"), lit(43L))
    val ((nLimit, nRank, nDiff), tSwitch) = time {
      // persist both samples: each feeds a count plus two exceptAll
      // branches — unpersisted, every branch would re-run its full
      // sort/rank pipeline (~3×) and inflate the reported time
      val viaLimit = Samplers.keepTopNByKey(pop, key, tie, nSample,
        switchAt = Int.MaxValue).persist(StorageLevel.MEMORY_AND_DISK)
      val viaRank = Samplers.keepTopNByKey(pop, key, tie, nSample,
        switchAt = 1).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        (viaLimit.count(), viaRank.count(),
          viaLimit.exceptAll(viaRank)
            .union(viaRank.exceptAll(viaLimit)).count())
      } finally { viaLimit.unpersist(); viaRank.unpersist() }
    }
    assert(nLimit == nSample && nRank == nSample,
      s"exact-n sizes: limit=$nLimit rank=$nRank want=$nSample")
    assert(nDiff == 0, s"exact-n paths disagree on $nDiff rows")
    println(f"exactN switch: n=$nSample%,d of $n%,d -> " +
      f"limit=$nLimit%,d rank=$nRank%,d diff=$nDiff in $tSwitch%.1fs")
  }

  // ==================================================================
  /** True-streaming execution for the stateful family: the w-family
    * grades BATCH renditions (the SURVEY §2.12 ruling) and
    * StreamingSuite covers watermark semantics on small fixtures; this
    * leg runs w08's exact operator — [[Streams.runningUserStats]], the
    * flatMapGroupsWithState Welford kernel — under the REAL micro-batch
    * engine and pins the state-store size per trigger from the engine's
    * own StateOperatorProgress metrics. Runs with AQE off (streaming
    * plans); the session's setting is restored afterwards.
    *
    * Shape: nEvents rows written as `nFiles` parquet files (distributed
    * generation — nothing driver-side), replayed by a file stream with
    * maxFilesPerTrigger=1 under Trigger.AvailableNow, so the engine
    * executes exactly `nFiles` stateful micro-batches with checkpointed
    * state between them. nEvents must be a multiple of nFiles · nUsers
    * (1M). Planted truth:
    *
    *  - state is O(users), NOT O(events): every file covers every user,
    *    so numRowsTotal must equal nUsers from trigger 1 onward and stay
    *    EXACTLY FLAT while the events stream past (the unbounded-state
    *    failure mode would show here as growth);
    *  - correctness across state round-trips: after the final trigger
    *    every user's running n must equal nEvents/nUsers exactly, and the
    *    Welford mean must equal the closed-form per-user mean (each
    *    user's values are a fixed residue-class sequence) — checked via
    *    the memory sink's last emission per user. */
  private def streaming(spark: SparkSession, args: Array[String]): Unit = {
    val n = num(args, 0, 10000000L)
    val nUsers = 100000L
    val nFiles = 10
    val perUser = n / nUsers
    require(n % nUsers == 0, s"nEvents $n must be a multiple of $nUsers")
    import spark.implicits._

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_")
    val dir = s"/tmp/graft_stream_probe_$tag"
    try {
      // value = (id % 997) / 9.97 — deterministic, per-user closed-form
      // arithmetic mean the checker below recomputes exactly. One
      // parquet part-file per CONTIGUOUS n/nFiles-id block: any such
      // block covers every user (block size is a multiple of nUsers),
      // so EVERY trigger updates EVERY user — the state-row series must
      // be exactly flat at nUsers from trigger 1. (A round-robin
      // repartition would NOT guarantee this: user ids stride by
      // nUsers, and nUsers ≡ 0 mod nFiles sends a user's whole
      // partition-local sequence to one file.)
      val blk = n / nFiles
      require(blk % nUsers == 0, "block size must be a multiple of nUsers")
      (0 until nFiles).foreach { f =>
        spark.range(f * blk, (f + 1) * blk)
          .select((col("id") % nUsers).as("user_id"),
            ((col("id") % 997L).cast("double") / lit(9.97)).as("value"))
          .coalesce(1)
          .write.mode("append").parquet(s"$dir/in")
      }

      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in")
        .select(col("user_id"), col("value")).as[UserEvent]

      val (q, tQ) = time {
        val query = Streams.runningUserStats(src)
          .writeStream.format("memory").queryName("probe_stats")
          .outputMode("append")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        query
      }

      val progress = q.recentProgress.toSeq
        .filter(p => p.stateOperators.nonEmpty && p.numInputRows > 0)
      require(progress.size >= nFiles,
        s"expected >= $nFiles stateful triggers, saw ${progress.size}")
      println(f"runningUserStats: N=$n%,d events / $nUsers%,d users / " +
        f"${progress.size} triggers in $tQ%.1fs")
      progress.zipWithIndex.foreach { case (p, i) =>
        val so = p.stateOperators(0)
        println(f"  trigger $i%2d: rows=${p.numInputRows}%,9d  " +
          f"stateRows=${so.numRowsTotal}%,8d  " +
          f"stateUpdated=${so.numRowsUpdated}%,8d  " +
          f"stateMem=${so.memoryUsedBytes / 1048576.0}%7.1f MiB  " +
          f"batch=${p.batchDuration / 1000.0}%5.1fs")
      }
      // the bounded-state pin: O(users) rows, exactly flat across all
      // streamed events
      progress.foreach { p =>
        val rows = p.stateOperators(0).numRowsTotal
        assert(rows == nUsers,
          s"state rows $rows != $nUsers — state is not O(users)")
      }
      val memMb = progress.map(_.stateOperators(0).memoryUsedBytes).max / 1048576.0
      println(f"state store: flat at $nUsers%,d rows across all " +
        f"triggers; peak memory $memMb%.1f MiB")

      // correctness across checkpointed state round-trips: the LAST
      // emission per user carries the full-stream Welford result
      val last = spark.table("probe_stats")
        .groupBy("user_id").agg(max(col("n")).as("n"),
          max_by(col("mean"), col("n")).as("mean"))
      val badN = last.filter(col("n") =!= perUser).count()
      assert(badN == 0L, s"$badN users ended with n != $perUser")
      // closed-form per-user ARITHMETIC mean from the residue-class
      // sequence; Welford's result depends on arrival order only in
      // trailing ulps (~1e-13 relative on these magnitudes), so the
      // 1e-9 tolerance is four orders of slack without admitting any
      // real defect (a dropped or double-counted event moves the mean
      // by ~1e-2 here)
      val meanCheck = last.select(col("user_id"), col("mean")).as[(Long, Double)]
        .mapPartitions { it =>
          it.map { case (u, got) =>
            var sum = 0.0; var i = 0L
            while (i < perUser) {
              sum += ((u + i * nUsers) % 997L).toDouble / 9.97; i += 1
            }
            if (math.abs(sum / perUser - got) <= 1e-9) 0L else 1L
          }
        }.reduce(_ + _)
      assert(meanCheck == 0L,
        s"$meanCheck users diverged from the closed-form mean")
      println(f"correctness: all $nUsers%,d users at n=$perUser with " +
        "closed-form-exact means after " +
        f"${progress.size} checkpointed state round-trips")
    } finally {
      spark.catalog.dropTempView("probe_stats")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ==================================================================
  private val horizon = 30L * 24 * 3600 * 1000000L // 30 days in µs

  /** The temporal joins and the pair→cluster resolution: inputs 10-100×
    * the test tables' size with deterministic hash-spread columns (no
    * rand streams), each operator fully distributed, each result checked
    * against a closed-form invariant. Expect LINEAR wall-time in input
    * size: as-of is one shuffle + sort per key partition, range join is
    * a bounded-fan-out equi-join, and connected components is
    * O(diameter) bounded-size rounds. The leg caches the whole synthetic
    * event table, so 100M events need SPARK_DRIVER_MEM=48g. */
  private def temporal(spark: SparkSession, args: Array[String]): Unit = {
    val nEvents = num(args, 0, 10000000L)
    val nNodes = num(args, 1, 4000000L)

    // ---- events: ~20% purchases, ~20% views, 100k users, 30-day span --
    val ev = spark.range(nEvents).select(col("id"),
      pmod(xxhash64(col("id")), lit(100000L)).as("user_id"),
      pmod(xxhash64(col("id"), lit(1)), lit(horizon)).as("t"),
      pmod(xxhash64(col("id"), lit(2)), lit(5)).as("kind"),
      (col("id") % 1000).cast("double").as("value")).cache()
    ev.count()

    val purchases = ev.filter(col("kind") === 0)
      .select(col("id").as("p_id"), col("user_id"), col("t"))
    val views = ev.filter(col("kind") === 1)
      .select(col("user_id"), col("id").as("v_id"), col("t"))

    val nPurch = purchases.count()
    val (a, tAsof) = time {
      val asof = TemporalJoins.asofBackward(purchases, views, Seq("user_id"),
        leftTime = "t", rightTime = "t", tieBreak = "v_id")
      // two-sided invariants: every purchase row survives (left-outer),
      // no matched view is in the future, and matches actually happen
      // (with ~20k views per user over the horizon, a match-nothing
      // regression cannot hide)
      asof.agg(count(lit(1)).as("n"),
        count(when(col("asof_t") > col("t"), 1)).as("bad"),
        count(col("asof_v_id")).as("matched")).head()
    }
    require(a.getLong(0) == nPurch, "as-of dropped or duplicated left rows")
    require(a.getLong(1) == 0L, "as-of matched a future row")
    require(a.getLong(2) > nPurch / 2, "as-of matched implausibly few rows")

    val (r, tRange) = time {
      val errs = ev.filter(col("kind") === 2).select(col("id").as("e_id"),
        col("user_id"), (col("t") - 600000000L).as("lo"), (col("t") - 1L).as("hi"))
      val clicks = ev.filter(col("kind") === 3)
        .select(col("user_id"), col("t"), col("value"))
      val rj = TemporalJoins.rangeJoinBucketed(errs, "lo", "hi", clicks, "t",
        Seq("user_id"), bucketWidth = 600000000L)
      rj.agg(count(lit(1)).as("pairs"),
        count(when(col("r_t") < col("lo") || col("r_t") > col("hi"), 1)).as("bad")).head()
    }
    require(r.getLong(1) == 0L, "range join matched outside the interval")
    // expectation: ~nClicks × (600s window / 30-day horizon) pairs per
    // error row's user — far above 0; a match-nothing regression fails
    require(r.getLong(0) > nEvents / 10000L, "range join matched implausibly few pairs")
    ev.unpersist()

    // ---- clusters of 4 consecutive ids: closed-form expected labels ---
    val (c, tCc) = time {
      val pairs = spark.range(nNodes).filter(col("id") % 4 =!= 3)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.connectedComponents(pairs).agg(count(lit(1)).as("n"),
        count(when(col("cluster") =!= (col("id") - pmod(col("id"), lit(4))), 1))
          .as("bad")).head()
    }
    require(c.getLong(1) == 0L, "connected components mislabeled a node")

    println(f"events=$nEvents%,d asof(${a.getLong(0)}%,d rows)=$tAsof%.1fs " +
      f"range(${r.getLong(0)}%,d pairs)=$tRange%.1fs  " +
      f"nodes=${c.getLong(0)}%,d cc=$tCc%.1fs")
  }

  /** One path graph of nNodes nodes: diameter = nNodes, the adversarial
    * case where hash-min's O(diameter) rounds are hopeless and
    * [[Dedup.connectedComponents]] must hand off to the O(log n)
    * large-star/small-star contraction; the closed-form labels
    * (component min = 0) catch any mislabeling. */
  private def temporalChain(spark: SparkSession, args: Array[String]): Unit = {
    val nNodes = num(args, 0, 1000000L)
    val (c, t) = time {
      val pairs = spark.range(nNodes - 1)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.connectedComponents(pairs).agg(count(lit(1)).as("n"),
        count(when(col("cluster") =!= 0L, 1)).as("bad")).head()
    }
    require(c.getLong(0) == nNodes, "chain cc dropped nodes")
    require(c.getLong(1) == 0L, "chain cc mislabeled a node")
    println(f"chain nodes=$nNodes%,d diameter=$nNodes%,d cc=$t%.1fs")
  }

  // ==================================================================
  /** The text-pipeline operators over a corpus 100-1000× the test
    * tables' size, each checked against a closed-form invariant. Expect
    * LINEAR wall-time in corpus size: top-terms is one cached (doc,
    * token) aggregation feeding a bounded df agg + skew-splittable join,
    * decontamination is a broadcast collision join, packing is one
    * shard-keyed window, and mixture resampling is one group-keyed
    * window. NOTE the corpus draws tokens uniformly from the vocabulary
    * — it measures throughput scaling, not Zipfian skew; the skew
    * defenses (partial aggs, AQE skew-join, no tok-windows) are design
    * properties asserted in PlanSuite, not here.
    *
    * Corpus construction: [[hashText]] with base = id, except that
    * every id ≡ 1 (mod 1000) doc REUSES base id−1 — an exact copy of a
    * benchmark doc (ids ≡ 0 mod 1000), giving decontamination a planted
    * truth: copies must all flag, and with a 50k vocabulary the chance
    * of a spurious shared 5-gram elsewhere is ~(1/50k)⁵ per pair. */
  private def text(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = num(args, 0, 2000000L)
    val base = when(col("id") % 1000 === 1, col("id") - 1).otherwise(col("id"))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      hashText(base).as("text"),
      pmod(xxhash64(col("id"), lit(7)), lit(1024L)).as("shard"))

    // ---- top terms: every doc has ≥3 distinct tokens w.h.p., so the
    // result must carry exactly k rows per doc with tf ≥ 1 ---------------
    val (a, tTop) = time {
      val top = TextPipeline.topTermsByRarity(docs, "doc_id", "text", k = 3)
      top.agg(count(lit(1)).as("n"),
        count(when(col("tf") < 1 || col("df") < 1, 1)).as("bad"),
        countDistinct(col("doc_id")).as("docs")).head()
    }
    require(a.getLong(1) == 0L, "top-terms emitted a zero tf/df")
    require(a.getLong(2) == nDocs, "top-terms lost documents")
    require(a.getLong(0) == 3L * nDocs,
      s"expected ${3 * nDocs} rows (3 per doc), got ${a.getLong(0)}")

    // ---- decontamination: planted copies must flag, nothing else ------
    val bench = docs.filter(col("doc_id") % 1000 === 0)
    val cands = docs.filter(col("doc_id") % 1000 =!= 0)
    val (d, tDecon) = time {
      val prof = TextPipeline.decontaminate(cands, bench, "doc_id", "text", 5)
      prof.agg(count(lit(1)).as("n"),
        sum(col("contaminated")).as("flagged"),
        count(when(col("doc_id") % 1000 === 1 && col("contaminated") === 0, 1))
          .as("missed_copies"),
        count(when(col("doc_id") % 1000 =!= 1 && col("contaminated") === 1, 1))
          .as("false_flags")).head()
    }
    // planted copies: ids ≡ 1 (mod 1000) below nDocs
    val nCopies = (nDocs - 2) / 1000 + 1
    require(d.getLong(0) == cands.count(), "decontaminate dropped candidates")
    require(d.getLong(1) == nCopies,
      s"flagged ${d.getLong(1)} != $nCopies planted copies")
    require(d.getLong(2) == 0L, "a planted benchmark copy was not flagged")
    require(d.getLong(3) == 0L, "a vocabulary-random doc was flagged")

    // ---- packing: constant 60-token docs ⇒ per-shard bins are dense
    // with max = floor(60·(cnt−1)/512) ----------------------------------
    val (shardCheck, tPack) = time {
      val packed = TextPipeline.packSequences(docs, Seq("shard"), "doc_id",
        "text", budget = 512)
      packed.groupBy("shard").agg(
          count(lit(1)).as("cnt"), max(col("bin_id")).as("max_bin"),
          countDistinct(col("bin_id")).as("n_bins"))
        .agg(count(when(col("max_bin") =!=
            floor((col("cnt") - 1) * tokensPerDoc / lit(512)), 1)).as("bad_max"),
          count(when(col("n_bins") =!= col("max_bin") + 1, 1)).as("gappy"))
        .head()
    }
    require(shardCheck.getLong(0) == 0L, "a shard's max bin is off")
    require(shardCheck.getLong(1) == 0L, "a shard has bin-index gaps")

    // ---- mixture resampling: exact-n per group at corpus scale --------
    val targets = Map("g0" -> 0.5, "g1" -> 0.2, "g2" -> 0.1, "g3" -> 0.05)
    val nTotal = math.min(nDocs / 2, Int.MaxValue.toLong).toInt
    val ((sizes, got), tMix) = time {
      val grouped = docs.withColumn("grp",
        concat(lit("g"), pmod(xxhash64(col("doc_id"), lit(9)), lit(5L))))
      val sizes = grouped.groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (sizes, Samplers.mixtureExact(grouped, "grp", targets, nTotal, seed = 3)
        .groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    targets.foreach { case (g, f) =>
      val want = math.min(sizes(g), math.floor(nTotal * f + 0.5).toLong)
      require(got.getOrElse(g, 0L) == want, s"group $g: ${got.get(g)} != $want")
    }
    require(!got.contains("g4"), "untargeted group must be dropped")

    // ---- BM25: matched-doc count has a closed form ---------------------
    // Querying w0..w2 (3 of 50k vocab terms): a doc matches iff any of
    // its 60 hash-drawn tokens lands on one of them — recompute the
    // match set exactly with an independent filter and require identical
    // counts, plus score-range sanity (idf-weighted sum of 3 bounded
    // per-term factors).
    val terms = Seq("w0", "w1", "w2")
    val (b, tBm) = time {
      val scored = TextPipeline.bm25(docs, "doc_id", "text", terms)
      scored.agg(count(lit(1)).as("n"),
        count(when(col("score") <= 0.0, 1)).as("nonpos"),
        max(col("score")).as("mx")).head()
    }
    val wantMatches = docs.filter(
      terms.map(t => array_contains(split(col("text"), " "), t))
        .reduce(_ || _)).count()
    require(b.getLong(0) == wantMatches,
      s"bm25 matched ${b.getLong(0)} docs, filter says $wantMatches")
    require(b.getLong(1) == 0L, "bm25 emitted a non-positive score")
    // 3 terms × (k1+1) × idf(df ≈ n/838 ± hash noise) ≈ 3 · 2.2 · ~6.7,
    // bounded generously at 60 (df would have to be 10× rarer to breach)
    require(b.getDouble(2) < 60.0, s"bm25 score ${b.getDouble(2)} out of range")

    // ---- DSIR + bigram LM: planted two-domain corpus -------------------
    // Domain A (half the docs, by id hash) draws its 60 tokens from the
    // NARROW vocab [0, 25k); domain B from the FULL [0, 50k). Target =
    // the A sub-corpus. Planted truth: every A doc must outscore every
    // B doc under both scorers — a B doc has ≈30 upper-half tokens with
    // zero target mass (smoothing-only llr / OOV backoff), a gap of
    // tens of log units, so min(A) > max(B) is exact, not statistical.
    // (P(a B doc draws all 60 tokens narrow) = 2⁻⁶⁰ — and the corpus is
    // a fixed hash draw, so the assertion is deterministic anyway.)
    val isA = pmod(xxhash64(col("id"), lit(13)), lit(2L)) === 0
    val corpus2 = spark.range(nDocs).select(col("id").as("doc_id"),
      isA.as("is_a"),
      concat_ws(" ", transform(sequence(lit(0), lit(tokensPerDoc - 1)),
        j => concat(lit("w"), pmod(xxhash64(col("id"), j),
          when(isA, lit(25000L)).otherwise(lit(50000L)))))).as("text"))
    val target2 = corpus2.filter(col("is_a"))
    // (min, max, n) of a score column per value of the key column
    def spread(df: DataFrame, key: String, score: String) =
      df.groupBy(key).agg(min(score).as("mn"), max(score).as("mx"),
        count(lit(1)).as("n")).collect().map(r => r.get(0) -> r).toMap

    // Unigram features ON PURPOSE: this corpus encodes its domain in
    // the unigram distribution only — tokens are independent uniform
    // draws, so its bigrams are ~unique random pairs whose hashed
    // counts are domain-flat. Adding them (nGramMax = 2) injects
    // zero-signal noise that breaks EXACT min/max separation (measured:
    // min(A) −7.68 < max(B) −6.58 at 200k docs) — the right feature
    // bag follows the data, and the bigram bag's correctness is pinned
    // closed-form in DsirSuite instead.
    val (dsirScored, tDsir) = time(spread(
      Dsir.importanceWeights(corpus2, target2, "doc_id", "text",
        hashBuckets = Some(1 << 18)), // the B-bounded broadcast path
      "is_a", "logw"))
    require(dsirScored(true).getAs[Long]("n") +
      dsirScored(false).getAs[Long]("n") == nDocs, "DSIR dropped docs")
    require(dsirScored(true).getAs[Double]("mn") >
      dsirScored(false).getAs[Double]("mx"),
      s"DSIR domains overlap: min(A)=${dsirScored(true).getAs[Double]("mn")}" +
        s" max(B)=${dsirScored(false).getAs[Double]("mx")}")

    val (lmScored, tLm) = time {
      val lm = NgramLm.train(target2, "text", minCount = 2)
      try spread(NgramLm.scoreDocs(lm, corpus2, "doc_id", "text")
        .join(corpus2.select("doc_id", "is_a"), "doc_id"), "is_a", "avg_logp")
      finally lm.unpersist()
    }
    require(lmScored(true).getAs[Long]("n") +
      lmScored(false).getAs[Long]("n") == nDocs, "LM scoring dropped docs")
    require(lmScored(true).getAs[Double]("mn") >
      lmScored(false).getAs[Double]("mx"),
      s"LM domains overlap: min(A)=${lmScored(true).getAs[Double]("mn")}" +
        s" max(B)=${lmScored(false).getAs[Double]("mx")}")

    // ---- BPE: train on the bounded word-count table, encode corpus ----
    // The vocab has ≤ 50k distinct words over the 11-char alphabet
    // {w,0-9}; training must return exactly nMerges chain-consistent
    // merges, and encoding with them must ROUNDTRIP — the concatenated
    // tokens of every doc equal its space-free text (the corpus is
    // already normalized, so the target is exact). Scale claims under
    // test: training's corpus cost is ONE distributed word-count pass
    // (the merge loop runs over ≤ 50k driver rows), encoding is a pure
    // broadcast-map projection.
    val (merges, tTrain) = time(Tokenize.bpeTrain(docs, "text", nMerges = 50))
    require(merges.length == 50, s"trained ${merges.length} merges")
    val producedSeq = merges.map { case (a, b) => a + b }
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      Seq(a, b).filter(_.length > 1).foreach { s0 =>
        require(producedSeq.take(r).contains(s0), s"chain break at rank $r")
      }
    }
    val (rt, tEnc) = time {
      val enc = Tokenize.bpeEncode(docs, "text", merges)
      enc.agg(count(lit(1)).as("n"),
        count(when(expr("concat_ws('', bpe)") =!=
          regexp_replace(col("text"), " ", ""), 1)).as("bad")).head()
    }
    require(rt.getLong(0) == nDocs && rt.getLong(1) == 0L,
      s"BPE roundtrip failed on ${rt.getLong(1)} of ${rt.getLong(0)} docs")

    // ---- classifier filter (t22's shape): train + score at scale ------
    // Weak label = domain A; feature = narrow-vocab token fraction read
    // from the TEXT (1.0 exactly for A docs, ≈0.5 for B — the same
    // planted-truth corpus as the DSIR leg, so min(A) > max(B) is a
    // property of the fixed hash draw). Scale claims under test: the
    // whole train+score pipeline is 3 quantized-IRLS scans plus ONE
    // broadcast-scored scan regardless of N, and the monotone model
    // must separate the domains exactly.
    val narrowFrac = expr("size(filter(split(text, ' '), " +
      "t -> CAST(substr(t, 2, 10) AS LONG) < 25000))")
      .cast("double") / tokensPerDoc
    val (clsScored, tCls) = time {
      val feats = corpus2.select(col("doc_id"),
        col("is_a").cast("double").as("y"), narrowFrac.as("x"))
      val coefs = graft.stats.Logistic.fitPortable2(feats, "y", "x", iters = 3)
      val qz = lit(1048576.0)
      spread(feats.crossJoin(broadcast(coefs))
        .withColumn("score",
          floor((lit(1.0) / (lit(1.0) +
            exp(-(col("b0") + col("b1") * col("x"))))) * qz + lit(0.5)) / qz),
        "y", "score")
    }
    require(clsScored(1.0).getAs[Long]("n") +
      clsScored(0.0).getAs[Long]("n") == nDocs, "classifier dropped docs")
    require(clsScored(1.0).getAs[Double]("mn") >
      clsScored(0.0).getAs[Double]("mx"),
      s"classifier domains overlap: min(A)=" +
        s"${clsScored(1.0).getAs[Double]("mn")} max(B)=" +
        s"${clsScored(0.0).getAs[Double]("mx")}")

    // ---- unigram-LM segmentation: vocab + Viterbi over the corpus -----
    // Scale claims under test: vocab from the bounded capped-word pass
    // (driver substring loop over ≤ 50k rows), segmentation a pure
    // broadcast-vocab DP projection. Invariants: every doc keeps all 60
    // words, every word segments to ≥ 1 piece with a finite negative
    // score (full char coverage guarantees reachability).
    val (uv, tUvoc) = time(Tokenize.unigramVocab(docs, "text",
      topWords = 50000, topPieces = 400, maxLen = 4))
    val (sAgg, tUseg) = time {
      val seg = Tokenize.unigramSegment(docs, "text", uv)
        .select(col("doc_id"), explode(col("seg")).as("w"))
      seg.agg(count(lit(1)).as("n"),
        count(when(col("w._1") < 1 ||
          col("w._2") >= 0.0 || isnan(col("w._2")) ||
          col("w._2") === Double.NegativeInfinity, 1)).as("bad")).head()
    }
    require(sAgg.getLong(0) == nDocs * tokensPerDoc,
      s"unigram segmentation lost words: ${sAgg.getLong(0)}")
    require(sAgg.getLong(1) == 0L,
      "a word segmented to an empty/non-finite/non-negative score")

    // ---- DoReMi reweighting (t25's shape): one EG step at scale --------
    // Scored frame = the classifier corpus with its quantized narrow-
    // vocab fraction as the per-doc score (A docs score 2^20 exactly, B
    // ≈ 2^19). Scale claims under test: ONE doc-keyed scan partial-
    // aggregates to |domains| = 2 rows, everything downstream is
    // domain-bounded. Invariants: the at/above-mean domain (A) keeps
    // boost exactly 2^20 (lam = 0), the below-mean domain (B) is
    // up-weighted past its n_d/N baseline, weights sum to 1.
    val (dr, tDoremi) = time {
      val drScored = corpus2.select(
        when(col("is_a"), lit("A")).otherwise(lit("B")).as("dom"),
        floor(narrowFrac * lit(1048576.0) + lit(0.5)).cast("long").as("s"))
      Samplers.doremiReweight(drScored, "dom", "s")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    }
    require(dr.size == 2, s"expected 2 domains, got ${dr.size}")
    require(dr("A")._1 + dr("B")._1 == nDocs, "doremi dropped docs")
    require(dr("A")._2 == 1048576L,
      s"above-mean domain boost drifted: ${dr("A")._2}")
    require(dr("B")._3 > dr("B")._1.toDouble / nDocs,
      s"below-mean domain not up-weighted: w=${dr("B")._3}")
    require(math.abs(dr("A")._3 + dr("B")._3 - 1.0) < 1e-12,
      "doremi weights do not normalize")

    // ---- threshold sweep (t26's shape): one pass over the corpus ------
    // Score = a per-doc uniform in [0,1) from the fixed hash draw;
    // weight = the constant doc length. Scale claims under test: one
    // scan bucketing to a 20-row frame. Invariants: full grid, total
    // retention at tau = 0, monotone non-increasing token mass.
    val (swept, tSweep) = time(TextPipeline.thresholdSweep(
      docs.select(
        (pmod(xxhash64(col("doc_id"), lit(11)), lit(1048576L))
          .cast("double") / lit(1048576.0)).as("q"),
        lit(tokensPerDoc.toLong).as("ntok")),
      "q", "ntok", nSteps = 20).collect())
    require(swept.length == 20, s"sweep grid incomplete: ${swept.length}")
    require(swept.head.getLong(1) == nDocs &&
      swept.head.getDouble(3) == 1.0, "tau=0 must retain everything")
    val masses = swept.map(_.getLong(2)).toSeq
    require(masses == masses.sorted.reverse, "retention not monotone")

    // ---- domain KL (t30's shape): two planted domains ------------------
    // Domain A (ids < nDocs/2) draws from the FULL 50k vocabulary,
    // domain B from the w0..w499 slice. Invariants: B (concentrated,
    // far from the pooled corpus distribution) must diverge strictly
    // more than A, both non-negative up to quantization, and every
    // token is accounted for. Scale claims under test: one explode
    // pass to the (domain, token) frame; marginals join
    // vocabulary-keyed; corpus totals on the 2-row domain frame.
    val (kl, tKl) = time {
      val klDocs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") < nDocs / 2, lit("A")).otherwise(lit("B")).as("dom"),
        concat_ws(" ", transform(sequence(lit(0), lit(tokensPerDoc - 1)),
          j => concat(lit("w"), pmod(xxhash64(col("id"), j),
            when(col("id") < nDocs / 2, lit(50000L)).otherwise(lit(500L))))))
          .as("text"))
      TextPipeline.domainKl(klDocs, "dom", "text")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    require(kl("A")._1 + kl("B")._1 == nDocs * tokensPerDoc,
      "domainKl lost tokens")
    require(kl("B")._2 <= 500L, "narrow domain exceeded its vocabulary")
    require(kl("B")._3 > kl("A")._3 && kl("B")._3 > 0L,
      s"concentrated domain must out-diverge the broad one: $kl")

    // ---- shard census (c04's shape): one pass to nShards rows ---------
    val (sc, tShard) = time(Samplers.shardCensus(
      docs.select(col("doc_id"), lit(tokensPerDoc.toLong).as("ntok")),
      "doc_id", "ntok", nShards = 64).collect())
    require(sc.length == 64 && sc.map(_.getLong(1)).sum == nDocs,
      "shard census lost documents")
    // multiplicative-hash balance: every shard within ±5%
    require(sc.forall(r => math.abs(r.getDouble(3) - 1.0) < 0.05),
      s"shard imbalance beyond 5%: ${sc.map(_.getDouble(3)).max}")

    println(f"docs=$nDocs%,d topTerms=$tTop%.1fs decontaminate=$tDecon%.1fs " +
      f"pack=$tPack%.1fs mixture=$tMix%.1fs bm25($wantMatches%,d matched)=$tBm%.1fs " +
      f"dsir=$tDsir%.1fs ngramLm=$tLm%.1fs bpeTrain=$tTrain%.1fs " +
      f"bpeEncode=$tEnc%.1fs classifier=$tCls%.1fs " +
      f"unigramVocab=$tUvoc%.1fs unigramSegment=$tUseg%.1fs " +
      f"doremi=$tDoremi%.1fs sweep=$tSweep%.1fs domainKl=$tKl%.1fs " +
      f"shardCensus=$tShard%.1fs")
  }
}
