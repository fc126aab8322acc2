package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-size random sampling operators (SURVEY.md §2.9, G4–G7).
  *
  * `df.sample(fraction)` is Bernoulli (approximate-n) and NOT what the
  * reference's `sample(1:N, n)` does — these give exact n.
  *
  * Scale notes:
  *  - SRS / weighted top-n use sort-free `TakeOrderedAndProject`-style
  *    `orderBy(key).limit(n)` below [[exactNSwitch]] (each task keeps
  *    its local top-n, the driver merges n·P candidate rows); at or
  *    above it they switch AUTOMATICALLY to the distributed rank
  *    (range shuffle + zipWithIndex — nothing driver-sized).
  *  - Stratified exact-n shuffles once on the stratum key; per-stratum
  *    `row_number` needs no global sort. Skewed strata are bounded by
  *    the per-stratum sample size, not the stratum size.
  *  - Keys are PARTITION-INVARIANT seeded uniforms ([[rowUniform]]):
  *    pure functions of row content + seed, so the same rows are
  *    selected under ANY partitioning — unlike `rand(seed)`, whose
  *    stream shifts whenever AQE or a repartition changes the physical
  *    layout. At cluster scale that makes samples reproducible and
  *    replayable. Cross-engine RNG parity is distributional, not
  *    bitwise (SURVEY.md §7.5).
  */
object Samplers {

  /** Seeded uniform in [0,1) as a 53-bit mantissa from `xxhash64` of the
    * whole row and the seed. Identical rows share a key; for exact-n
    * that can only swap identical rows across the cut line, leaving the
    * selected multiset unchanged. */
  private[operators] def rowUniform(cols: Seq[String], seed: Long): Column =
    shiftrightunsigned(xxhash64(struct(cols.map(col): _*), lit(seed)), 11)
      .cast("double") / lit(9007199254740992.0) // 2^53

  /** Sample sizes below this use `orderBy(key).limit(n)`
    * (TakeOrderedAndProject: each task keeps a bounded local top-n, the
    * driver merges ≤ n·P candidate rows); at or above it the driver
    * merge would materialize millions of rows, so the exact-n samplers
    * switch AUTOMATICALLY to the distributed rank path
    * ([[Ranks.globalRowNumber]]: range shuffle + zipWithIndex — nothing
    * driver-sized, no single-task window). */
  private[graft] val exactNSwitch: Int = 1 << 20

  /** Shared exact top-n by (key, tie) with the size-based path switch.
    * Both paths select the same rows: (key, tie) is a total order up to
    * SIMULTANEOUS collisions of both 53-bit hashes between distinct
    * rows (~2⁻¹⁰⁶ per pair — none expected below ~2⁵⁰ rows), and
    * remaining ties are identical rows, which only swap across the cut
    * line without changing the selected multiset (the [[rowUniform]]
    * contract). The `ScaleProbes` sampler leg pins multiset-identity of
    * the two paths at n = 5M. */
  private[graft] def keepTopNByKey(df: DataFrame, key: Column, tie: Column,
                                   n: Int,
                                   descending: Boolean = false,
                                   switchAt: Int = exactNSwitch): DataFrame = {
    val keyed = df.withColumn("__key", key).withColumn("__tie", tie)
    val sort =
      if (descending) Seq(col("__key").desc, col("__tie").desc)
      else Seq(col("__key").asc, col("__tie").asc)
    if (n < switchAt)
      keyed.orderBy(sort: _*).limit(n).drop("__key", "__tie")
    else
      Ranks.globalRowNumber(keyed, sort, out = "__rn")
        .filter(col("__rn") <= n).drop("__key", "__tie", "__rn")
  }

  /** Seed offset for the independent tiebreak hash stream (64-bit
    * golden-ratio constant — any fixed odd offset works; it only has
    * to differ from every caller-visible seed derivation). */
  private val tieSeedOffset = 0x9E3779B97F4A7C15L

  /** SRS without replacement, exact n (`sample(1:N, n)`, ipynb:170).
    * Sort key = seeded row-content uniform; a SECOND independent
    * uniform is the deterministic tiebreak, so a (2⁻⁵³-rare) key
    * collision between distinct rows cannot make the selection depend
    * on partitioning or on which top-n path ran. */
  def srsExact(df: DataFrame, n: Int, seed: Long): DataFrame =
    keepTopNByKey(df, rowUniform(df.columns.toSeq, seed),
      rowUniform(df.columns.toSeq, seed ^ tieSeedOffset), n)

  /** Weighted sampling without replacement, exact n, inclusion ∝ weight
    * (Efraimidis–Spirakis 2006: key = log(u)/w, take top-n;
    * `sample(..., prob=π)`, ipynb:1281-1282). `w` must be > 0. Same
    * independent-uniform tiebreak as [[srsExact]]. */
  def weightedExact(df: DataFrame, w: Column, n: Int, seed: Long): DataFrame = {
    // enforce w > 0 (the scaladoc contract): a NEGATIVE weight flips
    // log(u)/w positive — the row deterministically beats every valid
    // (negative) key and is included in EVERY sample; w = 0 gives a
    // NULL key that is silently never selected. Loud, like ppsPoisson.
    val wG = when(w.isNull || w <= 0, raise_error(concat(
      lit("weightedExact: weight must be > 0, got "), w.cast("string"))))
      .otherwise(w)
    keepTopNByKey(df, log(rowUniform(df.columns.toSeq, seed)) / wG,
      rowUniform(df.columns.toSeq, seed ^ tieSeedOffset), n,
      descending = true)
  }

  /** Stratified sampling with proportional allocation, exact n_h per
    * stratum: n_h = round(N_h/N · nTotal) (ipynb:604-620). One shuffle
    * on the stratum key; allocation sizes ride a broadcast join. */
  def stratifiedExact(df: DataFrame, stratumCol: String, nTotal: Int,
                      seed: Long): DataFrame = {
    // Strata counts are tiny (#strata rows) — collect them and ship the
    // allocation back as a literal when-chain instead of a join: no
    // self-join lineage, no extra shuffle, works at any data scale.
    val sizes = df.groupBy(stratumCol).agg(count(lit(1)).as("N_h")).collect()
    // a NULL stratum would inflate `total` while its rows can never
    // match the when-chain (col === lit(null) is NULL) — every named
    // stratum under-allocates and the NULL rows vanish, returning a
    // silently smaller sample. Loud, like the epochMix NULL-domain
    // contract.
    sizes.foreach(r => require(!r.isNullAt(0),
      s"stratifiedExact: NULL in stratum column '$stratumCol'"))
    val total = sizes.map(_.getLong(1)).sum.toDouble
    require(total > 0, "empty input")
    val nh: Column = sizes.foldLeft(lit(0L): Column) { (acc, r) =>
      // N_h·nTotal in DOUBLE, not Long: a mega-stratum (N_h·nTotal >
      // 2⁶³) would overflow negative and silently allocate 0 rows to
      // exactly the largest stratum (r15 review); below 2⁵³ the double
      // product is exact, so graded allocations are unchanged
      val nH = math.floor(r.getLong(1).toDouble * nTotal / total + 0.5).toLong
      when(col(stratumCol) === lit(r.get(0)), lit(nH)).otherwise(acc)
    }
    val keyed = df.withColumn("__u", rowUniform(df.columns.toSeq, seed))
      .withColumn("__n_h", nh)
    val win = Window.partitionBy(stratumCol).orderBy(col("__u"))
    keyed.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= col("__n_h"))
      .drop("__u", "__rn", "__n_h")
  }

  /** Dataset-mixture resampling: exact-n per group with the allocation
    * driven by TARGET proportions (not the observed ones, as in
    * [[stratifiedExact]]) — the op a training pipeline uses to rebalance
    * a corpus toward a prescribed domain/language mix. Each group g gets
    * n_g = min(N_g, round(nTotal · targets(g))); groups absent from
    * `targets` contribute nothing. Under-populated groups are clamped to
    * their size, NOT redistributed — deterministic and auditable; callers
    * wanting redistribution can inspect the realized counts and re-run.
    * Same mechanics as [[stratifiedExact]]: one shuffle on the group key,
    * partition-invariant uniforms, per-group top-n_h window. */
  def mixtureExact(df: DataFrame, groupCol: String,
                   targets: Map[String, Double], nTotal: Int,
                   seed: Long): DataFrame = {
    require(targets.values.forall(f => f >= 0 && f <= 1),
      "target fractions must be in [0,1]")
    // a group ABSENT from targets allocates 0 (the mixture contract:
    // unlisted groups are excluded), but a NULL group key would compare
    // NULL against every target and fall through to 0 SILENTLY — the
    // same silent-drop the sibling ops raise on (r15 review)
    val nh: Column = targets.toSeq.sortBy(_._1)
      .foldLeft(when(col(groupCol).isNull, raise_error(lit(
        s"mixtureExact: NULL in group column '$groupCol'")))
        .otherwise(lit(0L)): Column) { case (acc, (g, frac)) =>
        val nG = math.floor(nTotal * frac + 0.5).toLong
        when(col(groupCol) === lit(g), lit(nG)).otherwise(acc)
      }
    val keyed = df.withColumn("__u", rowUniform(df.columns.toSeq, seed))
      .withColumn("__n_h", nh)
    val win = Window.partitionBy(groupCol).orderBy(col("__u"))
    keyed.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= col("__n_h"))
      .drop("__u", "__rn", "__n_h")
  }

  /** Deterministic train/val/test splitting: each row's partition-
    * invariant uniform lands in one of the cumulative [0,1) intervals
    * defined by `splits` (label → fraction, must sum to ≤ 1; any
    * remainder falls into the LAST label, so fractions that sum to 1
    * are exhaustive even at the float boundary). The assignment is a
    * pure function of row content + seed: stable across reruns, AQE
    * re-plans, and cluster sizes — the property a training pipeline
    * needs so no example ever migrates between train and test. Splits
    * are disjoint and exhaustive by construction. Adds `labelCol`. */
  def splitByHash(df: DataFrame, splits: Seq[(String, Double)], seed: Long,
                  labelCol: String = "split",
                  keyCols: Option[Seq[String]] = None): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).forall(_ > 0) &&
      splits.map(_._2).sum <= 1.0 + 1e-9,
      "split fractions must be positive and sum to at most 1")
    val u = rowUniform(keyCols.getOrElse(df.columns.toSeq), seed)
    df.withColumn(labelCol, assignSplit(u, splits))
  }

  /** Shared cumulative-interval label assignment: u ∈ [0,1) →
    * the split whose interval contains it (last split catches the
    * tail). Used by both uniform sources ([[splitByHash]]'s xxhash64,
    * [[splitByPortableHash]]'s portable hash). */
  private def assignSplit(u: Column, splits: Seq[(String, Double)]): Column = {
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    splits.zip(cum).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(u < hi, lit(name)).otherwise(acc)
    }
  }

  /** Per-row Bernoulli selection with probability column `p`
    * (`rbinom(N,1,π)` / `runif(N) < π`, ipynb:638,646,1284).
    *
    * Duplicate-row caveat: the uniform is a hash of the row CONTENT, so
    * identical rows draw the same uniform and are selected all-or-none —
    * correlated draws that inflate the realized-size variance when the
    * input carries duplicates. (For the exact-n samplers above ties are
    * harmless — they only swap identical rows across the cut line.)
    * When a unique id exists, pass it as `keyCols` to restore
    * independent draws; the default keys off every column, which is
    * independent whenever rows are distinct. */
  def bernoulli(df: DataFrame, p: Column, seed: Long,
                indCol: String = "selected",
                keyCols: Option[Seq[String]] = None): DataFrame =
    df.withColumn(indCol,
      (rowUniform(keyCols.getOrElse(df.columns.toSeq), seed) < p).cast("int"))

  /** Stratified Bernoulli with target-size adjustment (ipynb:631-646):
    * draw with per-row π, compare realized vs target per stratum, rescale
    * π by target/realized (clamped to 1) and redraw once. Both draws are
    * seeded md5-unit uniforms of `idCol` on distinct channels
    * (genuinely independent redraw — see [[portableMd5Uniform]]), so
    * the entire design (draw → realized counts → rescale → redraw) reruns
    * bit-identically in any engine and carries a full hash oracle (g07),
    * like [[ppsPoisson]]/[[systematic]]. Keying on an id also removes
    * [[bernoulli]]'s duplicate-row correlation caveat. NULL ids fail
    * loudly (same contract as [[splitByPortableHash]]). */
  def stratifiedBernoulliAdjusted(
      df: DataFrame, stratumCol: String, idCol: String, p: Column,
      targets: DataFrame, // (stratumCol, target)
      seed: Long): DataFrame = {
    val u1 = portableMd5Uniform(col(idCol), s"bern1:$seed",
      s"stratifiedBernoulliAdjusted: NULL in key column '$idCol'")
    val u2 = portableMd5Uniform(col(idCol), s"bern2:$seed",
      s"stratifiedBernoulliAdjusted: NULL in key column '$idCol'")
    val draw1 = df.withColumn("__s1", (u1 < p).cast("int"))
    val realized = draw1.groupBy(stratumCol)
      .agg(sum(col("__s1")).cast("double").as("__realized"))
    // LEFT join + raise: the old inner join silently removed every row
    // of a stratum absent from `targets` (or with a NULL stratum) —
    // whole strata vanished from a result whose contract is
    // df-plus-indicator. A missing target is caller error; say so.
    val factors = realized.join(targets, Seq(stratumCol), "left")
      .withColumn("__f",
        when(col("target").isNull, raise_error(concat(
          lit("stratifiedBernoulliAdjusted: stratum missing from " +
            "targets: "), col(stratumCol).cast("string"))))
          .otherwise(col("target") / greatest(col("__realized"), lit(1.0))))
      .select(col(stratumCol), col("__f"))
    draw1.join(broadcast(factors), Seq(stratumCol))
      .withColumn("selected",
        (u2 < least(p * col("__f"), lit(1.0))).cast("int"))
      .drop("__s1", "__f")
  }

  /** The shared PORTABLE multiplicative hash (Knuth §6.4: k·A mod m
    * spreads sequential keys uniformly): pure 64-bit integer arithmetic
    * — the key reduced mod the prime FIRST, so the product is ≤ ~1.3e17,
    * no overflow at any real id — expressible identically in ANSI SQL.
    * This one definition is what every mirroring oracle transcribes;
    * both constants live only here. Distinct keys can still collide
    * (keys differing by a multiple of the prime), so consumers always
    * add a deterministic tiebreak. */
  private[operators] val portablePrime = 100000007L
  private[operators] def portableHashKey(key: Column): Column =
    pmod(pmod(key, lit(portablePrime)) * lit(1315423911L),
      lit(portablePrime))

  /** Seeded engine-portable md5-unit uniform in [0,1): first 13 hex
    * digits of md5("&lt;channel&gt;:&lt;key&gt;") / 2⁵² — cryptographic-quality
    * draws the mirroring oracles transcribe verbatim (the e20/o04/m36
    * convention; the power-of-two divide is exact in both engines).
    *
    * This, NOT [[portableHashKey]], is the draw for sampling DESIGNS
    * whose variance properties assume independent uniforms (Poisson /
    * Bernoulli selection): the multiplicative hash is affine, so its
    * uniforms over sequential ids form a Weyl lattice and two seed
    * channels are constant rotations of each other — the defect class
    * measured at a 70× variance underestimate in the bootstrap (r15).
    * [[portableHashKey]] remains correct where only a deterministic
    * SPREAD or ORDER is needed (splits, group caps, fold assignment,
    * systematic order). Distinct `channel` strings give independent
    * streams. NULL keys raise with `nullMsg`. */
  private def portableMd5Uniform(key: Column, channel: String,
                                 nullMsg: String): Column =
    when(key.isNull, raise_error(lit(nullMsg)))
      .otherwise(conv(substring(
        md5(concat(lit(channel + ":"), key.cast("string"))), 1, 13),
        16, 10).cast("double") / lit(4503599627370496.0))

  /** Deterministic named-split assignment from [[portableHashKey]] of a
    * numeric key (reproducible in any engine, unlike [[splitByHash]]'s
    * xxhash64 keys). Splitting on a GROUP key rather than the row id is
    * what makes leakage-free splits possible: hash a near-dup cluster
    * label and the whole cluster lands in one split (g15). Pure
    * projection — no shuffle, no state. */
  def splitByPortableHash(df: DataFrame, keyCol: String,
                          splits: Seq[(String, Double)],
                          splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val u = portableHashKey(col(keyCol)).cast("double") /
      lit(portablePrime.toDouble)
    // a NULL key would otherwise fall through every when() into the
    // LAST split — for g15 that means exactly the un-clustered docs
    // silently landing in the eval split. Fail loudly instead.
    df.withColumn(splitCol,
      when(col(keyCol).isNull, raise_error(lit(
        s"splitByPortableHash: NULL in key column '$keyCol'")))
        .otherwise(assignSplit(u, splits)))
  }

  /** Per-group cap ("domain mixing", CCNet/C4-style): keep at most `cap`
    * rows per group, chosen by the deterministic [[portableHashKey]]
    * rank of the numeric `idCol`, so the kept subset is reproducible
    * across engines, partitionings, and reruns — the property a
    * corpus-rebalancing step needs when the pipeline replays. Hash
    * collisions within a group are possible but harmless: `idCol` is
    * the deterministic tiebreak.
    *
    * Scale shape: one shuffle on the group key; the rank ≤ cap filter
    * is a `row_number` window that Spark ≥ 3.5 rewrites to
    * WindowGroupLimit, so each map task forwards at most `cap` rows
    * per group into the shuffle — a billion-doc domain costs
    * cap × #tasks shuffled rows, not its full cardinality
    * (PlanSuite pins the WindowGroupLimit node). */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  cap: Int): DataFrame = {
    require(cap >= 1, s"cap=$cap must be >= 1")
    val win = Window.partitionBy(col(groupCol))
      .orderBy(portableHashKey(col(idCol)).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(win))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Temperature-scaled mixture resampling (the multilingual-pretraining
    * recipe: sample source g with probability ∝ n_g^alpha, alpha < 1
    * up-weighting low-resource sources — Conneau & Lample 2019 §3.1).
    * Unlike [[mixtureExact]], the target fractions are COMPUTED from
    * the realized group counts inside the plan, so no driver collect:
    * the (tiny, #groups-row) count/weight frame is broadcast back and
    * each group keeps its top n_g = floor(nTotal · w_g / Z + 0.5) rows
    * by partition-invariant uniform.
    *
    * Cross-engine determinism: alpha = 0.5 routes through `sqrt`
    * (correctly rounded in IEEE 754, bit-identical in any engine —
    * unlike `pow`, which carries no such guarantee); Z is an
    * exact-decimal [[graft.util.Tables.dsum]] of the per-group doubles,
    * so the realized per-group sizes hash-match an ANSI SQL oracle.
    * Other alphas use `pow` and keep determinism within a JVM only.
    */
  def temperatureMixture(df: DataFrame, groupCol: String, alpha: Double,
                         nTotal: Int, seed: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha must be in (0, 1]")
    // a NULL group would count into Z (deflating every named group's
    // allocation) and then vanish at the inner join below — realized
    // sample silently smaller than nTotal. Loud, the domainKl/epochMix
    // NULL-domain contract.
    val gG = when(col(groupCol).isNull, raise_error(lit(
      s"temperatureMixture: NULL in group column '$groupCol'")))
      .otherwise(col(groupCol))
    val counts = df.groupBy(gG.as(groupCol))
      .agg(count(lit(1)).cast("double").as("__n_g"))
    val weighted = counts.withColumn("__w",
      if (alpha == 0.5) sqrt(col("__n_g"))
      else if (alpha == 1.0) col("__n_g")
      else pow(col("__n_g"), lit(alpha)))
    val z = weighted.agg(graft.util.Tables.dsum(col("__w")).as("__z"))
    val nh = weighted.crossJoin(broadcast(z))
      .select(col(groupCol),
        floor(lit(nTotal.toDouble) * col("__w") / col("__z") + lit(0.5))
          .cast("long").as("__n_h"))
    val keyed = df.withColumn("__u", rowUniform(df.columns.toSeq, seed))
      .join(broadcast(nh), Seq(groupCol))
    val win = Window.partitionBy(col(groupCol)).orderBy(col("__u"))
    keyed.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= col("__n_h"))
      .drop("__u", "__rn", "__n_h")
  }

  /** Stratified k-fold assignment: within each stratum, rows ordered by
    * the deterministic [[portableHashKey]] of `idCol` (id tiebreak) get
    * fold = (rank − 1) mod k — EXACT per-stratum balance (fold sizes
    * differ by ≤ 1 inside every stratum), the property plain
    * hash-mod-k folding only has in expectation. Reproducible across
    * engines, partitionings, and reruns, like every portable-hash
    * consumer here.
    *
    * Scale shape: one shuffle on the stratum key; the per-stratum
    * `row_number` is the same single-partition-per-stratum window the
    * other exact-n samplers use — a mega-stratum serializes through one
    * task, so strata are expected to be domain/language-sized, not
    * corpus-sized (same contract as [[stratifiedExact]]). */
  def kFoldStratified(df: DataFrame, stratumCol: String, idCol: String,
                      k: Int, foldCol: String = "fold"): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    val win = Window.partitionBy(col(stratumCol))
      .orderBy(portableHashKey(col(idCol)).asc, col(idCol).asc)
    df.withColumn(foldCol,
      ((row_number().over(win) - lit(1)) % lit(k)).cast("int"))
  }

  /** πps Poisson sampling (probability proportional to size — the
    * size-biased design the reference's Poisson leg draws from):
    * πᵢ = min(1, n·xᵢ/Σx), include row i iff uᵢ < πᵢ with uᵢ from the
    * engine-portable md5-unit draw of `idCol` (independent uniforms —
    * the design variance Σπ(1−π) assumes them; see
    * [[portableMd5Uniform]]). Returns the sample
    * with `pi` (for 1/π Horvitz–Thompson weighting) — realized size is
    * random with expectation ≤ n, the Poisson-design property.
    *
    * Scale shape: one exact-decimal total + a pure selection
    * projection — no shuffle, no state; reruns bit-identically in any
    * engine (which is what lets a sampling DESIGN carry a hash oracle).
    * `x` must be ≥ 0 with Σx > 0. */
  def ppsPoisson(df: DataFrame, sizeCol: String, idCol: String,
                 targetN: Int): DataFrame = {
    import graft.util.Tables.dsum
    require(targetN > 0, s"targetN must be positive, got $targetN")
    val tot = df.agg(dsum(col(sizeCol))).head().getDouble(0)
    require(tot > 0.0, "ppsPoisson needs a positive size total")
    // a NULL id (or NULL/negative size) would otherwise make u (or pi)
    // NULL and the filter silently drop the row — a biased sample with
    // no signal. Fail loudly, same contract as systematic().
    val sz = when(col(sizeCol).isNull || col(sizeCol) < 0,
      raise_error(lit(s"ppsPoisson: NULL or negative size in '$sizeCol'")))
      .otherwise(col(sizeCol))
    val pi = least(lit(1.0), lit(targetN.toDouble) * sz / lit(tot))
    val u = portableMd5Uniform(col(idCol), "pps",
      s"ppsPoisson: NULL in key column '$idCol'")
    df.withColumn("pi", pi).filter(u < col("pi"))
  }

  /** One exponentiated-gradient step of DoReMi-style domain reweighting
    * (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up
    * Language Model Pretraining", §3 — the Group-DRO update
    * α_d ∝ α_ref,d · exp(η · λ_d), with the baseline proportion n_d/N
    * as α_ref and per-domain excess loss λ_d). `scored` carries one row
    * per example with an integer-quantized per-example score in
    * `scoreCol` (higher = more reference-like, e.g. the t13 LM chain's
    * 2⁻²⁰-quantized avg log-prob); λ_d = max(0, mean_all − mean_d) in
    * un-quantized units, η = 1.
    *
    * Cross-engine determinism: every aggregate is an EXACT integer sum
    * (quantized longs), each mean is ONE IEEE division of exact
    * integers, λ_d is one subtraction of bit-identical doubles and one
    * exact power-of-two division; the only libm call (`exp`) is
    * re-quantized to `quantum` (the m06/t23 convention — drift ≪ one
    * quantum), after which n_d · boost_q is an exact integer product
    * and the final normalization ONE division of exact integers.
    *
    * Scale shape: one doc-keyed scan partial-aggregates to |domains|
    * rows; everything downstream (the EG step, the normalizer) is
    * domain-bounded and broadcast — nothing corpus-sized moves. */
  def doremiReweight(scored: DataFrame, domainCol: String,
                     scoreCol: String,
                     quantum: Double = 1048576.0): DataFrame = {
    // constant partition key: after the groupBy the frame holds one row
    // per domain, so the global windows see |domains| rows, not the
    // corpus — and the corpus aggregate computes ONCE (an agg+crossJoin
    // rendition would re-derive it in each plan branch unless exchange
    // reuse happens to fire)
    val all = Window.partitionBy(lit(1))
    // NULL scores fail loudly (the ppsPoisson/systematic contract):
    // sum() would skip them while count() kept them, silently biasing
    // the domain mean low and over-boosting that domain
    val guarded = when(col(scoreCol).isNull,
      raise_error(lit(s"doremiReweight: NULL in score column '$scoreCol'")))
      .otherwise(col(scoreCol))
    scored.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum(guarded).as("__s"))
      .withColumn("__lam", greatest(lit(0.0),
        (sum(col("__s")).over(all).cast("double")
          / sum(col("n_docs")).over(all).cast("double")
          - col("__s").cast("double") / col("n_docs").cast("double"))
          / lit(quantum)))
      .withColumn("boost_q", {
        val b = exp(col("__lam")) * lit(quantum) + lit(0.5)
        // guard BEFORE the cast: the non-ANSI double→long cast saturates
        // at Long.MaxValue, which a post-cast comparison can miss
        when(b >= lit(9.223372036854776e18),
          raise_error(lit("doremiReweight: boost overflows long — " +
            "excess loss is out of scale for this quantum")))
          .otherwise(floor(b).cast("long"))
      })
      // n_docs · boost_q must stay an EXACT long: an excess loss large
      // enough to overflow it (λ ≳ 30 un-quantized units, or a mismatched
      // quantum) means the score scale is wrong — raise, don't wrap
      .withColumn("__raw",
        when(col("boost_q") > expr(s"${Long.MaxValue}L div n_docs"),
          raise_error(lit("doremiReweight: n_docs * boost_q overflows " +
            "long — excess loss is out of scale for this quantum")))
          .otherwise(col("n_docs") * col("boost_q")))
      .select(col(domainCol), col("n_docs"), col("boost_q"),
        (col("__raw").cast("double")
          / sum(col("__raw")).over(all).cast("double")).as("weight"))
  }

  /** Deterministic training-shard assignment census: every row lands in
    * shard `portableHash(id) mod nShards` (reproducible in any engine —
    * the property that lets a resumed or re-planned training run see
    * the SAME shard contents), and the census reports each shard's
    * document count, token mass, and load ratio (shard tokens ×
    * nShards / total tokens — 1.0 is perfect balance). Every shard
    * emits its grid row even when empty. NULL ids/weights fail loudly
    * (the [[splitByPortableHash]]/[[doremiReweight]] contract).
    *
    * Scale shape: ONE partial-aggregable pass to nShards rows; the
    * balance window runs on the nShards-row frame, never the corpus.
    * The assignment itself is a pure projection — a writer shards the
    * corpus with the same expression and no extra shuffle beyond the
    * final partitionBy. */
  def shardCensus(df: DataFrame, idCol: String, weightCol: String,
                  nShards: Int): DataFrame = {
    require(nShards >= 2, s"nShards=$nShards must be >= 2")
    val id = when(col(idCol).isNull,
      raise_error(lit(s"shardCensus: NULL in id column '$idCol'")))
      .otherwise(col(idCol))
    val w = when(col(weightCol).isNull,
      raise_error(lit(s"shardCensus: NULL in weight column '$weightCol'")))
      .otherwise(col(weightCol))
    val per = df
      .groupBy(pmod(portableHashKey(id), lit(nShards.toLong))
        .cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(w).as("n_toks"))
    val grid = df.sparkSession.range(nShards.toLong)
      .select(col("id").cast("int").as("shard"))
    val all = Window.partitionBy(lit(1))
    grid.join(per, Seq("shard"), "left")
      .na.fill(0L, Seq("n_docs", "n_toks"))
      .select(col("shard"), col("n_docs"), col("n_toks"),
        ((col("n_toks") * lit(nShards.toLong)).cast("double")
          / sum(col("n_toks")).over(all).cast("double")).as("load_ratio"))
      .orderBy("shard")
  }

  /** Data-constrained epoch mixing (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given per-domain token masses
    * T_d, a training budget B = `budgetFactor` × ΣT_d, and a repeat cap
    * `maxEpochs`, allocate each domain its temperature-smoothed budget
    * share s_d = √T_d / Σ√T_d (the mT5/XLM-R α = 0.5 rebalancing — the
    * same smoothing as [[temperatureMixture]]) and report the epochs it
    * will be repeated for, capped: epochs_d = min(maxEpochs,
    * s_d·B / T_d). `eff_toks` is the realized token draw
    * round(epochs_d · T_d); `capped` marks domains whose uncapped
    * allocation exceeded the repeat cap (their surplus is the budget a
    * second planning round would redistribute).
    *
    * Float parity: T_d and B are exact integers; √ is correctly
    * rounded; Σ√T_d rides the dsum exact-decimal convention; the
    * epochs chain is mirrored IEEE ops, and eff_toks re-enters exact
    * integers through floor(x + 0.5).
    *
    * Scale shape: one doc-keyed partial agg to |domains| rows;
    * everything downstream is domain-bounded window arithmetic. */
  def epochMix(df: DataFrame, domainCol: String, weightCol: String,
               budgetFactor: Long, maxEpochs: Double): DataFrame = {
    require(budgetFactor >= 1, s"budgetFactor=$budgetFactor must be >= 1")
    require(maxEpochs > 0.0, s"maxEpochs=$maxEpochs must be positive")
    val w = when(col(weightCol).isNull,
      raise_error(lit(s"epochMix: NULL in weight column '$weightCol'")))
      .otherwise(col(weightCol))
    // a NULL domain would silently form its own phantom group and skew
    // every other domain's share — fail loudly (the shardCensus
    // contract)
    val dom = when(col(domainCol).isNull,
      raise_error(lit(s"epochMix: NULL in domain column '$domainCol'")))
      .otherwise(col(domainCol))
    val all = Window.partitionBy(lit(1))
    val perDomain = df.groupBy(dom.as(domainCol))
      .agg(sum(w).as("n_toks"))
    val shared = perDomain
      .withColumn("__w", sqrt(col("n_toks").cast("double")))
      .withColumn("__z", graft.util.Tables.dsumOver(col("__w"), all))
      .withColumn("__b",
        (sum(col("n_toks")).over(all) * lit(budgetFactor)).cast("double"))
      .withColumn("__raw", col("__w") / col("__z") * col("__b")
        / col("n_toks").cast("double"))
    shared.select(col(domainCol), col("n_toks"),
      least(col("__raw"), lit(maxEpochs)).as("epochs"),
      floor(least(col("__raw"), lit(maxEpochs))
        * col("n_toks").cast("double") + lit(0.5)).cast("long")
        .as("eff_toks"),
      (col("__raw") > lit(maxEpochs)).cast("int").as("capped"))
      .orderBy(domainCol)
  }

  /** Systematic sampling with interval k: order the frame by the
    * portable hash of `idCol` (a deterministic pseudo-random ordering —
    * the list-order randomization classical systematic sampling
    * requires) and keep every k-th row starting at `start`. Exactly
    * ⌈(n−start)/k⌉ rows, reproducible in any engine.
    *
    * `idCol` must be a non-NULL KEY: the (hash, id) pair is the total
    * order reproducibility rests on, so duplicate ids would leave tied
    * rows ranked by shuffle arrival. NULLs fail loudly (same contract
    * as [[splitByPortableHash]]).
    *
    * Scale shape: the rank rides [[graft.operators.Ranks.globalRowNumber]]
    * — a distributed sort + zipWithIndex, no single-task window. */
  def systematic(df: DataFrame, idCol: String, k: Int,
                 start: Int = 0): DataFrame = {
    require(k >= 2, s"interval k=$k must be >= 2")
    require(start >= 0 && start < k, s"start=$start must be in [0, $k)")
    val guarded = df.withColumn("__hk",
      when(col(idCol).isNull,
        raise_error(lit(s"systematic: NULL in key column '$idCol'")))
        .otherwise(portableHashKey(col(idCol))))
    Ranks.globalRowNumber(guarded,
        Seq(col("__hk"), col(idCol)), out = "__rn")
      .filter((col("__rn") - lit(1L)) % lit(k.toLong) === lit(start.toLong))
      .drop("__hk", "__rn")
  }
}
