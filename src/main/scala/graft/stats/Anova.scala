package graft.stats

import org.apache.commons.math3.distribution.FDistribution
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Type-I (sequential) ANOVA over factors and their interactions —
  * `aov(Bias ~ factor(Sd) * factor(Gamma) + Estimator)`,
  * `ipynb:2828-2836 (cell 42)`.
  *
  * R's `aov` fits the nested model sequence (1) → (1+A) → (1+A+B) → …
  * and reports SS as successive RSS drops. Each design is a PREFIX of
  * the next (treatment-coded dummies), so one XᵀX/Xᵀy/yᵀy over the
  * widest design yields every nested RSS: with XᵀX = LLᵀ (Cholesky), the
  * leading q×q block of L factors the q-column prefix model, so for
  * z = L⁻¹Xᵀy every prefix has RSS_q = yᵀy − Σ_{i<q} z_i², and a term's
  * sequential SS is the Σ z_i² over its own columns (the "effects" R's
  * aov reads off a QR of X).
  *
  * Over factors those moments need no dummy columns: every row of a
  * cell c (one combination of factor levels) has the same 0/1 design
  * vector x_c, so XᵀX = Σ n_c·x_c·x_cᵀ, Xᵀy = Σ S_c·x_c and yᵀy = Σ Q_c
  * from each cell's count n_c, Σy = S_c and Σy² = Q_c. The whole table
  * is one level-cap guard pass plus ONE small `groupBy` over the factors
  * (one row per nonempty cell, collected), then driver-side arithmetic —
  * no per-model scans and no wide aggregate to plan.
  */
final case class AnovaRow(term: String, df: Long, sumSq: Double,
                          meanSq: Double, fValue: Double, pValue: Double)

object Anova {

  /** Hard cap on distinct levels per factor. A "factor" with hundreds
    * of levels is almost always a mis-specified continuous/id column,
    * and letting it through builds a (1+Σ(kᵢ−1)+…)-wide design whose
    * O(k²) state then fails confusingly (or grinds) far from the cause
    * (r15 verdict finding 4). 64 is an order of magnitude above any
    * reference workload (≤ 11 levels) while keeping the design width,
    * the collected cells and the driver-side level sets bounded. */
  val maxFactorLevels = 64

  /** The distributive level-cap guard, a pass of its own that runs
    * FIRST: `approx_count_distinct` at the DEFAULT rsd (bounded HLL
    * state, partial-aggregable). A mis-specified id column must be named
    * BEFORE anything builds or collects its full level set — a
    * post-collect-only check would OOM the aggregation buffers and the
    * driver on the way to its own error (r16 review). The estimate is
    * approximate (measured: 200 true → 202 at the default rsd; Spark's
    * HLL++ is dense-only, and rsd 0.01's 2¹⁴-register buffers measured
    * ~4× the default's agg cost for precision the slack makes
    * irrelevant), so it fires only past 2× the cap — a true ≤ cap
    * cardinality estimates nowhere near 2·cap, and cardinalities in
    * (cap, 2·cap] fall through to the EXACT post-collect check
    * ([[requireLevels]]), whose set is then ≤ ~128 strings. Mirrors
    * Det.maxCramerK's named cap on factorB. */
  private def guardLevelCap(data: DataFrame, cols: Seq[String]): Unit = {
    val guards = cols.map(c => approx_count_distinct(col(c)).as(c))
    val gRow = data.agg(guards.head, guards.tail: _*).head()
    cols.foreach { c =>
      val est = gRow.getLong(gRow.fieldIndex(c))
      require(est <= 2L * maxFactorLevels,
        s"factor column $c has ~$est distinct levels (max $maxFactorLevels); " +
          "a high-cardinality column is not a factor — bin it or fix the model")
    }
  }

  /** The exact checks on one factor once its NULL count and level set
    * are on the driver. NULL factor values fail loudly: `collect_set`
    * and treatment coding would otherwise drop them silently from the
    * levels while the rows still count in n — inconsistent ANOVA sums. */
  private def requireLevels(c: String, nNull: Long, nLevels: Int): Unit = {
    require(nNull == 0L,
      s"factor column $c has $nNull NULL values; drop or impute them before ANOVA")
    require(nLevels <= maxFactorLevels,
      s"factor column $c has $nLevels distinct levels (max $maxFactorLevels); " +
        "a high-cardinality column is not a factor — bin it or fix the model")
  }

  /** Level sets of several factors (sorted as strings): the
    * [[guardLevelCap]] pass, then one level pass carrying the NULL
    * counts. */
  def factorLevels(data: DataFrame, cols: Seq[String]): Map[String, Seq[String]] = {
    guardLevelCap(data, cols)
    val aggs = cols.map(c => collect_set(col(c).cast("string")).as(c)) ++
      cols.map(c => count(when(col(c).isNull, 1)).as(s"__nulls_$c"))
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    cols.foreach { c =>
      requireLevels(c, row.getLong(row.fieldIndex(s"__nulls_$c")),
        row.getSeq[String](row.fieldIndex(c)).size)
    }
    cols.map(c => c -> row.getSeq[String](row.fieldIndex(c)).sorted.toSeq).toMap
  }

  /** One nonempty cell: its level index per factor, count n, Σy, Σy². */
  private final case class Cell(levels: IndexedSeq[Int], n: Long, sy: Double,
                                syy: Double)

  /** Sequential (Type-I) ANOVA over ordered terms (`aov(y ~ t1 + t2 +
    * …)`), each a label and the factor columns it crosses: one factor
    * for a main effect, several for their interaction. Factor levels
    * are compared as strings and treatment-coded in sorted order (R's
    * contr.treatment: first level dropped); an interaction's columns
    * are the products of its factors' dummies, the last factor varying
    * fastest.
    *
    * Two passes: the [[guardLevelCap]] pass, then one `groupBy` over the
    * factors with `count(*)`, `count(y)`, Σy and Σy² per cell. NULL
    * factors, the exact level cap, NULL responses (R's aov would na.omit
    * the row; a NULL y would otherwise leave n and the y-moments
    * inconsistent) and single-level factors are checked from the
    * collected cells, a singular design (an empty interaction cell,
    * aliased levels) at the factorization, each with a named error.
    * Cell sums are plain double sums, so the order rows reach a cell can
    * move their last bits; the cells are folded into XᵀX and Xᵀy in a
    * fixed (sorted) order. */
  def sequential(data: DataFrame, yCol: String,
                 terms: Seq[(String, Seq[String])]): Seq[AnovaRow] = {
    val factors = terms.flatMap(_._2).distinct
    val k = factors.size
    guardLevelCap(data, factors)
    val y = col(yCol).cast("double")
    val rows = data.groupBy(factors.map(f => col(f).cast("string")): _*)
      .agg(count(lit(1)), count(y), sum(y), sum(y * y))
      .collect()

    val levels = factors.indices.map(i =>
      rows.flatMap(r => Option(r.getString(i))).distinct.sorted)
    factors.indices.foreach { i =>
      requireLevels(factors(i), rows.filter(_.isNullAt(i)).map(_.getLong(k)).sum,
        levels(i).length)
    }
    factors.zip(levels).foreach { case (f, lv) =>
      require(lv.length >= 2, s"factor $f needs ≥2 levels")
    }
    require(rows.forall(r => r.getLong(k) == r.getLong(k + 1)),
      s"ANOVA: NULL in response column '$yCol'")
    val levelIndex = levels.map(_.zipWithIndex.toMap)
    import Ordering.Implicits.seqOrdering
    val cells = rows.map(r => Cell(factors.indices.map(i => levelIndex(i)(r.getString(i))),
      r.getLong(k), r.getDouble(k + 2), r.getDouble(k + 3))).sortBy(_.levels)

    // term t owns design columns [start(t), start(t) + width(t)) after
    // the intercept; starts.last is the full design's width
    val termFactors = terms.map(_._2.map(factors.indexOf))
    val widths = termFactors.map(_.map(levels(_).length - 1).product)
    val starts = widths.scanLeft(1)(_ + _)
    val p = starts.last

    // the design columns where cell c's treatment-coded vector is 1
    def ones(c: Cell): Seq[Int] = 0 +: termFactors.indices.flatMap { t =>
      val fs = termFactors(t)
      if (fs.exists(c.levels(_) == 0)) None
      else Some(starts(t) + fs.foldLeft(0)((acc, i) =>
        acc * (levels(i).length - 1) + c.levels(i) - 1))
    }
    val xtx = Array.ofDim[Double](p, p)
    val xty = new Array[Double](p)
    cells.foreach { c =>
      val on = ones(c)
      for (i <- on; j <- on) xtx(i)(j) += c.n.toDouble
      on.foreach(i => xty(i) += c.sy)
    }
    val n = cells.map(_.n).sum
    val yty = cells.map(_.syy).sum

    // Cholesky XᵀX = LLᵀ with z = L⁻¹Xᵀy alongside (see the header). A
    // pivot that vanishes against its diagonal marks a column aliased by
    // the earlier ones — an empty interaction cell or aliased factor
    // levels. Exact singularity need not leave an exact zero (a hole at
    // a dropped first level zeroes no column), hence the relative test.
    val l = Array.ofDim[Double](p, p)
    val z = new Array[Double](p)
    for (j <- 0 until p) {
      var d = xtx(j)(j)
      var r = xty(j)
      for (m <- 0 until j) { d -= l(j)(m) * l(j)(m); r -= l(j)(m) * z(m) }
      if (!(d > 1e-10 * xtx(j)(j))) {
        val crossed = termFactors.filter(_.size > 1).flatten.distinct
        val named = if (crossed.isEmpty) factors else crossed.map(factors)
        throw new IllegalArgumentException(s"ANOVA design is singular — an " +
          s"empty (${named.mkString(", ")}) cell or aliased factor level; " +
          "aggregate or recode first")
      }
      l(j)(j) = math.sqrt(d)
      z(j) = r / l(j)(j)
      for (i <- j + 1 until p) {
        var e = xtx(i)(j)
        for (m <- 0 until j) e -= l(i)(m) * l(j)(m)
        l(i)(j) = e / l(j)(j)
      }
    }
    val termSs = terms.indices.map(t =>
      (starts(t) until starts(t + 1)).map(i => z(i) * z(i)).sum)
    val rssFull = yty - z.map(v => v * v).sum
    val dfResid = n - p
    val msResid = rssFull / dfResid

    def row(term: String, df: Long, ss: Double): AnovaRow = {
      val ms = ss / df
      val f = ms / msResid
      val pv = 1.0 - new FDistribution(df.toDouble, dfResid.toDouble)
        .cumulativeProbability(f)
      AnovaRow(term, df, ss, ms, f, pv)
    }

    terms.indices.map(t => row(terms(t)._1, widths(t).toLong, termSs(t))) :+
      AnovaRow("Residuals", dfResid, rssFull, msResid, Double.NaN, Double.NaN)
  }

  /** NULL-response guard for [[twoFactorTypeIDf]]: a NULL y would count
    * in n but not in the y-moments — inconsistent sums with no error. R's
    * aov na.omits whole rows; we fail loudly instead ([[sequential]]
    * checks the same from its cell counts). */
  private def requireY(data: DataFrame, yCol: String): DataFrame =
    data.withColumn(yCol, when(col(yCol).isNull, raise_error(lit(
      s"ANOVA: NULL in response column '$yCol'"))).otherwise(col(yCol)))

  /** `aov(y ~ A * B)`: A, B and their interaction, in that order. */
  def twoFactor(data: DataFrame, yCol: String, factorA: String,
                factorB: String): Seq[AnovaRow] =
    sequential(data, yCol, Seq(factorA -> Seq(factorA), factorB -> Seq(factorB),
      s"$factorA:$factorB" -> Seq(factorA, factorB)))

  /** Oracle-parity rendition: the [[AnovaTypeI]] tree at `Double`, fed
    * by ONE distributed pass of per-cell exact-decimal moments. Emits
    * (term, df, sum_sq, mean_sq, f_value) — no p-values, because the F
    * CDF is libm territory no SQL engine reproduces bitwise; p-values
    * stay on [[twoFactor]] (AnovaSuite's golden-F tests cover them).
    * Requires every a×b cell nonempty and b−1 ≤ [[Det.maxCramerK]],
    * matching the structure of the generated SQL (`AnovaOracle`). */
  def twoFactorTypeIDf(data0: DataFrame, yCol: String, factorA: String,
                       factorB: String): DataFrame = {
    import graft.util.Tables.dsum
    val data = requireY(data0, yCol)
    val spark = data.sparkSession
    import spark.implicits._
    val lv = factorLevels(data, Seq(factorA, factorB).distinct)
    val (la, lb) = (lv(factorA), lv(factorB))
    val (a, b) = (la.size, lb.size)
    // single-level factors: B would hand Det a 0×0 system (opaque
    // 'det needs a square matrix'), A would silently emit df=0 rows
    // with NaN mean_sq/F — name the cause like the ≥2-level guard in
    // sequential (r15 review)
    require(a >= 2, s"factor $factorA has only $a level(s) — a " +
      "two-factor ANOVA needs at least 2")
    require(b >= 2, s"factor $factorB has only $b level(s) — a " +
      "two-factor ANOVA needs at least 2")
    require(b - 1 <= Det.maxCramerK,
      s"factor $factorB has $b levels; the shared Cramer tree caps at ${Det.maxCramerK + 1}")

    val y = col(yCol)
    val cellRows = data.groupBy(col(factorA).cast("string").as("__fa"),
        col(factorB).cast("string").as("__fb"))
      .agg(count(lit(1)).as("n"), dsum(y).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    la.foreach(ai => lb.foreach(bj => require(cellRows.contains((ai, bj)),
      s"cell ($ai, $bj) is empty; the Type-I oracle tree needs the full grid")))
    val glob = data.agg(dsum(y * y).as("syy"), count(lit(1)).as("n")).head()
    val (syy, nTot) = (glob.getDouble(0), glob.getLong(1))

    val cells = AnovaTypeI.Cells[Double](
      IndexedSeq.tabulate(a, b)((i, j) => cellRows((la(i), lb(j)))._1.toDouble),
      IndexedSeq.tabulate(a, b)((i, j) => cellRows((la(i), lb(j)))._2),
      syy, nTot.toDouble, 0.0)
    val rowNs = IndexedSeq.tabulate(a)(AnovaTypeI.rowN(cells, _))
    val rowSs = IndexedSeq.tabulate(a)(AnovaTypeI.rowS(cells, _))
    val r0 = AnovaTypeI.rss0(cells, AnovaTypeI.sy(rowSs))
    val rA = AnovaTypeI.rssA(cells, rowNs, rowSs)
    val rF = AnovaTypeI.rssFull(cells)
    val k = b - 1
    val sbb = IndexedSeq.tabulate(k, k)((j, l) =>
      AnovaTypeI.sbb(cells, rowNs, j + 1, l + 1))
    val rhs = IndexedSeq.tabulate(k)(j => AnovaTypeI.rhsB(cells, rowNs, rowSs, j + 1))
    val rAdd = AnovaTypeI.rssAdditive(rA, Det.solve(sbb, rhs), rhs)

    val dfA = (a - 1).toLong; val dfB = (b - 1).toLong
    val dfAB = dfA * dfB; val dfResid = nTot - a.toLong * b
    val msResid = rF / (nTot.toDouble - (a * b).toDouble)
    def row(term: String, df: Long, ss: Double) =
      (term, df, ss, ss / df.toDouble, Some(ss / df.toDouble / msResid))
    Seq(
      row(factorA, dfA, r0 - rA),
      row(factorB, dfB, rA - rAdd),
      row(s"$factorA:$factorB", dfAB, rAdd - rF),
      ("Residuals", dfResid, rF, msResid, Option.empty[Double])
    ).toDF("term", "df", "sum_sq", "mean_sq", "f_value")
  }
}

/** Two-factor Type-I SS as ONE shared arithmetic expression tree over
  * per-cell aggregates, generic in [[Det.Arith]] — the same
  * engine-parity device as the m20–m25 Cramer oracles: instantiated at
  * `Double` it is the driver's solve, instantiated at [[Det.SqlArith]]
  * it renders the structurally identical DuckDB SQL (see
  * `queries.AnovaOracle`), so `m12_anova` hash-matches under the
  * driver's value-exact gate.
  *
  * The sequential RSS chain needs no large solve when the terms are two
  * factors and their interaction (`aov(y ~ A*B)`, `ipynb:2828-2836`):
  *  - RSS(1)     = Σy² − (Σy)²/n            (grand mean)
  *  - RSS(A)     = Σy² − Σᵢ Sᵢ²/nᵢ          (within-A SS; also y′M_Ay)
  *  - RSS(A+B)   via Frisch–Waugh: absorb A, then solve only the
  *    (b−1)×(b−1) system (D_B′M_A D_B)β = D_B′M_A y and subtract β′rhs
  *    from y′M_Ay — entries are cell-count/cell-sum arithmetic, and
  *    b−1 ≤ [[Det.maxCramerK]] keeps the Cramer tree shared;
  *  - RSS(A+B+AB) = Σy² − Σᵢⱼ Sᵢⱼ²/nᵢⱼ      (within-cell SS — the full
  *    treatment-coded design spans the nonempty-cell indicators).
  *
  * All inputs are exact across engines: counts are integers and the
  * cell sums come from the `dsum`/`sqlDsum` exact-decimal pair, so both
  * engines start from bit-identical leaves; every fold below runs in a
  * FIXED (row-major, ascending) order so they stay bit-identical at the
  * root. Requires every a×b cell nonempty — the SQL text is generated
  * for the full grid, so an empty cell would silently change the tree
  * (the Scala entry point `require`s it instead). */
object AnovaTypeI {
  import Det.Arith

  /** Per-cell leaves (row-major a×b) + global exact moments. `zero` is
    * the instance's 0.0 literal (Arith has no constants). */
  final case class Cells[T](n: IndexedSeq[IndexedSeq[T]],
                            s: IndexedSeq[IndexedSeq[T]],
                            syy: T, nTot: T, zero: T)

  /** Left fold in index order — THE accumulation order both engines use. */
  def fsum[T](ts: Seq[T])(implicit A: Arith[T]): T = ts.reduceLeft(A.add)

  def rowN[T](c: Cells[T], i: Int)(implicit A: Arith[T]): T = fsum(c.n(i))
  def rowS[T](c: Cells[T], i: Int)(implicit A: Arith[T]): T = fsum(c.s(i))

  /** Σy (over the per-row-of-A sums, ascending i). */
  def sy[T](rowSs: IndexedSeq[T])(implicit A: Arith[T]): T = fsum(rowSs)

  def rss0[T](c: Cells[T], syT: T)(implicit A: Arith[T]): T =
    A.sub(c.syy, A.div(A.mul(syT, syT), c.nTot))

  def rssA[T](c: Cells[T], rowNs: IndexedSeq[T], rowSs: IndexedSeq[T])
             (implicit A: Arith[T]): T =
    A.sub(c.syy, fsum(rowNs.indices.map(i =>
      A.div(A.mul(rowSs(i), rowSs(i)), rowNs(i)))))

  def rssFull[T](c: Cells[T])(implicit A: Arith[T]): T =
    A.sub(c.syy, fsum(for (i <- c.n.indices; j <- c.n(i).indices)
      yield A.div(A.mul(c.s(i)(j), c.s(i)(j)), c.n(i)(j))))

  /** (D_B′M_A D_B)_{jk} for B dummy levels j,k ∈ 1..b−1 (first level
    * dropped): Σᵢ [δ_jk·nᵢⱼ − nᵢⱼnᵢₖ/nᵢ]. */
  def sbb[T](c: Cells[T], rowNs: IndexedSeq[T], j: Int, k: Int)
            (implicit A: Arith[T]): T =
    fsum(c.n.indices.map { i =>
      val cross = A.div(A.mul(c.n(i)(j), c.n(i)(k)), rowNs(i))
      A.sub(if (j == k) c.n(i)(j) else c.zero, cross)
    })

  /** (D_B′M_A y)_j = Σᵢ [Sᵢⱼ − nᵢⱼSᵢ/nᵢ]. */
  def rhsB[T](c: Cells[T], rowNs: IndexedSeq[T], rowSs: IndexedSeq[T],
              j: Int)(implicit A: Arith[T]): T =
    fsum(c.n.indices.map(i => A.sub(c.s(i)(j),
      A.div(A.mul(c.n(i)(j), rowSs(i)), rowNs(i)))))

  /** RSS(A+B) = y′M_Ay − β′rhs (β from the Cramer solve). */
  def rssAdditive[T](rssAT: T, beta: IndexedSeq[T], rhs: IndexedSeq[T])
                    (implicit A: Arith[T]): T =
    A.sub(rssAT, fsum(beta.indices.map(j => A.mul(beta(j), rhs(j)))))
}
