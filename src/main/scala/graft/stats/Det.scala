package graft.stats

/** Deterministic small-k linear solve, shared between the Scala driver and
  * generated SQL oracle text.
  *
  * The estimator pipelines (RegDI / PC, `RegDI2.R:181-248`,
  * `PC.R:216-253`) are bit-reproducible across engines everywhere EXCEPT
  * the k×k solve: the exact-decimal Gram sums (`Tables.dsum`) are
  * order-independent, but an LU solve with data-dependent pivoting cannot
  * be transliterated into SQL. Cramer's rule with a FIXED first-row
  * cofactor expansion is a pure arithmetic expression over the Gram
  * entries. Building it once over an arithmetic typeclass and
  * instantiating it at `Double` (driver-side solve) and at SQL text
  * (DuckDB oracle) makes both engines evaluate the structurally identical
  * IEEE expression tree — so the estimator entry points hash-match under
  * the driver's value-exact correctness gate.
  *
  * Numerics: Cramer expands to O(k!) products and is less robust than
  * pivoted elimination on ill-conditioned systems, so [[GramResult.solve]]
  * uses it only for k ≤ [[Det.maxCramerK]] (the calibration/OLS designs
  * here have k ≤ 6) and falls back to partial-pivot Gaussian elimination
  * above that.
  */
object Det {

  /** Arithmetic over which the solve is expressed exactly once. Laws the
    * instances must share: none beyond structural faithfulness — the SQL
    * instance must render the exact operation tree the Double instance
    * evaluates, parenthesizing every node so SQL operator precedence
    * cannot re-associate anything. */
  trait Arith[T] {
    def add(a: T, b: T): T
    def sub(a: T, b: T): T
    def mul(a: T, b: T): T
    def div(a: T, b: T): T
  }

  implicit object DoubleArith extends Arith[Double] {
    def add(a: Double, b: Double): Double = a + b
    def sub(a: Double, b: Double): Double = a - b
    def mul(a: Double, b: Double): Double = a * b
    def div(a: Double, b: Double): Double = a / b
  }

  /** SQL-text instance: operands are SQL scalar expressions (column
    * references or literals); every combination is fully parenthesized. */
  object SqlArith extends Arith[String] {
    def add(a: String, b: String): String = s"($a + $b)"
    def sub(a: String, b: String): String = s"($a - $b)"
    def mul(a: String, b: String): String = s"($a * $b)"
    def div(a: String, b: String): String = s"($a / $b)"
  }

  val maxCramerK = 6

  /** Determinant by cofactor expansion along the first row, with the fixed
    * accumulation order ((t0 - t1) + t2) - t3 … — identical in every
    * instantiation. */
  def det[T](m: IndexedSeq[IndexedSeq[T]])(implicit A: Arith[T]): T = {
    val k = m.size
    require(k >= 1 && m.forall(_.size == k), "det needs a square matrix")
    if (k == 1) m(0)(0)
    else {
      def minor(j: Int): IndexedSeq[IndexedSeq[T]] =
        m.tail.map(row => row.indices.collect { case c if c != j => row(c) })
      val terms = (0 until k).map(j => A.mul(m(0)(j), det(minor(j))))
      (1 until k).foldLeft(terms(0)) { (acc, j) =>
        if (j % 2 == 1) A.sub(acc, terms(j)) else A.add(acc, terms(j))
      }
    }
  }

  /** The named error of a system with no unique solution. */
  def requireNonSingular(ok: Boolean, detail: => String): Unit =
    require(ok, s"singular system ($detail): collinear or constant columns")

  /** Cramer's rule: x_j = det(A with column j replaced by rhs) / det(A). */
  def solve[T](a: IndexedSeq[IndexedSeq[T]], rhs: IndexedSeq[T])
              (implicit A: Arith[T]): IndexedSeq[T] = {
    require(a.size == rhs.size, "matrix/rhs size mismatch")
    val d = det(a)
    // an unguarded Cramer divide would return silent Inf/NaN coefficients
    // that poison every downstream estimate (r14 review); the k >
    // maxCramerK elimination raises the same error on a zero pivot.
    // T is generic (symbolic renditions build Columns — nothing to test
    // driver-side); the numeric instantiation is guarded here.
    d match {
      case dd: Double =>
        requireNonSingular(dd != 0.0 && java.lang.Double.isFinite(dd), s"det = $dd")
      case _ => ()
    }
    rhs.indices.map { j =>
      val aj = a.indices.map(r => a(r).updated(j, rhs(r)))
      A.div(det(aj), d)
    }
  }
}
