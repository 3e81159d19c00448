package graft

/** Test-side reference algebra for the d ≥ 2 Newton fits: a plain
  * Gauss–Jordan solve, the inverse diagonal, and a fixed-step Newton
  * loop with an information-only trailing pass. Independent of the
  * operators' solver, so a spec can pin the solve path no oracle replays. */
object NewtonRef {
  def r12(v: Double): Double =
    BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** x with a·x = b (Gauss–Jordan, partial pivoting). */
  def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i).clone() :+ b(i))
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(m(r)(c)))
      val t = m(p); m(p) = m(c); m(c) = t
      for (r <- 0 until n if r != c) {
        val f = m(r)(c) / m(c)(c)
        for (k <- c to n) m(r)(k) -= f * m(c)(k)
      }
    }
    Array.tabulate(n)(i => m(i)(n) / m(i)(i))
  }

  /** √diag(a⁻¹) scaled by `scale`. */
  def se(a: Array[Array[Double]], scale: Double = 1.0): Array[Double] =
    Array.tabulate(a.length) { j =>
      val e = Array.tabulate(a.length)(i => if (i == j) 1.0 else 0.0)
      math.sqrt(scale * solve(a, e)(j))
    }

  /** `steps` Newton steps from `b0` (β re-rounded to 12 dp), then one
    * trailing evaluation at the reported β: (β, info at β). */
  def newton(b0: Array[Double], steps: Int)(
      gradInfo: Array[Double] => (Array[Double], Array[Array[Double]]))
      : (Array[Double], Array[Array[Double]]) = {
    var b = b0
    for (_ <- 1 to steps) {
      val (g, h) = gradInfo(b)
      b = b.zip(solve(h, g)).map { case (v, s) => r12(v + s) }
    }
    (b, gradInfo(b)._2)
  }

  /** Σ over rows of w·x·xᵀ with x = (1, xs…). */
  def outer(rows: Seq[(Double, Seq[Double])]): Array[Array[Double]] = {
    val dim = rows.head._2.size + 1
    val h = Array.ofDim[Double](dim, dim)
    rows.foreach { case (w, xs) =>
      val x = 1.0 +: xs
      for (i <- 0 until dim; j <- 0 until dim) h(i)(j) += w * x(i) * x(j)
    }
    h
  }

  /** Σ over rows of r·x with x = (1, xs…). */
  def score(rows: Seq[(Double, Seq[Double])]): Array[Double] = {
    val dim = rows.head._2.size + 1
    val g = new Array[Double](dim)
    rows.foreach { case (r, xs) =>
      (1.0 +: xs).zipWithIndex.foreach { case (x, i) => g(i) += r * x }
    }
    g
  }
}
