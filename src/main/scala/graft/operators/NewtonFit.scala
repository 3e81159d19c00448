package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{ParamFrame, ScaleOps}

/** The shared core of the iterative Newton fits — the four GLMs
  * in [[LinearModel]] and the three survival regressions in
  * [[Behavior]]. A fit supplies only its own Spark pass (the aggregate
  * that yields the gradient and information at β), its start values and
  * its output columns; the fit base bracket, the loop, the step and SE
  * solves and the Wald columns are written here once.
  *
  * Determinism contract: β re-rounds to 12 dp after every step; with
  * TWO parameters the step and the SE use the closed-form 2×2
  * expressions a DuckDB oracle mirrors verbatim, larger systems solve by
  * in-place Gaussian elimination (oracle replay covers the 2×2 case). */
private[operators] object NewtonFit {

  def round12(v: Double): Double =
    BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The fit base bracket: `body` runs over `base` — the quantized
    * design, [[ScaleOps.persisted]] (Weibull: [[ScaleOps.cut]]) because
    * every pass re-reads it — with AQE off ([[ParamFrame.withFixedPlan]]
    * — every pass is a tiny global aggregate), and the base is released
    * on every exit. */
  def withBase[T](base: DataFrame)(body: DataFrame => T): T =
    ScaleOps.releasing(base)(
      ParamFrame.withFixedPlan(base.sparkSession)(body(base)))

  // ---- design columns: covariate k is `__x{k}`, DECIMAL(8,4) ----

  /** The fit rows: the complete cases of `df` (every `required` column
    * and covariate non-NULL), projected to the `response` columns and
    * covariate i quantized to DECIMAL(8,4) as `__x{i}`. */
  def design(df: DataFrame, required: Seq[String], response: Seq[Column],
      covariates: Seq[String]): DataFrame =
    df.filter((required ++ covariates).map(col(_).isNotNull).reduce(_ && _))
      .select((response ++ covariates.zipWithIndex.map { case (c, i) =>
        col(c).cast("decimal(8,4)").as(s"__x$i") }): _*)

  /** Design column i as an exact decimal (i = 0 is the intercept). */
  def xDec(i: Int): Column =
    if (i == 0) lit(1).cast("decimal(2,0)") else col(s"__x${i - 1}")

  /** Design column i as a double (i = 0 is the intercept). */
  def xDbl(i: Int): Column =
    if (i == 0) lit(1.0) else col(s"__x${i - 1}").cast("double")

  /** η = p₀ + Σₖ xₖ·pₖ₊₁ over `d` covariates, accumulated left to right
    * in double — the identical expression the oracles write. The
    * parameters are columns of a broadcast one-row frame with prefix
    * `pfx` (see [[ParamFrame]]), so the plan is iteration-invariant. */
  def eta(d: Int, pfx: String): Column =
    (0 until d).foldLeft(ParamFrame.p(pfx, 0)) { (acc, i) =>
      acc + col(s"__x$i").cast("double") * ParamFrame.p(pfx, i + 1)
    }

  /** The count of rows where `cond` holds — the fail-loud overflow
    * guard every pass carries (a NULL decimal would silently drop its
    * row from every moment sum). */
  def countWhere(cond: Column): Column =
    sum(when(cond, lit(1L)).otherwise(lit(0L)))

  /** Decimal field `o` of `r` as a double, 0 when NULL (an empty sum). */
  def dec(r: Row, o: Int): Double =
    if (r.isNullAt(o)) 0.0 else BigDecimal(r.getDecimal(o)).toDouble

  // ---- the small dense algebra on the collected sums ----

  /** The upper-triangle index pairs (i ≤ j) of a dim×dim symmetric
    * matrix, in the order every pass lays out its information sums. */
  def pairs(dim: Int): IndexedSeq[(Int, Int)] =
    for { i <- 0 until dim; j <- i until dim } yield (i, j)

  /** The symmetric matrix whose upper triangle is `v(p)` at pair p. */
  def symmetric(dim: Int)(v: Int => Double): Array[Array[Double]] = {
    val m = Array.ofDim[Double](dim, dim)
    pairs(dim).zipWithIndex.foreach { case ((i, j), p) =>
      val x = v(p); m(i)(j) = x; m(j)(i) = x
    }
    m
  }

  /** The Newton step δ with info·δ = grad; None when singular. */
  def step(info: Array[Array[Double]],
      grad: Array[Double]): Option[Array[Double]] =
    if (info.length == 2) {
      // the closed-form 2×2 solve the oracles mirror verbatim
      val det = info(0)(0) * info(1)(1) - info(0)(1) * info(0)(1)
      if (det <= 0) None
      else Some(Array(
        (info(1)(1) * grad(0) - info(0)(1) * grad(1)) / det,
        (info(0)(0) * grad(1) - info(0)(1) * grad(0)) / det))
    } else solveSpd(info.map(_.clone()), grad.clone())

  /** √(scale·(info⁻¹)ᵢᵢ) per parameter; None where the information is
    * singular, the diagonal is not positive, or `scale` ≤ 0. Gamma
    * passes its dispersion φ̂; the other fits pass 1.0, which keeps
    * their doubles exact (1.0·x == x). */
  def standardErrors(info: Array[Array[Double]],
      scale: Double = 1.0): IndexedSeq[Option[Double]] = {
    val dim = info.length
    if (dim == 2) {
      val det = info(0)(0) * info(1)(1) - info(0)(1) * info(0)(1)
      if (det <= 0 || scale <= 0) IndexedSeq.fill(dim)(None)
      else IndexedSeq(Some(math.sqrt(scale * info(1)(1) / det)),
        Some(math.sqrt(scale * info(0)(0) / det)))
    } else invertSpd(info) match {
      case Some(inv) if scale > 0 => (0 until dim).map(i =>
        if (inv(i)(i) > 0) Some(math.sqrt(scale * inv(i)(i))) else None)
      case _ => IndexedSeq.fill(dim)(None)
    }
  }

  /** A finished loop: the reported β, the gradient and information of
    * the last pass, and whether a step met a singular information (β
    * and every statistic are then NULL). */
  case class Fit(beta: Array[Double], grad: Array[Double],
      info: Array[Array[Double]], singular: Boolean) {
    def coefs: Option[Array[Double]] = if (singular) None else Some(beta)
    def se(scale: Double = 1.0): IndexedSeq[Option[Double]] =
      if (singular) IndexedSeq.fill(beta.length)(None)
      else standardErrors(info, scale)
  }

  /** The Newton loop: `iterations` stepping passes from `start`, each
    * `pass(β)` returning (gradient, information) at β and β moving by
    * [[step]] re-rounded to 12 dp; stops at the first singular step.
    * With `trailing`, ONE more no-step pass re-evaluates the
    * information at the reported β, so the SEs price there rather than
    * at the penultimate β. */
  def run(start: Array[Double], iterations: Int, trailing: Boolean)(
      pass: Array[Double] => (Array[Double], Array[Array[Double]])): Fit = {
    var beta = start
    var last: (Array[Double], Array[Array[Double]]) = null
    var singular = false
    var it = 0
    while (it < iterations + (if (trailing) 1 else 0) && !singular) {
      last = pass(beta)
      if (it < iterations) step(last._2, last._1) match {
        case None => singular = true
        case Some(st) => beta = beta.zip(st).map { case (b, v) => round12(b + v) }
      }
      it += 1
    }
    Fit(beta, last._1, last._2, singular)
  }

  /** (estimate, se, z, p) with z = estimate/se (NULL unless se > 0) and
    * the two-sided p = min(1, 2·Φ̄(|z|)) via the shared A&S normal
    * survival. */
  type Wald = (Option[Double], Option[Double], Option[Double], Option[Double])

  def wald(est: Option[Double], se: Option[Double]): Wald = {
    val z = for (b <- est; s <- se if s > 0) yield b / s
    (est, se, z, z.map(x =>
      math.min(1.0, 2.0 * graft.profile.Drift.normalSfAS(math.abs(x)))))
  }

  /** One [[Wald]] per parameter; all NULL when `beta` is None. */
  def waldRows(beta: Option[Array[Double]],
      se: Seq[Option[Double]]): IndexedSeq[Wald] =
    se.indices.map(i => wald(beta.map(_(i)), se(i)))

  /** `dim` all-NULL rows: the output of a fit that cannot start. */
  def nullRows(dim: Int): IndexedSeq[Wald] =
    IndexedSeq.fill(dim)((None, None, None, None))

  /** Solve A·x = b for a small symmetric positive-definite A by in-place
    * Gaussian elimination with partial pivoting; None when a pivot is
    * exactly 0. */
  def solveSpd(a: Array[Array[Double]],
      b: Array[Double]): Option[Array[Double]] = {
    val dm = a.length
    for (c <- 0 until dm) {
      var piv = c
      for (r <- c + 1 until dm) if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
      if (a(piv)(c) == 0.0) return None
      if (piv != c) {
        val tmp = a(piv); a(piv) = a(c); a(c) = tmp
        val tb = b(piv); b(piv) = b(c); b(c) = tb
      }
      for (r <- c + 1 until dm) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until dm) a(r)(k) -= f * a(c)(k)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](dm)
    for (r <- dm - 1 to 0 by -1) {
      var acc = b(r)
      for (k <- r + 1 until dm) acc -= a(r)(k) * x(k)
      x(r) = acc / a(r)(r)
    }
    Some(x)
  }

  /** Invert a small symmetric positive-definite matrix column by column
    * via [[solveSpd]]; None when singular. */
  def invertSpd(a: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val dm = a.length
    val cols = (0 until dm).map { j =>
      val e = Array.tabulate(dm)(i => if (i == j) 1.0 else 0.0)
      solveSpd(a.map(_.clone()), e) match {
        case Some(c) => c
        case None => return None
      }
    }
    Some(Array.tabulate(dm, dm)((i, j) => cols(j)(i)))
  }
}
