package graftbench

/** Independent plain-Scala recursions the benchmark checks graft's outputs against.
  * Written from the textbook equations with scalar arithmetic, sharing no code with
  * graft, so agreement is checked to a tolerance and not bit for bit. */
object Reference {

  /** Local linear trend: state (level, slope), F = [[1, 1], [0, 1]], H = [1, 0],
    * Q = diag(q0, q1), scalar R; Joseph-form covariance update. Returns the state
    * mean after each measurement. */
  def lkfTrend(zs: Seq[Double], m0: (Double, Double), p0: Double,
      q0: Double, q1: Double, r: Double): Seq[(Double, Double)] = {
    var (x0, x1) = m0
    var (p00, p01, p11) = (p0, 0.0, p0)
    zs.map { z =>
      // predict
      val a0 = x0 + x1
      val a1 = x1
      val b00 = p00 + 2 * p01 + p11 + q0
      val b01 = p01 + p11
      val b11 = p11 + q1
      // update
      val s = b00 + r
      val k0 = b00 / s
      val k1 = b01 / s
      val e = z - a0
      x0 = a0 + k0 * e
      x1 = a1 + k1 * e
      // (I - K H) B (I - K H)^T + K R K^T with I - K H = [[1 - k0, 0], [-k1, 1]]
      val c00 = (1 - k0) * (1 - k0) * b00 + k0 * k0 * r
      val c01 = (1 - k0) * (b01 - k1 * b00) + k0 * k1 * r
      val c11 = k1 * k1 * b00 - 2 * k1 * b01 + b11 + k1 * k1 * r
      p00 = c00; p01 = c01; p11 = c11
      (x0, x1)
    }
  }

  /** Recursive least squares with forgetting factor `lambda`, P0 = delta * I. */
  def rls(rows: Seq[(Array[Double], Double)], n: Int, lambda: Double, delta: Double): Seq[Array[Double]] = {
    val w = new Array[Double](n)
    val p = Array.tabulate(n, n)((i, j) => if (i == j) delta else 0.0)
    rows.map { case (x, y) =>
      val px = Array.tabulate(n)(i => (0 until n).map(j => p(i)(j) * x(j)).sum)
      val denom = lambda + (0 until n).map(i => x(i) * px(i)).sum
      val k = px.map(_ / denom)
      val e = y - (0 until n).map(i => x(i) * w(i)).sum
      for (i <- 0 until n) w(i) += k(i) * e
      val xtp = Array.tabulate(n)(j => (0 until n).map(i => x(i) * p(i)(j)).sum)
      for (i <- 0 until n; j <- 0 until n) p(i)(j) = (p(i)(j) - k(i) * xtp(j)) / lambda
      w.clone()
    }
  }

  /** Normalised least mean squares: w += mu * e * x / (eps + x.x). */
  def lms(rows: Seq[(Array[Double], Double)], n: Int, mu: Double, eps: Double): Seq[Array[Double]] = {
    val w = new Array[Double](n)
    rows.map { case (x, y) =>
      val e = y - (0 until n).map(i => x(i) * w(i)).sum
      val g = mu * e / (eps + x.map(v => v * v).sum)
      for (i <- 0 until n) w(i) += g * x(i)
      w.clone()
    }
  }

  def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Distinct word n-grams of space-separated text. */
  def shingles(text: String, n: Int): Set[String] =
    text.split(" ").filter(_.nonEmpty).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size
}
