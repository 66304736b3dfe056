package graft.functions

/** Classical statistical kernels implemented from the published math
  * (no library dependency): regularized incomplete beta via Lentz's
  * continued fraction, Student-t inverse CDF via bisection on the
  * exact CDF, and Rosner's generalized ESD many-outlier test
  * (Rosner 1983, Technometrics 25:165-172).
  *
  * All driver-free: ESD runs inside a per-signal task (the series is
  * bounded by retention), and every step is deterministic — fixed
  * iteration orders, fixed tie-breaks, no randomness.
  */
object Stats {

  /** ln Γ(x) — Lanczos approximation (g=7, n=9), the standard published
    * coefficient set; |ε| < 1e-13 on x > 0.5, more than enough for the
    * beta ratios below.
    */
  def logGamma(x: Double): Double = {
    val c = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5) {
      // reflection: Γ(x)Γ(1−x) = π / sin(πx)
      StrictMath.log(math.Pi / StrictMath.sin(math.Pi * x)) - logGamma(1.0 - x)
    } else {
      val z = x - 1.0
      var a = c(0)
      var i = 1
      while (i < 9) { a += c(i) / (z + i); i += 1 }
      val t = z + 7.5
      0.5 * StrictMath.log(2.0 * math.Pi) + (z + 0.5) * StrictMath.log(t) - t + StrictMath.log(a)
    }
  }

  /** Regularized incomplete beta I_x(a, b) via the symmetric Lentz
    * continued fraction (converges fast when x < (a+1)/(a+b+2); the
    * complement identity covers the rest).
    */
  def regIncBeta(a: Double, b: Double, x: Double): Double = {
    require(a > 0 && b > 0, s"beta params must be positive: $a, $b")
    if (x <= 0.0) 0.0
    else if (x >= 1.0) 1.0
    else {
      val lnFront = logGamma(a + b) - logGamma(a) - logGamma(b) +
        a * StrictMath.log(x) + b * StrictMath.log(1.0 - x)
      if (x < (a + 1.0) / (a + b + 2.0))
        StrictMath.exp(lnFront) * lentzBetaCf(a, b, x) / a
      else
        1.0 - regIncBeta(b, a, 1.0 - x)
    }
  }

  private def lentzBetaCf(a: Double, b: Double, x: Double): Double = {
    val tiny = 1e-300
    val eps = 1e-15
    var c = 1.0
    var d = 1.0 - (a + b) * x / (a + 1.0)
    if (math.abs(d) < tiny) d = tiny
    d = 1.0 / d
    var h = d
    var m = 1
    while (m <= 300) {
      val m2 = 2 * m
      // even step
      var aa = m * (b - m) * x / ((a + m2 - 1.0) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      h *= d * c
      // odd step
      aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + m2 + 1.0))
      d = 1.0 + aa * d; if (math.abs(d) < tiny) d = tiny
      c = 1.0 + aa / c; if (math.abs(c) < tiny) c = tiny
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < eps) return h
      m += 1
    }
    h // converged to machine precision long before 300 terms in practice
  }

  /** Student-t CDF with ν degrees of freedom. */
  def tCdf(t: Double, nu: Double): Double = {
    val ib = regIncBeta(nu / 2.0, 0.5, nu / (nu + t * t))
    if (t >= 0) 1.0 - 0.5 * ib else 0.5 * ib
  }

  /** Student-t quantile (inverse CDF) by bisection — 200 halvings of
    * [-1e6, 1e6] reach ~1e-10 absolute, deterministic on any engine.
    */
  def tQuantile(p: Double, nu: Double): Double = {
    require(p > 0 && p < 1, s"p in (0,1): $p")
    var lo = -1e6
    var hi = 1e6
    var i = 0
    while (i < 200) {
      val mid = 0.5 * (lo + hi)
      if (tCdf(mid, nu) < p) lo = mid else hi = mid
      i += 1
    }
    0.5 * (lo + hi)
  }

  /** F-distribution survival function P(F > f) with (d1, d2) degrees of
    * freedom, via the beta identity 1 − CDF(f) = I_{d2/(d2+d1·f)}(d2/2, d1/2).
    */
  def fSf(f: Double, d1: Double, d2: Double): Double =
    if (f <= 0) 1.0
    else regIncBeta(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * f))

  /** The ESD round-i critical value, ×1e4-floored — the EXACT integer
    * the per-series kernel compares against; SparkEntry's oracle stash
    * shares these with the DuckDB oracle as literals so no lgamma/atan
    * t-CDF runs on the hashed path. λ_m = (m−1)·t_{p,ν} / √((ν + t²)·m) with
    * p = 1 − α/(2m), ν = m − 2 (Rosner 1983).
    */
  def esdLam4(m: Int, alpha: Double = 0.05): Long = {
    val p = 1.0 - alpha / (2.0 * m)
    val nu = (m - 2).toDouble
    val t = tQuantile(p, nu)
    val lam = (m - 1) * t / math.sqrt((nu + t * t) * m)
    math.floor((lam + 1e-9) * 1e4 + 0.5).toLong
  }

  /** Rosner's generalized ESD: indices of up to `kMax` outliers in
    * `xs`, at significance `alpha`. Each round removes the point with
    * the largest |x − mean|/sd (first index on ties); the verdict is
    * the largest round i whose statistic R_i exceeds the critical
    * value λ_i — all candidates up to that round are outliers, even
    * ones whose own R fell under λ (masking-robust, the reason ESD
    * beats repeated Grubbs).
    */
  def esdOutliers(xs: Array[Double], kMax: Int, alpha: Double = 0.05): Seq[Int] =
    // ×1e6 input quantization: the kernel below is exact-integer, so
    // the whole iteration (means, deviations, argmax, the S2 moment)
    // is engine-independent and a SQL oracle can replay it; inputs off
    // the 1e-6 grid differ from the old raw-double kernel only within
    // quantization distance of a tie/threshold
    esdOutliersQ(xs.map(q6), kMax, alpha)

  /** `v` ×1e6 as a long, SQL `floor(v * 1e6 + 0.5)`: the same IEEE ops
    * and the same double→long conversion.
    */
  def q6(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong

  /** Exact-integer ESD core on a ×1e6-quantized series. Per round over
    * the m active points: mean is carried as the exact sum S (so the
    * deviation comparison |q_j·m − S| is integer argmax, first index
    * on ties), the squared-deviation moment is the exact
    * S2 = m²·Σq² − m·S² (BigInt — mirrors HUGEINT in the oracle), and
    * R = bestDev·√(m−1)/√S2 is a fixed 4-op IEEE sequence over
    * correctly-rounded casts. The verdict compares ⌊(R+1e-9)·1e4+0.5⌋
    * > lam4 as integers, with lam4 = [[esdLam4]] — the same integers
    * the oracle consumes as SparkEntry-stashed literals (StrictMath
    * chain, so driver stash ≡ executor kernel on any JVM).
    */
  def esdOutliersQ(qs: Array[Long], kMax: Int, alpha: Double = 0.05): Seq[Int] = {
    val n = qs.length
    val k = math.min(kMax, math.max(0, n - 2))
    if (k == 0) return Seq.empty
    val active = Array.fill(n)(true)
    val removed = new Array[Int](k)
    val flag = new Array[Boolean](k)
    var s = 0L
    var q2 = BigInt(0)
    var j = 0
    while (j < n) { s += qs(j); q2 += BigInt(qs(j)) * qs(j); j += 1 }
    var i = 0
    while (i < k) {
      val m = n - i
      var best = -1
      var bestDev = -1L
      j = 0
      while (j < n) {
        if (active(j)) {
          val dev = math.abs(qs(j) * m - s)
          if (dev > bestDev) { bestDev = dev; best = j }
        }
        j += 1
      }
      val s2 = BigInt(m) * m * q2 - BigInt(m) * BigInt(s) * BigInt(s)
      val r =
        if (s2.signum == 0) 0.0
        else bestDev.toDouble * math.sqrt((m - 1).toDouble) / math.sqrt(s2.toDouble)
      flag(i) = m >= 3 &&
        math.floor((r + 1e-9) * 1e4 + 0.5).toLong > esdLam4(m, alpha)
      removed(i) = best
      active(best) = false
      s -= qs(best)
      q2 -= BigInt(qs(best)) * qs(best)
      i += 1
    }
    var nOut = 0
    i = 0
    while (i < k) { if (flag(i)) nOut = i + 1; i += 1 }
    removed.take(nOut).toSeq
  }
}
