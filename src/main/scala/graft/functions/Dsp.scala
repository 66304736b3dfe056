package graft.functions

/** Frequency-domain signal processing for seasonality extraction —
  * mathbox `f_lowpass_filter(moved_trend, T, n, f_min)` as used in the
  * reference's get_noise (metrics_advisor.py:51-62): the de-trended
  * series is lowpass-filtered to isolate seasonality; the remainder is
  * noise.
  *
  * Pinned semantics (SURVEY §4): ideal lowpass — keep DFT bins
  * |k| ≤ cutoff, zero the rest — computed as the equivalent CIRCULAR
  * CONVOLUTION with the Dirichlet kernel over the power-of-two padded
  * window. Runs per signal on one task; the engine parallelizes across
  * signals (at 100 TB the fleet axis is signal COUNT; per-series cost
  * is retention-bounded, and the O(m²) direct forms below stay under
  * ~10⁸ ops even for a year of hourly samples).
  *
  * CROSS-ENGINE DETERMINISM (the r7 conversion): every spectral value
  * here is bit-identical to the DuckDB oracle replay —
  *  - twiddles come from [[twiddles]]: `StrictMath.cos/sin`, which the
  *    JLS pins to fdlibm bit-exactness on EVERY JVM (driver, executor,
  *    any architecture). The oracle consumes the SAME doubles as
  *    VALUES literals (SparkEntry's oracle stash), so no engine ever
  *    computes a trig function on the hashed path;
  *  - all DFT/convolution folds run in a FIXED order (k- or
  *    j-ascending from 0.0), mirrored by `list_reduce(list_prepend(
  *    0.0, list(... ORDER BY ...)))` on the oracle side — IEEE-exact
  *    ops on identical inputs in identical order give identical bits;
  *  - spectral entropy quantizes the power distribution to ×1e9
  *    integers and takes logs through ExactMath.lnInt, so the entropy
  *    itself is a fixed IEEE sequence over exact integers.
  */
object Dsp {

  private[graft] def nextPow2(n: Int): Int = {
    var p = 1
    while (p < n) p <<= 1
    p
  }

  /** Soft cost guard (r7 advice): the Dirichlet/direct-DFT kernels are
    * O(m·c)+O(n·m) PER SERIES — deliberate (bit-exactness beats an FFT
    * here) and fine under the retention cap (m ≤ ~8k → ≤10^8 ops), but
    * quadratic if a retention/sampling config change inflates series
    * length. Warn once per offending pad size so the degradation is
    * loud in executor logs instead of a silent task stall.
    */
  final val PadSoftMax = 1 << 14
  private val warnedPads = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** DFT twiddle tables cos/sin(2π·j/m), j ∈ [0, m), via StrictMath —
    * the JLS-pinned fdlibm implementations, bit-identical on any JVM.
    * This is the ONE code path that evaluates trig for the whole
    * spectral family: per-task kernels call it locally, and the oracle
    * receives the same doubles as literals (SparkEntry's oracle stash
    * renders them from this same function on the driver).
    */
  def twiddles(m: Int): (Array[Double], Array[Double]) = {
    if (m > PadSoftMax && warnedPads.add(m))
      System.err.println(s"[graft.Dsp] pad size m=$m exceeds the soft bound " +
        s"$PadSoftMax: per-series spectral cost grows ~m² — check retention/" +
        "resample config before running the spectral family at this length")
    val c = new Array[Double](m)
    val s = new Array[Double](m)
    var j = 0
    while (j < m) {
      val ang = 2.0 * math.Pi * j / m
      c(j) = StrictMath.cos(ang)
      s(j) = StrictMath.sin(ang)
      j += 1
    }
    (c, s)
  }

  /** Direct DFT powers p_k = re_k² + im_k² for bins k = 1..m/2 over the
    * mean-removed first-n cells (zero-padded to m implicitly), with
    * i-ascending folds — the order the oracle replays. Returns
    * (p(1..half) in p(k), total = Σp_k folded k-ascending).
    */
  private def dftPowers(x: Array[Double], m: Int,
                        ct: Array[Double], st: Array[Double]): (Array[Double], Double) = {
    val n = x.length
    val mean = x.sum / n
    val cells = Array.tabulate(n)(i => x(i) - mean)
    val half = m / 2
    val p = new Array[Double](half + 1)
    var k = 1
    while (k <= half) {
      var sr = 0.0
      var si = 0.0
      var i = 0
      while (i < n) {
        val j = (i.toLong * k % m).toInt
        sr += cells(i) * ct(j)
        si += cells(i) * st(j)
        i += 1
      }
      p(k) = sr * sr + si * si
      k += 1
    }
    var total = 0.0
    k = 1
    while (k <= half) { total += p(k); k += 1 }
    (p, total)
  }

  /** Dominant seasonality period of a series, in samples: remove the
    * mean (DC), direct DFT over the power-of-two window, take the
    * positive-frequency bin with maximal power among periods that fit
    * at least `minCycles` times into the observed window. Returns
    * (periodSamples, strength) where strength = peak power / total
    * positive-frequency power — near 1 for a clean sinusoid, near 0
    * for white noise. None when the series is too short or carries no
    * variance. The reference hardcodes its seasonal cutoff
    * (f_min, metrics_advisor.py:57); this measures it instead.
    */
  def dominantPeriod(x: Array[Double], minCycles: Int = 3): Option[(Double, Double)] = {
    val n = x.length
    if (n < 8) return None
    val m = nextPow2(n)
    val (ct, st) = twiddles(m)
    val (p, total) = dftPowers(x, m, ct, st)
    // period = m/k samples; require k ≥ minCycles·m/n so the window saw
    // the cycle at least minCycles times (longer "periods" are trend)
    val kMin = math.max(1, math.ceil(minCycles.toDouble * m / n).toInt)
    var best = -1
    var bestP = 0.0
    var k = 1
    while (k <= m / 2) {
      if (k >= kMin && p(k) > bestP) { bestP = p(k); best = k } // first argmax
      k += 1
    }
    if (best < 0 || total <= 0) None
    else Some((m.toDouble / best, bestP / total))
  }

  /** Normalized spectral entropy of a series: Shannon entropy of the
    * positive-frequency power distribution, divided by ln(m/2) so 0 =
    * one pure tone (perfectly forecastable) and 1 = white noise — the
    * forecastability score completing the Hyndman feature triple next
    * to trend and seasonal strength. The power shares quantize to ×1e9
    * integers q_k = ⌊(p_k/total + 1e-12)·1e9 + 0.5⌋ and
    * H = Σ q_k·(lnInt(1e9) − lnInt(q_k))/1e9 — every ln an ExactMath
    * integer ln, every fold k-ascending, so the value is bit-exact
    * cross-engine. None for short or variance-free series.
    */
  def spectralEntropy(x: Array[Double]): Option[(Double, Long)] = {
    val n = x.length
    if (n < 8) return None
    val m = nextPow2(n)
    val (ct, st) = twiddles(m)
    val (p, total) = dftPowers(x, m, ct, st)
    if (!(total > 0)) return None
    val ln1e9 = ExactMath.lnInt(1000000000L)
    var h = 0.0
    var k = 1
    while (k <= m / 2) {
      val qp = math.floor((p(k) / total + 1e-12) * 1e9 + 0.5).toLong
      h += (if (qp >= 1) qp.toDouble * (ln1e9 - ExactMath.lnInt(qp)) else 0.0)
      k += 1
    }
    Some(((h / 1e9) / ExactMath.lnInt((m / 2).toLong), n.toLong))
  }

  /** Ideal lowpass: keep frequency bins with |f| <= fMin (f in Hz given
    * sample interval `stepSec`), zero the rest — computed as the exact
    * circular convolution with the Dirichlet kernel
    * K(d) = (1 + 2·Σ_{k≤c} cos(2πkd/m))/m over the last-value-padded
    * power-of-two window (identical to FFT→zero→inverse, and the form
    * the oracle replays fold for fold). Returns the filtered series
    * (the "seasonality"); `x - lowpass(x)` is the noise.
    */
  def lowpass(x: Array[Double], stepSec: Double, fMin: Double): Array[Double] = {
    val n = x.length
    if (n == 0) return x
    val m = nextPow2(n)
    val c = math.max(0, (fMin * stepSec * m).toInt) // f_k = k / (m * step)
    lowpassDirichlet(x, m, c)
  }

  /** The Dirichlet-convolution core given the pad size m and cutoff bin
    * c — shared by [[lowpass]] and the measured-cutoff path so both
    * compute the identical op sequence the oracle replays.
    */
  def lowpassDirichlet(x: Array[Double], m: Int, c: Int): Array[Double] = {
    val n = x.length
    if (n == 0) return x
    val (ct, _) = twiddles(m)
    val xp = new Array[Double](m)
    System.arraycopy(x, 0, xp, 0, n)
    // pad with the last value to limit edge ringing
    var pi = n
    while (pi < m) { xp(pi) = x(n - 1); pi += 1 }
    val kv = new Array[Double](m)
    if (c >= m / 2) {
      // cutoff at/above Nyquist keeps EVERY bin: the filter is the
      // identity, and its circular kernel is the delta (the Dirichlet
      // sum would count the aliased k > m/2 images twice — the r7
      // review's aliasing defect; the old FFT form zeroed an empty bin
      // range here). The oracle replays the same delta branch.
      kv(0) = 1.0
    } else {
      var d = 0
      while (d < m) {
        var sc = 0.0
        var k = 1
        while (k <= c) { sc += ct((k.toLong * d % m).toInt); k += 1 }
        kv(d) = (1.0 + 2.0 * sc) / m
        d += 1
      }
    }
    Array.tabulate(n) { i =>
      var s = 0.0
      var j = 0
      while (j < m) { s += xp(j) * kv(((i - j) % m + m) % m); j += 1 }
      s
    }
  }
}
