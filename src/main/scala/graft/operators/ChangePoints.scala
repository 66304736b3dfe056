package graft.operators

import graft.Caches._
import graft.Num.r4d
import graft.functions.{Dsp, EDivisive}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-series analytics that genuinely need the full per-signal series
  * in one place (e-divisive change points, PELT, ESD, FFT seasonality
  * and decomposition). Each one is a [[SignalKernel.series]] kernel:
  * the grouping is relational on (name, node), so it reuses the grid's
  * (name, node) exchange instead of adding one, and each task holds one
  * signal's series as sorted primitive arrays (bounded by retention —
  * thousands of points) while the algorithm runs in tight JVM loops;
  * output returns to DataFrame land. At 100 TB the parallelism is the
  * number of signals, which is what grows — per-series cost is constant.
  */
object ChangePoints {

  /** Centered rolling median, window w (odd), edge-shrunk — mathbox
    * `moving_median` as pinned in SURVEY §4 (min_periods=1). Shared
    * with the report renderer, which draws the filtered overlay the
    * reference plots (metrics_advisor.py:203).
    */
  private[graft] def movingMedian(x: Array[Double], w: Int): Array[Double] = {
    val n = x.length
    val h = w / 2
    Array.tabulate(n) { i =>
      val lo = math.max(0, i - h); val hi = math.min(n - 1, i + h)
      val win = java.util.Arrays.copyOfRange(x, lo, hi + 1).sorted
      val m = win.length
      if (m % 2 == 1) win(m / 2) else (win(m / 2 - 1) + win(m / 2)) / 2.0
    }
  }

  /** Per-signal permutation sort keys for the e-divisive test:
    * keys(p)(i) = signed low-64 md5 of "name|node|p|i" — the house
    * hash, position-local, so the DuckDB oracle regenerates the exact
    * same permutation draw with its own md5 (EDivisive.argsortKeys
    * explains why sort-order permutations replaced Fisher-Yates).
    */
  private[graft] def permKeys(name: String, node: String,
                              permutations: Int, n: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(permutations, n) { (p, i) =>
      val d = md.digest(s"$name|$node|$p|$i".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d, 8, 8).getLong
    }
  }

  /** E-divisive change points per signal. Defaults mirror the reference
    * call site: pvalue=0.05, permutations=100 (metrics_advisor.py:148);
    * the early-exit in EDivisive keeps 100 permutations cheap (most
    * splits resolve significance long before the full count).
    * `medianW > 0` first smooths the series with the centered rolling
    * median of that window — the reference always detects on
    * `moving_median(data, 5)` (metrics_advisor.py:147-148), so single-
    * sample spikes never register as distributional change.
    *
    * The test runs on the ×1e4-quantized filtered series with
    * md5-derived sort-order permutations ([[permKeys]]) — engine-exact
    * Long distance sums, every permutation replayable — so the whole
    * hierarchical test is SQL-oracle-verifiable (the last kernel the r4
    * verdict listed as inexpressible).
    * Output: name, node, cp_tsb (grid time of the change), qhat.
    */
  def eDivisive(grid: DataFrame, pvalue: Double = 0.05, permutations: Int = 100,
                minSize: Int = 5, medianW: Int = 0,
                maxPoints: Int = 64): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    // relational grouping reuses the grid pin's (name, node) layout —
    // no kernel exchange, full width (see SignalKernel; the typed
    // groupByKey form ran this whole stage on ONE AQE-coalesced task)
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) {
      (name, node, ts, raw) =>
        val series = if (medianW > 0) movingMedian(raw, medianW) else raw
        val q = series.map(v => math.floor((v + 1e-9) * 1e4 + 0.5).toLong)
        EDivisive.changePointsKeyed(q,
            permKeys(name, node, permutations, q.length),
            pvalue, minSize, maxPoints)
          .map(cp => (name, node, ts(cp.index), r4d(cp.qhat / 1e4)))
      }
      .toDF("name", "node", "cp_tsb", "qhat")
  }

  /** PELT changepoints per signal (functions.Pelt): penalized-SSE
    * optimal partitioning — the deterministic, seedless complement to
    * [[eDivisive]] (mean shifts under a BIC-style penalty vs
    * permutation-tested distributional change). Same distributed shape:
    * one shuffle keyed by signal, the expected-O(n) pruned DP runs on
    * the retention-bounded series in-task. Output one row per
    * changepoint with the segment means either side — the quantities a
    * drift report shows.
    *
    * The DP runs on the 1e4-quantized series (functions.Pelt scaladoc:
    * exact integer prefix moments → engine-exact costs), and the
    * segment means are computed from the same exact prefix sums — so
    * the whole operator is replayable by the DuckDB oracle's unpruned
    * recursive-CTE DP, pick for pick.
    */
  def pelt(grid: DataFrame, minSize: Int = 5): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        val q = graft.functions.Pelt.quantize(xs)
        val cps = graft.functions.Pelt.changePoints(
          q, graft.functions.Pelt.autoPenalty(q), minSize)
        val ps = q.scanLeft(0L)(_ + _)
        val bounds = 0 +: cps :+ q.length
        cps.indices.map { j =>
          val cp = cps(j)
          val lo = bounds(j); val hi = bounds(j + 2)
          val meanL = (ps(cp) - ps(lo)).toDouble / (cp - lo) / 1e4
          val meanR = (ps(hi) - ps(cp)).toDouble / (hi - cp) / 1e4
          (name, node, ts(cp), r4d(meanL), r4d(meanR))
        }
      }
      .toDF("name", "node", "cp_tsb", "mean_before", "mean_after")
  }

  /** Rosner's generalized ESD outliers per signal (Stats.esdOutliers):
    * the statistically-calibrated many-outlier test — unlike k-sigma,
    * the t-based critical value adapts to series length, and the
    * round-max removal is masking-robust (a cluster of outliers cannot
    * hide itself by inflating the sd). kMax defaults to 5% of the
    * series. Same per-signal typed-fold shape as [[eDivisive]]: one
    * keyed shuffle, series bounded by retention, flagged rows return
    * with their grid time and value.
    */
  def esd(grid: DataFrame, alpha: Double = 0.05, kFrac: Double = 0.05): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        val kMax = math.max(1, math.ceil(xs.length * kFrac).toInt)
        graft.functions.Stats.esdOutliers(xs, kMax, alpha)
          .sorted
          .map(i => (name, node, ts(i), xs(i)))
      }
      .toDF("name", "node", "tsb", "gval")
  }

  /** Dominant seasonality period per signal (Dsp.dominantPeriod): the
    * measured counterpart of the reference's hardcoded seasonal cutoff
    * — an operator a user runs to discover each metric's cycle before
    * configuring decomposition. Same per-signal typed-task shape as the
    * rest of the file; emits period in seconds plus spectral strength
    * (share of positive-frequency power in the peak bin).
    */
  def periodDetect(grid: DataFrame, stepSec: Double = 3600.0,
                   minCycles: Int = 3): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        Dsp.dominantPeriod(xs, minCycles).map { case (period, strength) =>
          (name, node, r4d(period * stepSec), r4d(strength), xs.length.toLong)
        }
      }
      .toDF("name", "node", "period_sec", "strength", "n")
  }

  /** Per-signal normalized spectral entropy (see [[Dsp.spectralEntropy]]):
    * the forecastability score — route low-entropy signals to the
    * forecast family, high-entropy ones to the robust residual gates.
    */
  def spectralEntropy(grid: DataFrame): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        Dsp.spectralEntropy(xs).map { case (h, n) =>
          (name, node, n, r4d(h))
        }
      }
      .toDF("name", "node", "n", "spec_entropy")
  }

  /** Per-signal measured lowpass cutoff: when the RAW series has a
    * confident dominant period (spectral strength ≥ strengthMin), the
    * seasonal cutoff is set 25% above that period's frequency — safely
    * past integer-bin rounding, still below the first harmonic — so the
    * measured cycle lands in the seasonal channel instead of the noise.
    * Falls back to `default` (the reference hardcodes its cutoff,
    * metrics_advisor.py:57; ts_period_detect measures it — this is the
    * composition of the two).
    */
  private def measuredFmin(x: Array[Double], stepSec: Double, default: Double,
                           strengthMin: Double, minCycles: Int): Double =
    Dsp.dominantPeriod(x, minCycles) match {
      case Some((periodSamples, strength)) if strength >= strengthMin =>
        1.25 / (periodSamples * stepSec)
      case _ => default
    }

  /** trend = centered rolling median (w); detrended = x − trend;
    * seasonal = ideal lowpass of detrended; noise = detrended − seasonal.
    * Raw (unrounded) components for one in-memory series.
    */
  private def decomposed(x: Array[Double], stepSec: Double, fMin: Double,
                         w: Int, autoFmin: Boolean = false,
                         strengthMin: Double = 0.2, minCycles: Int = 3)
      : (Array[Double], Array[Double], Array[Double]) = {
    val n = x.length
    val trend = movingMedian(x, w)
    val detr = Array.tabulate(n)(i => x(i) - trend(i))
    // the cutoff is measured on the RAW series — the same series
    // ts_period_detect reports on — so the two operators compose; a
    // trend-dominated spectrum fails the strength gate and falls back
    val f = if (autoFmin) measuredFmin(x, stepSec, fMin, strengthMin, minCycles)
            else fMin
    val seas = Dsp.lowpass(detr, stepSec, f)
    (trend, seas, detr)
  }

  /** Full reference decomposition (get_noise, metrics_advisor.py:51-62).
    * Output one row per grid cell with all four components.
    * `autoFmin` switches the seasonal cutoff to the per-signal measured
    * dominant period (see [[measuredFmin]]).
    */
  def seasonalNoise(grid: DataFrame, stepSec: Double = 3600.0,
                    fMin: Double = 1.0 / 86400.0, w: Int = 5,
                    autoFmin: Boolean = false): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, x) =>
        val (trend, seas, detr) = decomposed(x, stepSec, fMin, w, autoFmin)
        ts.indices.map { i =>
          (name, node, ts(i), x(i), r4d(trend(i)), r4d(seas(i)),
            r4d(detr(i) - seas(i)))
        }
      }
      .toDF("name", "node", "tsb", "gval", "trend", "seasonal", "noise")
  }

  /** Seasonal-hybrid ESD (the Twitter AnomalyDetection variant): run
    * the generalized ESD test on the series with the SEASONAL component
    * and trend removed, instead of on the raw values — a daily-cycling
    * metric's peaks are not anomalies, and raw-value ESD pages on every
    * one of them. Composes the reference decomposition
    * ([[seasonalNoise]]'s noise = gval − trend − seasonal) with the
    * masking-robust t-calibrated test ([[esd]]); one typed per-signal
    * pass for the decomposition feeding one for the test, both bounded
    * by retention. Flagged rows return with their grid time, raw value,
    * and the residual the test actually saw.
    */
  def seasonalEsd(grid: DataFrame, alpha: Double = 0.05,
                  kFrac: Double = 0.05, stepSec: Double = 3600.0,
                  fMin: Double = 1.0 / 86400.0, w: Int = 5): DataFrame = {
    val noise = seasonalNoise(grid, stepSec, fMin, w)
      .select(col("name"), col("node"), col("tsb"),
        col("gval").as("raw"), col("noise").as("gval"))
      .persist().tracked // decomposition feeds the test + the flag join-back
    esd(noise.select("name", "node", "tsb", "gval"), alpha, kFrac)
      .select(col("name"), col("node"), col("tsb"),
        col("gval").as("resid"))
      .join(noise.select(col("name"), col("node"), col("tsb"), col("raw")),
        Seq("name", "node", "tsb"))
      .select(col("name"), col("node"), col("tsb"),
        graft.Num.r4(col("raw")).as("gval"), col("resid"))
  }

  /** Reference anomaly set (metrics_advisor.py:152): change points ∪
    * k-sigma outliers on the residual noise, tagged and bucketed.
    * E-divisive runs on the MEDIAN-FILTERED series (the decomposition's
    * trend — metrics_advisor.py:147-148 detects on
    * `moving_median(data, 5)`), so single-sample spikes are the outlier
    * branch's job and never register as distributional change. Outlier
    * level defaults to 3 (the reference's `get_noise(..., level=3)`
    * call, metrics_advisor.py:150). With `autoFmin` (default on) the
    * seasonal cutoff is the per-signal measured dominant period
    * ([[measuredFmin]]) instead of the fixed `fMin`, so a signal with a
    * confident non-default cycle has that cycle removed from the noise
    * channel before outlier detection.
    *
    * Fused single pass: the per-signal series is already materialized
    * for the decomposition, so the k-sigma scan and the e-divisive
    * permutation test run on it in the same task — one shuffle keyed by
    * signal, versus decompose + stats-aggregate + join + a second
    * decomposition for the change-point branch in the operator-composed
    * form. At scale this halves the heavy per-series CPU and removes
    * two exchanges (the trend the change-point branch consumes is the
    * decomposition's own intermediate, computed once).
    */
  def anomalyUnion(grid: DataFrame, level: Double = 3.0,
                   bucket: Long = 86400L, stepSec: Double = 3600.0,
                   fMin: Double = 1.0 / 86400.0, w: Int = 5,
                   pvalue: Double = 0.05, permutations: Int = 100,
                   minSize: Int = 5, autoFmin: Boolean = true,
                   maxPoints: Int = 64): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, x) =>
        val n = x.length
        val (trend, seas, detr) = decomposed(x, stepSec, fMin, w, autoFmin)
        val noise = Array.tabulate(n)(i => r4d(detr(i) - seas(i)))
        val out = Seq.newBuilder[(String, String, Long, String)]
        val mu = noise.sum / n
        val sigma =
          if (n > 1) math.sqrt(noise.map(v => (v - mu) * (v - mu)).sum / (n - 1))
          else 0.0
        if (sigma > 0) {
          var i = 0
          while (i < n) {
            if (r4d(math.abs((noise(i) - mu) / sigma)) >= level)
              out += ((name, node, ts(i), "outlier"))
            i += 1
          }
        }
        // same quantize + md5-key draw as [[eDivisive]] (and the trend
        // IS the medianW=5 filtered series), so the changepoint branch
        // here is bit-identical to ad_edivisive's rows — one detector,
        // two compositions, one oracle replay
        val tq = trend.map(v => math.floor((v + 1e-9) * 1e4 + 0.5).toLong)
        EDivisive.changePointsKeyed(tq,
            permKeys(name, node, permutations, tq.length), pvalue, minSize,
            maxPoints)
          .foreach(cp => out += ((name, node, ts(cp.index), "changepoint")))
        out.result()
      }
      .toDF("name", "node", "tsb", "kind")
      .withColumn("b", expr(s"tsb div $bucket") * bucket)
  }
}
