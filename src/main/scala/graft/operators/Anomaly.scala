package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Outlier / anomaly detectors over the long grid (name, node, tsb, gval).
  *
  * Reference behavior: mathbox `noise_outlier(noise, level=3)` flags
  * points more than level·sigma from the mean of the de-trended,
  * de-seasonalized residual (metrics_advisor.py:51-62, :150). MAD and IQR
  * are the standard robust variants of the same gate.
  *
  * All detectors are a per-signal aggregate joined back to the rows —
  * one shuffle on (name, node), no driver-side iteration. Thresholds
  * compare *rounded* scores so the row set is engine-deterministic.
  */
object Anomaly {

  private val bySignal = Seq("name", "node")

  /** k-sigma outliers on any value column. mu/sigma come from exact
    * integer moments of the relative-quantized value (see Correlate
    * for the rationale: parallel double avg/stddev carry engine-
    * specific summation noise; relative quantization keeps small-
    * magnitude signals resolved); z is scale-invariant so the
    * per-signal magnitude and ×1e9 both drop out.
    */
  def ksigma(grid0: DataFrame, level: Double = 3.0, in: String = "gval"): DataFrame = {
    val grid = grid0
      .withColumn("dq", TimeSeries.quantRel(col(in), TimeSeries.signalScale(in)))
      .persist().tracked // stats aggregate + row join both consume it
    val nd = col("n").cast("double")
    val stats = grid.groupBy(bySignal.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("dq")).cast("double").as("s1"),
        sum(col("dq") * col("dq")).cast("double").as("s2"))
      .withColumn("mu_s", col("s1") / nd)
      .withColumn("sigma_s", sqrt((nd * col("s2") - col("s1") * col("s1")) /
        (nd * (nd - lit(1.0)))))
      .filter(col("n") >= 3 && col("sigma_s") > 0)
      .select(col("name"), col("node"), col("mu_s"), col("sigma_s"))
    grid.join(stats, bySignal)
      .withColumn("z", (col("dq").cast("double") - col("mu_s")) / col("sigma_s"))
      .filter(r4(abs(col("z"))) >= level)
      .drop("dq", "mu_s", "sigma_s")
  }

  /** Median-absolute-deviation outliers (robust z via 0.6745·dev/MAD). */
  def mad(grid0: DataFrame, level: Double = 3.5, in: String = "gval"): DataFrame = {
    val grid = grid0.persist().tracked // median aggregate + deviation join
    val med = grid.groupBy(bySignal.map(col): _*)
      .agg(expr(s"percentile($in, 0.5)").as("med"))
    // deviations feed the MAD aggregate and the final row join — persist
    // so the upstream pipeline isn't rebuilt per consumer
    val withDev = grid.join(med, bySignal)
      .withColumn("dev", abs(col(in) - col("med")))
      .persist().tracked
    val madAgg = withDev.groupBy(bySignal.map(col): _*)
      .agg(expr("percentile(dev, 0.5)").as("mad_v"))
      .filter(col("mad_v") > 0)
    withDev.join(madAgg, bySignal)
      .withColumn("rz", lit(0.6745) * (col(in) - col("med")) / col("mad_v"))
      .filter(r4(abs(col("rz"))) >= level)
  }

  /** IQR fence outliers: outside [q1 - k·iqr, q3 + k·iqr]. */
  def iqr(grid0: DataFrame, k: Double = 1.5, in: String = "gval"): DataFrame = {
    val grid = grid0.persist().tracked // quantile aggregate + fence join
    val q = grid.groupBy(bySignal.map(col): _*)
      .agg(
        expr(s"percentile($in, 0.25)").as("q1"),
        expr(s"percentile($in, 0.75)").as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    grid.join(q, bySignal)
      .filter(col(in) < col("q1") - lit(k) * col("iqr") ||
              col(in) > col("q3") + lit(k) * col("iqr"))
  }

  /** Western Electric SPC rules over the per-signal z-score series —
    * the classic control-chart escalation ladder monitoring teams run
    * on exactly this kind of metric grid:
    * rule1: |z| > 3 (single extreme point);
    * rule2: ≥2 of the trailing 3 points beyond ±2 on the same side;
    * rule3: ≥4 of the trailing 5 beyond ±1 on the same side;
    * rule4: 8 consecutive points on one side of the center line.
    * Rules compare the ROUNDED z (deterministic via the exact-moment
    * zscore) and integer window counts, so the flagged set is engine-
    * exact. Zero-variance signals (z = NaN) are excluded explicitly —
    * NaN comparison semantics differ across engines.
    */
  def spcRules(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy("name", "node").orderBy("tsb")
    def trailing(cond: org.apache.spark.sql.Column, n: Int) =
      sum(cond.cast("int")).over(w.rowsBetween(-(n - 1), 0))
    val zed = TimeSeries.zscore(grid)
      .filter(!isnan(col("z")))
      .withColumn("z4", r4(col("z")))
    zed
      .withColumn("rule1", (abs(col("z4")) > 3.0).cast("int"))
      .withColumn("rule2", (trailing(col("z4") > 2.0, 3) >= 2 ||
        trailing(col("z4") < -2.0, 3) >= 2).cast("int"))
      .withColumn("rule3", (trailing(col("z4") > 1.0, 5) >= 4 ||
        trailing(col("z4") < -1.0, 5) >= 4).cast("int"))
      .withColumn("rule4", (trailing(col("z4") > 0.0, 8) >= 8 ||
        trailing(col("z4") < 0.0, 8) >= 8).cast("int"))
      .filter(col("rule1") === 1 || col("rule2") === 1 ||
        col("rule3") === 1 || col("rule4") === 1)
      .select(col("name"), col("node"), col("tsb"), col("z4").as("z"),
        col("rule1"), col("rule2"), col("rule3"), col("rule4"))
  }

  /** Trend/residual decomposition: trend = centered rolling median (w=5),
    * residual = value − trend (get_noise step 1-2, metrics_advisor.py:52-54).
    */
  def decompose(grid: DataFrame, w: Int = 5): DataFrame =
    TimeSeries.movingMedian(grid, w, "gval", "trend")
      .withColumn("resid", col("gval") - col("trend"))

  /** Full reference pipeline (sans FFT seasonality, which is
    * Dsp.lowpassSeasonal): detrend by rolling median, then k-sigma on the
    * residual (get_noise, metrics_advisor.py:51-62).
    */
  def noiseOutlier(grid: DataFrame, level: Double = 3.0, w: Int = 5): DataFrame = {
    // the decomposition (rolling-median windows) feeds the stats
    // aggregate and the row join — compute it once; the k-sigma gate
    // runs on exact integer moments of the quantized residual (same
    // determinism contract as ksigma)
    val resid = decompose(grid, w).select("name", "node", "tsb", "gval", "trend", "resid")
      .withColumn("dq", TimeSeries.quantRel(col("resid"), TimeSeries.signalScale("resid")))
      .persist().tracked
    val nd = col("n").cast("double")
    val stats = resid.groupBy(bySignal.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("dq")).cast("double").as("s1"),
        sum(col("dq") * col("dq")).cast("double").as("s2"))
      .withColumn("mu_s", col("s1") / nd)
      .withColumn("sigma_s", sqrt((nd * col("s2") - col("s1") * col("s1")) /
        (nd * (nd - lit(1.0)))))
      .filter(col("n") >= 3 && col("sigma_s") > 0)
      .select(col("name"), col("node"), col("mu_s"), col("sigma_s"))
    resid.join(stats, bySignal)
      .withColumn("z", (col("dq").cast("double") - col("mu_s")) / col("sigma_s"))
      .filter(r4(abs(col("z"))) >= level)
      .drop("dq", "mu_s", "sigma_s")
  }

  /** Ensemble outlier verdict: k-sigma, MAD, and IQR flags per point
    * in ONE pipeline — a single per-signal stats aggregate (moments +
    * the three quantiles), one deviation pass for the MAD, and one
    * row join, instead of three detectors' separate grid pipelines
    * unioned. `votes` counts agreeing detectors; practitioners act on
    * ≥ 2 (a single-detector flag is a threshold artifact as often as
    * an anomaly — the robust pair vetoes the mean-based one and vice
    * versa). Emits every point at least one detector flags, with the
    * per-detector flags so the disagreement structure is visible.
    */
  def ensemble(grid0: DataFrame, ksLevel: Double = 2.5, madLevel: Double = 3.0,
               iqrK: Double = 1.5, in: String = "gval"): DataFrame = {
    val grid = grid0
      .withColumn("dq", TimeSeries.quantRel(col(in), TimeSeries.signalScale(in)))
      .persist().tracked // stats aggregate + deviation pass + row join
    val nd = col("n").cast("double")
    val stats = grid.groupBy(bySignal.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("dq")).cast("double").as("s1"),
        sum(col("dq") * col("dq")).cast("double").as("s2"),
        expr(s"percentile($in, 0.5)").as("med"),
        expr(s"percentile($in, 0.25)").as("q1"),
        expr(s"percentile($in, 0.75)").as("q3"))
      .withColumn("mu_s", col("s1") / nd)
      .withColumn("sigma_s", sqrt((nd * col("s2") - col("s1") * col("s1")) /
        (nd * (nd - lit(1.0)))))
    val withDev = grid.join(stats, bySignal)
      .withColumn("dev", abs(col(in) - col("med")))
      .persist().tracked // MAD aggregate + final row pass
    val madAgg = withDev.groupBy(bySignal.map(col): _*)
      .agg(expr("percentile(dev, 0.5)").as("mad_v"))
    withDev.join(madAgg, bySignal)
      .withColumn("ks_flag",
        when(col("n") >= 3 && col("sigma_s") > 0 &&
          r4(abs((col("dq").cast("double") - col("mu_s")) / col("sigma_s")))
            >= ksLevel, 1).otherwise(0))
      .withColumn("mad_flag",
        when(col("mad_v") > 0 &&
          r4(abs(lit(0.6745) * (col(in) - col("med")) / col("mad_v")))
            >= madLevel, 1).otherwise(0))
      .withColumn("iqr_flag",
        when(col(in) < col("q1") - lit(iqrK) * (col("q3") - col("q1")) ||
          col(in) > col("q3") + lit(iqrK) * (col("q3") - col("q1")), 1)
          .otherwise(0))
      .withColumn("votes", col("ks_flag") + col("mad_flag") + col("iqr_flag"))
      .filter(col("votes") >= 1)
      .select(col("name"), col("node"), col("tsb"), r4(col(in)).as(in),
        col("ks_flag"), col("mad_flag"), col("iqr_flag"), col("votes"))
  }

  /** Alert-fatigue telemetry: per-signal summary of the k-sigma alert
    * stream — how many alerts, when they started/stopped, the mean
    * inter-alert spacing, and the longest quiet stretch between alerts.
    * The operator an on-call rotation reads to find pager-noisy signals
    * before retuning thresholds. Composes [[ksigma]] (same level-3
    * reference gate as ad_ksigma); all outputs are integer tsb
    * arithmetic plus one division, so the oracle replays exactly.
    * mean_gap/max_quiet are 0 for single-alert signals (not null — the
    * frame stays join-friendly).
    */
  def alertStats(grid: DataFrame, level: Double = 3.0): DataFrame = {
    val w = Window.partitionBy("name", "node").orderBy("tsb")
    val nd = col("n_alerts").cast("double")
    ksigma(grid, level)
      .withColumn("quiet", col("tsb") - lag("tsb", 1).over(w))
      .groupBy("name", "node")
      .agg(count(lit(1)).as("n_alerts"),
        min("tsb").as("first_ts"), max("tsb").as("last_ts"),
        max(coalesce(col("quiet"), lit(0L))).as("max_quiet"))
      .select(col("name"), col("node"), col("n_alerts"),
        col("first_ts"), col("last_ts"),
        when(col("n_alerts") >= 2,
          r4((col("last_ts") - col("first_ts")).cast("double") / (nd - lit(1.0))))
          .otherwise(lit(0.0)).as("mean_gap"),
        col("max_quiet"))
  }

  /** Alert-point → incident merge (gaps-and-islands): consecutive
    * k-sigma alerts on the same signal closer than `gapSec` collapse
    * into one incident with start/end, point count, and peak |z| —
    * the triage unit an on-call actually works (40 alert points at
    * 15 min spacing are one incident, not 40 pages). A lag-compare
    * opens an island, a running sum numbers it, one aggregate
    * summarizes — all in-partition after the per-signal exchange the
    * detector already paid for.
    */
  def incidents(grid: DataFrame, level: Double = 3.0,
                gapSec: Long = 1800L): DataFrame = {
    val w = Window.partitionBy("name", "node").orderBy("tsb")
    ksigma(grid, level)
      .select(col("name"), col("node"), col("tsb"), r4(col("z")).as("z"))
      .withColumn("newinc",
        (col("tsb") - lag("tsb", 1).over(w) > gapSec ||
          lag("tsb", 1).over(w).isNull).cast("long"))
      .withColumn("inc", sum("newinc").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("name", "node", "inc")
      .agg(min("tsb").as("start_ts"), max("tsb").as("end_ts"),
        count(lit(1)).as("n_points"), max(abs(col("z"))).as("peak_absz"))
  }

  /** Multi-window SLO burn-rate alerting (the SRE-workbook pattern):
    * per node and hour bucket, the short-window burn rate (hourly
    * error rate ÷ error budget) and the long-window burn rate (the
    * trailing 6 h RANGE frame — robust to empty hours), paging only
    * when BOTH exceed their thresholds. The single-window rule either
    * pages on every blip (short) or hours late (long); the AND is
    * what keeps pager noise down without losing fast burns.
    *
    * Shape: one keyed aggregate of the event stream to |nodes|×|hours|
    * cells, then in-partition RANGE windows — the hourly frame is
    * bounded by retention regardless of event volume. All counts are
    * exact integers; burns divide once at the end and threshold on
    * the rounded value (engine-deterministic row flags).
    */
  def sloBurn(events: DataFrame, budget: Double = 0.25,
              shortThresh: Double = 2.0, longThresh: Double = 1.2): DataFrame = {
    val hourly = events
      .select(concat(lit("u"), (col("user_id") % 8).cast("string")).as("node"),
        expr("ts div 1000000000").as("tsec"),
        (col("event_type") === "error").cast("long").as("err"))
      .withColumn("hb", expr("tsec div 3600 * 3600"))
      .groupBy("node", "hb")
      .agg(sum("err").as("e"), count(lit(1)).as("n"))
    val w6 = Window.partitionBy("node").orderBy("hb")
      .rangeBetween(-5 * 3600L, 0L)
    hourly
      .withColumn("e6", sum("e").over(w6))
      .withColumn("n6", sum("n").over(w6))
      .withColumn("burn_1h", r4(col("e") / col("n") / lit(budget)))
      .withColumn("burn_6h", r4(col("e6") / col("n6") / lit(budget)))
      .withColumn("page",
        col("burn_1h") >= lit(shortThresh) && col("burn_6h") >= lit(longThresh))
      .select("node", "hb", "e", "n", "burn_1h", "burn_6h", "page")
      .orderBy("node", "hb")
  }

  /** Matrix-profile discord discovery (Yeh et al. 2016, public): per
    * signal, the subsequences of length `w` FARTHEST from their nearest
    * non-overlapping neighbor — the "never happened before" anomaly
    * primitive that catches novel shapes k-sigma and decomposition
    * residuals miss (a discord can sit entirely inside the normal value
    * range). Distances are EXACT integer sums of squared differences of
    * the ×1e6-quantized grid (order-independent — no IEEE replay needed
    * anywhere), the exclusion zone |i−j| ≥ w suppresses trivial
    * matches, and the per-signal top-k ranks (profile DESC, i ASC).
    * Magnitude note: the Long distance accumulator holds w·(Δq)² —
    * safe through |gval| ≈ 1e4 at the ×1e6 quantization (1.3e18 at
    * this grid's scale); signals beyond that should be pre-scaled
    * with [[TimeSeries.relative]] (the decomposition family's
    * convention) before discord discovery.
    *
    * Plan: one keyed shuffle groups each signal into a task; the kernel
    * walks DIAGONALS of the distance matrix with the rolling update
    * d(i+1,j+1) = d(i,j) − (qᵢ−qⱼ)² + (qᵢ₊w−qⱼ₊w)², so the profile
    * costs O(n²) total independent of w. Per-signal n is
    * retention-bounded (the recurring scale argument): signals
    * parallelize across the cluster, n² stays fixed as the corpus
    * grows by adding signals, not samples.
    */
  def discords(grid: DataFrame, w: Int = 8, k: Int = 3): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        val q = xs.map(graft.functions.Stats.q6)
        val n = q.length
        val m = n - w + 1 // subsequence count
        if (m < w + 1) Iterator.empty
        else {
          val prof = Array.fill(m)(Long.MaxValue)
          // diagonal walk: offset d = j − i ranges over [w, m−1]; the
          // rolling update keeps each diagonal O(length), so the whole
          // profile is O(n²) regardless of w
          var d = w
          while (d < m) {
            var dist = 0L
            var t = 0
            while (t < w) { val df = q(t) - q(t + d); dist += df * df; t += 1 }
            var i = 0
            var cont = true
            while (cont) {
              val j = i + d
              if (dist < prof(i)) prof(i) = dist
              if (dist < prof(j)) prof(j) = dist
              if (j + 1 >= m) cont = false
              else {
                val out = q(i) - q(j)
                val inc = q(i + w) - q(j + w)
                dist += inc * inc - out * out
                i += 1
              }
            }
            d += 1
          }
          val idx = (0 until m).filter(prof(_) != Long.MaxValue)
          idx.sortBy(i => (-prof(i), i)).take(k).sorted.iterator.map { i =>
            (name, node, i.toLong, ts(i), prof(i), r4d(prof(i).toDouble / 1e12))
          }
        }
      }
      .toDF("name", "node", "i", "tsb_start", "dist2q", "dist2")
  }

  /** Multivariate Mahalanobis anomaly over the metric-vector grid: the
    * cross-metric generalization of k-sigma. Each complete (node, tsb)
    * cell is a k-vector of per-metric z-scores; its Mahalanobis
    * distance d² = (x−μ)ᵀ Σ⁻¹ (x−μ) flags cells whose metric
    * COMBINATION is unusual even when every coordinate is individually
    * in range (the error-up-while-traffic-down shape marginal
    * detectors cannot see).
    *
    * Determinism: z-scores ride the proven exact-moment machinery
    * (TimeSeries.zscore) and are quantized ×1e4; the scatter matrix
    * G = n·Σqqᵀ − (Σq)(Σq)ᵀ is EXACT integer arithmetic; its Cholesky
    * factor and the per-cell forward substitution are fixed IEEE
    * sequences generated from the same index loops as the SQL oracle
    * (see SparkEntry.sqlMahalanobis), so scores replay bit-identically.
    * G is k×k collected once — bounded driver state, the lloydExact
    * convention; scoring is one broadcast-literal scan over the grid,
    * and ranking compares the ROUNDED d² with a (node, tsb) tiebreak.
    */
  def mahalanobis(grid: DataFrame, metrics: Seq[String],
                  topN: Int = 50): DataFrame = {
    val k = metrics.length
    val z = TimeSeries.zscore(grid)
      .filter(col("sigma") > 0)
      .select(col("name"), col("node"), col("tsb"),
        floor((col("z") + lit(1e-9)) * lit(1e4) + lit(0.5)).cast("long").as("zq"))
    val aggs = metrics.indices.map(i =>
      max(when(col("name") === metrics(i), col("zq"))).as(s"q$i"))
    val pv = z.groupBy("node", "tsb").agg(aggs.head, aggs.tail: _*)
      .filter(metrics.indices.map(i => col(s"q$i").isNotNull).reduce(_ && _))
      .persist().tracked
    val momAggs = (Seq(count(lit(1)).as("n")) ++
      metrics.indices.map(i => sum(col(s"q$i")).as(s"s$i")) ++
      (for { i <- 0 until k; j <- 0 to i }
        yield sum(col(s"q$i") * col(s"q$j")).as(s"p$i$j"))).toSeq
    val m = pv.agg(momAggs.head, momAggs.tail: _*).collect()(0)
    val n = m.getLong(0)
    require(n > k, s"mahalanobis needs > $k complete cells, got $n")
    val s = metrics.indices.map(i => m.getAs[Long](s"s$i")).toArray
    val gd = Array.tabulate(k, k) { (i, j) =>
      val (a, b) = if (i >= j) (i, j) else (j, i)
      (n * m.getAs[Long](s"p$a$b") - s(i) * s(j)).toDouble
    }
    // Cholesky in the canonical (i, j) order; sequential subtraction
    // mirrors the oracle's left-associative expression exactly
    val l = Array.ofDim[Double](k, k)
    for (i <- 0 until k; j <- 0 to i) {
      var acc = gd(i)(j)
      for (t <- 0 until j) acc -= l(i)(t) * l(j)(t)
      if (i == j) {
        require(acc > 0, s"scatter matrix not positive definite at $i")
        l(i)(i) = math.sqrt(acc)
      } else l(i)(j) = acc / l(j)(j)
    }
    val y = metrics.indices.map(i =>
      (lit(n) * col(s"q$i") - lit(s(i))).cast("double"))
    val w = new Array[org.apache.spark.sql.Column](k)
    for (i <- 0 until k) {
      var e = y(i)
      for (t <- 0 until i) e = e - lit(l(i)(t)) * w(t)
      w(i) = e / lit(l(i)(i))
    }
    val q2 = w.map(c => c * c).reduceLeft(_ + _)
    val d2 = r4(q2 * lit((n - 1).toDouble) / lit(n.toDouble))
    pv.select(Seq(col("node"), col("tsb")) ++
        metrics.indices.map(i =>
          (col(s"q$i").cast("double") / lit(1e4)).as("z_" + metrics(i))) :+
        d2.as("d2"): _*)
      .orderBy(col("d2").desc, col("node"), col("tsb"))
      .limit(topN)
  }

  /** Level-shift detector: points where the median of the NEXT w
    * samples sits far from the median of the PREVIOUS w samples, in
    * units of the signal's own MAD — the step-change alarm that
    * k-sigma misses (a clean step has small residuals on both sides)
    * and that e-divisive/PELT only report after a full segmentation
    * pass. This is the cheap streaming-friendly sibling: two rolling
    * medians and one robust scale, no DP.
    *
    * Determinism: values relative-quantize ×1e9 (integer); both
    * rolling medians use FULL odd-width frames only (edge rows drop —
    * a shrunk even frame would need an averaging step), so each median
    * is an exact element selection; the global median and MAD are
    * exact lower-median selections over the signal's sorted integers.
    * score = |Δmedian| / (1.4826·MAD) rounds 4 dp and the flag
    * compares the ROUNDED score, so the row set replays on any engine.
    *
    * Scale: two per-signal sorted aggregates (median, then MAD) and
    * one windowed pass — all keyed on (name, node), per-signal work
    * retention-bounded.
    */
  def levelShift(grid: DataFrame, w: Int = 5,
                 thresh: Double = 4.4478): DataFrame = {
    require(w % 2 == 1, s"levelShift needs an odd window, got $w")
    val sw = Window.partitionBy("name", "node").orderBy("tsb")
    val mid = w / 2 + 1
    val q = grid
      .withColumn("mm", TimeSeries.signalScale("gval"))
      .withColumn("qv", TimeSeries.quantRel(col("gval"), col("mm")))
      .persist().tracked // windowed pass + median aggregate + MAD pass
    def winMed(lo: Int, hi: Int): (Column, Column) = {
      val arr = sort_array(collect_list(col("qv")).over(sw.rowsBetween(lo, hi)))
      (element_at(arr, mid), size(arr))
    }
    val (medB, cntB) = winMed(-w, -1)
    val (medA, cntA) = winMed(0, w - 1)
    val sorted = q.groupBy("name", "node")
      .agg(sort_array(collect_list(col("qv"))).as("qs"))
      .withColumn("gmed", element_at(col("qs"),
        ((size(col("qs")) + 1) / 2).cast("int")))
      .select(col("name"), col("node"), col("gmed"))
    val mad = q.join(sorted, bySignal)
      .withColumn("ad", abs(col("qv") - col("gmed")))
      .groupBy("name", "node")
      .agg(sort_array(collect_list(col("ad"))).as("ads"))
      .select(col("name"), col("node"),
        element_at(col("ads"),
          ((size(col("ads")) + 1) / 2).cast("int")).as("gmad"))
    q.withColumn("med_b", medB).withColumn("cnt_b", cntB)
      .withColumn("med_a", medA).withColumn("cnt_a", cntA)
      .filter(col("cnt_b") === w && col("cnt_a") === w)
      .join(mad, bySignal)
      .filter(col("gmad") > 0)
      .withColumn("score", r4(abs(col("med_a") - col("med_b")).cast("double") /
        (lit(1.4826) * col("gmad").cast("double"))))
      .filter(col("score") >= thresh)
      .select(col("name"), col("node"), col("tsb"), col("score"),
        r4(col("med_b").cast("double") / lit(1e9)).as("level_before"),
        r4(col("med_a").cast("double") / lit(1e9)).as("level_after"))
  }

  /** Seasonal-aware anomaly detection: z-score of the ONE-STEP-AHEAD
    * Holt–Winters forecast residual against the running (Welford)
    * residual moments seen so far — a point is anomalous relative to
    * what the level+trend+season model EXPECTED, so the daily rhythm
    * that k-sigma flags as outliers and ad_decompose needs a full
    * series to remove is absorbed online. Scoring starts after
    * `minSamples` residuals; both the forecast and the moments use
    * only the past (no lookahead — the same detector runs at ingest).
    *
    * Determinism: one sequential IEEE fold per signal (the
    * [[graft.operators.TimeSeries.holtWinters]] recursion plus Welford
    * state); the flag compares the ROUNDED z so row membership is
    * engine-deterministic, and the oracle replays the fold as a
    * recursive CTE. Scale: per-signal state is m+5 doubles, one pass,
    * parallel across signals.
    */
  def hwResidual(grid: DataFrame, m: Int = 24, alpha: Double = 0.3,
                 beta: Double = 0.2, gamma: Double = 0.1,
                 level: Double = 3.0, minSamples: Int = 48): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        val n = xs.length
        if (n < 2 * m + 1) Iterator.empty
        else {
          var sum1 = 0.0; var sum2 = 0.0; var i = 0
          while (i < m) { sum1 += xs(i); i += 1 }
          while (i < 2 * m) { sum2 += xs(i); i += 1 }
          val mean1 = sum1 / m; val mean2 = sum2 / m
          var l = mean1; var b = (mean2 - mean1) / m
          val sArr = Array.tabulate(m)(j => xs(j) - mean1)
          var kk = 0L; var mu = 0.0; var m2 = 0.0
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long, Double, Double, Double)]
          var t = m
          while (t < n) {
            val slot = t % m
            val fc = l + b + sArr(slot)
            val resid = xs(t) - fc
            if (kk >= minSamples && m2 > 0) {
              val sd = math.sqrt(m2 / (kk - 1))
              val zr = r4d((resid - mu) / sd)
              if (zr > level || zr < -level)
                out += ((name, node, ts(t), xs(t), r4d(fc), zr))
            }
            val d1 = resid - mu
            kk += 1
            mu = mu + d1 / kk
            m2 = m2 + d1 * (resid - mu)
            val lNew = alpha * (xs(t) - sArr(slot)) + (1 - alpha) * (l + b)
            val bNew = beta * (lNew - l) + (1 - beta) * b
            sArr(slot) = gamma * (xs(t) - lNew) + (1 - gamma) * sArr(slot)
            l = lNew; b = bNew
            t += 1
          }
          out.iterator
        }
      }
      .toDF("name", "node", "tsb", "gval", "fc", "z")
  }

  /** Sample entropy (Richman & Moorman's SampEn, m=`w`) per signal —
    * the regularity detector: a clean periodic signal scores near 0,
    * white noise scores high, so a sudden SampEn change is a texture
    * regime shift that level/variance detectors miss.
    *
    * B = #template pairs (length m) within Chebyshev tolerance r,
    * A = #pairs still within r when extended to m+1;
    * SampEn = ln(B/A). Both counts run over templates i ∈ [0, n−m−1]
    * (every template has an extension — the standard formulation),
    * pairs i<j counted once. The tolerance is the classic 0.2·σ,
    * computed on the ×1e6-quantized integer series from EXACT integer
    * moments (population σ, one IEEE sqrt, round-half-up to an
    * integer tolerance floored at 1) — so the pair predicates are
    * pure integer comparisons and both engines count identical sets.
    * The one transcendental, ln(B/A), is r6-rounded.
    *
    * Shape: the [[discords]] convention — per-signal O(n²) kernel
    * inside ONE task per signal (n is retention-bounded), signals
    * fan across the cluster; nothing shuffles but the grid itself.
    */
  def sampleEntropy(grid: DataFrame, w: Int = 2,
                    rFrac: Double = 0.2): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        val q = xs.map(graft.functions.Stats.q6)
        val n = q.length
        if (n < 2 * (w + 1)) Iterator.empty
        else {
          var sl = 0L
          var s2 = BigInt(0)
          q.foreach { v => sl += v; s2 += BigInt(v) * v }
          val nd = n.toDouble
          val varPop = (BigInt(n) * s2 - BigInt(sl) * sl).toDouble / (nd * nd)
          val r = math.max(1L,
            math.floor(rFrac * math.sqrt(varPop) + 0.5).toLong)
          val m = n - w // templates with an (m+1)-extension
          var b = 0L
          var a = 0L
          var i = 0
          while (i < m) {
            var j = i + 1
            while (j < m) {
              var ok = true
              var t = 0
              while (ok && t < w) {
                if (math.abs(q(i + t) - q(j + t)) > r) ok = false
                t += 1
              }
              if (ok) {
                b += 1
                if (math.abs(q(i + w) - q(j + w)) <= r) a += 1
              }
              j += 1
            }
            i += 1
          }
          val se =
            if (a > 0 && b > 0)
              // ExactMath.lnRatio: cross-engine bit-exact ln of the
              // integer pair-count ratio (libm ln risked a floor flip)
              Some(math.floor((graft.functions.ExactMath.lnRatio(b, a) + 1e-11) *
                1e6 + 0.5) / 1e6)
            else None
          Iterator.single((name, node, n.toLong, r, b, a, se))
        }
      }
      .toDF("name", "node", "n", "r_tol", "b_pairs", "a_pairs", "sampen")
  }

  /** Variance-regime shift detector: at each grid point, the EXACT
    * integer n²-scaled sums of squared deviations of the trailing and
    * leading `w`-windows (prev = [t−w, t−1], next = [t, t+w−1]) are
    * cross-compared at `ratio`× (default 9 = a 3× sigma ratio, the
    * k-sigma convention; measured flag rate ~4% on the gate corpus vs
    * 17% at 4×) — a volatility blow-up ("up") or
    * calm-down ("down") page, the second-moment sibling of
    * [[levelShift]]'s median step. No division enters the flag: with
    * equal window widths, var_next > ratio·var_prev ⇔
    * ssd_next > ratio·ssd_prev where ssd = w·Σq² − (Σq)² is exact in
    * both engines; strict inequality keeps flat-flat (0,0) boundaries
    * silent. Variances surface r4-rounded for the report only.
    * Shape: two ROWS-frame window sums per signal — one keyed
    * exchange, state bounded by w.
    */
  def varianceShift(grid: DataFrame, w: Int = 12,
                    ratio: Int = 9): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    val g = grid.select(col("name"), col("node"), col("tsb"),
      floor(col("gval") * lit(1e6) + lit(0.5)).cast("long").as("q"))
    val base = Window.partitionBy("name", "node").orderBy("tsb")
    val wp = base.rowsBetween(-w, -1)
    val wn = base.rowsBetween(Window.currentRow, w - 1)
    // ssd = w·Σq² − (Σq)² = w·SSD, so sample variance = ssd/(w·(w−1));
    // the ×1e12 de-scales the ×1e6 quantization (r5 ADVICE fix: the
    // old denominator carried an extra factor of w)
    val denom = w.toDouble * (w - 1) * 1e12
    g.withColumn("pn", count(lit(1)).over(wp))
      .withColumn("ps", sum("q").over(wp))
      .withColumn("ps2", sum(big(col("q")) * col("q")).over(wp))
      .withColumn("nn", count(lit(1)).over(wn))
      .withColumn("ns", sum("q").over(wn))
      .withColumn("ns2", sum(big(col("q")) * col("q")).over(wn))
      .filter(col("pn") === w && col("nn") === w)
      .withColumn("pssd", big(lit(w)) * col("ps2") - big(col("ps")) * col("ps"))
      .withColumn("nssd", big(lit(w)) * col("ns2") - big(col("ns")) * col("ns"))
      .filter(col("nssd") > col("pssd") * lit(ratio) ||
        col("pssd") > col("nssd") * lit(ratio))
      .select(col("name"), col("node"), col("tsb"),
        r4(col("pssd").cast("double") / lit(denom)).as("var_prev"),
        r4(col("nssd").cast("double") / lit(denom)).as("var_next"),
        when(col("nssd") > col("pssd") * lit(ratio), lit("up"))
          .otherwise(lit("down")).as("direction"))
  }

  /** Hampel identifier per signal: a point is an outlier when it sits
    * more than 3 scaled MADs from the MEDIAN of its centered ±h
    * window — the robust spike detector that, unlike k-sigma, is not
    * itself inflated by the spike it is judging. Everything is exact
    * integers on the ×1e6 quantized values: the window's 2h+1 values
    * ride ONE collect+sort per row (bounded list, both engines sort
    * identical integer multisets), the median is the middle order
    * statistic, MAD the middle of |q − med|, and the flag compares
    * |q − med|·10000 > 3·14826·mad (the 1.4826 Gaussian consistency
    * constant as an exact ×10⁴ integer). Zero-MAD windows (flat
    * neighborhoods) flag ANY deviation — the standard Hampel
    * convention. Only full windows judge.
    */
  def hampel(grid: DataFrame, h: Int = 3): DataFrame = {
    val w = 2 * h + 1
    val win = Window.partitionBy("name", "node").orderBy("tsb")
      .rowsBetween(-h, h)
    val g = grid.select(col("name"), col("node"), col("tsb"),
      floor(col("gval") * lit(1e6) + lit(0.5)).cast("long").as("q"))
    val t = g
      .withColumn("arr", sort_array(collect_list("q").over(win)))
      .filter(size(col("arr")) === w)
      .withColumn("med", element_at(col("arr"), h + 1))
      .withColumn("devs", sort_array(transform(col("arr"),
        x => abs(x - col("med")))))
      .withColumn("mad", element_at(col("devs"), h + 1))
      .withColumn("dev", abs(col("q") - col("med")))
      .filter(col("dev") * 10000L > lit(3L * 14826L) * col("mad"))
    t.select(col("name"), col("node"), col("tsb"),
      r4(col("q").cast("double") / lit(1e6)).as("value"),
      r4(col("med").cast("double") / lit(1e6)).as("window_median"),
      r4(col("dev").cast("double") / lit(1e6)).as("deviation"))
  }
}
