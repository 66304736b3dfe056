package graft

import graft.functions.{Dsp, EDivisive}
import graft.operators._
import org.apache.spark.sql.functions._

class AnalysisSpec extends SparkTestBase {
  import spark.implicits._

  private def grid(rows: (String, String, Long, Double)*) =
    rows.toDF("name", "node", "tsb", "gval")

  test("ksigma flags a clear outlier") {
    val base = (0 until 20).map(i => ("m", "a", i * 900L, 10.0 + (i % 3)))
    val out = Anomaly.ksigma(grid(base :+ (("m", "a", 20 * 900L, 100.0)): _*), 3.0)
    assert(out.select("tsb").as[Long].collect().toSeq == Seq(20 * 900L))
  }

  test("iqr flags fence violations") {
    val base = (0 until 12).map(i => ("m", "a", i * 900L, 10.0 + (i % 4)))
    val out = Anomaly.iqr(grid(base :+ (("m", "a", 12 * 900L, 1000.0)): _*), 1.5)
    assert(out.select("gval").as[Double].collect().toSeq == Seq(1000.0))
  }

  test("mann-kendall flags monotone drift, not flat or alternating series") {
    val up = (0 until 30).map(i => ("up", "a", i * 3600L, 10.0 + i * 0.5))
    val flat = (0 until 30).map(i => ("flat", "a", i * 3600L, 7.0))
    val alt = (0 until 30).map(i => ("alt", "a", i * 3600L, if (i % 2 == 0) 5.0 else 6.0))
    val out = Trend.mannKendall(grid((up ++ flat ++ alt): _*))
      .orderBy("name").select("name", "s", "trend")
      .as[(String, Long, Int)].collect().toSeq
    val byName = out.map(r => r._1 -> r).toMap
    assert(byName("up")._2 == 435L)   // all 30*29/2 pairs concordant
    assert(byName("up")._3 == 1)
    assert(byName("alt")._3 == 0)
    assert(!byName.contains("flat") || byName("flat")._2 == 0L)
    // a fully tied signal has s = 0 and var 0 → z = 0, no trend
    if (byName.contains("flat")) assert(byName("flat")._3 == 0)
  }

  test("mann-kendall tie correction shrinks variance vs naive formula") {
    // 10 points, two tied triples: var = (n(n-1)(2n+5) - 2*3*2*11)/18
    val vals = Seq(1.0, 2.0, 2.0, 2.0, 3.0, 4.0, 4.0, 4.0, 5.0, 6.0)
    val g = vals.zipWithIndex.map { case (v, i) => ("m", "a", i * 3600L, v) }
    val out = Trend.mannKendall(grid(g: _*)).select("s", "z").head()
    // S: concordant-heavy increasing-with-ties series → s > 0, z finite
    assert(out.getLong(0) > 0)
    assert(!out.getDouble(1).isNaN && out.getDouble(1) > 0)
  }

  test("dtw kernel: identity is zero, warping absorbs stretches, band gates") {
    import graft.functions.Dtw
    val a = Array(1.0, 2.0, 3.0)
    assert(Dtw.distance(a, a, 2) == 0.0)
    // a duplicated middle sample aligns at zero cost (the point of DTW)
    assert(Dtw.distance(a, Array(1.0, 2.0, 2.0, 3.0), 2) == 0.0)
    // a genuinely different value costs its squared diff
    assert(Dtw.distance(Array(0.0, 0.0), Array(0.0, 3.0), 2) == 3.0)
    // band too narrow to connect endpoints → infinity
    assert(Dtw.distance(a, Array.fill(10)(1.0), 2).isPosInfinity)
    // znorm removes scale: shape-identical ramps coincide (to the ulp —
    // sqrt(100·v) and 10·sqrt(v) may differ in the last bit, so the
    // exact-moment znorm is scale-invariant only up to ~1e-16 per value)
    assert(Dtw.distance(Dtw.znorm(Dtw.quantize(Array(1.0, 2.0, 3.0, 4.0))),
      Dtw.znorm(Dtw.quantize(Array(10.0, 20.0, 30.0, 40.0))), 1) < 1e-12)
  }

  test("dtw operator ranks the shape-matched candidate closest") {
    val base = (0 until 24).map(i => math.sin(i * 0.5) * 5)
    val sig = (n: String, f: Int => Double) =>
      (0 until 24).map(i => (n, "a", i * 3600L, f(i)))
    val g = grid((
      sig("obj", i => base(i)) ++
      sig("warped", i => base(math.max(0, i - 1)) * 3 + 40) ++ // shifted+scaled shape
      sig("noiselike", i => ((i * 7919) % 13).toDouble)): _*)
    val out = Correlate.dtwDist(g, Seq("obj"), band = 4)
      .select("cand_name", "dtw").as[(String, Double)].collect().toMap
    assert(out("warped") < out("noiselike"))
  }

  test("ols trend recovers slope, intercept at series start, and r2") {
    val lin = (0 until 20).map(i => ("lin", "a", i * 3600L, 3.0 + 2.5 * i))
    val g = TimeSeries.indexed(grid(lin: _*), 3600L)
    val out = Trend.olsTrend(g).head()
    assert(out.getAs[Double]("slope_hr") == 2.5)
    assert(out.getAs[Double]("icept") == 3.0)
    assert(out.getAs[Double]("r2") == 1.0)
    // constant series: den > 0 (x varies) but vy = 0 → r2 = 0, slope 0
    val const = TimeSeries.indexed(
      grid((0 until 10).map(i => ("c", "a", i * 3600L, 5.0)): _*), 3600L)
    val c = Trend.olsTrend(const).head()
    assert(c.getAs[Double]("slope_hr") == 0.0 && c.getAs[Double]("r2") == 0.0)
  }

  test("theil-sen recovers a linear slope exactly and shrugs one outlier") {
    val lin = (0 until 20).map(i => ("lin", "a", i * 3600L, 3.0 + 2.5 * i))
    val withOut = (0 until 20).map(i =>
      ("dirty", "a", i * 3600L, if (i == 10) 1000.0 else 3.0 + 2.5 * i))
    val out = Trend.theilSen(grid((lin ++ withOut): _*))
      .orderBy("name").select("name", "slope_hr")
      .as[(String, Double)].collect().toMap
    assert(out("lin") == 2.5)
    // the outlier perturbs only 19/190 slopes → median still 2.5
    assert(out("dirty") == 2.5)
  }

  test("ensemble detectors agree on a blatant spike, quiet data stays quiet") {
    val base = (0 until 30).map(i => ("m", "a", i * 900L, 10.0 + (i % 3)))
    val out = Anomaly.ensemble(grid(base :+ (("m", "a", 30 * 900L, 500.0)): _*))
      .collect()
    val spike = out.filter(_.getAs[Long]("tsb") == 30 * 900L)
    assert(spike.length == 1)
    assert(spike.head.getAs[Int]("votes") == 3, "all three detectors must flag")
    // a flat signal produces no votes at all
    assert(Anomaly.ensemble(
      grid((0 until 20).map(i => ("f", "a", i * 900L, 7.0)): _*)).count() == 0)
  }

  test("t quantiles match published tables to 4 dp") {
    import graft.functions.Stats
    // two-sided 5% critical values, standard t tables
    assert(math.abs(Stats.tQuantile(0.975, 10) - 2.2281) < 5e-4)
    assert(math.abs(Stats.tQuantile(0.975, 1) - 12.7062) < 5e-3)
    assert(math.abs(Stats.tQuantile(0.975, 30) - 2.0423) < 5e-4)
    assert(math.abs(Stats.tQuantile(0.95, 5) - 2.0150) < 5e-4)
    // symmetry and median
    assert(math.abs(Stats.tQuantile(0.025, 10) + Stats.tQuantile(0.975, 10)) < 1e-9)
    // near t=0 the beta argument nu/(nu+t^2) rounds to 1.0 within
    // ~3e-8 of the median — fine for the p≈0.997 quantiles ESD uses
    assert(math.abs(Stats.tQuantile(0.5, 7)) < 1e-6)
  }

  test("generalized esd flags planted spikes and nothing in clean data") {
    import graft.functions.Stats
    val clean = Array.tabulate(60)(i => 10.0 + math.sin(i * 0.7) * 0.5)
    assert(Stats.esdOutliers(clean, kMax = 6).isEmpty)
    val dirty = clean.clone()
    dirty(10) = 50.0; dirty(11) = 48.0; dirty(40) = -30.0
    assert(Stats.esdOutliers(dirty, kMax = 6).sorted == Seq(10, 11, 40))
    // adjacent spike pair would mask each other under single-pass grubbs;
    // esd still catches both
    val masked = clean.clone()
    masked(20) = 100.0; masked(21) = 99.0
    assert(Stats.esdOutliers(masked, kMax = 6).sorted == Seq(20, 21))
    // constant series: sd = 0 → no verdict
    assert(Stats.esdOutliers(Array.fill(30)(4.2), kMax = 3).isEmpty)
  }

  test("esd operator flags the planted grid spike per signal") {
    val base = (0 until 40).map(i => ("m", "a", i * 900L, 10.0 + (i % 5) * 0.2))
    val withSpike = base :+ (("m", "a", 40 * 900L, 500.0))
    val out = ChangePoints.esd(grid(withSpike: _*))
      .select("tsb").as[Long].collect().toSeq
    assert(out == Seq(40 * 900L))
  }

  test("seasonal esd catches a spike the raw-value test misses under a strong cycle") {
    // amplitude-10 daily sine + a +12 spike: raw ESD sees the spike as
    // ~1.7 sd of the seasonal swing (not significant); after the
    // decomposition removes the cycle the residual spike is enormous
    val n = 96
    val spikeAt = 53
    val rows = (0 until n).map { i =>
      val seasonal = 10.0 * math.sin(2 * math.Pi * i / 24.0)
      val v = 50.0 + seasonal + (if (i == spikeAt) 12.0 else 0.0)
      ("m", "a", i * 3600L, v)
    }
    val g = grid(rows: _*)
    val raw = ChangePoints.esd(g).select("tsb").as[Long].collect().toSeq
    assert(!raw.contains(spikeAt * 3600L),
      s"raw ESD should miss the in-cycle spike, flagged $raw")
    val seas = ChangePoints.seasonalEsd(g)
      .select("tsb").as[Long].collect().toSeq
    assert(seas.contains(spikeAt * 3600L),
      s"seasonal ESD must flag the spike, flagged $seas")
    assert(seas.size <= 3, s"cycle peaks must not page: $seas")
  }

  test("partial correlation keeps obj-driven candidates, drops ctrl clones") {
    val obj = (1 to 12).map(_.toDouble)
    val ctl = Seq(2.0, 1.0, 4.0, 3.0, 6.0, 5.0, 8.0, 7.0, 10.0, 9.0, 12.0, 11.0)
    def sig(n: String, vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) => (n, "a", i * 3600L, v) }
    val g = TimeSeries.indexed(grid((
      sig("obj", obj) ++ sig("ctrl", ctl) ++
      sig("cand_obj", obj.map(_ * 2 + 5)) ++
      sig("cand_ctrl", ctl.map(_ * 3 - 1))): _*), 3600L)
    val out = Correlate.partialCorr(g, "obj", "ctrl")
      .select("cand_name", "r_partial").as[(String, Double)].collect().toMap
    // an affine copy of the objective survives with full partial corr
    assert(out("cand_obj") == 1.0)
    // an affine copy of the control has r_xz = 1 → zero denominator → dropped
    assert(!out.contains("cand_ctrl"))
  }

  test("pelt matches the unpruned optimal-partition DP on random series") {
    import graft.functions.Pelt
    val rng = new scala.util.Random(7)
    // brute force: the same DP over ALL candidates (no pruning), on
    // the same quantized series with the same exact-prefix cost
    def brute(q: Array[Long], beta: Double, minSize: Int): Array[Int] = {
      val n = q.length
      val ps = q.scanLeft(0L)(_ + _)
      val ps2 = q.scanLeft(0L)((a, v) => a + v * v)
      def cost(s: Int, e: Int) = {
        val su = (ps(e) - ps(s)).toDouble
        (ps2(e) - ps2(s)).toDouble - su * su / (e - s)
      }
      val f = Array.fill(n + 1)(Double.MaxValue)
      val prev = new Array[Int](n + 1)
      f(0) = -beta
      for (t <- minSize to n) {
        for (s <- 0 to t - minSize if s == 0 || s >= minSize) {
          val v = f(s) + cost(s, t) + beta
          if (v < f(t)) { f(t) = v; prev(t) = s }
        }
      }
      var cps = List.empty[Int]; var at = n
      while (prev(at) > 0) { cps = prev(at) :: cps; at = prev(at) }
      cps.toArray
    }
    for (_ <- 1 to 10) {
      val shift = 3 + rng.nextInt(3)
      val q = Pelt.quantize(Array.tabulate(60) { i =>
        (if (i < 20) 0.0 else if (i < 40) shift.toDouble else 1.0) +
          rng.nextGaussian() * 0.3
      })
      val beta = Pelt.autoPenalty(q)
      assert(Pelt.changePoints(q, beta, 5).toSeq == brute(q, beta, 5).toSeq)
    }
  }

  test("pelt finds planted level shifts and nothing in noise") {
    import graft.functions.Pelt
    val rng = new scala.util.Random(11)
    val q = Pelt.quantize(Array.tabulate(90) { i =>
      (if (i < 30) 1.0 else if (i < 60) 6.0 else 2.0) + rng.nextGaussian() * 0.2
    })
    val cps = Pelt.changePoints(q, Pelt.autoPenalty(q), 5)
    assert(cps.length == 2 && math.abs(cps(0) - 30) <= 2 && math.abs(cps(1) - 60) <= 2)
    val flat = Pelt.quantize(Array.tabulate(90)(_ => rng.nextGaussian() * 0.2))
    assert(Pelt.changePoints(flat, Pelt.autoPenalty(flat), 5).isEmpty)
  }

  test("pelt operator reports segment means per signal") {
    val rows = (0 until 40).map { i =>
      ("m", "a", i * 3600L, if (i < 20) 1.0 else 9.0)
    } ++ (0 until 40).map(i => ("m2", "b", i * 3600L, 5.0))
    val out = ChangePoints.pelt(rows.toDF("name", "node", "tsb", "gval"), 5)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "m" && r.getLong(2) == 20 * 3600L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 9.0)
  }

  test("granger: lagged driver is detected, independent noise is not") {
    import graft.functions.Granger
    val rng = new scala.util.Random(3)
    val n = 200
    val x = Array.tabulate(n)(_ => rng.nextGaussian())
    // y is driven by x two steps back plus its own inertia
    val y = new Array[Double](n)
    for (t <- 2 until n)
      y(t) = 0.4 * y(t - 1) + 0.8 * x(t - 2) + rng.nextGaussian() * 0.1
    val fwd = Granger.test(y, x, 2).get
    assert(fwd.pValue < 1e-6, s"driver must be detected, p=${fwd.pValue}")
    // independent noise must not "cause" y
    val z = Array.tabulate(n)(_ => rng.nextGaussian())
    val nul = Granger.test(y, z, 2).get
    assert(nul.pValue > 0.01, s"independent noise p=${nul.pValue}")
    // reverse direction: y's past adds little about x beyond x's own
    val rev = Granger.test(x, y, 2).get
    assert(rev.fStat < fwd.fStat / 5)
    // too-short and constant series degrade to None, never throw
    assert(Granger.test(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0), 2).isEmpty)
    assert(Granger.test(Array.fill(50)(3.0), Array.fill(50)(3.0), 2).isEmpty)
  }

  test("granger f-test p-values are calibrated under the null") {
    import graft.functions.Granger
    val rng = new scala.util.Random(17)
    // two independent AR(1) series: p-values should be ~uniform — check
    // the rejection rate at alpha=0.1 over 200 trials is in a sane band
    var rejected = 0
    for (_ <- 1 to 200) {
      val n = 120
      val x = new Array[Double](n); val y = new Array[Double](n)
      for (t <- 1 until n) {
        x(t) = 0.5 * x(t - 1) + rng.nextGaussian()
        y(t) = 0.5 * y(t - 1) + rng.nextGaussian()
      }
      if (Granger.test(y, x, 2).get.pValue < 0.1) rejected += 1
    }
    assert(rejected >= 8 && rejected <= 40, s"rejections at 10%: $rejected/200")
  }

  test("granger operator flags the planted driver pair per node") {
    val rng = new scala.util.Random(5)
    val n = 120
    val x = Array.tabulate(n)(_ => rng.nextGaussian())
    val y = new Array[Double](n)
    for (t <- 2 until n)
      y(t) = 0.3 * y(t - 1) + 0.9 * x(t - 2) + rng.nextGaussian() * 0.1
    val w = Array.tabulate(n)(_ => rng.nextGaussian())
    val rows =
      (0 until n).map(t => ("error", "a", t * 3600L, y(t))) ++
      (0 until n).map(t => ("driver", "a", t * 3600L, x(t))) ++
      (0 until n).map(t => ("bystander", "a", t * 3600L, w(t)))
    val out = Correlate.grangerF(rows.toDF("name", "node", "tsb", "gval"),
        Seq("error"), 2)
      .orderBy("cand_name").collect()
    assert(out.length == 2)
    val driver = out.find(_.getString(1) == "driver").get
    val bystander = out.find(_.getString(1) == "bystander").get
    assert(driver.getAs[Double]("p_value") < 0.001)
    assert(driver.getAs[Double]("f_stat") > bystander.getAs[Double]("f_stat"))
  }

  test("e-divisive finds an obvious level shift") {
    val series = Array.fill(30)(1.0) ++ Array.fill(30)(10.0)
    val cps = EDivisive.changePoints(series, pvalue = 0.05, permutations = 30)
    assert(cps.map(_.index) == Seq(30))
  }

  test("e-divisive finds nothing in constant data") {
    val cps = EDivisive.changePoints(Array.fill(50)(5.0), permutations = 30)
    assert(cps.isEmpty)
  }

  test("dominant period finds a planted cycle, reports weak strength on noise") {
    import graft.functions.Dsp
    // clean 24-sample cycle over 96 points: bin resolution on the padded
    // 128-window puts the peak within ~2 samples of the truth
    val x = Array.tabulate(96)(i => 10.0 + 5.0 * math.sin(2 * math.Pi * i / 24.0))
    val (period, strength) = Dsp.dominantPeriod(x).get
    assert(math.abs(period - 24.0) <= 4.0, s"period $period")
    assert(strength > 0.5, s"strength $strength")
    val rng = new scala.util.Random(9)
    val noise = Array.tabulate(96)(_ => rng.nextGaussian())
    val (_, ns) = Dsp.dominantPeriod(noise).get
    assert(ns < 0.3, s"noise strength $ns")
    assert(Dsp.dominantPeriod(Array(1.0, 2.0)).isEmpty)
    assert(Dsp.dominantPeriod(Array.fill(32)(7.0)).isEmpty)
  }

  test("period operator reports seconds per signal, daily cycle strongest") {
    val rows = (0 until 96).flatMap { i =>
      Seq(("cyclic", "a", i * 3600L, math.sin(2 * math.Pi * i / 24.0)),
        ("noisy", "b", i * 3600L, new scala.util.Random(i).nextGaussian()))
    }
    val out = ChangePoints.periodDetect(rows.toDF("name", "node", "tsb", "gval"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("period_sec"), r.getAs[Double]("strength"))).toMap
    val (cp, cs) = out("cyclic")
    // 24 h ± the padded-FFT bin resolution
    assert(math.abs(cp - 86400.0) <= 4 * 3600.0, s"period $cp")
    assert(cs > 0.5 && cs > out("noisy")._2)
  }

  test("lowpass keeps DC and removes fast oscillation") {
    val n = 64
    val slow = Array.tabulate(n)(_ => 5.0)
    val fast = Array.tabulate(n)(i => math.sin(i * math.Pi / 2) * 2.0)
    val x = Array.tabulate(n)(i => slow(i) + fast(i))
    val filtered = Dsp.lowpass(x, stepSec = 1.0, fMin = 0.01)
    // fast component (period 4 samples = 0.25 Hz) must be gone; DC stays
    val maxDev = filtered.map(v => math.abs(v - 5.0)).max
    assert(maxDev < 0.8, s"maxDev=$maxDev")
  }

  test("fft lowpass matches a naive DFT reference, padding included") {
    // O(m²) direct DFT replicating lowpass's contract: pad to the next
    // power of two with the last value, zero bins above the cutoff,
    // inverse-transform, truncate back to n
    def naiveLowpass(x: Array[Double], stepSec: Double, fMin: Double): Array[Double] = {
      val n = x.length
      var m = 1; while (m < n) m <<= 1
      val xin = Array.tabulate(m)(i => if (i < n) x(i) else x(n - 1))
      val re = new Array[Double](m); val im = new Array[Double](m)
      for (k <- 0 until m; t <- 0 until m) {
        val ang = -2 * math.Pi * k * t / m
        re(k) += xin(t) * math.cos(ang); im(k) += xin(t) * math.sin(ang)
      }
      val cutoff = math.max(0, (fMin * stepSec * m).toInt)
      for (k <- cutoff + 1 to m - 1 - cutoff) { re(k) = 0; im(k) = 0 }
      Array.tabulate(n) { t =>
        var acc = 0.0
        for (k <- 0 until m) {
          val ang = 2 * math.Pi * k * t / m
          acc += re(k) * math.cos(ang) - im(k) * math.sin(ang)
        }
        acc / m
      }
    }
    val rnd = new scala.util.Random(3)
    for (trial <- 0 until 6) {
      val n = 20 + rnd.nextInt(45) // non-power-of-2 exercises the padding
      val x = Array.tabulate(n)(i => math.sin(i * 0.3) * 3 + rnd.nextGaussian())
      val fMin = Seq(0.01, 0.05, 0.002)(trial % 3)
      val got = Dsp.lowpass(x, 1.0, fMin)
      val exp = naiveLowpass(x, 1.0, fMin)
      got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
        assert(math.abs(g - e) < 1e-6, s"trial $trial idx $i: $g vs $e")
      }
    }
  }

  test("fenwick bestSplit matches the quadratic reference on random series") {
    // brute-force reference: direct triple-loop energy statistic
    def naive(x: Array[Double], lo: Int, hi: Int, minSize: Int): (Int, Double) = {
      val n = hi - lo
      if (n < 2 * minSize) return (-1, 0.0)
      var bestTau = -1; var bestQ = Double.NegativeInfinity
      for (tau <- (lo + minSize) to (hi - minSize)) {
        var cross = 0.0; var left = 0.0; var right = 0.0
        for (i <- lo until hi; j <- (i + 1) until hi) {
          val d = math.abs(x(i) - x(j))
          if (j < tau) left += d
          else if (i >= tau) right += d
          else cross += d
        }
        val m = (tau - lo).toDouble; val k = (hi - tau).toDouble
        val t1 = cross * (2.0 / (m * k))
        val t2 = if (m > 1) left * (2.0 / (m * (m - 1))) else 0.0
        val t3 = if (k > 1) right * (2.0 / (k * (k - 1))) else 0.0
        val q = (m * k / (m + k)) * (t1 - t2 - t3)
        if (q > bestQ) { bestQ = q; bestTau = tau }
      }
      (bestTau, bestQ)
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 30) {
      val n = 12 + rnd.nextInt(60)
      // mix of noise, level shifts, and ties to exercise the rank logic
      val x = Array.tabulate(n) { i =>
        val base = if (i < n / 2) 0.0 else (trial % 3).toDouble
        math.rint((base + rnd.nextGaussian()) * 4) / 4
      }
      val (tExp, qExp) = naive(x, 0, n, 5)
      val (tGot, qGot) = EDivisive.bestSplit(x, 0, n, 5)
      assert(tGot == tExp, s"trial $trial tau: ${x.mkString(",")}")
      assert(math.abs(qGot - qExp) <= 1e-9 * math.max(1.0, math.abs(qExp)),
        s"trial $trial q")
    }
  }

  test("eDivisive operator emits change point per signal") {
    val rows = (0 until 30).map(i => ("m", "a", i * 3600L, 1.0)) ++
      (30 until 60).map(i => ("m", "a", i * 3600L, 50.0))
    val out = ChangePoints.eDivisive(grid(rows: _*), permutations = 20)
    val cps = out.select("cp_tsb").as[Long].collect().toSeq
    assert(cps == Seq(30 * 3600L))
  }

  test("nccLag recovers a known lagged correlation") {
    // candidate = objective shifted by +1 step inside one bucket
    val obj = (0 until 24).map(i => ("click", "u0", i * 3600L, math.sin(i / 3.0) * 10 + 20))
    val cand = (0 until 24).map(i => ("other", "u0", i * 3600L, math.sin((i - 1) / 3.0) * 10 + 20))
    val g = TimeSeries.indexed(grid((obj ++ cand): _*), 3600L, 86400L)
    val cells = Correlate.nccLag(g, Seq("click"), lagMax = 2, minOverlap = 8)
    val best = cells.orderBy(abs(col("r")).desc).select("lag", "r").head()
    assert(best.getLong(0) == 1L, s"best lag=${best.getLong(0)}")
    assert(best.getDouble(1) > 0.999)
  }

  test("anomalyUnion tags both kinds") {
    val rows = (0 until 30).map(i => ("m", "a", i * 3600L, 1.0)) ++
      (30 until 60).map(i => ("m", "a", i * 3600L, 50.0))
    val out = ChangePoints.anomalyUnion(grid(rows: _*))
    val kinds = out.select("kind").distinct().as[String].collect().toSet
    assert(kinds.contains("changepoint"))
  }

  test("e-divisive detects on the median-filtered series: spikes suppressed, shifts kept") {
    // reference parity (metrics_advisor.py:147-148): detection runs on
    // moving_median(data, 5). Spike-heavy second half: the raw series
    // has a distributional difference between halves (heavy tail), the
    // filtered one does not.
    // flat base: every 5-sample window holds at most two spikes, so the
    // centered median is exactly the base everywhere — the filtered
    // series is constant by construction
    val spiky = (0 until 60).map { i =>
      ("spiky", "a", i * 3600L, if (i >= 30 && i % 3 == 0) 210.0 else 10.0)
    }
    val raw = ChangePoints.eDivisive(grid(spiky: _*), permutations = 50)
    val filtered = ChangePoints.eDivisive(grid(spiky: _*), permutations = 50, medianW = 5)
    assert(filtered.count() == 0,
      s"median filter must suppress spike-only change: ${filtered.collect().mkString(";")}")
    assert(raw.count() > 0, "fixture must be spiky enough to fool the unfiltered detector")
    // a genuine level shift survives the filter
    val step = (0 until 30).map(i => ("step", "a", i * 3600L, 1.0)) ++
      (30 until 60).map(i => ("step", "a", i * 3600L, 50.0))
    val stepCps = ChangePoints.eDivisive(grid(step: _*), permutations = 50, medianW = 5)
      .select("cp_tsb").as[Long].collect().toSeq
    assert(stepCps == Seq(30 * 3600L), s"level shift lost: $stepCps")
  }

  test("e-divisive at the REFERENCE config: permutations=100, pvalue=0.05, median-5") {
    // metrics_advisor.py:148 runs e_divisive(pvalue=0.05,
    // permutations=100) on moving_median(data, 5) — this pins the
    // engine at that exact config (the oracle gate runs 19 sort-order
    // permutations for SQL-replay cost; the early-exit makes 100 cheap:
    // most splits resolve significance long before the full count).
    val step = (0 until 30).map(i => ("step", "a", i * 3600L, 1.0)) ++
      (30 until 60).map(i => ("step", "a", i * 3600L, 50.0))
    val flat = (0 until 60).map(i => ("flat", "a", i * 3600L, 7.0))
    val t0 = System.nanoTime()
    val out = ChangePoints.eDivisive(grid((step ++ flat): _*),
        pvalue = 0.05, permutations = 100, medianW = 5)
      .select("name", "cp_tsb").as[(String, Long)].collect().toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out == Seq(("step", 30 * 3600L)), s"got $out")
    // the reference config stays cheap through the early-exit (cost
    // noted: two 60-point signals well under 30 s even on local[2])
    assert(secs < 30.0, s"100-permutation run took $secs s")
    // and agrees with the oracle gate's 19-permutation config here
    val gate = ChangePoints.eDivisive(grid((step ++ flat): _*),
        pvalue = 0.05, permutations = 19, medianW = 5)
      .select("name", "cp_tsb").as[(String, Long)].collect().toSeq
    assert(gate == out)
  }

  test("anomalyUnion: an isolated spike is an outlier, never a changepoint") {
    val rows = (0 until 48).map { i =>
      val base = 12.0 + (i % 5)
      ("m", "a", i * 3600L, if (i == 30) base + 500.0 else base)
    }
    val out = ChangePoints.anomalyUnion(grid(rows: _*), permutations = 50)
      .select("tsb", "kind").as[(Long, String)].collect().toSeq
    assert(out.exists(r => r._1 == 30 * 3600L && r._2 == "outlier"),
      s"spike must be flagged as outlier: $out")
    assert(!out.exists(_._2 == "changepoint"),
      s"spike must not register as distributional change: $out")
  }

  test("autoFmin removes a planted short cycle from the noise channel") {
    // period-4 cycle, 32 full periods: too fast for the w=5 median to
    // track (the detrended residual IS the cycle), far above the fixed
    // default cutoff (1/86400 Hz = 24 h period at 1 h steps) — so with
    // the fixed config the whole cycle lands in the noise channel. With
    // autoFmin the measured dominant period moves the cutoff and the
    // cycle is classified seasonal. n=128 keeps the tone bin-aligned so
    // the assertion is about the operator, not FFT padding leakage.
    val rows = (0 until 128).map(i =>
      ("cyc", "a", i * 3600L, 10.0 + 5.0 * math.sin(2 * math.Pi * i / 4.0)))
    def noiseAbsMax(auto: Boolean): Double =
      ChangePoints.seasonalNoise(grid(rows: _*), autoFmin = auto)
        .agg(max(abs(col("noise")))).head().getDouble(0)
    val fixed = noiseAbsMax(auto = false)
    val auto = noiseAbsMax(auto = true)
    assert(auto < 0.1 * fixed,
      s"measured cutoff must absorb the cycle: auto=$auto fixed=$fixed")
    // and the anomaly pass raises no outliers on the clean cycle
    val anomalies = ChangePoints.anomalyUnion(grid(rows: _*), permutations = 50)
    assert(anomalies.count() == 0,
      s"clean cycle must not alarm: ${anomalies.collect().mkString(";")}")
  }

  test("spc rules: a lone spike trips rule1, a sustained shift trips rule4") {
    // oscillating baseline, one extreme spike, then a long run above
    // the center line
    val base = (0 until 24).map(i => ("m", "a", i * 900L, if (i % 2 == 0) 10.0 else 10.4))
    val spike = Seq(("m", "a", 24 * 900L, 25.0))
    val shifted = (25 until 35).map(i => ("m", "a", i * 900L, 11.0))
    val out = Anomaly.spcRules((base ++ spike ++ shifted).toDF("name", "node", "tsb", "gval"))
      .orderBy("tsb").collect()
    val bySlot = out.map(r => r.getLong(2) -> r).toMap
    assert(bySlot(24 * 900L).getInt(4) == 1, "spike must trip rule1")
    // the 8th consecutive above-center point (slots 25..32) trips rule4
    assert(bySlot.contains(32 * 900L) && bySlot(32 * 900L).getInt(7) == 1,
      s"sustained shift must trip rule4: ${out.mkString(";")}")
    assert(!bySlot.contains(900L), "calm baseline must not flag")
  }

  test("alertStats summarizes the k-sigma alert stream per signal") {
    // 60 flat points with spikes at slots 10 and 50: exactly two alerts
    val two = (0 until 60).map(i =>
      ("two", "a", i * 900L, if (i == 10 || i == 50) 1000.0 else 10.0))
    // one spike only: mean_gap/max_quiet stay 0, not null
    val one = (0 until 60).map(i =>
      ("one", "a", i * 900L, if (i == 30) 1000.0 else 10.0))
    val out = Anomaly.alertStats(grid((two ++ one): _*), 3.0)
      .orderBy("name")
      .select("name", "n_alerts", "first_ts", "last_ts", "mean_gap", "max_quiet")
      .as[(String, Long, Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq(
      ("one", 1L, 30 * 900L, 30 * 900L, 0.0, 0L),
      ("two", 2L, 10 * 900L, 50 * 900L, 36000.0, 36000L)), s"got $out")
  }

  test("sketch heavy hitters never underestimates and nails the top term") {
    val docs = (1 to 50).map(i =>
      (i.toLong, "alpha " * 10 + s"beta gamma delta word$i")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.heavyHitters(docs, 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head._1 == "alpha" && out.head._2 == 500L)
    // CMS structurally never undercounts
    assert(out.forall { case (_, exact, est) => est >= exact })
    // at eps=1e-3 over this tiny vocabulary the estimates are exact
    assert(out.forall { case (_, exact, est) => est == exact })
  }
}
