package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Long-format time-series operators — the data model of the reference
  * (metrics_advisor.py:38-48 melts wide reshape CSVs into
  * {name, node, timestamp, data} signals).
  *
  * Scale design: every op is keyed by signal `(name, node)`. One shuffle
  * groups a signal's points onto one executor partition; all per-signal
  * work (rolling filters, decomposition, gates) is a window or aggregate
  * within that partitioning, so throughput scales linearly with executors
  * and no state ever crosses signal boundaries. At 100 TB / millions of
  * signals the `(name,node)` hash partitioning spreads evenly; a single
  * signal's series stays bounded by retention (thousands of points).
  */
object TimeSeries {

  val StepSec = 900L          // resample grid step (reference: 15 s grid; 15 min here)
  val BucketSec = 86400L      // correlation bucket (reference: 40 steps = 10 min; 1 day here)

  /** events table (ts = epoch nanos as bigint) → long signals
    * (name, node, tsec, value). Mirrors get_valid_signals'
    * {name, node, timestamp, data} (metrics_advisor.py:38-48).
    */
  def signalsFromEvents(events: DataFrame, nodeMod: Int = 8): DataFrame =
    events.select(
      col("event_type").as("name"),
      concat(lit("u"), (col("user_id") % nodeMod).cast("string")).as("node"),
      expr("ts div 1000000000").as("tsec"),
      col("value"))

  /** Wide → long melt (the reshape-CSV ingestion shape). */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
           varName: String = "measure", valName: String = "value"): DataFrame = {
    val stackArgs = valueCols.map(c => s"'$c', `$c`").mkString(", ")
    df.selectExpr(idCols ++ Seq(
      s"stack(${valueCols.size}, $stackArgs) AS ($varName, $valName)"): _*)
  }

  /** Align to a fixed grid: floor tsec to `step`, exact-decimal mean per
    * cell (reference aligns to its 15 s sample grid, :123-134).
    */
  def resample(signals: DataFrame, step: Long = StepSec): DataFrame =
    signals
      .groupBy(col("name"), col("node"),
        (expr(s"tsec div $step") * step).as("tsb"))
      .agg(avgDec(col("value")).as("gval"))

  /** resample → fillForward → indexed fused into ONE per-signal pass —
    * the advisor's grid-build ingest. The operator-composed form costs
    * three exchanges (cell aggregate, span/dense join, ffill window);
    * at 100 TB the grid build shuffles the full signal stream that many
    * times per run. Here the raw (signal, cell, value) rows shuffle
    * ONCE, and the cell means (exact-decimal, the avgDec contract:
    * HALF_UP 2-dp decimals summed exactly, one double division), the
    * dense walk, and the forward fill all happen inside the per-signal
    * task — bounded by retention like every typed per-signal op.
    * Bit-identical to the composed form (pinned by TimeSeriesSpec).
    */
  def gridOnePass(signals: DataFrame, step: Long = StepSec,
                  bucket: Long = BucketSec): DataFrame = {
    val spark = signals.sparkSession
    import spark.implicits._
    // the raw signal stream is laid out by (name, node) at an explicit
    // width (AQE-exempt; the r12 SignalKernel finding: an exchange left
    // to AQE was sub-MB at bench scale, and byte-based coalescing
    // serialized the whole BigDecimal fold onto 1-2 tasks); the
    // relational grouping below reuses that layout, so the per-signal
    // fold runs in-stage wide. An input that already carries
    // hashpartitioning(name, node) at this width (the advisor's
    // persisted signals, laid out by MetricsCsv.read's window gate)
    // needs no repartition, and the planner drops it: there the raw
    // stream's one shuffle is the read gate's exchange
    val proj = signals.select(col("name"), col("node"),
      expr(s"tsec div $step").as("cell"), col("value"))
    SignalKernel.series(
      // r13: workload-derived width (saturates to session width on any
      // real corpus — see graft.Widths); the exchange stays AQE-exempt
      proj.repartition(graft.Widths.forFrame(proj),
        col("name"), col("node"))) {
      (name, node, cells, vs) =>
        var last = 0.0
        var ci = 0
        (cells(0) to cells(cells.length - 1)).iterator.map { c =>
          if (ci < cells.length && cells(ci) == c) {
            // one cell's run: Spark's double→DECIMAL(12,2) cast (valueOf,
            // toString-exact, then HALF_UP to scale 2) replicated op for
            // op, summed exactly, so the fused mean is bit-identical to
            // avgDec's
            var s = java.math.BigDecimal.ZERO
            val c0 = ci
            while (ci < cells.length && cells(ci) == c) {
              s = s.add(java.math.BigDecimal.valueOf(vs(ci))
                .setScale(2, java.math.RoundingMode.HALF_UP))
              ci += 1
            }
            last = s.doubleValue() / (ci - c0).toLong
          }
          val tsb = c * step
          (name, node, tsb, last, c, tsb / bucket * bucket)
        }
      }
      .toDF("name", "node", "tsb", "gval", "i", "b")
  }

  /** Native sample step of long signals (name, node, tsec, value): each
    * series' smallest positive timestamp delta, then the MODE across
    * series (the smaller step on ties); 3600 when no series has a
    * positive delta. Per series first matters: the union of all
    * timestamps would infer 5 s from two 15 s metrics scraped 5 s out
    * of phase. One [[SignalKernel.series]] pass, which reuses a (name,
    * node) layout the signals already carry, and a collect of one long
    * per series; the mode is taken on the driver.
    */
  def sampleStep(signals: DataFrame): Long = {
    val spark = signals.sparkSession
    import spark.implicits._
    val steps = SignalKernel.series(
      signals.select(col("name"), col("node"), col("tsec"), col("value"))) { (_, _, t, _) =>
        var d = Long.MaxValue
        var k = 1
        while (k < t.length) {
          val x = t(k) - t(k - 1)
          if (x > 0 && x < d) d = x
          k += 1
        }
        if (d == Long.MaxValue) None else Some(d)
      }.collect()
    if (steps.isEmpty) 3600L
    else steps.groupBy(identity).toSeq.map { case (s, ss) => (s, ss.length) }
      .minBy { case (s, n) => (-n, s) }._1
  }

  /** Grid with sample index and correlation bucket columns. */
  def indexed(grid: DataFrame, step: Long = StepSec, bucket: Long = BucketSec): DataFrame =
    grid
      .withColumn("i", expr(s"tsb div $step"))
      .withColumn("b", (expr(s"tsb div $bucket") * bucket))

  private def signalWindow = Window.partitionBy("name", "node").orderBy("tsb")

  /** Densify the grid (one row per signal per step between that signal's
    * min and max tsb) and forward-fill missing cells with the last
    * observed value.
    */
  def fillForward(grid: DataFrame, step: Long = StepSec): DataFrame = {
    val spans = grid.groupBy("name", "node")
      .agg(min("tsb").as("t0"), max("tsb").as("t1"))
    val dense = spans.select(col("name"), col("node"),
      explode(expr(s"sequence(t0, t1, $step)")).as("tsb"))
    dense.join(grid, Seq("name", "node", "tsb"), "left")
      .withColumn("filled",
        last(col("gval"), ignoreNulls = true)
          .over(signalWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Densify the grid and linearly interpolate interior gaps between
    * the surrounding observed points; leading/trailing gaps fall back
    * to the nearest observed value. Same one-shuffle window shape as
    * fillForward — prev/next observed value and time come from
    * ignore-nulls frames over the signal key.
    */
  def interpLinear(grid: DataFrame, step: Long = StepSec): DataFrame = {
    val spans = grid.groupBy("name", "node")
      .agg(min("tsb").as("t0"), max("tsb").as("t1"))
    val dense = spans.select(col("name"), col("node"),
      explode(expr(s"sequence(t0, t1, $step)")).as("tsb"))
    val j = dense.join(grid, Seq("name", "node", "tsb"), "left")
    val wPrev = signalWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = signalWindow.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(col("gval"), ignoreNulls = true).over(wPrev)
    val pt = last(when(col("gval").isNotNull, col("tsb")), ignoreNulls = true).over(wPrev)
    val nv = first(col("gval"), ignoreNulls = true).over(wNext)
    val nt = first(when(col("gval").isNotNull, col("tsb")), ignoreNulls = true).over(wNext)
    j.withColumn("interp",
        when(col("gval").isNotNull, col("gval"))
          .when(pv.isNotNull && nv.isNotNull,
            pv + (nv - pv) *
              ((col("tsb") - pt).cast("double") / (nt - pt).cast("double")))
          .otherwise(coalesce(pv, nv)))
      .withColumn("was_missing", col("gval").isNull.cast("int"))
  }

  /** Winsorize per signal: clamp values into [p_lo, p_hi] of that
    * signal's own distribution — the robust preprocessing step before
    * means/correlations when spikes are measurement noise rather than
    * signal. One percentile aggregate broadcast back onto the rows.
    */
  def winsorize(grid: DataFrame, lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    val g = grid.persist().tracked // quantile aggregate + clamp join
    val bounds = g.groupBy("name", "node")
      .agg(expr(s"percentile(gval, $lo)").as("p_lo"),
        expr(s"percentile(gval, $hi)").as("p_hi"))
    g.join(bounds, Seq("name", "node"))
      .withColumn("clamped", least(greatest(col("gval"), col("p_lo")), col("p_hi")))
      .withColumn("was_clamped",
        (col("gval") < col("p_lo") || col("gval") > col("p_hi")).cast("int"))
  }

  /** Counter-reset-aware rate (the Prometheus `rate()` contract for
    * monotone counters): a negative delta means the counter restarted,
    * so the post-reset value itself is the increase for the interval.
    */
  def counterRate(grid: DataFrame): DataFrame = {
    val w = signalWindow
    val prev = lag(col("gval"), 1).over(w)
    val dt = (col("tsb") - lag(col("tsb"), 1).over(w)).cast("double")
    val inc = when(col("gval") >= prev, col("gval") - prev).otherwise(col("gval"))
    grid.withColumn("increase", when(prev.isNull, lit(null)).otherwise(inc))
      .withColumn("rate", col("increase") / dt)
  }

  /** Per-signal magnitude M = max|x| (exact selection → bit-identical
    * on any engine), floored to 1 for all-zero signals; the scale for
    * relative integer quantization (1e-9 relative resolution keeps
    * small-magnitude signals fully resolved where an absolute grid
    * would flatten them).
    */
  private[operators] def signalScale(in: String): Column = {
    val mRaw = max(abs(col(in))).over(Window.partitionBy("name", "node"))
    when(mRaw > 0, mRaw).otherwise(lit(1.0))
  }

  private[operators] def quantRel(in: Column, m: Column): Column =
    floor((in / m) * lit(1e9) + lit(0.5)).cast(DecimalType(18, 0))

  /** Centered rolling mean, window w (odd), edge-shrunk. The mean is
    * taken over relative-quantized values via exact integer frame sums:
    * engines disagree on frame summation order (Spark re-sums the
    * frame linearly, DuckDB uses segment trees), so a raw double frame
    * avg carries ulp noise that can cross a rounding boundary.
    */
  def movingAvg(grid: DataFrame, w: Int = 5, in: String = "gval", out: String = "ma"): DataFrame = {
    val h = w / 2
    val fr = signalWindow.rowsBetween(-h, h)
    val m = signalScale(in)
    grid.withColumn(out,
      sum(quantRel(col(in), m)).over(fr).cast("double") /
        count(lit(1)).over(fr).cast("double") / lit(1e9) * m)
  }

  /** Centered rolling median, window w (odd), edge-shrunk — mathbox
    * moving_median as used at metrics_advisor.py:147. Spark won't run
    * `median` with a window frame, so take the sorted frame array and
    * interpolate the middle — exact, codegen-friendly, and identical to
    * DuckDB's windowed `median` (linear interpolation on even counts).
    */
  def movingMedian(grid: DataFrame, w: Int = 5, in: String = "gval", out: String = "med"): DataFrame = {
    val h = w / 2
    val arr = sort_array(collect_list(col(in)).over(signalWindow.rowsBetween(-h, h)))
    val n = size(arr)
    grid.withColumn(out,
      when(n % 2 === 1, element_at(arr, ((n + lit(1)) / 2).cast("int")))
        .otherwise((element_at(arr, (n / 2).cast("int")) +
          element_at(arr, (n / 2).cast("int") + 1)) / 2.0))
  }

  /** STL-lite robust decomposition: median-`w` trend, then the seasonal
    * component as the per-hour-of-day EXACT MEDIAN of the detrended
    * series — one robust pass (level shifts and outliers cannot leak
    * into the daily profile), the complementary decomposition to the
    * lowpass family. Two keyed windows (signal; signal×hour), both
    * retention-bounded frames; same even-count median semantics as
    * [[movingMedian]] (DuckDB-interpolation-compatible).
    */
  def stlLite(grid: DataFrame, w: Int = 5): DataFrame = {
    val dt = movingMedian(grid, w, "gval", "trend")
      .withColumn("detr", col("gval") - col("trend"))
      .withColumn("h", expr("(tsb % 86400) div 3600"))
    val hw = Window.partitionBy("name", "node", "h")
    val arr = sort_array(collect_list(col("detr")).over(hw))
    val n = size(arr)
    dt.withColumn("seas",
        when(n % 2 === 1, element_at(arr, ((n + lit(1)) / 2).cast("int")))
          .otherwise((element_at(arr, (n / 2).cast("int")) +
            element_at(arr, (n / 2).cast("int") + 1)) / 2.0))
      .select(col("name"), col("node"), col("tsb"),
        r4(col("trend")).as("trend"), r4(col("seas")).as("seasonal"),
        r4(col("detr") - col("seas")).as("resid"))
  }

  /** Trailing rolling discrete quantile — the "p95 over the last w
    * samples" band an SRE dashboard draws beside every latency series
    * (and the adaptive threshold ad-hoc alerting compares against).
    * Discrete (exact-element) quantile: the sorted trailing frame's
    * element at ⌈q·n⌉ — no interpolation, so the output is always an
    * observed value and the selection is bit-deterministic on any
    * engine given identical frames (the same reason [[movingMedian]]
    * materializes its frame). Edge-shrunk like every rolling op here:
    * early rows use the partial frame. One keyed window; frame length
    * is the operator's own bound on per-row work.
    */
  def movingQuantile(grid: DataFrame, w: Int = 12, q: Double = 0.95,
                     in: String = "gval", out: String = "pq"): DataFrame = {
    val arr = sort_array(collect_list(col(in))
      .over(signalWindow.rowsBetween(-(w - 1), 0)))
    grid.withColumn(out,
      element_at(arr,
        greatest(ceil(lit(q) * size(arr)).cast("int"), lit(1))))
  }

  /** Missing-data audit per signal — the data-quality question asked
    * BEFORE trusting any gap-filled series: how sparse is this signal,
    * and how long is its worst outage? Computed from consecutive
    * observation deltas (lag over the signal key — no dense spine is
    * materialized): n_cells = the span's grid capacity, n_missing its
    * unobserved cells, max_gap the longest run of consecutive missing
    * cells. Integer arithmetic throughout (tsb is step-aligned by
    * resample), one keyed window + one aggregate.
    */
  def gapStats(grid: DataFrame, step: Long = StepSec): DataFrame = {
    val d = grid.withColumn("prev_tsb", lag("tsb", 1).over(signalWindow))
    d.groupBy("name", "node")
      .agg(count(lit(1)).as("n_obs"),
        ((max("tsb") - min("tsb")) / step + 1).cast("long").as("n_cells"),
        coalesce(max(when(col("prev_tsb").isNotNull,
            (col("tsb") - col("prev_tsb")) / step - 1)), lit(0))
          .cast("long").as("max_gap"))
      .withColumn("n_missing", col("n_cells") - col("n_obs"))
      .withColumn("missing_frac",
        graft.Num.r4(col("n_missing").cast("double") / col("n_cells")))
  }

  /** Crossing points of a signal against its trailing `w`-sample mean —
    * the alert-edge detector (a value crossing above/below its own
    * baseline is the moment a rule fires, not the samples on either
    * side). The test is exact-integer: sign(q·n − Σq) over the frame
    * with the relative-quantized values (scale cancels, no division,
    * no doubles), so engines that sum window frames in different orders
    * still agree bit-for-bit on every crossing. Emits one row per sign
    * flip with the crossing direction.
    */
  def crossover(grid: DataFrame, w: Int = 5): DataFrame = {
    val fr = signalWindow.rowsBetween(-(w - 1), 0)
    val m = signalScale("gval")
    val q = quantRel(col("gval"), m)
    val diff = q * count(lit(1)).over(fr) - sum(q).over(fr)
    grid
      .withColumn("sgn",
        when(diff > 0, 1).when(diff < 0, -1).otherwise(0))
      .withColumn("prev", lag("sgn", 1).over(signalWindow))
      // a crossing is ENTERING a nonzero regime the previous sample was
      // not in — sgn 0 (value exactly on its mean) ends a regime but is
      // never itself an edge
      .filter(col("sgn") =!= 0 && col("prev").isNotNull && col("prev") =!= col("sgn"))
      .select(col("name"), col("node"), col("tsb"),
        when(col("sgn") > 0, lit("up")).otherwise(lit("down")).as("direction"))
  }

  /** Lag difference and per-second rate (counter → gauge). */
  def deltaRate(grid: DataFrame): DataFrame =
    grid
      .withColumn("delta", col("gval") - lag("gval", 1).over(signalWindow))
      .withColumn("rate", col("delta") / (col("tsb") - lag("tsb", 1).over(signalWindow)))

  /** Per-signal global z-score, from exact integer moments of the
    * relative-quantized value (z is scale-invariant, so the per-signal
    * magnitude and the ×1e9 factor both drop out; mu/sigma are
    * descaled for callers). Built-in avg/stddev are parallel double
    * aggregations whose summation order — and therefore last-ulp
    * value — is engine-specific.
    */
  def zscore(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy("name", "node")
    val nd = count(lit(1)).over(w).cast("double")
    val m = signalScale("gval")
    val g = grid.withColumn("mm", m)
      .withColumn("dq", quantRel(col("gval"), col("mm")))
    val s1 = sum(col("dq")).over(w).cast("double")
    val s2 = sum(col("dq") * col("dq")).over(w).cast("double")
    g.withColumn("mu_s", s1 / nd)
      .withColumn("sigma_s", sqrt((nd * s2 - s1 * s1) / (nd * (nd - lit(1.0)))))
      .withColumn("z", (col("dq").cast("double") - col("mu_s")) / col("sigma_s"))
      .withColumn("mu", col("mu_s") / lit(1e9) * col("mm"))
      .withColumn("sigma", col("sigma_s") / lit(1e9) * col("mm"))
      .drop("dq", "mm", "mu_s", "sigma_s")
  }

  /** Variance gate: keep signals with max-min above `minRange`
    * (reference drops flat signals, metrics_advisor.py:146).
    */
  def rangeGate(grid: DataFrame, minRange: Double = 0.005): DataFrame =
    grid.groupBy("name", "node")
      .agg((max("gval") - min("gval")).as("rng"), count(lit(1)).as("n"))
      .filter(r4(col("rng")) > minRange)

  /** Normalize by |max| (get_relative, metrics_advisor.py:78-80). */
  def relative(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy("name", "node")
    grid.withColumn("rel", col("gval") / (abs(max("gval").over(w)) + lit(1e-10)))
  }

  /** LTTB downsampling to `nOut` points per signal — the shape-
    * preserving decimation a dashboard/report layer runs before
    * plotting (the reference renders every signal as a PNG; at real
    * retention that is thousands of points per chart). Spikes and
    * peaks survive by construction (largest-triangle selection);
    * endpoints always kept. Per-signal typed fold like [[ewma]]:
    * output is |signals| × nOut regardless of retention.
    *
    * Selection runs on 1e4-QUANTIZED values (the [[graft.Num.r4]]
    * grid) so the triangle argmax is exact integer arithmetic — the
    * pick is engine-independent and the DuckDB oracle replays it in
    * HUGEINT. Output values stay raw (quantization only steers the
    * pick; sub-1e-4 value differences never change a chart's shape).
    */
  def downsampleLttb(grid: DataFrame, nOut: Int = 200): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        val qvs = xs.map(v => math.floor((v + 1e-9) * 1e4 + 0.5).toLong)
        graft.functions.Lttb.indices(ts, qvs, nOut)
          .map(i => (name, node, ts(i), xs(i)))
      }
      .toDF("name", "node", "tsb", "gval")
  }

  /** Exponentially-weighted moving average per signal (recursive — a
    * whole-series op, so a typed per-signal loop like e-divisive).
    */
  def ewma(grid: DataFrame, alpha: Double = 0.3): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, ts, xs) =>
        var acc = Double.NaN
        ts.indices.map { i =>
          acc = if (acc.isNaN) xs(i) else alpha * xs(i) + (1 - alpha) * acc
          (name, node, ts(i), r4d(acc))
        }
      }
      .toDF("name", "node", "tsb", "ewma")
  }

  /** Autocorrelation per signal at trailing sample lags 1..maxLag
    * (consecutive grid samples — the forecast-horizon diagnostic that
    * tells an operator how much memory a metric has). Pearson comes
    * from the exact integer-moment machinery (see [[Correlate]]) so
    * the oracle matches bit-for-bit; one window pass + one keyed
    * aggregate, no self-join.
    */
  def autocorr(grid: DataFrame, maxLag: Int = 3, minOverlap: Int = 8): DataFrame = {
    val w = signalWindow
    // quantize once (relative, like Correlate) and lead the quantized
    // column — x and its lead come from the same signal, so one scale
    val g = grid.withColumn("qv", quantRel(col("gval"), signalScale("gval")))
    val withLeads = g.select(
      Seq(col("name"), col("node"), col("qv")) ++
        (1 to maxLag).map(l => lead("qv", l).over(w).as(s"y$l")): _*)
    val pairs = withLeads.select(col("name"), col("node"), col("qv").as("qx"),
        posexplode(array((1 to maxLag).map(l => col(s"y$l")): _*))
          .as(Seq("l0", "qy")))
      .filter(col("qy").isNotNull)
      .withColumn("lag", (col("l0") + 1).cast("long"))
    val moments = Correlate.momentAggs("qx", "qy")
    Correlate.pearsonFromMoments(
      pairs.groupBy("name", "node", "lag").agg(moments.head, moments.tail: _*),
      minOverlap)
  }

  /** Partial autocorrelation at lags 1..3 via the Durbin–Levinson
    * closed forms on [[autocorr]]'s ACF — the AR-order diagnostic
    * (tsfeatures' pacf block). The ACF values are already 4-dp-rounded
    * identical doubles on both engines, and the DL recursion here is a
    * fixed IEEE op tree:
    *   φ11 = r1
    *   φ22 = (r2 − r1²)/(1 − r1²),  φ21 = r1 − φ22·r1
    *   φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2)
    * so the oracle replays it verbatim. Signals with |r1| = 1 (exact
    * linear) or a vanishing φ33 denominator are dropped with the same
    * rounded-predicate gate on both engines.
    */
  def pacf(grid: DataFrame, minOverlap: Int = 8): DataFrame = {
    val ac = autocorr(grid, maxLag = 3, minOverlap)
    val piv = ac.groupBy("name", "node")
      .agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"),
        max(when(col("lag") === 3, col("r"))).as("r3"))
      .filter(col("r1").isNotNull && col("r2").isNotNull && col("r3").isNotNull)
      .filter(abs(col("r1")) < lit(1.0))
    val phi22 = (col("r2") - col("r1") * col("r1")) /
      (lit(1.0) - col("r1") * col("r1"))
    val phi21 = col("r1") - phi22 * col("r1")
    val den3 = lit(1.0) - phi21 * col("r1") - phi22 * col("r2")
    piv
      .withColumn("p22", phi22)
      .withColumn("p21", phi21)
      .withColumn("d3", den3)
      .filter(r4(abs(col("d3"))) > 0)
      .select(col("name"), col("node"),
        r4(col("r1")).as("pacf1"),
        r4(col("p22")).as("pacf2"),
        r4((col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
          col("d3")).as("pacf3"))
  }

  /** CUSUM drift detection per signal: running sum of deviations from
    * the signal mean, flagged when |cusum| exceeds `h`·stddev. All
    * arithmetic is exact scaled-integer (×1e4): the mean is quantized
    * to the integer grid, deviations and their running sum are exact,
    * and the only doubles (mean, stddev, the final rescale) follow the
    * fixed IEEE sequence mirrored in the oracle.
    */
  def cusum(grid: DataFrame, h: Double = 5.0): DataFrame = {
    val g = grid.withColumn("mm", signalScale("gval"))
      .withColumn("d", quantRel(col("gval"), col("mm")))
    val nd = col("n").cast("double")
    val stats = g.groupBy("name", "node").agg(
        count(lit(1)).as("n"),
        sum(col("d")).cast("double").as("s1"),
        sum(col("d") * col("d")).cast("double").as("s2"))
      .filter(col("n") >= 2)
      .withColumn("mu_i",
        floor(col("s1") / nd + lit(0.5)).cast(DecimalType(18, 0)))
      .withColumn("sigma_s",
        sqrt((nd * col("s2") - col("s1") * col("s1")) / (nd * (nd - lit(1.0)))))
    val cw = signalWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(stats.select("name", "node", "mu_i", "sigma_s"), Seq("name", "node"))
      .withColumn("cusum_i", sum(col("d") - col("mu_i")).over(cw))
      .select(col("name"), col("node"), col("tsb"),
        (col("cusum_i").cast("double") / lit(1e9) * col("mm")).as("cusum"),
        (abs(col("cusum_i").cast("double")) > col("sigma_s") * lit(h))
          .cast("int").as("drift"))
  }

  /** Seasonal-naive forecast baseline per signal: predict
    * x_t = x_{t−period} (period in samples; one day on the 15-min
    * grid), score MAE/RMSE over the points that have a prediction —
    * the floor every forecaster must beat. Errors are exact scaled
    * integers, so both aggregates are order-independent.
    */
  def seasonalNaiveError(grid: DataFrame, period: Int = 96,
                         minScored: Int = 8): DataFrame = {
    val nd = col("n").cast("double")
    grid.withColumn("mm", signalScale("gval"))
      .withColumn("d", quantRel(col("gval"), col("mm")))
      .withColumn("p", lag("d", period).over(signalWindow))
      .filter(col("p").isNotNull)
      .withColumn("e", col("d") - col("p"))
      .groupBy("name", "node", "mm").agg(
        count(lit(1)).as("n"),
        sum(abs(col("e"))).cast("double").as("sae"),
        sum(col("e") * col("e")).cast("double").as("sse"))
      .filter(col("n") >= minScored)
      .select(col("name"), col("node"), col("n"),
        r4(col("sae") / nd / lit(1e9) * col("mm")).as("mae"),
        r4(sqrt(col("sse") / nd) / lit(1e9) * col("mm")).as("rmse"))
  }

  /** Additive Holt–Winters (level + trend + m-period season) — the
    * seasonal completion of [[holt]]: for fleets with daily rhythm the
    * two-state Holt chases the cycle into its trend; the seasonal state
    * absorbs it, so `fc1 = l + b + s_next` is the right next-period
    * expectation and the forecast-band pagers inherit a far tighter
    * band. Classic init (Hyndman & Athanasopoulos): l = mean of season
    * one, b = (mean₂ − mean₁)/m, sⱼ = xⱼ − mean₁, recursion from point
    * m+1. Signals shorter than 2m+1 drop.
    *
    * Determinism: one sequential IEEE fold per signal (sorted array,
    * fixed op order) — the oracle replays it as a recursive CTE
    * carrying the m-slot season LIST (the [[holt]] precedent plus list
    * state). Scale: per-signal state is m+2 doubles, work is one pass
    * over a retention-bounded series, parallel across signals.
    */
  def holtWinters(grid: DataFrame, m: Int = 24, alpha: Double = 0.3,
                  beta: Double = 0.2, gamma: Double = 0.1): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        val n = xs.length
        if (n < 2 * m + 1) Iterator.empty
        else {
          var sum1 = 0.0; var sum2 = 0.0
          var i = 0
          while (i < m) { sum1 += xs(i); i += 1 }
          while (i < 2 * m) { sum2 += xs(i); i += 1 }
          val mean1 = sum1 / m
          val mean2 = sum2 / m
          var l = mean1
          var b = (mean2 - mean1) / m
          val sArr = Array.tabulate(m)(j => xs(j) - mean1)
          var t = m
          while (t < n) {
            val slot = t % m
            val lNew = alpha * (xs(t) - sArr(slot)) + (1 - alpha) * (l + b)
            val bNew = beta * (lNew - l) + (1 - beta) * b
            sArr(slot) = gamma * (xs(t) - lNew) + (1 - gamma) * sArr(slot)
            l = lNew; b = bNew
            t += 1
          }
          val sNext = sArr(n % m)
          Iterator((name, node, n.toLong,
            r4d(l), r4d(b), r4d(sNext), r4d(l + b + sNext)))
        }
      }
      .toDF("name", "node", "n", "level", "trend", "s_next", "fc1")
  }

  /** Forecast-model bake-off per signal: Holt vs additive Holt–Winters
    * one-step-ahead MAE over the SAME scoring window (points after
    * both models' warmup, t ≥ 2m) — the measured answer to "should
    * this signal's pager run the trend model or the seasonal model".
    * A signal with daily rhythm shows hw_mae ≪ holt_mae; a trending
    * aperiodic one shows the reverse; the winner column is the
    * routing bit. One sequential fold per signal computes both models
    * simultaneously; MAE sums accumulate inside the fold (the
    * holt_backtest precedent), so the oracle replays everything as one
    * recursive CTE.
    */
  def modelCompare(grid: DataFrame, m: Int = 24, alpha: Double = 0.3,
                   beta: Double = 0.2, gamma: Double = 0.1): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        val n = xs.length
        if (n < 2 * m + 1) Iterator.empty
        else {
          // Holt state (warm from the first two points)
          var hl = xs(0); var hbt = xs(1) - xs(0)
          // HW init from the first two seasons (holtWinters contract)
          var sum1 = 0.0; var sum2 = 0.0; var i = 0
          while (i < m) { sum1 += xs(i); i += 1 }
          while (i < 2 * m) { sum2 += xs(i); i += 1 }
          val mean1 = sum1 / m; val mean2 = sum2 / m
          var l = mean1; var b = (mean2 - mean1) / m
          val sArr = Array.tabulate(m)(j => xs(j) - mean1)
          var hsae = 0.0; var wsae = 0.0; var cnt = 0L
          var t = 2
          while (t < n) {
            if (t >= 2 * m) {
              hsae += math.abs(xs(t) - (hl + hbt))
              wsae += math.abs(xs(t) - (l + b + sArr(t % m)))
              cnt += 1
            }
            val hlNew = alpha * xs(t) + (1 - alpha) * (hl + hbt)
            hbt = beta * (hlNew - hl) + (1 - beta) * hbt
            hl = hlNew
            if (t >= m) {
              val slot = t % m
              val lNew = alpha * (xs(t) - sArr(slot)) + (1 - alpha) * (l + b)
              val bNew = beta * (lNew - l) + (1 - beta) * b
              sArr(slot) = gamma * (xs(t) - lNew) + (1 - gamma) * sArr(slot)
              l = lNew; b = bNew
            }
            t += 1
          }
          val hm = r4d(hsae / cnt); val wm = r4d(wsae / cnt)
          val winner = if (wm < hm) "hw" else if (hm < wm) "holt" else "tie"
          Iterator((name, node, n.toLong, cnt, hm, wm, winner))
        }
      }
      .toDF("name", "node", "n", "n_scored", "holt_mae", "hw_mae", "winner")
  }

  /** Holt's linear (double) exponential smoothing per signal: level +
    * trend state folded over the series, emitting the final state and
    * 1-/3-step-ahead forecasts — the trend-aware upgrade of [[ewma]].
    * Seed: l₀ = x₀, b₀ = x₁ − x₀; fold from x₂. A whole-series
    * recursion → typed per-signal loop (one shuffle, series bounded by
    * retention); the oracle replays the identical IEEE fold through a
    * DuckDB RECURSIVE CTE — NOT a list_reduce struct fold, whose
    * sequential field evaluation against a half-updated accumulator
    * silently corrupts coupled recursions (see the verify skill notes).
    */
  def holt(grid: DataFrame, alpha: Double = 0.3, beta: Double = 0.2): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        if (xs.length < 2) Iterator.empty
        else {
          var l = xs(0)
          var b = xs(1) - xs(0)
          var i = 2
          while (i < xs.length) {
            val x = xs(i)
            // identical expression order to the oracle lambda: l_new is
            // written out twice there, which evaluates to the same double
            val lNew = alpha * x + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
            i += 1
          }
          Iterator((name, node, xs.length.toLong, r4d(l), r4d(b),
            r4d(l + b), r4d(l + 3.0 * b)))
        }
      }
      .toDF("name", "node", "n", "level", "trend", "fc1", "fc3")
  }

  /** Rolling-origin 1-step backtest of the Holt forecaster against the
    * persistence baseline (forecast = last value): at every step the
    * pre-update state (l, b) forecasts l + b for the incoming point,
    * and the absolute/squared errors accumulate INSIDE the same
    * sequential fold — so the sums replay bit-for-bit in the
    * recursive-CTE oracle (sequential addition order is part of the
    * contract, like the Holt state itself). A forecaster you never
    * backtest is a prior, not a model; `skill` < 0 flags signals where
    * Holt is WORSE than persistence (trend overshoot on noise).
    *
    * Same execution shape as [[holt]]: per-signal flatMapGroups fold,
    * bounded by retention, one shuffle on the signal key.
    */
  def holtBacktest(grid: DataFrame, alpha: Double = 0.3,
                   beta: Double = 0.2): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        if (xs.length < 3) Iterator.empty
        else {
          var l = xs(0)
          var b = xs(1) - xs(0)
          var xp = xs(1)
          var sae = 0.0
          var sse = 0.0
          var pae = 0.0
          var i = 2
          while (i < xs.length) {
            val x = xs(i)
            // identical expression order to the oracle's recursive arm
            sae = sae + math.abs(x - (l + b))
            sse = sse + (x - (l + b)) * (x - (l + b))
            pae = pae + math.abs(x - xp)
            val lNew = alpha * x + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
            xp = x
            i += 1
          }
          val nf = (xs.length - 2).toDouble
          val holtMae = r4d(sae / nf)
          val naiveMae = r4d(pae / nf)
          Iterator((name, node, xs.length.toLong - 2, holtMae,
            r4d(math.sqrt(sse / nf)), naiveMae,
            if (naiveMae > 0) r4d(1.0 - holtMae / naiveMae) else 0.0))
        }
      }
      .toDF("name", "node", "n_fc", "holt_mae", "holt_rmse", "naive_mae",
        "skill")
  }

  /** Trend strength per signal (the Hyndman feature-based measure on
    * the reference's own decomposition): 1 − Var(residual)/Var(value)
    * after removing the rolling-median trend, clamped at 0 — ~1 for
    * strongly trended signals, ~0 where the trend explains nothing.
    * The triage number a fleet dashboard sorts by before anyone looks
    * at individual charts.
    *
    * Determinism: the w=5 rolling median is pure order statistics
    * (bit-identical in any engine); both variance legs quantize on the
    * SAME gval scale (the ratio needs one measuring stick) and reduce
    * to exact integer moments, one IEEE edge, rounded comparison.
    */
  def trendStrength(grid: DataFrame, w: Int = 5): DataFrame = {
    val d = movingMedian(grid, w, "gval", "trend")
      .withColumn("resid", col("gval") - col("trend"))
    val q = d.withColumn("mm", signalScale("gval"))
      .withColumn("qg", quantRel(col("gval"), col("mm")))
      .withColumn("qr", quantRel(col("resid"), col("mm")))
    val nd = col("n").cast("double")
    q.groupBy("name", "node").agg(
        count(lit(1)).as("n"),
        sum(col("qg")).cast("double").as("sg"),
        sum(col("qg") * col("qg")).cast("double").as("sgg"),
        sum(col("qr")).cast("double").as("sr"),
        sum(col("qr") * col("qr")).cast("double").as("srr"))
      .withColumn("vg", nd * col("sgg") - col("sg") * col("sg"))
      .withColumn("vr", nd * col("srr") - col("sr") * col("sr"))
      .filter(col("n") >= 3 && col("vg") > 0)
      .select(col("name"), col("node"), col("n"),
        r4(greatest(lit(0.0), lit(1.0) - col("vr") / col("vg")))
          .as("trend_strength"))
  }

  /** Seasonal strength per signal — the daily-cycle sibling of
    * [[trendStrength]] (together they're the Hyndman feature pair):
    * hour-of-day ANOVA η² = 1 − SS_within/SS_total over the grid, ~1
    * when the hour explains the variance (strong daily seasonality),
    * ~0 for aperiodic signals. The triage split between "route to the
    * seasonal detector" and "route to the residual detector".
    *
    * Determinism: per-hour moments are exact integer sums; the two
    * order-sensitive double reductions (Σ_h of the ≤24 per-hour terms)
    * run as ORDERED folds — Spark `aggregate` over the hour-sorted
    * struct array, DuckDB `list_sum` over `list(... ORDER BY h)` —
    * so both engines execute the identical IEEE sequence.
    */
  def seasonalStrength(grid: DataFrame): DataFrame = {
    val q = grid.withColumn("mm", signalScale("gval"))
      .withColumn("dq", quantRel(col("gval"), col("mm")))
      .withColumn("h", expr("(tsb % 86400) div 3600"))
    val hourly = q.groupBy("name", "node", "h").agg(
        count(lit(1)).as("nh"),
        sum(col("dq")).cast("double").as("s1h"),
        sum(col("dq") * col("dq")).cast("double").as("s2h"))
      .withColumn("term",
        col("s2h") - col("s1h") * col("s1h") / col("nh").cast("double"))
    hourly.groupBy("name", "node")
      .agg(sort_array(collect_list(struct(col("h"), col("nh"), col("s1h"),
        col("s2h"), col("term")))).as("hs"))
      .select(col("name"), col("node"),
        size(col("hs")).as("n_hours"),
        expr("aggregate(hs, 0L, (a, x) -> a + x.nh)").as("n"),
        expr("aggregate(hs, 0D, (a, x) -> a + x.s1h)").as("s1"),
        expr("aggregate(hs, 0D, (a, x) -> a + x.s2h)").as("s2"),
        expr("aggregate(hs, 0D, (a, x) -> a + x.term)").as("ssw"))
      .withColumn("sst",
        col("s2") - col("s1") * col("s1") / col("n").cast("double"))
      .filter(col("sst") > 0)
      .select(col("name"), col("node"), col("n"), col("n_hours"),
        r4(greatest(lit(0.0), lit(1.0) - col("ssw") / col("sst")))
          .as("seasonal_strength"))
  }

  /** Hurst exponent by rescaled range: long-memory diagnostic per
    * signal (H ≈ 0.5 random walk / no memory, H → 1 persistent trends,
    * H → 0 mean-reverting) — the number that says whether a metric's
    * excursions tend to CONTINUE, which decides between trend-following
    * and mean-reversion alerting policies.
    *
    * Classic R/S: at each scale w ∈ {8, 16, 32}, split the series into
    * consecutive full windows; per window, R = range of the cumulative
    * mean-deviation and S = population stddev; H = slope of
    * ln(mean R/S) against ln w.
    *
    * Determinism end-to-end: values quantize ×1e9 relative (the
    * [[trendStrength]] contract); within a window both R and S scale
    * linearly, so the normalization drops out of R/S. The cumulative
    * deviations are kept INTEGER by scaling with w — P'_j = w·cum_j −
    * j·S is exact, R' = max P' − min P', and V' = w·Σq² − S² is the
    * exact integer w²·variance — so R/S = R'/√V' is a single IEEE
    * sqrt-and-divide over exact integers. Per-scale means sum
    * ×1e6-quantized R/S integers exactly; ln is ×1e6-quantized (the
    * PMI/perplexity move that absorbs ulp-level engine noise); the OLS
    * slope over the three (ln w, ln R/S) points is an exact integer
    * cross-moment ratio with one IEEE division at the edge.
    *
    * Scale: one signal-keyed shuffle; three window passes per scale
    * over the same grid — per-signal work retention-bounded, never
    * corpus-bounded. Signals need ≥ 2 full windows at every scale
    * (n ≥ 64) or they drop.
    */
  def hurstRS(grid: DataFrame): DataFrame = {
    val scales = Seq(8, 16, 32)
    // floor((ln w + 1e-9)·1e6 + 0.5) precomputed so both engines carry
    // identical integer abscissae
    val lnQ = Map(8 -> 2079442L, 16 -> 2772589L, 32 -> 3465736L)
    val idxW = Window.partitionBy("name", "node").orderBy("tsb")
    // r13: rescaled-range is one of the two O(heavy)-per-signal
    // kernels (three scales of windowed cumsums + moments) — the
    // production caller passes a DENSE-width grid (SparkEntry.grid
    // dense=true) so the kernel runs at full session width at bench
    // scale; all windows cluster on (name, node) subsets, satisfied
    // by that single exchange.
    val q = grid
      .withColumn("mm", signalScale("gval"))
      .withColumn("qv", quantRel(col("gval"), col("mm")))
      .withColumn("idx", (row_number().over(idxW) - 1).cast("long"))
      .select("name", "node", "idx", "qv")
      .persist().tracked
    val perScale = scales.map { w =>
      val wf = Window.partitionBy("name", "node", "wid")
      val wo = wf.orderBy("idx")
      val st = q.withColumn("wid", expr(s"idx div $w"))
        .withColumn("cum", sum(col("qv")).over(wo))
        .withColumn("j", row_number().over(wo).cast("long"))
        .withColumn("s1", sum(col("qv")).over(wf))
        .withColumn("s2", sum(col("qv") * col("qv")).over(wf))
        .withColumn("cnt", count(lit(1)).over(wf))
        .filter(col("cnt") === w)
        .withColumn("p", lit(w) * col("cum") - col("j") * col("s1"))
      st.groupBy("name", "node", "wid")
        .agg(max(col("p")).as("maxp"), min(col("p")).as("minp"),
          max(col("s1")).as("s1"), max(col("s2")).as("s2"))
        .withColumn("vp", lit(w) * col("s2") - col("s1") * col("s1"))
        .filter(col("vp") > 0)
        .withColumn("rs", (col("maxp") - col("minp")).cast("double") /
          sqrt(col("vp").cast("double")))
        .withColumn("rq",
          floor((col("rs") + lit(1e-11)) * lit(1e6) + lit(0.5)).cast("long"))
        .groupBy("name", "node")
        .agg(count(lit(1)).as("nw"), sum(col("rq")).as("srq"))
        .filter(col("nw") >= 2 && col("srq") > 0)
        .withColumn("mrs", col("srq").cast("double") /
          (col("nw") * lit(1000000L)).cast("double"))
        .withColumn("w", lit(w))
        .withColumn("yq",
          // exact ln of the integer ratio srq/(nw·1e6) via ExactMath —
          // ln(mrs) through libm once risked a ×1e6 floor flip
          floor((graft.functions.ExactMath.lnIntCol(col("srq")) -
            graft.functions.ExactMath.lnIntCol(col("nw") * lit(1000000L)) +
            lit(1e-9)) * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("xq", lit(lnQ(w)))
        .select("name", "node", "w", "mrs", "xq", "yq")
    }
    perScale.reduce(_ unionByName _)
      .groupBy("name", "node")
      .agg(count(lit(1)).as("k"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"),
        max(when(col("w") === 8, col("mrs"))).as("m8"),
        max(when(col("w") === 16, col("mrs"))).as("m16"),
        max(when(col("w") === 32, col("mrs"))).as("m32"))
      .filter(col("k") === 3)
      .select(col("name"), col("node"),
        r4(col("m8")).as("rs8"), r4(col("m16")).as("rs16"),
        r4(col("m32")).as("rs32"),
        r4((lit(3L) * col("sxy") - col("sx") * col("sy")).cast("double") /
          (lit(3L) * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("hurst"))
  }

  /** Forecast-interval alerting: per signal, the Holt 1-step forecast
    * with an empirical residual band — the prediction-interval page a
    * forecast-based monitor raises when reality leaves [lo, hi]. The
    * band is the q-quantile of the |1-step residual| over the signal's
    * own backtest (the non-parametric alternative to ±kσ — valid under
    * asymmetric or heavy-tailed residuals), and `n_breach` counts the
    * in-sample points outside mult× that band (the alert-volume
    * preview a threshold review reads before deploying).
    *
    * Determinism: the Holt fold is the [[holt]] IEEE sequence; the
    * residuals quantize ×1e6 and the band is EXACT integer rank
    * arithmetic (value at rank ⌈q·n⌉, duplicates counted); breaches
    * compare integers. Same shape as [[holtBacktest]]: one shuffle on
    * the signal key, per-signal work retention-bounded.
    */
  def forecastInterval(grid: DataFrame, alpha: Double = 0.3,
                       beta: Double = 0.2, q: Double = 0.9,
                       mult: Long = 2L): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        if (xs.length < 3) Iterator.empty
        else {
          var l = xs(0)
          var b = xs(1) - xs(0)
          val nf = xs.length - 2
          val qr = new Array[Long](nf)
          var i = 2
          while (i < xs.length) {
            val x = xs(i)
            // pre-update forecast residual, the backtest convention
            val resid = x - (l + b)
            qr(i - 2) = math.floor((math.abs(resid) + 1e-9) * 1e6 + 0.5).toLong
            val lNew = alpha * x + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
            i += 1
          }
          val sorted = qr.sorted
          val qband = sorted(math.ceil(q * nf).toInt - 1)
          val breaches = qr.count(_ > mult * qband).toLong
          val fc = l + b
          val band = qband.toDouble / 1e6
          Iterator((name, node, nf.toLong, r4d(fc), r4d(band),
            r4d(fc - mult.toDouble * band), r4d(fc + mult.toDouble * band),
            breaches))
        }
      }
      .toDF("name", "node", "n_fc", "fc1", "band_q90", "lo", "hi", "n_breach")
  }

  /** Local-level Kalman filter per signal: the optimal (under Gaussian
    * noise) recursive smoother — like EWMA but with a gain that adapts
    * to its own uncertainty (high after gaps/starts, converging to the
    * steady state fixed point of P = (1−K)(P+Q)). Same per-signal
    * sequential-fold determinism class as [[holt]]: every engine
    * replays the identical IEEE op sequence, so the oracle is a
    * recursive CTE mirroring the fold verbatim. Emits the final level,
    * the final gain (≈ steady-state), and the error variance.
    */
  def kalman(grid: DataFrame, q: Double = 0.05, r: Double = 1.0): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) { (name, node, _, xs) =>
        if (xs.length < 2) Iterator.empty
        else {
          var l = xs(0)
          var p = 1.0
          var k = 0.0
          var i = 1
          while (i < xs.length) {
            val x = xs(i)
            // op order mirrored verbatim in the oracle CTE
            val pp = p + q
            k = pp / (pp + r)
            l = l + k * (x - l)
            p = (1 - k) * pp
            i += 1
          }
          Iterator((name, node, xs.length.toLong, r4d(l), r4d(k), r4d(p)))
        }
      }
      .toDF("name", "node", "n", "level", "gain", "p_var")
  }

  /** Time-WEIGHTED average per (signal, bucket) — the correct mean for
    * irregularly-sampled gauges, where a plain row average over-weights
    * chatty intervals (a gauge that reports once an hour at 100 and
    * once a second at 0 has a row mean near 0 but spends half its time
    * at 100). Each sample holds its value until the next sample; the
    * last sample in a bucket extends to the bucket end; the span before
    * the first sample is unobserved and excluded from the denominator.
    *
    * Determinism: co-timestamped samples are first collapsed to their
    * exact decimal-mean second (one keyed aggregate), the per-second
    * value is 1e4-quantized to an integer, and the hold-weighted sum
    * Σ qᵢ·wᵢ runs in DECIMAL(38,0) — exact in any engine — so the one
    * final division is the only floating-point op. Plan: one (name,
    * node, bucket)-keyed aggregate plus one per-signal-bucket window
    * (lead) — the same single exchange every grid op pays; per-bucket
    * state is retention-bounded.
    */
  def twap(signals: DataFrame, bucket: Long = BucketSec): DataFrame = {
    val sec = signals
      .groupBy(col("name"), col("node"), col("tsec"),
        (expr(s"tsec div $bucket") * bucket).as("b"))
      .agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("v"))
      .withColumn("q", qint(col("v"), 1e4).cast("long"))
    val w = Window.partitionBy("name", "node", "b").orderBy("tsec")
    sec
      .withColumn("hold",
        coalesce(lead(col("tsec"), 1).over(w), col("b") + lit(bucket)) - col("tsec"))
      .groupBy("name", "node", "b")
      .agg(
        count(lit(1)).as("n"),
        sum((col("q") * col("hold")).cast(DecimalType(38, 0))).as("qw"),
        sum(col("hold")).as("wsum"))
      .select(col("name"), col("node"), col("b"), col("n"),
        r4(col("qw").cast("double") / (col("wsum") * lit(1e4)).cast("double"))
          .as("twap"),
        col("wsum").as("covered_sec"))
  }

  /** Per-bucket stats (reference buckets 40 samples = 10 min, :123-136). */
  def bucketAgg(signals: DataFrame, bucket: Long = BucketSec): DataFrame =
    signals
      .groupBy(col("name"), col("node"),
        (expr(s"tsec div $bucket") * bucket).as("b"))
      .agg(
        count(lit(1)).as("n"),
        avgDec(col("value")).as("mean_v"),
        min("value").as("min_v"),
        max("value").as("max_v"))

  /** Inter-arrival burstiness per signal, on the RAW event stream (not
    * the grid): gap moments over consecutive-arrival deltas plus the
    * Goh–Barabási burstiness index B = (σ − μ)/(σ + μ) ∈ (−1, 1)
    * (B → −1 periodic, 0 Poisson, → 1 bursty) and the coefficient of
    * variation. Gaps are exact integer seconds, so the moments are
    * exact and the derived doubles follow the fixed IEEE op sequence —
    * oracle-replayable. Ties in tsec yield zero gaps; the multiset of
    * sorted consecutive differences is invariant to tie order, so the
    * aggregate is deterministic even though the row order isn't.
    *
    * Plan: one per-signal window (the same (name,node) exchange every
    * TimeSeries op keys on) + one aggregate. Nothing crosses signals.
    */
  def burstiness(signals: DataFrame, minGaps: Int = 3): DataFrame = {
    val w = Window.partitionBy("name", "node").orderBy("tsec")
    val dec = DecimalType(20, 0)
    val gaps = signals
      .withColumn("gap", col("tsec") - lag("tsec", 1).over(w))
      .filter(col("gap").isNotNull)
    val nd = col("n").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val mu = s1d / nd
    val sigma = sqrt((nd * s2d - s1d * s1d) / (nd * (nd - lit(1.0))))
    gaps.groupBy("name", "node")
      .agg(count(lit(1)).as("n"),
        sum("gap").cast(dec).as("s1"),
        sum(col("gap") * col("gap")).cast(dec).as("s2"))
      .filter(col("n") >= minGaps)
      .select(col("name"), col("node"), col("n").as("n_gaps"),
        r4(mu).as("mean_gap"),
        r4(sigma / mu).as("cv"),
        r4((sigma - mu) / (sigma + mu)).as("burstiness"))
  }

  /** Day-over-day top movers: per-signal daily mean (exact decimal),
    * lag-day delta, ranked per day by |delta| — the "what changed most
    * since yesterday" fleet report. Rank compares 1e4-quantized deltas
    * (exact) with (name, node) tiebreak, so the cut is deterministic.
    * Only consecutive days count as movers (a signal returning after an
    * outage is a gap, not a move — gap_stats' beat).
    */
  def topMovers(signals: DataFrame, daySec: Long = 86400L, topK: Int = 10): DataFrame = {
    val daily = signals
      .groupBy(col("name"), col("node"),
        (expr(s"tsec div $daySec") * daySec).as("day"))
      .agg(avgDec(col("value")).as("m"))
    val bySig = Window.partitionBy("name", "node").orderBy("day")
    val lagged = daily
      .withColumn("prev_day", lag("day", 1).over(bySig))
      .withColumn("prev_mean", lag("m", 1).over(bySig))
      .filter(col("prev_day") === col("day") - daySec)
      .withColumn("delta", r4(col("m") - col("prev_mean")))
    val byDay = Window.partitionBy("day")
      .orderBy(abs(col("delta")).desc, col("name"), col("node"))
    lagged
      .withColumn("rk", row_number().over(byDay))
      .filter(col("rk") <= topK)
      .select(col("day"), col("rk"), col("name"), col("node"),
        r4(col("prev_mean")).as("prev_mean"), r4(col("m")).as("cur_mean"),
        col("delta"))
  }

  /** tsfeatures-style stability & lumpiness per signal: the variance of
    * tiled-window means resp. variances (Hyndman's time-series feature
    * set — the two numbers a fleet-wide "which signals changed
    * character" scan reads). Tiles are `tileSec`-wide; tiles with
    * < `minTile` observations are dropped (this grid has holes — no
    * forward fill here). Per-tile stats come from exact decimal
    * moments, are re-quantized onto raw-unit grids, and the cross-tile
    * variances are exact-moment again — the whole chain is fixed IEEE
    * on exact integers, so the oracle replays it bit-for-bit.
    *
    * Plan: one (signal, tile) aggregate (output |signals|·|tiles|,
    * retention-bounded), then a per-signal rollup. No typed loops.
    */
  def stabilityLumpiness(grid: DataFrame, tileSec: Long = 21600L,
                         minTile: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    val tiles = grid
      .select(col("name"), col("node"), expr(s"tsb div $tileSec").as("tile"),
        qint(col("gval"), 1e4).as("q"))
      .groupBy("name", "node", "tile")
      .agg(count(lit(1)).as("nt"),
        sum("q").cast(dec).as("s1"),
        sum(col("q") * col("q")).cast(dec).as("s2"))
      .filter(col("nt") >= minTile)
    val ntd = col("nt").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val meanRaw = s1d / ntd / 1e4
    val varRaw = (ntd * s2d - s1d * s1d) / (ntd * (ntd - lit(1.0))) / 1e8
    val quant = tiles
      .withColumn("qm", qint(meanRaw, 1e4))
      .withColumn("qvr", qint(varRaw, 1e4))
    val td = col("t").cast("double")
    quant.groupBy("name", "node")
      .agg(count(lit(1)).as("t"),
        sum("qm").cast("double").as("m1"),
        sum(col("qm") * col("qm")).cast("double").as("m2"),
        sum("qvr").cast("double").as("v1"),
        sum(col("qvr") * col("qvr")).cast("double").as("v2"))
      .filter(col("t") >= 2)
      .select(col("name"), col("node"), col("t").as("n_tiles"),
        r4((td * col("m2") - col("m1") * col("m1")) / (td * (td - lit(1.0))) / 1e8)
          .as("stability"),
        r4((td * col("v2") - col("v1") * col("v1")) / (td * (td - lit(1.0))) / 1e8)
          .as("lumpiness"))
  }

  /** Longest flat spot per signal: the maximum run of consecutive grid
    * samples with the same (1e4-quantized) value — the plateau /
    * stuck-sensor detector. Classic gaps-and-islands: run id = global
    * row_number − per-value row_number, exact integers end to end.
    */
  def flatSpots(grid: DataFrame): DataFrame = {
    val q = grid.select(col("name"), col("node"), col("tsb"),
      qint(col("gval"), 1e4).as("qv"))
    val wAll = Window.partitionBy("name", "node").orderBy("tsb")
    val wVal = Window.partitionBy("name", "node", "qv").orderBy("tsb")
    q.withColumn("grp", row_number().over(wAll) - row_number().over(wVal))
      .groupBy("name", "node", "qv", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("name", "node")
      .agg(count(lit(1)).as("n_runs"), max("len").as("flat_len"))
  }

  /** Median-crossing count per signal (catch22's crossing statistic):
    * how often the series crosses its own median — high for noise,
    * low for trends/regimes. The median is an exact ELEMENT (lower
    * median of the quantized values — rank ⌈n/2⌉ with timestamp
    * tiebreak), so every comparison is integer-exact.
    */
  def medianCrossings(grid: DataFrame): DataFrame = {
    val q = grid.select(col("name"), col("node"), col("tsb"),
      qint(col("gval"), 1e4).as("qv"))
    val byVal = Window.partitionBy("name", "node").orderBy("qv", "tsb")
    val cnt = Window.partitionBy("name", "node")
    val med = q
      .withColumn("rv", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(cnt))
      .filter(col("rv") === expr("(n + 1) div 2"))
      .select(col("name").as("mn"), col("node").as("md"), col("qv").as("med"))
    val wT = Window.partitionBy("name", "node").orderBy("tsb")
    q.join(med, col("name") === col("mn") && col("node") === col("md"))
      .withColumn("above", (col("qv") > col("med")).cast("int"))
      .withColumn("prev", lag("above", 1).over(wT))
      .groupBy("name", "node")
      .agg(count(lit(1)).as("n"),
        sum((col("prev").isNotNull && col("prev") =!= col("above")).cast("long"))
          .as("crossings"))
  }

  /** Population Stability Index per signal between the first and second
    * halves of its own time span — "has this metric's distribution
    * shifted?", the standard model/feature drift monitor (PSI < 0.1
    * stable, > 0.25 action). Values bin into `bins` equal-width bins
    * over the signal's global range; PSI = Σ (p₂−p₁)·ln(p₂/p₁).
    *
    * Exact-integer formulation: each term rewrites as
    * (c₂·n₁ − c₁·n₂) · ln(c₂·n₁ / (c₁·n₂)) / (n₁·n₂), so the ln is
    * quantized ×1e6 per bin (ulp-absorbing) and the per-signal Σ runs
    * over exact integer products — order-independent on any engine —
    * with ONE division at the end. Bins empty on either side are
    * skipped (declared semantics; the ε-smoothed variant shifts every
    * term by the same amount and changes no verdicts here).
    *
    * Shape: range aggregate + join-back + one (signal, bin) aggregate;
    * everything after the grid is bounded by |signals|·bins.
    */
  def psi(grid0: DataFrame, bins: Int = 8): DataFrame = {
    // range aggregate + bin join-back share one grid build
    // (prefixJaccard release convention)
    val grid = grid0.persist().tracked
    val rng = grid.groupBy("name", "node").agg(
      min("tsb").as("t0"), max("tsb").as("t1"),
      min("gval").as("lo"), max("gval").as("hi"))
    val binned = grid.join(rng, Seq("name", "node"))
      .withColumn("half",
        when(col("tsb") * 2 <= col("t0") + col("t1"), 1).otherwise(2))
      .withColumn("bin", when(col("hi") > col("lo"),
        least(floor((col("gval") - col("lo")) * lit(bins.toDouble) /
          (col("hi") - col("lo"))).cast("int"), lit(bins - 1)))
        .otherwise(lit(0)))
    val cells = binned.groupBy("name", "node", "bin")
      .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("half") === 2, 1L).otherwise(0L)).as("c2"))
    val tot = cells.groupBy("name", "node")
      .agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cells.join(tot, Seq("name", "node"))
      .filter(col("c1") > 0 && col("c2") > 0)
      .withColumn("qln",
        // cross-engine exact ln (ExactMath): flat lnInt sum instead of
        // ln of an integer-product ratio — bit-identical to the oracle
        // and overflow-free at any corpus size
        floor((graft.functions.ExactMath.lnIntCol(col("c2")) +
          graft.functions.ExactMath.lnIntCol(col("n1")) -
          graft.functions.ExactMath.lnIntCol(col("c1")) -
          graft.functions.ExactMath.lnIntCol(col("n2")) +
          lit(1e-9)) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("term",
        (col("c2") * col("n1") - col("c1") * col("n2")) * col("qln"))
      .groupBy("name", "node", "n1", "n2")
      .agg(sum("term").as("s"), count(lit(1)).as("n_bins"))
      .select(col("name"), col("node"), col("n1"), col("n2"), col("n_bins"),
        r4(col("s").cast("double") / (col("n1") * col("n2")).cast("double") /
          lit(1e6)).as("psi"))
  }

  /** SAX symbolization (Lin et al. 2003, public): z-normalize each
    * signal, Piecewise-Aggregate-Approximate over fixed windows of `w`
    * grid points, then map each PAA mean to a symbol by the standard
    * Gaussian breakpoints (alphabet 4: −0.6745 / 0 / 0.6745 — the
    * quartile cuts). The symbol stream is the index structure behind
    * motif discovery and cheap shape search over fleets of metrics.
    *
    * Determinism: z rides the exact-moment [[zscore]] and is rounded
    * to the 4-dp grid BEFORE aggregation; the PAA mean is an exact
    * integer sum of the re-quantized z divided once at the edge; the
    * symbol compares the ROUNDED PAA against the breakpoints. Flat
    * signals (sigma = 0) are excluded — z is undefined there, and the
    * exclusion rule (unrounded moment positivity) is engine-portable.
    * Plan: the zscore window pass, then one keyed aggregate.
    */
  def sax(grid: DataFrame, w: Int = 4): DataFrame = {
    val zq = zscore(grid)
      .filter(col("sigma") > 0)
      .select(col("name"), col("node"), col("tsb"),
        floor((col("z") + lit(1e-9)) * lit(1e4) + lit(0.5)).cast("long").as("zq"))
    val byTs = Window.partitionBy("name", "node").orderBy("tsb")
    val paa = r4(col("sq").cast("double") / (col("n_pts") * lit(1e4)))
    zq.withColumn("win", floor((row_number().over(byTs) - lit(1)) / lit(w)).cast("long"))
      .groupBy("name", "node", "win")
      .agg(count(lit(1)).as("n_pts"), min("tsb").as("tsb_start"),
        sum("zq").as("sq"))
      .select(col("name"), col("node"), col("win"), col("tsb_start"),
        col("n_pts"), paa.as("paa"),
        when(paa < -0.6745, "a").when(paa < 0.0, "b")
          .when(paa < 0.6745, "c").otherwise("d").as("sym"))
  }

  /** Top SAX motif per signal: the most frequent `wordLen`-symbol SAX
    * word (sliding over consecutive [[sax]] windows) with its count
    * and support — the recurring-shape answer that complements
    * ad_discord's novel-shape answer (a motif is what the signal
    * USUALLY does; a discord is the one excursion that matches
    * nothing). High-support motifs like "bcbc" are the fingerprint of
    * an oscillating metric; "aaaa"/"dddd" a saturated one.
    *
    * Determinism rides entirely on [[sax]] (rounded PAA symbolization)
    * plus exact word counts; the top pick breaks ties by word
    * lexicographically. Scale: one signal-keyed window to form words,
    * one count aggregate — nothing beyond the sax pass itself.
    */
  def motifSax(grid: DataFrame, w: Int = 4, wordLen: Int = 4): DataFrame = {
    val byWin = Window.partitionBy("name", "node").orderBy("win")
    val wordCol = concat(
      (0 until wordLen).map(i =>
        if (i == 0) col("sym") else lead(col("sym"), i).over(byWin)): _*)
    // n_words rides the count aggregate as a window over the same
    // signal partitioning — ONE pass over the sax pipeline, no second
    // consumer, no join
    val counts = sax(grid, w)
      .select(col("name"), col("node"), col("win"), col("sym"))
      .withColumn("wd", wordCol)
      .filter(col("wd").isNotNull)
      .groupBy("name", "node", "wd")
      .agg(count(lit(1)).as("n_occur"))
      .withColumn("n_words",
        sum(col("n_occur")).over(Window.partitionBy("name", "node")))
    val rk = Window.partitionBy("name", "node")
      .orderBy(col("n_occur").desc, col("wd").asc)
    counts.withColumn("rn", row_number().over(rk)).filter(col("rn") === 1)
      .select(col("name"), col("node"), col("wd").as("motif"),
        col("n_occur"), col("n_words"),
        r4(col("n_occur").cast("double") / col("n_words").cast("double"))
          .as("support"))
  }

  /** Bollinger-band breach summary per signal: each point is tested
    * against mean ± 2σ of the TRAILING `w` points (current excluded —
    * the band must not contain the value it judges). The test is an
    * exact integer predicate: with q = ⌊gval·1e6+0.5⌋, s1 = Σq,
    * s2 = Σq² over the prior w rows and ssd = w·s2 − s1² (= w²·sample
    * variance scale), `x > mean + 2·std` squares to
    * `(w−1)·(w·x − s1)² > 4·w·ssd ∧ w·x > s1` — all DECIMAL(38,0) /
    * HUGEINT integers, no sqrt, no float frame sums (engines disagree
    * on frame summation order). One window pass per signal, counts
    * aggregate map-side; the varianceShift quantization convention.
    */
  def bollinger(grid: DataFrame, w: Int = 12): DataFrame = {
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    val g = grid.select(col("name"), col("node"), col("tsb"),
      floor(col("gval") * lit(1e6) + lit(0.5)).cast("long").as("q"))
    val wp = signalWindow.rowsBetween(-w, -1)
    val t = g.withColumn("pn", count(lit(1)).over(wp))
      .withColumn("s1", sum("q").over(wp))
      .withColumn("s2", sum(big(col("q")) * col("q")).over(wp))
      .filter(col("pn") === w)
      .withColumn("ssd", big(lit(w)) * col("s2") - big(col("s1")) * col("s1"))
      .withColumn("dev", big(lit(w)) * col("q") - big(col("s1")))
      .withColumn("lhs", big(lit(w - 1)) * col("dev") * col("dev"))
      .withColumn("rhs", big(lit(4 * w)) * col("ssd"))
      .withColumn("hi", (col("dev") > 0 && col("lhs") > col("rhs")).cast("long"))
      .withColumn("lo", (col("dev") < 0 && col("lhs") > col("rhs")).cast("long"))
    t.groupBy("name", "node").agg(
        count(lit(1)).as("n_eval"),
        sum("hi").as("n_hi"), sum("lo").as("n_lo"),
        r4((sum("hi") + sum("lo")).cast("double") /
          count(lit(1)).cast("double")).as("breach_rate"))
      .orderBy("name", "node")
  }

  /** Local maxima with window prominence: a peak is a point STRICTLY
    * above its `side` neighbors on both sides (strictness makes
    * plateaus produce no peak — deterministic, no half-open tiebreak),
    * and its prominence is the height above the HIGHER of the two
    * surrounding window minima (±`base` rows) — the classic
    * scipy-style definition restricted to a bounded window so one
    * window pass computes it. All comparisons on ×1e6 quantized
    * integers; the reported value/prominence de-scale by one exact
    * division.
    */
  def peaks(grid: DataFrame, side: Int = 3, base: Int = 12,
            minProm: Double = 0.0): DataFrame = {
    val g = grid.select(col("name"), col("node"), col("tsb"),
      floor(col("gval") * lit(1e6) + lit(0.5)).cast("long").as("q"))
    val wl = signalWindow.rowsBetween(-side, -1)
    val wr = signalWindow.rowsBetween(1, side)
    val bl = signalWindow.rowsBetween(-base, -1)
    val br = signalWindow.rowsBetween(1, base)
    g.withColumn("nl", count(lit(1)).over(wl))
      .withColumn("nr", count(lit(1)).over(wr))
      .withColumn("ml", max("q").over(wl))
      .withColumn("mr", max("q").over(wr))
      .withColumn("minl", min("q").over(bl))
      .withColumn("minr", min("q").over(br))
      .filter(col("nl") === side && col("nr") === side &&
        col("q") > col("ml") && col("q") > col("mr"))
      .withColumn("promq", col("q") - greatest(col("minl"), col("minr")))
      .filter(col("promq") >= lit(math.floor(minProm * 1e6 + 0.5).toLong))
      .select(col("name"), col("node"), col("tsb"),
        r4(col("q").cast("double") / lit(1e6)).as("peak_val"),
        r4(col("promq").cast("double") / lit(1e6)).as("prominence"))
  }

  /** Ljung–Box whiteness statistic per signal at lags 1..3:
    * Q = n(n+2)·Σ ρk²/(n−k), on [[autocorr]]'s engine-exact ACF (the
    * per-lag overlap counts give n−k directly, and n = n₁ + 1). The
    * arithmetic after the ACF is a fixed IEEE op tree over
    * 4-dp-identical inputs, so the oracle replays it verbatim;
    * `white = 0` flags Q above the χ²(3) 95 % critical value 7.8147
    * (a literal on both engines). Signals missing any of the three
    * lags (short series or zero variance at some lag) drop — same
    * gate as [[pacf]].
    */
  def ljungBox(grid: DataFrame, minOverlap: Int = 8): DataFrame = {
    val ac = autocorr(grid, maxLag = 3, minOverlap)
    val piv = ac.groupBy("name", "node")
      .agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"),
        max(when(col("lag") === 3, col("r"))).as("r3"),
        max(when(col("lag") === 1, col("n"))).as("n1"))
      .filter(col("r1").isNotNull && col("r2").isNotNull && col("r3").isNotNull)
    val nd = (col("n1") + lit(1)).cast("double")
    val q = (nd * (nd + lit(2.0))) *
      (((col("r1") * col("r1")) / (nd - lit(1.0))) +
        ((col("r2") * col("r2")) / (nd - lit(2.0))) +
        ((col("r3") * col("r3")) / (nd - lit(3.0))))
    piv.select(col("name"), col("node"), (col("n1") + 1).as("n"),
        r4(q).as("q_lb"),
        (r4(q) > lit(7.8147)).cast("int").as("nonwhite"))
      .orderBy("name", "node")
  }

  /** Rolling lag-1 autocorrelation per signal (trailing `w` pairs):
    * the regime-change lens — a signal whose short-horizon memory
    * flips sign or collapses mid-series has changed dynamics even if
    * its level looks calm. Pearson over the (qv, lag qv) pairs inside
    * each trailing frame, computed from EXACT integer frame sums
    * (DECIMAL(38)/HUGEINT — a ×1e9-quantized product sum reaches
    * ~2.4e19 at w = 24, past exact-double range; the single cast to
    * double of the exact integer is correctly rounded on both
    * engines) with the fixed pearson op order. Frames needing all
    * `w` pairs and positive variances; one window pass per signal.
    */
  def rollingAutocorr(grid: DataFrame, w: Int = 24): DataFrame = {
    val m = signalScale("gval")
    val g = grid
      .withColumn("qx", quantRel(col("gval"), m))
      .withColumn("qy", lag("qx", 1).over(signalWindow))
      .filter(col("qy").isNotNull)
      .select("name", "node", "tsb", "qx", "qy")
    val fr = signalWindow.rowsBetween(-(w - 1), 0)
    val nd = lit(w).cast("double")
    val t = g
      .withColumn("n", count(lit(1)).over(fr))
      .withColumn("sx", sum("qx").over(fr).cast("double"))
      .withColumn("sy", sum("qy").over(fr).cast("double"))
      .withColumn("sxy", sum(col("qx") * col("qy")).over(fr).cast("double"))
      .withColumn("sxx", sum(col("qx") * col("qx")).over(fr).cast("double"))
      .withColumn("syy", sum(col("qy") * col("qy")).over(fr).cast("double"))
      .filter(col("n") === w)
      .withColumn("vx", nd * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", nd * col("syy") - col("sy") * col("sy"))
      .filter(col("vx") > 0 && col("vy") > 0)
    t.select(col("name"), col("node"), col("tsb"),
      r4((nd * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("vx")) * sqrt(col("vy")))).as("r"))
  }

  /** MACD (12/26-style smoothing re-expressed as exact binary
    * fractions): fast EWMA α=1/4, slow EWMA α=1/16, signal line
    * EWMA α=1/2 of the MACD, histogram = MACD − signal. One
    * per-signal sorted fold (the [[ewma]]/holt kernel contract) whose
    * doubles replay on any engine because every constant is exactly
    * representable and the op order is pinned; the histogram is
    * 4-dp-quantized INSIDE the fold so the zero-crossing count
    * compares exact integers. Reports the final state + crossing
    * count per signal — bounded output, and the oracle replays the
    * whole fold as a recursive CTE (the ts_holt convention).
    */
  def macd(grid: DataFrame): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) {
      (name, node, _, xs) =>
        var fast = xs(0)
        var slow = xs(0)
        var sig = 0.0
        var lastSgn = 0L
        var xc = 0L
        var qh = 0L
        var i = 1
        while (i < xs.length) {
          val v = xs(i)
          fast = 0.25 * v + 0.75 * fast
          slow = 0.0625 * v + 0.9375 * slow
          val m = fast - slow
          sig = 0.5 * m + 0.5 * sig
          qh = math.floor(((m - sig) + 1e-9) * 1e4 + 0.5).toLong
          val sgn = if (qh > 0) 1L else if (qh < 0) -1L else 0L
          if (sgn != 0 && lastSgn != 0 && sgn != lastSgn) xc += 1
          if (sgn != 0) lastSgn = sgn
          i += 1
        }
        val m = fast - slow
        Iterator.single((name, node, xs.length.toLong, r4d(m), r4d(sig),
          qh.toDouble / 1e4, xc))
      }
      .toDF("name", "node", "n", "macd", "macd_signal", "hist", "n_cross")
  }

  /** Exact z-normalized MATRIX PROFILE per signal (Yeh et al. 2016,
    * UCR): for every length-`m` subsequence, the distance to its
    * nearest non-trivial neighbor in the same signal — low values are
    * motifs (repeated shapes), the maximum is THE discord, and unlike
    * the SAX approximations beside it (ts_motif_sax, ad_discord) this
    * is the exact distance, so it adjudicates them. Pairs closer than
    * `excl` positions are excluded (trivial matches — a subsequence
    * nearly overlapping itself is always near).
    *
    * Determinism: the z-normalized distance is SCALE-INVARIANT, so
    * values first normalize by the signal's max |gval| (the
    * reference's own |max| move — ts_relative) and quantize to ×1e6
    * integers ≤ 1e6 REGARDLESS of metric magnitude; window sum /
    * sum-of-squares ride long window aggregates, and the per-pair dot
    * runs on the double-encoded windows through the NATIVE codegen
    * DotProduct — exact anyway, because every product (≤ 1e12) and
    * sum (≤ 6.4e13) of these integers is below 2⁵³, so the "double"
    * dot is integer arithmetic in disguise and equals the oracle's
    * BIGINT dot bit-for-bit. The distance
    * d = √(2m·(1 − (m·dot − swᵢswⱼ)/(√denᵢ·√denⱼ))) is one fixed IEEE
    * sequence over those integers, mirrored verbatim in the oracle.
    * Constant windows (den = 0) have no z-normalized profile and are
    * excluded on the exact integer test. The nearest neighbor is
    * chosen on the ROUNDED distance with an index tiebreak.
    *
    * Scale shape (SCAMP-style blocking): the profile is inherently
    * O(n²/2) per signal — the plan's job is to keep that off a single
    * task. Positions tile into `block`-sized index blocks; side A
    * replicates each position to every block at-or-after its own, side
    * B ships once keyed by its block, and the join key
    * (name, node, jblock) spreads one signal's triangle across
    * ⌈n/block⌉ tasks (each ≤ n·block pairs) instead of the ONE task a
    * bare (name, node) self-join hashes to — the same mega-group
    * lesson as the salted pair kernels, here with ordered tiles. Rows
    * carry only the m quantized longs + 3 moments; all distances die
    * into the per-position argmin.
    */
  def matrixProfile(grid: DataFrame, m: Int = 8, excl: Int = 4,
                    block: Int = 256): DataFrame = {
    val w = signalWindow
    val frame = w.rowsBetween(Window.currentRow, m - 1)
    val sig = Window.partitionBy("name", "node")
    // r13: the subsequence-window build (collect_list + moments per
    // position) is dense per byte — the production caller passes a
    // DENSE-width grid (SparkEntry.corrGrid dense=true) so the window
    // phase and the persisted pos cache run at full session width at
    // bench scale (measured serialized at the 256 KB grid width:
    // 2.74→4.21 s).
    val pos = grid
      .withColumn("mr0", max(abs(col("gval"))).over(sig))
      .withColumn("mr", when(col("mr0") > 0, col("mr0")).otherwise(lit(1.0)))
      .withColumn("idx", row_number().over(w))
      .withColumn("qv",
        floor((col("gval") / col("mr")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("qw", collect_list(col("qv").cast("double")).over(frame))
      .withColumn("sw", sum(col("qv")).over(frame))
      .withColumn("sw2", sum(col("qv") * col("qv")).over(frame))
      .filter(size(col("qw")) === m)
      .withColumn("den", lit(m.toLong) * col("sw2") - col("sw") * col("sw"))
      .filter(col("den") > 0)
      .withColumn("bi", ((col("idx") - 1) / block).cast("int"))
      .withColumn("mb", max("bi").over(sig))
      .select("name", "node", "idx", "tsb", "qw", "sw", "den", "bi", "mb")
      .persist().tracked
    val a = pos.withColumn("bj", explode(sequence(col("bi"), col("mb"))))
      .select(col("name"), col("node"), col("bj"), col("idx").as("i"),
        col("qw").as("qa"), col("sw").as("swa"), col("den").as("dena"))
    val b = pos.select(col("name"), col("node"), col("bi").as("bj"),
      col("idx").as("j"), col("qw").as("qb"), col("sw").as("swb"),
      col("den").as("denb"))
    // native codegen dot over the double-encoded integer windows —
    // exact (see scaladoc) and ~an order faster than the interpreted
    // HOF aggregate on the 5M-pair stage
    val dot = org.apache.spark.sql.graft.VectorExpressions
      .vecDot(col("qa"), col("qb"))
    val pairs = a.join(b, Seq("name", "node", "bj"))
      .filter(col("j") >= col("i") + excl)
      .withColumn("num",
        lit(m.toDouble) * dot - (col("swa") * col("swb")).cast("double"))
      .withColumn("r", col("num") /
        (sqrt(col("dena").cast("double")) * sqrt(col("denb").cast("double"))))
      .withColumn("d4", r4(sqrt(greatest(lit(0.0),
        lit(2.0 * m) * (lit(1.0) - col("r"))))))
      .select("name", "node", "i", "j", "d4")
    // both profile directions re-run the tiled join + dot (the plan
    // embeds it twice) — measured CHEAPER than persisting the 5M-row
    // pair frame: the codegen'd 8-wide dot recomputes faster than the
    // block-manager writes + reads back
    val both = pairs.select(col("name"), col("node"), col("i").as("idx"),
        col("j").as("nn"), col("d4"))
      .unionByName(pairs.select(col("name"), col("node"),
        col("j").as("idx"), col("i").as("nn"), col("d4")))
    val best = Window.partitionBy("name", "node", "idx")
      .orderBy(col("d4").asc, col("nn").asc)
    both.withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
      .join(pos.select("name", "node", "idx", "tsb"), Seq("name", "node", "idx"))
      .select(col("name"), col("node"), col("idx"), col("tsb"),
        col("nn").as("nn_idx"), col("d4").as("dist"))
  }
}
