package graft.operators

import graft.Caches._
import graft.Num._
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Robust per-signal trend detection — the monotone-drift companion to
  * the advisor's change-point and outlier passes (a slow leak or a
  * creeping queue never trips k-sigma or e-divisive, but is exactly
  * what Mann-Kendall/Theil-Sen exist to flag; reference context:
  * metrics_advisor.py:146-164 gates and detects level shifts, so a
  * drift detector is the missing third verdict).
  *
  * Both statistics are pairwise over each signal's dense grid, and the
  * grid holds at most (retention / step) points per signal regardless
  * of corpus size; signals parallelize embarrassingly.
  *   - Mann-Kendall needs only the integer S = Σ sign(x_j − x_i), n and
  *     the tie term, so it is one per-signal kernel (SignalKernel): the
  *     series is ranked by value and S counted with a Fenwick tree in
  *     time order — O(n log n), no pair is ever materialized.
  *   - Theil-Sen needs the median of every pairwise slope, so it keeps
  *     the self-join: an equi-join on the signal key (one shuffle), with
  *     the pair predicate `ta < tb` pruning inside each hash bucket.
  *
  * Determinism: S, n, and the tie correction are exact integers;
  * slopes and z ride fixed IEEE sequences over bit-identical grid
  * values (the grid is exact-decimal-derived), so both engines agree
  * bit-for-bit before the final floor-formula rounding.
  */
object Trend {

  /** The grid projection fans out to both self-join sides — persist it
    * so the upstream events→resample→fill pipeline runs once, not once
    * per side (same contract as spearmanMatrix: released by
    * `spark.catalog.clearCache()`).
    */
  private def gridOnce(grid: DataFrame): DataFrame =
    grid.select(col("name"), col("node"), col("tsb"), col("gval"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).tracked

  private def pairs(g: DataFrame): DataFrame = {
    val a = g.select(col("name"), col("node"), col("tsb").as("ta"),
      col("gval").as("va"))
    val b = g.select(col("name"), col("node"), col("tsb").as("tb"),
      col("gval").as("vb"))
    a.join(b, Seq("name", "node")).filter(col("ta") < col("tb"))
  }

  /** Mann-Kendall trend test per signal: S = Σ_{i<j} sign(x_j − x_i)
    * over the pairs with t_i < t_j, tie-corrected variance, and the
    * standard normal statistic z = (S∓1)/√Var(S). `trend` classifies on
    * the ROUNDED z against `zCrit` (two-sided 5% by default) so the
    * verdict row set is engine-deterministic. Signals without a pair
    * (fewer than two distinct timestamps) drop out.
    *
    * One kernel pass per signal computes the exact integers (n, S, tie
    * term) — value-identical to summing sign(x_j − x_i) in SQL over the
    * self-joined pairs, including its edge cases: ties group by value
    * with −0.0 ≡ 0.0 (Spark's grouping), and a NaN difference (a NaN
    * sample, or equal infinities) poisons the double sum, whose cast
    * to BIGINT is 0. z and `trend` are column expressions over these
    * integers. Values must be non-null (every grid is).
    */
  def mannKendall(grid: DataFrame, zCrit: Double = 1.96): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val stats = SignalKernel.series(
      grid.select(col("name"), col("node"), col("tsb"), col("gval"))) {
      (name, node, ts, xs) =>
        // S boxed: a nullable BIGINT like the SQL sum it replaces, so
        // the output schema (and any parquet written from it) is unchanged
        mannKendallS(ts, xs).map { case (s, tieNum) =>
          (name, node, ts.length.toLong, java.lang.Long.valueOf(s), tieNum)
        }
    }.toDF("name", "node", "n", "s", "tie_num")
    val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
      col("tie_num")).cast("double") / lit(18.0)
    val sd = col("s").cast("double")
    val z = when(col("s") > 0, (sd - 1.0) / sqrt(col("var_s")))
      .when(col("s") < 0, (sd + 1.0) / sqrt(col("var_s")))
      .otherwise(lit(0.0))
    stats
      .withColumn("var_s", varS)
      .withColumn("z", r4(z))
      .withColumn("trend",
        when(col("z") > zCrit, 1).when(col("z") < -zCrit, -1).otherwise(0))
      .select("name", "node", "n", "s", "z", "trend")
  }

  /** (S, Σ t(t−1)(2t+5) over tied-value groups) of one series of
    * samples `x` at ascending times `t`, or None when no two samples
    * differ in time.
    */
  private def mannKendallS(t: Array[Long], x: Array[Double]): Option[(Long, Long)] = {
    val n = t.length
    if (t(0) == t(n - 1)) return None
    // Spark's value grouping: −0.0 ≡ 0.0, every NaN equal (Double.compare)
    val v = x.map(p => if (p == 0.0) 0.0 else p)
    val sorted = v.clone()
    java.util.Arrays.sort(sorted)
    val distinct = Array.newBuilder[Double]
    var tieNum = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && java.lang.Double.compare(sorted(j), sorted(i)) == 0) j += 1
      val c = (j - i).toLong
      tieNum += c * (c - 1) * (2 * c + 5)
      distinct += sorted(i)
      i = j
    }
    // a NaN difference (a NaN sample, or one infinity at two times) makes
    // the SQL sum NaN, and NaN casts to BIGINT 0
    def pairedAt(y: Double) = t.indices.iterator.filter(x(_) == y).map(t(_)).distinct.size > 1
    if (v.exists(_.isNaN) || pairedAt(Double.PositiveInfinity) ||
        pairedAt(Double.NegativeInfinity)) return Some((0L, tieNum))
    // otherwise sign(x_j − x_i) is the order of the two values: count the
    // smaller and larger earlier samples with a Fenwick tree over value
    // ranks, inserting each timestamp group only after it is scored so
    // equal-time samples never pair
    val values = distinct.result()
    val rank = v.map(u => java.util.Arrays.binarySearch(values, u) + 1)
    val tree = new Array[Long](values.length + 1)
    def below(r: Int): Long = {
      var k = r; var c = 0L
      while (k > 0) { c += tree(k); k -= k & -k }
      c
    }
    var s = 0L
    var g = 0
    while (g < n) {
      var e = g
      while (e < n && t(e) == t(g)) e += 1
      for (k <- g until e) s += below(rank(k) - 1) - (g - below(rank(k)))
      for (k <- g until e) {
        var r = rank(k)
        while (r < tree.length) { tree(r) += 1; r += r & -r }
      }
      g = e
    }
    Some((s, tieNum))
  }

  /** Dickey-Fuller unit-root test per signal: Δq_t = α + β·q_{t−1} + ε
    * on the scale-normalized ×1e9-quantized series, τ = β̂/se(β̂) from
    * EXACT integer moments (one lag window + one hash aggregate; every
    * downstream double op is a fixed exactly-rounded sequence the
    * oracle mirrors verbatim). `stationary` compares the 4-dp τ
    * against the classic 5% constant-only critical value −2.86 — a
    * random walk (β ≈ 0) fails, a mean-reverting signal passes. The
    * stationarity verdict routes signals between the forecast family
    * (needs mean reversion) and the differencing/rate operators.
    */
  def adf(grid: DataFrame): DataFrame = {
    val ord = org.apache.spark.sql.expressions.Window.partitionBy("name", "node").orderBy("tsb")
    val q = grid.select(col("name"), col("node"), col("tsb"), col("gval"))
      .withColumn("qv", TimeSeries.quantRel(col("gval"), TimeSeries.signalScale("gval")))
      .withColumn("xl", lag("qv", 1).over(ord))
      .filter(col("xl").isNotNull)
      .withColumn("dy", col("qv") - col("xl"))
    val ned = col("ne").cast("double")
    q.groupBy("name", "node")
      .agg(count(lit(1)).as("ne"),
        sum(col("xl")).cast("double").as("sx"),
        sum(col("dy")).cast("double").as("sy"),
        sum(col("xl") * col("xl")).cast("double").as("sxx"),
        sum(col("xl") * col("dy")).cast("double").as("sxy"),
        sum(col("dy") * col("dy")).cast("double").as("syy"))
      .withColumn("sxxc", col("sxx") - col("sx") * col("sx") / ned)
      .withColumn("sxyc", col("sxy") - col("sx") * col("sy") / ned)
      .withColumn("syyc", col("syy") - col("sy") * col("sy") / ned)
      .filter(col("ne") >= 8 && col("sxxc") > 0)
      .withColumn("beta", col("sxyc") / col("sxxc"))
      .withColumn("rss", col("syyc") - col("beta") * col("sxyc"))
      .filter(col("rss") > 0)
      .withColumn("tau",
        r4(col("beta") / sqrt(col("rss") / (ned - lit(2.0)) / col("sxxc"))))
      .select(col("name"), col("node"), col("ne").as("n"), col("tau"),
        (col("tau") < lit(-2.86)).cast("int").as("stationary"))
  }

  /** OLS linear trend per signal — slope (value-units/hour),
    * intercept (fitted value at the series start), and r² — from
    * exact integer moments: x = hours since the signal's first
    * sample, y = the ×1e9 relative-quantized value (Correlate's
    * scheme). Every sum is exact DECIMAL; slope/intercept/r² are
    * fixed IEEE sequences rescaled by the (exactly-selected) signal
    * magnitude, so the result is engine-deterministic end-to-end —
    * the companion fit to [[theilSen]] (OLS is the efficient
    * estimator when residuals are clean; Theil-Sen holds up when the
    * advisor's own outliers contaminate them).
    *
    * One window for the per-signal scale/origin + one hash aggregate:
    * map-side combinable, |signals| output rows.
    */
  def olsTrend(indexedGrid: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node")
    val q = indexedGrid.select(col("name"), col("node"), col("i"), col("gval"))
      .withColumn("mm", TimeSeries.signalScale("gval"))
      .withColumn("x0", min(col("i")).over(w))
      .withColumn("qv", TimeSeries.quantRel(col("gval"), col("mm")))
      .withColumn("xi", (col("i") - col("x0"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 0)))
    val agg = q.groupBy("name", "node")
      .agg(count(lit(1)).as("n"), max("mm").as("mm"),
        sum(col("xi")).cast("double").as("sx"),
        sum(col("xi") * col("xi")).cast("double").as("sxx"),
        sum(col("qv")).cast("double").as("sy"),
        sum(col("qv") * col("qv")).cast("double").as("syy"),
        sum(col("xi") * col("qv")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    agg
      .withColumn("den", nd * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", nd * col("syy") - col("sy") * col("sy"))
      .filter(col("n") >= 3 && col("den") > 0)
      .withColumn("num", nd * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_q", col("num") / col("den"))
      .withColumn("icept_q", (col("sy") - col("slope_q") * col("sx")) / nd)
      .select(col("name"), col("node"), col("n"),
        r6(col("slope_q") * col("mm") / lit(1e9)).as("slope_hr"),
        r6(col("icept_q") * col("mm") / lit(1e9)).as("icept"),
        when(col("vy") > 0,
          r4(col("num") * col("num") / (col("den") * col("vy"))))
          .otherwise(lit(0.0)).as("r2"))
  }

  /** Theil-Sen slope per signal: the median of all pairwise slopes —
    * the robust trend-rate estimate (breakdown point ~29%, immune to
    * the outliers the advisor itself flags). Median interpolation is
    * the shared exact-selection convention (Spark `percentile` ≡
    * DuckDB `quantile_cont`). Slope in value-units per hour.
    */
  def theilSen(grid: DataFrame): DataFrame =
    pairs(gridOnce(grid))
      .withColumn("slope",
        (col("vb") - col("va")) / ((col("tb") - col("ta")).cast("double") / lit(3600.0)))
      .groupBy("name", "node")
      .agg(count(lit(1)).as("n_pairs"),
        r6(expr("percentile(slope, 0.5)")).as("slope_hr"))
}
