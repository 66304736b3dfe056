package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-exact sketches. Spark ships its own
  * approx_count_distinct / percentile_approx, but their estimates are
  * engine-internal (HLL++ register layout, KLL compaction order) — an
  * auditor cannot replay them, and a migration off Spark silently
  * changes every historical number. These kernels keep the sketch
  * properties that matter at 100 TB — fixed-size mergeable state,
  * map-side partial aggregation, one narrow shuffle — while pinning the
  * estimate to public arithmetic (md5-low64 hashing, integer registers,
  * fixed IEEE op order) that any engine reproduces bit-for-bit; the
  * DuckDB oracle replays both end-to-end.
  */
object Sketches {

  /** Low 64 bits of md5(input) as a signed BIGINT (bit-pattern
    * reinterpretation — the house hash; DuckDB replays it as
    * `CAST('0x' || substr(md5(x), 17, 16) AS UBIGINT)`).
    */
  def md5Low64(c: Column): Column =
    shiftleft(conv(substring(md5(c.cast("string")), 17, 8), 16, 10).cast("long"), 32) +
      conv(substring(md5(c.cast("string")), 25, 8), 16, 10).cast("long")

  // HLL geometry: p = 9 → m = 512 registers, ±1.04/√512 ≈ 4.6% typical
  // error, 512 longs of state per group — small enough to broadcast,
  // big enough that the gate's per-type cardinalities (~10²..10⁶) sit
  // in the well-conditioned regime.
  private val HllP = 9
  private val HllM = 1 << HllP // 512
  private val WBits = 64 - HllP // 55
  private val WMax = 56 // rho of an all-zero suffix: WBits + 1

  /** α_m·m²·2^WMax as ONE driver-computed double literal — both engines
    * divide this exact constant by the exact-integer register sum, so
    * the only IEEE ops are one division (and one ln on the
    * linear-counting branch).
    */
  private val HllCoef: Double = {
    val alphaM = 0.7213 / (1.0 + 1.079 / HllM)
    alphaM * HllM * HllM * math.pow(2.0, WMax)
  }

  /** Same literal for the oracle side, full precision. */
  def hllCoefLiteral: String = f"$HllCoef%.17e"

  /** ln(m) for the linear-counting branch, as the shared literal both
    * engines parse to the same double (ExactMath convention).
    */
  def lnHllMLiteral: String = graft.functions.ExactMath.lnInt(HllM).toString

  /** HyperLogLog distinct-count per group (Flajolet et al. 2007, the
    * original α_m m²/Σ2^-ρ estimator with linear-counting small-range
    * correction — not HLL++, whose bias tables are Spark-internal).
    *
    * Scale shape: one pass over the scan computes (bucket, ρ) as
    * codegen'd column expressions; `groupBy(keys, bucket).max(ρ)` does
    * map-side partial max into at most |groups|·512 rows — the ONLY
    * exchange, fixed-size regardless of input rows — and the register →
    * estimate fold is a second tiny aggregate. Registers are mergeable
    * by construction (max commutes), so the same plan serves
    * incremental merges.
    *
    * Estimate arithmetic is exact-integer until the last step: the
    * register sum Σ2^(56−ρ) accumulates as DECIMAL(38,0) (HUGEINT on
    * the oracle side — order-independent), then one correctly-rounded
    * cast to double and one division by [[HllCoef]]. Output is a whole
    * count (floor(E + 0.5)), so sub-ULP ln/division noise cannot
    * surface.
    */
  def hllDistinct(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    hllFold(hllRegisters(df, keyCol, valueCol), keyCol)

  /** The register half of [[hllDistinct]]: (key, bucket, max ρ) — at
    * most |groups|·512 rows after the one exchange. Exposed because
    * registers are the MERGEABLE currency of the sketch: a trailing
    * window (sketch_active_users), an incremental ingest, or a
    * cross-shard union all combine registers with the same max-fold
    * before [[hllFold]] produces the estimate.
    */
  def hllRegisters(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val h = md5Low64(col(valueCol))
    val bucket = shiftrightunsigned(h, WBits)
    val w = h.bitwiseAND(lit((1L << WBits) - 1))
    val rho = when(w === 0L, lit(WMax))
      .otherwise(lit(WMax) - length(bin(w)))
    df.withColumn("bucket", bucket).withColumn("rho", rho)
      .groupBy(keyCol, "bucket")
      .agg(max("rho").as("r"))
  }

  /** The estimate half of [[hllDistinct]]: fold (key, bucket, r)
    * registers into the α_m m²/Σ2^-ρ estimate with linear-counting
    * small-range correction. Same exact-integer contract as the
    * one-shot path.
    */
  def hllFold(regs: DataFrame, keyCol: String,
              out: String = "hll_users"): DataFrame = {
    val folded = regs.groupBy(keyCol).agg(
      count(lit(1)).as("nb"),
      sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(56 - r AS INT)) AS DECIMAL(38,0))"))
        .as("s_occ"))
    // S = s_occ + (m − nb)·2^56 (an empty bucket contributes 2^0 = 1 to
    // Z, i.e. 2^56 to the scaled integer sum); V = m − nb empty registers
    val withS = folded
      .withColumn("v", lit(HllM) - col("nb"))
      .withColumn("s_full",
        (col("s_occ") + col("v").cast("decimal(38,0)") * lit(1L << WMax))
          .cast("double"))
    val eRaw = lit(HllCoef) / col("s_full")
    withS.select(
      col(keyCol),
      when(eRaw <= lit(2.5 * HllM) && col("v") > 0,
        // linear counting m·ln(m/V) with the cross-engine exact ln:
        // ln m is the shared literal [[lnHllMLiteral]], ln V is
        // ExactMath.lnIntCol — no libm in the floored estimate
        floor(lit(HllM.toDouble) * (lit(graft.functions.ExactMath.lnInt(HllM)) -
          graft.functions.ExactMath.lnIntCol(col("v"))) + 0.5))
        .otherwise(floor(eRaw + 0.5))
        .cast("long").as(out))
  }

  /** KMV-style bottom-k quantile sketch per group: keep the k rows
    * whose md5-rank (of the unique row key) is smallest — a uniform,
    * deterministic, append-stable sample; MERGEABLE (union two sketches
    * and re-take the k smallest ranks — exactly how per-partition
    * partial top-k already combines); the sample median estimates the
    * group median with O(1/√k) error. The sample keys on the ROW id,
    * so the contract is exactly-once ids: an at-least-once feed must
    * dedup by `idCol` upstream or replayed rows enter the sample
    * twice — unlike the HLL registers, whose max-fold absorbs replays
    * natively (pinned in MultivariateSpec).
    *
    * The only exchange carries (group, rank, value) — three narrow
    * columns, never whole rows — and the per-group top-k is the
    * rank-window + filter Spark plans as a partial sort. The exact
    * median is computed alongside from the SAME portable arithmetic
    * (rank the values, average the two middles) rather than engine
    * `percentile` — interpolation internals differ per engine, and the
    * whole point of this family is replayable numbers.
    */
  def kmvMedian(df: DataFrame, keyCol: String, idCol: String,
                valueCol: String, k: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = df.select(col(keyCol), col(idCol).as("rid"),
        col(valueCol).cast("double").as("v"),
        md5Low64(col(idCol)).as("hk"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(keyCol).orderBy(col("hk"), col("rid"))))
    val sample = ranked.filter(col("rn") <= k)
    val sk = medianOf(sample, keyCol).withColumnRenamed("p50", "p50_sketch")
    val ex = medianOf(df.select(col(keyCol), col(idCol).as("rid"),
      col(valueCol).cast("double").as("v")), keyCol)
      .withColumnRenamed("p50", "p50_exact")
    sk.join(ex, keyCol)
      .select(col(keyCol),
        graft.Num.r4(col("p50_sketch")).as("p50_sketch"),
        graft.Num.r4(col("p50_exact")).as("p50_exact"))
  }

  /** Portable exact median per group: n-th smallest via rank window,
    * lower/upper middle averaged with one IEEE add+divide — identical
    * SQL on any engine, no `percentile` internals.
    */
  private def medianOf(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col("v"), col("rid"))
    df.withColumn("vr", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(keyCol)))
      // integer div (Spark `/` on longs is double division)
      .filter(expr("vr = (n + 1) div 2 OR vr = n div 2 + 1"))
      .groupBy(keyCol)
      // odd n: both picks are the same row → min = max = the middle;
      // even n: lower middle (n+1)/2 = n/2, upper middle n/2 + 1
      .agg(((min("v") + max("v")) / 2.0).as("p50"))
  }
}
