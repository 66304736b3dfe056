package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for deterministic, oracle-matchable numerics.
  *
  * Rule: every double that crosses the correctness gate is either (a)
  * derived from exact DECIMAL arithmetic (order-independent, so Spark and
  * DuckDB agree bit-for-bit), or (b) rounded to 4 dp so that the ~1e-13
  * noise from engine-specific double summation order is absorbed.
  * Thresholds and rank orderings always apply to the *rounded* value with
  * a unique-id tiebreak, so row membership and ordering are deterministic
  * across engines.
  */
object Num {
  /** Exact decimal cast for 2-dp source values (prices, event values).
    * DECIMAL(12,2) keeps 3-way products within DuckDB/Spark's 38-digit cap.
    */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent exact sum of 2-dp doubles, surfaced as double. */
  def sumDec(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact average: decimal sum, then one double division. */
  def avgDec(c: Column): Column = sumDec(c) / count(lit(1))

  /** Deterministic 4-dp rounding, bit-identical across engines.
    *
    * Engine-native `round` is NOT portable: DuckDB rounds half away from
    * zero on the scaled double, Spark rounds the exact binary value via
    * BigDecimal — measured divergence at x.xxxx5 boundaries even on
    * bit-identical inputs (the r1 ts_delta_rate hash FAIL). So both the
    * engine and every oracle compute the same IEEE-754 sequence
    * `floor((x + eps) * 1e4 + 0.5) / 1e4`: add-mul-add-floor-div on
    * doubles is bit-deterministic on any IEEE engine, so identical input
    * doubles always round identically. The epsilon keeps exact decimal
    * ties (x.xxxx5, common after dividing exact sums by 2^k counts) off
    * the .5 boundary; it is far above double noise (~1e-13) and far
    * below the rounding quantum, so nothing else moves.
    *
    * Spark's `floor` maps double→long (NaN→0, ±Inf→Long.Max), so
    * non-finite values pass through unrounded.
    */
  def r4(c: Column): Column = rFloor(c, 1e-9, 1e4)

  /** [[r4]] on one double, for in-task kernels: the same op sequence. */
  def r4d(x: Double): Double = math.floor((x + 1e-9) * 1e4 + 0.5) / 1e4

  def r6(c: Column): Column = rFloor(c, 1e-11, 1e6)

  /** True for a finite double: false for NULL, NaN and ±Infinity. */
  def finite(c: Column): Column =
    c.isNotNull && !isnan(c) && abs(c) =!= lit(Double.PositiveInfinity)

  /** value × `scale` as an exact integer (DECIMAL(18,0)) — the input to
    * order-independent moment sums (see Correlate): integer sums are
    * exact in any engine, and their int→double casts are correctly
    * rounded on both Spark (BigDecimal) and DuckDB (HUGEINT).
    */
  def qint(c: Column, scale: Double, eps: Double = 1e-9): Column =
    floor((c + lit(eps)) * lit(scale) + lit(0.5)).cast(DecimalType(18, 0))

  // native single-eval expression (VectorExpressions.RoundFloor): the
  // CASE form referenced `c` five times, replicating every argument
  // tree 5x in generated code — the direct cause of the r11 mixKl
  // 64 KB overflow and a codegen-size tax on every projection. Same
  // IEEE op sequence, identical values, child evaluated once.
  private def rFloor(c: Column, eps: Double, scale: Double): Column =
    org.apache.spark.sql.graft.VectorExpressions.roundFloor(c, eps, scale)
}

/** Workload-derived exchange widths (guide §2.2/§2.5: partition counts
  * scale with the DATA, not the session). Every derived width in graft
  * is one rule, [[derive]]: `clamp(⌈work / perTask⌉, 1, session width)`,
  * where the session width ([[session]], `spark.sql.shuffle.partitions`)
  * is read here and nowhere else. The five budgets below are the only
  * calibrations; a caller picks the one whose work unit it has.
  *
  * Why: the compute-dense exchanges (per-signal grid kernels, per-doc
  * shingle/digest spreads, the tiled pair kernels) carry explicit
  * AQE-exempt repartitions so byte-based coalescing cannot serialize
  * their kernels onto 1-2 tasks (the r12 mm_phash finding). r12 pinned
  * them to the session constant, which is right at scale but pays ~32
  * task launches + 32-way AQE bookkeeping per exchange on a few-MB bench
  * input — the driver-measured 32c>8c inversion (PERF_r12: 13 of 14
  * scaling ratios ≤ 1.0). Deriving the width from the measured input
  * keeps the 100 TB plan identical (any real corpus saturates the
  * clamp) while a laptop-scale input sizes its exchange honestly.
  *
  * The byte signal of [[forFrame]], [[forDense]] and [[forCached]] is the
  * frame's own optimized-plan size estimate — file-size-based at the
  * scan, propagated by Spark's per-operator visitors, computed on the
  * driver with NO job. Its budget is COMPUTE density, not shuffle-byte
  * optimum: StageAudit measured ≈1 s of kernel CPU per MB of scan
  * estimate on these kernels, so the 256 KB budget ≈ 250 ms tasks — big
  * enough to amortize a task launch, small enough never to straggle.
  */
object Widths {
  private val KernelBytesPerTask = 256L << 10
  private val CacheBytesPerTask = 4L << 20
  private val DenseBytesPerTask = 2L << 10

  /** Per-task pair-enumeration budget for the cold in-cell kernels
    * ([[forPairs]]): ~1M dot products is tens of ms of kernel compute
    * at d = 64 — small enough that a task never straggles, large enough
    * that toy-scale inputs stop paying 32 task launches for
    * microseconds of work each.
    */
  private val PairsPerTask = 1L << 20

  /** Edges per label-loop round partition ([[forEdges]]): 1M edge rows
    * ≈ 16 MB of bare (id, label) pairs — tasks stay well under a second
    * while a toy graph stops paying session-width barriers per round.
    */
  private val EdgesPerPart = 1L << 20

  /** The session width: the upper clamp of every derived width, and the
    * width a hot tiled kernel always takes.
    */
  def session(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** `clamp(⌈work / perTask⌉, 1, session width)`. */
  private def derive(spark: SparkSession, work: BigInt, perTask: Long): Int =
    ((work + perTask - 1) / perTask).min(BigInt(session(spark))).max(BigInt(1)).toInt

  private def planBytes(df: DataFrame, perTask: Long): Int =
    derive(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes, perTask)

  def forFrame(df: DataFrame): Int = planBytes(df, KernelBytesPerTask)

  /** Width for the DENSE kernels — per-doc text digests (shingle /
    * minhash / winnowing / bigram-verify) and the O(n²)-per-group
    * signal kernels (matrix profile, rescaled-range) — whose measured
    * CPU density is 10-20 s of kernel CPU per MB of input (r13 probe:
    * dedup_jaccard burned ~11 s over a 0.5 MB corpus when the 256 KB
    * budget gave it 2 tasks), i.e. 10-80× the ~1 s/MB the default
    * budget was calibrated on. The budget is 2 KB of PLAN-ESTIMATE
    * per task — deliberately tiny because Spark's size-only stats
    * undercount text frames ~20×: a Project's estimate scales the
    * scan bytes by attribute defaultSize ratios, and StringType's
    * defaultSize is 20 bytes regardless of the real ~1 KB documents
    * (measured: the 580 KB sf0.1 corpus projected to (doc_id, text)
    * estimates ~90 KB, which at a 16 KB budget gave dedup_jaccard's
    * 8 s digest kernel 6 tasks). 2 KB of estimate ≈ 40 KB of real
    * text ≈ 300-800 ms of dense-kernel CPU: bench scale and anything
    * larger saturates to the session width — the behavior these
    * kernels were measured to need in r12 — while the sf0.001
    * warmup-scale corpus (~10 KB estimate) still runs ~5 wide
    * instead of paying 32 near-empty tasks per exchange.
    */
  def forDense(df: DataFrame): Int = planBytes(df, DenseBytesPerTask)

  /** Width for a `.repartition(key).persist()` frame whose DOWNSTREAM
    * consumers reuse the cache's hashpartitioning (self-joins, keyed
    * re-aggregates). An explicit width keeps the cache AQE-exempt, so
    * its output partitioning stays exactly `hashpartitioning(key, w)`
    * and the join-time exchange elision holds — under the cached-plan
    * AQE flag (Tables.prepare) an unpinned cache would coalesce and
    * lose that contract (measured: q40 shuffle 11.6→22.6 MB when both
    * self-join sides re-exchanged). The budget is the shuffle-byte
    * optimum for cheap aggregate/join consumers (4 MB/task ≈ well
    * under a second each), not the compute-density budget; any real
    * corpus saturates to the session width either way.
    */
  def forCached(df: DataFrame): Int = planBytes(df, CacheBytesPerTask)

  /** Width for a cold tiled cell kernel from its exact pair count. */
  def forPairs(spark: SparkSession, pairs: Long): Int = derive(spark, pairs, PairsPerTask)

  /** Round width of the RDD label loop from its counted edge rows. */
  def forEdges(spark: SparkSession, edges: Long): Int = derive(spark, edges, EdgesPerPart)
}

/** The one Spark session behind every graft main: `Bench`, `Verify`,
  * `Main` (advisor and `--curate`), `Explain`, `ScaleGen` and
  * `StageAudit` all call [[build]], so a probe measures exactly the
  * session that `Bench` and `Verify` run.
  *
  * The width comes from `SPARK_GRAFT_CPUS` (default 4), the variable
  * `Bench` and `Verify` already read: `local[n]` with `n` shuffle
  * partitions. On a cluster only these two change.
  *
  * AQE runs at its defaults. Every exchange whose width matters for
  * compute density (the signal grid, the per-doc text digests, the
  * tiled pair kernels) carries an explicit workload-derived
  * repartition in code ([[Widths]], `graft.operators.Tiles`), which
  * AQE's byte-based coalescing leaves alone. So no session-wide coalescing floor is set: a floor such
  * as `minPartitionSize=64kb` forces near-empty tasks onto every tiny
  * exchange of the other queries (measured in r12).
  */
object GraftSession {
  def build(): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.prepare(spark)
    spark
  }
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  /** The engine-wide contract is `events.ts` = epoch NANOSECONDS
    * (bigint): every operator and every DuckDB oracle (`epoch(ts)`)
    * was written against it. The driver has generated the column both
    * as INT64 TIMESTAMP(NANOS) (reads as raw long under
    * `nanosAsLong`) and as TIMESTAMP(MICROS) (reads as a timestamp) —
    * [[table]] normalizes either encoding to the same bigint values.
    */
  def prepare(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // non-UTC-adjusted parquet timestamps must stay TimestampType
    // (session-UTC instants), not TIMESTAMP_NTZ: `unix_micros` and the
    // timestamp-literal comparisons in the TPC-H queries are defined
    // on instants, and DuckDB's naive `epoch()` matches UTC instants.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // ANSI `corr` raises DIVIDE_BY_ZERO on zero-variance input; the
    // engine contract here is NaN/NULL (filtered), matching DuckDB.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // `canChangeCachedPlanOutputPartitioning` stays at the Spark
    // DEFAULT (false): cached plans compile WITHOUT AQE, so exchanges
    // under a `.persist()` materialize at the session width. An r13
    // probe flipped it to true to shrink the 100-300 near-empty cache
    // tasks per pipeline query — task counts dropped as predicted
    // (profile_skew 204→24, advisor_report 268→20, q34 125→31) but the
    // WALL numbers went the other way: AQE's byte-based coalescing
    // serialized every compute-dense cached kernel onto 1-task stages
    // (the r12 mm_phash straggler class, reintroduced wholesale —
    // dedup_jaccard 291→11 tasks / 0.9→4.0 s, text_containment
    // 1.4→3.7 s, dedup_ngram_char 0.7→2.7 s, embed_hard_negatives,
    // ts_matrix_profile, ts_hurst, text_boilerplate, corr_topk,
    // corr_ncc_lag, dedup_winnowing, advisor_report — ~+15 s across
    // the 32c suite), while the poster-children's task savings bought
    // no wall at all (q34 0.60→0.62 s, profile_skew 0.87→0.95 s).
    // Byte-based coalescing cannot see compute density; explicit
    // workload-derived widths (graft.Widths) at the known-dense
    // exchanges remain the fix, and the reuse-dependent caches keep
    // their derived widths (Widths.forCached) which are AQE-exempt
    // and correct under either flag value.
  }

  /** Schema memo for single-file tables (the driver testdata shape):
    * `spark.read.parquet` without a schema runs a footer-inference JOB
    * on every call — measured 60 ms/call vs 6 ms with an explicit
    * schema (r12 probe) — and every query pays it 1-3× inside
    * the bench's timed region. A real deployment reads catalog tables
    * whose schema is known without touching data files; this memo is
    * that, scoped to one JVM (guide §6 — the same class as Spark's own
    * file-listing caches). ONLY metadata is memoized — every query
    * still scans the parquet data — and the key carries the file's
    * length+mtime, so a rewritten file (ScaleGen regenerating a path,
    * a test overwriting its fixture) re-infers. Directory-shaped
    * tables (ScaleGen replica corpora) skip the memo: their footer
    * cost is amortized over audit-scale runs and their contents change
    * underneath stable paths more often.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    prepare(spark)
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val df =
      if (f.isFile) {
        val key = s"${f.getAbsolutePath}:${f.length}:${f.lastModified}"
        val sch = schemaMemo.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema)
        spark.read.schema(sch).parquet(path)
      } else spark.read.parquet(path)
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType != org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          (org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts").cast("timestamp")) * 1000L)
            .cast("long"))
      case _ => df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
