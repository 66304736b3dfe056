package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** Shared per-signal kernel walk for the typed whole-series operators
  * (e-divisive, PELT, ESD, FFT decomposition, Holt-Winters, discords,
  * …): `flatMapGroups` over (name, node) through the RELATIONAL
  * `groupBy(cols).as[K, T]` form instead of the typed
  * `groupByKey(tuple)`.
  *
  * Why (r12, measured): `groupByKey` serializes its lambda key into an
  * opaque struct column, so the kernel's exchange can never reuse the
  * (name, node) hash layout the SparkEntry grid pin already
  * established, AND the fresh exchange is fair game for AQE's
  * byte-based partition coalescing — the per-signal grids are a few
  * hundred KB while each group carries whole-series compute, the exact
  * compute-dense sub-MB shape the r11 mm_phash finding showed AQE
  * folding onto ONE task. StageAudit under default-AQE Bench config
  * measured exactly that: ad_edivisive 0.80 s, ad_pelt 1.09 s,
  * ad_esd 0.52 s, ts_sampen 0.43 s of kernel time in a single task
  * (maxShare 1.00) while 31 cores idled.
  *
  * With relational grouping the MapGroups operator's required child
  * distribution is ClusteredDistribution(name, node), which the grid
  * pin's explicit AQE-exempt `repartition(parts, name, node)`
  * satisfies: the kernel fuses into the already-wide grid stage with
  * NO new exchange (guide §2.4 — remove shuffles outright, share
  * exchanges) and full session width at any scale. A caller whose
  * frame is NOT pre-partitioned (operator unit tests, external users)
  * gets the required exchange inserted by the planner — correctness
  * never depends on the caller's layout.
  *
  * Value-identical to the groupByKey form: each group's rows arrive
  * complete in one task invocation and every kernel sorts its series
  * in-task (`it.toArray.sortBy(_._3)`), so no call site observes the
  * (unspecified, in both forms) iterator order.
  *
  * Input: exactly 4 columns — name (string), node (string), a long
  * sort/time column, and the value column (Double for [[perSignalD]],
  * Long for [[perSignalL]]) — or 5 for [[perSignalBI]]: name, node,
  * bucket (long), sample index (long), value (double).
  */
private[operators] object SignalKernel {
  private implicit val keyEnc: Encoder[(String, String)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING)
  private val rowEncD: Encoder[(String, String, Long, Double)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaDouble)
  private val rowEncL: Encoder[(String, String, Long, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong)
  private val rowEncBI: Encoder[(String, String, Long, Long, Double)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)

  def perSignalD[U: Encoder](rows: DataFrame)(
      f: ((String, String), Iterator[(String, String, Long, Double)]) => IterableOnce[U])
      : Dataset[U] = perSignal(rows, rowEncD)(f)

  def perSignalL[U: Encoder](rows: DataFrame)(
      f: ((String, String), Iterator[(String, String, Long, Long)]) => IterableOnce[U])
      : Dataset[U] = perSignal(rows, rowEncL)(f)

  def perSignalBI[U: Encoder](rows: DataFrame)(
      f: ((String, String), Iterator[(String, String, Long, Long, Double)]) => IterableOnce[U])
      : Dataset[U] = perSignal(rows, rowEncBI)(f)

  private def perSignal[T, U: Encoder](rows: DataFrame, rowEnc: Encoder[T])(
      f: ((String, String), Iterator[T]) => IterableOnce[U]): Dataset[U] =
    rows.toDF(rowEnc.schema.fieldNames.toIndexedSeq: _*)
      .as[T](rowEnc)
      .groupBy(col("_1"), col("_2"))
      .as[(String, String), T](keyEnc, rowEnc)
      .flatMapGroups((k, it) => f(k, it).iterator)
}
