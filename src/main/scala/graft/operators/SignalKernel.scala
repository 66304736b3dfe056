package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** How one whole series reaches a per-signal kernel (e-divisive, PELT,
  * ESD, FFT decomposition, Holt-Winters, discords, …).
  *
  * Contract of [[series]]: the input has exactly 4 columns, taken by
  * position — name (string), node (string), a long time column and a
  * double value column. The kernel is called once per (name, node),
  * with that series' times in one `Array[Long]` and its values in one
  * `Array[Double]`:
  *   - times ascend, and samples with equal times keep their arrival
  *     order (a stable sort);
  *   - `v(i)` is the value of the row whose time is `t(i)`;
  *   - both arrays hold every row of the group, and are never empty.
  * The rows are decoded one at a time and not kept, so the series a
  * kernel holds costs 16 bytes of heap per sample.
  *
  * Why the grouping is relational (r12, measured): it groups with
  * `groupBy(cols).as[K, T]`, not the typed `groupByKey(tuple)`.
  * `groupByKey` serializes its lambda key into an opaque struct column,
  * so the kernel's exchange can never reuse the (name, node) hash
  * layout the grid already has, and the fresh sub-MB exchange is fair
  * game for AQE's byte-based partition coalescing. StageAudit under the
  * default-AQE Bench config measured that: ad_edivisive 0.80 s, ad_pelt
  * 1.09 s, ad_esd 0.52 s and ts_sampen 0.43 s of kernel time in a single
  * task (maxShare 1.00) while 31 cores idled. With relational grouping
  * the operator requires ClusteredDistribution(name, node), which the
  * grid's explicit AQE-exempt `repartition(parts, name, node)`
  * satisfies: the kernel fuses into the already-wide grid stage with no
  * new exchange. A frame that is not partitioned that way gets the
  * exchange from the planner, so correctness never depends on the
  * caller's layout.
  */
private[operators] object SignalKernel {
  private implicit val keyEnc: Encoder[(String, String)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING)
  private val rowEnc: Encoder[(String, String, Long, Double)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaDouble)
  private val rowEncBI: Encoder[(String, String, Long, Long, Double)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)

  def series[U: Encoder](rows: DataFrame)(
      f: (String, String, Array[Long], Array[Double]) => IterableOnce[U]): Dataset[U] =
    grouped(rows, rowEnc) { (key, it) =>
      val t = Array.newBuilder[Long]
      val v = Array.newBuilder[Double]
      it.foreach { r => t += r._3; v += r._4 }
      val (ts, vs) = sortedByTime(t.result(), v.result())
      f(key._1, key._2, ts, vs)
    }

  /** [[series]]' contract on the driver: the rows of a small frame (an
    * objective slice a pairwise kernel broadcasts) collected and handed
    * over per (name, node) as the same sorted arrays, in no particular
    * series order.
    */
  def collect(rows: DataFrame): Array[(String, String, Array[Long], Array[Double])] =
    rows.toDF(rowEnc.schema.fieldNames.toIndexedSeq: _*).as(rowEnc).collect()
      .groupBy(r => (r._1, r._2)).toArray.map { case ((name, node), rs) =>
        val (ts, vs) = sortedByTime(rs.map(_._3), rs.map(_._4))
        (name, node, ts, vs)
      }

  /** [[Correlate.nccLag]]'s and [[Correlate.adviseCells]]' form: 5 columns — name, node, bucket (long),
    * sample index (long), value (double) — handed over as rows in no
    * particular order. Its bucket is not a function of the index alone,
    * so it cannot ride the 4-column [[series]] form.
    */
  def perSignalBI[U: Encoder](rows: DataFrame)(
      f: ((String, String), Iterator[(String, String, Long, Long, Double)]) => IterableOnce[U])
      : Dataset[U] = grouped(rows, rowEncBI)(f)

  private def grouped[T, U: Encoder](rows: DataFrame, rowEnc: Encoder[T])(
      f: ((String, String), Iterator[T]) => IterableOnce[U]): Dataset[U] =
    rows.toDF(rowEnc.schema.fieldNames.toIndexedSeq: _*)
      .as[T](rowEnc)
      .groupBy(col("_1"), col("_2"))
      .as[(String, String), T](keyEnc, rowEnc)
      .flatMapGroups((k, it) => f(k, it).iterator)

  /** The (t, v) pairs sorted by t; `ArrayOps.sorted` is stable, so
    * equal times keep their order. An ascending series is returned as is.
    */
  private def sortedByTime(t: Array[Long], v: Array[Double]): (Array[Long], Array[Double]) =
    if (t.indices.drop(1).forall(i => t(i - 1) <= t(i))) (t, v)
    else {
      val order = t.indices.toArray.sortBy(t(_))
      (order.map(t), order.map(v))
    }
}
