package graft.report

import graft.Caches._
import graft.Num._
import graft.operators.{ChangePoints, Correlate, TimeSeries}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end advisor pipeline — the whole reference program
  * (metrics_advisor.py main): ingest → grid → variance gate → anomaly
  * detection → bucket → correlate against objective signals → rank →
  * report. The reference renders Jinja2 markdown + matplotlib PNGs
  * (templates/report.tpl); here the analytic table is the product and
  * the markdown renderer carries the same content: the ranked
  * correlation table plus the normalized per-bucket series the
  * reference plots (metrics_advisor.py:198-224).
  *
  * Caching contract: [[gatedGrid]] persists the shared grid
  * (MEMORY_AND_DISK) and registers it with `graft.Caches`, so
  * `Caches.release()` frees it like every operator-internal persist; a
  * caller that holds the grid can free it earlier with [[release]].
  * Nothing else here persists: building [[objectiveAnomalies]] runs no
  * job, and the NCC and Granger kernels score candidates against a
  * collected, broadcast objective slice instead of a cached series
  * frame. The pass is anomaly first: [[objectives]] collects the
  * objective anomalies and the objective series once, and those small
  * driver-side rows feed NCC (only anomalous buckets are scored), the
  * chart markers and Granger. `Main.run` runs each layer once and
  * tracks exactly two frames: the cleaned signals (read by step
  * inference and the grid build) and the grid. It runs the pass under
  * `Caches.scoped`, which releases exactly what was tracked during the
  * pass, so a pass that returns or throws leaves nothing cached, and
  * frames the caller tracked before stay cached.
  */
object AdvisorReport {

  final case class Config(
      objNames: Seq[String] = Seq("click", "error"),
      stepSec: Long = 3600L,
      bucketSec: Long = 86400L,
      topK: Int = 5,
      minRange: Double = 0.005,
      // anomaly-detector knobs, threaded into ChangePoints.anomalyUnion;
      // the gate's advisor_report query pins (19, unbound) so the whole
      // composite replays in the DuckDB oracle — see SparkEntry
      permutations: Int = 100,
      maxPoints: Int = 64,
      // the noise decomposition's seasonal lowpass cutoff, in Hz, for a
      // series with no confident dominant period; the reference's is
      // 0.01 cycles per sample (metrics_advisor.py:57, 0.01 / 15 s), and
      // `Main.run` sets 0.01 / stepSec. The default keeps the daily
      // cutoff the advisor_report oracle replays
      fMin: Double = 1.0 / 86400.0)

  /** What the advisor pass collects once about its objectives: the
    * [[objectiveAnomalies]] rows (name, node, tsb, kind, b) and the
    * objective series of the grid. NCC scores only the anomalous
    * buckets, the chart markers read the change points, and Granger
    * reads the series.
    */
  final case class Objectives(anomalies: Array[Row], series: Array[Correlate.GridSeries])

  /** [[Objectives]] of a [[gatedGrid]]: the anomalies collected first
    * (the first action on a fresh grid also builds its cache), then the
    * objective series.
    */
  def objectives(grid: DataFrame, cfg: Config = Config()): Objectives = {
    val anomalies = objectiveAnomalies(grid, cfg).collect()
    Objectives(anomalies, Correlate.collectSeries(grid, cfg.objNames))
  }

  /** The reference's validity gate (metrics_advisor.py:146): drop
    * signals whose whole-series range is ≤ minRange — flat signals
    * carry no information and must not reach anomaly detection.
    * A window max/min over (name, node) instead of aggregate +
    * semi-join, so the grid-build pipeline does not run a second time
    * for the join's build side (same rounding contract as
    * TimeSeries.rangeGate). The grid kernel's typed-group output
    * carries no partitioning, so the window's requirement plans one
    * `hashpartitioning(name, node)` exchange of the grid
    * (ENSURE_REQUIREMENTS); that exchange is what gives the persisted
    * grid its (name, node) layout.
    */
  private def gateSignals(grid: DataFrame, cfg: Config): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node")
    grid.withColumn("_rng", r4(max("gval").over(w) - min("gval").over(w)))
      .filter(col("_rng") > cfg.minRange)
      .drop("_rng")
  }

  /** The reference's second gate (metrics_advisor.py:185): candidates
    * are re-checked per correlation window, so a signal that is flat
    * within a bucket (even if it moved elsewhere) never ranks there.
    * Same window-not-join shape as [[gateSignals]]: (name, node)
    * partitioning satisfies the (name, node, b) clustering, so this is
    * a sort within the cached partitions, not a shuffle.
    *
    * [[adviseOnGrid]] applies the same gate inside its NCC kernel
    * ([[Correlate.adviseCells]]); this composed form is the one
    * `nccLag` takes, the reference the kernel is property-tested
    * against, and the NCC input of the benchmark's traced pass.
    */
  private[graft] def gateBuckets(grid: DataFrame, cfg: Config): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node", "b")
    grid.withColumn("_rng", r4(max("gval").over(w) - min("gval").over(w)))
      .filter(col("_rng") > cfg.minRange)
      .drop("_rng")
  }

  /** The gated, persisted grid the whole pipeline shares, from long
    * signals (name, node, tsec, value) — the shape every source module
    * emits. The dense forward-filled grid is the fused
    * resample+ffill+index build: at most ONE exchange of the signal
    * stream instead of three, none when the signals already carry the
    * (name, node) layout (TimeSeries.gridOnePass doc; bit-equality to
    * the operator-composed form pinned by TimeSeriesSpec).
    */
  def gatedGrid(signals: DataFrame, cfg: Config = Config()): DataFrame =
    gateSignals(TimeSeries.gridOnePass(signals, cfg.stepSec, cfg.bucketSec), cfg)
      .persist(StorageLevel.MEMORY_AND_DISK).tracked

  /** The anomaly union (outliers ∪ change points) of the objective
    * signals, with the config's detector knobs and the noise
    * decomposition at the grid's own step and `cfg.fMin` cutoff.
    *
    * Detection runs on the OBJECTIVE slice only. The reference detects
    * on every signal because candidate anomalies gate its per-bucket
    * candidate lists; this pipeline's pinned deviation (SURVEY §4)
    * replaces that gate with the per-bucket range gate, so objective
    * anomalies are the only consumed output — running the
    * permutation-test detector on non-objective signals would be pure
    * waste (it was the dominant cost of the end-to-end query: the
    * candidate population is |signals|, the objective set is O(1)).
    */
  def objectiveAnomalies(grid: DataFrame, cfg: Config = Config()): DataFrame =
    ChangePoints.anomalyUnion(
      grid.filter(col("name").isin(cfg.objNames: _*))
        .select("name", "node", "tsb", "gval"), bucket = cfg.bucketSec,
      stepSec = cfg.stepSec.toDouble, fMin = cfg.fMin,
      permutations = cfg.permutations, maxPoints = cfg.maxPoints)

  /** The advisor answer over an already-gated grid: for each bucket
    * where an objective signal is anomalous, the top-k correlated
    * candidate signals (reference :177-230), ordered by (obj_name,
    * obj_node, b, rank). One DataFrame; building it collects the
    * [[objectives]]. The grid feeds three independent analyses
    * (outliers, change points, correlation), which is why [[gatedGrid]]
    * persists it.
    */
  def adviseOnGrid(grid: DataFrame, cfg: Config = Config()): DataFrame =
    adviseOnGrid(grid, cfg, objectives(grid, cfg))

  /** [[adviseOnGrid]] over [[objectives]] the caller already holds (and
    * also hands to [[renderMarkdown]]). The answer equals
    * `topCorr(nccLag(gateBuckets(grid)))` joined with the anomalous
    * objective buckets; the fused kernel ([[Correlate.adviseCells]])
    * scores only those buckets and emits only each pair's best lag, and
    * the rank window runs over an obj_name hash layout, which the
    * render's per-objective cap reuses, so ranking and capping cost one
    * exchange.
    */
  def adviseOnGrid(grid: DataFrame, cfg: Config, objs: Objectives): DataFrame = {
    val anomalous = objs.anomalies
      .map(r => (r.getAs[String]("name"), r.getAs[String]("node"), r.getAs[Long]("b")))
      .toSet
    val cells = Correlate.adviseCells(grid, cfg.objNames, objs.series, anomalous, cfg.minRange)
    Correlate.rankCandidates(cells.repartition(col("obj_name")), cfg.topK)
      .select("obj_name", "obj_node", "b", "cand_name", "cand_node", "lag", "n", "r", "rank")
      .orderBy("obj_name", "obj_node", "b", "rank")
  }

  /** Normalized per-bucket series for the wanted (signal, bucket)s —
    * the content of the reference's plots (metrics_advisor.py:198-224:
    * objective + top candidates, each divided by |max|, per anomalous
    * bucket). Bounded by construction: (top-k + objectives) × buckets ×
    * samples-per-bucket.
    */
  private def bucketSeriesFor(grid: DataFrame, wanted: Seq[(String, String, Long)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "node", "b")
    // a literal IN over the bounded wanted set, not a semi-join: the
    // join's broadcast of a local relation ran a job of its own. A NULL
    // node never matched the join's equality, so it is left out here
    val keys = wanted.filter(_._2 != null)
      .map { case (name, node, b) => struct(lit(name), lit(node), lit(b)) }
    grid.filter(struct(col("name"), col("node"), col("b")).isin(keys: _*))
      .withColumn("rel", r4(col("gval") / (abs(max("gval").over(w)) + lit(1e-10))))
      .select("name", "node", "b", "i", "rel")
  }

  /** Monotone-drift verdicts over the gated grid — the detector class
    * the anomaly union cannot cover: k-sigma and e-divisive catch
    * spikes and level shifts, but a slow leak or creeping queue trips
    * neither; Mann-Kendall exists for exactly that. Most extreme
    * drift first, deterministic tiebreaks.
    */
  def driftSignals(grid: DataFrame): DataFrame =
    graft.operators.Trend.mannKendall(grid.select("name", "node", "tsb", "gval"))
      .filter(col("trend") =!= 0)
      .orderBy(abs(col("z")).desc, col("name").asc, col("node").asc)

  /** Granger-causality verdicts over the gated grid: candidates whose
    * PAST improves prediction of an objective beyond the objective's
    * own autoregression (Correlate.grangerF). Correlation ranks
    * co-movement and is symmetric; this is the direction-aware
    * follow-up question — "which of the correlated candidates looks
    * like a driver rather than a fellow victim". Significant pairs
    * only, strongest evidence first, deterministic tiebreaks.
    * `objectives`, the grid's objective series already collected
    * ([[Objectives]]), spares collecting them again.
    */
  def causalSignals(grid: DataFrame, cfg: Config = Config(), alpha: Double = 0.05,
                    objectives: Option[Array[Correlate.GridSeries]] = None): DataFrame = {
    val g = grid.select("name", "node", "tsb", "gval")
    objectives.fold(Correlate.grangerF(g, cfg.objNames))(Correlate.grangerF(g, cfg.objNames, _))
      .filter(col("p_value") < alpha)
      .orderBy(col("p_value").asc, col("f_stat").desc,
        col("obj_name").asc, col("cand_name").asc, col("node").asc)
  }

  /** Release the pipeline's cached grid — scoped to the frame the
    * pipeline itself persisted, never the caller's session-wide cache.
    */
  def release(grid: DataFrame): Unit = { grid.unpersist(); () }

  /** Inline SVG line chart of normalized series — the rendered artifact
    * counterpart of the reference's matplotlib PNGs
    * (metrics_advisor.py:198-226), with no plotting dependency: one
    * polyline per signal over the bucket's sample grid, y ∈ [-1, 1]
    * (the |max|-normalized range), deterministic color cycle and
    * ordering. Markdown renderers pass inline SVG through, so the .md
    * report is self-contained.
    */
  private[graft] def svgChart(series: Seq[(String, Seq[Double])],
                               w: Int = 480, h: Int = 120,
                               vlines: Seq[Double] = Nil): String = {
    val colors = Seq("#1f77b4", "#d62728", "#2ca02c", "#9467bd", "#ff7f0e",
      "#8c564b", "#17becf", "#7f7f7f")
    val padL = 4; val padR = 120; val padY = 6
    val plotW = w - padL - padR
    val plotH = h - 2 * padY
    // |max|-normalization (the reference's get_relative divides by the
    // abs of the MAX, not the max of abs) can leave an all-negative
    // series below -1 — clamp so the polyline stays inside the viewBox
    def yPix(v: Double): Double = {
      val vc = math.max(-1.0, math.min(1.0, v))
      padY + (1.0 - (vc + 1.0) / 2.0) * plotH
    }
    val n = series.map(_._2.size).maxOption.getOrElse(0)
    val sb = new StringBuilder
    sb.append(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h" viewBox="0 0 $w $h">""")
    // zero line
    sb.append(s"""<line x1="$padL" y1="${yPix(0)}" x2="${padL + plotW}" y2="${yPix(0)}" stroke="#ddd" stroke-width="1"/>""")
    // dashed vertical markers at the anomaly sample positions — the
    // reference's plt.axvline at each anomaly timestamp
    // (metrics_advisor.py:205-206); x is in sample-index space
    vlines.foreach { vx =>
      val x = if (n <= 1) padL.toDouble else padL + vx * plotW / (n - 1)
      if (vx >= 0 && vx <= n - 1)
        sb.append(f"""<line x1="$x%.1f" y1="$padY" x2="$x%.1f" y2="${padY + plotH}" stroke="#000" stroke-width="0.5" stroke-dasharray="4 3"/>""")
    }
    series.sortBy(_._1).zipWithIndex.foreach { case ((name, vals), idx) =>
      val color = colors(idx % colors.size)
      val pts = vals.zipWithIndex.map { case (v, i) =>
        val x = if (n <= 1) padL else padL + i.toDouble * plotW / (n - 1)
        f"$x%.1f,${yPix(v)}%.1f"
      }.mkString(" ")
      // the objective's median-filtered overlay (what the detector
      // actually saw — reference plots it as 'r*-' '_filtered') is
      // rendered dashed to read against its solid raw series
      val dash = if (name.endsWith("_filtered")) """ stroke-dasharray="5 3"""" else ""
      sb.append(s"""<polyline fill="none" stroke="$color" stroke-width="1.5"$dash points="$pts"/>""")
      sb.append(s"""<text x="${padL + plotW + 6}" y="${14 + idx * 14}" font-size="11" fill="$color">${name.take(18)}</text>""")
    }
    sb.append("</svg>")
    sb.toString
  }

  /** Markdown report (the report.tpl analogue): ranked-candidate table
    * plus, per anomalous bucket, the normalized series of the signals
    * involved, both as data lines and as a rendered inline-SVG chart
    * (what the reference's PNGs draw). Collects only the
    * ranked table and the gated per-bucket series — both top-k-bounded.
    * The chart markers and the Granger objectives come from `objectives`,
    * the [[Objectives]] the advice was built from; without them the
    * detector runs and the objective slice is collected once more here
    * with the same config.
    *
    * `limit` caps the advice rows per objective, in advice order, so
    * one objective with many anomalous buckets cannot push the others
    * out of the report; a line under the table names every objective
    * that was cut.
    */
  def renderMarkdown(advice: DataFrame, grid: Option[DataFrame] = None,
                     limit: Int = 500, cfg: Config = Config(),
                     objectives: Option[Objectives] = None): String = {
    val perObj = org.apache.spark.sql.expressions.Window.partitionBy("obj_name")
    // the repartition drops advice's global sort, and over adviseOnGrid's
    // obj_name layout it adds no exchange: ranking and the cap share one
    val capped = advice.repartition(col("obj_name"))
      .withColumn("_i", row_number().over(perObj.orderBy("obj_node", "b", "rank")))
      .withColumn("_n", count(lit(1)).over(perObj))
      .filter(col("_i") <= limit)
      .collect()
    // advice order, restored on the bounded collected rows
    val rows = capped.sortBy(r => (r.getAs[String]("obj_name"),
      r.getAs[String]("obj_node"), r.getAs[Long]("b"), r.getAs[Int]("rank")))
    val cut = rows.filter(r => r.getAs[Int]("_i") == 1 && r.getAs[Long]("_n") > limit)
      .map(r => s"`${r.getAs[String]("obj_name")}` (${r.getAs[Long]("_n") - limit})")
    val sb = new StringBuilder
    sb.append("# Metrics advisor report\n\n")
    // the one-line triage answer the reference leads with
    // (report.tpl:6-17): how many time slices are anomalous, or the
    // all-clear. Counted over the advice rows (anomalous objective
    // buckets that ranked at least one candidate).
    sb.append("## Summary\n\n")
    val nSlices = rows.map(_.getAs[Long]("b")).distinct.length
    if (nSlices > 0)
      sb.append(s"There are anomalies in $nSlices pieces of time slice.\n\n")
    else
      sb.append("Everything runs well.\n\n")
    // the reference's Details section lists only the TOP-3 correlations
    // per objective (report.tpl: `obj['corre'][:3]`) while the plots
    // draw the full top-5 (metrics_advisor.py:209) — mirror the split:
    // the table below is rank ≤ 3, the charts further down render every
    // ranked candidate
    sb.append("## Details\n\n")
    sb.append("| bucket | objective | candidate | lag | r | rank |\n")
    sb.append("| --- | --- | --- | --- | --- | --- |\n")
    rows.filter(_.getAs[Int]("rank") <= 3).foreach { r =>
      sb.append(s"| ${r.getAs[Long]("b")} | ${r.getAs[String]("obj_name")}/${r.getAs[String]("obj_node")} " +
        s"| ${r.getAs[String]("cand_name")}/${r.getAs[String]("cand_node")} " +
        s"| ${r.getAs[Long]("lag")} | ${r.getAs[Double]("r")} | ${r.getAs[Int]("rank")} |\n")
    }
    if (cut.nonEmpty)
      sb.append(s"\nAdvice capped at $limit rows per objective; rows cut: ${cut.mkString(", ")}.\n")
    grid.foreach { g =>
      sb.append("\n## Normalized series per anomalous bucket\n")
      // derive the wanted-signal set from the ALREADY-collected rows —
      // re-using the advice DataFrame here would re-execute the whole
      // advisor DAG (anomaly union + permutation tests) a second time,
      // since only the input grid is cached
      val wanted = rows
        .flatMap(r => Seq(
          (r.getAs[String]("obj_name"), r.getAs[String]("obj_node"), r.getAs[Long]("b")),
          (r.getAs[String]("cand_name"), r.getAs[String]("cand_node"), r.getAs[Long]("b"))))
        .distinct
      // a wanted (signal, bucket) holds at most bucketSec / stepSec
      // samples, so the bound never cuts a chart short
      val series = bucketSeriesFor(g, wanted.toSeq)
        .orderBy("b", "name", "node", "i")
        .limit(wanted.length * math.max(1, (cfg.bucketSec / cfg.stepSec).toInt)).collect()
      val bySignal = series
        .groupBy(r => (r.getAs[Long]("b"), r.getAs[String]("name"), r.getAs[String]("node")))
        .toSeq.sortBy(_._1)
      bySignal.foreach { case ((b, name, node), pts) =>
        val vals = pts.sortBy(_.getAs[Long]("i")).map(_.getAs[Double]("rel")).mkString(", ")
        sb.append(s"\n- bucket $b `$name/$node`: $vals")
      }
      sb.append("\n")
      // anomaly positions for the vline markers: the reference draws
      // its axvlines at the CHANGEPOINT timestamps of the objective
      // (metrics_advisor.py:156 builds anomaly_ts from cp only)
      val anomTs: Map[(String, String, Long), Seq[Long]] =
        objectives.fold(objectiveAnomalies(g, cfg).collect())(_.anomalies)
          .filter(_.getAs[String]("kind") == "changepoint")
          .groupBy(r => (r.getAs[String]("name"), r.getAs[String]("node"),
            r.getAs[Long]("b")))
          .view.mapValues(_.map(_.getAs[Long]("tsb")).toSeq.sorted).toMap
      val objOfBucket: Map[Long, Seq[(String, String)]] = rows
        .map(r => (r.getAs[Long]("b"),
          (r.getAs[String]("obj_name"), r.getAs[String]("obj_node"))))
        .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      // one rendered chart per bucket — the reference's per-bucket PNG,
      // including its filtered-objective overlay and anomaly vlines
      bySignal.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (b, sigs) =>
        val objs = objOfBucket.getOrElse(b, Nil).toSet
        val lines = sigs.flatMap { case ((_, name, node), pts) =>
          val vals = pts.sortBy(_.getAs[Long]("i")).map(_.getAs[Double]("rel")).toSeq
          val base = Seq((s"$name/$node", vals))
          // the reference plots moving_median(normalized_objective, 5)
          // as '<name>_filtered' — what the detector actually saw
          if (objs((name, node)))
            base :+ (s"$name/${node}_filtered",
              graft.operators.ChangePoints.movingMedian(vals.toArray, 5).toSeq)
          else base
        }
        val iMin = sigs.flatMap(_._2.map(_.getAs[Long]("i"))).minOption.getOrElse(0L)
        val vxs = objs.toSeq.sorted.flatMap { case (name, node) =>
          anomTs.getOrElse((name, node, b), Nil)
            .map(ts => (ts / cfg.stepSec - iMin).toDouble)
        }.distinct.sorted
        sb.append(s"\n### bucket $b\n\n")
        sb.append(svgChart(lines, vlines = vxs))
        sb.append("\n")
      }
    }
    grid.foreach { g =>
      val causal = causalSignals(g, cfg, objectives = objectives.map(_.series))
        .limit(50).collect()
      if (causal.nonEmpty) {
        sb.append("\n## Likely drivers (Granger)\n\n")
        sb.append("| objective | candidate | F | p |\n")
        sb.append("| --- | --- | --- | --- |\n")
        causal.foreach { r =>
          sb.append(s"| ${r.getAs[String]("obj_name")}/${r.getAs[String]("node")} " +
            s"| ${r.getAs[String]("cand_name")}/${r.getAs[String]("node")} " +
            s"| ${r.getAs[Double]("f_stat")} | ${r.getAs[Double]("p_value")} |\n")
        }
      }
      val drifts = driftSignals(g).limit(50).collect()
      if (drifts.nonEmpty) {
        sb.append("\n## Drifting signals (Mann-Kendall)\n\n")
        sb.append("| signal | n | z | direction |\n")
        sb.append("| --- | --- | --- | --- |\n")
        drifts.foreach { r =>
          val dir = if (r.getAs[Int]("trend") > 0) "up" else "down"
          sb.append(s"| ${r.getAs[String]("name")}/${r.getAs[String]("node")} " +
            s"| ${r.getAs[Long]("n")} | ${r.getAs[Double]("z")} | $dir |\n")
        }
      }
    }
    sb.toString
  }
}
