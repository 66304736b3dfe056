package graft

import graft.report.AdvisorReport
import org.apache.spark.sql.functions._

/** End-to-end advisor pipeline semantics: the reference's variance
  * gates (metrics_advisor.py:146 whole-series, :185 per correlation
  * window) and the report content (ranked table + normalized series,
  * the content of the reference's plots, :198-224).
  */
class AdvisorReportSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1640563200L // midnight-aligned (86400 | T0)
  private val cfg = AdvisorReport.Config(objNames = Seq("click"))

  /** 4 days of hourly signals: a stepping objective, a correlated
    * candidate, a dead-flat candidate, and one flat only in days 1-2.
    */
  private def signals = {
    val hours = 0 until 96
    def mk(name: String, f: Int => Double) =
      hours.map(i => (name, "n0", T0 + i * 3600L, f(i)))
    (mk("click", i => if (i < 48) 10.0 + (i % 5) else 90.0 + (i % 7)) ++
      mk("cpu", i => if (i < 48) 5.0 + (i % 5) else 45.0 + (i % 7)) ++
      mk("flatline", _ => 3.0) ++
      mk("halfflat", i => if (i < 48) 50.0 else 50.0 + (i % 9)))
      .toDF("name", "node", "tsec", "value")
  }

  test("flat signals never appear as ranked candidates") {
    val advice = AdvisorReport.adviseSignals(signals, cfg).collect()
    assert(advice.nonEmpty, "step change must produce an anomalous bucket")
    val cands = advice.map(_.getAs[String]("cand_name")).toSet
    assert(!cands.contains("flatline"), s"flat signal ranked: $cands")
    assert(cands.contains("cpu"), s"correlated candidate missing: $cands")
  }

  test("a signal flat within a bucket is gated there but ranks where it moves") {
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val advice = AdvisorReport.adviseOnGrid(grid, cfg).collect()
    val flatBuckets = Set(T0, T0 + 86400L) // halfflat constant in days 1-2
    val halfflatRows = advice.filter(_.getAs[String]("cand_name") == "halfflat")
    assert(halfflatRows.forall(r => !flatBuckets.contains(r.getAs[Long]("b"))),
      "halfflat ranked in a bucket where it was flat")
    // the whole-series gate must NOT drop it (its full range is > 0.005)
    assert(grid.filter(col("name") === "halfflat").count() > 0)
  }

  test("renderMarkdown emits the ranked table and per-bucket normalized series") {
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val advice = AdvisorReport.adviseOnGrid(grid, cfg)
    val md = AdvisorReport.renderMarkdown(advice, Some(grid))
    assert(md.startsWith("# Metrics advisor report"))
    assert(md.contains("| bucket | objective | candidate | lag | r | rank |"))
    assert(md.contains("## Normalized series per anomalous bucket"))
    assert(md.contains("`click/n0`"), "objective series missing from report")
    assert(md.contains("`cpu/n0`"), "candidate series missing from report")
    // normalized values are in [-1, 1]: spot the objective's plateau
    assert(!md.contains("flatline"), "gated signal leaked into the report")
    // the rendered chart (the reference's PNG analogue) is inline SVG
    assert(md.contains("<svg "), "per-bucket chart missing")
    assert(md.contains("<polyline "), "chart has no series lines")
    assert(md.contains(">click/n0</text>"), "chart legend missing the objective")
  }

  test("report leads with the Summary triage line (report.tpl:6-17)") {
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val advice = AdvisorReport.adviseOnGrid(grid, cfg)
    val md = AdvisorReport.renderMarkdown(advice, Some(grid), cfg = cfg)
    assert(md.contains("## Summary"), "Summary section missing")
    assert(md.contains("pieces of time slice."),
      "anomalous run must report the slice count")
    // the all-clear wording on an anomaly-free advice frame
    val clear = AdvisorReport.renderMarkdown(advice.limit(0), cfg = cfg)
    assert(clear.contains("Everything runs well."), clear.take(200))
  }

  test("chart draws the filtered-objective overlay and anomaly vlines") {
    // the reference plots moving_median(objective, 5) as '_filtered'
    // (metrics_advisor.py:203) and dashed axvlines at the changepoint
    // timestamps (:205-206); the fixture's step at hour 48 yields a
    // changepoint, so both must render
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val advice = AdvisorReport.adviseOnGrid(grid, cfg)
    val md = AdvisorReport.renderMarkdown(advice, Some(grid), cfg = cfg)
    assert(md.contains("click/n0_filtered"), "filtered overlay missing")
    assert(md.contains("""stroke-dasharray="5 3""""),
      "filtered overlay must render dashed")
    assert(md.contains("""stroke-dasharray="4 3""""),
      "anomaly vline missing")
    // determinism: the rendered report is bit-identical across runs
    assert(md == AdvisorReport.renderMarkdown(advice, Some(grid), cfg = cfg))
  }

  test("svgChart is deterministic and bounds the plot to the viewBox") {
    val s = Seq("b" -> Seq(1.0, -1.0, 0.5), "a" -> Seq(0.0, 0.25, -0.25))
    val svg = AdvisorReport.svgChart(s)
    assert(svg == AdvisorReport.svgChart(s.reverse), "legend order must not depend on input order")
    // all plotted y coordinates stay inside the 120px height
    val ys = """,(\d+\.?\d*)""".r.findAllMatchIn(svg).map(_.group(1).toDouble)
    assert(ys.forall(y => y >= 0 && y <= 120), svg)
    // an all-negative series normalizes below -1 (abs-of-max contract);
    // the chart clamps instead of drawing outside the viewBox
    val neg = AdvisorReport.svgChart(Seq("n" -> Seq(-0.5, -2.0, -1.2)))
    val negYs = """,(-?\d+\.?\d*)""".r.findAllMatchIn(neg).map(_.group(1).toDouble)
    assert(negYs.forall(y => y >= 0 && y <= 120), neg)
  }

  test("drift section flags the stepping signals and skips gated ones") {
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val drifts = AdvisorReport.driftSignals(grid).collect()
    val names = drifts.map(_.getAs[String]("name")).toSet
    // the step-up signals are strong monotone drifts; flatline is gated
    assert(names.contains("click") && names.contains("cpu"), s"missing: $names")
    assert(!names.contains("flatline"))
    assert(drifts.forall(_.getAs[Int]("trend") == 1))
    val md = AdvisorReport.renderMarkdown(AdvisorReport.adviseOnGrid(grid, cfg), Some(grid))
    assert(md.contains("## Drifting signals (Mann-Kendall)"))
    assert(md.contains("click/n0"))
  }

  test("causal section names the lagged driver, not the bystander") {
    val rng = new scala.util.Random(23)
    val n = 96
    val drv = Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)
    val obj = new Array[Double](n)
    for (t <- 2 until n)
      obj(t) = 0.3 * obj(t - 1) + 0.9 * drv(t - 2) + rng.nextGaussian() * 0.2
    def mk(name: String, xs: Array[Double]) =
      (0 until n).map(i => (name, "n0", T0 + i * 3600L, xs(i)))
    val sig = (mk("click", obj) ++ mk("queue", drv) ++
      mk("noisefloor", Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)))
      .toDF("name", "node", "tsec", "value")
    val grid = AdvisorReport.gatedGrid(sig, cfg)
    val causal = AdvisorReport.causalSignals(grid, cfg).collect()
    val names = causal.map(_.getAs[String]("cand_name"))
    assert(names.contains("queue"), s"driver missing: ${names.toSeq}")
    assert(names.headOption.contains("queue"), "driver must rank first")
    val md = AdvisorReport.renderMarkdown(
      AdvisorReport.adviseOnGrid(grid, cfg), Some(grid))
    assert(md.contains("## Likely drivers (Granger)"))
    assert(md.contains("| click/n0 | queue/n0 |"))
  }

  test("causal section uses the config's objectives, not the defaults") {
    // neither objective is a default (click/error): the Granger section
    // must still test the lagged driver against them
    val rng = new scala.util.Random(41)
    val n = 96
    val drv = Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)
    val obj = new Array[Double](n)
    for (t <- 2 until n)
      obj(t) = 0.3 * obj(t - 1) + 0.9 * drv(t - 2) + rng.nextGaussian() * 0.2
    def mk(name: String, xs: Array[Double]) =
      (0 until n).map(i => (name, "n0", T0 + i * 3600L, xs(i)))
    val sig = (mk("p99_latency", obj) ++ mk("queue", drv) ++
      mk("noisefloor", Array.tabulate(n)(_ => rng.nextGaussian() * 5.0)))
      .toDF("name", "node", "tsec", "value")
    val own = AdvisorReport.Config(objNames = Seq("p99_latency", "heap_size"))
    val grid = AdvisorReport.gatedGrid(sig, own)
    try {
      val md = AdvisorReport.renderMarkdown(
        AdvisorReport.adviseOnGrid(grid, own), Some(grid), cfg = own)
      assert(md.contains("## Likely drivers (Granger)"), md.takeRight(400))
      assert(md.contains("| p99_latency/n0 | queue/n0 |"), md.takeRight(400))
    } finally AdvisorReport.release(grid)
  }

  test("outlier-only anomalies assign buckets (cp ∪ outliers semantics, SURVEY §4)") {
    // the objective spikes once in day 2 — an outlier with NO
    // distributional change. The reference gates anomalies on
    // cp ∪ outliers but assigns buckets from change-point timestamps
    // only (metrics_advisor.py:152-155, with a comment that the two are
    // not yet distinguished); this engine deliberately buckets BOTH
    // kinds, so a spike-only objective still gets correlation advice.
    val hours = 0 until 96
    def mk(name: String, f: Int => Double) =
      hours.map(i => (name, "n0", T0 + i * 3600L, f(i)))
    val sig = (mk("click", i => 10.0 + (i % 5) + (if (i == 30) 500.0 else 0.0)) ++
      mk("cpu", i => 5.0 + (i % 5)))
      .toDF("name", "node", "tsec", "value")
    val grid = AdvisorReport.gatedGrid(sig, cfg)
    val anomalies = graft.operators.ChangePoints.anomalyUnion(
      grid.select("name", "node", "tsb", "gval"))
      .filter(col("name") === "click")
      .select("kind").as[String].collect().toSet
    assert(anomalies == Set("outlier"), s"fixture must be outlier-only: $anomalies")
    val advice = AdvisorReport.adviseOnGrid(grid, cfg).collect()
    assert(advice.nonEmpty, "outlier-only anomaly must still produce advice")
    assert(advice.forall(_.getAs[Long]("b") == T0 + 86400L),
      "advice must land in the spike's bucket")
  }

  test("bucketSeries normalizes by |max| within (signal, bucket)") {
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val advice = AdvisorReport.adviseOnGrid(grid, cfg)
    val series = AdvisorReport.bucketSeries(grid, advice)
    val rels = series.select("rel").as[Double].collect()
    assert(rels.nonEmpty)
    assert(rels.forall(v => v >= -1.0001 && v <= 1.0001), "normalization out of range")
  }

  test("the row cap applies per objective, so no objective drops out") {
    // a_obj alone has more rows than the cap; under one global cap on
    // advice sorted by objective it would fill the table by itself
    def rowsOf(obj: String, n: Int) = (0 until n).map(i =>
      (obj, "n0", T0 + i * 86400L, "cpu", "n1", 0L, 0.9, 1))
    val advice = (rowsOf("a_obj", 5) ++ rowsOf("b_obj", 2) ++ rowsOf("c_obj", 1))
      .toDF("obj_name", "obj_node", "b", "cand_name", "cand_node", "lag", "r", "rank")
      .orderBy("obj_name", "obj_node", "b", "rank")
    val md = AdvisorReport.renderMarkdown(advice, limit = 3, cfg = cfg)
    val details = md.linesIterator.filter(_.startsWith("| ")).toSeq
    Seq("a_obj" -> 3, "b_obj" -> 2, "c_obj" -> 1).foreach { case (obj, n) =>
      assert(details.count(_.contains(s"| $obj/n0 |")) == n, md)
    }
    assert(md.contains("rows cut: `a_obj` (2)."), md)
  }

  test("charts keep every sample of every wanted signal under a tight row cap") {
    // one advice row wants the objective and its candidate in one
    // bucket: 2 series × 24 hourly samples, more than a fixed 40 rows
    val grid = AdvisorReport.gatedGrid(signals, cfg)
    val md = AdvisorReport.renderMarkdown(AdvisorReport.adviseOnGrid(grid, cfg),
      Some(grid), limit = 1, cfg = cfg)
    val series = md.linesIterator.filter(_.startsWith("- bucket ")).toSeq
    assert(series.size == 2, md)
    series.foreach(l => assert(l.split(": ")(1).split(", ").length == 24, l))
  }

  test("Caches.release frees the grid advise persisted") {
    val sc = spark.sparkContext
    Caches.release()
    val before = sc.getPersistentRDDs.keySet
    val events = signals.select(col("name").as("event_type"), lit(0L).as("user_id"),
      (col("tsec") * 1000000000L).as("ts"), col("value"))
    assert(AdvisorReport.advise(events, cfg).collect().nonEmpty)
    Caches.release()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"advise left ${added.size} cached RDD(s) behind")
  }
}
