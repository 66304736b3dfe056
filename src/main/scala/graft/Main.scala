package graft

import graft.report.AdvisorReport
import graft.sources.{MetricsCsv, MetricsProm, MetricsTar}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The CLI the reference exposes (`python metrics_advisor.py <bundle>`,
  * metrics_advisor.py main): metrics bundle in → markdown advisor
  * report out.
  *
  * Usage:
  *   graft.Main <bundle.tar.gz | csv-dir> [out.md] [obj1,obj2,...]
  *
  * The bundle is read with MetricsTar (.tar.gz/.tgz), MetricsProm
  * (.prom/.txt Prometheus exposition dumps) or MetricsCsv (directory
  * of reshaped CSVs); the advisor pipeline runs distributed and only
  * the final ranked rows are collected for rendering.
  */
object Main {

  /** The reference's default objective set for real metrics bundles
    * (metrics_advisor.py:142 `obj_signals`).
    */
  val RefObjectives: Seq[String] =
    Seq("tidb_p99_rt:total", "tidb_p99_get_token_dur", "tidb_heap_size:by_instance")

  /** Native sample step of a signal frame: each (name, node) series'
    * smallest positive timestamp delta, then the MODE across series
    * (smallest step on ties). The reference hardcodes 15 s for its
    * bundles (metrics_advisor.py:125); inferring it keeps one CLI
    * working for 15 s TiDB bundles and hourly synthetic dumps alike.
    * Per-series first matters: the old union-of-all-timestamps min
    * would infer 5 s from two 15 s metrics scraped 5 s out of phase
    * and shift every bucket boundary. Bounded collect: one row.
    */
  private def inferStepSec(signals: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("name", "node").orderBy("tsec")
    val perSeries = signals.select(col("name"), col("node"), col("tsec"))
      .withColumn("d", col("tsec") - lag("tsec", 1).over(w))
      .filter(col("d") > 0)
      .groupBy("name", "node").agg(min("d").as("step"))
    val mode = perSeries.groupBy("step").count()
      .orderBy(col("count").desc, col("step").asc)
      .limit(1).collect()
    if (mode.isEmpty) 3600L else mode(0).getLong(0)
  }

  /** One advisor pass, each layer computed once: the cleaned signals
    * feed step inference and the grid build from one scan, and one
    * objective anomaly pass feeds both the advice join and the chart
    * markers. Every frame persisted here is released before returning,
    * also when the pass throws.
    */
  def run(spark: SparkSession, input: String, objNames: Seq[String]): String = {
    val signals = (
      // any tar spelling routes to the sniffing tar reader — the
      // shipped bundles include plain-tar `cluster-4048.gz.tar`
      if (input.endsWith(".tar.gz") || input.endsWith(".tgz") ||
          input.endsWith(".tar") || input.endsWith(".gz"))
        MetricsTar.read(spark, input)
      else if (input.endsWith(".prom") || input.endsWith(".txt"))
        MetricsProm.signals(spark, input)
      else MetricsCsv.read(spark, input)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    var grid: Option[DataFrame] = None
    var anomalies: Option[DataFrame] = None
    try {
      // bucket = 40 samples, the reference's count_bucket × sample step
      // (metrics_advisor.py:124-125: 40 × 15 s = 10 min on its bundles)
      val step = inferStepSec(signals)
      val cfg = AdvisorReport.Config(objNames = objNames,
        stepSec = step, bucketSec = 40L * step)
      val g = AdvisorReport.gatedGrid(signals, cfg)
      grid = Some(g)
      val a = AdvisorReport.objectiveAnomalies(g, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      anomalies = Some(a)
      // the detector's series-length stash has scanned, and so cached,
      // the whole grid: nothing reads the signals again
      signals.unpersist()
      val advice = AdvisorReport.adviseOnGrid(g, cfg, a)
      AdvisorReport.renderMarkdown(advice, Some(g), cfg = cfg, anomalies = Some(a))
    } finally {
      signals.unpersist()
      grid.foreach(AdvisorReport.release)
      anomalies.foreach(_.unpersist())
    }
  }

  def main(args: Array[String]): Unit = {
    val curate = args.headOption.contains("--curate")
    val rest = if (curate) args.drop(1) else args
    if (rest.isEmpty) {
      System.err.println(
        "usage: graft.Main <bundle.tar.gz | csv-dir> [out.md] [obj1,obj2,...]\n" +
        "       graft.Main --curate <docs.jsonl | parquet-path> [out.md]")
      sys.exit(2)
    }
    val input = rest(0)
    val outPath = if (rest.length > 1) rest(1) else "report.md"
    val objNames =
      if (!curate && rest.length > 2) rest(2).split(",").toSeq
      else RefObjectives
    val spark = GraftSession.build()
    val report =
      if (curate) graft.report.CurationReport.run(spark, input)
      else run(spark, input, objNames)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), report)
    println(s"wrote $outPath")
    spark.stop()
  }
}
