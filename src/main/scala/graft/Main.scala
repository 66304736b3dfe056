package graft

import graft.Caches._
import graft.operators.TimeSeries
import graft.report.AdvisorReport
import graft.sources.{MetricsCsv, MetricsProm, MetricsTar, TempDirs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
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

  /** One advisor pass, each layer computed once: the cleaned signals
    * feed step inference and the grid build from one scan. The objective
    * anomalies and the objective series are collected once, before NCC
    * (`AdvisorReport.objectives`), and those driver-side rows feed NCC,
    * which scores only the anomalous buckets, the chart markers and
    * Granger. The signals and the grid are all the pass tracks. It
    * leaves nothing behind, also when it throws: it releases exactly the
    * frames tracked while it ran (frames cached before the call stay
    * cached), then deletes the temp dirs its ingest made (the untarred
    * bundle and the link dir).
    *
    * The step is inferred (`TimeSeries.sampleStep`): the reference
    * hardcodes 15 s for its bundles (metrics_advisor.py:125); inferring
    * it keeps one CLI working for 15 s TiDB bundles and hourly
    * synthetic dumps alike.
    */
  def run(spark: SparkSession, input: String, objNames: Seq[String]): String = {
    val tmp = new TempDirs
    try Caches.scoped {
      val signals = (
        // any tar spelling routes to the sniffing tar reader — the
        // shipped bundles include plain-tar `cluster-4048.gz.tar`
        if (input.endsWith(".tar.gz") || input.endsWith(".tgz") ||
            input.endsWith(".tar") || input.endsWith(".gz"))
          MetricsCsv.read(spark, MetricsTar.extractCsvs(input, tmp).toString, minSamples = 20, tmp)
        else if (input.endsWith(".prom") || input.endsWith(".txt"))
          // NaN and ±Inf are valid exposition samples, but the advisor
          // drops them at ingest as MetricsCsv does
          MetricsProm.signals(spark, input).filter(Num.finite(col("value")))
        else MetricsCsv.read(spark, input, minSamples = 20, tmp)
      ).persist(StorageLevel.MEMORY_AND_DISK).tracked
      // bucket = 40 samples, the reference's count_bucket × sample step
      // (metrics_advisor.py:124-125: 40 × 15 s = 10 min on its bundles),
      // and the reference's seasonal cutoff of 0.01 cycles per sample
      // (metrics_advisor.py:57: f_min = 0.01 / T)
      val step = TimeSeries.sampleStep(signals)
      val cfg = AdvisorReport.Config(objNames = objNames,
        stepSec = step, bucketSec = 40L * step, fMin = 0.01 / step)
      val g = AdvisorReport.gatedGrid(signals, cfg)
      val objs = AdvisorReport.objectives(g, cfg)
      AdvisorReport.renderMarkdown(AdvisorReport.adviseOnGrid(g, cfg, objs), Some(g),
        cfg = cfg, objectives = Some(objs))
    } finally tmp.deleteAll()
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
