package perfbench

import graft.{Caches, Main, SparkEntry, Tables}
import graft.operators.{ChangePoints, Correlate}
import graft.report.AdvisorReport
import graft.sources.{MetricsCsv, MetricsTar}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One JVM of a benchmark run, driven by `perfbench/run.py`.
  *
  *   --kind advisor|suite   which public entry point to drive
  *   --trace 0|1            1: force each layer under a span (see README)
  *   --seconds S            measure passes until S seconds have passed
  *   --launched-ms T        wall clock at JVM launch, for setup time
  *   --warm P, --input P    advisor: bundle tar paths; suite: table dirs
  *   --queries F            suite: file of query names, in run order
  *   --step S               advisor: sample step of the bundle (traced DAG)
  *   --cpus N, --out F      local[N] session; result JSON file
  *
  * Every call into the program is wrapped so a throw is recorded as a
  * failure with its message, never as a timing.
  */
object Harness {

  private val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val kind = a("kind")
    val cpus = a("cpus")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // the settings of graft.Main (advisor) and graft.Bench (suite)
    val spark = (if (kind == "advisor") b.config("spark.sql.session.timeZone", "UTC")
                 else b.config("spark.sql.adaptive.enabled", "true")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.prepare(spark)
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3

    val queries = a.get("queries").map(f =>
      Files.readAllLines(Paths.get(f)).toArray(Array.empty[String]).toSeq.filter(_.nonEmpty))
    val warm = System.nanoTime()
    // two untimed passes: the first measured pass after a single one
    // was still 10-20% slower than the next while the JIT settled
    for (_ <- 1 to WarmPasses) kind match {
      case "advisor" => advisorPass(spark, a("warm")); release(spark); sweep()
      case "suite" => suitePass(spark, queries.get, a("warm"), None)
    }
    val warmS = (System.nanoTime() - warm) / 1e9
    val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3
    val head = Map("setup_s" -> setupS, "session_s" -> sessionS, "warm_s" -> warmS)

    val seconds = a("seconds").toDouble
    val tracer =
      if (a("trace") == "1") {
        val p = new Probe
        spark.sparkContext.addSparkListener(p)
        Some(new Tracer(spark.sparkContext, p))
      } else None
    val body = kind match {
      case "advisor" => advisorRun(spark, a("input"), a("step").toLong, seconds, tracer)
      case "suite" => suiteRun(spark, queries.get, a("input"), seconds, tracer)
    }
    Files.writeString(Paths.get(a("out")), Json(head ++ body))
    spark.stop()
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Passes still get faster after the warm-up as the JIT settles, so a
    * traced run brackets its traced pass between two untraced ones.
    */
  private def minPasses(tracer: Option[Tracer]): Int = if (tracer.isDefined) 3 else 2

  private def attempt[T](f: => T): Either[String, T] =
    try Right(f) catch { case e: Throwable => Left(e.toString.take(500)) }

  /** Release what a pass cached and return what is still persisted. */
  private def release(spark: SparkSession): Int = {
    Caches.release()
    spark.catalog.clearCache()
    Caches.trackedCount + spark.sparkContext.getPersistentRDDs.size
  }

  /** Delete the temp dirs the metrics sources leave behind; returns bytes. */
  private def sweep(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val left = Files.list(tmp).toArray(n => new Array[Path](n))
      .filter(_.getFileName.toString.startsWith("graft_metrics_"))
    left.map { d =>
      val all = Files.walk(d).toArray(n => new Array[Path](n)).reverse
      val bytes = all.filter(p => Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .map(Files.size).sum
      all.foreach(Files.delete)
      bytes
    }.sum
  }

  // ---------------------------------------------------------------- advisor

  private def advisorPass(spark: SparkSession, tar: String): Either[String, String] =
    attempt(Main.run(spark, tar, Main.RefObjectives))

  private def advisorRun(spark: SparkSession, tar: String, step: Long, seconds: Double,
                         tracer: Option[Tracer]): Map[String, Any] = {
    val reportDir = Files.createDirectories(Paths.get(tar).resolveSibling("reports"))
    val passes = Seq.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    var k = 0
    // traced runs alternate untraced and traced passes so the overhead
    // is measured under the same conditions
    while (k < minPasses(tracer) || elapsed(t0) < seconds) {
      val traced = tracer.isDefined && k % 2 == 1
      val s = System.nanoTime()
      val r =
        if (traced) tracedAdvisor(spark, tracer.get, tar, step)
        else advisorPass(spark, tar)
      val wall = elapsed(s)
      val leaked = release(spark)
      val tmp = sweep()
      val path = reportDir.resolve(s"report-$k.md")
      r.foreach(Files.writeString(path, _))
      passes += Map("wall" -> wall, "traced" -> traced, "leaked" -> leaked, "tmp_b" -> tmp,
        "report" -> r.map(_ => path.toString).toOption, "error" -> r.left.toOption)
      k += 1
    }
    Map("passes" -> passes.result()) ++ tracer.map(t => "spans" -> t.spans.toSeq)
  }

  /** AdvisorReport's per-bucket range gate, the input `adviseOnGrid`
    * gives `Correlate.nccLag`: a candidate flat within a bucket never
    * ranks in it. The gate is private there, so it is called by
    * reflection, and `ncc.cells` counts the program's own cells. If the
    * method is gone, a copy of the gate as first written stands in, and
    * the span says so with `gate_copy = 1`.
    */
  private def gateBuckets(grid: DataFrame, cfg: AdvisorReport.Config): (DataFrame, Int) =
    AdvisorReport.getClass.getDeclaredMethods
      .find(m => m.getName.endsWith("gateBuckets") && m.getParameterCount == 2) match {
      case Some(m) =>
        m.setAccessible(true)
        (m.invoke(AdvisorReport, grid, cfg).asInstanceOf[DataFrame], 0)
      case None =>
        System.err.println("[perfbench] AdvisorReport.gateBuckets not found: ncc.cells " +
          "counts the harness's copy of the gate, not the program's")
        val w = Window.partitionBy("name", "node", "b")
        (grid.withColumn("_rng", graft.Num.r4(max("gval").over(w) - min("gval").over(w)))
          .filter(col("_rng") > cfg.minRange).drop("_rng"), 1)
    }

  /** The advisor with every layer forced by its own action, all on one
    * persisted grid: untar, read, scan, grid, anomaly, ncc, granger,
    * drift, render.
    */
  private def tracedAdvisor(spark: SparkSession, tr: Tracer, tar: String,
                            step: Long): Either[String, String] = {
    val cfg = AdvisorReport.Config(objNames = Main.RefObjectives, stepSec = step,
      bucketSec = 40L * step)
    val isObj = col("name").isin(cfg.objNames: _*)
    tr.pass += 1
    attempt(tr.span("advisor.pass") {
      val dir = tr.spanWith("ingest.untar")(MetricsTar.extractCsvs(tar),
        (d: Path) => Map("files" -> Files.list(d).count()))
      val signals = tr.span("ingest.read")(MetricsCsv.read(spark, dir.toString))
      tr.spanWith("ingest.scan")(
        signals.groupBy("name", "node").count().agg(count(lit(1)), sum("count")).head(),
        (r: Row) => Map("series" -> r.getLong(0), "rows" -> r.getLong(1)))
      val grid = AdvisorReport.gatedGrid(signals, cfg)
      val perSeries = tr.spanWith("grid")(
        grid.groupBy("name", "node").count().collect(),
        (rs: Array[Row]) => Map("series_kept" -> rs.length,
          "cells" -> rs.map(_.getLong(2)).sum,
          "cached_b" -> spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
      val objSeries = perSeries.count(r => cfg.objNames.contains(r.getString(0)))
      tr.spanWith("anomaly")(
        ChangePoints.anomalyUnion(grid.filter(isObj).select("name", "node", "tsb", "gval"),
          bucket = cfg.bucketSec, permutations = cfg.permutations,
          maxPoints = cfg.maxPoints).collect(),
        (rs: Array[Row]) => Map("series" -> objSeries, "points" -> rs.length))
      tr.span("ncc") {
        val cells = tr.spanWith("ncc.cells")({
          val (gated, copy) = gateBuckets(grid, cfg)
          val c = Correlate.nccLag(gated, cfg.objNames).persist()
          (c, c.count(), copy)
        }, (p: (DataFrame, Long, Int)) => Map("cells" -> p._2, "gate_copy" -> p._3))._1
        tr.spanWith("ncc.rank")(Correlate.topCorr(cells, cfg.topK).count(),
          (n: Long) => Map("ranked" -> n))
        cells.unpersist(true)
      }
      tr.spanWith("granger")(
        Correlate.grangerF(grid.select("name", "node", "tsb", "gval"), cfg.objNames)
          .agg(count(lit(1)), sum(when(col("p_value") < 0.05, 1).otherwise(0))).head(),
        (r: Row) => Map("pairs" -> r.getLong(0), "significant" -> r.getLong(1)))
      tr.spanWith("drift")(AdvisorReport.driftSignals(grid).collect(),
        (rs: Array[Row]) => Map("drifting" -> rs.length,
          "pair_rows" -> perSeries.map { r => val n = r.getLong(2); n * (n - 1) / 2 }.sum))
      val report = tr.spanWith("render")(
        AdvisorReport.renderMarkdown(AdvisorReport.adviseOnGrid(grid, cfg), Some(grid), cfg = cfg),
        (s: String) => Map("bytes" -> s.getBytes("UTF-8").length))
      AdvisorReport.release(grid)
      report
    })
  }

  // ------------------------------------------------------------------ suite

  private def suitePass(spark: SparkSession, names: Seq[String], dir: String,
                        tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val qs = SparkEntry.queries
    names.map { name =>
      val s = System.nanoTime()
      val r = attempt {
        val fn = qs.getOrElse(name, throw new NoSuchElementException(s"unknown query $name"))
        tracer match {
          case None => fn(spark, dir).count()
          case Some(tr) => tr.spanWith("suite.query")({
              val df = tr.span("suite.build")(fn(spark, dir))
              tr.span("suite.plan")(df.queryExecution.executedPlan)
              tr.span("suite.exec")(df.count())
            }, (_: Long) => Map("query" -> name))
        }
      }
      val wall = elapsed(s)
      val leaked = release(spark)
      Map("name" -> name, "wall" -> wall, "leaked" -> leaked,
        "count" -> r.toOption, "error" -> r.left.toOption)
    }
  }

  private def suiteRun(spark: SparkSession, names: Seq[String], dir: String, seconds: Double,
                       tracer: Option[Tracer]): Map[String, Any] = {
    val passes = Seq.newBuilder[Map[String, Any]]
    val t0 = System.nanoTime()
    var k = 0
    while (k < minPasses(tracer) || elapsed(t0) < seconds) {
      val traced = tracer.isDefined && k % 2 == 1
      tracer.foreach(_.pass = k)
      passes += Map("traced" -> traced,
        "queries" -> suitePass(spark, names, dir, if (traced) tracer else None))
      k += 1
    }
    Map("passes" -> passes.result()) ++ tracer.map(t => "spans" -> t.spans.toSeq)
  }
}
