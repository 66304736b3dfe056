package graft

import graft.report.AdvisorReport
import graft.sources.MetricsCsv
import java.nio.file.{Files, Path}

/** A known answer for the whole advisor, `Main.run`, on a bundle this
  * suite writes itself: TiDB-shaped, colon-named wide CSVs at a 15 s
  * step, 480 samples (12 buckets of 40). Planted: a level shift on one
  * reference objective, a candidate on the same instance that carries
  * the same step `Lag` samples later, a single-sample spike on a second
  * reference objective in another bucket, one flat series, a background
  * series with an empty and a `NaN` cell, `inf` and `-Infinity` cells on
  * the candidate outside the shift's bucket, and a CSV with a
  * `timestamp` column and no instance column. A second known answer
  * runs a Prometheus dump with `NaN` and `+Inf` samples.
  */
class AdvisorKnownAnswerSpec extends SparkTestBase {
  private val Step = 15L
  private val Samples = 480
  private val BucketSamples = 40
  private val Start = 1700000400L // a multiple of 40 × 15 s: buckets align with the data
  private val Inst = "inst-0:20180"
  private val Objective = "tidb_p99_rt:total"
  private val Leader = "tikv_lead_wait:by_instance"
  private val Flat = "pd_flat_gauge:total"
  private val ShiftBucket = 6
  private val ShiftAt = ShiftBucket * BucketSamples + 18
  private val Lag = 2
  private val Spiked = "tidb_p99_get_token_dur"
  private val SpikeAt = 2 * BucketSamples + 20
  private val NoColumns = "tidb_no_instance:total"

  /** Writes the bundle; returns the metric names written. */
  private def writeBundle(dir: Path): Seq[String] = {
    val rng = new scala.util.Random(31L)
    def noise(level: Double, scale: Double) =
      Array.fill(Samples)(level + scale * (2 * rng.nextDouble() - 1))
    val obj = noise(50.0, 1.0)
    for (i <- ShiftAt until Samples) obj(i) += 10.0
    val leader = noise(20.0, 1.0)
    // candidate sample i + Lag mirrors objective sample i
    for (i <- ShiftAt + Lag until Samples) leader(i) += 20.0
    def fmt(xs: Array[Double]) = xs.map(v => "%.2f".formatLocal(java.util.Locale.ROOT, v))
    val spiked = noise(30.0, 1.0)
    spiked(SpikeAt) += 15.0
    val leaderCells = fmt(leader)
    leaderCells(2 * BucketSamples + 5) = "inf"
    leaderCells(9 * BucketSamples + 30) = "-Infinity"
    val background = fmt(noise(60.0, 3.0))
    background(100) = ""
    background(300) = "NaN"
    val metrics = Seq(
      Objective -> fmt(obj),
      Leader -> leaderCells,
      Spiked -> fmt(spiked),
      Flat -> Array.fill(Samples)("7.00"),
      "node_io_util:by_instance" -> background)
    metrics.foreach { case (name, cells) =>
      val lines = s"timestamp,$Inst" +: cells.indices.map(i => s"${Start + Step * i},${cells(i)}")
      Files.writeString(dir.resolve(s"$name.csv"), lines.mkString("", "\n", "\n"))
    }
    val stamps = "timestamp" +: (0 until Samples).map(i => (Start + Step * i).toString)
    Files.writeString(dir.resolve(s"$NoColumns.csv"), stamps.mkString("", "\n", "\n"))
    metrics.map(_._1) :+ NoColumns
  }

  test("Main.run ranks the planted leading candidate first at its lag in the shift's bucket") {
    val dir = Files.createTempDirectory("advisor_known")
    val written = writeBundle(dir)
    val md = Main.run(spark, dir.toString, Main.RefObjectives)

    val details = md.linesIterator.dropWhile(!_.startsWith("## Details")).drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(l => l.startsWith("| ") && !l.startsWith("| bucket") && !l.startsWith("| ---"))
      .map(_.stripPrefix("|").split('|').map(_.trim).toSeq).toSeq
    val bucket = Start + ShiftBucket * BucketSamples * Step
    val here = details.filter(c => c(0) == bucket.toString && c(1) == s"$Objective/$Inst")
    assert(here.nonEmpty, s"the shift's bucket $bucket is not reported:\n$md")
    val top = here.filter(_(5) == "1")
    assert(top.map(c => (c(2), c(3))) == Seq((s"$Leader/$Inst", Lag.toString)),
      s"rank 1 in bucket $bucket is $top")
    assert(md.contains(s"### bucket $bucket"), "the shift's bucket has no chart")
    assert(!md.contains(Flat), "the flat series reached the report")
    assert(!md.contains(NoColumns), "the column-less metric reached the report")
    Main.RefObjectives.filter(written.contains).foreach { o =>
      assert(md.contains(s"| $o/"), s"objective $o missing from Details")
    }

    // the outlier branch: the spike is flagged at its own grid time
    val cfg = AdvisorReport.Config(objNames = Main.RefObjectives,
      stepSec = Step, bucketSec = BucketSamples * Step)
    val grid = AdvisorReport.gatedGrid(
      MetricsCsv.read(spark, dir.toString), cfg)
    val flagged = AdvisorReport.objectiveAnomalies(grid, cfg)
      .filter(s"name = '$Spiked' AND kind = 'outlier'")
      .select("node", "tsb").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(flagged.contains((Inst, Start + Step * SpikeAt)),
      s"no outlier at the spike's grid time: $flagged")
    Caches.release()
  }

  test("a warm Main.run pass runs at most 12 jobs and caches only the signals and the grid") {
    val dir = Files.createTempDirectory("advisor_budget")
    writeBundle(dir)
    val sc = spark.sparkContext
    Main.run(spark, dir.toString, Main.RefObjectives) // warm-up
    val jobs = new TaskSkewListener
    // RDDs that stored a block while the pass ran: its cached frames
    val cached = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val blocks = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId.asRDDId
          .filter(_ => e.blockUpdatedInfo.storageLevel.isValid)
          .foreach(id => cached.add(id.rddId))
    }
    sc.addSparkListener(jobs)
    sc.addSparkListener(blocks)
    try {
      val persisted = sc.getPersistentRDDs.keySet
      val tracked = Caches.trackedCount
      jobs.reset()
      Main.run(spark, dir.toString, Main.RefObjectives)
      val c = jobs.settledCounters()
      assert(c.jobs <= 12, s"${c.jobs} jobs: ${c.sites.mkString("; ")}")
      assert(cached.size == 2, s"the pass cached ${cached.size} frames, not the signals and the grid")
      assert(Caches.trackedCount == tracked, "the pass left a tracked frame behind")
      assert(sc.getPersistentRDDs.keySet == persisted, "the pass left a frame cached")
    } finally {
      sc.removeSparkListener(jobs)
      sc.removeSparkListener(blocks)
    }
  }

  test("Main.run drops NaN and +Inf samples of a Prometheus dump") {
    // the exposition format allows both; the grid cannot average them
    val rng = new scala.util.Random(7L)
    val n = 3 * BucketSamples
    val shiftAt = BucketSamples + 18
    val obj = Array.tabulate(n)(i => 50.0 + rng.nextDouble() + (if (i >= shiftAt) 10.0 else 0.0))
    val cand = Array.tabulate(n)(i => 20.0 + rng.nextDouble() + (if (i >= shiftAt) 20.0 else 0.0))
    def lines(name: String, xs: Array[Double], special: Int, v: String) =
      xs.indices.map { i =>
        val cell = if (i == special) v else "%.2f".formatLocal(java.util.Locale.ROOT, xs(i))
        s"""$name{instance="$Inst"} $cell ${(Start + Step * i) * 1000}"""
      }
    val dir = Files.createTempDirectory("advisor_prom")
    val dump = dir.resolve("metrics.prom")
    Files.writeString(dump, (lines(Objective, obj, 10, "NaN") ++
      lines(Leader, cand, 2 * BucketSamples + 5, "+Inf")).mkString("", "\n", "\n"))
    val md = Main.run(spark, dump.toString, Seq(Objective))
    val bucket = Start + BucketSamples * Step
    assert(md.contains(s"| $bucket | $Objective/$Inst | $Leader/$Inst | 0 |"),
      s"the shift's bucket does not rank the candidate:\n$md")
  }
}
