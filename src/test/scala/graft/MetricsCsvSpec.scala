package graft

import graft.sources.MetricsCsv
import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MetricsCsvSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marked sentinel job is run after
    * `body` and awaited: once it is seen, every earlier job is too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        phases.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.phase")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.phase", "body")
      val out = try body finally sc.setLocalProperty("graft.spec.phase", null)
      sc.setLocalProperty("graft.spec.phase", "sentinel")
      try spark.range(1).count() finally sc.setLocalProperty("graft.spec.phase", null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!phases.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(phases.contains("sentinel"), "sentinel job never reached the listener")
      (out, phases.toArray.count(_ == "body"))
    } finally sc.removeSparkListener(listener)
  }

  /** The per-file read `MetricsCsv` used before it read headers
    * itself: Spark infers each header (one job per file), then the same
    * melt, NaN drop and sample gate.
    */
  private def inferredRead(dir: Path, minSamples: Int): DataFrame = {
    val links = Files.createTempDirectory("metrics_csv_ref")
    val parts = Files.list(dir).toArray(n => new Array[Path](n)).toSeq.sortBy(_.toString)
      .filter(_.getFileName.toString.endsWith(".csv")).flatMap { p =>
        val file = p.getFileName.toString
        val link = links.resolve(file.replace(":", "__"))
        Files.createSymbolicLink(link, p)
        val df = spark.read.option("header", "true").option("inferSchema", "false")
          .csv(link.toUri.toString)
        val valueCols = df.columns.filter(_ != "timestamp")
        if (valueCols.isEmpty || !df.columns.contains("timestamp")) None
        else Some(df.selectExpr(
          s"'${file.stripSuffix(".csv")}' AS name",
          "CAST(timestamp AS BIGINT) AS tsec",
          s"stack(${valueCols.length}, " +
            valueCols.map(c => s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") + ") AS (node, value)"))
      }
    val clean = parts.reduce(_.unionByName(_))
      .filter(col("value").isNotNull && !isnan(col("value")))
    val keep = clean.groupBy("name", "node").agg(count(lit(1)).as("n"))
      .filter(col("n") > minSamples).select("name", "node")
    clean.join(keep, Seq("name", "node")).select("name", "node", "tsec", "value")
  }

  test("headers read without a job name columns as Spark's header inference does") {
    // a dir path with a space
    val dir = Files.createDirectory(Files.createTempDirectory("metrics_csv_headers").resolve("a bundle"))
    def write(file: String, header: String, rows: Int => String): Unit =
      Files.writeString(dir.resolve(file),
        (header +: (0 until 30).map(rows)).mkString("\n") + "\n")
    val t = (i: Int) => 1640588307L + i * 15
    // colon-named file with quoted header names, one holding a comma
    write("node_cpu:by_instance.csv", "timestamp,\"host a:9100\",\"b,c\"",
      i => s"${t(i)},${i * 1.5},${i * 2.5}")
    // duplicate names, also differing only in case
    write("dup:names.csv", "timestamp,h1,h1,H1", i => s"${t(i)},$i,${i + 1},${i + 2}")
    // an empty name, with a blank line before the header
    write("empty_name.csv", "\ntimestamp,,h2", i => s"${t(i)},${i * 0.5},${-i}")
    // no value columns at all: skipped
    write("no_values.csv", "timestamp", i => s"${t(i)}")
    // below the sample gate
    Files.writeString(dir.resolve("tiny.csv"), "timestamp,h\n1,2\n3,4\n")
    // numeric instance names, timestamp not first, five columns
    write("latency.csv", "10,11,timestamp,12,\"7\"",
      i => s"${i * 0.25},${i % 3},${t(i)},${-i * 2.0},$i")
    // rows shorter than the header (missing cells are NULL) and longer
    // (extra cells are cut)
    write("ragged.csv", "timestamp,r1,r2",
      i => if (i % 5 == 0) s"${t(i)},$i" else if (i % 5 == 1) s"${t(i)},$i,${i + 1},99,98"
           else s"${t(i)},$i,${i * 3}")

    val (read, jobs) = jobsDuring(MetricsCsv.read(spark, dir.toString))
    assert(jobs == 0, s"MetricsCsv.read started $jobs job(s)")
    val (ref, refJobs) = jobsDuring(inferredRead(dir, 20))
    assert(refJobs > 0, "the listener must see the inferred read's header jobs")
    val got = read.as[(String, String, Long, Double)].collect().sorted
    val want = ref.as[(String, String, Long, Double)].collect().sorted
    assert(got.toSeq == want.toSeq)
    assert(got.map(r => (r._1, r._2)).distinct.toSet == Set(
      ("node_cpu:by_instance", "host a:9100"), ("node_cpu:by_instance", "b,c"),
      ("dup:names", "h11"), ("dup:names", "h12"), ("dup:names", "H13"),
      ("empty_name", "_c1"), ("empty_name", "h2"),
      ("latency", "10"), ("latency", "11"), ("latency", "12"), ("latency", "7"),
      ("ragged", "r1"), ("ragged", "r2")))
    // cells past the header are dropped, missing cells are NULL
    assert(got.count(r => r._1 == "ragged" && r._2 == "r1") == 30)
    assert(got.count(r => r._1 == "ragged" && r._2 == "r2") == 24)
    assert(!got.exists(r => r._1 == "ragged" && (r._4 == 99.0 || r._4 == 98.0)))
  }

  /** The file scans `read` plans, each as the source files it reads
    * (links resolved).
    */
  private def scans(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq.map { f =>
          val p = java.nio.file.Paths.get(new java.net.URI(f))
          (if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p) else p).getFileName.toString
        }.sorted
    }

  test("read plans one file scan over exactly the usable CSVs") {
    val dir = Files.createTempDirectory("metrics_csv_scans")
    val rows = (0 until 30).map(i => s"${1640588307L + i * 15},$i,${i * 0.5}")
    for (f <- Seq("node_cpu:by_instance.csv", "qps.csv", "disk_io.csv"))
      Files.writeString(dir.resolve(f), ("timestamp,h1,h2" +: rows).mkString("\n"))
    // below the sample gate, but usable: scanned like the others
    Files.writeString(dir.resolve("tiny.csv"), "timestamp,h\n1,2\n3,4\n")
    // no value columns, no timestamp, or not a CSV: never scanned
    Files.writeString(dir.resolve("no_values.csv"), "timestamp\n1\n2\n")
    Files.writeString(dir.resolve("no_ts.csv"), "time,h\n1\n2\n")
    Files.writeString(dir.resolve("notes.txt"), "timestamp,h\n1,2\n")
    assert(scans(MetricsCsv.read(spark, dir.toString)) ==
      Seq(Seq("disk_io.csv", "node_cpu:by_instance.csv", "qps.csv", "tiny.csv")))
  }

  test("read starts no job and plans one scan for 40 CSVs") {
    // Spark lists more than 32 explicit paths in a job; one root does not
    val dir = Files.createTempDirectory("metrics_csv_wide")
    val rows = (0 until 25).map(i => s"${1640588307L + i * 15},$i,${i * 0.5}")
    for (k <- 0 until 40)
      Files.writeString(dir.resolve(s"m:$k.csv"), ("timestamp,a,b" +: rows).mkString("\n"))
    val (read, jobs) = jobsDuring(MetricsCsv.read(spark, dir.toString))
    assert(jobs == 0, s"MetricsCsv.read started $jobs job(s)")
    assert(scans(read).map(_.length) == Seq(40))
    assert(read.count() == 40 * 2 * 25)
    assert(read.select("name").distinct().count() == 40)
  }

  test("colliding colon names keep their own samples") {
    // both names sanitize to a__b: one link must not stand for both
    val dir = Files.createTempDirectory("metrics_csv_collide")
    def write(file: String, base: Int): Unit =
      Files.writeString(dir.resolve(file),
        ("timestamp,h" +: (0 until 30).map(i => s"${1640588307L + i * 15},${base + i}")).mkString("\n"))
    write("a:_b.csv", 100)
    write("a_:b.csv", 500)
    val got = MetricsCsv.read(spark, dir.toString).groupBy("name")
      .agg(min("value"), max("value"), count(lit(1))).as[(String, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("a:_b", 100.0, 129.0, 30L), ("a_:b", 500.0, 529.0, 30L)))
  }

  test("file names that need URL encoding keep their layouts") {
    // Spark reports scanned files URL-encoded (a%20b, a%25b)
    val dir = Files.createTempDirectory("metrics_csv_encoded")
    for ((f, base) <- Seq("disk io.csv" -> 0, "cpu%busy.csv" -> 100, "net#rx.csv" -> 200))
      Files.writeString(dir.resolve(f),
        ("timestamp,h" +: (0 until 30).map(i => s"${1640588307L + i * 15},${base + i}")).mkString("\n"))
    val got = MetricsCsv.read(spark, dir.toString).groupBy("name").agg(min("value"), count(lit(1)))
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("cpu%busy", 100.0, 30L), ("disk io", 0.0, 30L), ("net#rx", 200.0, 30L)))
  }

  test("reads wide reshape CSVs into long signals with min-sample gate") {
    val dir = Files.createTempDirectory("metrics_csv").toFile
    val f1 = new java.io.File(dir, "node_cpu:by_instance.csv")
    val rows = (0 until 25).map(i => s"${1640588307 + i * 15},${i * 1.5},${i * 2.5}")
    // NaN / empty cells are dropped on ingest (the reference's dropna):
    // one extra row carrying only junk must change nothing downstream
    val junk = s"${1640588307 + 25 * 15},NaN,"
    Files.writeString(f1.toPath,
      ("timestamp,host1:9100,host2:9100" +: rows :+ junk).mkString("\n"))
    // a file below the sample gate
    val f2 = new java.io.File(dir, "tiny.csv")
    Files.writeString(f2.toPath, "timestamp,h\n1,2\n3,4")

    val out = MetricsCsv.read(spark, dir.getAbsolutePath, minSamples = 20)
    val names = out.select("name").distinct().as[String].collect().toSet
    assert(names == Set("node_cpu:by_instance"))
    assert(out.count() == 50)
    val one = out.filter("node = 'host1:9100' AND tsec = 1640588307")
      .select("value").as[Double].head()
    assert(one == 0.0)
  }

  test("Main.run produces a markdown report from a CSV bundle dir") {
    val dir = Files.createTempDirectory("metrics_cli").toFile
    // an objective signal with a step change plus two candidates; hourly
    // points across 4 days so the advisor grid has substance
    val hours = 0 until 96
    def series(f: Int => Double) = hours.map(i => f(i))
    val ts = hours.map(i => 1640563200L + i * 3600L)
    val obj = series(i => if (i < 48) 10.0 + (i % 5) else 80.0 + (i % 7))
    val cand = series(i => if (i < 48) 5.0 + (i % 3) else 40.0 + (i % 4))
    val flat = series(_ => 7.0)
    for ((nm, vals) <- Seq("qps" -> obj, "cpu" -> cand, "disk" -> flat)) {
      val rows = ts.zip(vals).map { case (t, v) => s"$t,$v" }
      Files.writeString(new java.io.File(dir, s"$nm.csv").toPath,
        ("timestamp,n0" +: rows).mkString("\n"))
    }
    val report = Main.run(spark, dir.getAbsolutePath, objNames = Seq("qps"))
    assert(report.startsWith("# Metrics advisor report"))
    assert(report.contains("| bucket |"))
    // the reference's deliverable also carries the normalized series of
    // every plotted signal, and its 0.005 variance gate must keep the
    // flat candidate out of the whole report
    assert(report.contains("## Normalized series per anomalous bucket"))
    assert(!report.contains("disk"), "flat signal leaked into the report")
  }

  test("Main.run leaves nothing cached, whether the pass succeeds or throws") {
    val dir = Files.createTempDirectory("metrics_cli_cache")
    val hours = 0 until 96
    val ts = hours.map(i => 1640563200L + i * 3600L)
    def write(name: String, f: Int => Double): Unit =
      Files.writeString(dir.resolve(s"$name.csv"),
        ("timestamp,n0" +: hours.map(i => s"${ts(i)},${f(i)}")).mkString("\n"))
    write("qps", i => if (i < 48) 10.0 + (i % 5) else 80.0 + (i % 7))
    write("cpu", i => if (i < 48) 5.0 + (i % 3) else 40.0 + (i % 4))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    Main.run(spark, dir.toString, objNames = Seq("qps"))
    Caches.release()
    assert(cache.isEmpty, "Main.run left persisted frames behind")

    // a timestamp that is not a number reaches the grid build as a NULL
    // cell and fails the pass after the signals and the grid are persisted
    Files.writeString(dir.resolve("bad.csv"),
      ("timestamp,n0" +: hours.map(i => s"${if (i == 50) "soon" else ts(i).toString},$i"))
        .mkString("\n"))
    intercept[Exception](Main.run(spark, dir.toString, objNames = Seq("qps")))
    Caches.release()
    assert(cache.isEmpty, "a failed Main.run left persisted frames behind")
  }
}
