package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Reader for the reference's reshaped-metrics bundles
  * (metrics_advisor.py:38-48): a directory of wide CSVs, one per metric,
  * each with a `timestamp` column plus one column per node/instance/
  * device. Melts every file into the engine's long signal format
  * (name, node, tsec, value); the metric name comes from the file name.
  *
  * Each file is its own schema, so files are enumerated and unioned —
  * the per-file DataFrames are lazy scans, and the union is one job. A
  * bundle has hundreds of metrics (small files); the heavy data lives in
  * the rows, which stream through the melt without materializing wide.
  *
  * `read` itself launches no Spark job: each file's header line is read
  * in-process through the Hadoop FileSystem and named exactly as
  * Spark's own header inference names it (same line filter, tokenizer
  * and duplicate/empty-name rules), then handed to the scan as an
  * explicit all-string schema. Letting Spark infer it instead costs one
  * `take(1)` job per file — a bundle's worth of jobs before any data
  * moves.
  */
object MetricsCsv {

  /** Column names Spark's `header=true` inference (without
    * `inferSchema`) gives the file at `path`; none for a file with no
    * non-empty line.
    */
  private def headerColumns(spark: SparkSession, path: Path): Array[String] = {
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"), true, conf.sessionLocalTimeZone)
    CSVUtils.readHeaderLine(path, opts, spark.sparkContext.hadoopConfiguration)
      .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, opts))
      .getOrElse(Array.empty)
  }

  /** All signals from `*.csv` under `dir` with more than `minSamples`
    * non-NaN samples per (name, node) series (the reference keeps files
    * with > 20 rows). One file scan per usable CSV; the gate is a
    * `count(*) OVER (PARTITION BY name, node)` filter.
    */
  def read(spark: SparkSession, dir: String, minSamples: Int = 20): DataFrame = {
    // metric file names contain ':' (node_cpu:by_instance.csv), which
    // Hadoop Path cannot represent at any stage (SPARK-32097) — list the
    // directory ourselves and read colon-named local files through
    // sanitized symlinks (what an untar-stage renamer would do).
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir))
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".csv") && !p.getName.startsWith("._"))
    lazy val linkDir = java.nio.file.Files.createTempDirectory("graft_metrics_csv")
    val parts = files.toSeq.flatMap { p =>
      val name = p.getName.stripSuffix(".csv")
      val readable =
        if (p.getName.contains(":") && p.toUri.getScheme == "file") {
          val link = linkDir.resolve(p.getName.replace(":", "__"))
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(p.toUri))
          new Path(link.toUri)
        } else p
      val columns = headerColumns(spark, readable)
      val valueCols = columns.filter(_ != "timestamp")
      // a metric exported with zero node columns (cluster-4048 ships
      // one such file) carries no data — skip it rather than emit a
      // zero-arg stack() the parser rejects
      if (valueCols.isEmpty || !columns.contains("timestamp")) None
      else {
        val df = spark.read.option("header", "true")
          .schema(StructType(columns.map(StructField(_, StringType))))
          .csv(readable.toUri.toString)
        val stackArgs = valueCols.map(c => s"'${c.replace("'", "")}', CAST(`$c` AS DOUBLE)").mkString(", ")
        Some(df.selectExpr(
          s"'${name.replace("'", "")}' AS name",
          "CAST(timestamp AS BIGINT) AS tsec",
          s"stack(${valueCols.length}, $stackArgs) AS (node, value)")
          .select("name", "node", "tsec", "value"))
      }
    }
    // a bundle whose every CSV was skipped (no timestamp / zero value
    // columns) or an empty directory would otherwise die in
    // parts.reduce with a bare UnsupportedOperationException — name the
    // directory and the reason instead
    if (parts.isEmpty)
      throw new java.io.IOException(
        s"no usable metric CSVs under $dir: " +
          s"${files.length} *.csv file(s) found, none with a `timestamp` column plus >=1 value column")
    val all = parts.reduce(_.unionByName(_))
    // the reference drops NaN cells on ingest (metrics_advisor.py:88):
    // empty cells and non-numeric strings cast to NULL above, and a
    // literal "NaN" casts to NaN — neither may reach downstream
    // aggregates. Dropped BEFORE the sample gate so signal validity
    // counts real samples only.
    val clean = all.filter(col("value").isNotNull && !isnan(col("value")))
    // the sample gate is a window count, not an aggregate joined back to
    // the rows: the join would scan (and parse) every CSV twice
    clean.withColumn("n_samples", count(lit(1)).over(Window.partitionBy("name", "node")))
      .filter(col("n_samples") > minSamples)
      .drop("n_samples")
  }
}
