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
  * Every file has its own columns, yet the whole bundle is one CSV
  * scan: the scan's schema is as wide as the widest header, and each
  * row is melted through its file's layout (metric name, timestamp
  * position, node names with their positions), a literal map looked up
  * by the row's `_metadata.file_name`. A bundle has hundreds of metrics
  * (small files); a scan per file would pay a relation, a plan branch
  * and a union input per file before any data moved.
  *
  * `read` itself launches no Spark job: each file's header line is read
  * in-process through the Hadoop FileSystem and named exactly as
  * Spark's own header inference names it (same line filter, tokenizer
  * and duplicate/empty-name rules). Letting Spark infer it instead
  * costs one `take(1)` job per file — a bundle's worth of jobs before
  * any data moves.
  */
object MetricsCsv {

  /** How one file's rows melt: cells are addressed by header position. */
  private final case class Layout(name: String, ts: Int, nodes: Seq[Cell])
  private final case class Cell(node: String, pos: Int)

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
    * with > 20 rows). One file scan over the usable CSVs; the gate is a
    * `count(*) OVER (PARTITION BY name, node)` filter. A local bundle
    * is read through a `graft_metrics_csv*` link dir under
    * `java.io.tmpdir` that outlives this call, because the scan is lazy.
    */
  def read(spark: SparkSession, dir: String, minSamples: Int = 20): DataFrame =
    read(spark, dir, minSamples, new TempDirs)

  /** [[read]] that makes its link dir through `tmp`, so a caller that
    * has consumed the signals can delete it.
    */
  private[graft] def read(spark: SparkSession, dir: String, minSamples: Int,
                          tmp: TempDirs): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir))
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".csv") && !p.getName.startsWith("._"))
    // metric file names contain ':' (node_cpu:by_instance.csv), which
    // Hadoop Path cannot represent at any stage (SPARK-32097), and more
    // than 32 explicit paths are listed by a Spark job. So a local
    // bundle's usable files are linked into one dir, and that dir is the
    // scan's only root. The index prefix keeps link names distinct
    // (`a:_b` and `a_:b` both sanitize to `a__b`) and never hidden to
    // the file listing (`_x`, `.x`).
    val local = fs.getScheme == "file"
    lazy val links = tmp.create("graft_metrics_csv")
    val usable = files.toSeq.zipWithIndex.flatMap { case (p, i) =>
      val readable =
        if (!local) p
        else {
          val link = links.resolve(f"$i%05d-${p.getName.replace(':', '_')}")
          java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(p.toUri))
          new Path(link.toUri)
        }
      val columns = headerColumns(spark, readable)
      val ts = columns.indexOf("timestamp")
      val nodes = columns.indices.filter(_ != ts).map(c => Cell(columns(c), c))
      // a metric exported with zero node columns (cluster-4048 ships
      // one such file) carries no data
      if (ts >= 0 && nodes.nonEmpty)
        Some((readable, Layout(p.getName.stripSuffix(".csv"), ts, nodes), columns.length))
      else {
        if (local) java.nio.file.Files.delete(java.nio.file.Paths.get(readable.toUri))
        None
      }
    }
    // a bundle whose every CSV was skipped (no timestamp / zero value
    // columns) or an empty directory has nothing to scan — name the
    // directory and the reason instead
    if (usable.isEmpty)
      throw new java.io.IOException(
        s"no usable metric CSVs under $dir: " +
          s"${files.length} *.csv file(s) found, none with a `timestamp` column plus >=1 value column")
    val roots = if (local) Seq(new Path(links.toUri)) else usable.map(_._1)
    // keyed by file name, as `_metadata.file_name` gives it: URL-encoded.
    // Every scanned file sits in one dir, so names are unique.
    val layouts = usable.map { case (p, layout, _) =>
      p.toUri.getRawPath.split('/').last -> layout
    }.toMap
    val width = usable.map(_._3).max
    // header=true drops each file's first non-empty line, as the file's
    // own scan would; rows shorter or longer than the wide schema are
    // padded with NULL or cut, which leaves every cell its layout names
    // as it was. The wide schema never matches a file's own header, by
    // design, and Spark's header check would log a warning per file.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.csv.CSVHeaderChecker", org.apache.logging.log4j.Level.ERROR)
    val scan = spark.read.option("header", "true")
      .schema(StructType((0 until width).map(i => StructField(s"_c$i", StringType))))
      .csv(roots.map(_.toString): _*)
    val file = col("_metadata.file_name")
    val layout = element_at(typedLit(layouts), file)
    val cells = array((0 until width).map(i => col(s"_c$i")): _*)
    val all = scan
      .select(
        // a file the layout map does not name would otherwise melt to
        // nothing: fail instead of dropping its rows
        when(layout.isNull, raise_error(concat(lit("no layout for scanned file "), file)))
          .otherwise(layout).as("f"),
        cells.as("cells"))
      .select(col("f.name").as("name"), col("cells")(col("f.ts")).as("ts"),
        explode(col("f.nodes")).as("c"), col("cells"))
      .select(col("name"), col("c.node").as("node"),
        col("ts").cast("bigint").as("tsec"),
        col("cells")(col("c.pos")).cast("double").as("value"))
    // the reference drops NaN cells on ingest (metrics_advisor.py:88):
    // empty cells and non-numeric strings cast to NULL above, a literal
    // "NaN" casts to NaN and "inf"/"-Infinity" to ±Infinity — none may
    // reach downstream aggregates (the grid's exact-decimal mean cannot
    // take a non-finite sample). Dropped BEFORE the sample gate so
    // signal validity counts real samples only.
    val clean = all.filter(graft.Num.finite(col("value")))
    // the sample gate is a window count, not an aggregate joined back to
    // the rows: the join would scan (and parse) every CSV twice
    clean.withColumn("n_samples", count(lit(1)).over(Window.partitionBy("name", "node")))
      .filter(col("n_samples") > minSamples)
      .drop("n_samples")
  }
}
