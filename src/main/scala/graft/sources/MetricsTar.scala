package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream}
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end ingestion of the reference's metrics bundles: a tar
  * archive (gzipped or plain — both ship: *.tar.gz and the plain-tar
  * cluster-4048.gz.tar) containing wide metric CSVs under a reshape
  * directory (metrics_advisor.py:114-122 untars to a temp dir and
  * globs the first CSV member's directory).
  *
  * The tar walk is a minimal ustar reader (512-byte headers, octal size
  * field) — only extraction of *.csv entries is needed. Extraction is a
  * driver-side, one-pass streaming step (bundles are small: metadata and
  * metric series); the heavy lifting stays in the Spark melt that
  * follows.
  */
object MetricsTar {

  /** Upper bound on a single tar entry (1 GiB): metric CSVs are small,
    * and a corrupt size field must fail with a message, not an OOM.
    */
  private val MaxEntryBytes: Long = 1L << 30

  /** InputStream.skip returns 0 at EOF (never -1), so a bare skip loop
    * spins forever on a truncated archive; a zero-progress skip falls
    * back to a blocking read, which does signal EOF.
    */
  private def skipFully(in: DataInputStream, n: Long): Unit = {
    var toSkip = n
    while (toSkip > 0) {
      val s = in.skip(toSkip)
      if (s > 0) toSkip -= s
      else {
        if (in.read() < 0) throw new EOFException("truncated tar archive")
        toSkip -= 1
      }
    }
  }

  /** Extract the bundle's metric CSVs to a temp dir; returns the
    * directory. Member selection mirrors the reference exactly
    * (metrics_advisor.py:115-122): the FIRST `*.csv` member's parent
    * directory is the metrics dir, and only CSVs in that directory are
    * read (the reference extracts all CSVs but globs only the first
    * member's directory — workload dirs beyond the first are ignored).
    * This also makes the reader layout-agnostic: the shipped bundles
    * use both `reshape/` (full-index-lookup) and `reshaped/`
    * (cluster-4048). AppleDouble `._*` entries are skipped.
    *
    * Compression is sniffed from the 2-byte gzip magic, not the file
    * name — `cluster-4048.gz.tar` is a PLAIN tar despite the name,
    * and `tarfile.open(r:*)` in the reference auto-detects the same
    * way.
    */
  def extractCsvs(tarGzPath: String): Path = extractCsvs(tarGzPath, new TempDirs)

  /** [[extractCsvs]] into a dir made through `tmp`. */
  private[graft] def extractCsvs(tarGzPath: String, tmp: TempDirs): Path = {
    val out = tmp.create("graft_metrics_tar")
    val raw = new BufferedInputStream(new FileInputStream(tarGzPath), 1 << 16)
    raw.mark(2)
    val m0 = raw.read(); val m1 = raw.read()
    raw.reset()
    val gz = m0 == 0x1f && m1 == 0x8b
    val in = new DataInputStream(
      if (gz) new BufferedInputStream(new GZIPInputStream(raw, 1 << 16), 1 << 16)
      else raw)
    val header = new Array[Byte](512)
    var csvDir: String = null
    try {
      var done = false
      while (!done) {
        // EOF at a HEADER boundary is a normal end-of-archive (some
        // writers omit the two zero blocks); EOF inside an entry's data
        // or padding means the archive is truncated and must propagate
        // — silently returning partial data would feed the advisor an
        // incomplete bundle with no warning
        val gotHeader =
          try { in.readFully(header); true }
          catch { case _: EOFException => false }
        if (!gotHeader || header.forall(_ == 0)) done = true
        else {
          val name = new String(header, 0, 100, "US-ASCII").takeWhile(_ != 0)
          val sizeStr = new String(header, 124, 12, "US-ASCII")
            .takeWhile(c => c != 0 && c != ' ').trim
          // loud, specific failures on a malformed header: a garbage
          // size field must not surface as a bare NumberFormatException,
          // and a huge declared size must not allocate gigabytes for
          // what is always a small metrics CSV
          val size =
            try { if (sizeStr.isEmpty) 0L else java.lang.Long.parseLong(sizeStr, 8) }
            catch { case _: NumberFormatException =>
              throw new java.io.IOException(
                s"corrupt tar header in $tarGzPath: non-octal size '$sizeStr' for entry '$name'")
            }
          if (size < 0 || size > MaxEntryBytes)
            throw new java.io.IOException(
              s"corrupt tar header in $tarGzPath: entry '$name' declares $size bytes")
          val typeFlag = header(156).toChar
          val base = name.split('/').lastOption.getOrElse("")
          val isCsv = (typeFlag == '0' || typeFlag == 0.toChar) &&
            base.endsWith(".csv") && !base.startsWith("._")
          val parent = name.take(name.length - base.length)
          if (isCsv && csvDir == null) csvDir = parent
          val wanted = isCsv && parent == csvDir
          if (wanted) {
            val target = out.resolve(base)
            // same-dir duplicate member names can only come from a
            // malformed archive — fail loudly instead of silently
            // keeping one copy
            if (Files.exists(target))
              throw new IllegalStateException(
                s"duplicate CSV member '$base' in $tarGzPath")
            val buf = new Array[Byte](size.toInt)
            in.readFully(buf)
            Files.write(target, buf, StandardOpenOption.CREATE_NEW)
          } else {
            skipFully(in, size)
          }
          skipFully(in, (512 - (size % 512)) % 512)
        }
      }
    } finally in.close()
    out
  }

  /** Bundle → long signals (name, node, tsec, value). */
  def read(spark: SparkSession, tarGzPath: String, minSamples: Int = 20): DataFrame = {
    val dir = extractCsvs(tarGzPath)
    MetricsCsv.read(spark, dir.toString, minSamples)
  }
}
