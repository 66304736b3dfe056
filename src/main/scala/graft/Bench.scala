package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // Untimed warmup: JIT + codegen + parquet footer caches. Keeps the
    // timed section measuring the queries, not JVM cold start.
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).count())

    // one timed run: the wall, or the failure message
    def run(fn: (SparkSession, String) => DataFrame): Either[String, Double] =
      timed(spark, sfDir, fn).map(_._1)

    // optional comma-separated subset for focused profiling runs; the
    // driver never sets it, so the committed artifact is always the
    // full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Untimed warmup pass: every selected query ONCE at the smallest SF.
    // The r12 measurement (OPTIMIZATION_r12.md): on a cold VM/JVM the
    // first ~7 minutes of the timed section ran 3-12× slow — sustained
    // through min-of-3 reruns — from JIT of the typed pipelines and
    // interpreter-tier Spark runtime plus cold host pages, all landing
    // on whichever queries sort first alphabetically (the ad_* block;
    // the same inflated block is visible in the committed BENCH_r11
    // driver artifact). The previous warmup (3 hand-picked pipelines)
    // covered only part of the code surface; warming the whole suite on
    // sf0.001 makes the timed section measure steady-state plans at
    // sf0.1 rather than JVM cold start. Warmup results are discarded
    // and every cache is dropped, so each timed query still computes
    // from the sf0.1 parquet inputs from scratch — methodology (count
    // action, min-of-2/3, cache release) is unchanged.
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
      if (java.nio.file.Files.isDirectory(p)) p.toString else sfDir
    }
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      Caches.release()
      spark.catalog.clearCache()
    }
    val benchT0 = System.nanoTime()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // slow queries get a second run and report the min: on a shared
      // host a single timing mixes the plan cost with whatever else the
      // machine was doing, and the noise lands on the slow tail — while
      // sub-second queries aren't worth doubling the suite's wall time.
      // If the two runs disagree by >50% the host was busy during one
      // of them — take a third sample so a contention burst spanning
      // both runs (the r6 driver artifact's +125 s) still gets one
      // clean measurement.
      val started = (System.nanoTime() - benchT0) / 1e9
      val best = run(fn).flatMap { first =>
        if (first <= 0.75) Right(first)
        else run(fn).flatMap { second =>
          val m2 = math.min(first, second)
          if (math.abs(first - second) > 0.5 * m2) run(fn).map(math.min(m2, _)) else Right(m2)
        }
      }
      best.left.foreach(msg => System.err.println(s"query $name failed: $msg"))
      (name, best, started)
    }
    val failedJson = results.collect { case (k, Left(msg), _) => "\"" + k + "\":\"" + jsonEscape(msg) + "\"" }
      .mkString("{", ",", "}")
    val timedOk = results.collect { case (k, Right(v), s0) => (k, v, s0) }
    val qs = timedOk.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query start offsets (seconds into the bench, 0.1 s grain):
    // lets a post-hoc reader attribute a timing burst to its wall-clock
    // window instead of guessing which queries a host stall hit
    val t0s = timedOk.map { case (k, _, s0) =>
      s"\"" + k + "\":" + (math.round(s0 * 10.0) / 10.0) }
      .mkString("{", ",", "}")
    val total = if (timedOk.nonEmpty) timedOk.map(_._2).sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"t0":$t0s,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // the full 303-query line above is ~15 KB and the driver's
    // artifact keeps only a few-KB stdout TAIL (BENCH_r6/r7 both show
    // `parsed: null` with the line's head cut off) — ALSO print a
    // compact summary LAST so a tail-window parse always sees one
    // complete JSON line; the untruncated map lives in BENCH_full.json
    val slowest = timedOk.sortBy(-_._2).take(25)
      .map { case (k, v, _) => s"\"" + k + "\":" + (math.round(v * 1000.0) / 1000.0) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.round(total * 1000.0) / 1000.0},"unit":"sec","queries":$slowest,"n_queries":${timedOk.length},"failed":$failedJson,"full":"BENCH_full.json","sf":"$sfDir"}""")
    // the driver's committed artifact truncates long stdout tails — also
    // persist the untruncated per-query map where it can be committed
    try {
      // a SUBSET run must never clobber the committed full-suite
      // artifact unless the caller explicitly chose a destination
      val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .orElse(if (only.isEmpty) Some("BENCH_full.json") else None)
      out.foreach(o => java.nio.file.Files.write(java.nio.file.Paths.get(o),
        (line + "\n").getBytes("UTF-8")))
    } catch {
      // a silently-failed write leaves a stale committed artifact that
      // looks current — make the disagreement with stdout detectable
      case e: Throwable =>
        System.err.println(s"BENCH_full.json write failed: $e")
    }
    spark.stop()
  }

  /** One run of a query at `dir`: its wall seconds and row count, or
    * the first line of the failure message if it threw (a failed query
    * is never timed). Operators persist intra-query intermediates, so
    * every cache is dropped afterwards and later runs are not timed
    * under earlier runs' cache pressure (`Caches.release` covers the
    * tracked operator persists; `clearCache` is the sweep for anything
    * session-level). Shared by this main and [[StageAudit]].
    */
  private[graft] def timed(spark: SparkSession, dir: String,
                           fn: (SparkSession, String) => DataFrame)
      : Either[String, (Double, Long)] = {
    val t0 = System.nanoTime()
    val out =
      try {
        val rows = fn(spark, dir).count()
        Right(((System.nanoTime() - t0) / 1e9, rows))
      } catch { case e: Throwable => Left(e.toString.linesIterator.next()) }
    Caches.release()
    spark.catalog.clearCache()
    out
  }

  /** `s` as the body of a JSON string literal: backslash, quote, and
    * ALL control chars (< 0x20) escaped — a tab or CR in an oracle's SQL
    * would otherwise make a reader's `json.load` of `oracle_sql.json`
    * fail.
    */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
