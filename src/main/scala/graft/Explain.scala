package graft

import java.nio.file.{Files, Paths}

/** Plan-review tool: dump `explain("formatted")` for selected queries so
  * scan pruning, pushed filters, broadcast choices and codegen spans can
  * be reviewed per round (findings live in PLANS.md).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q01_agg", "q02_join_agg", "q05_star_broadcast", "ts_resample",
        "corr_ncc_lag", "dedup_minhash_lsh", "knn_brute_cosine", "ad_ksigma")
    val spark = GraftSession.build()
    val sb = new StringBuilder
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        sb.append(s"\n===================== $n =====================\n")
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
