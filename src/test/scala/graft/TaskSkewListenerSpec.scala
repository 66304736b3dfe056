package graft

import org.apache.spark.sql.functions._

/** The probe counters StageAudit prints and writes: jobs and their
  * call sites, completed stages' tasks, and shuffle bytes, read from
  * a drained [[TaskSkewListener]] on a query of known shape.
  */
class TaskSkewListenerSpec extends SparkTestBase {

  test("counters on range → repartition → groupBy → count") {
    val listener = new TaskSkewListener
    spark.sparkContext.addSparkListener(listener)
    try {
      listener.reset()
      val n = spark.range(0, 10000, 1, 3).repartition(4)
        .groupBy((col("id") % 7).as("k")).count().count()
      assert(n == 7)
      val c = listener.settledCounters()
      assert(c.jobs >= 1)
      assert(c.sites.map(_._2).sum == c.jobs)
      assert(c.sites.exists(_._1.startsWith("count at TaskSkewListenerSpec.scala")),
        s"no call site names the action: ${c.sites}")
      assert(c.nStages >= 2, s"two shuffles need at least two stages: $c")
      assert(c.tasks == c.stages.map(_.nTasks.toLong).sum, s"$c")
      assert(c.shuffleWriteBytes > 0, s"$c")
      assert(c.shuffleReadBytes == c.shuffleWriteBytes, s"$c")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
