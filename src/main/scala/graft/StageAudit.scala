package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One stage's task-skew observables: the direct evidence for the
  * mega-group failure class (a collapsed bucket shows up as one task
  * carrying ~the whole stage — nTasks 1, maxShare 1.0).
  */
final case class StageStat(stageId: Int, name: String, nTasks: Int,
                           sumMs: Long, maxMs: Long) {
  def maxShare: Double = if (sumMs > 0) maxMs.toDouble / sumMs else 0.0
}

/** What one query ran, read from a drained [[TaskSkewListener]]:
  * its stages' skew observables, the jobs and their call sites (the
  * action each job belongs to, with its count), the completed stages'
  * summed task count, and the shuffle bytes written and read.
  */
final case class QueryCounters(stages: Seq[StageStat], jobs: Int,
                               sites: Seq[(String, Int)], nStages: Int,
                               tasks: Long, shuffleWriteBytes: Long,
                               shuffleReadBytes: Long)

/** SparkListener collecting per-stage task count / summed / max task
  * time, plus per-query jobs, job call sites, completed stages, tasks
  * and shuffle bytes. Reusable by the StageAudit main AND the
  * KernelWidthSpec gate (r11 verdict #2: skew evidence must be an
  * asserting test, not PLANS prose — plan-shape regressions arrive
  * without code changes, as the AQE-coalescing find proved).
  */
final class TaskSkewListener extends SparkListener {
  private val maxTaskMs = TrieMap.empty[Int, Long]
  private val sumTaskMs = TrieMap.empty[Int, Long]
  private val nTask = TrieMap.empty[Int, Int]
  private val stgName = TrieMap.empty[Int, String]
  private val execSite = TrieMap.empty[Long, String]
  private val jobs = new AtomicInteger
  private val sites = new ConcurrentLinkedQueue[String]
  private val stagesDone = new AtomicInteger
  private val tasks = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong

  private def firstLine(s: String): String = s.takeWhile(_ != '\n')

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => execSite.put(x.executionId, firstLine(x.description))
    case _ =>
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    // a SQL job's site is its execution's action ("count at
    // Foo.scala:12"): AQE submits the stages from a future, whose own
    // call site names only the pool thread. Any other job's site is
    // its result stage's name.
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    sites.add(exec.orElse(j.stageInfos.maxByOption(_.stageId).map(s => firstLine(s.name)))
      .getOrElse("?"))
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val d = te.taskInfo.duration
    maxTaskMs.updateWith(te.stageId)(v => Some(math.max(v.getOrElse(0L), d)))
    sumTaskMs.updateWith(te.stageId)(v => Some(v.getOrElse(0L) + d))
    nTask.updateWith(te.stageId)(v => Some(v.getOrElse(0) + 1))
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    stgName.put(info.stageId, firstLine(info.name))
    tasks.addAndGet(info.numTasks)
    val m = info.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
    stagesDone.incrementAndGet()
  }

  def reset(): Unit = {
    maxTaskMs.clear(); sumTaskMs.clear(); nTask.clear(); stgName.clear()
    execSite.clear(); jobs.set(0); sites.clear(); stagesDone.set(0); tasks.set(0)
    shuffleWrite.set(0); shuffleRead.set(0)
  }

  /** Snapshot AFTER the listener bus drains: events are delivered
    * asynchronously, so a fixed post-action sleep can read before the
    * just-finished query's task-end events land (r11 ADVICE —
    * undercounting sum/max task time, the exact signal the audit
    * measures). Poll until two consecutive 100 ms-apart reads agree.
    */
  def settledCounters(maxWaitMs: Long = 10000L): QueryCounters = {
    def fp: (Int, Long, Int, Int) =
      (nTask.values.sum, sumTaskMs.values.sum, jobs.get, stagesDone.get)
    var prev = fp
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var stable = false
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(100L)
      val cur = fp
      stable = cur == prev && cur._1 > 0
      prev = cur
    }
    val stages = (sumTaskMs.keySet ++ stgName.keySet).toSeq.sorted.map { sid =>
      StageStat(sid, stgName.getOrElse(sid, ""), nTask.getOrElse(sid, 0),
        sumTaskMs.getOrElse(sid, 0L), maxTaskMs.getOrElse(sid, 0L))
    }
    val bySite = sites.asScala.toSeq.groupBy(identity).toSeq
      .map { case (s, g) => (s, g.size) }.sortBy { case (s, n) => (-n, s) }
    QueryCounters(stages, jobs.get, bySite, stagesDone.get, tasks.get,
      shuffleWrite.get, shuffleRead.get)
  }

  /** The drained per-stage observables alone (see [[settledCounters]]). */
  def settled(maxWaitMs: Long = 10000L): Seq[StageStat] =
    settledCounters(maxWaitMs).stages
}

/** The one probe main: per named SparkEntry query, timing, plan
  * counters and per-stage skew, against a testdata dir or a
  * (usually ScaleGen-built) audit corpus, on the same
  * [[GraftSession]] that `Bench` and `Verify` run.
  *
  *   - Timing: each query runs cold, then warm, with every cache
  *     released between the runs ([[Bench.timed]]).
  *   - Counters: jobs (grouped by call site), completed stages, tasks
  *     and shuffle bytes written/read, all from the COLD run — the
  *     deterministic observables for A/B-ing plan shapes while the
  *     shared host's speed drifts.
  *   - Stages: the heaviest stages' task count, summed task time and
  *     MAX single-task time. "No single-task stage" is proven when
  *     every heavy stage's max task is a small fraction of its summed
  *     time and its task count is the shuffle parallelism, not 1.
  *   - Failures: a query that throws is named on stderr, listed under
  *     `"failed"` in the JSON, and never timed; the rest still run.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=<dir>
  *   runMain graft.StageAudit q1 [q2 ...]
  * With SPARK_GRAFT_AUDIT_OUT=<path>, also writes one JSON artifact
  * (per query: cold and warm seconds, rows, the counters, and the
  * heavy stages' task counts and max shares) so adversarial-corpus
  * audits commit as files the next round can diff, not PLANS prose
  * (r11 verdict #7).
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    val listener = new TaskSkewListener
    spark.sparkContext.addSparkListener(listener)

    // locale-pinned number rendering: the default-locale f"" renders
    // "47,38" under comma-decimal locales, corrupting the committed
    // JSON artifact
    def num(d: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(d))
    def str(s: String): String = "\"" + Bench.jsonEscape(s) + "\""

    val qjson = Seq.newBuilder[String]
    val failed = Seq.newBuilder[String]
    args.foreach { name =>
      listener.reset()
      val run = SparkEntry.queries.get(name).toRight("no such query").flatMap { fn =>
        Bench.timed(spark, sfDir, fn).flatMap { case (cold, rows) =>
          val c = listener.settledCounters()
          Bench.timed(spark, sfDir, fn).map { case (warm, _) => (cold, warm, rows, c) }
        }
      }
      run match {
        case Left(msg) =>
          System.err.println(s"query $name failed: $msg")
          failed += str(name) + ":" + str(msg)
        case Right((cold, warm, rows, c)) =>
          println(f"AUDITQ $name%-26s $cold%7.2f s / $warm%7.2f s  rows=$rows%-8d " +
            f"jobs=${c.jobs}%3d stages=${c.nStages}%4d tasks=${c.tasks}%5d " +
            f"shufW=${c.shuffleWriteBytes / 1024}%8d KB shufR=${c.shuffleReadBytes / 1024}%8d KB")
          c.sites.foreach { case (s, n) => println(f"  JOBSITE $n%3d  $s") }
          val heavy = c.stages.sortBy(-_.sumMs).take(8)
          heavy.foreach { st =>
            println(f"  stage ${st.stageId}%4d tasks=${st.nTasks}%4d " +
              f"sum=${st.sumMs / 1000.0}%9.2f s max=${st.maxMs / 1000.0}%8.2f s " +
              f"maxShare=${st.maxShare}%5.2f  ${st.name}")
          }
          val stagesJson = heavy.map(st =>
            s"""{"stage":${st.stageId},"tasks":${st.nTasks},""" +
              s""""sumSec":${num(st.sumMs / 1000.0, 2)},"maxSec":${num(st.maxMs / 1000.0, 2)},""" +
              s""""maxShare":${num(st.maxShare, 3)}}""").mkString("[", ",", "]")
          // "worst share" counts only stages carrying ≥ 20% of the biggest
          // stage's summed task time: a 0.6 s single-task scan or a final
          // 1-row collect legitimately has maxShare 1.0 and says nothing
          // about kernel collapse
          val bigSum = heavy.headOption.map(_.sumMs).getOrElse(0L)
          val worst = heavy.filter(_.sumMs * 5 >= bigSum) match {
            case Seq() => 0.0
            case hs => hs.map(_.maxShare).max
          }
          val sitesJson = c.sites.map { case (s, n) => str(s) + ":" + n }.mkString("{", ",", "}")
          qjson += str(name) + s""":{"sec":${num(cold, 2)},"warmSec":${num(warm, 2)},""" +
            s""""rows":$rows,"jobs":${c.jobs},"nStages":${c.nStages},"tasks":${c.tasks},""" +
            s""""shuffleWriteBytes":${c.shuffleWriteBytes},"shuffleReadBytes":${c.shuffleReadBytes},""" +
            s""""sites":$sitesJson,"worstHeavyShare":${num(worst, 3)},"stages":$stagesJson}"""
      }
    }
    sys.env.get("SPARK_GRAFT_AUDIT_OUT").foreach { path =>
      val json = s"""{"corpus":${str(sfDir)},"queries":""" +
        qjson.result().mkString("{", ",", "}") +
        s""","failed":${failed.result().mkString("{", ",", "}")}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        json.getBytes("UTF-8"))
      println(s"AUDIT_OUT $path")
    }
    spark.stop()
  }
}
