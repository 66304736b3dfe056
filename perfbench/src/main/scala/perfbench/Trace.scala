package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Engine counters, registered by the benchmark itself. Cumulative
  * counts plus one record per finished task, so a span can ask for the
  * hottest stage's max-task share over exactly its own tasks.
  */
final class Probe extends SparkListener {
  val jobs = new AtomicLong
  private val tasks = ArrayBuffer.empty[Probe.Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t =
      if (m == null) Probe.Task(e.stageId, e.taskInfo.duration, 0L, 0L, 0L)
      else Probe.Task(e.stageId, e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
    tasks.synchronized { tasks += t; () }
  }

  def mark(sc: SparkContext): Probe.Mark = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Probe.Mark(jobs.get, tasks.synchronized(tasks.length))
  }

  /** Counters for the work between two marks. */
  def between(a: Probe.Mark, b: Probe.Mark): Map[String, Any] = {
    val ts = tasks.synchronized(tasks.slice(a.tasks, b.tasks).toVector)
    val byStage = ts.groupBy(_.stage).values
      .map(s => (s.map(_.durMs).sum, s.map(_.durMs).max))
    val share = if (byStage.isEmpty) 0.0 else {
      val (sum, mx) = byStage.maxBy(_._1)
      if (sum > 0) mx.toDouble / sum else 1.0
    }
    Map("jobs" -> (b.jobs - a.jobs), "tasks" -> ts.length,
      "shuffle_write_b" -> ts.map(_.shuffleW).sum,
      "spill_b" -> ts.map(_.spill).sum,
      "peak_exec_mem_b" -> (if (ts.isEmpty) 0L else ts.map(_.peakMem).max),
      "max_task_share" -> share)
  }
}

object Probe {
  final case class Task(stage: Int, durMs: Long, shuffleW: Long, spill: Long, peakMem: Long)
  final case class Mark(jobs: Long, tasks: Int)
}

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent, the pass they belong to, the engine counters of the work
  * inside, and any counts the layer reports. Kept in memory; the caller
  * writes them out when the run ends.
  */
final class Tracer(sc: SparkContext, probe: Probe) {
  private val t0 = System.nanoTime()
  private var nextId = 0
  private var stack = List.empty[Int]
  var pass = 0
  val spans = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String)(f: => T): T = spanWith(name)(f, (_: T) => Map.empty[String, Any])

  /** `extra` turns the layer's result into counts recorded on the span. */
  def spanWith[T](name: String)(f: => T, extra: T => Map[String, Any]): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val m0 = probe.mark(sc)
    val s = System.nanoTime()
    try {
      val r = f
      val e = System.nanoTime()
      val m1 = probe.mark(sc)
      spans += Map("id" -> id, "pass" -> pass, "name" -> name, "parent" -> parent,
        "start_s" -> (s - t0) / 1e9, "end_s" -> (e - t0) / 1e9, "dur_s" -> (e - s) / 1e9) ++
        probe.between(m0, m1) ++ extra(r)
      r
    } finally stack = stack.tail
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
