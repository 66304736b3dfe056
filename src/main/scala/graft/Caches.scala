package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Registry of intra-query persisted intermediates.
  *
  * Operators persist frames that feed multiple branches of their own
  * plan (the prefixJaccard convention), but the results they return are
  * lazy — the operator can never unpersist without destroying the
  * sharing it persisted for. The old contract ("caller clearCache()")
  * worked but was session-wide: it also dropped caches the CALLER owned
  * — and never reached a persisted RDD at all. This registry scopes
  * release to exactly the frames and RDDs graft created: every operator
  * persist is `.persist().tracked`, and a caller (Bench, Verify, a
  * long-lived session) calls [[Caches.release]] after consuming a
  * result. Double-unpersist is a no-op, so operators that also
  * unpersist eagerly (iterative loops) track safely.
  */
object Caches {

  /** Everything tracked, each with the sequence number it was tracked
    * under, so [[scoped]] can tell its own entries from earlier ones.
    */
  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, AnyRef)]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Number of currently tracked frames and RDDs (test hook). */
  def trackedCount: Int = entries.size()

  /** Unpersist (non-blocking) and forget every tracked frame and RDD.
    * For a frame this is safe at any point: consumed frames free their
    * storage; a frame whose query has not run yet just loses the
    * persist (correct, merely slower). A tracked RDD may be locally
    * checkpointed (the label loop's labels) and then cannot be
    * recomputed, so release only after the results are consumed — as
    * Bench, Verify and StageAudit do.
    */
  def release(): Unit = releaseFrom(0L)

  /** Run `body`, then release exactly what was tracked while it ran,
    * also when it throws; whatever was tracked before stays. For a
    * caller that consumes its results inside `body` (`Main.run`
    * returns a rendered string) and shares the session with others.
    */
  def scoped[T](body: => T): T = {
    val from = seq.get()
    try body finally releaseFrom(from)
  }

  private def releaseFrom(from: Long): Unit = {
    val it = entries.iterator()
    while (it.hasNext) {
      val (n, x) = it.next()
      if (n >= from && entries.remove((n, x))) x match {
        case d: Dataset[_] => d.unpersist(false)
        case r: RDD[_] => r.unpersist(false)
      }
    }
  }

  private def track(x: AnyRef): Unit = entries.add((seq.getAndIncrement(), x))

  implicit class TrackedDataset[T](private val ds: Dataset[T]) {
    /** Register this (persisted) frame for [[Caches.release]]. */
    def tracked: Dataset[T] = { track(ds); ds }
  }

  implicit class TrackedRdd[T](private val rdd: RDD[T]) {
    /** Register this (persisted) RDD for [[Caches.release]]. */
    def tracked: RDD[T] = { track(rdd); rdd }
  }
}
