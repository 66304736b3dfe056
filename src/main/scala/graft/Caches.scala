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

  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val rdds =
    new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  /** Number of currently tracked frames and RDDs (test hook). */
  def trackedCount: Int = frames.size() + rdds.size()

  /** Unpersist (non-blocking) and forget every tracked frame and RDD.
    * For a frame this is safe at any point: consumed frames free their
    * storage; a frame whose query has not run yet just loses the
    * persist (correct, merely slower). A tracked RDD may be locally
    * checkpointed (the label loop's labels) and then cannot be
    * recomputed, so release only after the results are consumed — as
    * Bench, Verify and StageAudit do.
    */
  def release(): Unit = {
    var d = frames.poll()
    while (d != null) { d.unpersist(false); d = frames.poll() }
    var r = rdds.poll()
    while (r != null) { r.unpersist(false); r = rdds.poll() }
  }

  implicit class TrackedDataset[T](private val ds: Dataset[T]) {
    /** Register this (persisted) frame for [[Caches.release]]. */
    def tracked: Dataset[T] = { frames.add(ds); ds }
  }

  implicit class TrackedRdd[T](private val rdd: RDD[T]) {
    /** Register this (persisted) RDD for [[Caches.release]]. */
    def tracked: RDD[T] = { rdds.add(rdd); rdd }
  }
}
