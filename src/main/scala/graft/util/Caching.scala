package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Leased persist for operator-internal intermediates.
  *
  * The dedup/similarity operators cache small derived frames (shingle
  * sets, banded signatures) that feed several branches of ONE returned
  * plan. A bare `.persist` with no matching unpersist accumulates
  * block-manager storage for the lifetime of the session — across a
  * 60-query Verify/Bench run, or any long-lived production session, that
  * is a leak.
  *
  * `leased` persists the intermediates and registers a one-shot
  * [[QueryExecutionListener]] that unpersists them (non-blocking) once the
  * session completes an action whose analyzed plan actually CONTAINS one
  * of the leased plans — the consuming action, not merely the next one.
  * Releasing on "any next action" is wrong on a shared session: an
  * interleaved unrelated action — or a lagging listener-bus callback from
  * a previous identical run (CacheManager keys caches by canonicalized
  * plan, so a bench re-run re-persists the very plan a stale listener
  * then uncaches) — would drop the cache while the leased branches still
  * execute, silently re-running the multi-pass scan the persist exists to
  * avoid. A bounded action-count backstop still releases the lease if the
  * result is never consumed, so the lease can never leak for a session
  * lifetime. If the cache is ever released early anyway, the operator
  * re-leases on its next call, so correctness never depends on the lease:
  * at worst a branch recomputes.
  */
object Caching {
  private val BackstopActions = 64

  def leased(frames: DataFrame*)(result: => DataFrame): DataFrame = {
    frames.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    releaseOnConsumed(result, frames.toSeq) { () =>
      frames.foreach(_.unpersist(blocking = false))
    }
  }

  /** [[leased]] for operators returning TWO frames over the same
    * persisted intermediates (e.g. capped LSH: kept pairs + capped
    * family report). The lease releases once BOTH outputs have been
    * consumed — a single action that contains both (the common
    * union-and-write shape) releases immediately; consuming only one
    * leaves the cache warm for the other, with the same action-count
    * backstop so an abandoned second frame can never leak the cache.
    *
    * Cost of abandoning one output: a caller that knowingly consumes
    * only one frame (e.g. pairs-only use of a capped operator) keeps
    * the MEMORY_AND_DISK blocks alive until the [[BackstopActions]]
    * budget drains — on a busy shared session that can be a while.
    * Such a caller should force the release by running one cheap action
    * over the abandoned frame (`other.isEmpty` consumes its plan), the
    * same contract the capped `queries()` entries satisfy by unioning
    * both frames into one output. */
  def leased2(frames: DataFrame*)(result: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    frames.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    val (a, b) = result
    registerLease(a.sparkSession, Seq(a, b), requireAll = true) { () =>
      frames.foreach(_.unpersist(blocking = false))
    }
    (a, b)
  }

  /** Register `release` to run once EVERY frame in `outputs` has been
    * consumed by a completed action (or after the action-count
    * backstop) — the requireAll lease for operators returning an
    * arbitrary number of frames over shared persisted intermediates
    * (e.g. the multi-threshold capped LSH: one pair frame per
    * threshold plus the family report). The caller persists its
    * intermediates itself and passes the matching unpersists here. */
  def leasedAll(outputs: Seq[DataFrame])(release: () => Unit): Unit =
    registerLease(outputs.head.sparkSession, outputs, requireAll = true)(release)

  /** The lease mechanism generalized over the RELEASE action: run
    * `release` once the session completes an action whose analyzed plan
    * contains one of `watched`'s plans (or after the action-count
    * backstop). [[leased]] uses it for persist/unpersist pairs;
    * iterative operators use it to free eager `localCheckpoint` blocks
    * (which a plain `unpersist` on the Dataset cannot reach) once the
    * result that references them has been consumed. */
  def releaseOnConsumed(out: DataFrame, watched: Seq[DataFrame])
                       (release: () => Unit): DataFrame = {
    registerLease(out.sparkSession, watched, requireAll = false)(release)
    out
  }

  /** Shared listener core for both lease shapes: release fires when the
    * watched plans have been consumed by completed actions — ANY one of
    * them (`requireAll = false`: alternative consumers of one shared
    * intermediate) or ALL of them (`requireAll = true`: independent
    * outputs that each need the cache) — or when the action-count
    * backstop runs out, so a never-consumed result cannot leak the
    * cache for the session lifetime. */
  private def registerLease(session: org.apache.spark.sql.SparkSession,
                            watched: Seq[DataFrame], requireAll: Boolean)
                           (release: () => Unit): Unit = {
    val lm = session.listenerManager
    val remaining = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
    watched.map(_.queryExecution.analyzed).zipWithIndex
      .foreach { case (pl, i) => remaining.put(i, pl) }
    val nWatched = watched.size
    val listener = new QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private val budget = new java.util.concurrent.atomic.AtomicInteger(BackstopActions)
      private def cleanup(): Unit = if (done.compareAndSet(false, true)) {
        release()
        lm.unregister(this)
      }
      private def completed(qe: QueryExecution): Unit = {
        try {
          remaining.forEach { (k, pl) =>
            if (qe.analyzed.find(n => pl.sameResult(n)).isDefined) remaining.remove(k): Unit
          }
        } catch { case _: Exception => remaining.clear() } // plan quirk: never leak
        val consumed =
          if (requireAll) remaining.isEmpty else remaining.size < nWatched
        if (consumed || budget.decrementAndGet() <= 0) cleanup()
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = completed(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = completed(qe)
    }
    lm.register(listener)
  }

  /** Free the block-manager storage behind an eagerly `localCheckpoint`ed
    * Dataset (the Dataset API has no unpersist that reaches it: the
    * blocks belong to the internal RDD and otherwise live until RDD GC). */
  def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Block-manager bytes (memory plus disk) behind an eagerly
    * `localCheckpoint`ed Dataset, read on the driver without a job; 0
    * for a frame that is not a checkpoint. */
  def checkpointBytes(df: DataFrame): Long =
    checkpointRdd(df).fold(0L)(org.apache.spark.sql.GraftSqlBridge.storedBytes)

  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
