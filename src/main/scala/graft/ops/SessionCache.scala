package graft.ops

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** The ops layer's one memo: expensive per-corpus derivations (label
  * propagation, LSH pairs, n-gram truth, k-means/PQ fits, the ANN query
  * anchor, BM25 ranks, parquet schemas) computed once per (session,
  * corpus) and reused by every consumer in that session — the
  * reuse-within-a-session pattern of "Incremental Based Framework for
  * Efficient Top-K Similarity Search in Interactive Data Analysis
  * Sessions" (EDBT 2020).
  *
  * Contract:
  *  - Scope: an entry is keyed by (session, corpus dir, family); one
  *    (session, corpus dir) pair is a slot. A SparkContext holds at most
  *    [[MaxCachedCorpora]] slots across all of its sessions, evicted
  *    least-recently-used, so a process that opens a fresh session per
  *    pass holds a bounded set. No listener is registered: slots of a
  *    stopped context are dropped on the next access.
  *  - Locking: a miss computes under its slot's reentrant lock, so one
  *    derivation per (session, corpus) runs at a time and a compute may
  *    install several families atomically (the joint k-means/PQ fit).
  *    Hits take no slot lock.
  *  - Release: eviction (LRU, stopped context, [[drop]]) only drops the
  *    reference — a plan built earlier may still read a local checkpoint,
  *    which cannot be recomputed; the ContextCleaner reclaims its blocks
  *    once nothing references them. [[invalidate]], the corpus-refresh
  *    hook, clears every slot and unpersists the checkpointed blocks of
  *    the DataFrames it drops: frames obtained before it must not be
  *    consumed after it.
  *
  * Values are immutable: plan-severed (localCheckpoint'ed) DataFrames,
  * codebook arrays and schemas. */
object SessionCache {
  /** Most (session, corpus) slots a SparkContext holds at once. A cached
    * DataFrame is a HANDLE over already-checkpointed blocks (block-manager
    * storage, not the heap), so holding it costs ~nothing while losing
    * it costs a full derivation. An earlier SoftReference design learned
    * this the hard way: a long benchmark run's GC pressure cleared the refs
    * between consumers and a "shared" label propagation recomputed mid-run
    * (21 s for a 1.3 s query). Strong-but-bounded is the right shape. */
  val MaxCachedCorpora = 4

  private final class Slot(val session: SparkSession) {
    val entries = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]
  }

  // access order: iteration runs from the least- to the most-recently used
  private val slots =
    new java.util.LinkedHashMap[(SparkSession, String), Slot](16, 0.75f, true)

  private def slot(s: SparkSession, dir: String): Slot = slots.synchronized {
    slots.values.removeIf(_.session.sparkContext.isStopped)
    val key = (s, dir)
    val hit = slots.get(key)
    if (hit != null) hit
    else {
      val fresh = new Slot(s)
      slots.put(key, fresh)
      val sc = s.sparkContext
      val sameContext =
        slots.keySet.asScala.iterator.filter(_._1.sparkContext eq sc).toList
      if (sameContext.size > MaxCachedCorpora) slots.remove(sameContext.head)
      fresh
    }
  }

  /** The cached `family` value of (session, corpus), or `compute`'s result,
    * computed once under the slot's lock and cached. */
  private[ops] def getOrElseUpdate[T <: AnyRef](s: SparkSession, dir: String,
      family: String)(compute: => T): T = {
    val sl = slot(s, dir)
    def cached = Option(sl.entries.get(family).asInstanceOf[T])
    cached.getOrElse(sl.synchronized {
      cached.getOrElse { val v = compute; sl.entries.put(family, v); v }
    })
  }

  private[ops] def get[T <: AnyRef](s: SparkSession, dir: String,
      family: String): Option[T] =
    Option(slot(s, dir).entries.get(family)).map(_.asInstanceOf[T])

  /** Install a value (a persisted codebook, the other half of a joint fit)
    * under the slot's lock. */
  private[ops] def put(s: SparkSession, dir: String, family: String,
      v: AnyRef): Unit = {
    val sl = slot(s, dir)
    sl.synchronized { sl.entries.put(family, v); () }
  }

  /** The (session, corpus) compute lock. */
  private[ops] def lockFor(s: SparkSession, dir: String): AnyRef = slot(s, dir)

  /** Drop one (session, corpus) slot, releasing references only. */
  private[ops] def drop(s: SparkSession, dir: String): Unit =
    slots.synchronized { slots.remove((s, dir)); () }

  /** The corpus-refresh hook: drop every slot of every session and
    * unpersist the checkpoints the dropped DataFrames read. */
  private[ops] def invalidate(): Unit = {
    val dropped = slots.synchronized {
      val all = slots.values.asScala.toList
      slots.clear()
      all
    }
    for (sl <- dropped; v <- sl.entries.values.asScala) v match {
      case df: org.apache.spark.sql.Dataset[_] =>
        df.queryExecution.logical
          .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
          .foreach(_.unpersist(blocking = false))
      case _ =>
    }
  }
}
