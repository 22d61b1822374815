package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.GraftSqlBridge

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The ops layer's one memo: expensive per-corpus derivations (label
  * propagation, LSH pairs, n-gram truth, k-means/PQ fits, the ANN query
  * anchor, BM25 ranks, parquet schemas, q44's plane count) computed once
  * and reused in every session of a SparkContext while the corpus is
  * unchanged — the derivation reuse of "Incremental Based Framework for
  * Efficient Top-K Similarity Search in Interactive Data Analysis
  * Sessions" (EDBT 2020), widened to the context like Spark's CacheManager.
  * Contract:
  *  - Scope: an entry is keyed by (SparkContext, corpus dir, the session's
  *    [[ResultConfs]] after [[Tables.prepareSession]], family); the first
  *    three are a slot. A context holds at most [[MaxCachedCorpora]] slots,
  *    LRU. No listener: a stopped context's slots go on the next access.
  *  - Identity: a session's first access to a slot compares the (path,
  *    length, mtime) of every file under the dir with the slot's listing
  *    and replaces the slot on a mismatch. Within a session only
  *    [[Tables.t]] checks. A DataFrame served to another session is
  *    rebound to it, so that session's conf and listeners apply.
  *  - Locking: a miss computes under its slot's reentrant lock, so a
  *    compute may install several families atomically (the joint
  *    k-means/PQ fit). Hits take no lock.
  *  - Release: eviction (LRU, stopped context, stale slot) only drops the
  *    reference — a plan built earlier may still read a local checkpoint,
  *    which cannot be recomputed; the ContextCleaner reclaims its blocks
  *    once nothing references them. [[invalidate]], the corpus-refresh
  *    hook, clears every slot and unpersists the checkpoints of the
  *    DataFrames it drops: frames obtained before it must not be used
  *    after it. Values are immutable: plan-severed (localCheckpoint'ed)
  *    DataFrames, codebook arrays, counts and schemas. */
object SessionCache {
  /** Most slots a SparkContext holds at once. A cached DataFrame is a
    * handle over checkpointed blocks: ~free to hold, a full derivation to
    * lose (a SoftReference design once recomputed a shared label
    * propagation mid-run: 21 s for a 1.3 s query). So: strong, bounded. */
  val MaxCachedCorpora = 4

  /** The session confs a cached value's content depends on. */
  val ResultConfs: Seq[String] = Seq("spark.sql.session.timeZone",
    "spark.sql.ansi.enabled", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.caseSensitive")

  /** Counters since JVM start: lookups served and computed, LRU evictions,
    * identity checks of an existing slot, slots found stale. */
  final case class Stats(hits: Long, misses: Long, evictions: Long,
      revalidations: Long, stale: Long)
  private val lookups, misses, evictions, revalidations, stale = new AtomicLong
  def stats: Stats = Stats(lookups.get - misses.get, misses.get,
    evictions.get, revalidations.get, stale.get)

  private type Key = (SparkContext, String, Seq[String])

  private final class Slot(val files: Seq[(String, Long, Long)]) {
    val entries = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]
    val checkedBy = java.util.Collections.newSetFromMap( // guarded by `slots`
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])
  }

  // access order: iteration runs from the least- to the most-recently used
  private val slots = new java.util.LinkedHashMap[Key, Slot](16, 0.75f, true)

  private def keyOf(s: SparkSession, dir: String): Key = {
    Tables.prepareSession(s)
    (s.sparkContext, dir, ResultConfs.map(k => s.conf.get(k)))
  }

  /** (path, length, mtime) of every file under `dir`. */
  private def listing(s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val it = if (fs.exists(p)) fs.listFiles(p, true) else null
    Iterator.continually(it).takeWhile(i => i != null && i.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList.sorted
  }

  private def slot(s: SparkSession, dir: String): Slot = {
    val key = keyOf(s, dir)
    slots.synchronized {
      slots.keySet.removeIf(_._1.isStopped)
      Option(slots.get(key)).filter(_.checkedBy.contains(s))
    }.getOrElse {
      val files = listing(s, dir) // a filesystem call: outside the lock
      slots.synchronized {
        val cur = Option(slots.get(key))
        cur.foreach(_ => revalidations.incrementAndGet())
        val sl = cur.filter(_.files == files).getOrElse {
          cur.foreach(_ => stale.incrementAndGet())
          slots.put(key, new Slot(files))
          val same = slots.keySet.asScala.iterator.filter(_._1 eq key._1).toList
          if (same.size > MaxCachedCorpora) {
            slots.remove(same.head); evictions.incrementAndGet()
          }
          slots.get(key)
        }
        sl.checkedBy.add(s)
        sl
      }
    }
  }

  /** A cached value as the asking session should see it. */
  private def bind[T](s: SparkSession, v: T): T = v match {
    case df: Dataset[_] if !(df.sparkSession eq s) =>
      GraftSqlBridge.ofRows(s, df.queryExecution.logical).asInstanceOf[T]
    case _ => v
  }

  /** The cached `family` value of the slot, or `compute`'s result,
    * computed once under the slot's lock and cached. */
  private[ops] def getOrElseUpdate[T <: AnyRef](s: SparkSession, dir: String,
      family: String)(compute: => T): T = {
    lookups.incrementAndGet()
    val sl = slot(s, dir)
    def cached = Option(sl.entries.get(family).asInstanceOf[T])
    bind(s, cached.getOrElse(sl.synchronized(cached.getOrElse {
      misses.incrementAndGet(); val v = compute; sl.entries.put(family, v); v
    })))
  }

  private[ops] def get[T <: AnyRef](s: SparkSession, dir: String,
      family: String): Option[T] = {
    lookups.incrementAndGet()
    val v = Option(slot(s, dir).entries.get(family))
    if (v.isEmpty) misses.incrementAndGet()
    v.map(bind(s, _).asInstanceOf[T])
  }

  /** Install a value (a persisted codebook, the other half of a joint fit)
    * under the slot's lock. */
  private[ops] def put(s: SparkSession, dir: String, family: String,
      v: AnyRef): Unit = {
    val sl = slot(s, dir)
    sl.synchronized { sl.entries.put(family, v); () }
  }

  /** The slot's compute lock: shared by every session of the context that
    * reads `dir` under the same [[ResultConfs]]. */
  private[ops] def lockFor(s: SparkSession, dir: String): AnyRef = slot(s, dir)

  /** Drop the slot of a corpus found changed, releasing references only. */
  private[ops] def drop(s: SparkSession, dir: String): Unit = {
    val key = keyOf(s, dir)
    slots.synchronized(if (slots.remove(key) != null) stale.incrementAndGet())
  }

  /** The corpus-refresh hook: drop every slot and unpersist the
    * checkpoints the dropped DataFrames read. */
  private[ops] def invalidate(): Unit = {
    val dropped =
      slots.synchronized(try slots.values.asScala.toList finally slots.clear())
    for (sl <- dropped; v <- sl.entries.values.asScala) v match {
      case df: Dataset[_] =>
        df.queryExecution.logical
          .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
          .foreach(_.unpersist(blocking = false))
      case _ =>
    }
  }
}
