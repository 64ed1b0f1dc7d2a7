package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** Session-scoped memo cache for corpus artifacts (shingle frames, IVF
  * indexes, graph edge builds, staged stream sources, …).
  *
  * An entry is keyed by (session, corpus dir, params). The session part is a
  * per-session UUID — not `System.identityHashCode`, which can be recycled
  * after GC and would hand a new session a dead session's persisted plans.
  *
  * Lifecycle of an entry:
  *
  *  - **Built** on the first [[getOrCompute]] for its key, once; later
  *    calls of the same session return the same value.
  *  - **Swept** when its SparkContext is stopped or its session is GC'd:
  *    every access drops those entries. The context's blocks are gone with
  *    it, so the sweep drops the map entry and releases nothing.
  *  - **Released with its session**: [[SessionCache.releaseSession]] drops
  *    one session's entries from every cache and releases them. A DataFrame
  *    value pins its session, so a cycled session on a live context
  *    (`newSession()` per job in a long-lived service) is never swept; this
  *    call is how such a service frees it.
  *  - **Invalidated with its corpus**: [[SessionCache.invalidate]] drops
  *    every entry built from one corpus dir, in all sessions, and releases
  *    them. Call it when the tables under the dir are rewritten in place;
  *    the next access rebuilds from the new files.
  *
  * Releasing a value frees what it holds. By default ([[free]]) a
  * DataFrame, or each DataFrame of a tuple, is unpersisted, and so is the
  * RDD of any `LogicalRDD` in its plan: `unpersist()` is a no-op on a
  * `localCheckpoint`, whose blocks live on that RDD. A cache of on-disk
  * values passes its own `release` instead (the staged-source caches delete
  * their scratch dir). Both release paths drop every entry for a dir or a
  * session at once, so no surviving memo can read freed checkpoint blocks
  * through its lineage.
  */
private[graft] final class SessionCache[V](release: V => Unit = SessionCache.free _) {

  /** Value cell. `computeIfAbsent` inserts this cheaply; the build runs on
    * first [[force]] OUTSIDE the map's bin lock. CHM's mapping functions
    * must be short and non-reentrant — a full Spark corpus build inside one
    * would serialize unrelated keys that collide on the bin for the whole
    * build and deadlock any recursive compute into the same cache. `lazy
    * val` gives per-cell synchronization instead: concurrent callers of the
    * SAME key block on the cell; a failed build leaves the lazy val
    * uninitialized, so the next caller retries. */
  private final class Cell(s: SparkSession, f: () => V) {
    val session = new WeakReference(s)
    @volatile private var computed = false
    lazy val force: V = { val v = f(); computed = true; v }
    /** The value iff a build ever completed — eviction/release paths must
      * not run a build just to tear its result down. */
    def peek: Option[V] = if (computed) Some(force) else None
  }

  /** (session id, corpus dir, params) → cell. */
  private val map = new ConcurrentHashMap[(String, String, Any), Cell]()

  SessionCache.register(this)

  def getOrCompute(s: SparkSession, dir: String, params: Any = ())(f: => V): V = {
    sweep()
    map.computeIfAbsent((SessionCache.sessionKey(s), dir, params),
      _ => new Cell(s, () => f)).force
  }

  /** Drop every entry whose (session id, dir) matches and release the
    * values that were built. */
  private def evict(matches: (String, String) => Boolean): Unit = {
    val dropped = Seq.newBuilder[V]
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (matches(e.getKey._1, e.getKey._2)) {
        dropped ++= e.getValue.peek
        it.remove()
      }
    }
    dropped.result().foreach(v => scala.util.Try(release(v)))
  }

  private def sweep(): Unit = {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val sess = it.next().getValue.session.get()
      if (sess == null || sess.sparkContext.isStopped) it.remove()
    }
  }

  /** Visible for tests: live entry count after a sweep. */
  private[graft] def size: Int = { sweep(); map.size() }

  /** Live entries of corpus dir `dir` after a sweep. */
  private def size(dir: String): Int = {
    sweep()
    map.keySet().asScala.count(_._2 == dir)
  }
}

object SessionCache {
  // Registry of every cache instance (they are all object-level lazy vals —
  // a bounded, static population), so one call reaches every cache.
  private val registry =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[SessionCache[_]]())

  private def register(c: SessionCache[_]): Unit = registry.add(c)

  // Stable per-session identifier: a UUID minted on first sight, held in a
  // weak identity map (SparkSession doesn't override equals). Unlike
  // `System.identityHashCode`, a UUID is never recycled, so a new session
  // can never alias a dead session's cache entries; the weak keys mean the
  // id table itself can't pin sessions. (`SparkSession.sessionUUID` would
  // be the natural key but is private[sql].)
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Drop and release every artifact built from corpus dir `dir`, in every
    * cache and every session. */
  def invalidate(dir: String): Unit =
    registry.forEach(_.evict((_, d) => d == dir))

  /** Drop and release every artifact owned by `s`, in every cache. Call this
    * when a long-lived service is done with a session created via
    * `newSession()` on a shared context. */
  def releaseSession(s: SparkSession): Unit = {
    val sk = sessionKey(s)
    registry.forEach(_.evict((k, _) => k == sk))
  }

  /** Visible for tests: live entries of corpus dir `dir` across every cache. */
  private[graft] def size(dir: String): Int = {
    var n = 0
    registry.forEach(c => n += c.size(dir))
    n
  }

  /** The default release: unpersist a DataFrame (each one of a tuple) and
    * the RDD behind every `LogicalRDD` in its plan — a checkpoint's blocks
    * live there, out of reach of `Dataset.unpersist`. */
  private def free(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      ds.unpersist()
      ds.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      }
    case p: Product => p.productIterator.foreach(free)
    case _ =>
  }
}
