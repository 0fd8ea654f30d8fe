package graft

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one store of cross-query state, and its one sweep of
  * pinned blocks.
  *
  * [[memo]] keeps a value per (session, key): source frames (a table's
  * `spark.read`, a staged copy, a file manifest) that would otherwise
  * pay listing and schema inference on every call, and fitted models
  * and materialized indexes that would otherwise be refit or
  * re-clustered on every search. Every entry is
  *  - keyed by its session: a frame is bound to the session that read
  *    or persisted it, and plan hashes collide across sessions. Entries
  *    of stopped sessions are evicted whenever a new entry is made (weak
  *    keys would never clear: every cached frame strongly references its
  *    session);
  *  - built once: concurrent callers of one key wait for a single
  *    build, so a persisted loser can never be orphaned;
  *  - unpersisted when dropped, if its value is a `Dataset`.
  *
  * [[Source]] entries live for the whole session. [[Index]] entries
  * are dropped by [[invalidate]] — the engine's `REFRESH TABLE`: a memo
  * keyed by a plan's semantic hash keeps serving a plan HELD across a
  * same-path rewrite, so after a rewrite invalidate and re-read — and
  * at most [[IndexCap]] of them are kept per session.
  *
  * [[releasingNew]] unpersists whatever a body pinned; harnesses wrap
  * each query in it, and operators whose driver-built output has no
  * lineage on their intermediates wrap themselves.
  */
object Reuse {

  sealed trait Scope
  /** Kept for the whole session. */
  case object Source extends Scope
  /** Dropped by [[invalidate]]; capped at [[IndexCap]] per session. */
  case object Index extends Scope

  /** Serving a new index key past the cap drops some OTHER index entry
    * of the session, never the key being served.
    */
  val IndexCap = 64

  private final class Entry(val scope: Scope, private var build: () => Any) {
    @volatile private var built: Option[Any] = None

    /** Builds under this entry's lock, then frees the build closure. */
    def value: Any = built.getOrElse(synchronized {
      built.getOrElse {
        val v = build()
        build = null
        built = Some(v)
        v
      }
    })

    def drop(blocking: Boolean): Unit = built.foreach {
      case ds: Dataset[_] =>
        try ds.unpersist(blocking) catch { case NonFatal(_) => () }
      case _ => ()
    }
  }

  private val entries = TrieMap.empty[(SparkSession, Any), Entry]

  private def keysWhere(p: (SparkSession, Entry) => Boolean): List[(SparkSession, Any)] =
    entries.iterator.collect { case (k, e) if p(k._1, e) => k }.toList

  private def drop(k: (SparkSession, Any), blocking: Boolean): Unit =
    entries.remove(k).foreach(_.drop(blocking))

  /** The value memoized under `key` for `spark`, built by `build` on
    * the first call. Keys of different memos must not collide: lead
    * them with the memo's name.
    */
  def memo[V](spark: SparkSession, key: Any, scope: Scope = Source)(build: => V): V = {
    val k = (spark, key)
    val entry = entries.getOrElse(k, {
      keysWhere((s, _) => s.sparkContext.isStopped).foreach(drop(_, blocking = false))
      if (scope == Index) {
        val others = keysWhere((s, e) => (s eq spark) && e.scope == Index)
        if (others.size >= IndexCap) drop(others.head, blocking = false)
      }
      val fresh = new Entry(scope, () => build)
      entries.putIfAbsent(k, fresh).getOrElse(fresh)
    })
    entry.value.asInstanceOf[V]
  }

  /** Drop every session's [[Index]] entries, unpersisting their frames.
    * A harness passes `blocking = true` so block deletion cannot bleed
    * into the next timed region.
    */
  def invalidate(blocking: Boolean = false): Unit =
    keysWhere((_, e) => e.scope == Index).foreach(drop(_, blocking))

  /** Run `body`, then unpersist every RDD it left pinned; RDDs pinned
    * before it (other memos) stay. Operators pass `blocking = false`;
    * a measurement harness passes `true`.
    */
  def releasingNew[T](spark: SparkSession, blocking: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking)
    }
  }

  /** A measurement harness's per-query hygiene: run `body`, then drop
    * the index memos, release the registered transient frames, and
    * sweep whatever `body` still pinned — in that order, all blocking.
    * The index memos go FIRST, through [[invalidate]]: a raw RDD-level
    * unpersist would free the blocks but leave the memo claiming a
    * materialized index that silently recomputes per search. Blocking,
    * because an async unpersist returns at once and its block-deletion
    * IO lands inside the NEXT query's timed runs (text-heavy queries
    * read 2-3x their isolated times in sequence); the hygiene runs
    * outside every timed region, so waiting here is free.
    */
  def isolating[T](spark: SparkSession)(body: => T): T =
    releasingNew(spark, blocking = true) {
      try body
      finally {
        invalidate(blocking = true)
        TransientCaches.release(blocking = true)
      }
    }

  /** How many `scope` entries `spark` holds. */
  private[graft] def held(spark: SparkSession, scope: Scope): Int =
    keysWhere((s, e) => (s eq spark) && e.scope == scope).size
}
