package graft.util

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo of a value derived from a DataFrame — the one
  * cache policy behind every plan-keyed memo in this codebase (the
  * dedup/similarity pair streams, the TF-IDF census decisions and the
  * hot-route df aggregate):
  *
  *   - Key: (session, `semanticHash` of the source's analyzed plan,
  *     `params`). A hit also needs the cached plan to `sameResult` the
  *     caller's — the plan-identity test Spark's own exchange reuse
  *     uses, so two inputs that merely hash alike never cross-serve —
  *     AND an equal content signature `sig` (normally
  *     [[SourceSig.contentSig]]): plan identity is not data identity for
  *     file scans, so a re-read of a path rewritten in place matches a
  *     plan captured over different bytes. An entry whose plan matches
  *     but whose signature does not is stale: the lookup drops it and
  *     releases its frame.
  *   - `compute` runs OUTSIDE the lock (it is usually a Spark job). Two
  *     same-key misses both compute; the first to land wins, every
  *     caller gets the winner's value, and the loser's frame is
  *     released — unless it is the very cached data the winner holds
  *     (same plan: Spark caches one copy per plan, so releasing the
  *     loser would release the winner).
  *   - At most `cap` entries, least recently used evicted first.
  *   - Values that hold a frame (`frameOf`; by default none do, as
  *     for driver-side values): the memo persists it
  *     (MEMORY_AND_DISK) after `compute`, and unpersists it on evict,
  *     replace, stale drop and [[clear]], so executor storage stays
  *     bounded in long sessions. `spark.catalog.clearCache()` — the
  *     Bench/Verify convention between registered queries, so each is
  *     measured standalone — empties the storage but keeps the entry; a
  *     later hit re-persists the frame, which recomputes lazily. Real
  *     pipelines get the reuse, harness timings stay honest.
  *   - Unpersist tolerates a stopped owning session (the Bench harness
  *     rebuilds its session after a context-killing failure, and an
  *     unrelated caller's eviction must not throw for it); NonFatal
  *     only, so OOM and interrupts still propagate.
  */
final class PlanMemo[V](cap: Int,
    frameOf: V => Option[DataFrame] = (_: V) => None) {

  private case class Key(session: Int, planHash: Int, params: Any)
  private case class Entry(plan: LogicalPlan, sig: String, value: V)

  private val entries = mutable.LinkedHashMap.empty[Key, Entry]

  def getOrCompute(src: DataFrame, params: Any, sig: => String)(
      compute: => V): V = {
    val plan = src.queryExecution.analyzed
    val s = sig
    val key = Key(System.identityHashCode(src.sparkSession),
      plan.semanticHash(), params)
    def matches(e: Entry) = e.plan.sameResult(plan) && e.sig == s
    val hit = entries.synchronized {
      entries.get(key) match {
        case Some(e) if matches(e) =>
          entries.remove(key); entries.put(key, e) // LRU touch
          Some(e.value)
        case Some(e) if e.plan.sameResult(plan) =>
          entries.remove(key); release(e.value) // same plan, bytes changed
          None
        case _ => None
      }
    }
    hit match {
      case Some(v) => revive(v); v
      case None =>
        val v = compute
        revive(v)
        entries.synchronized {
          entries.get(key) match {
            case Some(e) if matches(e) =>
              if (!sameFrame(v, e.value)) release(v)
              e.value
            case other =>
              other.foreach(e => release(e.value))
              entries.put(key, Entry(plan, s, v))
              if (entries.size > cap) {
                val (k0, e0) = entries.head
                entries.remove(k0)
                release(e0.value)
              }
              v
          }
        }
    }
  }

  /** Drop every entry, unpersisting its frame. */
  def clear(): Unit = entries.synchronized {
    entries.valuesIterator.foreach(e => release(e.value))
    entries.clear()
  }

  def size: Int = entries.synchronized(entries.size)

  /** Persist the value's frame; a still-persisted frame is left as is. */
  private def revive(v: V): Unit = frameOf(v).foreach { df =>
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def release(v: V): Unit = frameOf(v).foreach { df =>
    try df.unpersist(blocking = false)
    catch { case NonFatal(_) => () }
  }

  private def sameFrame(a: V, b: V): Boolean =
    (frameOf(a), frameOf(b)) match {
      case (Some(x), Some(y)) =>
        x.queryExecution.analyzed.sameResult(y.queryExecution.analyzed)
      case _ => false
    }
}
