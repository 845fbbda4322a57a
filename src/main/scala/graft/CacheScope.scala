package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset

/** Session-lifetime hygiene for operator-internal caches.
  *
  * Operators like [[graft.operators.Dedup]] cache intermediate relations
  * (shingle postings, signatures) that are referenced more than once in the
  * plan they return. The operator cannot unpersist them itself — the caller
  * has not run an action yet — so it registers them here and the harness
  * (Verify / perfbench / any long-lived session) drops them once the query's
  * terminal action finishes. Without this a multi-query session accumulates
  * dead cache blocks that evict each other ("Block already exists" /
  * "Asked to cache already cached data" churn in a 46-query run).
  */
object CacheScope {
  private val live = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Cache `ds` and register it for the next [[releaseAll]]. */
  def register[T](ds: Dataset[T]): Dataset[T] = {
    live.add(ds.cache())
    ds
  }

  /** Unpersist every registered dataset (async — safe mid-session). */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = live.poll()
    }
  }
}
