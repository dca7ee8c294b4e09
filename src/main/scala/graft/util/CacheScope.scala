package graft.util

import org.apache.spark.sql.Dataset

/** Session-lifetime cache registry for query-internal `.cache()` calls
  * whose DataFrame outlives the builder function (the query result is
  * lazy — the cache materializes during the CALLER's action, so the
  * builder cannot unpersist it). Harnesses that run many queries in one
  * session (Bench's 77-query cold+warm sweep, Verify's full dump) call
  * `releaseAll()` at each query boundary; without that, every cached
  * shingle/fingerprint table would pin storage memory for the rest of
  * the session. Until then reuse works for every plan: Spark's cache
  * manager keys on the analyzed plan, so a rebuild of the same query
  * (the warm rep, or a second query sharing a cached input) hits the
  * entry the first build registered and adds none.
  */
object CacheScope {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** cache + register for the next releaseAll(); a plan already cached
    * reads that entry (Spark's cache manager skips it with a warning)
    */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    live.add(ds)
    ds
  }

  /** Unpersist every registered dataset (non-blocking) and clear the
    * registry. Safe to call between queries: already-released or
    * plan-shared entries unpersist idempotently.
    */
  def releaseAll(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Exception => () }
      d = live.poll()
    }
  }
}
