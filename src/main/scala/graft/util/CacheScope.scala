package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}

/** Session-lifetime cache registry for query-internal `.cache()` calls
  * whose DataFrame outlives the builder function (the query result is
  * lazy — the cache materializes during the CALLER's action, so the
  * builder cannot unpersist it). Harnesses that run many queries in one
  * session (Bench's 77-query cold+warm sweep, Verify's full dump) call
  * `releaseAll()` at each query boundary; without that, every cached
  * shingle/fingerprint table would pin storage memory for the rest of
  * the session. Within one query's lifetime (cold run, then warm rep)
  * reuse still works: Spark's cache manager keys on the logical plan, so
  * the warm rep's identical plan hits the entry registered by the cold
  * run — except for plans holding a typed Aggregator, which never match
  * across builds (see the keyed `cached`).
  */
object CacheScope {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** cache + register for the next releaseAll() */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    live.add(ds)
    ds
  }

  private val byKey = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Dataset[_]]()

  /** `cached(build)` once per session and `key` until the next
    * releaseAll(): for a result several queries read whose plan the
    * cache manager cannot match across builds (a typed Aggregator's
    * buffer encoder resolves to fresh expressions on every build).
    */
  def cached[T](spark: SparkSession, key: String)(build: => Dataset[T]): Dataset[T] =
    Option(byKey.get((spark, key))).getOrElse {
      val ds = cached(build)
      byKey.put((spark, key), ds)
      ds
    }.asInstanceOf[Dataset[T]]

  /** Unpersist every registered dataset (non-blocking) and clear the
    * registry. Safe to call between queries: already-released or
    * plan-shared entries unpersist idempotently.
    */
  def releaseAll(): Unit = {
    byKey.clear()
    var d = live.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Exception => () }
      d = live.poll()
    }
  }
}
