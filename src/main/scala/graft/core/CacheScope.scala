package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-wide registry for intermediate caches whose lifetime outlives
  * the function that created them.
  *
  * Several operators pin an intermediate relation so two lazy consumers in
  * the SAME returned plan share one computation (Spark does not CSE
  * duplicate plan subtrees): jaccardAuto's candidate pairs, the ensemble's
  * shared shingle pass, the SimHash block table, MMR's shortlist. The
  * persist must survive until the caller MATERIALIZES the returned
  * DataFrame — so the creating function cannot unpersist it — but leaving
  * it cached forever strands corpus-scale blocks in a long-lived session
  * (a 200-query battery, or a curation service): executor-memory pressure
  * that taxes every later job.
  *
  * CacheScope makes that lifetime explicit. Operators `pin` instead of
  * calling `persist` directly; the driver program calls [[releaseAll]] at
  * its natural barrier — after an action materializes the query's result
  * (the battery mains do so between keys, in `graft.Battery.release`;
  * a service between requests). Release order is irrelevant (unpersist is
  * idempotent and non-blocking), and pinning is thread-safe so concurrent
  * query threads can share the scope — releaseAll then releases whatever
  * has been pinned at that point, which is only safe at a true barrier
  * (no in-flight queries), the same contract as `spark.catalog.clearCache`.
  */
object CacheScope {
  private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` at `level` and register it for the next [[releaseAll]].
    * Returns `ds` for chaining. */
  def pin[T](ds: Dataset[T],
             level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    pinned.add(ds)
    ds
  }

  /** Unpersist everything pinned since the last release. Safe to call at
    * any barrier; no-ops on an empty scope. */
  def releaseAll(): Unit = {
    var d = pinned.poll()
    while (d != null) { d.unpersist(blocking = false); d = pinned.poll() }
  }

  /** Number of currently registered (unreleased) pins — spec hook. */
  def size: Int = pinned.size()

  /** Run `body`, MATERIALIZE its result (any action), and release every pin
    * registered during the call — the local-release path for callers that
    * are not a battery driver with its own [[releaseAll]] barrier (tests,
    * ad-hoc use, a service handling one request). The body must consume the
    * pinned data before returning (e.g. `scoped { q.count() }`), because
    * the release happens immediately after; returning a LAZY DataFrame out
    * of `scoped` and acting on it later defeats the pin.
    *
    * Note: releases the WHOLE scope, including pins registered by other
    * threads during the call — single-threaded callers only, same
    * restriction as [[releaseAll]]. */
  def scoped[A](body: => A): A =
    try body finally releaseAll()
}
