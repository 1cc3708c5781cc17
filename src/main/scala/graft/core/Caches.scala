package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for operator-persisted hub DataFrames (the corpus-sized
  * shared subtrees the near-dup/similarity operators cache for their
  * multiple consumers). Persisting is the right plan shape — but a
  * long-lived session running many corpora would otherwise accumulate
  * corpus-sized cache entries with no release point short of
  * `spark.catalog.clearCache()` (which nukes USER cache entries too).
  *
  * Every hub goes through [[persist]]; [[unpersistAll]] releases exactly
  * the registered hubs — call it after materializing an operator's result
  * (Verify/Bench do, between queries).
  *
  * '''Concurrency contract''': the registry is session-global, not
  * operator-scoped. It assumes the serial driver pattern above — one
  * operator materialized, then released. Two operators running
  * CONCURRENTLY on one SparkSession must not interleave with
  * [[unpersistAll]]: a call from one would release the other's live hubs
  * mid-query (correctness is unaffected — Spark recomputes the subtree —
  * but the persist's entire benefit is silently lost). Concurrent callers
  * should skip unpersistAll until all in-flight operators finish, or run
  * per-query sessions (`spark.newSession()` shares the cache manager, so
  * true isolation needs separate registries per session — the serial
  * contract is the supported mode).
  *
  * References are held STRONGLY on
  * purpose: Spark's CacheManager pins the cached data regardless, while
  * the DataFrame wrapper itself is garbage the moment the operator
  * returns — a weak reference would be collected by the first GC and the
  * corpus-sized cache entry would then be unreleasable through the
  * registry (the exact leak this class exists to prevent). The queue is
  * drained on every [[unpersistAll]], so strong refs cannot accumulate.
  */
object Caches {
  private val live = new ConcurrentLinkedQueue[DataFrame]
  private val memoMap =
    new java.util.concurrent.ConcurrentHashMap[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), AnyRef]

  /** Memoize a driver-side value derived from a (typically persisted)
    * DataFrame, keyed by `(tag, CANONICALIZED analyzed plan)` — the plan
    * is the same key Spark's own CacheManager matches on, so re-building
    * the identical operator plan (a warm re-run, or a later query over
    * the same hub) reuses the computed stats instead of re-running their
    * job. The `tag` names WHICH scalar is derived ("count",
    * "tokenTotal", ...): two different statistics over the SAME input
    * plan (e.g. a corpus's doc count and its token total) must never
    * share a key, or a same-session query sequence silently serves one
    * scalar where the other was asked for. Lifetime
    * is tied to the hub caches: [[unpersistAll]] clears the memo, so a
    * re-read of CHANGED underlying data (new corpus, same plan) cannot
    * serve stale stats past the release point. Serial-session contract
    * as above.
    *
    * The compute runs OUTSIDE the map's bin lock (a memoized stat is a
    * full Spark job — holding a ConcurrentHashMap bin lock across it
    * would serialize unrelated memo calls that hash to the same bin);
    * two racing callers may both compute, the first `putIfAbsent`
    * wins and both observe the same value.
    *
    * Known bound: entries accumulate (keyed by retained analyzed plan
    * trees) until [[unpersistAll]]. Verify/Bench call it between
    * queries; a long-lived session using the Dedup/Similarity APIs
    * directly should call [[unpersistAll]] at its own corpus
    * boundaries, or driver memory grows with the number of DISTINCT
    * operator plans run (each entry is a plan tree + small stats —
    * ~KBs, but unbounded in count). */
  def memo[T <: AnyRef](df: DataFrame, tag: String)(compute: => T): T = {
    val key = (tag, df.queryExecution.analyzed.canonicalized)
    val hit = memoMap.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = compute
      val prev = memoMap.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** `df.count()`, memoized under the tag "count": every operator and
    * query that counts the same plan shares one job per release point. */
  def count(df: DataFrame): Long =
    memo(df, "count")(java.lang.Long.valueOf(df.count())).longValue

  /** Persist a hub (MEMORY_AND_DISK — spills instead of recomputing) and
    * register it for [[unpersistAll]]. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(df)
    df
  }

  /** Unpersist every registered hub (and drop the stats memo — its
    * entries describe exactly these hubs). Non-blocking: block eviction
    * runs async, so this never stalls the caller's next job. */
  def unpersistAll(): Unit = {
    memoMap.clear()
    var df = live.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () }
      df = live.poll()
    }
  }
}
