package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry for intra-query persisted frames (LSH sketch tables,
  * dedup survivor sets, …). Operators persist through `tracked` so a
  * long-lived session doesn't accumulate cached frames across query
  * invocations: the driver loop (Verify or any caller) calls
  * `releaseAll()` after the consuming action instead of relying on
  * LRU eviction to shed the old entries' disk store.
  */
object Caches {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist MEMORY_AND_DISK and register for the next `releaseAll`. */
  def tracked(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(df)
    df
  }

  /** Unpersist every tracked frame and clear the registry. Safe to
    * call between queries: by then the consuming action has
    * materialized the query's result. Pass `blocking = true` when the
    * caller times the NEXT query: lazy eviction otherwise
    * overlaps the next measurement and inflates it (measured: q68 at
    * 4.8s mid-suite vs 1.2s solo).
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = live.poll()
    while (df != null) { df.unpersist(blocking); df = live.poll() }
  }
}
