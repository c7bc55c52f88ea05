package graft.ops

import org.apache.spark.sql.DataFrame

/** Session-scoped ledger of persisted intermediates.
  *
  * Query builders persist frames that are reused inside one plan (a
  * self-joined band table, an exploded token table). Left alone, a
  * Verify or Bench session (~200 queries) accumulates every one of those
  * cached frames in the block manager — MEMORY_AND_DISK evicts, so it is memory
  * PRESSURE rather than corruption, but at bench time eviction churn is
  * real work. Builders register through [[track]]; the harness calls
  * [[release]] once a query's result is materialized, which unpersists
  * everything registered since the last release.
  *
  * Spark's CacheManager keys cached data by the analyzed plan, so a
  * builder re-invoked for a repeat run re-attaches to still-live cache
  * entries; release() between queries keeps the live set bounded at one
  * query's working set. (Tables.warm's base-table cache is deliberately
  * NOT tracked — that is the session-lifetime cache tier.)
  */
object Cached {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` and register it for the next [[release]]. Use as
    * `.transform(Cached.track)` where a bare `.persist()` used to be. */
  def track(df: DataFrame): DataFrame = {
    df.persist()
    live.add(df)
    df
  }

  /** Unpersist (non-blocking) every frame tracked since the last call. */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = live.poll()
    }
  }
}
