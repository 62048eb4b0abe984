package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifetime registry for DataFrames persisted inside graft library
  * operators, giving callers explicit cache ownership.
  *
  * Why this exists: `Dataset.persist` registers the plan with the session's
  * `CacheManager`, which holds a strong reference — SQL-cached relations
  * are NOT reclaimed by `ContextCleaner` when the `DataFrame` object
  * becomes unreachable (only raw RDD / localCheckpoint blocks are). A
  * library op that persists an intermediate feeding its lazily-returned
  * plan cannot unpersist before returning, so without a release contract
  * every call with a new input leaks executor storage for the life of the
  * application. graft ops therefore register every such persist here:
  *
  *  - Reuse across calls stays free (`CacheManager` dedupes identical
  *    plans, so re-registering the same logical plan costs nothing).
  *  - A long-lived application calls [[releaseAll]] between corpora (or
  *    whenever the returned frames are no longer needed) to free all
  *    operator-internal cache storage deterministically.
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Persist `df` and register it for later release. Re-caching an
    * already-cached plan is a CacheManager no-op, so calling ops twice on
    * the same input does not double-register storage.
    */
  private[graft] def cache(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    live.add(p)
    p
  }

  /** Register an ALREADY-persisted (or checkpoint-backed) frame for
    * release without touching its storage level — used by iterative ops
    * whose surviving round is already materialized.
    */
  private[graft] def register(df: DataFrame): DataFrame = { live.add(df); df }

  /** Number of registered (not yet released) cached intermediates. */
  def liveCount: Int = live.size

  /** Always 0 (there is no session tier); `perfbench` still reads it. */
  def sessionLiveCount: Int = 0

  /** Unpersist every registered intermediate. Safe to call at any point:
    * a plan re-run after release simply re-materializes lazily.
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var d = live.poll()
    while (d != null) { d.unpersist(blocking); d = live.poll() }
  }

  /** No-op (there is no session tier); `perfbench.Common.releaseCaches` still calls it. */
  def releaseSession(blocking: Boolean = false): Unit = ()
}
