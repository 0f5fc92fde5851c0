package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialization of a subplan shared by consumers with
  * DIFFERENT shuffle keys.
  *
  * Spark reuses an exchange only when two consumers shuffle the same
  * subplan by the same key; a second consumer with a different key
  * re-runs the whole lineage. For an expensive lineage (e.g. 5M+ MD5
  * digests behind the shingle table) that recompute dominated the
  * round-2 bench: q15 spent 11.6 s re-hashing for its `sizes`
  * aggregate, and q14/q49 repeated the pattern.
  *
  * `shared` persists the frame and (by default) materializes it EAGERLY
  * (one count job) so every consumer — whatever its shuffle key — reads
  * cached blocks instead of re-running the lineage. Plain `persist`
  * (not `localCheckpoint`) keeps the lineage intact, so block eviction
  * under memory pressure degrades to recompute instead of job failure.
  *
  * The eager count is a side effect at plan-CONSTRUCTION time, which is
  * wrong for plan inspection: `Explain` only wants the physical plan,
  * not a full compute job. `withoutEagerness(spark)` turns `shared`
  * into a plain pass-through (no persist, no count) for that session
  * only; other sessions of the same JVM keep materializing.
  *
  * `release(spark)` unpersists everything `shared` registered for that
  * session. Bench calls it after EVERY timed run (so pass 2 measures
  * full compute, not a warm cache) and Verify calls it after every
  * query (bounded memory across the 50+ query sweep).
  */
object Materialize {
  // keyed on the SparkSession instance (reference identity — Spark
  // does not override equals) rather than an id string: sessions are
  // few and long-lived, and release() removes the entry
  private val registry =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[DataFrame]]()
  // sessions inside withoutEagerness (plan inspection)
  private val lazySessions = ConcurrentHashMap.newKeySet[SparkSession]()

  def shared(spark: SparkSession, df: DataFrame): DataFrame =
    if (!eagerEnabled(spark)) df
    else {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached.count()
      registry
        .computeIfAbsent(spark, _ => new ConcurrentLinkedQueue[DataFrame]())
        .add(cached)
      cached
    }

  // round 15: a query that builds the same shared lineage through two
  // helper paths (e.g. q15's sharedSummary reached from both the sizes
  // arm and the posting-scan arm) used to pay a second persist + count
  // job per invocation — Spark's CacheManager deduped the STORAGE, but
  // the eager count re-ran every time. Keying the materialization lets
  // the second reach return the first frame (and its already-computed
  // row count) with zero extra jobs. Scoped exactly like `shared`:
  // release() drops the key table with the blocks, so nothing persists
  // across timed runs — this is within-invocation reuse, not a result
  // cache.
  private val keyed =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[Any, (DataFrame, Long)]]()

  // guards the CHM contract below: the persist+count runs INSIDE
  // computeIfAbsent's map lock, so a builder thunk that (transitively)
  // reaches sharedKeyed again on the same session would hit CHM's
  // recursive-update IllegalStateException or deadlock. No current
  // call site nests (docShingleSummary, queryTermPer are leaf
  // lineages); this trips a clear error if one ever does (ADVICE r15).
  private val inKeyedBuild: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** [[shared]] with a reuse key and the eager count returned (−1 in
    * the `withoutEagerness` plan-inspection mode). Builder thunks must
    * not call sharedKeyed themselves — see [[inKeyedBuild]]. */
  def sharedKeyed(spark: SparkSession, key: Any, df: => DataFrame): (DataFrame, Long) =
    if (!eagerEnabled(spark)) (df, -1L)
    else {
      require(!inKeyedBuild.get(),
        s"sharedKeyed builder thunk re-entered sharedKeyed (key=$key): " +
          "builder lineages must be leaves, or CHM recursive update corrupts the map")
      keyed
        .computeIfAbsent(spark, _ => new ConcurrentHashMap[Any, (DataFrame, Long)]())
        .computeIfAbsent(key, _ => {
          inKeyedBuild.set(true)
          try {
            val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
            val n = cached.count()
            registry
              .computeIfAbsent(spark, _ => new ConcurrentLinkedQueue[DataFrame]())
              .add(cached)
            (cached, n)
          } finally inKeyedBuild.set(false)
        })
    }

  // Checkpointed frames are held WEAKLY: if a caller never invokes
  // release() (specs, interactive sessions), the registry must not pin
  // the blocks forever — once the frame is unreachable, the
  // ContextCleaner reclaims them exactly as before tracking existed.
  // `shared` frames stay strongly held above: their cache entries live
  // in the CacheManager keyed by plan, so a GC'd handle would make the
  // entry UNRELEASABLE rather than collectable.
  private val checkpoints =
    new ConcurrentHashMap[SparkSession,
      ConcurrentLinkedQueue[java.lang.ref.WeakReference[DataFrame]]]()

  /** Register an already-materialized localCheckpoint'ed frame so
    * `release` can free its RDD blocks deterministically (plain
    * unpersist is a no-op for checkpoints). Callers must only release
    * after the query's consumers have run — checkpoints have no
    * lineage to recompute from. */
  def tracked(spark: SparkSession, df: DataFrame): DataFrame = {
    checkpoints
      .computeIfAbsent(spark, _ => new ConcurrentLinkedQueue[java.lang.ref.WeakReference[DataFrame]]())
      .add(new java.lang.ref.WeakReference(df))
    df
  }

  def release(spark: SparkSession): Unit = {
    keyed.remove(spark)
    val q = registry.remove(spark)
    if (q != null) q.forEach(df => df.unpersist(false))
    val cp = checkpoints.remove(spark)
    if (cp != null) cp.forEach { ref =>
      val df = ref.get()
      if (df != null) org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(df)
    }
  }

  /** Whether eager materialization is active for `spark` — false only
    * inside [[withoutEagerness]] on that session. Operators that run a
    * compute job at DataFrame-CONSTRUCTION time (q170's answer-sized
    * localCheckpoint) consult this so plan inspection stays job-free. */
  def eagerEnabled(spark: SparkSession): Boolean = !lazySessions.contains(spark)

  /** Run `body` with `shared` as a no-op on `spark` (plan inspection,
    * tests that assert on uncached plan shapes). Nests; other sessions
    * are unaffected. */
  def withoutEagerness[A](spark: SparkSession)(body: => A): A =
    if (!lazySessions.add(spark)) body
    else try body finally lazySessions.remove(spark)
}
