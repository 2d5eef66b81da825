package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Registry of operator-OWNED persisted frames (VERDICT r8 #4): an
  * operator that caches a frame purely for its own plan (a register
  * table read three times, a quantized corpus read per Lloyd's
  * iteration) cannot unpersist it before returning — the returned
  * DataFrame is lazy and still references the cache. So the operator
  * declares ownership with [[own]], and the HARNESS calls [[release]]
  * once the result has materialized. Across a 200+-query session this
  * keeps executor storage at the session-shared frames only, instead
  * of accumulating ~20 operator-local caches until LRU eviction
  * (correctness was never at risk — the leak inflated GC pressure and
  * contaminated per-query bench attribution).
  *
  * ==The harness-release contract==
  * Any consumer of the operator API — not just Verify/Bench/tests —
  * must call `OwnedCaches.release()` after MATERIALIZING each
  * operator result (write/collect/count), on the SAME THREAD that
  * built the plan. Skipping it re-accumulates operator-local caches
  * until LRU eviction (the original r8 leak): a performance and
  * attribution problem, never a correctness one — releasing early
  * merely recomputes.
  *
  * Pending frames are keyed by the REGISTERING THREAD (r9 ADVICE):
  * `own` runs during driver-side plan construction, so the thread
  * that builds a query is the thread that owns its caches, and
  * `release()` drains only the calling thread's registrations.
  * Concurrent harness threads (parallel test suites, a multi-tenant
  * driver) can no longer drain each other's pending frames mid-build,
  * and the `pendingCount > 0` test assertions are race-free.
  *
  * Frames shared ACROSS queries (the dedup shingle-set build — four
  * queries plan-match it via the CacheManager) are deliberately NOT
  * owned: see the annotation at their cache sites.
  */
object OwnedCaches {
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.ArrayDeque[DataFrame]]()
  private val pendingRdds =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.ArrayDeque[RDD[_]]]()

  private def tid: Long = Thread.currentThread().getId

  /** Declare `df` (already persisted) as owned by the current
    * operator invocation on the current thread; returns it unchanged.
    */
  def own(df: DataFrame): DataFrame = {
    pending.computeIfAbsent(tid, _ => new java.util.ArrayDeque[DataFrame]())
      .add(df)
    df
  }

  /** RDD variant of [[own]] for the lineage-severed iterative loops
    * (boundedRelax / kcore / louvain distributed rounds persist each
    * round's RDD to cut the 2^rounds analyzed-tree re-expansion; the
    * FINAL round's RDD backs the returned frame and must live until
    * the harness materializes it).
    */
  def ownRdd[T](rdd: RDD[T]): RDD[T] = {
    pendingRdds.computeIfAbsent(tid, _ => new java.util.ArrayDeque[RDD[_]]())
      .add(rdd)
    rdd
  }

  /** Cut `df`'s Catalyst lineage: persist its rows as an RDD
    * (MEMORY_AND_DISK), materialize that with a count, and restart the
    * plan from it. An unrolled loop whose round references the
    * previous round k times otherwise re-analyzes k^rounds. Returns the
    * shallow frame and the RDD behind it; the caller decides when the
    * RDD is released (the round loops unpersist the previous round and
    * [[ownRdd]] the last).
    */
  def sever(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** [[sever]], with the backing RDD owned until the harness release. */
  def ownSevered(df: DataFrame): DataFrame = {
    val (f, rdd) = sever(df)
    ownRdd(rdd)
    f
  }

  /** Unpersist every owned frame registered by THIS thread since its
    * last release. Safe to call at any time: releasing a cache is a
    * performance decision, never a correctness one (the plan
    * recomputes).
    */
  def release(): Unit = {
    val q = pending.remove(tid)
    if (q != null) q.forEach(_.unpersist(blocking = false))
    val r = pendingRdds.remove(tid)
    if (r != null) r.forEach(_.unpersist(blocking = false))
  }

  /** Owned frames registered by this thread and not yet released. */
  private[graft] def pendingCount: Int = {
    val q = pending.get(tid)
    val r = pendingRdds.get(tid)
    (if (q == null) 0 else q.size) + (if (r == null) 0 else r.size)
  }
}
