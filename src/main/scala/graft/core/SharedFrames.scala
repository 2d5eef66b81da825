package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry of SESSION-SHARED persisted frames — the frames several
  * queries deliberately reuse (the dedup shingle sets, the graph
  * support edges, the k-means assignment, the brand baskets), which
  * [[OwnedCaches]] intentionally does NOT own. Before round 13 these
  * relied on CacheManager plan-matching and lived until the session
  * died, so the storage working set grew O(#queries) and a long bench
  * run evicted mid-flight once the heap's storage fraction filled.
  * This registry bounds the working set instead, and learns from the
  * harness run itself which query reads which frame — the way a dbt
  * project derives its model graph from the `ref()` calls models make:
  *
  *  - Builders call [[get]] with a stable key and a build thunk. The
  *    first call builds + persists; later calls return the memoized
  *    frame (same DataFrame object — stronger than plan-matching, and
  *    release becomes an O(1) unpersist).
  *  - '''Record.''' While a harness query is current ([[begin]]), every
  *    [[get]] adds it to `record(key)`, and so does a [[has]] that
  *    answers true. The record uses the plain key (no dir / session
  *    suffix), lives for the JVM, and survives [[planQueries]] and
  *    [[reset]]; it is never written anywhere.
  *  - '''Transitive reads.''' While key K is being built, each nested
  *    [[get]] (or true [[has]]) of K2 adds K2 to K's deps; every later
  *    read of K also records the reader for K's deps, recursively. So
  *    a graph query that only touches the memoized support edges still
  *    counts as a reader of the basket-pair frame they were built from.
  *  - '''Release.''' A harness that runs a known query list (Bench,
  *    Verify) declares it via [[planQueries]], which snapshots the keys
  *    that already have a record, and calls [[queryDone]] after each
  *    query materializes. A live frame is unpersisted after a query
  *    when its key was in that snapshot and no pending query is in its
  *    record — release-on-last-reader. Keys with no earlier record
  *    stay live until the plan's last query finishes, when everything
  *    is released. So the first planned pass in a JVM (Bench's warmup,
  *    Verify) holds every frame it builds to its end, and only later
  *    passes run the learned schedule, whose peak storage holds one
  *    family's frames, not every family's.
  *  - Without [[planQueries]] (tests, library users) nothing is ever
  *    auto-released: exactly the pre-round-13 session semantics.
  *
  * Correctness is never at stake: releasing early (an incomplete
  * record) only forces a rebuild. Such drift is OBSERVABLE:
  * [[diagnostics]] counts rebuilds-after-release and tags reads of a
  * key whose earlier record did not list the reader (the record then
  * learns that read too); Bench emits both in its sidecar.
  */
object SharedFrames {
  private final case class Entry(df: DataFrame, key: String)

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  // keys released by the planner that were later rebuilt (drift tell)
  private val buildCounts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val undeclared = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // plain key -> queries that read it / keys read while building it;
  // both guarded by the object monitor, never cleared
  private val record = scala.collection.mutable.HashMap.empty[String, Set[String]]
  private val deps = scala.collection.mutable.HashMap.empty[String, Set[String]]
  // the record as the current plan found it
  private var known = Map.empty[String, Set[String]]
  // keys whose build thunk is running, innermost first (builds run
  // under the monitor, so only the building thread ever sees it)
  private var building = List.empty[String]
  // pending = planned queries not yet done; None = no plan (never release)
  @volatile private var pending: Option[Set[String]] = None
  @volatile private var current: String = ""

  /** Note a read of `key`: a dep of the frame being built, and (inside
    * a harness query) a reader in the record, transitively.
    */
  private def read(key: String): Unit = synchronized {
    building.headOption.foreach(outer => deps(outer) = deps.getOrElse(outer, Set.empty) + key)
    def note(k: String, seen: Set[String]): Unit = if (!seen(k)) {
      if (known.get(k).exists(!_.contains(current))) undeclared.add(s"$k<-$current")
      record(k) = record.getOrElse(k, Set.empty) + current
      deps.getOrElse(k, Set.empty).foreach(note(_, seen + k))
    }
    if (current.nonEmpty) note(key, Set.empty)
  }

  /** Memoized build of the shared frame `key` for `dir` (the key is
    * qualified with the data dir — tests and bench runs at different
    * SFs must not collide — AND the session: a DataFrame belongs to
    * the session that built it, and handing a memoized frame to a
    * fresh `newSession()` would resolve temp views / confs against
    * the WRONG session; per-session entries still share executor
    * storage through the context-wide CacheManager). `build` runs at
    * most once per live entry and its result is persisted
    * MEMORY_AND_DISK (shared frames are rebuilt-on-release, never
    * silently evicted-and-recomputed — disk spill beats both).
    */
  def get(spark: SparkSession, key: String, dir: String)(build: => DataFrame): DataFrame = {
    read(key)
    val k = s"$key@$dir@${System.identityHashCode(spark)}"
    // identityHashCode is not unique: two LIVE sessions can collide on
    // the key suffix (each entry's DataFrame strongly pins its own
    // session, so a dead-session collision cannot occur — but a live
    // one can). A frame resolves temp views/confs against the session
    // that built it; never hand it to a different one — drop and
    // rebuild for the caller's session instead.
    val existing = entries.get(k)
    if (existing != null && (existing.df.sparkSession ne spark)) {
      existing.df.unpersist(blocking = false)
      entries.remove(k, existing)
    }
    // NOT computeIfAbsent: build thunks NEST (hashedSets builds on
    // shingleSets), and ConcurrentHashMap.computeIfAbsent throws
    // "Recursive update" when a reentrant computation lands in the
    // same bin — a hash-layout-dependent landmine. Plain double-checked
    // get/put under the object monitor instead (reentrant for the
    // nested build; builds are driver-side plan construction, so the
    // serialization is cheap).
    var e = entries.get(k)
    if (e == null || (e.df.sparkSession ne spark)) synchronized {
      e = entries.get(k)
      // re-verify the SESSION inside the monitor, not just presence: a
      // colliding live session can re-insert its entry between the
      // unsynchronized eviction above and this re-get, and returning
      // that entry hands the caller a frame bound to the wrong session
      // — the exact bug the collision check exists to fix (ADVICE r15)
      if (e != null && (e.df.sparkSession ne spark)) {
        e.df.unpersist(blocking = false)
        entries.remove(k, e)
        e = null
      }
      if (e == null) {
        // count > 1 with a plan active = rebuilt after release (drift)
        buildCounts.merge(k, 1, (a: Int, b: Int) => a + b)
        building = key :: building
        val df = try build finally building = building.tail
        e = Entry(df.persist(StorageLevel.MEMORY_AND_DISK), key)
        entries.put(k, e)
      }
    }
    // an external spark.catalog.clearCache() (isolated tests) strips
    // the persistence but not the memo — re-pin, matching the old
    // plan-match-on-.cache() behavior
    if (e.df.storageLevel == StorageLevel.NONE)
      e.df.persist(StorageLevel.MEMORY_AND_DISK)
    e.df
  }

  /** True when a live entry for (key, dir, session) exists — getters
    * with an expensive warm path (eager pin jobs that only matter
    * when a BUILD ran) use this to short-circuit (round 19). Purely
    * advisory: a false answer just routes the caller through the full
    * build-or-lookup path. A true answer counts as a read of `key`.
    */
  def has(spark: SparkSession, key: String, dir: String): Boolean = {
    val e = entries.get(s"$key@$dir@${System.identityHashCode(spark)}")
    val live = e != null && (e.df.sparkSession eq spark)
    if (live) read(key)
    live
  }

  /** Declare the query list the harness is about to run: snapshot the
    * keys recorded so far (only those release before the plan ends).
    * Also resets diagnostics.
    */
  def planQueries(names: Seq[String]): Unit = synchronized {
    pending = Some(names.toSet)
    known = record.toMap
    buildCounts.clear()
    undeclared.clear()
  }

  /** Mark the query the harness is about to run (attribution for the
    * undeclared-access diagnostic; "" between queries).
    */
  def begin(name: String): Unit = current = name

  /** The harness finished (materialized) `name`: drop it from the
    * pending set and unpersist every frame whose key was recorded
    * before the plan and has no pending reader — or every frame, once
    * the plan's last query is done. No-op when [[planQueries]] was
    * never called.
    */
  def queryDone(name: String): Unit = synchronized {
    current = ""
    pending = pending.map(_ - name)
    pending.foreach { p =>
      val it = entries.values().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p.isEmpty || (known.contains(e.key) && !record(e.key).exists(p))) {
          e.df.unpersist(blocking = false)
          it.remove()
        }
      }
    }
  }

  /** Unpersist and forget every frame (isolated-bench mode: each query
    * must pay its own full cost, INCLUDING the shared builds — a
    * memoized-but-unpersisted frame would instead recompute on every
    * read within one query). The record survives.
    */
  def reset(): Unit = synchronized {
    entries.forEach((_, e) => e.df.unpersist(blocking = false))
    entries.clear() // the plan (pending) survives; entries rebuild on demand
    evictHooks.forEach(h => h(None))
  }

  // side-caches keyed like SharedFrames (dir × session identity) that
  // must not outlive the frames they route for — e.g. Ann's corpus-count
  // routing memo, which would otherwise keep picking a branch off a
  // stale count after the table at a dir is rewritten within one
  // session (ADVICE r15). reset() fires with None (drop everything);
  // releaseSession(s) fires with Some(s) (drop that session's keys).
  private val evictHooks =
    new java.util.concurrent.CopyOnWriteArrayList[Option[SparkSession] => Unit]()

  /** Register a cache-invalidation hook fired on [[reset]] (None) and
    * [[releaseSession]] (Some(session)). Idempotent hooks only; fired
    * under the registry monitor.
    */
  def onEvict(f: Option[SparkSession] => Unit): Unit = evictHooks.add(f)

  /** (rebuild-after-release count, `key<-query` tags of reads the
    * plan's snapshot of the record did not list, live keys).
    */
  def diagnostics: (Int, Seq[String], Seq[String]) = {
    var rebuilds = 0
    buildCounts.forEach((_, n) => if (n > 1) rebuilds += n - 1)
    val und = {
      val b = Seq.newBuilder[String]
      undeclared.forEach(k => b += k)
      b.result().sorted
    }
    val live = {
      val b = Seq.newBuilder[String]
      entries.forEach((k, _) => b += k)
      b.result().sorted
    }
    (rebuilds, und, live)
  }

  /** Test hook: drop the planned-query state (back to library
    * semantics) without touching live frames.
    */
  private[graft] def clearPlan(): Unit = synchronized {
    pending = None
    known = Map.empty
    current = ""
  }

  /** Release every frame a session built and forget its entries — the
    * lifecycle hook for long-lived processes that create and discard
    * many sessions: without [[planQueries]] nothing auto-releases (by
    * design — library semantics), and each entry strongly pins both
    * its frame's storage and its session, so abandoning sessions
    * without calling this accumulates one entry per key×dir×session
    * for the life of the process.
    */
  def releaseSession(spark: SparkSession): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.df.sparkSession eq spark) {
        e.getValue.df.unpersist(blocking = false)
        it.remove()
      }
    }
    evictHooks.forEach(h => h(Some(spark)))
  }
}
