package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on the purchase graph (SURVEY.md §2 E):
  * PageRank over the bipartite customer↔supplier graph induced by
  * lineitem (edge ⇔ the customer ordered a part from the supplier).
  * Complements `dedup_clusters` (connected components) as the second
  * fixed-point graph operator.
  *
  * Scale shape: the edge list is built once (distinct pairs off a
  * single orders⋈lineitem pass) and cached; each of the 5 iterations
  * is one edges⋈ranks equi-join + one groupBy(dst) sum — partitioned
  * by node key throughout, nothing on the driver, no per-iteration
  * growth. 5 fixed iterations (not convergence-tested) keeps the plan
  * statically known and the oracle expressible as unrolled CTEs.
  *
  * Determinism: ranks live on an integer grid (SCALE = 10^12).
  * Per-node contribution is integer floor-division by out-degree;
  * the damping step `floor(0.85·x)` and teleport `floor(0.15·SCALE/N)`
  * are correctly-rounded double ops on integers < 2^53 followed by
  * floor — bit-identical across engines and summation orders, so the
  * whole fixed point is value-checked in DuckDB (5 unrolled CTE
  * iterations).
  */
object Graph {

  private val Scale = 1000000000000L // 10^12 rank grid
  private val Iters = 5
  private val TopK = 20

  /** Above this many nodes the per-iteration rank-state broadcast
    * (O(nodes) bytes to every executor, every round) stops being an
    * optimization: the loop switches to the co-partitioned join, where
    * the cached edge list keeps its hash(src) layout across all
    * iterations and only the (node, rank) state — the small side —
    * shuffles each round.
    */
  private[graft] val BroadcastNodeCap = 5000000L

  /** Single-task replay admission. Below its cap the whole graph fits
    * one task and the iterative loop's per-round jobs (a broadcast
    * collect + a count barrier × 5 rounds) are pure local stage
    * latency: a single mapPartitions pass runs all iterations in memory
    * with arithmetic bit-identical to the loop (long `div`,
    * `floor(0.85 · x)` on doubles — same IEEE ops, same operand order),
    * asserted by branch-equality tests. Same layout-selection pattern
    * as `Dedup.SmallGraphPairCap`.
    *
    * The cap is work-based (round 13): cap = budget / (measured
    * per-row·round replay cost × rounds), clamped to
    * [[SingleTaskRowMax]] rows so one task's edge array stays a few
    * hundred MB. The replay bodies are factored out as pure functions
    * and the per-family constants come from `graft.tools.ReplayCalibrate`
    * on the SHIPPED bodies (re-run it after touching any replay;
    * margins above the measured 0.03–0.05 µs for the array replays,
    * ~0.2–0.4 µs for pagerank's LongMap replay). The flat 2M-edge cap
    * this replaced both ADMITTED a too-expensive replay (the r12 112 s
    * Louvain, before the replay rewrite) and REJECTED cheap ones — the
    * 10× probe's 2.4M-row CC relax fell to the distributed loop and
    * paid 30 s of stage latency for 0.4 s of single-task work.
    */
  private[graft] val SingleTaskBudgetUs = 3e6
  private[graft] val SingleTaskRowMax = 8000000L
  private[graft] def replayCap(perRowUs: Double, rounds: Int): Long =
    math.min(SingleTaskRowMax, (SingleTaskBudgetUs / (perRowUs * rounds)).toLong)
  private[graft] val RelaxPerRowUs = 0.06
  // round 19: hub-closeness BFS (5 sources) and 8-source Brandes —
  // ReplayCalibrate measures 0.28-0.33 and 0.17-0.21 µs/edge·round on
  // the ring-of-cliques sweep; family-convention margin above the max
  private[graft] val HubClosenessPerRowUs = 0.40
  private[graft] val BtPerRowUs = 0.25
  private[graft] val TrianglePerRowUs = 0.6  // renumber+sort+orient per edge
  private[graft] val TriangleWedgeUs = 0.1   // per Σ min(deg) wedge-bound unit
  private[graft] val KcorePerRowUs = 0.06
  private[graft] val LouvainPerRowUs = 0.08
  // ReplayCalibrate (optimization round 18, dense-array rewrite):
  // pagerank 0.097–0.118, ppr ~0.10, katz 0.111–0.158 µs/edge·round at
  // 0.1–2M edges (the renumbering sort is included in the measurement);
  // constants carry the family-convention margin above the measured max
  private[graft] val PagerankPerRowUs = 0.15
  private[graft] val PprPerRowUs = 0.12
  private[graft] val KatzPerRowUs = 0.18

  /** Top-20 PageRank nodes. Node encoding: customer c → 2c,
    * supplier s → 2s+1 (disjoint integer id spaces, no string keys in
    * the shuffle).
    */
  def pagerankTopk(spark: SparkSession, dir: String): DataFrame =
    pagerank(spark, dir, forceCopartition = false)

  /** `forceCopartition` pins the at-scale branch for tests;
    * `forceLoop` pins the broadcast-iteration mid-scale branch (skips
    * the single-task shortcut). The default selects by edge count,
    * then node count (see [[replayCap]], [[BroadcastNodeCap]]).
    */
  /** The customer–supplier transaction graph: distinct (customer,
    * supplier) purchase pairs encoded on disjoint node ids (2c even /
    * 2s+1 odd), symmetric closure — ONE definition shared by
    * [[pagerank]] and [[katzTopk]] (Spark face) with its SQL twin
    * [[CustSuppEdgesCte]], so the two centralities can never drift
    * onto different graphs. orders⋈lineitem stays a shuffle join on
    * purpose: at scale BOTH sides are fact-sized (AQE will still
    * broadcast if one side turns out small at runtime). Returned
    * UNCACHED — each consumer owns its persistence lifecycle.
    */
  /** Distinct (customer, supplier) purchase pairs — the ONE fact-join
    * + distinct pass the whole centrality family derives its graph
    * from, session-shared (optimization round 18): `hits_scores`
    * consumes it directly and the three [[custSuppEdges]] centralities
    * derive the encoded symmetric closure from it map-side, so the
    * orders⋈lineitem shuffle and the distinct run ONCE per session
    * instead of four times. Release rides SharedFrames'
    * last-planned-consumer accounting, the established shared-family
    * lifecycle.
    */
  private[graft] val CustSuppPairConsumers =
    Set("pagerank_topk", "personalized_pagerank", "katz_topk", "hits_scores",
      // round 19: the attribute-mixing audit reads the identical
      // distinct (customer, supplier) pair frame
      "attribute_assortativity")

  private[graft] def custSuppPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "custSuppPairs", dir, CustSuppPairConsumers) {
      val t = Tables(spark, dir)
      t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
    }

  private[graft] def custSuppEdges(spark: SparkSession, dir: String): DataFrame = {
    // the ×2 / ×2+1 encoding is injective, so projecting the shared
    // distinct pair frame preserves distinctness with no new shuffle
    val pairs = custSuppPairs(spark, dir)
      .select((col("c") * 2).as("c"), (col("s") * 2 + 1).as("s"))
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** [[custSuppEdges]]' SQL twin — the `pairs`/`edges` CTE prelude
    * both graph oracles splice in verbatim.
    */
  private[graft] val CustSuppEdgesCte: String =
    """pairs AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |edges AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs)""".stripMargin

  /** Degree frame and degree-annotated flat edges over
    * [[custSuppEdges]], session-shared (optimization round 18):
    * pagerank and PPR each rebuilt the closure + degree groupBy +
    * degree join per query (and per timed run) — measured ~20 s of
    * task CPU per run at sf0.1 for plan prefixes that are byte-
    * identical across the three centralities. katz reads the flat
    * frame's (src, dst) projection.
    */
  private[graft] val CustSuppFlatConsumers =
    Set("pagerank_topk", "personalized_pagerank", "katz_topk")

  private[graft] def custSuppDeg(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "custSuppDeg", dir, CustSuppFlatConsumers) {
      custSuppEdges(spark, dir)
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    }

  private[graft] def custSuppEdgesFlat(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "custSuppEdgesFlat", dir, CustSuppFlatConsumers) {
      custSuppEdges(spark, dir)
        .join(custSuppDeg(spark, dir).toDF("src", "deg_src"), "src")
        .select(col("src"), col("dst"), col("deg_src"))
    }

  private[graft] def pagerank(spark: SparkSession, dir: String,
      forceCopartition: Boolean, forceLoop: Boolean = false): DataFrame = {
    // The loop-invariant out-degree rides ON the edge rows (it only
    // ever divides the source's rank), so the iterating state is just
    // (node, r) and no per-iteration degree join exists at all. The
    // degree frame and flat edges are session-shared with PPR/katz.
    val deg = custSuppDeg(spark, dir)
    // every node has degree ≥ 1 and appears on both edge sides
    // (symmetric closure), so there are no dangling nodes to handle.
    // N is ONE scalar pulled once for the teleport constant (like the
    // dedupClusters converged flag — no graph data crosses the driver);
    // math.floor on doubles = the oracle's floor(CAST ... AS DOUBLE).
    val n = deg.count()
    val copartition = forceCopartition || n > BroadcastNodeCap
    val edgesFlat = custSuppEdgesFlat(spark, dir)
    val teleportC = math.floor(0.15 * Scale.toDouble / n.toDouble).toLong
    val initR = Scale / n
    // single-task branch: only consulted when the node count already
    // says the graph MIGHT be tiny (n ≤ cap ⇒ the extra count job is
    // amortized by the ~12 per-iteration jobs it removes)
    if (!forceCopartition && !forceLoop && n <= replayCap(PagerankPerRowUs, Iters)) {
      val sess = spark
      import sess.implicits._
      val edgeCount = edgesFlat.count() // materializes the shared frame
      if (edgeCount <= replayCap(PagerankPerRowUs, Iters)) {
        val iters = Iters
        val i0 = initR; val tc = teleportC
        val ranked = edgesFlat
          .select(col("src").cast("long"), col("dst").cast("long"),
            col("deg_src").cast("long"))
          .as[(Long, Long, Long)]
          .repartition(1)
          .mapPartitions(it => pagerankReplay(it.toArray, iters, i0, tc))
          .toDF("node", "rank_q12")
        return ranked
          .orderBy(col("rank_q12").desc, col("node"))
          .limit(TopK)
      }
      // dense small-n graph over the edge cap: fall through to the
      // loop (the cache stays warm for its iterations)
    }
    // co-partitioned branch: bake hash(src) partitioning INTO the
    // cached edges once — InMemoryRelation preserves the child's
    // outputPartitioning, so every iteration's src=node join reuses it
    // and only the rank state shuffles. Owned (not unpersisted inline):
    // the returned lazy plan no longer reads it, but the loop below
    // materializes through it.
    // explicit partition count (round 19): exempt from AQE cached-plan
    // coalescing, so the iteration joins keep reusing the baked layout
    val edges = graft.core.OwnedCaches.own(
      (if (copartition)
        edgesFlat.repartition(spark.sessionState.conf.numShufflePartitions, col("src"))
      else edgesFlat).cache())
    var state = deg.select(col("node"), lit(initR).as("r")).cache()
    for (_ <- 1 to Iters) {
      // small graphs: rank state (one row per node) is ≪ the edge
      // list — broadcast it so each iteration streams the cached edges
      // map-side with ONE shuffle (the partial-aggregated contribution
      // groupBy). Large graphs: plain join against the pre-partitioned
      // edges (state shuffles, edges don't). Both branches take an
      // explicit count() barrier: it stops the loop fusing into one
      // deep DAG that Catalyst re-optimizes end to end, fully
      // materializes the round's cache, and thereby lets the PREVIOUS
      // round's frame be released immediately — executor storage holds
      // O(1) rank frames however many iterations run.
      val stateSide = if (copartition) state else broadcast(state)
      val next = edges
        .join(stateSide, edges("src") === state("node"))
        .select(col("dst"), expr("r div deg_src").as("cm"))
        .groupBy(col("dst"))
        .agg(sum(col("cm")).as("contrib"))
        .select(col("dst").as("node"),
          (lit(teleportC) +
            expr("CAST(floor(CAST(0.85 AS DOUBLE) * CAST(contrib AS DOUBLE)) AS BIGINT)")).as("r"))
        .cache()
      next.count()
      state.unpersist()
      state = next
    }
    // the final rank state is materialized — the edge cache releases
    // with the harness (owned above)
    graft.core.OwnedCaches.own(state) // released by the harness post-materialization
    state.select(col("node"), col("r").as("rank_q12"))
      .orderBy(col("rank_q12").desc, col("node"))
      .limit(TopK)
  }

  /** The single-task PageRank replay body (bit-identical to the
    * distributed loop: long `div`, `floor(0.85·x)` on doubles — same
    * IEEE ops, same operand order; branch-equality pinned). Factored
    * out of the mapPartitions closure so ReplayCalibrate times the
    * shipped code when sizing the admission cap (measured ~0.2
    * µs/row·iter on the symmetric-closed row set → ~2 s at the
    * 2M-row cap — the heaviest admitted replay, inside the
    * single-task latency budget).
    */
  /** The single-task triangle replay body — the same degree-oriented
    * wedge enumeration as the distributed branch (orient each edge
    * from its lower (deg·2³¹+id) endpoint, count wedges whose closing
    * oriented edge exists), all-integer so the count is bit-identical
    * by construction. Flat primitives per the r13 replay discipline
    * (dense renumbering + one sorted packed-edge array; closure check
    * = binary search — boxed tuple hash sets cost ~10× here):
    * ReplayCalibrate measures ~0.1 µs per wedge-bound unit
    * (Σ min(deg(a), deg(b))), the work term the admission gate uses.
    */
  private[graft] def triangleReplay(es: Array[(Long, Long)]): Iterator[(Long, Long, Long)] = {
    val m = es.length
    if (m == 0) return Iterator.single((0L, 0L, 0L))
    // dense renumbering: sorted distinct ids, index = binary search
    val ids = new Array[Long](2 * m)
    var i = 0
    while (i < m) { ids(2 * i) = es(i)._1; ids(2 * i + 1) = es(i)._2; i += 1 }
    java.util.Arrays.sort(ids)
    var n = 1
    i = 1
    while (i < 2 * m) { if (ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 }; i += 1 }
    val nodeId = java.util.Arrays.copyOf(ids, n)
    def idx(p: Long): Int = java.util.Arrays.binarySearch(nodeId, p)
    val deg = new Array[Long](n)
    i = 0
    while (i < m) { deg(idx(es(i)._1)) += 1; deg(idx(es(i)._2)) += 1; i += 1 }
    // same total order as the distributed branch: rank = deg·2³¹ + ORIGINAL id
    def rank(j: Int): Long = deg(j) * 2147483648L + nodeId(j)
    // oriented edges packed (srcIdx<<32 | dstIdx); sorted array doubles
    // as grouped CSR (block per src) and closure index (binary search)
    val packed = new Array[Long](m)
    i = 0
    while (i < m) {
      val a = idx(es(i)._1); val b = idx(es(i)._2)
      val s = if (rank(a) < rank(b)) a else b
      val d = if (rank(a) < rank(b)) b else a
      packed(i) = (s.toLong << 32) | (d.toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(packed)
    var tri = 0L
    var lo = 0
    while (lo < m) {
      val src = (packed(lo) >>> 32).toInt
      var hi = lo + 1
      while (hi < m && (packed(hi) >>> 32).toInt == src) hi += 1
      // wedges (v, w) among this src's out-neighbors, ordered by the
      // same rdst total order as the distributed filter x.rdst < y.rdst
      var x = lo
      while (x < hi) {
        val v = (packed(x) & 0xffffffffL).toInt
        val rv = rank(v)
        var y = lo
        while (y < hi) {
          val w = (packed(y) & 0xffffffffL).toInt
          if (y != x && rv < rank(w) &&
              java.util.Arrays.binarySearch(packed,
                (v.toLong << 32) | (w.toLong & 0xffffffffL)) >= 0) tri += 1
          y += 1
        }
        x += 1
      }
      lo = hi
    }
    Iterator.single((n.toLong, m.toLong, tri))
  }

  /** Dense renumbering for the replay bodies (optimization round 18):
    * sorted unique endpoint ids + per-edge int indexes. The LongMap
    * tallies the replays used before cost ~0.2–0.4 µs per edge·round
    * (hash + probe per update); index arithmetic over primitive
    * arrays is ~10–20× cheaper, which both shrinks the replay's
    * serial task and lets the measured caps admit larger graphs.
    * Returns (sorted ids, srcIdx, dstIdx).
    */
  private def renumber(srcs: Int => Long, dsts: Int => Long, m: Int)
      : (Array[Long], Int, Array[Int], Array[Int]) = {
    val ids = new Array[Long](2 * m)
    var i = 0
    while (i < m) { ids(2 * i) = srcs(i); ids(2 * i + 1) = dsts(i); i += 1 }
    java.util.Arrays.sort(ids)
    var n = 0; i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    def idx(v: Long): Int = {
      var lo = 0; var hi = n - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1; val c = ids(mid)
        if (c == v) return mid
        if (c < v) lo = mid + 1 else hi = mid - 1
      }
      -1 // unreachable: every endpoint was inserted above
    }
    val srcI = new Array[Int](m); val dstI = new Array[Int](m)
    i = 0
    while (i < m) { srcI(i) = idx(srcs(i)); dstI(i) = idx(dsts(i)); i += 1 }
    (ids, n, srcI, dstI)
  }

  private[graft] def pagerankReplay(es: Array[(Long, Long, Long)],
      iters: Int, initR: Long, teleportC: Long): Iterator[(Long, Long)] = {
    val m = es.length
    val (ids, n, srcI, dstI) = renumber(i => es(i)._1, i => es(i)._2, m)
    val degA = new Array[Long](m)
    var i = 0
    while (i < m) { degA(i) = es(i)._3; i += 1 }
    // caller invariant (both callers build the symmetric closure):
    // every node appears as src AND dst, so rank membership is the
    // full node set each round and r/contrib are plain dense arrays
    var r = new Array[Long](n)
    java.util.Arrays.fill(r, initR)
    var contrib = new Array[Long](n)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(contrib, 0L)
      i = 0
      while (i < m) {
        // per-edge floor division then sum — the loop's
        // `r div deg_src` → groupBy sum, exactly (order-free: longs)
        contrib(dstI(i)) += r(srcI(i)) / degA(i)
        i += 1
      }
      var j = 0
      while (j < n) {
        contrib(j) = teleportC + math.floor(0.85 * contrib(j).toDouble).toLong
        j += 1
      }
      val t = r; r = contrib; contrib = t
      it += 1
    }
    (0 until n).iterator.map(j => (ids(j), r(j)))
  }

  /** The single-task personalized-PageRank replay body (bit-identical
    * to the distributed loop: inner-join semantics — only sources
    * PRESENT in the state contribute, and a reached dst whose
    * contributions all floor to 0 still gets its rank-0 row; long
    * `div`, `floor(0.85·x)` on doubles, then the seed-union-sum that
    * injects floor(0.15·Scale) restart mass). The seed (lowest even
    * node = lowest custkey) is derived from the edge array inside the
    * task, so this branch moves ZERO scalars through the driver.
    * Factored out of the mapPartitions closure so ReplayCalibrate
    * times the shipped code when sizing [[PprPerRowUs]].
    */
  private[graft] def pprReplay(es: Array[(Long, Long, Long)],
      iters: Int, scale: Long): Iterator[(Long, Long)] = {
    val m = es.length
    // empty graph (ADVICE r18): m = 0 leaves the seed search at -1 and
    // member(seedI) would fault — the distributed loop degrades to an
    // empty state frame here, so the replay must too
    if (m == 0) return Iterator.empty
    val (ids, n, srcI, dstI) = renumber(i => es(i)._1, i => es(i)._2, m)
    val degA = new Array[Long](m)
    var i = 0
    while (i < m) { degA(i) = es(i)._3; i += 1 }
    var seed = Long.MaxValue
    i = 0
    while (i < m) { val s = es(i)._1; if (s % 2 == 0 && s < seed) seed = s; i += 1 }
    val seedI = {
      var lo = 0; var hi = n - 1; var f = -1
      while (lo <= hi && f < 0) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) == seed) f = mid
        else if (ids(mid) < seed) lo = mid + 1 else hi = mid - 1
      }
      f
    }
    // no even (customer) node at all — same degradation as m = 0
    if (seedI < 0) return Iterator.empty
    val teleportC = math.floor(0.15 * scale.toDouble).toLong
    // sparse membership matters here (the state grows out from the
    // seed): `member` tracks the loop's inner-join semantics exactly —
    // absent sources contribute nothing and create no dst row; a
    // present source always creates its dst row, even at floored 0
    var member = new Array[Boolean](n)
    var r = new Array[Long](n)
    member(seedI) = true; r(seedI) = scale
    var touched = new Array[Boolean](n)
    var contrib = new Array[Long](n)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(touched, false)
      java.util.Arrays.fill(contrib, 0L)
      i = 0
      while (i < m) {
        val si = srcI(i)
        if (member(si)) {
          val di = dstI(i)
          contrib(di) += r(si) / degA(i)
          touched(di) = true
        }
        i += 1
      }
      var j = 0
      while (j < n) {
        if (touched(j))
          contrib(j) = math.floor(0.85 * contrib(j).toDouble).toLong
        j += 1
      }
      // the seed-union-sum that injects the restart mass
      contrib(seedI) = (if (touched(seedI)) contrib(seedI) else 0L) + teleportC
      touched(seedI) = true
      val tr = r; r = contrib; contrib = tr
      val tm = member; member = touched; touched = tm
      it += 1
    }
    (0 until n).iterator.filter(member(_)).map(j => (ids(j), r(j)))
  }

  val pagerankTopkSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (SELECT e.dst AS node,
         |    CAST(floor(CAST(0.15 AS DOUBLE) * CAST($Scale AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)) AS BIGINT)
         |      + CAST(floor(CAST(0.85 AS DOUBLE) * CAST(sum($prev.r // deg.deg) AS DOUBLE)) AS BIGINT) AS r
         |  FROM edges e JOIN $prev ON $prev.node = e.src JOIN deg ON deg.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    val iters = (1 to Iters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH $CustSuppEdgesCte,
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT node, $Scale // (SELECT n FROM nn) AS r FROM deg),
       |$iters
       |SELECT node, r AS rank_q12 FROM r$Iters ORDER BY r DESC, node LIMIT $TopK""".stripMargin
  }

  /** Edges with fewer co-purchases than this are noise, not product
    * affinity — and the support threshold is also what bounds the
    * graph: hub products (in every basket) fall out unless the PAIR
    * repeats, so edge count grows with genuine co-purchase structure,
    * not with basket volume.
    */
  private val TriMinSupport = 2

  /** Triangle count over the co-purchase product graph (edge ⇔ two
    * parts bought together in ≥ [[TriMinSupport]] orders) — the
    * clustering-structure statistic (closed wedges) over the same
    * graph family `cooccur_recs` and `basket_lift` mine.
    *
    * Scale shape — degree-oriented wedge enumeration (the classic
    * O(m^1.5) bound): every undirected edge is oriented from its
    * lower-(degree, id) endpoint to its higher one, so each triangle
    * has exactly ONE node with two out-edges and is counted once; the
    * wedge self-join fans out from the LOW-degree endpoint (a hub of
    * degree d contributes d·(d−1)/2 wedges in a naive id-ordered
    * enumeration, but almost none once its edges point INTO it), and
    * the closing check is one LEFT SEMI equi-join on the oriented
    * (v, w) pair. Pair volume is bounded by Σ basket² as in
    * cooccur_recs; the edge aggregate's exchange is built once and
    * reused by the three consumers (degrees, wedges, closing probe —
    * ReusedExchange, no recompute). The DuckDB oracle states the naive
    * id-ordered join — the triangle count is orientation-invariant,
    * so two different enumeration strategies must land on one hash.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCount(spark, dir, forceDistributed = false)

  /** `forceDistributed` pins the at-scale wedge-join branch for the
    * branch-equality test.
    */
  private[graft] def triangleCount(spark: SparkSession, dir: String,
      forceDistributed: Boolean): DataFrame = {
    // cached (shared [[supportEdges]] layer): referenced by deg (×2
    // via the union), the orientation join, and the edge-count leaf —
    // without a cache AQE replans each consumer independently and the
    // Σ basket² pair build (the expensive part) runs once PER
    // CONSUMER (measured 19 lineitem scans in the uncached executed
    // plan). The frame is the support-FILTERED edge list — O(repeat
    // co-purchase pairs), far below pair volume, safe at any scale.
    val edges = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // replay admission (round 14, VERDICT r13 #2), density-honest in
    // two tiers because edge count alone under-bounds wedge work on
    // dense graphs (the 10× replica probe's 1.2M-edge graph fits a
    // flat edge cap but carries ~10²× the calibration graph's wedges
    // per edge):
    //  1. nE ≤ denseSafeCap — ANY m-edge graph's oriented-wedge bound
    //     Σ min(deg a, deg b) is ≤ m·√(2m) (clique worst case), so
    //     under (budget²/2)^(1/3) edges even a clique replays inside
    //     the single-task budget. No degree probe needed — at bench
    //     scale (~3.5k edges, ONE triangle) this skips straight to the
    //     replay where the distributed orientation paid ~8 shuffle
    //     stages (measured 2.1 s) for <1 ms of arithmetic.
    //  2. otherwise, if nE fits the edge cap, ONE 1-row aggregate over
    //     the degree-decorated edges measures the ACTUAL wedge bound
    //     against the calibrated per-wedge budget — mid-size sparse
    //     graphs still replay, dense ones take the distributed wedge
    //     join (parallelism is the right engine for density).
    // Both branches count closed wedges over the same deg·2³¹+id
    // orientation, so they land on one hash.
    val wedgeBudget = (SingleTaskBudgetUs / TriangleWedgeUs).toLong
    val denseSafeCap = math.cbrt(wedgeBudget.toDouble * wedgeBudget.toDouble / 2.0).toLong
    val nE = edges.count()
    if (!forceDistributed && nE <= denseSafeCap) {
      val sess = spark
      import sess.implicits._
      return edges.select(col("p1").cast("long"), col("p2").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions(it => triangleReplay(it.toArray))
        .toDF("n_nodes", "n_edges", "n_triangles")
    }
    val deg = edges.select(col("p1").as("p"))
      .union(edges.select(col("p2").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    // cached (edge-list-sized, probe + both branches read it):
    // degree-decorated edges
    val degEdges = edges
      .join(deg.toDF("p1", "d1"), "p1")
      .join(deg.toDF("p2", "d2"), "p2")
      .cache()
    graft.core.OwnedCaches.own(degEdges)
    val wedgeBound =
      if (forceDistributed || nE > replayCap(TrianglePerRowUs, 1)) Long.MaxValue
      else degEdges.agg(sum(least(col("d1"), col("d2")))).head().getLong(0)
    if (!forceDistributed && wedgeBound <= wedgeBudget) {
      val sess = spark
      import sess.implicits._
      return degEdges.select(col("p1").cast("long"), col("p2").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions(it => triangleReplay(it.toArray))
        .toDF("n_nodes", "n_edges", "n_triangles")
    }
    // total order for orientation: rank = deg·2^31 + id (unique — id
    // breaks degree ties), edge points low → high
    val r1 = col("d1") * lit(2147483648L) + col("p1")
    val r2 = col("d2") * lit(2147483648L) + col("p2")
    // cached: the wedge self-join reads it twice and the closing
    // probe a third time (edge-list-sized, same bound as `edges`)
    val oriented = degEdges
      .select(
        when(r1 < r2, col("p1")).otherwise(col("p2")).as("src"),
        when(r1 < r2, col("p2")).otherwise(col("p1")).as("dst"),
        greatest(r1, r2).as("rdst"))
      .cache()
    graft.core.OwnedCaches.own(oriented)
    val wedges = oriented.as("x")
      .join(oriented.as("y"), "src")
      .filter(col("x.rdst") < col("y.rdst"))
      .select(col("x.dst").as("v"), col("y.dst").as("w"))
    val closed = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).cast("long").as("n_edges"))
    val nTri = closed.agg(count(lit(1)).cast("long").as("n_triangles"))
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }

  val triangleCountSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |n AS (SELECT count(DISTINCT x) AS n_nodes
      |      FROM (SELECT p1 AS x FROM e UNION ALL SELECT p2 FROM e)),
      |ec AS (SELECT count(*) AS n_edges FROM e),
      |t AS (SELECT count(*) AS n_triangles
      |      FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
      |      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
      |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(n_edges AS BIGINT) AS n_edges,
      |  CAST(n_triangles AS BIGINT) AS n_triangles
      |FROM n, ec, t""".stripMargin

  private val BfsHops = 3
  private val EccSeedMax = 6       // seeds = the part keys ≤ this
  private val EccHops = 4          // bounded-eccentricity horizon
  private val BfsSeedBrand = "Brand#1"

  /** Support-filtered undirected co-purchase edges (p1 < p2, support
    * c ≥ [[TriMinSupport]]) — the shared graph of the traversal
    * family (triangle/BFS/CC/Bellman-Ford).
    *
    * SESSION-shared cache (un-owned, the kmeans-assignment
    * convention): the Σ basket² build costs ~1.8 s at sf0.1 and five
    * graph queries derive the identical canonical subplan, so the
    * CacheManager plan-matches this one frame across all of them
    * (support-filtered edge count is tiny — thousands of rows).
    */
  /** The graph-family queries that read the shared support graph —
    * [[graft.core.SharedFrames]] releases it after the LAST of these
    * finishes in a planned harness run.
    */
  private[graft] val SupportEdgeConsumers: Set[String] = Set(
    "triangle_count", "bfs_hops", "degree_profile",
    "connected_components", "kcore_nodes", "recursive_reachability",
    "link_prediction_jaccard", "shortest_path_bf", "local_clustering",
    "graph_modularity", "community_louvain", "degree_assortativity",
    "link_prediction_resource_alloc", "rich_club_coefficient",
    "hub_closeness_profile", "adamic_adar_links", "betweenness_sample",
    "graph_eccentricity_sample",
    // round 17: the 4-cycle census reuses the same wedge machinery
    "four_cycle_count",
    // round 18: the degree-cap route's dropped-hub audit
    "wedge_cap_audit",
    // round 18 wave 4: rectangle clustering + integer power iteration
    "four_cycle_clustering", "eigenvector_centrality")

  /** Ordered in-basket co-purchase pair counts (p1 ≠ p2, BOTH
    * directions) — the Σ basket² build the whole co-purchase family
    * rests on, now session-shared ONE level below [[supportEdges]]
    * (optimization round 18): the recommender trio (`cooccur_recs`,
    * `itemitem_cf`, `recs_coverage_profile`) consumes it directly and
    * the support graph derives from it by a map-side filter, so the
    * basket explode + pair aggregation runs once per session instead
    * of four times. Per-order dedup via collect_set is identical to
    * the recommenders' distinct-items formulation, so the counts are
    * the same frame both families already computed.
    */
  private[graft] val BasketPairConsumers: Set[String] =
    SupportEdgeConsumers ++ Set("cooccur_recs", "itemitem_cf", "recs_coverage_profile")

  private[graft] def basketPairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.basketPairCounts", dir, BasketPairConsumers) {
      Tables(spark, dir).lineitem
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("basket"))
        .select(explode(col("basket")).as("p1"), col("basket"))
        .select(col("p1"), explode(col("basket")).as("p2"))
        .filter(col("p1") =!= col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("c"))
        // explicit-count repartition (round 19): pins the CACHED layout
        // to the session's shuffle parallelism — AQE's cached-plan
        // coalescing would otherwise shrink this Σ basket²-sized frame
        // to a couple of byte-sized partitions and serialize every
        // consumer's map-side pass over it (the recommender trio scans
        // it twice per bench run each). One extra exchange, once per
        // session; hash(p1) is also the recommenders' grouping key.
        .repartition(spark.sessionState.conf.numShufflePartitions, col("p1"))
    }

  private def supportEdges(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.supportEdges", dir, SupportEdgeConsumers) {
      // each order contributes exactly once per ordered pair, so the
      // bidirectional count at p1 < p2 IS the unordered support count
      basketPairCounts(spark, dir)
        .filter(col("p1") < col("p2") && col("c") >= TriMinSupport)
    }

  /** Symmetric closure of [[supportEdges]] as (src, dst), session-
    * shared (optimization round 19): a dozen graph queries each
    * re-derived — and per-RUN re-cached via OwnedCaches — this same
    * union, paying a cache build (2 shuffle-free scans + 32-way store)
    * twice per timed query. One persisted frame serves them all.
    */
  private[graft] def symEdges(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.symEdges", dir, SupportEdgeConsumers) {
      val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
      und.select(col("p1").as("src"), col("p2").as("dst"))
        .union(und.select(col("p2").as("src"), col("p1").as("dst")))
    }

  /** Node degrees over [[symEdges]] (p, deg) — the other frame every
    * family member rebuilt per run (one groupBy shuffle each); shared
    * it is one node-grain aggregate per session.
    */
  private[graft] def supportDeg(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.supportDeg", dir, SupportEdgeConsumers) {
      symEdges(spark, dir).groupBy(col("src").as("p")).agg(count(lit(1)).as("deg"))
    }

  /** The [[ccLabels]] fixpoint, session-shared (optimization round
    * 19): `connected_components`, `graph_modularity` and
    * `community_louvain` each ran the full label propagation (and
    * twice per timed query — min-of-2). The label frame is node-grain
    * and the propagation is deterministic, so one build serves all
    * three; the forced-loop test path still calls [[ccLabels]]
    * directly.
    */
  private[graft] val CcLabelConsumers: Set[String] =
    Set("connected_components", "graph_modularity", "community_louvain")

  private[graft] def ccLabelsShared(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.ccLabels", dir, CcLabelConsumers) {
      ccLabels(spark, dir, CcRounds)
    }

  /** Bounded min-plus relaxation from seed distances: `rounds` times
    * distₖ₊₁(p) = min(distₖ(p), min over edges s→p of distₖ(s)+w).
    * One primitive covers the traversal family — BFS is w≡1,
    * Bellman-Ford is real weights, min-label components is w≡0 with
    * each node seeded to its own id.
    *
    * Layout-selected like `pagerank`: up to [[replayCap]] rows
    * (measured admission) runs ALL rounds in one mapPartitions task — the per-round
    * distributed loop on a small graph is pure stage latency (6
    * cached rounds ≈ 11 s at sf0.1 for a 3.5k-edge graph; the local
    * sim is sub-second). Seeds ride into the task as weight-d
    * SELF-loops (a self-loop relaxation is a no-op, so they carry the
    * seed set without a driver collect). Integer min/plus — the local
    * replay is bit-identical to the loop, pinned by branch-equality
    * tests. Above the cap: the per-round node-keyed join + partial-agg
    * min, each round's 2-referenced state cached (uncached, the plan
    * re-expands 2^rounds — the Spark-side analog of the oracle's
    * MATERIALIZED hint).
    *
    * Scale shape: the distributed branch shuffles O(E) per round on
    * the node key; at 100 TB one adds frontier pruning (only changed
    * labels propagate) or star contractions — the per-round plan is
    * unchanged.
    */
  private[graft] def boundedRelax(edges: DataFrame, seeds: DataFrame,
      rounds: Int, forceLoop: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val cached = graft.core.OwnedCaches.own(edges.cache())
    val n = cached.count()
    if (!forceLoop && n <= replayCap(RelaxPerRowUs, rounds)) {
      import spark.implicits._
      val packed = cached
        .select(col("src").cast("long"), col("dst").cast("long"),
          col("w").cast("long"), lit(false).as("isSeed"))
        .unionByName(seeds.select(col("p").cast("long").as("src"),
          col("p").cast("long").as("dst"), col("d").cast("long").as("w"),
          lit(true).as("isSeed")))
      val r = rounds
      packed.as[(Long, Long, Long, Boolean)]
        .repartition(1)
        .mapPartitions(it => relaxReplay(it.toArray, r))
        .toDF("p", "d")
    } else {
      // each round references the previous state TWICE (keep ∪ relax),
      // so an unsevered chain re-expands 2^rounds at ANALYSIS time —
      // the documented unrolled-loop blowup (at the 10× probe this
      // was ~30 s of driver plan-time on a 2.4M-row relax). Severing:
      // materialize each round to a persisted RDD and restart the
      // lineage from it (the communityLouvain merge-loop discipline);
      // one count job per round, O(1) retained round frames, and the
      // final round's RDD is harness-released via ownRdd.
      var dist = seeds.select(col("p"), col("d"))
      var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
      for (r <- 1 to rounds) {
        val relax = dist.join(cached, col("p") === col("src"))
          .select(col("dst").as("p"), (col("d") + col("w")).as("d"))
        val next = dist.unionByName(relax)
          .groupBy(col("p")).agg(min(col("d")).as("d"))
        val rdd = next.rdd
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        if (prevRdd != null) prevRdd.unpersist(blocking = false)
        prevRdd = rdd
        if (r == rounds) graft.core.OwnedCaches.ownRdd(rdd)
        dist = spark.createDataFrame(rdd, next.schema)
      }
      dist
    }
  }

  /** The single-task min-plus relaxation body (bit-identical to the
    * distributed loop's integer min/plus; branch-equality pinned).
    * Seed rows ride in as weight-d self-loops (`isSeed`). Factored
    * out for ReplayCalibrate (measured ~0.03 µs/edge·round → 2M
    * edges × 3 rounds ≈ 0.2 s).
    */
  private[graft] def relaxReplay(rows: Array[(Long, Long, Long, Boolean)],
      rounds: Int): Iterator[(Long, Long)] = {
    val es = rows.filter(!_._4)
    var dist = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { case (p, _, d, isSeed) =>
      if (isSeed && d < dist.getOrElse(p, Long.MaxValue)) dist.update(p, d)
    }
    for (_ <- 1 to rounds) {
      val next = dist.clone()
      es.foreach { case (s, t, w, _) =>
        dist.get(s).foreach { ds =>
          if (ds + w < next.getOrElse(t, Long.MaxValue)) next.update(t, ds + w)
        }
      }
      dist = next
    }
    dist.iterator
  }

  /** Bounded-hop BFS: co-purchase distance from a seed set (one
    * brand's parts) — "everything within 3 recommendation hops", the
    * traversal primitive behind substitution radius, affiliation
    * spread, and fraud-ring expansion queries. Frontier expansion is
    * the classic iterative min-hop relaxation: each round joins the
    * CURRENT distance table against the (cached, support-filtered)
    * directed edge list and keeps min(hop) per node; the hop bound is
    * FIXED so the oracle is three unrolled CTE stages (the pagerank /
    * kmeans recipe for iterative algorithms under a value gate).
    *
    * Scale shape: per round one equi-join keyed on the node id + one
    * partial-agg min — never materializing paths; the distance table
    * is ≤ |reachable nodes| rows, the edge list is the same
    * Σ basket²-bounded, support-filtered frame `triangle_count`
    * walks, cached once. Seeds with no qualifying edges stay hop 0
    * (they are trivially within distance 0), mirrored in SQL.
    */
  def bfsHops(spark: SparkSession, dir: String,
      forceLoop: Boolean = false): DataFrame = {
    // session-shared closure (round 19)
    val edges = symEdges(spark, dir)
      .select(col("src"), col("dst"), lit(1L).as("w"))
    val seeds = Tables(spark, dir).part.filter(col("p_brand") === BfsSeedBrand)
      .select(col("p_partkey").as("p"), lit(0L).as("d"))
    boundedRelax(edges, seeds, BfsHops, forceLoop)
      .select(col("p").as("part_key"), col("d").as("hop")).orderBy("part_key")
  }

  /** H-hop bounded eccentricity sample (round 14): BFS from each of
    * the [[EccSeedMax]] lowest part keys SIMULTANEOUSLY via the
    * multi-source trick — replicate the edge list per seed under
    * disjoint id offsets (seed s's copy lives at s·2²⁴ + node) and run
    * ONE [[boundedRelax]] over the union, so the whole sample costs
    * one traversal's worth of rounds whatever K is. Per seed: nodes
    * reached within [[EccHops]] hops and the bounded eccentricity
    * (max hop among reached) — the reach/diameter profile that a full
    * diameter computation would need Θ(n) BFS runs for. Seeds outside
    * the support graph report reach 1 / ecc 0 (the self-loop seed row)
    * rather than vanishing, so the output row set is data-independent.
    *
    * Scale shape: edge volume ×K inside ONE relax (same shuffle count
    * as a single BFS); the measured admission cap sees K·E rows and
    * selects single-task vs distributed accordingly. At 100 TB the
    * sample widens by raising K, never by more rounds.
    */
  def graphEccentricitySample(spark: SparkSession, dir: String): DataFrame = {
    // session-shared closure (round 19)
    val sym = symEdges(spark, dir)
    val seeds = Tables(spark, dir).part
      .filter(col("p_partkey") <= EccSeedMax)
      .select(col("p_partkey").as("s"))
    // replica-space offset DERIVED FROM THE DATA (ADVICE r14): a fixed
    // 2^24 literal collides once part keys exceed it (~sf100), making
    // seed copies bleed into each other — and the SQL oracle shared
    // the literal, so the hash gate could never catch it. max(key)+1
    // is collision-free at ANY key width by construction (node < off),
    // computed identically by both engines; it rides every row as a
    // broadcast 1-row scalar join, never a driver-side collect.
    val off = Tables(spark, dir).part
      .agg((max(col("p_partkey")).cast("long") + lit(1L)).as("off"))
    val edges = sym.crossJoin(broadcast(seeds)).crossJoin(broadcast(off))
      .select((col("s") * col("off") + col("src")).as("src"),
        (col("s") * col("off") + col("dst")).as("dst"), lit(1L).as("w"))
    val seeded = seeds.crossJoin(broadcast(off))
      .select((col("s") * col("off") + col("s")).as("p"), lit(0L).as("d"))
    boundedRelax(edges, seeded, EccHops)
      .crossJoin(broadcast(off))
      .groupBy(expr("p div off").as("seed_part"))
      .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc_bounded"))
      .orderBy("seed_part")
  }

  val graphEccentricitySampleSql: String = {
    def relax(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT p, min(hop) AS hop FROM (
         |    SELECT p, hop FROM $prev
         |    UNION ALL
         |    SELECT e2.dst AS p, $prev.hop + 1 AS hop
         |    FROM $prev JOIN e2 ON e2.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val rounds = (1 to EccHops).map(i => relax(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |seeds AS (SELECT p_partkey AS s FROM part WHERE p_partkey <= $EccSeedMax),
      |off AS (SELECT CAST(max(p_partkey) AS BIGINT) + 1 AS o FROM part),
      |e2 AS (SELECT seeds.s * off.o + e.src AS src,
      |              seeds.s * off.o + e.dst AS dst FROM e, seeds, off),
      |d0 AS (SELECT s * off.o + s AS p, CAST(0 AS BIGINT) AS hop FROM seeds, off),
      |$rounds
      |SELECT p // (SELECT o FROM off) AS seed_part,
      |  CAST(count(*) AS BIGINT) AS n_reached,
      |  CAST(max(hop) AS BIGINT) AS ecc_bounded
      |FROM d$EccHops GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val bfsHopsSql: String = {
    def relax(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT p, min(hop) AS hop FROM (
         |    SELECT p, hop FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS p, $prev.hop + 1 AS hop
         |    FROM $prev JOIN e ON e.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val rounds = (1 to BfsHops).map(i => relax(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |d0 AS (SELECT p_partkey AS p, CAST(0 AS BIGINT) AS hop
      |       FROM part WHERE p_brand = '$BfsSeedBrand'),
      |$rounds
      |SELECT p AS part_key, CAST(hop AS BIGINT) AS hop
      |FROM d$BfsHops ORDER BY part_key""".stripMargin
  }

  /** Degree distribution of the co-purchase graph: how many parts
    * have each co-purchase degree — the power-law/hub diagnostic that
    * tells you whether `triangle_count`'s orientation trick and
    * `pagerank_topk`'s skew handling will matter on THIS graph (a
    * heavy tail ⇒ yes). Same support-filtered edge derivation as the
    * triangle/BFS family (one Σ basket² build); the histogram is two
    * tiny aggregates on top. share = exact-integer division.
    *
    * Scale shape: edge build partial-aggregates; degrees reduce to
    * the node set; the histogram reduces to ≤ max-degree rows. The
    * windowed total runs on that bounded histogram.
    */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    // session-shared degree frame (round 19)
    val deg = supportDeg(spark, dir)
    val hist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    hist
      .withColumn("total", org.apache.spark.sql.functions.sum(col("n_nodes"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("deg").cast("long").as("degree"), col("n_nodes"),
        expr("CAST(n_nodes AS DOUBLE) / CAST(total AS DOUBLE)").as("share"))
      .orderBy("degree")
  }

  val degreeProfileSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |d AS (
      |  SELECT p, count(*) AS deg
      |  FROM (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e)
      |  GROUP BY p),
      |h AS (SELECT deg, count(*) AS n_nodes FROM d GROUP BY 1),
      |t AS (SELECT *, sum(n_nodes) OVER () AS total FROM h)
      |SELECT CAST(deg AS BIGINT) AS degree, CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(n_nodes AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM t ORDER BY degree""".stripMargin

  // --------------------------------------------------- connected_components

  private[graft] val CcRounds = 6

  /** Connected components of the co-purchase graph by min-label
    * propagation: every node starts labeled with its own id; each
    * round a node takes the min of its label and its neighbors'
    * labels; after [[CcRounds]] rounds the label is the component's
    * min node id (the fixpoint is reached when a round changes
    * nothing — `Round9Spec` pins round-(CcRounds−1) == round-CcRounds
    * on the test graph, so the unrolled depth is verified sufficient,
    * not assumed). Output is the component histogram: component id
    * (min part key) and node count — all exact integers.
    *
    * Same support-filtered edge derivation as the triangle/BFS family
    * (ref models the catalog as flat tables — connectivity analysis
    * is beyond-reference). The undirected edge list is cached once
    * and re-read every round.
    *
    * Scale shape: label propagation is the textbook hash-partitioned
    * iteration — each round shuffles candidate labels on node id and
    * min-reduces (map-side partial min first), volume O(E) per round.
    * At 100 TB one switches to large-star/small-star (alternating
    * star contractions halve the path lengths, O(log²) rounds) or
    * anchors high-degree hubs first so most labels converge in 2–3
    * rounds; the per-round plan — join, project, min-reduce — is
    * unchanged, only the rewiring rule differs. The unrolled-depth
    * audit (compare round k vs k−1 counts) costs one extra reduce and
    * is the production convergence check.
    */
  def connectedComponents(spark: SparkSession, dir: String,
      forceLoop: Boolean = false): DataFrame =
    // the shared label frame on the default path (round 19); the
    // forced-loop test path still runs its own propagation
    (if (forceLoop) ccLabels(spark, dir, CcRounds, forceLoop = true)
     else ccLabelsShared(spark, dir))
      .groupBy(col("d").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("component")

  /** Label state after `rounds` propagation rounds (columns p, d=label)
    * — the Spark side of the fixpoint audit (`Round9Spec` diffs rounds
    * CcRounds−1 and CcRounds). Min-label propagation IS min-plus
    * relaxation with w ≡ 0 and every node seeded to its own id.
    */
  private[graft] def ccLabels(spark: SparkSession, dir: String, rounds: Int,
      forceLoop: Boolean = false): DataFrame = {
    val edges = symEdges(spark, dir)
      .select(col("src"), col("dst"), lit(0L).as("w"))
    val seeds = supportDeg(spark, dir)
      .select(col("p"), col("p").as("d"))
    boundedRelax(edges, seeds, rounds, forceLoop)
  }

  /** Every round CTE is `AS MATERIALIZED`: DuckDB inlines CTEs by
    * default, and each round references its predecessor twice — the
    * unrolled chain would otherwise re-expand 2^rounds times (the
    * inlining blowup measured at 60+ GB before this hint).
    */
  val connectedComponentsSql: String = {
    def round(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT p, min(lbl) AS lbl FROM (
         |    SELECT p, lbl FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS p, $prev.lbl
         |    FROM $prev JOIN e ON e.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val rounds = (1 to CcRounds).map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS p, src AS lbl FROM e),
      |$rounds
      |SELECT lbl AS component, count(*) AS n_nodes
      |FROM l$CcRounds GROUP BY 1 ORDER BY component""".stripMargin
  }

  // ------------------------------------------------------------ kcore_nodes

  private[graft] val KCoreK = 3
  private[graft] val KCoreRounds = 6

  /** k-core decomposition (k = [[KCoreK]]) by iterative peeling:
    * repeatedly drop nodes whose degree within the SURVIVING subgraph
    * is < k — the densest-region extractor community detection and
    * spam-cluster mining start from (a node in the 3-core has ≥3
    * neighbors that themselves survive). [[KCoreRounds]] unrolled
    * rounds; the fixpoint is VERIFIED (`Round9Spec` pins round 5 ==
    * round 6), the connected_components discipline. Output: surviving
    * nodes with their induced degree — all exact integers.
    *
    * Scale shape: each round is one edge⋈nodes⋈nodes double semi-join
    * + a degree partial-agg, O(E)/round on the node key; per-round
    * state cached (the 2^rounds re-expansion fix). Production peels
    * until no change with the same per-round plan, or switches to the
    * bucket-peeling linear algorithm for full core numbers.
    */
  def kcoreNodes(spark: SparkSession, dir: String,
      rounds: Int = KCoreRounds, forceLoop: Boolean = false): DataFrame = {
    // session-shared closure (round 19) — replaces the per-run
    // OwnedCaches copy of the identical union
    val cached = symEdges(spark, dir)
    val n = cached.count()
    if (!forceLoop && n <= replayCap(KcorePerRowUs, rounds)) {
      // all peeling rounds in one task — the boundedRelax layout
      // selection (6 distributed rounds ≈ 5.8 s of stage latency at
      // sf0.1 on a 3.5k-edge graph; the local replay is identical
      // integer peeling, branch-equality test-pinned)
      import spark.implicits._
      val r = rounds
      cached.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions(it => kcoreReplay(it.toArray, r, KCoreK))
        .toDF("node", "core_degree")
        .orderBy("node")
    } else {
      // per-round lineage sever (the boundedRelax discipline): the
      // alive set is referenced twice per round (both join sides), so
      // an unsevered chain re-analyzes 2^rounds — materialize each
      // round's survivors to a persisted RDD and restart from it
      var nodes = cached.select(col("src").as("p")).distinct()
      var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
      for (r <- 1 to rounds) {
        val next = cached
          .join(nodes.select(col("p").as("sa")), col("src") === col("sa"))
          .join(nodes.select(col("p").as("sb")), col("dst") === col("sb"))
          .groupBy(col("src").as("p"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= KCoreK)
          .select(col("p"))
        val rdd = next.rdd
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        if (prevRdd != null) prevRdd.unpersist(blocking = false)
        prevRdd = rdd
        if (r == rounds) graft.core.OwnedCaches.ownRdd(rdd)
        nodes = spark.createDataFrame(rdd, next.schema)
      }
      cached
        .join(nodes.select(col("p").as("sa")), col("src") === col("sa"))
        .join(nodes.select(col("p").as("sb")), col("dst") === col("sb"))
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_degree"))
        .orderBy("node")
    }
  }

  /** The single-task k-core peeling body, decision-identical to the
    * boxed-Set version it replaces (alive starts at the src-endpoint
    * node set; each round keeps src nodes whose alive→alive out-degree
    * reaches k; final output is that degree map). Round-13 rewrite on
    * the louvainReplay pattern: order-preserving dense renumbering +
    * flat arrays, retiring the per-round immutable Set[Long] rebuild
    * (boxed hashing on every edge probe). Measured after the rewrite:
    * ~0.03 µs/edge·round (ReplayCalibrate — 2M edges × 6 rounds
    * 0.35 s).
    */
  private[graft] def kcoreReplay(es: Array[(Long, Long)], rounds: Int,
      k: Long): Iterator[(Long, Long)] = {
    val ids: Array[Long] = {
      val all = new Array[Long](es.length * 2)
      var i = 0
      while (i < es.length) {
        all(2 * i) = es(i)._1; all(2 * i + 1) = es(i)._2; i += 1
      }
      java.util.Arrays.sort(all)
      var n = 0; i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    val m = es.length
    val n = ids.length
    val src = new Array[Int](m); val dst = new Array[Int](m)
    var i = 0
    while (i < m) {
      src(i) = java.util.Arrays.binarySearch(ids, es(i)._1)
      dst(i) = java.util.Arrays.binarySearch(ids, es(i)._2)
      i += 1
    }
    val alive = new Array[Boolean](n)
    i = 0; while (i < m) { alive(src(i)) = true; i += 1 }
    val deg = new Array[Long](n)
    var round = 0
    while (round <= rounds) { // final pass recounts under the last alive set
      java.util.Arrays.fill(deg, 0L)
      i = 0
      while (i < m) {
        if (alive(src(i)) && alive(dst(i))) deg(src(i)) += 1
        i += 1
      }
      if (round < rounds) {
        i = 0; while (i < n) { alive(i) = deg(i) >= k; i += 1 }
      }
      round += 1
    }
    ids.indices.iterator.filter(deg(_) > 0).map(j => (ids(j), deg(j)))
  }

  val kcoreNodesSql: String = {
    def peel(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT e.src AS p FROM e
         |  JOIN $prev a ON e.src = a.p
         |  JOIN $prev b ON e.dst = b.p
         |  GROUP BY e.src HAVING count(*) >= $KCoreK)""".stripMargin
    val rounds = (1 to KCoreRounds).map(i => peel(s"n${i - 1}", s"n$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |n0 AS MATERIALIZED (SELECT DISTINCT src AS p FROM e),
      |$rounds
      |SELECT e.src AS node, count(*) AS core_degree
      |FROM e JOIN n$KCoreRounds a ON e.src = a.p JOIN n$KCoreRounds b ON e.dst = b.p
      |GROUP BY e.src ORDER BY node""".stripMargin
  }

  // --------------------------------------------------- recursive_reachability

  /** Bounded reachability via a TRUE recursive CTE (Spark 4's
    * `WITH RECURSIVE`) — the declarative face of `bfs_hops`: the
    * engine iterates to the walk bound instead of the library
    * unrolling rounds. Spark 4 restricts recursion to UNION ALL, so
    * the walk count is bounded (hop < [[BfsHops]]) and min(hop) per
    * node dedups at the end — semantics identical to the unrolled
    * operator, `Round9Spec` pins result equality with `bfs_hops`.
    *
    * Scale shape: UNION ALL recursion materializes WALKS (length ≤
    * bound), not frontiers — fine at small depth; at depth or scale
    * the unrolled min-reduced loop (`boundedRelax`) is the production
    * path. Having both oracled documents exactly that trade.
    */
  def recursiveReachability(spark: SparkSession, dir: String): DataFrame = {
    // session-shared closure (round 19)
    symEdges(spark, dir).createOrReplaceTempView("graft_reach_edges")
    Tables(spark, dir).part.createOrReplaceTempView("graft_reach_part")
    spark.sql(
      s"""WITH RECURSIVE reach(p, hop) AS (
         |  SELECT p_partkey, CAST(0 AS BIGINT)
         |  FROM graft_reach_part WHERE p_brand = '$BfsSeedBrand'
         |  UNION ALL
         |  SELECT e.dst, r.hop + 1
         |  FROM reach r JOIN graft_reach_edges e ON e.src = r.p
         |  WHERE r.hop < $BfsHops
         |)
         |SELECT p AS part_key, CAST(min(hop) AS BIGINT) AS hop
         |FROM reach GROUP BY p ORDER BY part_key""".stripMargin)
  }

  val recursiveReachabilitySql: String =
    s"""WITH RECURSIVE b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |reach(p, hop) AS (
      |  SELECT p_partkey, CAST(0 AS BIGINT) FROM part WHERE p_brand = '$BfsSeedBrand'
      |  UNION ALL
      |  SELECT e.dst, r.hop + 1 FROM reach r JOIN e ON e.src = r.p
      |  WHERE r.hop < $BfsHops)
      |SELECT p AS part_key, CAST(min(hop) AS BIGINT) AS hop
      |FROM reach GROUP BY p ORDER BY part_key""".stripMargin

  // --------------------------------------------------- link_prediction_jaccard

  private val LinkPredTopK = 20

  /** Link prediction by neighborhood Jaccard: for every NON-edge pair
    * with ≥1 common neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "who should be connected" score (recommendation candidates the
    * co-purchase graph hasn't materialized yet). Common counts from
    * the wedge join (the triangle_count frame), union by inclusion–
    * exclusion deg_a + deg_b − common — every operand exact integer,
    * ONE divide, deterministic top-[[LinkPredTopK]].
    *
    * Scale shape: wedge volume is Σ deg² — the triangle/cooccur
    * bound, held to n·cap² by the [[cappedWedgeFrame]] hub ceiling
    * (identity below [[WedgeDegreeCap]]; dropped share audited by
    * `wedge_cap_audit`); existing edges leave via an equi anti-join.
    * The alternative at 100 TB is sketching N(v) with minhash before
    * the pair join — the dedup_minhash machinery.
    */
  /** Degree ceiling on the wedge CENTER w (round 18, VERDICT r17 #4):
    * wedge volume is Σ_w deg(w)² — the bound every wedge consumer
    * documents — and one hub product sitting in every basket makes
    * that sum explode before the support threshold saves it (a
    * degree-10⁶ hub alone is 10¹² wedge rows). The route drops
    * centers above the ceiling BEFORE the self-join: a surviving
    * center costs ≤ cap² wedges, so total work is bounded by
    * n·cap² regardless of the degree tail — the winsorize/approx-
    * gating pattern applied to graph wedges. Dropping (not sampling)
    * is the right default for AFFINITY scores: a hub's wedges assert
    * "everything co-occurs with everything", which is noise for
    * link prediction and redundancy census alike — and the dropped
    * share is observable per run via `wedge_cap_audit` before any
    * pair join pays for it. Below the cap the route is the identity
    * (Round18Spec pins set equality; oracle dirs max out at degree
    * ~13, so every oracle replays the uncapped join verbatim).
    */
  private[graft] val WedgeDegreeCap = 1024L

  /** The shared wedge frame (w, a, b) over a symmetric cached edge
    * frame, center-capped per [[WedgeDegreeCap]]. The hub set is at
    * most 2m/cap nodes (Σdeg = 2m), so the anti-join broadcasts.
    */
  private[graft] def cappedWedgeFrame(cached: DataFrame,
      cap: Long = WedgeDegreeCap): DataFrame = {
    val hubs = cached.groupBy(col("src")).agg(count(lit(1)).as("degw"))
      .filter(col("degw") > cap).select(col("src"))
    val kept = cached.join(broadcast(hubs), Seq("src"), "left_anti")
    kept.select(col("src").as("w"), col("dst").as("a"))
      .join(kept.select(col("src").as("w2"), col("dst").as("b")),
        col("w") === col("w2") && col("a") < col("b"))
  }

  /** ONE wedge census for the whole pair family (optimization round
    * 19, the r18 "Not yet optimized #1" item): the capped wedge
    * self-join — the family's dominant cost — previously ran
    * independently (×2 timed runs each) in `link_prediction_jaccard`,
    * `link_prediction_resource_alloc`, `adamic_adar_links`,
    * `four_cycle_count` and `four_cycle_clustering`. All five consume
    * per-(a, b) aggregates of the SAME wedge rows, so one shared pass
    * folds the three weightings together:
    *   common = count(*)                      (jaccard / 4-cycle)
    *   ra_d   = Σ round(1/deg(w), 9)::DECIMAL (resource allocation)
    *   aa_d   = Σ round(1/ln(deg(w)), 9)::DECIMAL (adamic-adar)
    * Exactness: both contributions were ALREADY staged at node grain
    * and summed as exact decimals in the original queries — the same
    * per-wedge values reach the same order-free sums, and `common`
    * ignores the joined columns entirely; every center w is an edge
    * source, so the inner contribution join drops no wedge row.
    */
  private[graft] val WedgeStatsConsumers: Set[String] = Set(
    "link_prediction_jaccard", "link_prediction_resource_alloc",
    "adamic_adar_links", "four_cycle_count", "four_cycle_clustering")

  private[graft] def wedgeStats(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "graph.wedgeStats", dir, WedgeStatsConsumers) {
      val contrib = supportDeg(spark, dir)
        .withColumn("dw", col("deg"))
        .withColumn("__y", expr(AaY))
        .withColumn("__z", expr(AaZ))
        .withColumn("__ln", expr(AaLn))
        .select(col("p").as("w"), expr(RaContribExpr).as("ra_c"),
          expr(AaContrib).as("aa_c"))
      cappedWedgeFrame(symEdges(spark, dir))
        .join(contrib, Seq("w"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("common"),
          sum(col("ra_c")).as("ra_d"),
          sum(col("aa_c")).as("aa_d"))
    }

  def linkPredictionJaccard(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared census + degree frame (round 19): the wedge
    // self-join and both support frames build once per session
    val deg = supportDeg(spark, dir)
    val wedges = wedgeStats(spark, dir).select(col("a"), col("b"), col("common"))
    val nonEdges = wedges.join(und,
        col("a") === col("p1") && col("b") === col("p2"), "left_anti")
    nonEdges
      .join(deg.select(col("p").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("p").as("b"), col("deg").as("db")), "b")
      .select(col("a").as("node_a"), col("b").as("node_b"), col("common"),
        expr("CAST(common AS DOUBLE) / CAST(da + db - common AS DOUBLE)").as("jaccard"))
      .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))
      .limit(LinkPredTopK)
  }

  val linkPredictionJaccardSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |deg AS (SELECT src AS p, count(*) AS deg FROM e GROUP BY 1),
      |w AS (
      |  SELECT x.dst AS a, y.dst AS b, count(*) AS common
      |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
      |  GROUP BY 1, 2),
      |ne AS (
      |  SELECT w.* FROM w LEFT JOIN e0 ON w.a = e0.p1 AND w.b = e0.p2
      |  WHERE e0.p1 IS NULL)
      |SELECT ne.a AS node_a, ne.b AS node_b, CAST(common AS BIGINT) AS common,
      |  CAST(common AS DOUBLE) / CAST(da.deg + db.deg - common AS DOUBLE) AS jaccard
      |FROM ne JOIN deg da ON da.p = ne.a JOIN deg db ON db.p = ne.b
      |ORDER BY jaccard DESC, node_a, node_b LIMIT $LinkPredTopK""".stripMargin

  // ------------------------------------------------------- shortest_path_bf

  private[graft] val BfRounds = 4

  /** Weighted shortest paths by unrolled Bellman-Ford: edge cost
    * `greatest(1, 20 − support)` (strong co-purchase ties are cheap),
    * [[BfRounds]] min-plus relaxations from the same seed brand as
    * `bfs_hops` — the weighted generalization of that operator (hop
    * count ⇒ additive cost). All arithmetic exact integers; paths
    * longer than BfRounds edges are truncated IDENTICALLY on both
    * engines (documented bounded-horizon semantics, the bfs_hops
    * convention).
    *
    * Scale shape: identical to BFS — per round one node-keyed
    * equi-join against the cached edge list plus a partial-agg min;
    * volume O(E)/round. Production swaps the fixed unroll for
    * iterate-until-no-improvement with the same per-round plan
    * (delta stepping if edge weights spread widely).
    */
  def shortestPathBf(spark: SparkSession, dir: String,
      forceLoop: Boolean = false): DataFrame = {
    val und = supportEdges(spark, dir)
      .select(col("p1"), col("p2"), expr("greatest(1, 20 - c)").as("w"))
    val edges = und.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .union(und.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
    val seeds = Tables(spark, dir).part.filter(col("p_brand") === BfsSeedBrand)
      .select(col("p_partkey").as("p"), lit(0L).as("d"))
    boundedRelax(edges, seeds, BfRounds, forceLoop)
      .select(col("p").as("part_key"), col("d").as("dist")).orderBy("part_key")
  }

  /** Relaxation rounds `AS MATERIALIZED` — same DuckDB CTE-inlining
    * blowup as `connected_components` (each round references its
    * predecessor twice).
    */
  val shortestPathBfSql: String = {
    def relax(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT p, min(d) AS d FROM (
         |    SELECT p, d FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS p, $prev.d + e.w AS d
         |    FROM $prev JOIN e ON e.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val rounds = (1 to BfRounds).map(i => relax(s"d${i - 1}", s"d$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2, greatest(1, 20 - count(*)) AS w
      |       FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst, w FROM e0
      |      UNION ALL SELECT p2, p1, w FROM e0),
      |d0 AS (SELECT p_partkey AS p, CAST(0 AS BIGINT) AS d
      |       FROM part WHERE p_brand = '$BfsSeedBrand'),
      |$rounds
      |SELECT p AS part_key, CAST(d AS BIGINT) AS dist
      |FROM d$BfRounds ORDER BY part_key""".stripMargin
  }

  // ------------------------------------------------------------ local_clustering

  /** The coefficient as one shared text: 2·tri / (deg·(deg−1)),
    * exact-integer operands, deg < 2 → 0 (identical gate both sides).
    */
  private val LocalCcExpr: String =
    "CASE WHEN deg < 2 THEN CAST(0 AS DOUBLE)" +
      " ELSE CAST(2 * triangles AS DOUBLE) / CAST(deg * (deg - 1) AS DOUBLE) END"

  /** Per-node local clustering coefficient over the co-purchase
    * graph — `triangle_count` gives the graph's global closure, this
    * distributes it: tri(v)/(deg(v) choose 2), the "are my neighbors
    * also each other's neighbors" score behind community seeding and
    * recommender diversity checks. Triangles enumerate ONCE via the
    * same degree-orientation as `triangle_count` (each triangle has
    * exactly one doubly-out node), then every triangle credits its
    * three corners — a 3-row fan-out of the triangle list, far below
    * wedge volume. The DuckDB oracle lists id-ordered triangles
    * naively; per-corner counts are orientation-invariant, so two
    * enumeration strategies must land on one hash.
    *
    * Scale shape: shares the session-cached [[supportEdges]] frame
    * and the O(m^1.5) oriented wedge bound; the corner explode is 3×
    * triangle count; the final join is node-grain. Nothing
    * basket-volume-sized survives the support filter.
    */
  def localClustering(spark: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared degree frame (round 19)
    val deg = supportDeg(spark, dir)
    val r1 = col("d1") * lit(2147483648L) + col("p1")
    val r2 = col("d2") * lit(2147483648L) + col("p2")
    val oriented = edges
      .join(deg.toDF("p1", "d1"), "p1")
      .join(deg.toDF("p2", "d2"), "p2")
      .select(
        when(r1 < r2, col("p1")).otherwise(col("p2")).as("src"),
        when(r1 < r2, col("p2")).otherwise(col("p1")).as("dst"),
        greatest(r1, r2).as("rdst"))
      .cache() // wedge self-join ×2 + closing probe, one build
    graft.core.OwnedCaches.own(oriented)
    val wedges = oriented.as("x")
      .join(oriented.as("y"), "src")
      .filter(col("x.rdst") < col("y.rdst"))
      .select(col("src"), col("x.dst").as("v"), col("y.dst").as("w"))
    val closed = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    val corners = closed
      .select(explode(array(col("src"), col("v"), col("w"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("triangles"))
    deg.join(corners, Seq("p"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .select(col("p").as("node"), col("deg"), col("triangles"),
        expr(LocalCcExpr).as("clustering_coef"))
      .orderBy("node")
  }

  val localClusteringSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |deg AS (SELECT p, count(*) AS deg
      |        FROM (SELECT p1 AS p FROM e UNION ALL SELECT p2 FROM e)
      |        GROUP BY p),
      |tri AS (SELECT e1.p1 AS a, e1.p2 AS bb, e2.p2 AS c
      |        FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
      |        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
      |corners AS (
      |  SELECT p, count(*) AS triangles FROM (
      |    SELECT a AS p FROM tri
      |    UNION ALL SELECT bb FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY p)
      |SELECT d.p AS node, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN d.deg < 2 THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(2 * coalesce(c.triangles, 0) AS DOUBLE)
      |      / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS clustering_coef
      |FROM deg d LEFT JOIN corners c ON c.p = d.p
      |ORDER BY node""".stripMargin

  // ------------------------------------------------------------ graph_modularity

  /** Newman modularity of a partition, on exact integer sums only:
    * Q = Σ_c[e_c/m − (d_c/2m)²] = Σe_c/m − Σd_c²/(4m²) — the two Σ
    * are integer aggregates, so Q is ONE shared expression and the
    * per-community float-sum order problem never arises.
    */
  private val ModularityExpr: String =
    "CAST(se AS DOUBLE) / CAST(m AS DOUBLE)" +
      " - CAST(sd2 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"

  /** Modularity of the connected-components partition over the
    * co-purchase graph — the partition-quality score community
    * detection optimizes (CC is its coarsest candidate: Q here is the
    * ceiling disconnection alone buys, the baseline a Louvain-style
    * refinement must beat). Intra-community edge and degree-mass sums
    * are exact integers off the label join; Q closes in ONE shared
    * expression ([[ModularityExpr]]) — no per-community float
    * accumulation anywhere.
    *
    * Scale shape: reuses the session-cached [[supportEdges]] frame
    * and [[ccLabels]]' per-round plan; the label frame is node-grain
    * (AQE broadcasts it under the edge join at test scale, hashes at
    * 10⁹ nodes); both Σ reduce to one row.
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared CC labels + degree frame (round 19): the label
    // propagation and the degree groupBy build once per session
    // instead of twice per timed query × three consumers
    val labels = ccLabelsShared(spark, dir).select(col("p"), col("d").as("lbl"))
    val m = und.agg(count(lit(1)).as("m"))
    val intra = und
      .join(labels.toDF("p1", "l1"), "p1")
      .join(labels.toDF("p2", "l2"), "p2")
      .agg(sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as("se"))
    val deg = supportDeg(spark, dir)
    val dmass = deg.join(labels, "p")
      .groupBy(col("lbl")).agg(sum(col("deg")).as("d_c"))
    val sd2 = dmass.agg(count(lit(1)).as("n_communities"),
      sum(expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).as("sd2"))
    m.crossJoin(intra).crossJoin(sd2)
      .select(col("m").as("n_edges"), col("n_communities"), col("se").as("intra_edges"),
        expr(ModularityExpr).as("modularity"))
  }

  val graphModularitySql: String = {
    def round(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT p, min(lbl) AS lbl FROM (
         |    SELECT p, lbl FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS p, $prev.lbl
         |    FROM $prev JOIN e ON e.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val rounds = (1 to CcRounds).map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS p, src AS lbl FROM e),
      |$rounds,
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
      |sei AS (
      |  SELECT CAST(sum(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END) AS BIGINT) AS se
      |  FROM e0 JOIN l$CcRounds la ON la.p = e0.p1
      |          JOIN l$CcRounds lb ON lb.p = e0.p2),
      |deg AS (SELECT p, count(*) AS deg
      |        FROM (SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0)
      |        GROUP BY p),
      |dm AS (
      |  SELECT l.lbl, CAST(sum(d.deg) AS BIGINT) AS d_c
      |  FROM deg d JOIN l$CcRounds l ON l.p = d.p
      |  GROUP BY l.lbl),
      |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
      |        sum(CAST(d_c AS DECIMAL(38,0)) * d_c) AS sd2
      |       FROM dm)
      |SELECT m AS n_edges, n_communities, se AS intra_edges,
      |  $ModularityExpr AS modularity
      |FROM mm, sei, s2""".stripMargin
  }

  // ---------------------------------------------------------- community_louvain

  private[graft] val LouvainRounds = 7

  /** One round of MUTUAL-BEST community merging — Louvain's phase-two
    * move ("merge whole communities by modularity gain") made
    * deterministic and shuffle-parallel. Against the current
    * labeling: aggregate cross-community edge weights e_ab and
    * degree masses d_c, score every adjacent community pair on the
    * exact 4m² integer grid (merging a,b changes Q by e_ab/m −
    * d_a·d_b/(2m²), i.e. Δ·4m² = 4m·e_ab − 2·d_a·d_b), and merge the
    * pairs that pick EACH OTHER as best positive partner (ties →
    * smallest partner label; merged label = min of the two).
    * Mutual-best pairs are vertex-disjoint, so their exact gains ADD:
    * Q strictly increases every round that merges anything — the
    * monotonicity classic async Louvain gets from sequential sweeps,
    * recovered without their un-oracle-able node order. (A plain
    * synchronous per-NODE variant was measured at Q ≈ 0.001 on the
    * same graph — simultaneous singleton moves chase each other's
    * labels and never build community cores.)
    *
    * Scale shape per round: two node-grain label joins tag the edge
    * list (E-sized), community-grain aggregates (≤ communities,
    * shrinking geometrically), a community self-join on the best-pick
    * frame, and a label-grain relabel — O(E) shuffle per round,
    * no driver-side state. Gains stay in long range to m·e_ab <
    * 2^60; beyond that widen to decimal (documented, not hit at any
    * plausible corpus).
    */
  private def louvainMergeRound(und: DataFrame, deg: DataFrame, m: DataFrame,
      lab: DataFrame): DataFrame = {
    val dm = deg.join(lab, "p").groupBy(col("lbl")).agg(sum(col("deg")).as("d_c"))
    val ce = und
      .join(lab.toDF("p1", "l1"), "p1")
      .join(lab.toDF("p2", "l2"), "p2")
      .filter(col("l1") =!= col("l2"))
      .select(least(col("l1"), col("l2")).as("a"),
        greatest(col("l1"), col("l2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("e_ab"))
    val g = ce
      .join(dm.select(col("lbl").as("a"), col("d_c").as("da")), "a")
      .join(dm.select(col("lbl").as("b"), col("d_c").as("db")), "b")
      .crossJoin(broadcast(m))
      .withColumn("gain", expr("4 * m * e_ab - 2 * da * db"))
      .filter(col("gain") > 0)
    val du = g.select(col("a").as("c"), col("b").as("o"), col("gain"))
      .union(g.select(col("b").as("c"), col("a").as("o"), col("gain")))
    val mx = du.groupBy(col("c")).agg(max(col("gain")).as("gm"))
    val bst = du.join(mx, "c").filter(col("gain") === col("gm"))
      .groupBy(col("c")).agg(min(col("o")).as("best"))
    val mut = bst
      .join(bst.select(col("c").as("oc"), col("best").as("obest")),
        col("best") === col("oc") && col("obest") === col("c"))
      .filter(col("c") > col("best"))
      .select(col("c").as("lbl"), col("best"))
    lab.join(mut, Seq("lbl"), "left")
      .select(col("p"), coalesce(col("best"), col("lbl")).as("lbl"))
  }

  /** (intra-edge count, Σd_c², community count) of a labeling — the
    * three integer sums the modularity expression closes over.
    */
  private def qParts(und: DataFrame, deg: DataFrame, lab: DataFrame,
      seName: String, sdName: String, ncName: String): DataFrame = {
    val se = und
      .join(lab.toDF("p1", "l1"), "p1")
      .join(lab.toDF("p2", "l2"), "p2")
      .agg(sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as(seName))
    val s2 = deg.join(lab, "p")
      .groupBy(col("lbl")).agg(sum(col("deg")).as("d_c"))
      .agg(count(lit(1)).as(ncName),
        sum(expr("CAST(d_c AS DECIMAL(38,0)) * d_c")).as(sdName))
    se.crossJoin(s2)
  }

  /** Community refinement over the co-purchase graph: [[LouvainRounds]]
    * rounds of deterministic mutual-best community merging
    * ([[louvainMergeRound]]) from singleton seeds, scored against the
    * connected-components partition (`graph_modularity`'s baseline —
    * its Scaladoc frames CC's Q as "the baseline a Louvain-style
    * refinement must beat"). Reports Q_cc (before) and Q_louvain
    * (after); Round12Spec pins Q_louvain > Q_cc at test scale. Both
    * Q are the shared `ModularityExpr` form on exact integer sums;
    * every merge decision is integer-grid deterministic, so the whole
    * refinement is DuckDB-oracled round for round. Measured on the
    * driver testdata: sf0.01 Q 0.124 → 0.407 (giant component split
    * into real communities), sf0.1 Q 0.9988 → 0.99936 (fragmented
    * graph: merging re-finds the components, confirming the rounds
    * converge to CC exactly when CC is already optimal).
    *
    * Per-round label frames are persisted as RDDs and the CATALYST
    * lineage SEVERED each round (the dedupClusters pattern,
    * Dedup.scala: the round plan reads the previous labels ~7×, so
    * carrying the logical tree forward multiplies it per round —
    * Dataset creation eagerly re-ANALYZES the whole tree and a
    * 7-round unroll pinned the driver in CheckAnalysis for minutes,
    * measured). Restarting each round from a persisted RDD keeps the
    * logical plan O(1) per round; persist/count/unpersist holds at
    * most one previous round in storage.
    */
  def communityLouvain(spark: SparkSession, dir: String): DataFrame =
    communityLouvain(spark, dir, forceDistributed = false)

  /** All [[LouvainRounds]] mutual-best merge rounds in ONE task — the
    * boundedRelax / labelPropagate layout selection applied to
    * Louvain: below the measured [[replayCap]] admission the distributed loop
    * is pure stage latency (measured ~4.5 s/ROUND on the 3.5k-edge
    * sf0.1 support graph → ~95 s for the full unroll vs sub-second
    * local replay). Replicates the distributed round bit-for-bit:
    * same integer 4m² gain grid, same max-gain/min-partner
    * tie-break, same one-shot min-label merge per round, same
    * no-merge fixpoint exit — branch equality pinned in Round12bSpec.
    */
  private def louvainLocalLabels(und: DataFrame): DataFrame = {
    val sess = und.sparkSession
    import sess.implicits._
    val rounds = LouvainRounds
    und.select(col("p1").cast("long"), col("p2").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions(it => louvainReplay(it.toArray, rounds))
      .toDF("p", "lbl")
  }

  /** The local Louvain replay body, decision-identical to the
    * distributed merge round (same integer 4m² gain grid, same
    * max-gain/min-partner tie-break, same one-shot min-label merge,
    * same no-merge fixpoint exit — Round12bSpec pins branch
    * equality). Rewritten in round 13 on primitive arrays: nodes are
    * dense-renumbered ORDER-PRESERVINGLY (ids sort ascending to
    * indices 0..n−1), so every min/max/tie-break comparison on
    * indices decides exactly as on the raw ids, while the per-round
    * state becomes flat arrays and the inter-community edge tally a
    * single-Long-keyed LongMap ((min«32)|max — n < 2³¹ inside a
    * single task by admission). The boxed (Long,Long)-keyed HashMap
    * this replaces cost ~13 µs/edge·round — the 112 s single task
    * SCALE_PROBE_r12 measured at 1.2M edges; measured after the
    * rewrite: ~0.05 µs/edge·round (ReplayCalibrate — 1.2M edges →
    * 0.43 s, 2M → 0.69 s for all 7 rounds). Factored out of the
    * mapPartitions closure so the calibration tool times EXACTLY the
    * shipped code.
    */
  private[graft] def louvainReplay(edges: Array[(Long, Long)],
      rounds: Int): Iterator[(Long, Long)] = {
    // order-preserving dense renumbering: sort endpoint ids, dedup
    val ids: Array[Long] = {
      val all = new Array[Long](edges.length * 2)
      var i = 0
      while (i < edges.length) {
        all(2 * i) = edges(i)._1; all(2 * i + 1) = edges(i)._2; i += 1
      }
      java.util.Arrays.sort(all)
      var n = 0; i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    val m = edges.length
    val n = ids.length
    val src = new Array[Int](m); val dst = new Array[Int](m)
    var i = 0
    while (i < m) {
      src(i) = java.util.Arrays.binarySearch(ids, edges(i)._1)
      dst(i) = java.util.Arrays.binarySearch(ids, edges(i)._2)
      i += 1
    }
    val deg = new Array[Long](n)
    i = 0; while (i < m) { deg(src(i)) += 1; deg(dst(i)) += 1; i += 1 }
    val lab = Array.tabulate(n)(identity)
    val dC = new Array[Long](n)
    val keys = new Array[Long](m) // reused inter-community tally buffer
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      round += 1
      java.util.Arrays.fill(dC, 0L)
      i = 0; while (i < n) { dC(lab(i)) += deg(i); i += 1 }
      // e_ab tally by SORT + run-length scan, not a hash map: packed
      // (min«32)|max keys over dense indices cluster catastrophically
      // in LongMap's open addressing (measured 40 µs/update — the
      // hash-degeneracy version of the boxed-HashMap cost this
      // rewrite removes); a primitive dual-pivot sort is ~40 ns/edge
      // and branch-order-independent
      var kn = 0
      i = 0
      while (i < m) {
        val l1 = lab(src(i)); val l2 = lab(dst(i))
        if (l1 != l2) {
          keys(kn) = (math.min(l1, l2).toLong << 32) | math.max(l1, l2).toLong
          kn += 1
        }
        i += 1
      }
      java.util.Arrays.sort(keys, 0, kn)
      val bestGain = new Array[Long](n)
      java.util.Arrays.fill(bestGain, Long.MinValue)
      val bestOf = new Array[Int](n)
      java.util.Arrays.fill(bestOf, -1)
      def offer(c: Int, o: Int, gain: Long): Unit = {
        val g0 = bestGain(c)
        if (gain > g0 || (gain == g0 && o < bestOf(c))) {
          bestGain(c) = gain; bestOf(c) = o
        }
      }
      var p = 0
      while (p < kn) {
        var q = p + 1
        while (q < kn && keys(q) == keys(p)) q += 1
        val e = (q - p).toLong
        val a = (keys(p) >>> 32).toInt; val b = (keys(p) & 0xffffffffL).toInt
        // 4m·e_ab − 2·d_a·d_b — stays in long to m·e < 2^60, the
        // distributed round's documented grid
        val gain = 4L * m * e - 2L * dC(a) * dC(b)
        if (gain > 0) { offer(a, b, gain); offer(b, a, gain) }
        p = q
      }
      val merge = new Array[Int](n)
      java.util.Arrays.fill(merge, -1)
      var any = false
      var c = 0
      while (c < n) {
        val o = bestOf(c)
        if (o >= 0 && c > o && bestOf(o) == c) { merge(c) = o; any = true }
        c += 1
      }
      if (!any) converged = true
      else {
        i = 0
        while (i < n) {
          val l = lab(i)
          if (merge(l) >= 0) lab(i) = merge(l)
          i += 1
        }
      }
    }
    ids.indices.iterator.map(j => (ids(j), ids(lab(j))))
  }

  private[graft] def communityLouvain(spark: SparkSession, dir: String,
      forceDistributed: Boolean): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared degree frame + CC labels (round 19)
    val deg = supportDeg(spark, dir)
    val m = und.agg(count(lit(1)).as("m"))
    val ccLab = ccLabelsShared(spark, dir).select(col("p"), col("d").as("lbl"))
    // layout selection (ONE scalar crosses the driver): the cached
    // support graph is tiny at every driver SF, so the single-task
    // replay is the near-universal branch; the distributed loop is
    // the >cap scale path
    val small = !forceDistributed &&
      und.count() <= replayCap(LouvainPerRowUs, LouvainRounds)
    var lab: DataFrame =
      if (small) louvainLocalLabels(und)
      else deg.select(col("p"), col("p").as("lbl"))
    if (!small) {
      var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
      // fixpoint early-exit: a merge strictly DECREASES the distinct
      // label count and relabeling never increases it, so an
      // unchanged count certifies a no-merge round — which maps every
      // label to itself, so all later rounds provably recompute the
      // identical labeling (the 7-round oracle unroll reaches the
      // same fixpoint; only wasted jobs are skipped). One scalar per
      // round crosses the driver — the labelPropagate converged-flag
      // discipline.
      var prevLabels = -1L
      var converged = false
      for (_ <- 1 to LouvainRounds if !converged) {
        val next = louvainMergeRound(und, deg, m, lab)
        val rdd = next.rdd
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.count() // materialize before releasing the previous round
        if (prevRdd != null) prevRdd.unpersist()
        prevRdd = rdd
        lab = spark.createDataFrame(rdd, next.schema)
        val nLabels = lab.agg(countDistinct(col("lbl"))).head().getLong(0)
        converged = nLabels == prevLabels
        prevLabels = nLabels
      }
      // the final round's RDD backs `lab` through the modularity
      // readout below — harness-released, not leaked
      if (prevRdd != null) graft.core.OwnedCaches.ownRdd(prevRdd)
    }
    def q(se: String, sd: String): String =
      s"CAST($se AS DOUBLE) / CAST(m AS DOUBLE)" +
        s" - CAST($sd AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
    m
      .crossJoin(qParts(und, deg, ccLab, "se_cc", "sd2_cc", "nc_cc"))
      .crossJoin(qParts(und, deg, lab, "se_lv", "sd2_lv", "nc_lv"))
      .select(col("m").as("n_edges"),
        col("nc_cc").as("n_comm_cc"), expr(q("se_cc", "sd2_cc")).as("q_cc"),
        col("nc_lv").as("n_comm_louvain"), expr(q("se_lv", "sd2_lv")).as("q_louvain"))
  }

  val communityLouvainSql: String = {
    def ccRound(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT p, min(lbl) AS lbl FROM (
         |    SELECT p, lbl FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS p, $prev.lbl
         |    FROM $prev JOIN e ON e.src = $prev.p) u
         |  GROUP BY p)""".stripMargin
    val ccRounds = (1 to CcRounds).map(i => ccRound(s"c${i - 1}", s"c$i")).mkString(",\n")
    def mergeRound(prev: String, r: Int): String =
      s"""dm$r AS (SELECT l.lbl, sum(d.deg) AS d_c
         |  FROM deg d JOIN $prev l ON l.p = d.p GROUP BY 1),
         |ce$r AS (
         |  SELECT least(la.lbl, lb.lbl) AS a, greatest(la.lbl, lb.lbl) AS b,
         |    count(*) AS e_ab
         |  FROM e0 JOIN $prev la ON la.p = e0.p1 JOIN $prev lb ON lb.p = e0.p2
         |  WHERE la.lbl <> lb.lbl GROUP BY 1, 2),
         |g$r AS (
         |  SELECT ce$r.a, ce$r.b, 4 * mm.m * ce$r.e_ab - 2 * da.d_c * db.d_c AS gain
         |  FROM ce$r JOIN dm$r da ON da.lbl = ce$r.a
         |            JOIN dm$r db ON db.lbl = ce$r.b
         |  CROSS JOIN mm
         |  WHERE 4 * mm.m * ce$r.e_ab - 2 * da.d_c * db.d_c > 0),
         |du$r AS (SELECT a AS c, b AS o, gain FROM g$r
         |         UNION ALL SELECT b, a, gain FROM g$r),
         |bst$r AS (
         |  SELECT c, min(o) AS best FROM du$r
         |  JOIN (SELECT c AS c2, max(gain) AS gm FROM du$r GROUP BY 1) mx
         |    ON mx.c2 = du$r.c AND du$r.gain = mx.gm
         |  GROUP BY 1),
         |mut$r AS (
         |  SELECT x.c, x.best FROM bst$r x JOIN bst$r y
         |    ON y.c = x.best AND y.best = x.c
         |  WHERE x.c > x.best),
         |s$r AS MATERIALIZED (
         |  SELECT $prev.p, coalesce(mut$r.best, $prev.lbl) AS lbl
         |  FROM $prev LEFT JOIN mut$r ON mut$r.c = $prev.lbl)""".stripMargin
    val mergeRounds = (1 to LouvainRounds)
      .map(r => mergeRound(if (r == 1) "s0" else s"s${r - 1}", r)).mkString(",\n")
    def qCtes(lbl: String, tag: String): String =
      s"""se_$tag AS (
         |  SELECT CAST(sum(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END) AS BIGINT) AS se
         |  FROM e0 JOIN $lbl la ON la.p = e0.p1
         |          JOIN $lbl lb ON lb.p = e0.p2),
         |s2_$tag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nc, sum(CAST(d_c AS DECIMAL(38,0)) * d_c) AS sd2
         |  FROM (SELECT l.lbl, CAST(sum(d.deg) AS BIGINT) AS d_c
         |        FROM deg d JOIN $lbl l ON l.p = d.p GROUP BY l.lbl) dm)""".stripMargin
    def q(se: String, sd: String): String =
      s"CAST($se AS DOUBLE) / CAST(m AS DOUBLE)" +
        s" - CAST($sd AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))"
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |deg AS MATERIALIZED (SELECT p, count(*) AS deg
      |      FROM (SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0)
      |      GROUP BY p),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
      |c0 AS MATERIALIZED (SELECT DISTINCT src AS p, src AS lbl FROM e),
      |$ccRounds,
      |s0 AS MATERIALIZED (SELECT p, p AS lbl FROM deg),
      |$mergeRounds,
      |${qCtes(s"c$CcRounds", "cc")},
      |${qCtes(s"s$LouvainRounds", "lv")}
      |SELECT mm.m AS n_edges,
      |  s2_cc.nc AS n_comm_cc, ${q("se_cc.se", "s2_cc.sd2")} AS q_cc,
      |  s2_lv.nc AS n_comm_louvain, ${q("se_lv.se", "s2_lv.sd2")} AS q_louvain
      |FROM mm, se_cc, s2_cc, se_lv, s2_lv""".stripMargin
  }

  // ---------------------------------------------------- degree_assortativity

  /** Degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over the directed edge list
    * (Newman's r): positive means hubs buy with hubs (assortative
    * mixing), negative means hub-and-spoke catalogs. Moments
    * (M, Σx, Σy, Σx², Σxy, Σy² over the 2m directed edges) are
    * exact decimal sums; r combines the INDIVIDUALLY-double-cast
    * moments in one shared IEEE expression (the `cuped_adjustment`
    * convention — decimal cross-products silently fall to double in
    * DuckDB past (38,0); ADVICE r11), so parity is structural while
    * each moment < 2^53.
    *
    * Scale shape: two node-grain joins tag each directed edge with
    * its endpoint degrees (E-sized, the louvain tagging shape), one
    * 6-moment aggregate to a single row. Nothing beyond E ever
    * shuffles.
    */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared degree frame (round 19)
    val deg = supportDeg(spark, dir)
    val dir2 = und.select(col("p1").as("i"), col("p2").as("j"))
      .union(und.select(col("p2").as("i"), col("p1").as("j")))
    val tagged = dir2
      .join(deg.toDF("i", "dx"), "i")
      .join(deg.toDF("j", "dy"), "j")
    def s38(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
    val r = "(CAST(md AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (sqrt(CAST(md AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " * sqrt(CAST(md AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    tagged.agg(count(lit(1)).as("md"),
        s38(col("dx")).as("sx"), s38(col("dy")).as("sy"),
        s38(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
        s38(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"),
        s38(expr("CAST(dy AS DECIMAL(38,0)) * dy")).as("syy"))
      .select(expr("CAST(md / 2 AS BIGINT)").as("n_edges"),
        expr(r).as("assortativity"))
  }

  val degreeAssortativitySql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |deg AS (SELECT p, count(*) AS deg
      |        FROM (SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0)
      |        GROUP BY p),
      |d2 AS (SELECT p1 AS i, p2 AS j FROM e0 UNION ALL SELECT p2, p1 FROM e0),
      |t AS (
      |  SELECT di.deg AS dx, dj.deg AS dy
      |  FROM d2 JOIN deg di ON di.p = d2.i JOIN deg dj ON dj.p = d2.j),
      |a AS (
      |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS md,
      |    sum(CAST(dx AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(dy AS DECIMAL(38,0))) AS sy,
      |    sum(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
      |    sum(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy,
      |    sum(CAST(dy AS DECIMAL(38,0)) * dy) AS syy
      |  FROM t)
      |SELECT CAST(md / 2 AS BIGINT) AS n_edges,
      |  (CAST(md AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(md AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * sqrt(CAST(md AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
      |FROM a""".stripMargin

  // --------------------------------------- link_prediction_resource_alloc

  /** Per-wedge resource-allocation credit 1/deg(w), rounded to the
    * 9-dp grid and summed EXACTLY in decimal so the Σ over a pair's
    * wedge centers is order-independent (the `cramers_v` convention;
    * 1/deg ≤ 1, far inside the grid where round() agrees across
    * engines). The 9-dp quantization IS the documented semantics.
    */
  private val RaContribExpr =
    "CAST(round(CAST(1 AS DOUBLE) / CAST(dw AS DOUBLE), 9) AS DECIMAL(18,9))"

  /** Link prediction by the resource-allocation index: for every
    * non-edge pair, RA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/deg(w) — common
    * neighbors DISCOUNTED by their hubness (a shared rare neighbor is
    * strong evidence; a shared hub is weak), the index Zhou et al.'s
    * benchmark found beating plain common-neighbors and Jaccard.
    * Adamic–Adar is the same shape with 1/log deg — RA is preferred
    * here because it stays log-free (the `tv_distance_drift`-vs-KL
    * reasoning) AND is the stronger published baseline. Complements
    * `link_prediction_jaccard` (size-normalized overlap): RA weights
    * WHO is shared, Jaccard only how much.
    *
    * Scale shape: identical to the Jaccard variant — wedge volume
    * Σ deg² off the ONE cached undirected edge list, the center's
    * degree joins at the wedge grain on the node key, existing edges
    * leave via an equi anti-join. Hub capping / minhash sketching
    * swap in at 100 TB the same way.
    */
  def linkPredictionResourceAlloc(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared wedge census (round 19): same per-wedge 1/deg(w)
    // decimal contributions, same order-free exact sum
    val wedges = wedgeStats(spark, dir)
      .select(col("a"), col("b"), col("common"), col("ra_d"))
    wedges.join(und,
        col("a") === col("p1") && col("b") === col("p2"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"), col("common"),
        expr("CAST(ra_d AS DOUBLE)").as("resource_alloc"))
      .orderBy(col("resource_alloc").desc, col("node_a"), col("node_b"))
      .limit(LinkPredTopK)
  }

  val linkPredictionResourceAllocSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |deg AS (SELECT src AS p, count(*) AS deg FROM e GROUP BY 1),
      |w AS (
      |  SELECT x.dst AS a, y.dst AS b, count(*) AS common,
      |    sum($RaContribExpr) AS ra_d
      |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
      |  JOIN (SELECT p, deg AS dw FROM deg) dc ON dc.p = x.src
      |  GROUP BY 1, 2),
      |ne AS (
      |  SELECT w.* FROM w LEFT JOIN e0 ON w.a = e0.p1 AND w.b = e0.p2
      |  WHERE e0.p1 IS NULL)
      |SELECT a AS node_a, b AS node_b, CAST(common AS BIGINT) AS common,
      |  CAST(ra_d AS DOUBLE) AS resource_alloc
      |FROM ne ORDER BY resource_alloc DESC, node_a, node_b LIMIT $LinkPredTopK""".stripMargin

  // ---------------------------------------------------- rich_club_coefficient

  private val RichClubKs = Seq(1, 2, 4, 8, 16, 32)

  /** Rich-club coefficient φ(k) of the co-purchase support graph at
    * doubling degree thresholds: among nodes of degree > k, the
    * realized fraction of possible edges — "do the hub products
    * preferentially connect to EACH OTHER" (assortativity's scalar
    * r says whether degree correlates along edges; φ(k) reads the
    * density of the hub core itself, the structure that decides
    * whether a few anchor products carry the whole affinity graph).
    * φ is exact-count rational: 2·E_k over N_k(N_k−1), one double
    * division per spine row; a sub-2-node club reports 0.
    *
    * Scale shape: degrees are one partial-agg over the shared
    * support-edge frame; each edge picks up its endpoints' degrees
    * via two node-keyed joins (the triangle orientation shape); both
    * the node and edge frames then reduce by CONDITIONAL sums over
    * the 6-value literal spine — no per-threshold passes, no
    * node×spine blowup, everything after the two joins is a 6-row
    * frame.
    */
  def richClubCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val edges = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared degree frame (round 19)
    val deg = supportDeg(spark, dir)
    val nCols = RichClubKs.map(k =>
      sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k"))
    val nodeCnt = deg.agg(nCols.head, nCols.tail: _*)
    val edgeMin = edges
      .join(deg.select(col("p").as("p1"), col("deg").as("d1")), Seq("p1"))
      .join(deg.select(col("p").as("p2"), col("deg").as("d2")), Seq("p2"))
      .select(least(col("d1"), col("d2")).as("dmin"))
    val eCols = RichClubKs.map(k =>
      sum(when(col("dmin") > k, 1L).otherwise(0L)).as(s"e_$k"))
    val edgeCnt = edgeMin.agg(eCols.head, eCols.tail: _*)
    val arms = RichClubKs.map(k =>
      s"named_struct('k', CAST($k AS BIGINT), 'n_nodes', n_$k, 'n_edges', e_$k)")
    nodeCnt.crossJoin(edgeCnt)
      .selectExpr(s"inline(array(${arms.mkString(", ")}))")
      .selectExpr("k", "n_nodes", "n_edges",
        """CASE WHEN n_nodes < 2 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(2 * n_edges AS DOUBLE) / CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
          |END AS phi""".stripMargin)
      .orderBy("k")
  }

  val richClubCoefficientSql: String = {
    val nCols = RichClubKs.map(k =>
      s"CAST(sum(CASE WHEN deg > $k THEN 1 ELSE 0 END) AS BIGINT) AS n_$k").mkString(", ")
    val eCols = RichClubKs.map(k =>
      s"CAST(sum(CASE WHEN dmin > $k THEN 1 ELSE 0 END) AS BIGINT) AS e_$k").mkString(", ")
    val arms = RichClubKs.map(k => s"SELECT $k AS k, n_$k AS n_nodes, e_$k AS n_edges FROM nc, ec")
      .mkString("\n      UNION ALL ")
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |deg AS (SELECT p, count(*) AS deg FROM (
       |    SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0) u GROUP BY 1),
       |nc AS (SELECT $nCols FROM deg),
       |em AS (
       |  SELECT least(d1.deg, d2.deg) AS dmin
       |  FROM e0 JOIN deg d1 ON d1.p = e0.p1 JOIN deg d2 ON d2.p = e0.p2),
       |ec AS (SELECT $eCols FROM em),
       |s AS ($arms)
       |SELECT CAST(k AS BIGINT) AS k, n_nodes, n_edges,
       |  CASE WHEN n_nodes < 2 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(2 * n_edges AS DOUBLE) / CAST(n_nodes * (n_nodes - 1) AS DOUBLE)
       |  END AS phi
       |FROM s ORDER BY k""".stripMargin
  }

  // -------------------------------------------------------------- hits_scores

  private val HitsTopK = 10

  /** HITS hubs & authorities on the directed customer→supplier
    * purchase graph (the `pagerank_topk` bipartite encoding) — the
    * two-sided centrality PageRank's single score flattens: a hub
    * customer buys from many strong suppliers, an authority supplier
    * sells to many strong customers, and the mutual recursion is the
    * definition. Two full power-iteration rounds, each renormalized
    * onto the 10¹² grid by BIGINT floor-division (divisor
    * 1 + max // Scale — a no-op while max < Scale, exact always), so
    * every state is an integer < 2⁵³·10³ and every sum is
    * order-independent; the fixed point is value-checked in DuckDB
    * with the same unrolled integer arithmetic. Output: top-10 per
    * role by (score, node).
    *
    * Scale shape: the edge list builds once (the pagerank
    * orders⋈lineitem shuffle) and is cached across the four
    * half-rounds; each half-round is one node-keyed equi-join +
    * partial-agg sum — state frames are node-grain, maxima reduce
    * via 1-row aggregates broadcast back, never a window over the
    * node frame. Magnitude ledger: normalized state ≤ ~10¹²·deg —
    * raw sums ≤ maxdeg·10¹² ≈ 10¹⁸ < 2⁶³ through 10⁶-degree hubs;
    * beyond, the same plan rides DECIMAL sums.
    */
  /** ReplayCalibrate (optimization round 18): see the calibration
    * table in OPTIMIZATION_r18.md; margin per the family convention.
    * Four half-rounds of pure long arithmetic over the pair array.
    */
  private[graft] val HitsPerRowUs = 0.15

  def hitsScores(spark: SparkSession, dir: String): DataFrame =
    hitsScores(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed branch for the branch-equality
    * test (the pagerank convention).
    */
  private[graft] def hitsScores(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // the session-shared distinct pair frame (optimization round 18):
    // identical definition, built once for the whole centrality family
    val edges = custSuppPairs(spark, dir)
    // single-task branch (optimization round 18, the pagerank
    // admission discipline): the four normalized half-rounds cost ~28
    // scheduled jobs in the loop below (per round: a state cache, a
    // 1-row max aggregate, a broadcast, a join + partial-agg sum);
    // under the measured cap the whole recursion is pure long
    // arithmetic in one task, bit-identical by construction (counts,
    // order-free long sums, `x div (1 + max div Scale)` floors).
    if (!forceLoop) {
      val sess = spark
      import sess.implicits._
      val edgeCount = edges.count() // materializes the shared frame
      if (edgeCount <= replayCap(HitsPerRowUs, 4)) {
        val sc = Scale
        return edges.select(col("c").cast("long"), col("s").cast("long"))
          .as[(Long, Long)]
          .repartition(1)
          .mapPartitions(it => hitsReplay(it.toArray, sc))
          .toDF("role", "node", "score")
          .orderBy(col("role"), col("score").desc, col("node"))
      }
    }
    hitsScoresLoop(spark, dir, edges)
  }

  /** The single-task HITS replay body — bit-identical to the loop:
    * h₁ = deg(c), aᵢ = Σ h over edges, hᵢ = Σ a, each state
    * renormalized by BIGINT floor-division `x div (1 + max(x) div
    * Scale)`; top-10 per role by (score desc, node asc). All exact
    * longs; order-free sums. Factored out for ReplayCalibrate.
    */
  private[graft] def hitsReplay(es: Array[(Long, Long)], scale: Long)
      : Iterator[(String, Long, Long)] = {
    val m = es.length
    // the two node spaces are distinct columns (customers vs
    // suppliers) — renumber each independently
    def uniqueSorted(get: Int => Long): Array[Long] = {
      val a = new Array[Long](m)
      var i = 0
      while (i < m) { a(i) = get(i); i += 1 }
      java.util.Arrays.sort(a)
      var n = 0; i = 0
      while (i < a.length) {
        if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, n)
    }
    val cIds = uniqueSorted(i => es(i)._1)
    val sIds = uniqueSorted(i => es(i)._2)
    val cI = new Array[Int](m); val sI = new Array[Int](m)
    var i = 0
    while (i < m) {
      cI(i) = java.util.Arrays.binarySearch(cIds, es(i)._1)
      sI(i) = java.util.Arrays.binarySearch(sIds, es(i)._2)
      i += 1
    }
    def normalize(x: Array[Long]): Unit = {
      var mx = 0L; var j = 0
      while (j < x.length) { if (x(j) > mx) mx = x(j); j += 1 }
      // divisor is a no-op while max < scale — exactly the loop's form
      val d = 1 + mx / scale
      j = 0
      while (j < x.length) { x(j) = x(j) / d; j += 1 }
    }
    val h = new Array[Long](cIds.length)
    i = 0; while (i < m) { h(cI(i)) += 1; i += 1 }
    normalize(h)
    val a = new Array[Long](sIds.length)
    i = 0; while (i < m) { a(sI(i)) += h(cI(i)); i += 1 }
    normalize(a)
    val h2 = new Array[Long](cIds.length)
    i = 0; while (i < m) { h2(cI(i)) += a(sI(i)); i += 1 }
    normalize(h2)
    val a2 = new Array[Long](sIds.length)
    i = 0; while (i < m) { a2(sI(i)) += h2(cI(i)); i += 1 }
    normalize(a2)
    def topK(ids: Array[Long], x: Array[Long], role: String) =
      ids.indices.sortBy(j => (-x(j), ids(j))).take(HitsTopK)
        .map(j => (role, ids(j), x(j)))
    (topK(cIds, h2, "hub") ++ topK(sIds, a2, "authority")).iterator
  }

  private def hitsScoresLoop(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    // Each round is CACHED before `norm` reads it twice (max + values)
    // and before the next round joins it: an uncached chain re-expands
    // 2^rounds (the severed-lineage discipline of the graph loops —
    // measured 13.5 s → ~2 s at sf0.1 for these four rounds).
    def norm(state0: DataFrame, vc: String): DataFrame = {
      val state = graft.core.OwnedCaches.own(state0.cache())
      val m = state.agg(max(col(vc)).as("m"))
      state.crossJoin(broadcast(m))
        .select(col(state.columns.head),
          expr(s"$vc div (1 + m div ${Scale}L)").as(vc))
    }
    // h1 = deg(c) normalized (a0 ≡ 1 for every supplier)
    val h1 = norm(edges.groupBy(col("c")).agg(count(lit(1)).as("h")), "h")
    val a1 = norm(edges.join(h1, Seq("c")).groupBy(col("s"))
      .agg(sum(col("h")).as("a")), "a")
    val h2 = norm(edges.join(a1, Seq("s")).groupBy(col("c"))
      .agg(sum(col("a")).as("h")), "h")
    val a2 = norm(edges.join(h2, Seq("c")).groupBy(col("s"))
      .agg(sum(col("h")).as("a")), "a")
    val hubs = h2.orderBy(col("h").desc, col("c")).limit(HitsTopK)
      .select(lit("hub").as("role"), col("c").as("node"), col("h").as("score"))
    val auths = a2.orderBy(col("a").desc, col("s")).limit(HitsTopK)
      .select(lit("authority").as("role"), col("s").as("node"), col("a").as("score"))
    hubs.unionByName(auths).orderBy(col("role"), col("score").desc, col("node"))
  }

  val hitsScoresSql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h1r AS (SELECT c, count(*) AS h FROM edges GROUP BY 1),
       |h1 AS (SELECT c, h // (1 + (SELECT max(h) FROM h1r) // $Scale) AS h FROM h1r),
       |a1r AS (SELECT s, sum(h) AS a FROM edges JOIN h1 USING (c) GROUP BY 1),
       |a1 AS (SELECT s, a // (1 + (SELECT max(a) FROM a1r) // $Scale) AS a FROM a1r),
       |h2r AS (SELECT c, sum(a) AS h FROM edges JOIN a1 USING (s) GROUP BY 1),
       |h2 AS (SELECT c, h // (1 + (SELECT max(h) FROM h2r) // $Scale) AS h FROM h2r),
       |a2r AS (SELECT s, sum(h) AS a FROM edges JOIN h2 USING (c) GROUP BY 1),
       |a2 AS (SELECT s, a // (1 + (SELECT max(a) FROM a2r) // $Scale) AS a FROM a2r),
       |hub AS (SELECT 'hub' AS role, c AS node, h AS score
       |  FROM h2 ORDER BY h DESC, c LIMIT $HitsTopK),
       |auth AS (SELECT 'authority' AS role, s AS node, a AS score
       |  FROM a2 ORDER BY a DESC, s LIMIT $HitsTopK)
       |SELECT role, node, CAST(score AS BIGINT) AS score
       |FROM (SELECT * FROM hub UNION ALL SELECT * FROM auth) u
       |ORDER BY role, score DESC, node""".stripMargin

  // ---------------------------------------------------- hub_closeness_profile

  private val HubCount = 5
  private val HubHops = 3

  /** Bounded-hop harmonic closeness of the top-[[HubCount]]
    * co-purchase hubs: per-hop reach counts and Σ 1/dist over nodes
    * within [[HubHops]] hops — the centrality read `degree_profile`
    * (local only) and `bfs_hops` (one seed set, no per-source
    * attribution) don't give, and the harmonic form handles
    * disconnected remainders without an ∞. Exact-integer hop counts;
    * closeness reduces 1/hop rationals via the round-to-decimal sum.
    *
    * Scale shape: full closeness is O(V·E) — the classic
    * non-starter; bounding sources to the top-H hubs caps the BFS
    * frame at H·|reach| rows (per-round node-keyed join + min
    * partial-agg, each round cached), which is the standard
    * hub-centrality approximation at 100 TB. Hub selection is a
    * distributed TakeOrdered on the degree frame.
    */
  def hubClosenessProfile(spark: SparkSession, dir: String): DataFrame =
    hubClosenessProfile(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed branch for the branch-equality
    * test (the pagerank convention).
    */
  private[graft] def hubClosenessProfile(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // session-shared closure + degree frames (round 19): the per-run
    // OwnedCaches copies of both are gone
    val sym = symEdges(spark, dir)
    // single-task branch (optimization round 19, the pagerank
    // admission discipline): the per-hop loop below schedules ~17
    // jobs (a cache + join + partial-agg min per hop, then the tally
    // join) for µs of arithmetic on an affinity-sized graph — bench
    // 2.30 s wall vs 0.9 s task CPU. Under the measured cap the
    // whole 5-source bounded BFS runs in one task, bit-identically:
    // exact min-hop levels, exact long tallies, and the harmonic sum
    // as unscaled 9-dp longs via the SAME BigDecimal.valueOf(1/h)
    // HALF_UP quantization Spark's round() applies.
    if (!forceLoop) {
      val sess = spark
      import sess.implicits._
      val edgeCount = sym.count() // materializes the shared frame
      if (edgeCount <= replayCap(HubClosenessPerRowUs, HubHops)) {
        val (hc, hh) = (HubCount, HubHops)
        return sym.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)]
          .repartition(1)
          .mapPartitions(it => hubClosenessReplay(it.toArray, hc, hh))
          .toDF("part_key", "degree", "n_hop1", "n_hop2", "n_hop3",
            "harmonic_closeness")
          .orderBy(col("degree").desc, col("part_key"))
      }
    }
    val deg = supportDeg(spark, dir)
    val hubs = graft.core.OwnedCaches.own(
      deg.orderBy(col("deg").desc, col("p")).limit(HubCount)
        .select(col("p").as("hub"), col("deg")).cache())
    var frontier = hubs.select(col("hub"), col("hub").as("node"), lit(0L).as("hop"))
    for (h <- 1 to HubHops) {
      val nxt = frontier.join(sym, col("node") === col("src"))
        .select(col("hub"), col("dst").as("node"), lit(h.toLong).as("hop"))
      frontier = graft.core.OwnedCaches.own(frontier.union(nxt)
        .groupBy(col("hub"), col("node")).agg(min(col("hop")).as("hop")).cache())
    }
    frontier.filter(col("hop") > 0)
      .groupBy(col("hub"))
      .agg(sum(when(col("hop") === 1L, 1L).otherwise(0L)).as("r1"),
        sum(when(col("hop") === 2L, 1L).otherwise(0L)).as("r2"),
        sum(when(col("hop") === 3L, 1L).otherwise(0L)).as("r3"),
        sum(expr("CAST(round(CAST(1 AS DOUBLE) / CAST(hop AS DOUBLE), 9) AS DECIMAL(18,9))"))
          .as("hc"))
      .join(hubs, Seq("hub"))
      .selectExpr("hub AS part_key", "CAST(deg AS BIGINT) AS degree",
        "CAST(r1 AS BIGINT) AS n_hop1", "CAST(r2 AS BIGINT) AS n_hop2",
        "CAST(r3 AS BIGINT) AS n_hop3",
        "CAST(hc AS DOUBLE) AS harmonic_closeness")
      .orderBy(col("degree").desc, col("part_key"))
  }

  /** The single-task hub-closeness replay — bit-identical to the
    * per-hop loop: min-hop BFS from the top-[[HubCount]] degree hubs
    * (ties by id, the loop's orderBy), per-hop exact long tallies,
    * harmonic closeness as an order-free sum of unscaled 9-dp longs
    * where each per-hop contribution is quantized by the exact
    * BigDecimal HALF_UP rule Spark's `round(1/hop, 9)` applies, and
    * the final decimal→double cast is the same correctly-rounded
    * BigDecimal.doubleValue. Factored out for ReplayCalibrate.
    */
  private[graft] def hubClosenessReplay(es: Array[(Long, Long)],
      hubCount: Int, hops: Int)
      : Iterator[(Long, Long, Long, Long, Long, Double)] = {
    val m = es.length
    if (m == 0) return Iterator.empty
    val (ids, n, srcI, dstI) = renumber(i => es(i)._1, i => es(i)._2, m)
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(srcI(i)) += 1; i += 1 }
    // CSR adjacency
    val off = new Array[Int](n + 1)
    i = 0; while (i < m) { off(srcI(i) + 1) += 1; i += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val cur = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) { val s = srcI(i); adj(cur(s)) = dstI(i); cur(s) += 1; i += 1 }
    val hubs = (0 until n).sortBy(j => (-deg(j), ids(j))).take(hubCount)
    // round(1/h, 9) at each hop — Spark's Round on a DOUBLE quantizes
    // BigDecimal.valueOf(d) (shortest repr) HALF_UP; same rule here
    val contrib = Array.tabulate(hops + 1) { h =>
      if (h == 0) 0L
      else java.math.BigDecimal.valueOf(1.0 / h)
        .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue.longValue
    }
    val hop = new Array[Int](n)
    hubs.iterator.map { h =>
      java.util.Arrays.fill(hop, -1)
      hop(h) = 0
      var frontier = Array(h)
      val cnt = new Array[Long](hops + 1)
      var hcQ = 0L
      var l = 1
      while (l <= hops && frontier.nonEmpty) {
        val nb = Array.newBuilder[Int]
        var fi = 0
        while (fi < frontier.length) {
          val v = frontier(fi)
          var e = off(v)
          while (e < off(v + 1)) {
            val w = adj(e)
            if (hop(w) < 0) { hop(w) = l; cnt(l) += 1; hcQ += contrib(l); nb += w }
            e += 1
          }
          fi += 1
        }
        frontier = nb.result()
        l += 1
      }
      (ids(h), deg(h), cnt(1), cnt(2), cnt(3),
        java.math.BigDecimal.valueOf(hcQ, 9).doubleValue)
    }
  }

  val hubClosenessProfileSql: String = {
    def relax(prev: String, name: String, hop: Int): String =
      s"""$name AS (
         |  SELECT hub, node, min(hop) AS hop FROM (
         |    SELECT hub, node, hop FROM $prev
         |    UNION ALL
         |    SELECT $prev.hub, e.dst AS node, $hop AS hop
         |    FROM $prev JOIN e ON e.src = $prev.node) u
         |  GROUP BY hub, node)""".stripMargin
    val rounds = (1 to HubHops).map(i => relax(s"d${i - 1}", s"d$i", i)).mkString(",\n")
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |e AS (SELECT p1 AS src, p2 AS dst FROM e0
       |      UNION ALL SELECT p2, p1 FROM e0),
       |deg AS (SELECT src AS p, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |hubs AS (SELECT p AS hub, deg FROM deg ORDER BY deg DESC, p LIMIT $HubCount),
       |d0 AS (SELECT hub, hub AS node, CAST(0 AS BIGINT) AS hop FROM hubs),
       |$rounds,
       |agg AS (
       |  SELECT hub,
       |    CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
       |    CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
       |    CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
       |    sum(CAST(round(CAST(1 AS DOUBLE) / CAST(hop AS DOUBLE), 9) AS DECIMAL(18,9))) AS hc
       |  FROM d$HubHops WHERE hop > 0 GROUP BY 1)
       |SELECT hub AS part_key, deg AS degree,
       |  r1 AS n_hop1, r2 AS n_hop2, r3 AS n_hop3,
       |  CAST(hc AS DOUBLE) AS harmonic_closeness
       |FROM agg JOIN hubs USING (hub)
       |ORDER BY degree DESC, part_key""".stripMargin
  }

  // ------------------------------------------------------ adamic_adar_links

  // engine-exact ln(deg) staged at NODE grain (vocabulary-bounded —
  // never per wedge), then the AA contribution 1/ln(deg) quantized on
  // the 9-dp grid and summed exactly in decimal (the RaContribExpr
  // order-independence convention). A wedge center always has deg ≥ 2,
  // so ln(deg) ≥ ln 2 — never 0.
  private val AaY = graft.functions.ExactLn.yExpr("CAST(deg AS DOUBLE)")
  private val AaZ = graft.functions.ExactLn.zExpr("__y")
  private val AaLn = graft.functions.ExactLn.lnExpr("__z")
  // deg-1 nodes never center a wedge, but the column is computed for
  // every node — guard ln(1)=0 to keep ANSI division happy (the 0
  // sentinel is never summed)
  private val AaContrib =
    "CAST(CASE WHEN deg < 2 THEN CAST(0 AS DOUBLE) " +
      "ELSE round(CAST(1 AS DOUBLE) / __ln, 9) END AS DECIMAL(18,9))"

  /** Link prediction by the Adamic-Adar index: for every non-edge
    * pair, AA(a,b) = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) — the classic
    * sibling of `link_prediction_resource_alloc` with a LOGARITHMIC
    * hub discount (RA's 1/deg kills hub evidence almost entirely; AA
    * keeps a diminishing share, which ranks mid-degree shared
    * neighbors differently — the standard pair a recsys ablation
    * compares). ln is the engine-exact [[graft.functions.ExactLn]]
    * construction evaluated once per NODE; contributions are 9-dp
    * decimal-quantized so the Σ is order-independent.
    *
    * Scale shape: shares the session-cached [[supportEdges]] frame;
    * the wedge self-join's work is Σ deg(w)² (the quantity
    * `degree_profile` bounds), the ln staging is node-grain map-side,
    * and the final TakeOrdered keeps only top-[[LinkPredTopK]].
    */
  def adamicAdarLinks(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared wedge census (round 19): the node-grain ExactLn
    // staging and the 9-dp decimal sum live in [[wedgeStats]] now —
    // same expressions, same order-free exact arithmetic
    val wedges = wedgeStats(spark, dir)
      .select(col("a"), col("b"), col("common"), col("aa_d"))
    wedges.join(und,
        col("a") === col("p1") && col("b") === col("p2"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"), col("common"),
        expr("CAST(aa_d AS DOUBLE)").as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("node_a"), col("node_b"))
      .limit(LinkPredTopK)
  }

  val adamicAdarLinksSql: String =
    s"""WITH b AS (
      |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
      |  FROM lineitem GROUP BY 1),
      |pr AS (
      |  SELECT u1.p1, u2.p2
      |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
      |  WHERE u1.p1 < u2.p2),
      |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
      |      UNION ALL SELECT p2, p1 FROM e0),
      |deg0 AS (SELECT src AS p, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |degy AS (SELECT p, deg, $AaY AS __y FROM deg0),
      |degz AS (SELECT p, deg, $AaZ AS __z FROM degy),
      |degl AS (SELECT p, deg, $AaLn AS __ln FROM degz),
      |degc AS (SELECT p, $AaContrib AS aa_c FROM degl),
      |w AS (
      |  SELECT x.dst AS a, y.dst AS b, count(*) AS common,
      |    sum(aa_c) AS aa_d
      |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
      |  JOIN degc ON degc.p = x.src
      |  GROUP BY 1, 2),
      |ne AS (
      |  SELECT w.* FROM w LEFT JOIN e0 ON w.a = e0.p1 AND w.b = e0.p2
      |  WHERE e0.p1 IS NULL)
      |SELECT a AS node_a, b AS node_b, CAST(common AS BIGINT) AS common,
      |  CAST(aa_d AS DOUBLE) AS adamic_adar
      |FROM ne ORDER BY adamic_adar DESC, node_a, node_b LIMIT $LinkPredTopK""".stripMargin

  // ---------------------------------------------------------- betweenness_sample

  private[graft] val BtSources = 8
  private[graft] val BtHops = 4
  private val BtTopK = 20
  /** One Brandes dependency term σ(v)/σ(w)·(1+δ(w)), 9-dp quantized
    * as an exact unscaled BIGINT via floor(x·10⁹ + 0.5) — pure IEEE
    * multiply/add/floor, bit-identical across engines. The previous
    * round(x, 9) form split the engines at sf0.001 (round 19,
    * inherited): Spark's Round rounds the SHORTEST-decimal string of
    * the double (BigDecimal.valueOf) while DuckDB rounds the exact
    * binary value, so a term whose shortest repr ends on the 9-dp
    * half grid goes up on one engine and down on the other (observed
    * 1e-9 split on one node's score). Shared text on the staged
    * (sigv, sigw, deltaw) columns; sums are order-free exact longs.
    * Ledger: δ ≤ reach·σmax at 9 dp ⇒ unscaled ≤ ~1e9·n·σ — inside
    * int64 for every oracle SF at hops = 4 (σ ≤ deg⁴).
    */
  private val BtTerm =
    "CAST(floor(CAST(sigv AS DOUBLE) / CAST(sigw AS DOUBLE)" +
      " * (CAST(1 AS DOUBLE) + deltaw)" +
      " * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** δ as a double from the exact unscaled sum — int64→double casts
    * are correctly rounded on both engines (and the quotient is the
    * correctly-rounded double of the same rational the old
    * DECIMAL(28,9)→DOUBLE cast produced), so the doubles feeding the
    * next level's [[BtTerm]] are bit-identical across engines.
    */
  private val BtDelta =
    "CAST(coalesce(ds, CAST(0 AS BIGINT)) AS DOUBLE)" +
      " / CAST(1000000000 AS DOUBLE)"

  /** Sampled-source betweenness centrality (Brandes, hop-bounded):
    * forward BFS with exact shortest-path COUNTS from the
    * [[BtSources]] highest-degree nodes (ties by id — deterministic),
    * then the backward dependency accumulation δ(v) = Σ_succ
    * σ(v)/σ(w)·(1+δ(w)) level by level, top-[[BtTopK]] nodes by
    * accumulated score — the "who do shortest paths FLOW THROUGH"
    * centrality the degree/closeness/PageRank family doesn't give
    * (a low-degree bridge node outranks any hub). Source sampling +
    * the [[BtHops]]-hop horizon is the standard scale
    * approximation (exact Brandes is O(V·E) — a non-starter at any
    * size); both caps are explicit constants. Path counts are exact
    * BIGINTs (σ ≤ deg^hops — document the 2⁶³ ledger before raising
    * hops); every δ is a 9-dp-unscaled exact BIGINT sum of [[BtTerm]]
    * terms, so accumulation order never shows and both engines
    * quantize by the same IEEE floor(x·10⁹+0.5).
    *
    * Scale shape: per level one frontier⋈edges node-keyed equi-join +
    * partial-agg sum and one anti-join against the visited set — the
    * boundedRelax plan shape with a σ-sum instead of a min; the
    * backward pass is three more node-keyed joins. Frontier frames
    * are (source × reach)-bounded; each level severs lineage through
    * a persisted RDD (the boundedRelax discipline — visited is
    * referenced by every later level, so an unsevered chain
    * re-analyzes 2^levels; measured 195 s → ~8 s at sf0.01).
    */
  def betweennessSample(spark: SparkSession, dir: String): DataFrame =
    betweennessSample(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed branch for the branch-equality
    * test (the pagerank convention).
    */
  private[graft] def betweennessSample(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // session-shared closure + degree frames (round 19)
    val sym = symEdges(spark, dir)
    // single-task branch (optimization round 19, the pagerank
    // admission discipline): the severed per-level BFS below
    // schedules ~50 eager jobs at build time (a persist + count per
    // level × forward, visited and backward chains) — bench 1.6 s
    // wall vs 1.2 s task CPU, almost all scheduling. Under the
    // measured cap the whole 8-source hop-bounded Brandes runs in one
    // task, bit-identically: exact BIGINT σ counts, the SAME IEEE
    // floor(σv/σw·(1+δw)·10⁹+0.5) term quantization, order-free
    // exact long δ/score sums, and δ rebuilt by the same exactly-
    // rounded int64→double division.
    if (!forceLoop) {
      val sess = spark
      import sess.implicits._
      val edgeCount = sym.count() // materializes the shared frame
      if (edgeCount <= replayCap(BtPerRowUs, BtHops)) {
        val (bs, bh) = (BtSources, BtHops)
        return sym.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)]
          .repartition(1)
          .mapPartitions(it => btReplay(it.toArray, bs, bh))
          .toDF("v", "sc")
          .selectExpr("CAST(v AS BIGINT) AS part_key",
            "CAST(sc AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS betweenness")
          .orderBy(col("betweenness").desc, col("part_key"))
          .limit(BtTopK)
      }
    }
    val deg = supportDeg(spark, dir)
    val srcs = deg.orderBy(col("deg").desc, col("p")).limit(BtSources)
      .select(col("p").as("s"))
    // per-level lineage sever (the boundedRelax discipline): every
    // level references BOTH the previous frontier and the cumulative
    // visited set, so an unsevered chain re-analyzes 2^levels —
    // materialize each tiny (sources × reach) frame to a persisted
    // RDD and restart the lineage from it
    def sever(df: DataFrame): DataFrame = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      graft.core.OwnedCaches.ownRdd(rdd)
      spark.createDataFrame(rdd, df.schema)
    }
    val f0 = sever(srcs.select(col("s"), col("s").as("v"), lit(1L).as("sig")))
    // forward: exact path counts per level, visited-set anti-joins
    val fronts = scala.collection.mutable.ArrayBuffer(f0)
    var visited = f0.select(col("s"), col("v"))
    for (_ <- 1 to BtHops) {
      val prev = fronts.last
      val next = sever(
        prev.join(sym, prev("v") === sym("src"))
          .select(col("s"), col("dst").as("v"), col("sig"))
          .join(visited.select(col("s").as("s2"), col("v").as("v2")),
            col("s") === col("s2") && col("v") === col("v2"), "left_anti")
          .groupBy(col("s"), col("v")).agg(sum(col("sig")).as("sig")))
      fronts += next
      visited = sever(visited.union(next.select(col("s"), col("v"))))
    }
    // backward: δ per level, deepest level δ = 0
    var below = fronts(BtHops).withColumn("delta", expr("CAST(0 AS DOUBLE)"))
    val deltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (l <- (BtHops - 1) to 1 by -1) {
      val fl = fronts(l)
      val contrib = fl
        .join(sym, fl("v") === sym("src"))
        .select(col("s"), col("v"), col("sig").as("sigv"), col("dst").as("w"))
        .join(below.select(col("s").as("s2"), col("v").as("w2"),
          col("sig").as("sigw"), col("delta").as("deltaw")),
          col("s") === col("s2") && col("w") === col("w2"))
        .groupBy(col("s"), col("v"))
        .agg(sum(expr(BtTerm)).as("ds"))
      val bl = sever(
        fl.join(contrib.select(col("s").as("s3"), col("v").as("v3"), col("ds")),
            fl("s") === col("s3") && fl("v") === col("v3"), "left")
          .select(col("s"), col("v"), col("sig"),
            expr(BtDelta).as("delta"),
            expr("coalesce(ds, CAST(0 AS BIGINT))").as("dsq")))
      deltas += bl
      // the next level reads (sig, delta) only — dsq rides along for
      // the final exact-integer score sum
      below = bl
    }
    deltas.reduce(_.unionByName(_))
      .groupBy(col("v"))
      .agg(sum(col("dsq")).as("sc"))
      .selectExpr("CAST(v AS BIGINT) AS part_key",
        "CAST(sc AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS betweenness")
      .orderBy(col("betweenness").desc, col("part_key"))
      .limit(BtTopK)
  }

  val betweennessSampleSql: String = {
    // forward levels with cumulative-visited anti-joins
    val fwd = (1 to BtHops).map { l =>
      val vis = if (l == 1) "f0" else s"vis${l - 1}"
      val visCte =
        if (l == 1) ""
        else
          s"vis${l - 1} AS (SELECT s, v FROM vis${if (l == 2) "0" else (l - 2).toString} " +
            s"UNION ALL SELECT s, v FROM f${l - 1}),\n"
      s"""${visCte}f$l AS MATERIALIZED (
         |  SELECT f${l - 1}.s, e.dst AS v, CAST(sum(f${l - 1}.sig) AS BIGINT) AS sig
         |  FROM f${l - 1} JOIN e ON f${l - 1}.v = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM $vis x WHERE x.s = f${l - 1}.s AND x.v = e.dst)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BtHops - 1) to 1 by -1).map { l =>
      s"""c$l AS (
         |  SELECT z.s, z.v, CAST(sum($BtTerm) AS BIGINT) AS ds FROM (
         |    SELECT f$l.s, f$l.v, f$l.sig AS sigv, b${l + 1}.sig AS sigw,
         |      b${l + 1}.delta AS deltaw
         |    FROM f$l JOIN e ON f$l.v = e.src
         |    JOIN b${l + 1} ON b${l + 1}.s = f$l.s AND b${l + 1}.v = e.dst) z
         |  GROUP BY 1, 2),
         |b$l AS MATERIALIZED (
         |  SELECT f$l.s, f$l.v, f$l.sig, $BtDelta AS delta,
         |    coalesce(ds, CAST(0 AS BIGINT)) AS dsq
         |  FROM f$l LEFT JOIN c$l ON c$l.s = f$l.s AND c$l.v = f$l.v)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to (BtHops - 1))
      .map(l => s"SELECT v, dsq FROM b$l").mkString(" UNION ALL ")
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
       |      UNION ALL SELECT p2, p1 FROM e0),
       |deg AS (SELECT src AS p, count(*) AS deg FROM e GROUP BY 1),
       |srcs AS MATERIALIZED (SELECT p AS s FROM deg ORDER BY deg DESC, p LIMIT $BtSources),
       |f0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM srcs),
       |vis0 AS (SELECT s, v FROM f0),
       |$fwd,
       |b$BtHops AS (SELECT s, v, sig, CAST(0 AS DOUBLE) AS delta FROM f$BtHops),
       |$bwd,
       |score AS (
       |  SELECT v, CAST(sum(dsq) AS BIGINT) AS sc
       |  FROM ($unions) u GROUP BY 1)
       |SELECT CAST(v AS BIGINT) AS part_key,
       |  CAST(sc AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS betweenness
       |FROM score ORDER BY betweenness DESC, part_key LIMIT $BtTopK""".stripMargin
  }

  /** The single-task Brandes replay behind [[betweennessSample]] —
    * bit-identical to the severed distributed loop: per-source BFS
    * with exact BIGINT σ path counts, backward δ accumulation where
    * each term quantizes by the same IEEE
    * floor(σv/σw·(1+δw)·10⁹ + 0.5) and each δ is rebuilt by the same
    * exactly-rounded int64→double division, scores as order-free
    * exact long sums over levels 1..hops−1. Emits every node that
    * appears in those levels for ANY source (including zero scores —
    * the loop's union does too). Factored out for ReplayCalibrate.
    */
  private[graft] def btReplay(es: Array[(Long, Long)], sources: Int,
      hops: Int): Iterator[(Long, Long)] = {
    val m = es.length
    if (m == 0) return Iterator.empty
    val (ids, n, srcI, dstI) = renumber(i => es(i)._1, i => es(i)._2, m)
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(srcI(i)) += 1; i += 1 }
    // CSR adjacency
    val off = new Array[Int](n + 1)
    i = 0; while (i < m) { off(srcI(i) + 1) += 1; i += 1 }
    i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val cur = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) { val s = srcI(i); adj(cur(s)) = dstI(i); cur(s) += 1; i += 1 }
    val srcs = (0 until n).sortBy(j => (-deg(j), ids(j))).take(sources)
    val scoreQ = new Array[Long](n)
    val touched = new Array[Boolean](n)
    val level = new Array[Int](n)
    val sig = new Array[Long](n)
    val delta = new Array[Double](n)
    srcs.foreach { s =>
      java.util.Arrays.fill(level, -1)
      level(s) = 0
      sig(s) = 1L
      val levels = new Array[Array[Int]](hops + 1)
      levels(0) = Array(s)
      var l = 1
      while (l <= hops) {
        val nb = Array.newBuilder[Int]
        val prev = levels(l - 1)
        var fi = 0
        while (fi < prev.length) {
          val v = prev(fi)
          var e = off(v)
          while (e < off(v + 1)) {
            val w = adj(e)
            if (level(w) < 0) { level(w) = l; sig(w) = 0L; nb += w }
            if (level(w) == l) sig(w) += sig(v)
            e += 1
          }
          fi += 1
        }
        levels(l) = nb.result()
        l += 1
      }
      // backward: δ(level hops) = 0, then level by level down to 1
      var fi = 0
      val deepest = levels(hops)
      while (fi < deepest.length) { delta(deepest(fi)) = 0.0; fi += 1 }
      var bl = hops - 1
      while (bl >= 1) {
        val cl = levels(bl)
        fi = 0
        while (fi < cl.length) {
          val v = cl(fi)
          var ds = 0L
          var e = off(v)
          while (e < off(v + 1)) {
            val w = adj(e)
            if (level(w) == bl + 1)
              ds += math.floor(sig(v).toDouble / sig(w).toDouble *
                (1.0 + delta(w)) * 1.0E9 + 0.5).toLong
            e += 1
          }
          delta(v) = ds.toDouble / 1.0E9
          scoreQ(v) += ds
          touched(v) = true
          fi += 1
        }
        bl -= 1
      }
    }
    (0 until n).iterator.filter(touched).map(j => (ids(j), scoreQ(j)))
  }

  // ------------------------------------------------------------- katz_topk

  private val KatzIters = 4
  private val KatzBase = 1000000L // 10^6 fixed-point unit (q6)
  private val KatzTopK = 20
  // α = 1/8, applied as a per-edge floor division (x_u div 8) so every
  // contribution is an exact nonnegative integer and the in-sum is
  // order-independent — the pagerank q12 discipline at q6.

  /** Katz centrality over [[custSuppEdges]] (the ONE shared graph
    * definition [[pagerank]] also reads): x_{t+1}(v) =
    * β + α·Σ_{u→v} x_t(u), the "influence through ALL walks,
    * attenuated by length" centrality — the complement of pagerank's
    * random-surfer stationary mass (Katz rewards being reachable by
    * many short walks even from low-degree sources; pagerank splits
    * each source's vote by its out-degree). Truncated at
    * [[KatzIters]] walk length with β = α-scaled unit mass, exact
    * fixed-point integers end to end: contributions floor-divide
    * per edge, sums accumulate in decimal(38,0), so every engine
    * agrees bit for bit. α must satisfy α·λ_max < 1 for the untruncated
    * series; at the fixed α = 1/8 the truncated magnitudes stay
    * ≤ β·(d̄/8)⁴ — inside long for any realistic degree profile.
    *
    * Scale shape: the fact-sized edge list is built once and cached
    * (three passes: node spine, 4 iterations, final top-k); each
    * iteration is one co-partitioned join + partial-agg groupBy on
    * the edge key — no broadcast of anything node-sized, no
    * driver-side state. Top-k via orderBy+limit (TakeOrdered, never a
    * global sort materialization).
    */
  def katzTopk(spark: SparkSession, dir: String): DataFrame =
    katzTopk(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed-iteration branch for the
    * branch-equality test (the [[pagerank]] convention).
    */
  private[graft] def katzTopk(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // single-task branch (round 18, the pagerank/PPR admission
    // discipline): the whole walk is integer arithmetic (long div 8,
    // exact decimal sums that never exceed int64 after the cast), so
    // the replay is bit-identical by construction and a 4-round walk
    // on a sub-cap graph stops paying ~8 scheduled stages per round
    // (measured 32.7 s at the 30× replica for µs of arithmetic).
    if (!forceLoop) {
      val sess = spark
      import sess.implicits._
      // the shared degree-annotated frame (deg_src unused here) — no
      // private edge cache, no separate probe materialization
      val probe = custSuppEdgesFlat(spark, dir)
      val edgeCount = probe.count()
      if (edgeCount <= replayCap(KatzPerRowUs, KatzIters)) {
        val iters = KatzIters; val base = KatzBase
        return probe.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)]
          .repartition(1)
          .mapPartitions(it => katzReplay(it.toArray, iters, base))
          .toDF("node", "katz_q6")
          .orderBy(col("katz_q6").desc, col("node"))
          .limit(KatzTopK)
      }
    }
    // co-partitioned loop: bake hash(src) partitioning INTO the cached
    // edges once (round 18 — previously the plain cache re-exchanged
    // the EDGE side on every one of the 4 iteration joins; now only
    // the rank state shuffles, the pagerank copartition argument)
    val edges = graft.core.OwnedCaches.own(
      custSuppEdgesFlat(spark, dir).select(col("src"), col("dst"))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("src"))
        .cache())
    // symmetric closure ⇒ every node appears as a dst with in-degree
    // ≥ 1, so the per-iteration groupBy(dst) keeps the full node set
    // and no left-join backfill is needed (the pagerank argument).
    var x = edges.select(col("src").as("node")).distinct()
      .select(col("node"), lit(KatzBase).as("r"))
    for (_ <- 1 to KatzIters) {
      x = edges.join(x.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("r div 8").cast("decimal(38,0)")).as("s"))
        .select(col("dst").as("node"),
          (lit(KatzBase).cast("decimal(38,0)") + col("s")).cast("long").as("r"))
    }
    x.select(col("node"), col("r").as("katz_q6"))
      .orderBy(col("katz_q6").desc, col("node"))
      .limit(KatzTopK)
  }

  /** The single-task Katz replay body — r₀ = β for every node, each
    * round r'(v) = β + Σ_{(u,v)∈E} r(u) div 8, all int64 (the loop's
    * decimal sums re-enter int64 at the cast: total in-mass is
    * bounded by n·β·(4/8 + 16/64 + …) < 2·n·β ≪ 2⁶³), so replay and
    * loop agree bit for bit by construction. Sized by
    * [[KatzPerRowUs]] (ReplayCalibrate).
    */
  private[graft] def katzReplay(es: Array[(Long, Long)],
      iters: Int, base: Long): Iterator[(Long, Long)] = {
    val m = es.length
    val (ids, n, srcI, dstI) = renumber(i => es(i)._1, i => es(i)._2, m)
    // caller invariant (symmetric closure): every node is a src and a
    // dst, so each round's state covers the full node set — dense
    // arrays replace the LongMap tallies (r'(v) = base + Σ r(u) div 8,
    // order-free integer sums, bit-identical to the loop's decimal agg)
    var r = new Array[Long](n)
    java.util.Arrays.fill(r, base)
    var acc = new Array[Long](n)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(acc, 0L)
      var i = 0
      while (i < m) { acc(dstI(i)) += r(srcI(i)) / 8; i += 1 }
      var j = 0
      while (j < n) { acc(j) += base; j += 1 }
      val t = r; r = acc; acc = t
      it += 1
    }
    (0 until n).iterator.map(j => (ids(j), r(j)))
  }

  val katzTopkSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (SELECT e.dst AS node,
         |    $KatzBase + CAST(sum($prev.r // 8) AS BIGINT) AS r
         |  FROM edges e JOIN $prev ON $prev.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    val iters = (1 to KatzIters).map(i => iter(s"k${i - 1}", s"k$i")).mkString(",\n")
    s"""WITH $CustSuppEdgesCte,
       |k0 AS (SELECT DISTINCT src AS node, $KatzBase AS r FROM edges),
       |$iters
       |SELECT node, r AS katz_q6 FROM k$KatzIters
       |ORDER BY katz_q6 DESC, node LIMIT $KatzTopK""".stripMargin
  }

  // ------------------------------------------------- personalized_pagerank

  /** Top-20 supplier affinity by personalized PageRank (random walk
    * with restart) from a single seed customer — the recommendation
    * face of [[pagerankTopk]]: global PageRank asks "who is central",
    * PPR asks "who is central RELATIVE TO this customer". Seed = the
    * lowest-custkey customer in the graph (deterministic); teleport
    * mass restarts AT THE SEED instead of spreading 0.15/N, so rank
    * concentrates in the seed's purchase neighborhood and 2-hop
    * co-purchase affinity ranks suppliers the seed never bought from.
    * Same exact-integer grid as PageRank (rank on the 10¹² grid,
    * per-edge floor division by out-degree, floor(0.85·x) damping) —
    * the oracle replays all 5 iterations as unrolled CTEs, including
    * the union row that injects the seed's restart mass.
    *
    * Scale shape: the state frame starts at ONE row and grows with
    * the reachable set, so early iterations broadcast a tiny frame;
    * the same [[BroadcastNodeCap]] switch as PageRank co-partitions
    * the join once the state could rival the edge list. The damped
    * floor keeps abandoned branches at rank 0 (never re-emitted), so
    * state stays sparse on power-law graphs — the property that makes
    * PPR the scalable personalization primitive (one seed's state
    * visits its neighborhood, not the graph).
    */
  def personalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    personalizedPagerank(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed-iteration branch for the
    * branch-equality test (the [[pagerank]] convention).
    */
  private[graft] def personalizedPagerank(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // degree frame + flat edges session-shared with pagerank/katz
    val deg = custSuppDeg(spark, dir)
    val n = deg.count()
    val copartition = n > BroadcastNodeCap
    val edgesFlat = custSuppEdgesFlat(spark, dir)
    // single-task branch (VERDICT r17 #3, the pagerank admission
    // discipline): a one-seed walk's 5 iterations cost ~12 scheduled
    // jobs in the loop below — for graphs under the MEASURED replay
    // cap the whole walk is microseconds of arithmetic, so replay it
    // in one task, bit-identical to the loop (same long div, same
    // floor(0.85·x) on doubles, same seed-union-sum; the seed itself
    // is derived INSIDE the task — no driver collect at all on this
    // branch).
    if (!forceLoop && n <= replayCap(PprPerRowUs, Iters)) {
      val sess = spark
      import sess.implicits._
      val edgeCount = edgesFlat.count() // materializes the shared frame
      if (edgeCount <= replayCap(PprPerRowUs, Iters)) {
        val iters = Iters; val sc = Scale
        val ranked = edgesFlat
          .select(col("src").cast("long"), col("dst").cast("long"),
            col("deg_src").cast("long"))
          .as[(Long, Long, Long)]
          .repartition(1)
          .mapPartitions(it => pprReplay(it.toArray, iters, sc))
          .toDF("node", "r")
        return ranked.filter(col("node") % 2 === 1)
          .select(expr("(node - 1) div 2").as("supp_key"), col("r").as("rank_q12"))
          .orderBy(col("rank_q12").desc, col("supp_key"))
          .limit(TopK)
      }
      // dense small-n graph over the edge cap: fall through to the
      // loop (the cache stays warm for its iterations)
    }
    // explicit partition count (round 19): exempt from AQE cached-plan
    // coalescing, so the iteration joins keep reusing the baked layout
    val edges = graft.core.OwnedCaches.own(
      (if (copartition)
        edgesFlat.repartition(spark.sessionState.conf.numShufflePartitions, col("src"))
      else edgesFlat).cache())
    edges.count()
    // ONE scalar (the seed id) crosses the driver — the pagerank-N
    // convention; everything else stays distributed
    val seed = edges.agg(min(when(col("src") % 2 === 0, col("src")))).collect()(0).getLong(0)
    val tc = expr(
      s"CAST(floor(CAST(0.15 AS DOUBLE) * CAST($Scale AS DOUBLE)) AS BIGINT)")
    val sess = spark
    import sess.implicits._
    val seedRow = Seq(seed).toDF("node").select(col("node"), tc.as("r"))
    var state = Seq(seed).toDF("node").select(col("node"), lit(Scale).as("r")).cache()
    for (_ <- 1 to Iters) {
      val stateSide = if (copartition) state else broadcast(state)
      val next = edges
        .join(stateSide, edges("src") === state("node"))
        .select(col("dst"), expr("r div deg_src").as("cm"))
        .groupBy(col("dst"))
        .agg(sum(col("cm")).as("contrib"))
        .select(col("dst").as("node"),
          expr("CAST(floor(CAST(0.85 AS DOUBLE) * CAST(contrib AS DOUBLE)) AS BIGINT)").as("r"))
        .unionByName(seedRow)
        .groupBy(col("node")).agg(sum(col("r")).as("r"))
        .cache()
      next.count()
      state.unpersist()
      state = next
    }
    graft.core.OwnedCaches.own(state)
    state.filter(col("node") % 2 === 1)
      .select(expr("(node - 1) div 2").as("supp_key"), col("r").as("rank_q12"))
      .orderBy(col("rank_q12").desc, col("supp_key"))
      .limit(TopK)
  }

  val personalizedPagerankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT node, sum(r) AS r FROM (
         |    SELECT e.dst AS node,
         |      CAST(floor(CAST(0.85 AS DOUBLE) * CAST(sum($prev.r // deg.deg) AS DOUBLE)) AS BIGINT) AS r
         |    FROM edges e JOIN $prev ON $prev.node = e.src JOIN deg ON deg.node = e.src
         |    GROUP BY e.dst
         |    UNION ALL
         |    SELECT s AS node,
         |      CAST(floor(CAST(0.15 AS DOUBLE) * CAST($Scale AS DOUBLE)) AS BIGINT) AS r
         |    FROM seed
         |  ) u GROUP BY node)""".stripMargin
    val iters = (1 to Iters).map(i => iter(s"p${i - 1}", s"p$i")).mkString(",\n")
    s"""WITH $CustSuppEdgesCte,
       |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
       |seed AS (SELECT min(c) AS s FROM pairs),
       |p0 AS (SELECT s AS node, CAST($Scale AS BIGINT) AS r FROM seed),
       |$iters
       |SELECT (node - 1) // 2 AS supp_key, CAST(r AS BIGINT) AS rank_q12
       |FROM p$Iters WHERE node % 2 = 1
       |ORDER BY rank_q12 DESC, supp_key LIMIT $TopK""".stripMargin
  }

  // ------------------------------------------------------ four_cycle_count

  /** Exact 4-cycle census of the co-purchase product graph — the
    * bipartite-style motif that [[triangleCount]] misses (triangles
    * measure direct clustering; 4-cycles measure SHARED-NEIGHBORHOOD
    * redundancy, the "two products bridged by two distinct baskets"
    * pattern that dominates purchase graphs). Identity: each 4-cycle
    * has exactly two diagonals, so C₄ = ½·Σ_{a<b} C(codeg(a,b), 2)
    * over all vertex pairs with codeg ≥ 2 — computed from the same
    * common-neighbor (wedge) aggregation [[linkPredictionJaccard]]
    * ranks, all exact integers (the pair sum is even by the identity,
    * so the final floor-halving is exact division).
    *
    * Scale shape: wedge volume is Σ_w deg(w)², the link-prediction
    * bound — the support threshold keeps the graph affinity-sparse,
    * and the [[cappedWedgeFrame]] hub ceiling bounds the residue to
    * n·cap² (identity below [[WedgeDegreeCap]]; hubs contribute
    * noise wedges, not affinity — dropped share audited by
    * `wedge_cap_audit`). One edge-list pass for degrees, one
    * self-join for wedges, one single-row aggregate out.
    */
  def fourCycleCount(spark: SparkSession, dir: String): DataFrame = {
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    // session-shared wedge census (round 19): `common` is count(*)
    // over the identical capped wedge rows; the node set is exactly
    // the degree frame's key set (every node is a sym-closure source)
    val codeg = wedgeStats(spark, dir).select(col("a"), col("b"), col("common"))
    val cyc = codeg.agg(
      count(lit(1)).as("wedge_pairs"),
      sum(expr("common * (common - 1) div 2")).as("cyc2"))
    val nNodes = supportDeg(spark, dir).agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    cyc.crossJoin(broadcast(nNodes)).crossJoin(broadcast(nEdges))
      .select(col("n_nodes"), col("n_edges"),
        col("wedge_pairs"),
        expr("CAST(cyc2 div 2 AS BIGINT)").as("four_cycles"))
  }

  val fourCycleCountSql: String =
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
       |      UNION ALL SELECT p2, p1 FROM e0),
       |w AS (
       |  SELECT x.dst AS a, y.dst AS b, count(*) AS common
       |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
       |  GROUP BY 1, 2),
       |c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS wedge_pairs,
       |    sum(common * (common - 1) // 2) AS cyc2
       |  FROM w),
       |nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes FROM e),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
       |SELECT n_nodes, n_edges, wedge_pairs,
       |  CAST(cyc2 // 2 AS BIGINT) AS four_cycles
       |FROM c, nn, ne""".stripMargin

  // -------------------------------------------------------- wedge_cap_audit

  /** Cap ladder for the dropped-hub audit: doubling ceilings up to
    * the production [[WedgeDegreeCap]], so the audit carries real
    * nonzero drop shares at ANY scale (tiny caps bind on the oracle
    * graph, the production cap binds only on hub-heavy corpora) —
    * a flat "0 dropped at cap 1024" row alone would hash green
    * while saying nothing.
    */
  private[graft] val WedgeCapLadder: Seq[Long] = Seq(4L, 8L, 16L, 64L, WedgeDegreeCap)

  /** Dropped-hub share of the [[cappedWedgeFrame]] degree-cap route,
    * per ladder cap (round 18, VERDICT r17 #4): for each ceiling,
    * how many wedge CENTERS exceed it and what fraction of the total
    * wedge bound Σ_w deg(w)·(deg(w)−1)/2 their wedges carry — the
    * number that says what the capped link predictors / 4-cycle
    * census actually gave up, BEFORE any pair join pays for the
    * survivors. The production-row invariant (`dropped_share` = 0 at
    * [[WedgeDegreeCap]] on affinity-sparse graphs) is the license
    * for the equality-below-cap route; a nonzero production row is
    * the signal to inspect the hub products. All exact integers +
    * one guarded divide.
    *
    * Scale shape: one degree aggregate over the shared support-edge
    * frame, then a 5-literal spine of conditional sums — node-bounded,
    * never wedge-bounded (the audit must stay cheaper than the work
    * it gates).
    */
  def wedgeCapAudit(spark: SparkSession, dir: String): DataFrame = {
    // session-shared degree frame (round 19)
    val deg = supportDeg(spark, dir)
    val perCap = WedgeCapLadder.flatMap { c => Seq(
      sum(when(col("deg") > c, 1L).otherwise(0L)).as(s"hubs_$c"),
      sum(when(col("deg") > c, expr("deg * (deg - 1) div 2"))
        .otherwise(lit(0L))).as(s"drop_$c"))
    }
    val aggCols = Seq(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("wb")) ++ perCap
    val m = deg.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = WedgeCapLadder.map(c =>
      s"CAST($c AS BIGINT), n_nodes, wb, hubs_$c, drop_$c").mkString(", ")
    m.selectExpr(s"stack(${WedgeCapLadder.size}, $stackArgs)" +
        " AS (cap, n_nodes, wedge_bound, n_hubs, wedge_bound_dropped)")
      .selectExpr("cap", "n_nodes", "wedge_bound", "n_hubs",
        "wedge_bound_dropped",
        """CASE WHEN wedge_bound = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(wedge_bound_dropped AS DOUBLE) / CAST(wedge_bound AS DOUBLE)
          |END AS dropped_share""".stripMargin)
      .orderBy("cap")
  }

  val wedgeCapAuditSql: String = {
    val unions = WedgeCapLadder.map(c =>
      s"""SELECT CAST($c AS BIGINT) AS cap, n_nodes, wedge_bound,
         |  CAST(hubs_$c AS BIGINT) AS n_hubs,
         |  CAST(drop_$c AS BIGINT) AS wedge_bound_dropped,
         |  CASE WHEN wedge_bound = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(drop_$c AS DOUBLE) / CAST(wedge_bound AS DOUBLE)
         |  END AS dropped_share
         |FROM m""".stripMargin).mkString("\nUNION ALL ")
    val perCap = WedgeCapLadder.map(c =>
      s"""sum(CASE WHEN deg > $c THEN 1 ELSE 0 END) AS hubs_$c,
         |    sum(CASE WHEN deg > $c THEN deg * (deg - 1) // 2 ELSE 0 END) AS drop_$c""".stripMargin)
      .mkString(",\n    ")
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |d AS (
       |  SELECT p, count(*) AS deg FROM (
       |    SELECT p1 AS p FROM e0 UNION ALL SELECT p2 FROM e0) u
       |  GROUP BY 1),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedge_bound,
       |    $perCap
       |  FROM d)
       |$unions
       |ORDER BY cap""".stripMargin
  }

  // ------------------------------------------------- attribute_assortativity

  /** Newman's assortativity coefficient for a CATEGORICAL node
    * attribute on the customer->supplier trade graph: do customers
    * buy from suppliers of their own nation more than the margins
    * predict? Edges are distinct (customer, supplier) trading pairs;
    * the attribute mixing matrix e_ij (customer nation i, supplier
    * nation j) reduces to four exact integer moments — E (edges),
    * Tr (same-nation edges), and S = Sum_i A_i*B_i of the margin
    * products — and r = (E*Tr - S)/(E^2 - S). The categorical
    * companion to [[degreeAssortativity]] (numeric, Pearson-on-
    * degrees): a graph can be degree-neutral yet strongly
    * nation-assortative, and the 100 TB layout question ("does
    * partitioning by nation co-locate most edges?") is THIS number.
    *
    * Scale shape: one orders join lineitem pass to distinct pairs
    * (shuffle on the pair key), two dim joins, then a <=625-cell
    * mixing grid; margins and the product sum are grid-sized. The
    * margin product uses the (19,0)xint width trick; E*Tr and E^2
    * combine as individually-cast doubles (cuped convention).
    */
  def attributeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the session-shared distinct (customer, supplier) pair frame
    // (round 19): identical fact join + distinct as the centrality
    // family's custSuppPairs — one build per session
    val pairs = custSuppPairs(spark, dir)
      .select(col("c").as("o_custkey"), col("s").as("l_suppkey"))
    val cells = pairs
      .join(t.customer.select(col("c_custkey"), col("c_nationkey").as("ni")),
        col("o_custkey") === col("c_custkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey").as("nj")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("ni"), col("nj")).agg(count(lit(1)).as("n"))
    val cellsC = graft.core.OwnedCaches.own(cells.cache())
    val tot = cellsC.agg(sum(col("n")).as("e_tot"),
      sum(when(col("ni") === col("nj"), col("n")).otherwise(0L)).as("tr"))
    val ra = cellsC.groupBy(col("ni").as("k")).agg(sum(col("n")).as("a"))
    val cb = cellsC.groupBy(col("nj").as("k")).agg(sum(col("n")).as("b"))
    val sab = ra.join(cb, "k")
      .agg(sum(expr("CAST(a AS DECIMAL(19,0)) * b")).as("sab"))
    tot.crossJoin(broadcast(sab))
      .selectExpr("CAST(e_tot AS BIGINT) AS n_edges",
        "CAST(tr AS BIGINT) AS n_same_nation",
        "CAST(tr AS DOUBLE) / CAST(e_tot AS DOUBLE) AS share_same_nation",
        s"$AttrAssortR AS assortativity_r")
  }

  private val AttrAssortR: String =
    "(CASE WHEN CAST(e_tot AS DECIMAL(19,0)) * e_tot = sab THEN CAST(0 AS DOUBLE) " +
      "ELSE (CAST(e_tot AS DOUBLE) * CAST(tr AS DOUBLE) - CAST(sab AS DOUBLE)) " +
      "/ (CAST(e_tot AS DOUBLE) * CAST(e_tot AS DOUBLE) - CAST(sab AS DOUBLE)) END)"

  lazy val attributeAssortativitySql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey, l_suppkey
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |cells AS (
       |  SELECT c.c_nationkey AS ni, s.s_nationkey AS nj, CAST(count(*) AS BIGINT) AS n
       |  FROM e JOIN customer c ON o_custkey = c_custkey
       |  JOIN supplier s ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS e_tot,
       |    CAST(sum(CASE WHEN ni = nj THEN n ELSE 0 END) AS BIGINT) AS tr
       |  FROM cells),
       |ra AS (SELECT ni AS k, CAST(sum(n) AS BIGINT) AS a FROM cells GROUP BY 1),
       |cb AS (SELECT nj AS k, CAST(sum(n) AS BIGINT) AS b FROM cells GROUP BY 1),
       |sp AS (
       |  SELECT sum(CAST(a AS DECIMAL(19,0)) * b) AS sab
       |  FROM ra JOIN cb USING (k))
       |SELECT e_tot AS n_edges, tr AS n_same_nation,
       |  CAST(tr AS DOUBLE) / CAST(e_tot AS DOUBLE) AS share_same_nation,
       |  $AttrAssortR AS assortativity_r
       |FROM tot, sp""".stripMargin

  // ---------------------------------------------- four_cycle_clustering

  /** Global 4-cycle (rectangle) clustering of the co-purchase graph:
    * what share of 3-edge paths close into a rectangle — the SQUARE
    * analog of the triangle transitivity `graph_modularity`'s family
    * reads, and the structure signal for bipartite-ish affinity
    * graphs where triangles are scarce by construction. coef =
    * 4*C4 / P3 with P3 = Sum_{(u,v) in E}(d_u-1)(d_v-1) - 3*C3
    * (3-paths), C4 from the capped wedge census ([[fourCycleCount]]'s
    * frame — the cap is observable via `wedge_cap_audit` and inert on
    * affinity-sparse graphs), and C3 recovered FREE from the same
    * codegree frame (Sum over edges of common(u,v) = 3*C3). Every
    * count is an exact integer; 4*C4 <= P3 makes the coefficient a
    * true share.
    *
    * Scale shape: one wedge census (degree-capped, the n*cap^2
    * bound), one degree aggregate, two grid joins — nothing beyond
    * what the 4-cycle census already pays.
    */
  def fourCycleClustering(spark: SparkSession, dir: String): DataFrame = {
    // session-shared frames throughout (round 19): und IS a persisted
    // shared frame already (the extra per-run OwnedCaches copies of
    // it and of the codegree frame bought nothing), and the wedge
    // census/degree frames come from the shared family layer
    val und = supportEdges(spark, dir).select(col("p1"), col("p2"))
    val codeg = wedgeStats(spark, dir).select(col("a"), col("b"), col("common"))
    val cyc = codeg.agg(
      coalesce(sum(expr("common * (common - 1) div 2")), lit(0L)).as("cyc2"))
    val triEdge = codeg
      .join(und, codeg("a") === und("p1") && codeg("b") === und("p2"))
      .agg(coalesce(sum(col("common")), lit(0L)).as("t3"))
    val deg = supportDeg(spark, dir)
    val p3raw = und
      .join(deg.select(col("p").as("p1"), col("deg").as("du")), "p1")
      .join(deg.select(col("p").as("p2"), col("deg").as("dv")), "p2")
      .agg(coalesce(sum(expr("CAST((du - 1) * (dv - 1) AS DECIMAL(19,0))")),
        lit(0L).cast("decimal(19,0)")).as("p3raw"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    cyc.crossJoin(broadcast(triEdge)).crossJoin(broadcast(p3raw))
      .crossJoin(broadcast(nEdges))
      .selectExpr("CAST(n_edges AS BIGINT) AS n_edges",
        "CAST(t3 div 3 AS BIGINT) AS triangles",
        "CAST(cyc2 div 2 AS BIGINT) AS four_cycles",
        "CAST(p3raw - t3 AS BIGINT) AS p3_paths",
        s"$C4CoefExpr AS c4_coefficient")
  }

  // p3 = p3raw - 3*C3 = p3raw - t3 (t3 already counts each triangle 3x)
  private val C4CoefExpr: String =
    "(CASE WHEN p3raw - t3 <= 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(4 AS DOUBLE) * CAST(cyc2 div 2 AS DOUBLE) " +
      "/ CAST(p3raw - t3 AS DOUBLE) END)"

  lazy val fourCycleClusteringSql: String =
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
       |      UNION ALL SELECT p2, p1 FROM e0),
       |w AS MATERIALIZED (
       |  SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
       |  GROUP BY 1, 2),
       |c AS (SELECT CAST(coalesce(sum(common * (common - 1) // 2), 0) AS BIGINT) AS cyc2 FROM w),
       |t3 AS (
       |  SELECT CAST(coalesce(sum(common), 0) AS BIGINT) AS t3
       |  FROM w JOIN e0 ON a = p1 AND b = p2),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |p3 AS (
       |  SELECT coalesce(sum(CAST((du.d - 1) * (dv.d - 1) AS DECIMAL(19,0))),
       |    CAST(0 AS DECIMAL(19,0))) AS p3raw
       |  FROM e0 JOIN dg du ON e0.p1 = du.src JOIN dg dv ON e0.p2 = dv.src),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
       |SELECT n_edges, CAST(t3 // 3 AS BIGINT) AS triangles,
       |  CAST(cyc2 // 2 AS BIGINT) AS four_cycles,
       |  CAST(p3raw - t3 AS BIGINT) AS p3_paths,
       |  ${C4CoefSqlExpr} AS c4_coefficient
       |FROM c, t3, p3, ne""".stripMargin

  private val C4CoefSqlExpr: String =
    "(CASE WHEN p3raw - t3 <= 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(4 AS DOUBLE) * CAST(cyc2 // 2 AS DOUBLE) " +
      "/ CAST(p3raw - t3 AS DOUBLE) END)"

  // ---------------------------------------------- eigenvector_centrality

  private val EigenRounds = 4
  private val EigenTopK = 15

  /** Eigenvector centrality by INTEGER power iteration: x_k = A^k 1
    * counts the k-step walks out of each node, so four exact
    * decimal-sum join rounds give the centrality ranking with zero
    * float iterations (the float-free analog of [[hitsScores]]'s
    * normalized loop — convergence to the principal eigenvector is
    * the same power-method argument, and at k=4 the ranking is
    * already stable on affinity graphs); the Rayleigh-style ratio
    * lambda_hat = (1'A^4 1)/(1'A^3 1) estimates the spectral radius.
    * Only the final share/ratio divisions run in double space.
    *
    * Scale shape: [[EigenRounds]] edge-join + partial-agg rounds on
    * the hash(src)-keyed edge list (the distributed-katz shape, one
    * exchange per round), then a top-k. Walk counts are exact
    * DECIMAL(38,0) — overflow-free while max-degree^4 * n < 10^38.
    */
  def eigenvectorCentrality(spark: SparkSession, dir: String): DataFrame =
    eigenvectorCentrality(spark, dir, forceLoop = false)

  /** `forceLoop` pins the distributed-iteration branch for the
    * branch-equality test (the [[pagerank]]/[[katzTopk]] convention).
    */
  private[graft] def eigenvectorCentrality(spark: SparkSession, dir: String,
      forceLoop: Boolean): DataFrame = {
    // session-shared closure (round 19)
    val cached = symEdges(spark, dir)
    // single-task branch (the katz admission discipline): 4 join+agg
    // rounds on an affinity-sized graph are pure stage latency
    // (measured 3.4 s shared at sf0.1 for µs of arithmetic). Replay
    // admission needs the walk counts to FIT int64 — edge count under
    // the measured cap AND n·Δ⁴ under 2⁶² (the loop's decimal(38,0)
    // never overflows, so past that bound only the loop is correct).
    if (!forceLoop) {
      val sess = spark
      import sess.implicits._
      val edgeCount = cached.count()
      if (edgeCount <= replayCap(EigencPerRowUs, EigenRounds)) {
        val dstats = cached.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .agg(max(col("d")).as("dm"), count(lit(1)).as("n")).collect()(0)
        val (dm, n) = (dstats.getLong(0), dstats.getLong(1))
        if (math.pow(dm.toDouble, EigenRounds) * n < 4.0e18) {
          val rounds = EigenRounds
          return cached.select(col("src").cast("long"), col("dst").cast("long"))
            .as[(Long, Long)]
            .repartition(1)
            .mapPartitions(it => eigenCentReplay(it.toArray, rounds))
            .toDF("p", "w", "s3v", "s4v")
            .orderBy(col("w").desc, col("p"))
            .limit(EigenTopK)
            .selectExpr("CAST(p AS BIGINT) AS part",
              "CAST(w AS BIGINT) AS walks4",
              "CAST(w AS DOUBLE) / CAST(s4v AS DOUBLE) AS score",
              "CAST(s4v AS DOUBLE) / CAST(s3v AS DOUBLE) AS lambda_hat")
        }
      }
    }
    var x = cached.select(col("src").as("p")).distinct()
      .withColumn("w", lit(1L).cast("decimal(38,0)"))
    var s3: DataFrame = null
    for (k <- 1 to EigenRounds) {
      x = cached.join(x, cached("dst") === x("p"))
        .groupBy(cached("src").as("q"))
        .agg(sum(col("w")).as("w"))
        .select(col("q").as("p"), col("w"))
      if (k == EigenRounds - 1)
        s3 = x.agg(sum(col("w")).as("s3"))
    }
    val xC = graft.core.OwnedCaches.own(x.cache())
    val s4 = xC.agg(sum(col("w")).as("s4"))
    xC.crossJoin(broadcast(s4)).crossJoin(broadcast(s3))
      .orderBy(col("w").desc, col("p"))
      .limit(EigenTopK)
      .selectExpr("CAST(p AS BIGINT) AS part",
        "CAST(w AS BIGINT) AS walks4",
        "CAST(w AS DOUBLE) / CAST(s4 AS DOUBLE) AS score",
        "CAST(s4 AS DOUBLE) / CAST(s3 AS DOUBLE) AS lambda_hat")
  }

  // ReplayCalibrate (round 18): 0.10–0.20 µs/edge·round (one LongMap
  // probe + add per directed edge per round; the upper end is the
  // 2M-edge cache-miss regime) — 0.20 with margin
  private[graft] val EigencPerRowUs = 0.20

  /** The single-task A⁴·1 replay — x₀ ≡ 1, each round
    * x'(u) = Σ_{(u,v)∈E} x(v), all int64 (admission pre-checks
    * n·Δ⁴ < 2⁶²), returning every node with its walk count and the
    * round-3/round-4 totals (so score and λ̂ need no second pass).
    * Bit-identical to the loop's decimal sums wherever admitted.
    */
  private[graft] def eigenCentReplay(es: Array[(Long, Long)],
      rounds: Int): Iterator[(Long, Long, Long, Long)] = {
    var x = scala.collection.mutable.LongMap.empty[Long]
    es.foreach { case (src, _) => if (!x.contains(src)) x.update(src, 1L) }
    var s3 = 0L
    for (k <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      es.foreach { case (src, dst) =>
        next.update(src, next.getOrElse(src, 0L) + x(dst))
      }
      x = next
      if (k == rounds - 1) s3 = x.values.sum
    }
    val s4 = x.values.sum
    x.iterator.map { case (p, w) => (p, w, s3, s4) }
  }

  lazy val eigenvectorCentralitySql: String =
    s"""WITH b AS (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
       |  FROM lineitem GROUP BY 1),
       |pr AS (
       |  SELECT u1.p1, u2.p2
       |  FROM (SELECT l_orderkey AS o, unnest(parts) AS p1 FROM b) u1
       |  JOIN (SELECT l_orderkey AS o, unnest(parts) AS p2 FROM b) u2 USING (o)
       |  WHERE u1.p1 < u2.p2),
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM pr GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
       |e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
       |      UNION ALL SELECT p2, p1 FROM e0),
       |x0 AS (SELECT DISTINCT src AS p, CAST(1 AS DECIMAL(38,0)) AS w FROM e),
       |x1 AS (SELECT e.src AS p, CAST(sum(w) AS DECIMAL(38,0)) AS w
       |       FROM e JOIN x0 ON e.dst = x0.p GROUP BY 1),
       |x2 AS (SELECT e.src AS p, CAST(sum(w) AS DECIMAL(38,0)) AS w
       |       FROM e JOIN x1 ON e.dst = x1.p GROUP BY 1),
       |x3 AS (SELECT e.src AS p, CAST(sum(w) AS DECIMAL(38,0)) AS w
       |       FROM e JOIN x2 ON e.dst = x2.p GROUP BY 1),
       |x4 AS (SELECT e.src AS p, CAST(sum(w) AS DECIMAL(38,0)) AS w
       |       FROM e JOIN x3 ON e.dst = x3.p GROUP BY 1),
       |s3 AS (SELECT sum(w) AS s3 FROM x3),
       |s4 AS (SELECT sum(w) AS s4 FROM x4)
       |SELECT CAST(p AS BIGINT) AS part, CAST(w AS BIGINT) AS walks4,
       |  CAST(w AS DOUBLE) / CAST(s4 AS DOUBLE) AS score,
       |  CAST(s4 AS DOUBLE) / CAST(s3 AS DOUBLE) AS lambda_hat
       |FROM x4, s3, s4
       |ORDER BY w DESC, p LIMIT $EigenTopK""".stripMargin
}
