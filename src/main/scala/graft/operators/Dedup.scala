package graft.operators

import graft.core.Tables
import graft.functions.MinHashSig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication suite (SURVEY.md §2 F) — the operators a
  * 100 TB training-data pipeline runs before anything else.
  *
  * Scale design: every variant avoids the O(n²) cross product.
  *   - exact: one hash-groupBy shuffle on md5(text).
  *   - ngram-jaccard: candidate pairs come from a PPJoin-style prefix
  *     index equi-join (shuffle keyed by shingle hash), then exact
  *     Jaccard on the pair counts — work is proportional to
  *     actually-colliding pairs.
  *   - minhash-LSH: fixed-width signatures computed map-side by a
  *     scalar expression (zero shuffle), candidates from an equi-join
  *     on (band, band-key) buckets — the classic sub-quadratic path.
  *   - simhash: 63-bit signature map-side (scalar expression),
  *     candidates from Manku-style block tables whose key width grows
  *     with corpus size (hamming ≤ 3 ⇒ the 3 dirty bits touch ≤ 3 of
  *     the b blocks, so the pair collides in the table keyed on the
  *     untouched b−3 blocks).
  *
  * The minhash/simhash hash family is MD5-word based (see
  * `graft.functions.Md5Words`), so both sketches are bit-reproducible
  * in the DuckDB oracles — the generated SQL below re-derives the
  * same signatures from `md5()` hex.
  */
object Dedup {

  /** Exact dedup via content-hash groupBy: one row per distinct text,
    * keeper = min doc_id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy("text_hash")

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  // ---- shared oracle CTE fragments (tokenization contract shared with
  // graft.functions.TokenShingles — see its Scaladoc) ----

  private val ToksCte =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents)""".stripMargin

  private val ShCte =
    """sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
      |    ELSE [array_to_string(t, ' ')] END) AS sd
      |  FROM toks)""".stripMargin

  /** Distinct 3-gram shingle set per doc via the one-pass
    * TokenShingles expression, cached: every dedup operator reuses
    * this set 3–5 times in one plan (prefix index, signature build,
    * exact verification), and recomputing the shingling dominated the
    * runtime before caching. Deliberately SESSION-SHARED, not
    * [[graft.core.OwnedCaches]]-owned — twelve dedup queries reuse
    * this one frame, exactly as a warehouse session would; since
    * round 13 the sharing goes through [[graft.core.SharedFrames]],
    * which releases it after its last recorded reader instead of
    * holding it until the session dies.
    */
  private def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    graft.core.SharedFrames.get(spark, "dedup.shingles", dir) {
      Tables(spark, dir).documents
        .select(col("doc_id"), call_function("graft_shingles", col("text"), lit(3)).as("sh"))
    }
  }

  /** Per-doc sorted xxhash64 shingle fingerprints (8-byte set
    * representation): the prefix index slices this array directly and
    * pair verification merge-walks two sorted long arrays — no string
    * keys leave the map side. Session-shared like [[shingleSets]]:
    * the candidate join reads it twice and verification twice more,
    * across eleven queries.
    */
  private def hashedSets(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.SortedHashes.register(spark)
    graft.functions.SortedIntersectCount.register(spark)
    graft.core.SharedFrames.get(spark, "dedup.hashed", dir) {
      shingleSets(spark, dir)
        .select(col("doc_id"), call_function("graft_sorted_hashes", col("sh")).as("hv"))
    }
  }

  /** Exact n-gram Jaccard near-dup pairs (τ = 0.5), candidates blocked
    * by shared shingle. Output is ids + exact set stats, so the oracle
    * is integer-exact.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // PPJoin-style prefix filtering: index only each doc's first
    // ⌊(1-τ)·|A|⌋+1 shingles under a global total order — any pair
    // with J ≥ τ must collide inside those prefixes (standard prefix
    // lemma), so candidate generation skips most of the pair
    // explosion while remaining EXACT (verification below computes
    // true Jaccard). Two candidate-volume cuts on top of the plain
    // prefix join:
    //   - positional filter: at the pair's FIRST (smallest) colliding
    //     shingle, every common shingle sorts ≥ it, so the overlap is
    //     bounded by min(na−pa, nb−pb); J ≥ τ needs overlap ≥
    //     ⌈(na+nb)/3⌉ — rows that can't reach it are dropped at join
    //     time (a true pair always survives via its first collision).
    //   - the join key is xxhash64(shingle), not the string: the
    //     shuffle carries 8-byte keys; hash collisions can only ADD
    //     candidates, which the exact verification then rejects.
    val hs = hashedSets(spark, dir)
    // both sides of the candidate self-join read this; shared with
    // dedup_method_agreement's ngram leg
    val prefix = graft.core.SharedFrames.get(spark, "dedup.ngramPrefix", dir) {
      hs.select(col("doc_id"), size(col("hv")).as("nsh"),
        posexplode(slice(col("hv"), lit(1),
          floor(size(col("hv")) / 2) + 1)).as(Seq("p", "s")))
    }
    val candidates = prefix.toDF("i", "na", "pa", "hs1")
      .join(prefix.toDF("j", "nb", "pb", "hs2"),
        col("hs1") === col("hs2") && col("i") < col("j") &&
          col("na") <= lit(2) * col("nb") && col("nb") <= lit(2) * col("na") &&
          expr("least(na - pa, nb - pb) >= (na + nb + 2) div 3"))
      .select(col("i"), col("j")).distinct()
    val jac = col("n_common").cast("double") / col("n_union").cast("double")
    // verification joins are plain shuffle joins on doc id: the
    // fingerprint table is CORPUS-sized (one row per doc), so a static
    // broadcast of it is an executor OOM at 100 TB. Left unhinted, the
    // join shuffles only the (tiny) candidate id stream plus the
    // fingerprints — and AQE still promotes to broadcast at small SF
    // where the table genuinely fits.
    candidates
      .join(hs.toDF("i", "hv_i"), "i")
      .join(hs.toDF("j", "hv_j"), "j")
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        call_function("graft_sorted_intersect", col("hv_i"), col("hv_j")).as("n_common"),
        (size(col("hv_i")) + size(col("hv_j"))).as("szsum"))
      .withColumn("n_union", col("szsum") - col("n_common"))
      .drop("szsum")
      .withColumn("jaccard", jac)
      .filter(jac >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $ToksCte,
      |$ShCte,
      |ex AS (SELECT doc_id, len(sd) AS nsh, unnest(sd) AS s FROM sh),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common,
      |         any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |    AND a.nsh <= 2 * b.nsh AND b.nsh <= 2 * a.nsh
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(n_common AS INTEGER) AS n_common,
      |  CAST(na + nb - n_common AS INTEGER) AS n_union,
      |  CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
      |FROM p
      |WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  private val NumPerms = MinHashSig.NumPerms
  private val BandSize = 4 // 16 bands × 4 rows
  private val NumBands = NumPerms / BandSize

  /** MinHash signatures (map-side scalar expression) + LSH banding →
    * candidate pairs → exact Jaccard verification (τ = 0.5). The
    * MD5-anchored hash family is reproduced verbatim in the generated
    * oracle SQL, so this is value-checked end to end in DuckDB.
    */
  def dedupMinHashLsh(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val sets = shingleSets(spark, dir)
    // signature = one scalar-expression pass per doc (no explode, no
    // per-perm aggregation shuffle); band key = the band's 4 signature
    // values comma-joined (string equality — exactly the oracle's key)
    val sig = sets.select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    // both sides of the bucket self-join read this; shared across the
    // queries that run the LSH path
    val banded = graft.core.SharedFrames.get(spark, "dedup.lshBanded", dir) {
      sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
          b => concat_ws(",",
            transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
              h => h.cast("string")))))
          .as(Seq("band", "band_key")))
    }
    val candidates = banded.toDF("i", "band_i", "bk")
      .join(banded.toDF("j", "band_j", "bk2"),
        col("band_i") === col("band_j") && col("bk") === col("bk2") &&
          col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    // exact verification only on candidates: merge-walk intersection
    // of the two docs' sorted hash fingerprints (candidate volume ≪
    // n², so this is cheap and avoids a second full shingle self-join)
    val hv = hashedSets(spark, dir)
    val jac = col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
    // plain shuffle joins (no broadcast hint): hv is corpus-sized —
    // see the dedupNgramJaccard verification comment
    candidates
      .join(hv.toDF("i", "hv_i"), "i")
      .join(hv.toDF("j", "hv_j"), "j")
      .select(col("i"), col("j"),
        call_function("graft_sorted_intersect", col("hv_i"), col("hv_j")).as("n_common"),
        size(col("hv_i")).as("na"), size(col("hv_j")).as("nb"))
      .withColumn("jaccard", jac)
      .filter(jac >= 0.5)
      .select(col("i").as("doc_a"), col("j").as("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle CTE chain re-deriving the MD5-anchored minhash pairs in
    * DuckDB: base hash = first md5 word mod P, the 64 affine perms are
    * baked in from [[MinHashSig.permConsts]], bands/verification mirror
    * the Spark plan. Shared by the minhash and clusters oracles.
    */
  private lazy val minHashPairCtes: String = {
    val P = MinHashSig.P
    val mins = MinHashSig.permConsts.zipWithIndex.map { case ((a, b), p) =>
      s"min(($a*h0+$b)%$P) AS m$p"
    }.mkString(",\n    ")
    val bands = (0 until NumBands).map { bd =>
      val key = (0 until BandSize).map(r => s"m${bd * BandSize + r}::VARCHAR")
        .mkString("||','||")
      s"SELECT doc_id, $bd AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$ToksCte,
      |$ShCte,
      |ex AS (SELECT doc_id, unnest(sd) AS s FROM sh),
      |hb AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT % $P AS h0 FROM ex),
      |sig AS (SELECT doc_id,
      |    $mins
      |  FROM hb GROUP BY doc_id),
      |band AS (
      |  $bands),
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |         FROM band a JOIN band b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
      |ver AS (SELECT i AS doc_a, j AS doc_b,
      |          len(list_intersect(sa.sd, sb.sd)) AS n_common,
      |          len(sa.sd) AS na, len(sb.sd) AS nb
      |        FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j),
      |mh_pairs AS (SELECT doc_a, doc_b,
      |          CAST(n_common AS DOUBLE)/(na+nb-n_common) AS jaccard
      |        FROM ver WHERE CAST(n_common AS DOUBLE)/(na+nb-n_common) >= 0.5)""".stripMargin
  }

  /** Sketch-accuracy audit: for every LSH candidate pair, the
    * MinHash-ESTIMATED Jaccard (matching signature positions / 64)
    * next to the exact Jaccard and their absolute error — the
    * calibration table a pipeline owner reads before trusting the
    * sketch at a new τ. Runs on candidates only (sub-quadratic, same
    * banding as the dedup path). The positional signature comparison
    * is 64 STATICALLY-UNROLLED equality terms (codegen'd), not an
    * interpreted per-element lambda; both ratios are int/int divisions
    * so even the error column is bit-identical in the oracle.
    */
  def minhashEstimateAudit(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val sets = shingleSets(spark, dir)
    val sig = sets.select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "band_key")))
    val candidates = banded.toDF("i", "band_i", "bk")
      .join(banded.toDF("j", "band_j", "bk2"),
        col("band_i") === col("band_j") && col("bk") === col("bk2") &&
          col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    val hv = hashedSets(spark, dir)
    val matches = (0 until NumPerms).map(p =>
      when(element_at(col("sig_i"), p + 1) === element_at(col("sig_j"), p + 1), 1)
        .otherwise(0)).reduce(_ + _)
    candidates
      .join(sig.toDF("i", "sig_i"), "i")
      .join(sig.toDF("j", "sig_j"), "j")
      .join(hv.toDF("i", "hv_i"), "i")
      .join(hv.toDF("j", "hv_j"), "j")
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        matches.cast("int").as("n_sig_matches"),
        call_function("graft_sorted_intersect", col("hv_i"), col("hv_j")).as("n_common"),
        size(col("hv_i")).as("na"), size(col("hv_j")).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("n_sig_matches"),
        (col("n_sig_matches").cast("double") / NumPerms).as("jaccard_est"),
        (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard_exact"))
      .withColumn("abs_err", abs(col("jaccard_est") - col("jaccard_exact")))
      .orderBy("doc_a", "doc_b")
  }

  lazy val minhashEstimateAuditSql: String = {
    val eqTerms = (0 until NumPerms)
      .map(p => s"(CASE WHEN sa.m$p=sb.m$p THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $minHashPairCtes,
      |est AS (SELECT c.i AS doc_a, c.j AS doc_b, $eqTerms AS nm
      |        FROM cand c JOIN sig sa ON sa.doc_id = c.i
      |                    JOIN sig sb ON sb.doc_id = c.j)
      |SELECT e.doc_a, e.doc_b, CAST(nm AS INTEGER) AS n_sig_matches,
      |  CAST(nm AS DOUBLE)/$NumPerms AS jaccard_est,
      |  CAST(n_common AS DOUBLE)/(na+nb-n_common) AS jaccard_exact,
      |  abs(CAST(nm AS DOUBLE)/$NumPerms -
      |      CAST(n_common AS DOUBLE)/(na+nb-n_common)) AS abs_err
      |FROM est e JOIN ver v ON e.doc_a = v.doc_a AND e.doc_b = v.doc_b
      |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  lazy val dedupMinHashLshSql: String =
    s"""WITH $minHashPairCtes
      |SELECT doc_a, doc_b, jaccard FROM mh_pairs ORDER BY doc_a, doc_b""".stripMargin

  /** Duplicate-group clustering: connected components over the
    * near-dup pair graph (union of a doc's transitive duplicates),
    * via iterative min-label propagation — each round is one
    * join+groupBy, converging in O(graph diameter) rounds (near-dup
    * components are tiny cliques, so 2-3 rounds in practice; capped
    * defensively). The driver loop only exchanges a converged flag —
    * no graph data ever reaches the driver. Oracled: the DuckDB side
    * computes the same components with a recursive CTE over the same
    * minhash pair set.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    // pairs come from the minhash-LSH path — the candidate generator
    // that survives 100 TB (sub-quadratic banding)
    labelPropagate(dedupMinHashLsh(spark, dir).select(col("doc_a"), col("doc_b")))

  /** Below this many near-dup pairs the graph fits one task: a single
    * union-find pass over the pair list computes exact min-label
    * components in ONE job (the iterative loop spent 3 broadcast
    * collects + 1 count per round × O(log diameter) rounds of pure
    * local stage latency — ~7 s at sf0.1 for 11 rounds of sub-ms
    * work). Above the cap — a 100 TB web corpus easily clears it —
    * the propagation loop runs fully partitioned: shuffle joins keyed
    * by doc id, no repartition(1) straggler, no label broadcast.
    */
  private[graft] val SmallGraphPairCap = 1000000L

  /** Min-label connected components over an undirected pair list,
    * layout-selected by observed pair count (see
    * [[SmallGraphPairCap]]): single-task union-find below the cap,
    * iterative pointer-doubling min-label propagation above it.
    * `forcePartitioned` pins the at-scale branch for tests. Both
    * branches return each node labeled with its component's minimum
    * id (union-find attaches the larger root under the smaller, so a
    * root IS its component min) — the recursive-CTE oracle verifies
    * the fixed point either way.
    */
  private[graft] def labelPropagate(pairList: DataFrame,
      forcePartitioned: Boolean = false): DataFrame = {
    val counted = graft.core.OwnedCaches.own(pairList.cache())
    // ONE scalar crosses the driver (the layout decision), same as the
    // converged flag below — no graph data ever reaches the driver
    val small = !forcePartitioned && counted.count() <= SmallGraphPairCap
    val idType = pairList.schema("doc_a").dataType
    val integralIds = idType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (small && integralIds) {
      // ≤ SmallGraphPairCap pairs on one executor task: union-find with
      // path compression, the one other legitimate mapPartitions use
      // beside the multimodal decode contract (genuinely imperative
      // per-partition logic; no DataFrame formulation runs it in one
      // pass). The graph never touches the driver — the single task
      // holds it, exactly like the old repartition(1) rounds did.
      val sess = pairList.sparkSession
      import sess.implicits._
      val labeled = counted
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x // path compression: point the walked chain at the root
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          val nodes = scala.collection.mutable.LongMap.empty[Unit]
          it.foreach { case (a, b) =>
            nodes.update(a, ()); nodes.update(b, ())
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          nodes.keysIterator.map(x => (x, find(x)))
        }
        .toDF("doc_id", "cluster_id")
        .select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
      // `counted` stays cached: the returned plan reads the pair list
      // again, and the layout count() already materialized it — same
      // ≤1 retained frame as the loop branch's final persisted RDD
      return labeled.orderBy("doc_id")
    }
    val pairs =
      if (small) graft.core.OwnedCaches.own(counted.repartition(1).cache()) else counted
    // small graph: broadcast the per-round frames (map-only rounds);
    // large graph: leave joins unhinted so they shuffle on doc id
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val spark = pairList.sparkSession
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    var converged = false
    var rounds = 0
    // the previous round's persisted RDD, released as soon as the next
    // round is materialized — executor storage stays O(1) frames
    // regardless of round count
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    // cap = graph-diameter bound; min-label propagation needs ≤ diameter
    // rounds. Near-dup components are usually tiny cliques (2-3
    // rounds), but a chain-shaped component needs diameter rounds — and
    // past the cap FAIL LOUDLY below rather than silently returning
    // labels that disagree with true connected components.
    val maxRounds = 200
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(hinted(labels), edges("doc_b") === labels("doc_id"))
        .groupBy(edges("doc_a").as("doc_id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val relabeled = labels.as("l")
        .join(hinted(neighborMin.as("n")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer-doubling shortcut: follow label-of-label once per
      // round, so a chain component converges in O(log diameter)
      // rounds instead of O(diameter) — on the sf0.1 embedding graph
      // (deep-chain components that plain propagation walks in 40+
      // rounds) this lands at 11 rounds. One shortcut per round is the
      // measured sweet spot: more shortcuts cut rounds further but add
      // a join-stage per round that costs more than it saves. The
      // fixed point is unchanged: labels only ever move DOWN within
      // their component, and at convergence label(x) = label(label(x))
      // ≤ min(neighbor labels) — the component min, which the
      // recursive-CTE oracle verifies.
      val lut = relabeled.select(col("doc_id").as("cid"), col("cluster_id").as("cc"))
      val updated = relabeled
        .join(hinted(lut), relabeled("cluster_id") === col("cid"), "left")
        .select(relabeled("doc_id"), relabeled("old_id"),
          least(relabeled("cluster_id"), coalesce(col("cc"), relabeled("cluster_id")))
            .as("cluster_id"))
      // sever the CATALYST lineage every round: `labels` appears twice
      // in the round plan (neighborMin + the left join), so carrying
      // the logical tree forward doubles it per round — O(2^rounds)
      // driver analysis/memory, an OOM by round ~25 on a chain graph.
      // Restarting the plan from a persisted RDD keeps the logical
      // plan O(1) per round (the RDD chain is linear and cheap), and
      // persist/unpersist gives deterministic round-to-round storage:
      // the count() materializes every partition before the previous
      // round's RDD is released.
      val rdd = updated.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fresh = spark.createDataFrame(rdd, updated.schema)
      converged = fresh.filter(col("cluster_id") =!= col("old_id")).count() == 0
      if (prevRdd != null) prevRdd.unpersist()
      prevRdd = rdd
      labels = fresh.select(col("doc_id"), col("cluster_id"))
      rounds += 1
    }
    require(converged,
      s"dedupClusters: min-label propagation not converged after $maxRounds rounds " +
        "(component diameter exceeds cap); results would disagree with true connected components")
    // the final round's frame is materialized — the loop inputs can go
    if (small) pairs.unpersist()
    counted.unpersist()
    labels.orderBy("doc_id")
  }

  lazy val dedupClustersSql: String =
    s"""WITH RECURSIVE $minHashPairCtes,
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      |          UNION SELECT doc_b, doc_a FROM mh_pairs),
      |reach(n, m) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n)
      |SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n
      |ORDER BY doc_id""".stripMargin

  /** Surviving corpus after near-dup collapse: keep each cluster's
    * canonical representative (its min-id member) plus every
    * unclustered doc — the actual "dedup the training set" output.
    * One anti-join against the (tiny) non-canonical member list, so
    * the full corpus streams map-side at any scale.
    */
  def dedupKeepCanonical(spark: SparkSession, dir: String): DataFrame = {
    val dropped = dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables(spark, dir).documents
      .join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .orderBy("doc_id")
  }

  lazy val dedupKeepCanonicalSql: String =
    s"""WITH RECURSIVE $minHashPairCtes,
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      |          UNION SELECT doc_b, doc_a FROM mh_pairs),
      |reach(n, m) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n),
      |cc AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)
      |SELECT d.doc_id, md5(d.text) AS text_hash
      |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
      |WHERE cc.doc_id IS NULL OR cc.cluster_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** 63-bit SimHash near-dup pairs (hamming ≤ 3). The signature is one
    * scalar-expression pass per doc over its distinct tokens — no row
    * explosion, no signature shuffle; the MD5-bit hash family is
    * re-derived in the generated oracle SQL.
    *
    * Candidate blocking is Manku-style (Manku/Jain/Das Sarma, WWW'07,
    * "Detecting near-duplicates for web crawling") and SIZED BY THE
    * CORPUS: the 63 bits split into `b` blocks; a pair at hamming ≤ 3
    * has its dirty bits inside ≤ 3 blocks, so it MUST collide in the
    * table keyed on some untouched (b−3)-block combination — C(b,3)
    * tables, key width ≈ 63·(b−3)/b bits. b=4 is the classic 4×16-bit
    * chunk scheme (4 tables, 16-bit keys — fine for small corpora);
    * larger corpora pick b=6 (20 tables, ~31-bit keys) or b=8
    * (56 tables, ~39-bit keys) so expected bucket sizes — and with
    * them the candidate volume — stay linear in n instead of n²/2¹⁶.
    * Every layout is an EXACT cover of the hamming ≤ 3 pairs, so the
    * result (and the oracle, which uses the b=4 cover) is identical
    * regardless of the selected b.
    */
  def dedupSimHash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    graft.functions.SimHash64.register(spark)
    val docs = Tables(spark, dir).documents
    // distinct tokens = 1-gram shingles (same one-pass expression)
    val sigs = docs.select(col("doc_id"),
      call_function("graft_simhash",
        call_function("graft_shingles", col("text"), lit(1))).as("simhash"))
    // ONE scalar crosses the driver: the corpus size that selects the
    // block layout (same pattern as SmallGraphPairCap / BroadcastNodeCap)
    val b = simHashBlockCount(Tables.rowCount(spark, dir, "documents"))
    simHashCandidates(sigs, b)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Smallest block count whose C(b,3) tables keep the expected
    * per-table bucket collisions linear: C(b,3) · n / 2^keyBits ≤ 64
    * expected candidates per doc. 5k docs → 4 (the cheap classic
    * layout); 10⁹ docs → 6; 10¹⁰+ → 8. More blocks = more table rows
    * per doc (C(b,3)) but exponentially wider keys — the Manku
    * trade-off; the key width must outgrow log₂(n) for the candidate
    * volume to stay linear.
    */
  private[graft] def simHashBlockCount(nDocs: Long): Int = {
    val choices = Seq(4, 6, 8)
    choices.find { b =>
      val keyBits = 63 * (b - 3) / b
      val tables = b * (b - 1) * (b - 2) / 6
      tables.toDouble * nDocs.toDouble / math.pow(2.0, keyBits.toDouble) <= 64.0
    }.getOrElse(choices.last)
  }

  /** Candidate pairs under the b-block Manku cover: one scan of `sigs`
    * (doc_id, simhash), posexplode into C(b,3) (table, key) rows — the
    * key packs the b−3 blocks NOT in the table's dirty-combination —
    * then a self-equi-join on (table, key). Complete for hamming ≤ 3
    * by the pigeonhole argument above; `distinct` collapses pairs
    * caught by several tables. Returns (doc_a, doc_b, sh_a, sh_b).
    */
  private[graft] def simHashCandidates(sigs: DataFrame, b: Int): DataFrame = {
    require(b >= 4, s"need ≥4 blocks for the hamming≤3 pigeonhole, got $b")
    val sizes = Array.tabulate(b)(i => 63 / b + (if (i < 63 % b) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    def blockVal(i: Int) =
      shiftright(col("simhash"), offsets(i)).bitwiseAND(lit((1L << sizes(i)) - 1))
    // key = the kept blocks packed into one long (≤ 63 bits total) —
    // static shift/mask expressions, fully codegen'd, no lambdas
    val keys = (0 until b).combinations(3).map { dirty =>
      val kept = (0 until b).filterNot(dirty.contains)
      kept.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, sizes(i)).bitwiseOR(blockVal(i))
      }
    }.toSeq
    val keyed = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(keys: _*)).as(Seq("tbl", "bkey")))
    val l = keyed.toDF("i", "sh_i", "t_i", "k_i")
    val r = keyed.toDF("j", "sh_j", "t_j", "k_j")
    l.join(r, col("t_i") === col("t_j") && col("k_i") === col("k_j") &&
        col("i") < col("j"))
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        col("sh_i").as("sh_a"), col("sh_j").as("sh_b"))
      .distinct()
  }

  lazy val dedupSimHashSql: String = {
    // 63 per-bit vote sums over the distinct-token md5 words, then the
    // sign-packed signature — the SQL mirror of SimHash64.nullSafeEval
    val wcols = (0 until 63).map { b =>
      val bit = if (b < 32) s"(h2>>$b)&1" else s"(h1>>${b - 32})&1"
      s"sum(CASE WHEN $bit=1 THEN 1 ELSE -1 END) AS w$b"
    }.mkString(",\n    ")
    val packed = (0 until 63)
      .map(b => s"(CASE WHEN w$b>0 THEN (1::BIGINT<<$b) ELSE 0 END)")
      .mkString(" + ")
    // zero-token docs: graft_shingles(text, 1) yields [''] (the ShCte
    // ELSE branch), so the oracle must emit the same single '' token —
    // a bare unnest would drop the doc from sig entirely
    s"""WITH $ToksCte,
      |tok AS (SELECT doc_id, unnest(CASE WHEN len(list_distinct(t)) = 0
      |          THEN [''] ELSE list_distinct(t) END) AS tok FROM toks),
      |th AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS h1,
      |              ('0x'||substr(md5(tok),9,8))::BIGINT AS h2 FROM tok),
      |w AS (SELECT doc_id,
      |    $wcols
      |  FROM th GROUP BY doc_id),
      |sig AS (SELECT doc_id, $packed AS simhash FROM w),
      |ch AS (SELECT doc_id, simhash, c, (simhash >> (16*c)) & 65535 AS chunk
      |       FROM sig, (SELECT unnest([0,1,2,3]) AS c) cs),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                a.simhash AS sa, b.simhash AS sb
      |         FROM ch a JOIN ch b ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Token width of a "span" for verbatim-substring dedup — long
    * enough (13 tokens ≈ a full sentence) that a shared span means
    * copied text, not shared vocabulary (8-char rolling-hash windows
    * pair nearly the whole corpus; 13-token spans pair exactly the
    * planted near-dups at sf0.01).
    */
  private[graft] val SpanTokens = 13

  /** Verbatim-span duplicate pairs (the "substring dedup" of
    * Lee et al.'s training-data dedup recipe, at span granularity):
    * docs sharing ≥1 identical [[SpanTokens]]-token run, with the
    * shared-span count as evidence weight. Complements the similarity
    * family — n-gram Jaccard and MinHash find MOSTLY-similar docs,
    * this finds ANY long copied run (quote farms, boilerplate
    * chaining, partial mirrors) regardless of how different the rest
    * of the docs are.
    *
    * Scale shape: per-doc distinct spans from the one-pass
    * TokenShingles expression (map-side), reduced to 56-bit md5-word
    * keys (8-byte shuffle keys, same family as the sketch suite — a
    * collision hits both engines identically, keeping the oracle
    * exact). Pair discovery is ONE equi-join on the span key — work
    * ∝ actually-colliding spans, never corpus². `maxDf` caps a span
    * key's document frequency before the join (ubiquitous boilerplate
    * spans are hot keys, exactly as in `contamination_check`); the
    * default ∞ keeps the oracle identical, at 100 TB pass a cap in
    * the thousands.
    */
  def dedupSubstringSpan(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringSpan(spark, dir, maxDf = Long.MaxValue)

  def dedupSubstringSpan(spark: SparkSession, dir: String,
      maxDf: Long): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    val spansAll = Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(SpanTokens))).as("s"))
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 14), 16, 10).cast("long").as("h"))
    val spans = (if (maxDf == Long.MaxValue) spansAll
      else {
        val hot = spansAll.groupBy(col("h"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select(col("h"))
        spansAll.join(hot, Seq("h"), "left_anti")
      }).cache() // the pair join reads it twice (this query only —
                 // operator-owned, harness-released)
    graft.core.OwnedCaches.own(spans)
    spans.select(col("doc_id").as("doc_a"), col("h"))
      .join(spans.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_spans"))
      .orderBy("doc_a", "doc_b")
  }

  lazy val dedupSubstringSpanSql: String =
    s"""WITH $ToksCte,
      |spans AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= $SpanTokens
      |    THEN [array_to_string(t[i:i+${SpanTokens - 1}], ' ') for i in range(1, len(t) - ${SpanTokens - 2})]
      |    ELSE [array_to_string(t, ' ')] END) AS sd
      |  FROM toks),
      |k AS (SELECT doc_id, ('0x'||substr(md5(s),1,14))::BIGINT AS h
      |      FROM (SELECT doc_id, unnest(sd) AS s FROM spans)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_spans
      |  FROM k a JOIN k b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_spans FROM pairs ORDER BY doc_a, doc_b""".stripMargin

  /** Method-agreement audit across the three sketch-based near-dup
    * detectors — pair counts per method, every pairwise intersection,
    * and the union: the calibration table that tells a corpus owner
    * whether the cheap detectors (simhash) subsume the expensive ones
    * (exact n-gram Jaccard) on THEIR data before picking one at
    * 100 TB. The three pair frames are tiny (≪ corpus) and cached, so
    * the seven aggregates reuse one run of each pipeline; the oracle
    * composes each method's full oracle SQL as a subquery — three
    * independently-gated pipelines must agree a second time inside
    * one query.
    */
  /** The two detector pair sets [[dedupMethodAgreement]] and
    * [[captureRecaptureDupes]] both consume, session-shared
    * (optimization round 18) so the signature + band-bucket joins run
    * once per session for the pair of audits instead of twice each.
    */
  private[graft] def minhashPairsShared(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "minhashPairs", dir)(
      dedupMinHashLsh(spark, dir).select(col("doc_a"), col("doc_b")))

  private[graft] def simhashPairsShared(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "simhashPairs", dir)(
      dedupSimHash(spark, dir).select(col("doc_a"), col("doc_b")))

  def dedupMethodAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.OwnedCaches.own
    val ng = own(dedupNgramJaccard(spark, dir).select(col("doc_a"), col("doc_b")).cache())
    val mh = minhashPairsShared(spark, dir)
    val sh = simhashPairsShared(spark, dir)
    // ONE pass instead of seven crossjoined scalar subtrees + three
    // intersect shuffles (optimization round 18: 44 scheduled jobs →
    // 4): tag-union the three pair sets, group once at pair grain,
    // and fold every count out of the per-pair presence tallies. Each
    // detector emits distinct pairs, so sum(cnt_x) = |x|,
    // presence-AND = |x ∩ y| (intersect's set semantics), and the
    // group count = |x ∪ y ∪ z| — exact integer arithmetic, same
    // seven numbers the oracle's subselects compute.
    val tagged = ng.select(col("doc_a"), col("doc_b"),
        lit(1L).as("w_ng"), lit(0L).as("w_mh"), lit(0L).as("w_sh"))
      .unionByName(mh.select(col("doc_a"), col("doc_b"),
        lit(0L).as("w_ng"), lit(1L).as("w_mh"), lit(0L).as("w_sh")))
      .unionByName(sh.select(col("doc_a"), col("doc_b"),
        lit(0L).as("w_ng"), lit(0L).as("w_mh"), lit(1L).as("w_sh")))
    tagged.groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("w_ng")).as("c_ng"), sum(col("w_mh")).as("c_mh"),
        sum(col("w_sh")).as("c_sh"))
      .agg(
        coalesce(sum(col("c_ng")), lit(0L)).cast("long").as("n_ngram"),
        coalesce(sum(col("c_mh")), lit(0L)).cast("long").as("n_minhash"),
        coalesce(sum(col("c_sh")), lit(0L)).cast("long").as("n_simhash"),
        coalesce(sum(when(col("c_ng") > 0 && col("c_mh") > 0, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_ngram_minhash"),
        coalesce(sum(when(col("c_ng") > 0 && col("c_sh") > 0, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_ngram_simhash"),
        coalesce(sum(when(col("c_mh") > 0 && col("c_sh") > 0, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("n_minhash_simhash"),
        count(lit(1)).cast("long").as("n_union"))
  }

  lazy val dedupMethodAgreementSql: String =
    s"""WITH ng AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql) t1),
      |mh AS (SELECT doc_a, doc_b FROM ($dedupMinHashLshSql) t2),
      |sh AS (SELECT doc_a, doc_b FROM ($dedupSimHashSql) t3),
      |u AS (SELECT DISTINCT doc_a, doc_b FROM (
      |  SELECT doc_a, doc_b FROM ng
      |  UNION ALL SELECT doc_a, doc_b FROM mh
      |  UNION ALL SELECT doc_a, doc_b FROM sh))
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM ng) AS n_ngram,
      |  (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_minhash,
      |  (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n_simhash,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ng JOIN mh USING (doc_a, doc_b)) AS n_ngram_minhash,
      |  (SELECT CAST(count(*) AS BIGINT) FROM ng JOIN sh USING (doc_a, doc_b)) AS n_ngram_simhash,
      |  (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN sh USING (doc_a, doc_b)) AS n_minhash_simhash,
      |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_union""".stripMargin

  // ------------------------------------------------------ capture_recapture_dupes

  // Chapman estimator on the two detector "captures" (n1, n2, overlap m)
  private val CrChapman =
    "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE)" +
      " - CAST(1 AS DOUBLE))"
  private val CrVar =
    "(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE) * CAST(n1 - m AS DOUBLE)" +
      " * CAST(n2 - m AS DOUBLE) / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)" +
      " * CAST(m + 2 AS DOUBLE)))"

  /** Capture–recapture estimate of the TRUE near-duplicate pair count
    * from two independent detectors: MinHash-LSH and SimHash are the
    * two "capture occasions", their overlap calibrates each one's
    * recall, and the Chapman estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1
    * (with its standard variance) estimates how many duplicate pairs
    * EXIST — including the ones neither detector caught. The
    * completeness audit `dedup_method_agreement` (raw overlap counts)
    * and `lsh_recall_audit` (recall vs an exact truth set that only
    * exists at test scale) can't give at 100 TB, where no exact truth
    * set is computable and ecology's estimator is exactly the tool.
    * Independence of the two detectors is the stated assumption
    * (hash-family vs bit-projection — documented).
    *
    * Scale shape: both pair sets are the existing bucketed detector
    * plans (work ∝ colliding candidates); the overlap is one pair-
    * keyed join; the estimator is scalar arithmetic on five counts.
    */
  def captureRecaptureDupes(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashPairsShared(spark, dir)
    val sh = simhashPairsShared(spark, dir)
    // the dedup_method_agreement single-pass fold (optimization round
    // 18): tag-union + one pair-grain group replaces four crossjoined
    // scalar subtrees and an intersect shuffle — same exact counts
    mh.select(col("doc_a"), col("doc_b"), lit(1L).as("w_mh"), lit(0L).as("w_sh"))
      .unionByName(sh.select(col("doc_a"), col("doc_b"),
        lit(0L).as("w_mh"), lit(1L).as("w_sh")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("w_mh")).as("c_mh"), sum(col("w_sh")).as("c_sh"))
      .agg(
        coalesce(sum(col("c_mh")), lit(0L)).cast("long").as("n1"),
        coalesce(sum(col("c_sh")), lit(0L)).cast("long").as("n2"),
        coalesce(sum(when(col("c_mh") > 0 && col("c_sh") > 0, 1L).otherwise(0L)),
          lit(0L)).cast("long").as("m"),
        count(lit(1)).cast("long").as("n_union"))
      .selectExpr("n1 AS n_minhash", "n2 AS n_simhash", "m AS n_overlap",
        "n_union",
        s"$CrChapman AS chapman_estimate",
        s"sqrt($CrVar) AS se",
        s"greatest(CAST(n_union AS DOUBLE), $CrChapman - CAST(1.96 AS DOUBLE) * sqrt($CrVar)) AS ci_low",
        s"$CrChapman + CAST(1.96 AS DOUBLE) * sqrt($CrVar) AS ci_high",
        s"greatest(CAST(0 AS DOUBLE), $CrChapman - CAST(n_union AS DOUBLE)) AS undetected_estimate")
  }

  lazy val captureRecaptureDupesSql: String =
    s"""WITH mh AS (SELECT doc_a, doc_b FROM ($dedupMinHashLshSql) t1),
      |sh AS (SELECT doc_a, doc_b FROM ($dedupSimHashSql) t2),
      |c AS (
      |  SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n1,
      |    (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN sh USING (doc_a, doc_b)) AS m,
      |    (SELECT CAST(count(*) AS BIGINT) FROM (
      |      SELECT DISTINCT doc_a, doc_b FROM (
      |        SELECT doc_a, doc_b FROM mh UNION ALL SELECT doc_a, doc_b FROM sh))) AS n_union)
      |SELECT n1 AS n_minhash, n2 AS n_simhash, m AS n_overlap, n_union,
      |  $CrChapman AS chapman_estimate,
      |  sqrt($CrVar) AS se,
      |  greatest(CAST(n_union AS DOUBLE), $CrChapman - CAST(1.96 AS DOUBLE) * sqrt($CrVar)) AS ci_low,
      |  $CrChapman + CAST(1.96 AS DOUBLE) * sqrt($CrVar) AS ci_high,
      |  greatest(CAST(0 AS DOUBLE), $CrChapman - CAST(n_union AS DOUBLE)) AS undetected_estimate
      |FROM c""".stripMargin

  /** INCREMENTAL corpus admission — the batch face of streaming
    * `NearDupSink`: screen an arriving document batch (content-hash
    * split, ≥90 bucket = "new") against the EXISTING corpus only,
    * via the same MinHash signatures + LSH banding as
    * `dedup_minhash_lsh` — but the candidate join is new-bands ×
    * corpus-bands, never corpus², so re-ingesting a daily batch costs
    * O(batch · collisions), not a full-corpus re-dedup. Output: every
    * new doc with its corpus-duplicate count and the admit verdict
    * (no near-dup at τ = 0.5). At 100 TB the corpus band table is the
    * persisted artifact (build once, append admitted docs' bands) —
    * exactly the signature-store contract the streaming sink keeps.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100)
    val sig = shingleSets(spark, dir)
      .select(col("doc_id"), (bucket >= 90).as("is_new"),
        call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"), col("is_new"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "band_key")))
      .cache() // both sides of the cross-split join read this (this
               // query only — operator-owned, harness-released)
    graft.core.OwnedCaches.own(banded)
    val candidates = banded.filter(col("is_new"))
      .select(col("doc_id").as("i"), col("band"), col("band_key"))
      .join(banded.filter(!col("is_new"))
        .select(col("doc_id").as("j"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select(col("i"), col("j")).distinct()
    val hv = hashedSets(spark, dir)
    val jac = col("n_common").cast("double") / (col("na") + col("nb") - col("n_common"))
    val dups = candidates
      .join(hv.toDF("i", "hv_i"), "i")
      .join(hv.toDF("j", "hv_j"), "j")
      .select(col("i"), col("j"),
        call_function("graft_sorted_intersect", col("hv_i"), col("hv_j")).as("n_common"),
        size(col("hv_i")).as("na"), size(col("hv_j")).as("nb"))
      .filter(jac >= 0.5)
      .groupBy(col("i"))
      .agg(count(lit(1)).cast("long").as("n_corpus_dups"))
    sig.filter(col("is_new")).select(col("doc_id"))
      .join(dups.withColumnRenamed("i", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        (coalesce(col("n_corpus_dups"), lit(0L)) === 0).as("admitted"))
      .orderBy("doc_id")
  }

  lazy val dedupIncrementalSql: String = {
    val P = MinHashSig.P
    val mins = MinHashSig.permConsts.zipWithIndex.map { case ((a, b), p) =>
      s"min(($a*h0+$b)%$P) AS m$p"
    }.mkString(",\n    ")
    val bands = (0 until NumBands).map { bd =>
      val key = (0 until BandSize).map(r => s"m${bd * BandSize + r}::VARCHAR")
        .mkString("||','||")
      s"SELECT doc_id, $bd AS band, $key AS bk FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $ToksCte,
      |$ShCte,
      |sp AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 >= 90 AS is_new
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(sd) AS s FROM sh),
      |hb AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT % $P AS h0 FROM ex),
      |sig AS (SELECT doc_id,
      |    $mins
      |  FROM hb GROUP BY doc_id),
      |band AS (
      |  $bands),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM band a JOIN sp sa ON sa.doc_id = a.doc_id AND sa.is_new
      |  JOIN band b ON a.band = b.band AND a.bk = b.bk
      |  JOIN sp sb ON sb.doc_id = b.doc_id AND NOT sb.is_new),
      |ver AS (SELECT i, j,
      |          len(list_intersect(sa.sd, sb.sd)) AS n_common,
      |          len(sa.sd) AS na, len(sb.sd) AS nb
      |        FROM cand JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j),
      |dups AS (SELECT i AS doc_id, CAST(count(*) AS BIGINT) AS n_corpus_dups
      |         FROM ver WHERE CAST(n_common AS DOUBLE)/(na+nb-n_common) >= 0.5
      |         GROUP BY 1)
      |SELECT s.doc_id,
      |  coalesce(d.n_corpus_dups, 0) AS n_corpus_dups,
      |  coalesce(d.n_corpus_dups, 0) = 0 AS admitted
      |FROM sp s LEFT JOIN dups d ON d.doc_id = s.doc_id
      |WHERE s.is_new
      |ORDER BY s.doc_id""".stripMargin
  }

  private val ContainWidth = 6 // token n-gram width
  private val ContainTau = 0.8 // coverage threshold

  /** Asymmetric CONTAINMENT pairs over a (doc_id, text) corpus: doc
    * pairs where one side's distinct 6-token shingles are ≥ 80%
    * covered by the other's — the "short doc quoted inside a long
    * one" duplicates that symmetric Jaccard structurally misses
    * (|A∩B|/|A∪B| is tiny when |A| ≪ |B| even at full coverage).
    * Work ∝ colliding shingles: one 56-bit-md5-word equi-join (the
    * `contamination_check` key discipline — 8-byte shuffle keys),
    * per-pair shared counts partial-aggregate, and both directions'
    * coverage come from the SAME pair row (shared/|A|, shared/|B|) —
    * no second join. int/int coverages → every verdict hash-exact.
    */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    // d is cached (round 19): both self-join legs and the size frame
    // consumed it, each re-running the shingle + md5 + distinct chain
    // — three full tokenization passes per run
    val d = graft.core.OwnedCaches.own(docs
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(ContainWidth))).as("s"))
      .select(col("doc_id"), conv(substring(md5(col("s")), 1, 14), 16, 10)
        .cast("long").as("h"))
      .distinct()
      .cache())
    val n = d.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val pairs = d.select(col("doc_id").as("doc_a"), col("h"))
      .join(d.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(n.select(col("doc_id").as("doc_a"), col("ns").as("n_a"))), Seq("doc_a"))
      .join(broadcast(n.select(col("doc_id").as("doc_b"), col("ns").as("n_b"))), Seq("doc_b"))
      .withColumn("cov_a", col("shared").cast("double") / col("n_a").cast("double"))
      .withColumn("cov_b", col("shared").cast("double") / col("n_b").cast("double"))
      .filter(col("cov_a") >= ContainTau || col("cov_b") >= ContainTau)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        col("cov_a"), col("cov_b"),
        when(col("cov_a") >= ContainTau && col("cov_b") >= ContainTau, "mutual")
          .when(col("cov_a") >= ContainTau, "a_in_b")
          .otherwise("b_in_a").as("direction"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[containmentPairs]] over the documents table. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TokenShingles.register(spark)
    containmentPairs(Tables(spark, dir).documents.select(col("doc_id"), col("text")))
  }

  val dedupContainmentSql: String = {
    val w = ContainWidth
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= $w
      |    THEN [array_to_string(t[i:i+${w - 1}], ' ') for i in range(1, len(t) - ${w - 2})]
      |    ELSE [array_to_string(t, ' ')] END) AS sd
      |  FROM toks),
      |d AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s2), 1, 14))::BIGINT AS h
      |      FROM (SELECT doc_id, unnest(sd) AS s2 FROM sh) u),
      |n AS (SELECT doc_id, count(*) AS ns FROM d GROUP BY 1),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |      FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |c AS (
      |  SELECT doc_a, doc_b, shared, na.ns AS n_a, nb.ns AS n_b,
      |    CAST(shared AS DOUBLE) / CAST(na.ns AS DOUBLE) AS cov_a,
      |    CAST(shared AS DOUBLE) / CAST(nb.ns AS DOUBLE) AS cov_b
      |  FROM p JOIN n na ON na.doc_id = p.doc_a JOIN n nb ON nb.doc_id = p.doc_b)
      |SELECT doc_a, doc_b, shared, n_a, n_b, cov_a, cov_b,
      |  CASE WHEN cov_a >= $ContainTau AND cov_b >= $ContainTau THEN 'mutual'
      |       WHEN cov_a >= $ContainTau THEN 'a_in_b'
      |       ELSE 'b_in_a' END AS direction
      |FROM c WHERE cov_a >= $ContainTau OR cov_b >= $ContainTau
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val FuzzyTau = 2 // max edit distance

  /** All single-deletion variants of `s` (len ≥ 1 guard: `sequence`
    * DESCENDS when start > stop, so an unguarded empty string would
    * fan out to garbage).
    */
  private def del1(s: org.apache.spark.sql.Column, len: org.apache.spark.sql.Column) =
    when(len >= 1, transform(sequence(lit(1), len),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, len - i))))
      .otherwise(array())

  /** All two-deletion variants (positions i < j of the ORIGINAL). */
  private def del2(s: org.apache.spark.sql.Column, len: org.apache.spark.sql.Column) =
    when(len >= 2, flatten(transform(sequence(lit(1), len - 1),
      i => transform(sequence(i + 1, len),
        j => concat(s.substr(lit(1), i - 1), s.substr(i + 1, j - i - 1),
          s.substr(j + 1, len - j))))))
      .otherwise(array())

  /** Fuzzy pairs over a (name, cnt) dictionary: all name pairs within
    * Levenshtein distance ≤ 2, found WITHOUT the dictionary cross
    * product. Candidate generation is the symmetric-deletion
    * (SymSpell) neighborhood: if lev(a, b) ≤ τ then deleting the ≤ τ
    * positions an optimal edit script touches on EACH side leaves the
    * same string, so a and b share a ≤ τ-deletion variant — blocking
    * on the variant is COMPLETE for the threshold (unit-tested against
    * the brute-force join, including length-≤ 2 edge strings). Every
    * candidate is then verified with the exact `levenshtein`, so the
    * blocking — and the xxhash64 the variants shuffle as (collisions
    * only ADD candidates) — is invisible in the result: the oracle
    * states the plain inequality join.
    *
    * The per-name fan-out is 1 + n + C(n, 2) variants (HOF lambdas —
    * interpreted, but this runs on the DICTIONARY, vocab-sized by
    * construction, not the corpus; entity resolution at 100 TB is
    * distinct-names + join-back, never raw rows).
    */
  private[graft] def fuzzyPairs(names: DataFrame): DataFrame = {
    val len = length(col("name"))
    val variants = names
      .select(col("name"), col("cnt"),
        explode(array_distinct(concat(
          array(col("name")), del1(col("name"), len), del2(col("name"), len)))).as("__v"))
      .select(col("name"), col("cnt"), xxhash64(col("__v")).as("__h"))
    val l = variants.select(col("__h"), col("name").as("name_a"), col("cnt").as("cnt_a"))
    val r = variants.select(col("__h"), col("name").as("name_b"), col("cnt").as("cnt_b"))
    l.join(r, Seq("__h"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b", "cnt_a", "cnt_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= FuzzyTau)
      .select(col("name_a"), col("name_b"), col("dist").cast("int").as("dist"),
        col("cnt_a"), col("cnt_b"))
      .orderBy("name_a", "name_b")
  }

  /** Entity resolution over the part-name dictionary (the
    * product-catalog fuzzy-match a crawler pipeline needs when the
    * same product arrives spelled slightly differently; ref:
    * `product_crawler.py`'s product-name extraction): near-identical
    * name pairs + how many catalog rows each spelling carries.
    */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairs(Tables(spark, dir).part
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("cnt")))

  val fuzzyNamePairsSql: String =
    s"""WITH names AS (SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY 1)
       |SELECT a.name AS name_a, b.name AS name_b,
       |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
       |  a.cnt AS cnt_a, b.cnt AS cnt_b
       |FROM names a JOIN names b ON a.name < b.name
       |WHERE levenshtein(a.name, b.name) <= $FuzzyTau
       |ORDER BY name_a, name_b""".stripMargin

  // ------------------------------------------------------ lsh_bucket_occupancy

  /** LSH health diagnostic: per band, the bucket-size distribution
    * and the EXACT candidate-pair bound Σ c(c−1)/2 that bucket sizes
    * imply — the number the 100 TB scaling argument for the whole
    * dedup family rests on (work ∝ colliding keys, never corpus²).
    * This makes the bound observable per run: a band whose
    * `candidate_pairs` explodes means the hash family degenerated on
    * this corpus (skewed shingles, low-entropy docs) BEFORE the pair
    * join pays for it. All counts exact integers.
    *
    * Scale shape: the signature pass is the map-only
    * `dedup_minhash_lsh` build; occupancy is two partial-agg rollups,
    * (band, key) then band — output is NumBands rows.
    */
  def lshBucketOccupancy(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val sig = shingleSets(spark, dir).select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "band_key")))
    banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_docs"),
        max(col("c")).as("max_bucket"),
        expr("sum(c * (c - 1)) div 2").as("candidate_pairs"))
      .orderBy("band")
  }

  lazy val lshBucketOccupancySql: String =
    s"""WITH $minHashPairCtes,
       |occ AS (
       |  SELECT band, bk, CAST(count(*) AS BIGINT) AS c
       |  FROM band GROUP BY 1, 2)
       |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(max(c) AS BIGINT) AS max_bucket,
       |  CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS candidate_pairs
       |FROM occ GROUP BY band
       |ORDER BY band""".stripMargin

  // --------------------------------------------------- dedup_cross_source_matrix

  /** Cross-source near-duplicate matrix: the MinHash pair frame
    * rolled up by (source, source) — WHICH feeds copy WHICH (a heavy
    * off-diagonal cell means one feed mirrors another; the diagonal
    * is within-feed redundancy). `dup_rate_by_source` gives each
    * feed's overall rate; this attributes it pairwise, which is what
    * decides crawl dedup ORDER at curation time. Source pairs are
    * canonicalized (least, greatest) so each unordered pair lands in
    * one cell.
    *
    * Scale shape: composition over the LSH pair output (candidate-
    * bounded by band buckets, never corpus²) joined twice against the
    * narrow doc→source projection; the matrix is ≤|sources|² rows.
    */
  def dedupCrossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir).documents.select(col("doc_id"), col("source"))
    dedupMinHashLsh(spark, dir)
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("source_1", "source_2")
  }

  lazy val dedupCrossSourceMatrixSql: String =
    s"""WITH pairs AS ($dedupMinHashLshSql),
       |s AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_1,
       |  greatest(sa.source, sb.source) AS source_2,
       |  CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM pairs
       |JOIN s sa ON sa.doc_id = pairs.doc_a
       |JOIN s sb ON sb.doc_id = pairs.doc_b
       |GROUP BY 1, 2
       |ORDER BY source_1, source_2""".stripMargin

  // ------------------------------------------------------ minhash_band_tune

  /** The (bands, rows) sweep this table feeds: all three configs
    * consume the SAME 64-slot signature, sliced differently — more
    * bands × fewer rows lowers the collision threshold (recall up,
    * candidates up), fewer bands × more rows raises it.
    */
  private val BandConfigs = Seq((32, 2), (16, 4), (8, 8))

  /** MinHash LSH band-geometry tuning table — for each (bands, rows)
    * config over the shared 64-perm signature: candidate pair count
    * (the Σc(c−1)/2 cost `lsh_bucket_occupancy` bounds), how many
    * candidates verify at τ = 0.5 exact Jaccard, and the resulting
    * precision. This is the table an operator reads before RESIZING
    * the banding at a new corpus — `lsh_bucket_occupancy` makes one
    * config's cost observable; this makes the trade-off across
    * configs observable. All counts are exact integers; precision is
    * one guarded double division.
    *
    * Scale shape: ONE signature build (map-side scalar expression
    * over the session-shared shingle frame) serves all three
    * configs; each config adds a band-key equi-join (work ∝ its own
    * collisions — the quantity being measured) and a
    * candidates-only verification. Nothing corpus² anywhere.
    */
  def minhashBandTune(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val sig = shingleSets(spark, dir).select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val hv = hashedSets(spark, dir)
    // ONE tagged pass over all three band geometries (optimization
    // round 18): the per-config chain (band self-join + distinct +
    // verify + two cross-joined scalar aggregates, ×3 configs) cost
    // ~28 scheduled jobs; the config id now rides IN the bucket join
    // key, so one self-join + one verify + two grouped aggregates
    // produce the identical per-config counts.
    val banded = BandConfigs.map { case (b, r) =>
      sig.select(lit(b).as("cfg"), col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          bd => concat_ws(",",
            transform(slice(col("sig"), bd * r + 1, lit(r)),
              h => h.cast("string")))))
          .as(Seq("band", "bk")))
    }.reduce(_ unionByName _)
    val cand = graft.core.OwnedCaches.own(
      banded.toDF("cfg", "i", "band_i", "bk")
        .join(banded.toDF("cfg2", "j", "band_j", "bk2"),
          col("cfg") === col("cfg2") && col("band_i") === col("band_j") &&
            col("bk") === col("bk2") && col("i") < col("j"))
        .select(col("cfg"), col("i"), col("j")).distinct()
        .cache())
    val jac = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    val nTrue = cand
      .join(hv.toDF("i", "hv_i"), "i")
      .join(hv.toDF("j", "hv_j"), "j")
      .select(col("cfg"),
        call_function("graft_sorted_intersect",
          col("hv_i"), col("hv_j")).as("n_common"),
        size(col("hv_i")).as("na"), size(col("hv_j")).as("nb"))
      .filter(jac >= 0.5)
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_true"))
    val nCand = cand.groupBy(col("cfg")).agg(count(lit(1)).as("n_cand"))
    // literal config spine: a geometry with zero candidates must still
    // emit its row, exactly as the per-config scalar aggregates did
    val sess = spark
    import sess.implicits._
    val spine = BandConfigs.toDF("bands", "rows_per_band")
    spine
      .join(nCand.withColumnRenamed("cfg", "bands"), Seq("bands"), "left")
      .join(nTrue.withColumnRenamed("cfg", "bands"), Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_cand"), lit(0L)).as("n_candidate_pairs"),
        coalesce(col("n_true"), lit(0L)).as("n_true_pairs"),
        expr("CASE WHEN coalesce(n_cand, 0) = 0 THEN CAST(0 AS DOUBLE) " +
          "ELSE CAST(coalesce(n_true, 0) AS DOUBLE) / CAST(n_cand AS DOUBLE) END")
          .as("precision_at_tau"))
      .orderBy(col("bands").desc)
  }

  lazy val minhashBandTuneSql: String = {
    val P = MinHashSig.P
    val mins = MinHashSig.permConsts.zipWithIndex.map { case ((a, b), p) =>
      s"min(($a*h0+$b)%$P) AS m$p"
    }.mkString(",\n    ")
    def bandCtes(b: Int, r: Int): String = {
      val bands = (0 until b).map { bd =>
        val key = (0 until r).map(i => s"m${bd * r + i}::VARCHAR")
          .mkString("||','||")
        s"SELECT doc_id, $bd AS band, $key AS bk FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""band_$b AS (
         |  $bands),
         |cand_$b AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |  FROM band_$b a JOIN band_$b b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |ver_$b AS (SELECT count(*) AS n_true FROM (
         |  SELECT len(list_intersect(sa.sd, sb.sd)) AS n_common,
         |         len(sa.sd) AS na, len(sb.sd) AS nb
         |  FROM cand_$b JOIN sh sa ON sa.doc_id = i JOIN sh sb ON sb.doc_id = j)
         |  WHERE CAST(n_common AS DOUBLE)/(na+nb-n_common) >= 0.5),
         |row_$b AS (
         |  SELECT CAST($b AS INTEGER) AS bands, CAST($r AS INTEGER) AS rows_per_band,
         |    nc.n_cand AS n_candidate_pairs, CAST(v.n_true AS BIGINT) AS n_true_pairs,
         |    CASE WHEN nc.n_cand = 0 THEN CAST(0 AS DOUBLE)
         |         ELSE CAST(v.n_true AS DOUBLE) / CAST(nc.n_cand AS DOUBLE) END AS precision_at_tau
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand_$b) nc, ver_$b v)""".stripMargin
    }
    val configs = BandConfigs.map { case (b, r) => bandCtes(b, r) }.mkString(",\n")
    val rows = BandConfigs.map { case (b, _) => s"SELECT * FROM row_$b" }
      .mkString("\nUNION ALL ")
    s"""WITH $ToksCte,
       |$ShCte,
       |ex AS (SELECT doc_id, unnest(sd) AS s FROM sh),
       |hb AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT % $P AS h0 FROM ex),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $mins
       |  FROM hb GROUP BY doc_id),
       |$configs
       |$rows
       |ORDER BY bands DESC""".stripMargin
  }

  // --------------------------------------------- dedup_threshold_sensitivity

  /** Jaccard-threshold sensitivity of the MinHash-LSH dedup: from
    * ONE verified candidate frame (the production banding), the
    * surviving pair count at τ ∈ {0.4, 0.5, 0.6, 0.7} — the knob
    * table read before moving the dedup threshold on a new corpus
    * (`minhash_band_tune` varies the RECALL side; this varies the
    * PRECISION cut on fixed candidates). Pair verdicts are exact
    * int/int Jaccard comparisons against double literals both
    * engines parse to identical bits; shares are one division each.
    *
    * Scale shape: the candidate frame is the banding's own bounded
    * output; verification touches candidates only; the sweep is 4
    * conditional counts in ONE aggregate pass — no re-verification
    * per threshold.
    */
  def dedupThresholdSensitivity(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val sets = shingleSets(spark, dir)
    val sig = sets.select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "bk")))
    val candidates = banded.toDF("i", "band_i", "bk")
      .join(banded.toDF("j", "band_j", "bk2"),
        col("band_i") === col("band_j") && col("bk") === col("bk2") &&
          col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    val hv = hashedSets(spark, dir)
    val verified = candidates
      .join(hv.toDF("i", "hv_i"), "i")
      .join(hv.toDF("j", "hv_j"), "j")
      .select((call_function("graft_sorted_intersect", col("hv_i"), col("hv_j"))
          .cast("double") /
        (size(col("hv_i")) + size(col("hv_j")) -
          call_function("graft_sorted_intersect", col("hv_i"), col("hv_j"))))
        .as("jaccard"))
    val agg = verified.agg(count(lit(1)).as("n_cand"),
      sum(when(col("jaccard") >= 0.4, 1L).otherwise(0L)).as("n_t40"),
      sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_t50"),
      sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)).as("n_t60"),
      sum(when(col("jaccard") >= 0.7, 1L).otherwise(0L)).as("n_t70"))
    agg.select(col("n_cand"), col("n_t40"), col("n_t50"), col("n_t60"), col("n_t70"),
      expr("CAST(n_t40 AS DOUBLE) / CAST(n_cand AS DOUBLE)").as("share_t40"),
      expr("CAST(n_t70 AS DOUBLE) / CAST(n_cand AS DOUBLE)").as("share_t70"))
  }

  lazy val dedupThresholdSensitivitySql: String =
    s"""WITH $minHashPairCtes,
       |verall AS (
       |  SELECT CAST(n_common AS DOUBLE)/(na+nb-n_common) AS jaccard FROM ver),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(CASE WHEN jaccard >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_t40,
       |    CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_t50,
       |    CAST(sum(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_t60,
       |    CAST(sum(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_t70
       |  FROM verall)
       |SELECT n_cand, n_t40, n_t50, n_t60, n_t70,
       |  CAST(n_t40 AS DOUBLE) / CAST(n_cand AS DOUBLE) AS share_t40,
       |  CAST(n_t70 AS DOUBLE) / CAST(n_cand AS DOUBLE) AS share_t70
       |FROM a""".stripMargin

  // ------------------------------------------------- dedup_cluster_size_hist

  /** Near-dup cluster-size histogram: how many clusters of size 2, 3,
    * … the LSH pair graph collapses into, plus the size-1 row for the
    * untouched remainder — the shape that decides the dedup POLICY
    * (a corpus of big template families needs canonical-plus-sample
    * retention; a corpus of isolated pairs needs nothing fancier than
    * keep-min). `dedup_clusters` labels members; this is the
    * distributional read a curation review actually consumes, and the
    * denominator behind `dup_rate_by_source`. Pure integer counts
    * end-to-end.
    *
    * Scale shape: the cluster label frame reduces cluster-grain, then
    * size-grain — two partial aggs over frames bounded by the
    * CLUSTERED doc count (≪ corpus); the singleton row is corpus
    * count minus clustered count, two scalar aggregates.
    */
  def dedupClusterSizeHist(spark: SparkSession, dir: String): DataFrame = {
    val cl = dedupClusters(spark, dir)
    val hist = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size").cast("long"),
        col("n_clusters").cast("long"),
        (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"))
    val nd = Tables(spark, dir).documents.agg(count(lit(1)).as("nd"))
    val nc = cl.agg(count(lit(1)).as("nc"))
    val singles = nd.crossJoin(nc).select(
      lit(1L).as("cluster_size"),
      (col("nd") - col("nc")).cast("long").as("n_clusters"),
      (col("nd") - col("nc")).cast("long").as("n_docs"))
    hist.unionAll(singles).orderBy("cluster_size")
  }

  lazy val dedupClusterSizeHistSql: String =
    s"""WITH RECURSIVE $minHashPairCtes,
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      |          UNION SELECT doc_b, doc_a FROM mh_pairs),
      |reach(n, m) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n),
      |cc AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n),
      |sizes AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY 1),
      |hist AS (
      |  SELECT CAST(sz AS BIGINT) AS cluster_size,
      |    CAST(count(*) AS BIGINT) AS n_clusters,
      |    CAST(sz * count(*) AS BIGINT) AS n_docs
      |  FROM sizes GROUP BY sz),
      |tot AS (SELECT count(*) AS nd FROM documents),
      |clus AS (SELECT count(*) AS nc FROM cc)
      |SELECT * FROM hist
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(nd - nc AS BIGINT), CAST(nd - nc AS BIGINT)
      |FROM tot, clus
      |ORDER BY cluster_size""".stripMargin

  // ---------------------------------------- dedup_shingle_size_sensitivity

  private val ShingleSizes = Seq(2, 3, 5)

  /** Shingle-size calibration on FIXED candidates: the exact Jaccard
    * of every 3-gram LSH candidate pair recomputed at shingle sizes
    * 2, 3, and 5 — the third axis of the dedup calibration triptych
    * (`minhash_band_tune` sweeps banding, `dedup_threshold_sensitivity`
    * sweeps τ; this sweeps the SHINGLE unit, which controls what
    * "duplicate" even means: 2-grams inflate similarity on shared
    * vocabulary, 5-grams demand near-verbatim phrasing). Candidate
    * set held fixed across rows so the comparison isolates the
    * shingle size; per-size Jaccards are exact-integer ratios, mean
    * via the round-to-decimal sum.
    *
    * Scale shape: candidates come from the banded equi-join (work ∝
    * colliding band keys, never corpus²); each size row re-shingles
    * map-side ([[graft.functions.TokenShingles]], one linear pass)
    * and joins only the candidate pairs.
    */
  def dedupShingleSizeSensitivity(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    graft.functions.TokenShingles.register(spark)
    graft.functions.SortedHashes.register(spark)
    graft.functions.SortedIntersectCount.register(spark)
    val sets = shingleSets(spark, dir)
    val sig = sets.select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "bk")))
    val candidates = graft.core.OwnedCaches.own(banded.toDF("i", "band_i", "bk")
      .join(banded.toDF("j", "band_j", "bk2"),
        col("band_i") === col("band_j") && col("bk") === col("bk2") &&
          col("i") < col("j"))
      .select(col("i"), col("j")).distinct().cache())
    def sizeRow(n: Int): DataFrame = {
      val hv =
        if (n == 3) hashedSets(spark, dir)
        else Tables(spark, dir).documents.select(col("doc_id"),
          call_function("graft_sorted_hashes",
            call_function("graft_shingles", col("text"), lit(n))).as("hv"))
      candidates
        .join(hv.toDF("i", "hv_i"), "i")
        .join(hv.toDF("j", "hv_j"), "j")
        .select((call_function("graft_sorted_intersect", col("hv_i"), col("hv_j"))
            .cast("double") /
          (size(col("hv_i")) + size(col("hv_j")) -
            call_function("graft_sorted_intersect", col("hv_i"), col("hv_j"))))
          .as("jaccard"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_pass"),
          sum(expr("CAST(round(jaccard, 9) AS DECIMAL(18,9))")).as("mj"))
        .selectExpr(s"CAST($n AS BIGINT) AS shingle_n",
          "CAST(n_cand AS BIGINT) AS n_cand", "CAST(n_pass AS BIGINT) AS n_pass",
          """CASE WHEN n_cand = 0 THEN CAST(0 AS DOUBLE)
            |ELSE CAST(n_pass AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS share_pass""".stripMargin,
          """CASE WHEN n_cand = 0 THEN CAST(0 AS DOUBLE)
            |ELSE CAST(mj AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS mean_jaccard""".stripMargin)
    }
    ShingleSizes.map(sizeRow).reduce(_ union _).orderBy("shingle_n")
  }

  // ------------------------------------------------------- lsh_recall_audit

  /** MEASURED recall of the production LSH banding against exact
    * ground truth, per Jaccard bucket: every true τ=0.5 n-gram pair
    * (the PPJoin-exact `dedup_ngram_jaccard` set) checked for
    * membership in the banded candidate set, next to the THEORETICAL
    * S-curve 1−(1−j^r)^b at the bucket midpoint —
    * `minhash_band_tune` predicts the curve, this closes the loop by
    * measuring it on the real corpus (the audit that catches a bad
    * hash family or a banding bug that theory can't). Counts exact;
    * recall guarded shared-text; theory values precomputed
    * shortest-round-trip literals.
    *
    * Scale shape: truth pairs come from the exact prefix-filtered
    * path, candidates from the banded equi-join — both
    * collision-bounded; the audit join runs on the (tiny) pair
    * frames only.
    */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    MinHashSig.register(spark)
    val truth = dedupNgramJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val sets = shingleSets(spark, dir)
    val sig = sets.select(col("doc_id"),
      call_function("graft_minhash", col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        b => concat_ws(",",
          transform(slice(col("sig"), b * BandSize + 1, lit(BandSize)),
            h => h.cast("string")))))
        .as(Seq("band", "bk")))
    val cand = banded.toDF("i", "band_i", "bk")
      .join(banded.toDF("j", "band_j", "bk2"),
        col("band_i") === col("band_j") && col("bk") === col("bk2") &&
          col("i") < col("j"))
      .select(col("i").as("doc_a"), col("j").as("doc_b")).distinct()
      .withColumn("hit", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", expr("least(CAST(floor(jaccard * 10) AS INTEGER), 9)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .selectExpr("CAST(bucket AS BIGINT) AS bucket",
        "CAST(bucket AS DOUBLE) / CAST(10 AS DOUBLE) AS jaccard_lo",
        "CAST(n_true AS BIGINT) AS n_true", "CAST(n_hit AS BIGINT) AS n_hit",
        """CASE WHEN n_true = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall""".stripMargin,
        LshTheoryCase + " AS theory_recall")
      .orderBy("bucket")
  }

  // 1−(1−m^r)^b at each bucket midpoint, precomputed as literals.
  // String-literal cast: DuckDB parses a bare 16-digit numeric literal
  // as DECIMAL first (1-ulp drift vs the double); VARCHAR→DOUBLE is
  // correctly-rounded strtod on both engines.
  private lazy val LshTheoryCase: String = {
    val cases = (5 to 9).map { bk =>
      val m = bk / 10.0 + 0.05
      val p = 1.0 - math.pow(1.0 - math.pow(m, BandSize), NumBands)
      s"WHEN bucket = $bk THEN CAST('$p' AS DOUBLE)"
    }.mkString(" ")
    s"(CASE $cases ELSE CAST(0 AS DOUBLE) END)"
  }

  lazy val lshRecallAuditSql: String =
    s"""WITH $minHashPairCtes,
       |truth AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |    CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
       |      / (len(a.sd) + len(b.sd) - len(list_intersect(a.sd, b.sd))) AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
       |      / (len(a.sd) + len(b.sd) - len(list_intersect(a.sd, b.sd))) >= 0.5),
       |au AS (
       |  SELECT truth.jaccard,
       |    CASE WHEN cand.i IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM truth LEFT JOIN cand ON cand.i = truth.i AND cand.j = truth.j),
       |g AS (
       |  SELECT least(CAST(floor(jaccard * 10) AS INTEGER), 9) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_true, CAST(sum(hit) AS BIGINT) AS n_hit
       |  FROM au GROUP BY 1)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(bucket AS DOUBLE) / CAST(10 AS DOUBLE) AS jaccard_lo,
       |  n_true, n_hit,
       |  CASE WHEN n_true = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall,
       |  $LshTheoryCase AS theory_recall
       |FROM g ORDER BY bucket""".stripMargin

  lazy val dedupShingleSizeSensitivitySql: String = {
    def shCte(n: Int) =
      s"""sh$n AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= $n
         |    THEN [array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]
         |    ELSE [array_to_string(t, ' ')] END) AS sd
         |  FROM toks)""".stripMargin
    def rowCte(n: Int) = {
      val src = if (n == 3) "sh" else s"sh$n"
      s"""row$n AS (
         |  SELECT CAST($n AS BIGINT) AS shingle_n, CAST(count(*) AS BIGINT) AS n_cand,
         |    CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |    sum(CAST(round(jacc, 9) AS DECIMAL(18,9))) AS mj
         |  FROM (SELECT CAST(len(list_intersect(sa.sd, sb.sd)) AS DOUBLE)
         |      / (len(sa.sd) + len(sb.sd) - len(list_intersect(sa.sd, sb.sd))) AS jacc
         |    FROM cand JOIN $src sa ON sa.doc_id = i JOIN $src sb ON sb.doc_id = j) v)""".stripMargin
    }
    val extraSh = ShingleSizes.filter(_ != 3).map(shCte).mkString(",\n")
    val rows = ShingleSizes.map(rowCte).mkString(",\n")
    val un = ShingleSizes.map(n => s"SELECT * FROM row$n").mkString(" UNION ALL ")
    s"""WITH $minHashPairCtes,
       |$extraSh,
       |$rows
       |SELECT shingle_n, n_cand, n_pass,
       |  CASE WHEN n_cand = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(n_pass AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS share_pass,
       |  CASE WHEN n_cand = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(mj AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS mean_jaccard
       |FROM ($un) u ORDER BY shingle_n""".stripMargin
  }

  // ----------------------------------------------------- dup_ngram_coverage

  /** Cross-document duplicated-n-gram coverage per source: the share
    * of each source's (distinct, per-doc) shingles that occur in ≥2
    * documents corpus-wide, plus how many docs are majority-duplicated
    * — the RefinedWeb/Gopher-style *coverage* readout.
    * `text_repetition` measures WITHIN-doc shingle repetition and
    * `dup_rate_by_source` exact WHOLE-doc duplicates; this is the
    * in-between grain (how much of a source's text is boilerplate
    * shared across documents) that decides whether a source needs
    * substring-level dedup before training. Counts exact integers;
    * the high-dup flag is the integer cross-product 2·dup ≥ total;
    * coverage is one guarded double division per source.
    *
    * Scale shape: shingle-grain doc-frequency partial-agg + one
    * shingle-grain join back (both on 8-byte hashes off the
    * session-shared [[hashedSets]] frame — strings never shuffle),
    * then a doc-grain and a source-grain reduction. Work ∝ corpus
    * token volume; nothing pairwise anywhere.
    */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ex = hashedSets(spark, dir)
      .select(col("doc_id"), explode(col("hv")).as("h"))
    val df = ex.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    val pd = ex.join(df, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
    pd.join(Tables(spark, dir).documents.select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_dup")).as("n_dup_shingles"),
        sum(when(col("n_dup") * 2 >= col("n_sh"), 1L).otherwise(0L))
          .as("n_docs_high_dup"))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_shingles AS BIGINT) AS n_shingles",
        "CAST(n_dup_shingles AS BIGINT) AS n_dup_shingles",
        // every doc yields ≥1 shingle (TokenShingles' whole-doc ELSE
        // branch), so the denominator is never 0; guarded anyway to
        // keep the text total
        """CASE WHEN n_shingles = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(n_dup_shingles AS DOUBLE) / CAST(n_shingles AS DOUBLE) END AS dup_coverage""".stripMargin,
        "CAST(n_docs_high_dup AS BIGINT) AS n_docs_high_dup")
      .orderBy("source")
  }

  val dupNgramCoverageSql: String =
    s"""WITH $ToksCte,
       |$ShCte,
       |ex AS (SELECT doc_id, unnest(sd) AS s FROM sh),
       |df AS (SELECT s, CAST(count(*) AS BIGINT) AS ndocs FROM ex GROUP BY 1),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
       |    CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM ex JOIN df USING (s) GROUP BY 1),
       |j AS (SELECT d.source, pd.n_sh, pd.n_dup
       |  FROM pd JOIN documents d USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
       |  CAST(sum(n_dup) AS BIGINT) AS n_dup_shingles,
       |  CASE WHEN sum(n_sh) = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(sum(n_dup) AS DOUBLE) / CAST(sum(n_sh) AS DOUBLE) END AS dup_coverage,
       |  CAST(sum(CASE WHEN n_dup * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_high_dup
       |FROM j GROUP BY 1 ORDER BY source""".stripMargin
}
