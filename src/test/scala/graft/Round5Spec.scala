package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 scale-hardening: corpus-sized SimHash blocking, the
  * size-selected fact-build broadcasts, bounded loop caches, and the
  * df-capped contamination join.
  */
class SimHashBlockingSpec extends AnyFunSuite {
  import graft.operators.Dedup
  lazy val spark = TestSpark.spark

  private val Mask63 = (1L << 63) - 1

  private def sigsDf(sigs: Seq[(Long, Long)]) = {
    import spark.implicits._
    sigs.toDF("doc_id", "simhash")
  }

  private def pairsAtMost3(sigs: Seq[(Long, Long)]): Set[(Long, Long)] =
    (for {
      (i, si) <- sigs; (j, sj) <- sigs
      if i < j && java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet

  private def filtered(df: org.apache.spark.sql.DataFrame, b: Int): Set[(Long, Long)] =
    Dedup.simHashCandidates(df, b)
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedup_simhash plans as equi-join blocking with map-side signatures") {
    val df = graft.operators.Dedup.dedupSimHash(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "candidate generation must stay an equi-join on (table, key)")
    assert(plan.contains("simhash64(tokenshingles("),
      "signature must be the map-side scalar expression")
  }

  test("block count selection grows with corpus size") {
    assert(Dedup.simHashBlockCount(500L) == 4)
    assert(Dedup.simHashBlockCount(5000L) == 4)
    assert(Dedup.simHashBlockCount(1000000000L) == 6)
    assert(Dedup.simHashBlockCount(20000000000L) == 8)
  }

  test("every block layout is an exact cover of the hamming<=3 pairs") {
    val rng = new scala.util.Random(42)
    // random far-apart sigs + planted near-pairs (flip <=3 bits)
    val base = (0L until 120L).map(i => i -> (rng.nextLong() & Mask63))
    val planted = (0 until 30).map { k =>
      val (srcId, srcSig) = base(rng.nextInt(base.size))
      var s = srcSig
      (0 until 1 + rng.nextInt(3)).foreach(_ => s ^= 1L << rng.nextInt(63))
      (1000L + k) -> (s & Mask63)
    }
    val all = base ++ planted
    val expected = pairsAtMost3(all)
    assert(expected.size >= 30, "planted pairs must be present")
    val df = sigsDf(all)
    for (b <- Seq(4, 6, 8))
      assert(filtered(df, b) == expected, s"b=$b must find exactly the hamming<=3 pairs")
  }

  test("wider keys keep candidates bounded where 16-bit blocking goes quadratic") {
    // adversarial corpus: every signature shares its low 16 bits, the
    // rest is random and far apart — the classic b=4 layout collides
    // ALL pairs in the table keyed on block 0 (the n²/2¹⁶ failure mode
    // at a billion docs); the wider b=6 keys cross into random bits
    val rng = new scala.util.Random(7)
    val n = 300
    val sigs = (0L until n.toLong).map(i => i -> (rng.nextLong() & Mask63 & ~0xFFFFL))
    val df = sigsDf(sigs).cache()
    val crossProduct = n.toLong * (n - 1) / 2
    val b4 = Dedup.simHashCandidates(df, 4).count()
    val b6 = Dedup.simHashCandidates(df, 6).count()
    assert(b4 >= crossProduct, "shared 16-bit chunk must blow up the b=4 candidate set")
    assert(b6 < crossProduct / 10,
      s"b=6 candidates ($b6) must stay far below the cross product ($crossProduct)")
    // and the wider layout still finds whatever true pairs exist
    assert(filtered(df, 6) == pairsAtMost3(sigs))
    df.unpersist()
  }
}

/** The fact build's customer-cardinality broadcasts are size-selected:
  * hinted below the row cap, left to AQE above it — and both layouts
  * produce the identical fact table.
  */
class FactBroadcastSpec extends AnyFunSuite {
  import graft.etl.StarSchema
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def broadcastHints(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined) => j
    }.size

  test("customer-derived build sides are hinted only below the row cap") {
    // small corpus (default branch): all 4 dim sides carry the hint
    assert(broadcastHints(StarSchema.factSales(spark, sf)) == 4)
    // at-scale branch: only the bounded domains (part, nation) stay
    // hinted; the two customer-derived sides are AQE's call
    assert(broadcastHints(StarSchema.factSales(spark, sf, forceUnhinted = true)) == 2)
  }

  test("both broadcast layouts build the identical fact table") {
    def rows(forced: Boolean) =
      StarSchema.factSales(spark, sf, forceUnhinted = forced)
        .collect().map(_.toSeq).toSeq
    assert(rows(forced = true) == rows(forced = false))
  }
}

/** The fact build derives its date and session-context keys and takes
  * the customer key from its one customer join. The dim-join chain it
  * replaced (date spine, distinct session-context dim, second customer
  * scan) is kept here as the reference, and both must build the same
  * rows — also where the derived keys fall back to '-1'.
  */
class FactKeyDerivationSpec extends AnyFunSuite {
  import graft.core.Tables
  import graft.etl.StarSchema
  import graft.functions.GraftFunctions.surrogateKey
  import org.apache.spark.sql.DataFrame
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The fact as a left-join chain over the dims themselves. */
  private def reference(dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val o = t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val cust = t.customer.select(col("c_custkey"), col("c_nationkey"))
    val dp = t.part.select(surrogateKey(col("p_partkey")).as("product_key"),
      col("p_partkey").cast("string").as("product_source_id"))
    val dc = t.customer.select(surrogateKey(col("c_custkey")).as("customer_key"),
      col("c_custkey").cast("string").as("customer_source_id"))
    val dl = t.nation.select(surrogateKey(col("n_nationkey")).as("location_key"),
      col("n_nationkey").cast("string").as("location_source_id"))
    val dd = StarSchema.dimDate(spark, dir).select(col("date_key"), col("full_date"))
    val pctx = StarSchema.stgEvents(spark, dir)
      .filter(col("event_type") === "purchase" && col("customer_source_id").isNotNull)
      .groupBy(col("customer_source_id").as("ctx_cust"))
      .agg(min(col("prop_k")).as("ctx_k"))
      .withColumn("ctx_type", lit("purchase"))
    val dsc = StarSchema.dimSessionContext(spark, dir)
      .toDF("session_context_key", "sc_cust", "sc_type", "sc_k")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(cust, col("o_custkey") === col("c_custkey"), "left")
      .join(dp, col("l_partkey").cast("string") === col("product_source_id"), "left")
      .join(dc, col("o_custkey").cast("string") === col("customer_source_id"), "left")
      .join(dl, col("c_nationkey").cast("string") === col("location_source_id"), "left")
      .join(dd, col("o_orderdate").cast("date").cast("string") === col("full_date"), "left")
      .join(pctx, col("o_custkey").cast("string") === col("ctx_cust"), "left")
      .join(dsc, col("ctx_cust") === col("sc_cust") &&
        col("ctx_type") === col("sc_type") && col("ctx_k") === col("sc_k"), "left")
      .select(
        surrogateKey(col("l_orderkey"), col("l_linenumber")).as("sales_order_key"),
        coalesce(col("product_key"), lit("-1")).as("product_key"),
        coalesce(col("customer_key"), lit("-1")).as("customer_key"),
        coalesce(col("location_key"), lit("-1")).as("location_key"),
        coalesce(col("session_context_key"), lit("-1")).as("session_context_key"),
        coalesce(col("date_key"), lit(-1)).as("date_key"),
        col("l_extendedprice").as("sales_amount"),
        col("l_quantity").as("quantity"),
        col("l_orderkey").cast("string").as("order_source_id"),
        col("l_linenumber").as("line_number"),
        col("o_orderdate").cast("date").cast("string").as("order_date"))
      .orderBy(col("order_source_id"), col("line_number"), col("product_key"),
        col("sales_amount"), col("quantity"))
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  private def assertMatchesReference(dir: String): Seq[Seq[Any]] = {
    val expected = rows(reference(dir))
    for (forced <- Seq(false, true))
      assert(rows(StarSchema.factSales(spark, dir, forceUnhinted = forced)) == expected,
        s"forceUnhinted=$forced")
    expected
  }

  test("derived keys equal the dim-join chain on sf0.001") {
    assertMatchesReference(sf)
  }

  test("derived keys equal the dim-join chain where they fall back to -1") {
    val t = Tables(spark, sf)
    // a purchasing customer with orders whose purchase events then all
    // lose their props: the purchase context has a NULL prop_k
    val cust = StarSchema.stgEvents(spark, sf)
      .filter(col("event_type") === "purchase" && col("prop_k").isNotNull)
      .join(t.orders, col("customer_source_id") === col("o_custkey").cast("string"))
      .agg(min(col("o_custkey"))).collect()(0).getLong(0)
    val rawEvents = spark.read.parquet(s"$sf/events.parquet")
    val events = rawEvents.withColumn("props",
      when(col("user_id") === cust && col("event_type") === "purchase",
        lit(null).cast("string")).otherwise(col("props")))
    // one line whose order is missing: no order date, no customer
    val rawLines = spark.read.parquet(s"$sf/lineitem.parquet")
    val orphanKey = t.orders.agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1
    val lines = rawLines.union(rawLines.limit(1).withColumn("l_orderkey", lit(orphanKey)))
    val dir = java.nio.file.Files.createTempDirectory("graft_factkeys").toString
    for (f <- new java.io.File(sf).listFiles()
         if f.getName != "events.parquet" && f.getName != "lineitem.parquet")
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/${f.getName}"), f.toPath)
    events.write.parquet(s"$dir/events.parquet")
    lines.write.parquet(s"$dir/lineitem.parquet")

    val expected = assertMatchesReference(dir)
    val custKey = StarSchema.dimCustomer(spark, dir)
      .filter(col("customer_source_id") === cust.toString)
      .select("customer_key").collect()(0).getString(0)
    // both fallbacks are live in the crafted data
    val orphan = expected.filter(_(8) == orphanKey.toString)
    assert(orphan.size == 1 && orphan.head(5) == -1)
    val ctx = expected.filter(_(2) == custKey)
    assert(ctx.nonEmpty && ctx.forall(_(4) == "-1"))
  }
}

/** Seeded randomized checks for the round's two most intricate code
  * paths: the connected-components loop vs a local union-find, and
  * incremental SCD2 vs the full rebuild on synthetic event streams
  * engineered to hit every boundary case.
  */
class Round5PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def unionFind(n: Int, pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  test("labelPropagate matches union-find on random graphs (chains, cliques, stars)") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      // mixed shapes: a long chain (deep diameter), a clique, a star,
      // random sparse edges, isolated pairs
      val chain = (0L until 40L).map(i => (trial * 1000L + i, trial * 1000L + i + 1))
      val clique = for (i <- 0 until 5; j <- i + 1 until 5)
        yield (trial * 2000L + i, trial * 2000L + j)
      val star = (1L to 6L).map(i => (trial * 3000L, trial * 3000L + i))
      val sparse = (0 until 20).map(_ =>
        (trial * 4000L + rng.nextInt(30), trial * 4000L + rng.nextInt(30)))
        .filter(p => p._1 != p._2)
      val pairs = chain ++ clique ++ star ++ sparse
      val expected = unionFind(pairs.size, pairs)
      val got = graft.operators.Dedup.labelPropagate(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("scd2Apply logic matches the full rebuild on synthetic boundary-case streams") {
    // exercise the apply path's branches directly against the same
    // full-rebuild windows, over streams crafted per user:
    //  u1: batch opens with the SAME state as current (drop branch)
    //  u2: batch opens with a different state
    //  u3: no batch events (open row survives)
    //  u4: batch-only user (new in batch, versions from 1)
    //  u5: random states across the boundary
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cut = graft.operators.Incremental.Scd2CutoffUs
    val rng = new scala.util.Random(47)
    val states = Seq("view", "click", "purchase")
    def ev(id: Long, u: Long, ts: Long, st: String) = (id, u, ts, st)
    var id = 0L
    def nid() = { id += 1; id }
    val rows = Seq(
      ev(nid(), 1, cut - 100, "view"), ev(nid(), 1, cut + 10, "view"),
      ev(nid(), 1, cut + 20, "click"),
      ev(nid(), 2, cut - 50, "view"), ev(nid(), 2, cut + 5, "purchase"),
      ev(nid(), 3, cut - 30, "click"),
      ev(nid(), 4, cut + 40, "view"), ev(nid(), 4, cut + 50, "view"),
      ev(nid(), 4, cut + 60, "purchase")) ++
      (0 until 40).map(_ => ev(nid(), 5,
        cut + rng.nextInt(200) - 100, states(rng.nextInt(3))))
    val evDf = rows.toDF("event_id", "user_id", "ts_us", "event_type")
    // full rebuild over the synthetic stream (same windows as
    // StarSchema.scd2History)
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val full = evDf
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("event_type"), col("ts_us"), col("valid_to_us"), col("version"))
      .orderBy("user_id", "version")
      .collect().map(_.toSeq).toSeq
    val inc = graft.operators.Incremental.scd2ApplyOn(evDf)
      .select(col("user_id"), col("state"), col("valid_from_us"), col("valid_to_us"), col("version"))
      .orderBy("user_id", "version")
      .collect().map(_.toSeq).toSeq
    assert(inc == full)
  }
}

/** Z-order layout: after a Morton-clustered write, every file is
  * simultaneously narrow in BOTH sort dimensions (usable min/max
  * pruning on either filter column), which no single-column sort
  * achieves.
  */
class ZOrderSpec extends AnyFunSuite {
  import graft.sources.ZOrder
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("zorderValue interleaves bits") {
    import spark.implicits._
    val r = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zorderValue(col("a"), col("b"))).collect()(0).getLong(0)
    // a=101 on even positions -> 10001, b=11 on odd -> 1010; or = 11011
    assert(r == 27L)
  }

  test("z-ordered files are narrow in both dimensions at once") {
    // BOTH inputs are normalized to the same 8-bit range first (the
    // standard rank/bucket pre-step of any z-order writer): with
    // unequal bit widths the wider dimension's high bits own the top
    // of the curve and the layout degenerates to a single-column sort
    val ev = graft.core.Tables(spark, sf).events
      .select(col("user_id"), col("ts_us"))
    val Seq(tmin, tmax) = ev.agg(min("ts_us"), max("ts_us")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]): @unchecked
    val Seq(uMin, uMax) = ev.agg(min("user_id"), max("user_id")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]): @unchecked
    val dims = ev.select(
      expr(s"(user_id - $uMin) * 256 div ${uMax - uMin + 1}").as("u8"),
      expr(s"(ts_us - $tmin) * 256 div ${tmax - tmin + 1}").as("t8"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    ZOrder.writeZOrdered(dims, s"$dir/z", "u8", "t8", 8)
    dims.repartitionByRange(8, col("t8")).sortWithinPartitions("t8")
      .write.parquet(s"$dir/t")

    def avgWidths(path: String): (Double, Double) = {
      val r = spark.read.parquet(path)
        .select(input_file_name().as("f"), col("u8"), col("t8"))
        .groupBy("f")
        .agg((max("u8") - min("u8")).as("wu"), (max("t8") - min("t8")).as("wt"))
        .agg(avg("wu"), avg("wt")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val Seq(guL, gtL) = dims.agg(max("u8") - min("u8"), max("t8") - min("t8"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]): @unchecked
    val (gu, gt) = (guL.toDouble, gtL.toDouble)
    val (zu, zt) = avgWidths(s"$dir/z")
    val (tu, tt) = avgWidths(s"$dir/t")
    // single-column time sort: perfect on time, useless on user
    assert(tt / gt < 0.3, s"time-sorted files should be time-narrow (${tt / gt})")
    assert(tu / gu > 0.8, s"time-sorted files span the full user range (${tu / gu})")
    // z-order: BOTH dimensions substantially narrower than global
    assert(zu / gu < 0.8, s"z-ordered files must be user-narrow (${zu / gu})")
    assert(zt / gt < 0.8, s"z-ordered files must be time-narrow (${zt / gt})")
    // and its worst dimension beats the single-column sort's worst
    assert(math.max(zu / gu, zt / gt) < math.max(tu / gu, tt / gt))
  }
}

/** Incremental SCD2 apply must equal the full-history rebuild — and
  * the data must actually exercise the boundary case (a batch whose
  * leading change repeats the dim's current state), else the apply
  * path's hardest branch is dead code in the gate.
  */
class Scd2ApplySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("incremental apply is bit-identical to the full rebuild") {
    val full = graft.etl.StarSchema.scd2History(spark, sf).collect().map(_.toSeq).toSeq
    val inc = graft.operators.Incremental.scd2Apply(spark, sf).collect().map(_.toSeq).toSeq
    assert(inc == full)
  }

  test("the leading-change-drop branch is live on this data") {
    import org.apache.spark.sql.expressions.Window
    val cut = graft.operators.Incremental.Scd2CutoffUs
    val ev = graft.core.Tables(spark, sf).events
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
    val wDesc = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
    val wAsc = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val lastBefore = ev.filter(col("ts_us") < cut)
      .withColumn("rn", row_number().over(wDesc)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("cur_state"))
    val firstAfter = ev.filter(col("ts_us") >= cut)
      .withColumn("rn", row_number().over(wAsc)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("batch_state"))
    val repeats = lastBefore.join(firstAfter, "user_id")
      .filter(col("cur_state") === col("batch_state")).count()
    assert(repeats > 0, "no user's batch opens with the current state - boundary branch untested")
  }
}

/** sequence_pack's global running total must be the two-level
  * distributed prefix sum — one unpartitioned window over the whole
  * corpus would drag every row through a single task at scale.
  */
class SequencePackSpec extends AnyFunSuite {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("corpus-side window is partitioned; only bucket totals take the global window") {
    val df = graft.operators.TextAnalysis.sequencePack(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected exactly 2 windows, got ${wins.size}")
    val (global, partitioned) = wins.partition(_.partitionSpec.isEmpty)
    assert(partitioned.size == 1, "the per-doc cumsum must be bucket-partitioned")
    assert(global.size == 1)
    // the lone unpartitioned window consumes the per-bucket AGGREGATE
    // (one row per 1000 docs), never the raw documents
    assert(global.head.child.collectFirst { case a: Aggregate => a }.isDefined,
      "global window must sit on the bucket-totals aggregate")
  }

  test("two-level prefix sum equals the straight scan") {
    val rows = graft.operators.TextAnalysis.sequencePack(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    var cum = 0L
    for ((_, n, cumEnd, packId, packOff) <- rows.sortBy(_._1)) {
      cum += n
      assert(cumEnd == cum, "running total must match a sequential scan")
      assert(packId == (cum - n) / graft.operators.TextAnalysis.PackCapacity)
      assert(packOff == (cum - n) % graft.operators.TextAnalysis.PackCapacity)
      assert(packOff >= 0 && packOff < graft.operators.TextAnalysis.PackCapacity)
    }
  }
}

/** The demo pipeline is the reference's full flow in one program:
  * binary dump → schema'd rows → star-schema staging/dims →
  * partitioned write → incremental load → streaming. Driving it here
  * keeps every stage wired (a broken seam fails the chain, not just a
  * print).
  */
class PipelineDemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("end-to-end chain reports the expected row counts per stage") {
    val chain = PipelineDemo.run(spark).toMap
    assert(chain("binary_dump_rows") == 3, "3 docs across 2 dump files")
    assert(chain("stg_events_rows") == 3)
    // contexts: (7, click, 1) and (8, view, 2)
    assert(chain("dim_session_context_rows") == 2)
    assert(chain("incremental_load1_rows") == 3)
    assert(chain("incremental_load2_rows") == 1, "late partition loads alone")
    assert(chain("stream_windowed_rows") >= 2)
    assert(chain("stream_closed_sessions") >= 1, "batch-2 arrival closes user 7's session")
  }
}

/** Iterative loops release the previous round's cache once the next is
  * materialized — executor storage stays O(1) frames over any number
  * of rounds (the round-4 verdict's storage-leak nit).
  */
class LoopCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("labelPropagate holds at most the final frame after a deep-chain run") {
    import spark.implicits._
    // a 7-node chain: diameter 6 → min-label propagation needs ≥5
    // rounds, enough to observe per-round frames accumulating if the
    // loop leaked them
    val pairs = (1L to 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = persistentCount
    graft.operators.Dedup.labelPropagate(pairs).collect()
    assert(persistentCount - before <= 1,
      "only the final round's labels may stay cached")
  }

  test("contamination df-cap drops a planted ubiquitous shingle's hot key") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // split ids by the operator's own deterministic md5 bucket
    val buckets = (1L to 80L).toDF("doc_id")
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT) % 100"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1) < 90)).toMap
    val trainIds = buckets.collect { case (id, true) => id }.toSeq.sorted.take(30)
    val testIds = buckets.collect { case (id, false) => id }.toSeq.sorted.take(2)
    assert(trainIds.size == 30 && testIds.size == 2)
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit" // 8 tokens
    val dir = java.nio.file.Files.createTempDirectory("graft_hotkey").toString
    (trainIds.map(id => (id, s"$boiler trainfiller$id")) ++
      testIds.map(id => (id, s"testfiller$id $boiler")))
      .map { case (id, text) => (id, text, "en", "web", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // uncapped: the boilerplate 8-gram is a 30-train-doc hot key —
    // every test doc collides with all 30
    val uncapped = TextAnalysis.contaminationCheck(spark, dir).collect()
    assert(uncapped.length == 2)
    assert(uncapped.forall(_.getLong(2) == 30L))
    // capped below its df: the hot key is dropped before the join and
    // the candidate volume collapses to zero
    val capped = TextAnalysis.contaminationCheck(spark, dir, maxTrainDf = 5L).collect()
    assert(capped.isEmpty, "no non-boilerplate overlap exists")
    // a cap ABOVE the df changes nothing
    val loose = TextAnalysis.contaminationCheck(spark, dir, maxTrainDf = 100L)
      .collect().map(_.toSeq).toSet
    assert(loose == uncapped.map(_.toSeq).toSet)
  }

  test("pagerank holds at most the final rank state after 5 iterations") {
    // round 18: the pair/degree/flat-edge frames are session-shared
    // (they survive OwnedCaches.release by design, like supportEdges)
    // and the loop's edge cache is harness-released — warm the shared
    // frames into the baseline and release owned caches per branch;
    // the assertion then still catches the real failure mode (leaked
    // PER-ITERATION rank frames, which are neither shared nor owned).
    def drain(target: Int): Int = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var now = persistentCount
      while (now > target && System.nanoTime() < deadline) {
        Thread.sleep(100); now = persistentCount
      }
      now
    }
    graft.operators.Graph.pagerank(spark, sf, forceCopartition = false).collect()
    graft.core.OwnedCaches.release()
    Thread.sleep(300)
    val before = persistentCount
    graft.operators.Graph.pagerank(spark, sf,
      forceCopartition = false, forceLoop = true).collect()
    graft.core.OwnedCaches.release()
    val leakedBcast = drain(before) - before
    graft.operators.Graph.pagerank(spark, sf, forceCopartition = true).collect()
    graft.core.OwnedCaches.release()
    val leakedCopart = drain(before + leakedBcast) - before - leakedBcast
    assert(leakedBcast <= 1, s"broadcast branch left $leakedBcast cached RDDs")
    assert(leakedCopart <= 1, s"co-partitioned branch left $leakedCopart cached RDDs")
    // the single-task branch reads only the shared frames
    graft.operators.Graph.pagerank(spark, sf, forceCopartition = false).collect()
    graft.core.OwnedCaches.release()
    assert(drain(before + leakedBcast + leakedCopart) - before - leakedBcast - leakedCopart <= 1,
      "single-task branch may retain only the edge cache")
  }
}
