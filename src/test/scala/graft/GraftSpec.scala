package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Bench-identical AQE partition-sizing policy (round 19) — tests
    // must exercise the same coalescing behavior the harnesses run
    graft.core.GraftSession.tunedShuffleConfs
      .foreach { case (k, v) => s.conf.set(k, v) }
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** The query execution of the one parquet file write under `dir`
  * that a block runs, captured off the session's execution listeners.
  */
object WritePlan {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
  import org.apache.spark.sql.util.QueryExecutionListener

  def capture(spark: SparkSession, dir: String)(body: => Unit): QueryExecution = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: InsertIntoHadoopFsRelationCommand
            if w.outputPath.toString.contains(dir) => seen.put(qe)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listeners are called off the listener bus, after the write returns
      val qe = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, s"no write under $dir reported")
      qe
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of the executed plan, adaptive query stages included. */
  def nodes(qe: QueryExecution): Seq[org.apache.spark.sql.execution.SparkPlan] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(qe.executedPlan) { case p => p }
}

class FunctionsSpec extends AnyFunSuite {
  import graft.functions.GraftFunctions._
  import org.apache.spark.sql.functions._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("parsePrice handles EU format with thousands dots") {
    assert(one(parsePrice(lit("5.165,00 €"))).toString == "5165.00")
    assert(one(parsePrice(lit("1.234.567,89 €"))).toString == "1234567.89")
  }
  test("parsePrice handles US format with thousands commas") {
    assert(one(parsePrice(lit("$1,234.56"))).toString == "1234.56")
    assert(one(parsePrice(lit("999.99 USD"))).toString == "999.99")
  }
  test("parsePrice returns null on garbage") {
    assert(one(parsePrice(lit("no price here"))) == null)
  }
  test("parsePrice handles prefix symbols and no-decimal amounts") {
    assert(one(parsePrice(lit("€ 12,50"))).toString == "12.50")
    assert(one(parsePrice(lit("1299 USD"))).toString == "1299.00")
    // comma-only thousands without decimals parses as US grouping
    assert(one(parsePrice(lit("$1,299"))).toString == "1299.00")
  }
  test("parseCurrency maps symbols and ISO codes") {
    assert(one(parseCurrency(lit("5.165,00 €"))) == "EUR")
    assert(one(parseCurrency(lit("$12.00"))) == "USD")
    assert(one(parseCurrency(lit("12.00 GBP"))) == "GBP")
  }
  test("parseRating extracts leading decimal") {
    assert(one(parseRating(lit("4.8 Sterne"))).toString == "4.80")
  }
  test("surrogateKey matches dbt md5-of-joined-casts semantics") {
    // md5('42') — dbt generate_surrogate_key of a single int key
    assert(one(surrogateKey(lit(42))) == "a1d0c6e83f027327d8461063f4ac58a6")
    // null key → md5('_null_')
    assert(one(surrogateKey(lit(null).cast("string"))) ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("_null_".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }
  test("cosineSim of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(cosineSim($"a", $"b").as("same"), cosineSim($"a", $"c").as("orth"))
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }
  test("shingles produces n-2 distinct word 3-grams") {
    val r = Seq("a b c d").toDF("t").select(shingles($"t", 3).as("s")).collect()(0)
      .getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    // short doc degrades to a single whole-text shingle
    val short = Seq("x y").toDF("t").select(shingles($"t", 3).as("s")).collect()(0)
      .getSeq[String](0)
    assert(short == Seq("x y"))
  }
}

class StarSchemaSpec extends AnyFunSuite {
  import graft.etl.StarSchema
  lazy val spark = TestSpark.spark

  test("fact_sales preserves line grain and dims resolve") {
    val f = StarSchema.factSales(spark, TestSpark.sf).cache()
    val n = f.count()
    assert(n == 6000) // line grain: one fact row per lineitem row
    // the fact key identifies the (order, line) grain — duplicate
    // source lines (present in this data) share a key by design, the
    // same idempotency the reference's md5(order, product) key has
    val distinctPairs = graft.core.Tables(spark, TestSpark.sf).lineitem
      .select("l_orderkey", "l_linenumber").distinct().count()
    assert(f.select("sales_order_key").distinct().count() == distinctPairs)
    // every dim key resolved on this data (no orphans)
    assert(f.filter(org.apache.spark.sql.functions.col("product_key") === "-1").count() == 0)
    assert(f.filter(org.apache.spark.sql.functions.col("date_key") === -1).count() == 0)
    f.unpersist()
  }

  test("fact_sales coalesces unmatched dimension keys to -1") {
    import org.apache.spark.sql.functions._
    // orphan: a lineitem pointing at a part that exists (all do) — so
    // instead check the mechanism directly on a crafted frame via the
    // same coalesce expression used in the fact build
    val tmp = java.nio.file.Files.createTempDirectory("graft_orphan").toString
    val t = graft.core.Tables(spark, TestSpark.sf)
    // copy tables, but drop half the parts so some lineitems orphan
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "events")
      .foreach(n => t match { case _ => spark.read.parquet(s"${TestSpark.sf}/$n.parquet")
        .write.parquet(s"$tmp/$n.parquet") })
    spark.read.parquet(s"${TestSpark.sf}/part.parquet")
      .filter(col("p_partkey") < 100).write.parquet(s"$tmp/part.parquet")
    val f = StarSchema.factSales(spark, tmp)
    assert(f.filter(col("product_key") === "-1").count() > 0)
    assert(f.filter(col("product_key") =!= "-1").count() > 0)
  }

  test("dim_date spine covers range plus 30-day pads, keys unique") {
    import org.apache.spark.sql.functions._
    val d = StarSchema.dimDate(spark, TestSpark.sf).cache()
    assert(d.select("date_key").distinct().count() == d.count())
    val mm = d.agg(min("full_date"), max("full_date")).collect()(0)
    assert(mm.getString(0) < "1995-01-01" && mm.getString(1) > "2001-08-01")
    d.unpersist()
  }
}

class DedupSpec extends AnyFunSuite {
  import graft.operators.{Ann, Dedup}
  lazy val spark = TestSpark.spark

  test("minhash-LSH recovers every exact ngram-jaccard pair (tau=0.5)") {
    val exact = Dedup.dedupNgramJaccard(spark, TestSpark.sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinHashLsh(spark, TestSpark.sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact == lsh) // 64-perm signatures: no misses at tau=0.5 here
  }

  test("LSH ANN recall@5 >= 0.5 vs brute force") {
    val bf = Ann.annTopkBruteforce(spark, TestSpark.sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.annLshTopk(spark, TestSpark.sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 50)
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF ANN recall@5 >= 0.35 vs brute force (nprobe 3 of 10 cells)") {
    val bf = Ann.annTopkBruteforce(spark, TestSpark.sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.annIvfTopk(spark, TestSpark.sf)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.35, s"recall=$recall")
  }

  test("keep_canonical retains cluster min-id representative plus unclustered docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_canon").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (0L, base, "en", "s", 10L),
      (1L, base + " lambda", "en", "s", 10L),
      (2L, base + " lambda mu", "en", "s", 10L),
      (3L, "totally different content with other words here now yes indeed", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val kept = Dedup.dedupKeepCanonical(spark, tmp).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L))
  }

  test("dedup_clusters unions transitive near-dup chains") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_clusters").toString
    // a~b and b~c are near-dups (high 3-gram overlap), a~c less so:
    // the cluster must still union all three transitively; d is noise
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (0L, base, "en", "s", 10L),
      (1L, base + " lambda", "en", "s", 10L),
      (2L, base + " lambda mu", "en", "s", 10L),
      (3L, "totally different content with other words here now yes indeed", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val clusters = Dedup.dedupClusters(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(0L) == 0L && clusters(1L) == 0L && clusters(2L) == 0L)
    assert(!clusters.contains(3L))
  }

  test("simhash of identical token sets collides at hamming 0") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_simhash").toString
    import spark.implicits._
    Seq(
      (0L, "spark join filter window group sort merge hash scan table", "en", "s", 10L),
      (1L, "spark join filter window group sort merge hash scan table", "en", "s", 10L),
      (2L, "completely different words entirely unrelated vocabulary here now ok fine", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.dedupSimHash(spark, tmp)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 2 || p._2 == 2))
  }
}

class PlanShapeSpec extends AnyFunSuite {
  import graft.etl.StarSchema
  import graft.operators.{Analytics, Skew}
  lazy val spark = TestSpark.spark

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("fact_sales broadcasts every dimension (map-only join stage)") {
    val plan = physicalPlan(StarSchema.factSales(spark, TestSpark.sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("fact_sales partitioned write runs no range shuffle and one hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val dir = java.nio.file.Files.createTempDirectory("graft_factwrite").toString
    val qe = WritePlan.capture(spark, dir) {
      graft.sources.GraftSources.writePartitioned(
        StarSchema.factSales(spark, TestSpark.sf), s"$dir/fact_sales", Seq("order_date"))
    }
    val nodes = WritePlan.nodes(qe)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    // the fact's final sort is dropped: the sink keeps no row order
    assert(!shuffles.exists(_.isInstanceOf[RangePartitioning]), qe.executedPlan.toString)
    // the purchase-context aggregate is the only shuffle
    assert(shuffles.count(_.isInstanceOf[HashPartitioning]) == 1, qe.executedPlan.toString)
    // orders, customer, part, nation and the purchase context
    assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 5, qe.executedPlan.toString)
  }

  test("q1 scan is pruned and aggregation is partial (map-side combine)") {
    val plan = physicalPlan(Analytics.q1PricingSummary(spark, TestSpark.sf))
    assert(!plan.contains("l_shipdate"), "unreferenced column not pruned")
    assert(plan.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("bucketed tables sort-merge join without exchange or sort") {
    import org.apache.spark.sql.functions._
    val t = graft.core.Tables(spark, TestSpark.sf)
    t.orders.write.format("parquet").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").mode("overwrite").saveAsTable("orders_bkt")
    t.lineitem.select("l_orderkey", "l_quantity").write.format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bkt")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // disable broadcast so the planner must pick the co-located SMJ
    // path (at real scale both sides are too big to broadcast anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"), col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        "bucketed join should be co-located (no shuffle)")
      assert(j.count() == 6000)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("BoundedTopK runs in partial mode (map-side combine)") {
    val plan = graft.operators.Analytics.topkPerGroupAgg(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_boundedtopk"),
      "custom aggregate must partial-aggregate or it shuffles O(rows)")
    assert(plan.contains("ObjectHashAggregate"))
  }

  test("sketch operators evaluate through the custom map-side expressions") {
    import graft.operators.{Ann, Dedup}
    // if a refactor silently drops back to the composed HOF/explode
    // forms, the 10-100x interpreted-lambda penalty returns — pin the
    // custom expressions into the executed plans
    val simhash = physicalPlan(Dedup.dedupSimHash(spark, TestSpark.sf)).toLowerCase
    assert(simhash.contains("simhash64"))
    val minhash = physicalPlan(Dedup.dedupMinHashLsh(spark, TestSpark.sf)).toLowerCase
    assert(minhash.contains("minhashsig"))
    val ngram = physicalPlan(Dedup.dedupNgramJaccard(spark, TestSpark.sf)).toLowerCase
    assert(ngram.contains("sortedhashes") && ngram.contains("sortedintersectcount"))
    val lsh = physicalPlan(Ann.annLshTopk(spark, TestSpark.sf)).toLowerCase
    assert(lsh.contains("rademachersketch"))
    assert(!lsh.contains("cartesianproduct"))
  }

  test("q4 plans as a semi join; q6 pushes every predicate to the scan") {
    val q4 = physicalPlan(Analytics.q4OrderPriority(spark, TestSpark.sf))
    assert(q4.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(!q4.contains("CartesianProduct"))
    val q6e = Analytics.q6Revenue(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(q6e.contains("PushedFilters") &&
      q6e.contains("IsNotNull(l_shipdate)"), "filters not reaching the scan")
    assert(q6e.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("cube computes all grouping sets in one shuffle with broadcast dims") {
    val plan = physicalPlan(graft.operators.Reports.cubeSales(spark, TestSpark.sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast dim joins, got $broadcasts")
    // the 4 grouping sets must ride an Expand + aggregation, not a
    // per-level UNION of scans (exact node counts vary with AQE state
    // and cache reuse from other suites, so pin the shape only)
    assert(plan.contains("Expand"), "CUBE should plan as Expand+Aggregate")
    assert(!plan.contains("Union"), "grouping sets must not be a UNION of scans")
  }

  test("HLL aggregates partially at both stages (sketch shuffle is tiny)") {
    val plan = physicalPlan(graft.operators.Sketches.approxDistinctHll(spark, TestSpark.sf))
    assert(plan.contains("partial_max") || plan.contains("partial_sum"),
      "register build must map-side combine")
  }

  test("custom AsOfJoinExec plans with engine-inserted exchanges and matches the composed form") {
    import graft.operators.Reports
    val custom = Reports.asofEventOrderCustom(spark, TestSpark.sf)
    val plan = physicalPlan(custom)
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("AsOfJoin"), "custom exec not in the plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length >= 2,
      "EnsureRequirements should cluster both sides on the user key")
    val composed = Reports.asofEventOrder(spark, TestSpark.sf)
    assert(custom.collect().toSeq == composed.collect().toSeq)
    // after execution the adaptive final plan must show the exec
    // INSIDE a whole-stage codegen stage (the "*(n)" prefix)
    val finalPlan = custom.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(finalPlan).isDefined,
      "AsOfJoin must run inside WholeStageCodegen")
  }

  test("salted aggregation equals the direct groupBy") {
    import org.apache.spark.sql.functions._
    val direct = graft.core.Tables(spark, TestSpark.sf).lineitem
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedAgg(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getAs[Number](2).longValue)).toMap
    assert(direct == salted)
  }
}

class ExtensionsSpec extends AnyFunSuite {
  test("registered graft functions are callable from plain SQL") {
    // the extensions build path (withExtensions) needs a fresh JVM and
    // is exercised by PipelineDemo; here we drive the runtime-registry
    // path against the shared session
    val s = TestSpark.spark
    graft.core.GraftSession.register(s)
    val dot = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val sh = s.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    // sketch + set + aggregate functions, pure SQL
    val inter = s.sql(
      "SELECT graft_sorted_intersect(graft_sorted_hashes(array('a','b','c')), " +
        "graft_sorted_hashes(array('b','c','d'))) AS n").collect()(0).getInt(0)
    assert(inter == 2)
    val topk = s.sql(
      "SELECT graft_topk(2, struct(CAST(v AS DOUBLE), id)) AS t FROM " +
        "VALUES (1.0, 10L), (3.0, 30L), (2.0, 20L) AS t(v, id)")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(topk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 30L), (2.0, 20L)))
  }

  test("every graft function resolves from plain SQL on a fresh session after register") {
    val s = TestSpark.spark.newSession()
    graft.core.GraftSession.register(s)
    val calls = Seq(
      "graft_dot(array(1.0d), array(2.0d))",
      "graft_shingles('a b c', 2)",
      "graft_topk(1, struct(1.0d, 1L))",
      "graft_simhash(array('a', 'b'))",
      "graft_minhash(array('a b', 'b c'))",
      "graft_sorted_hashes(array('a', 'b'))",
      "graft_sorted_intersect(array(1L, 2L), array(2L))",
      "graft_rademacher(array(0.5d, -0.25d))",
      "graft_rolling_hashes('some text to fingerprint')",
      "graft_unit(array(3.0d, 4.0d))",
      "graft_srp126(array(0.5d, -0.25d))",
      "graft_winnowed_hashes('some text to fingerprint')",
      "graft_qunit(array(3.0d, 4.0d))",
      "graft_spacesaving(2, 7L)",
      "graft_grams('a b c', 2)")
    val names = calls.map(_.takeWhile(_ != '('))
    assert(names.distinct.size == 15)
    // GraftExtensions injects the same table that register reads
    assert(graft.functions.sqlFunctions.map(_.name).toSet == names.toSet)
    val unresolved = calls.filter { c =>
      try { s.sql(s"SELECT $c").collect(); false }
      catch { case e: org.apache.spark.sql.AnalysisException => true }
    }
    assert(unresolved.isEmpty, s"not callable from SQL: ${unresolved.mkString(", ")}")
  }
}

class CentroidSpec extends AnyFunSuite {
  import graft.operators.Ann
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("embedding centroids are elementwise means per label") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cent").toString
    Seq(
      (0L, Seq(1.0f, 3.0f), 1),
      (1L, Seq(3.0f, 5.0f), 1),
      (2L, Seq(10.0f, 10.0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$tmp/embeddings.parquet")
    val rows = Ann.embeddingCentroids(spark, tmp).collect()
    // (label, dim) -> micro-unit quantized mean / n_vectors
    val cells = rows.map(r => (r.getInt(0), r.getInt(1)) ->
      (r.getDouble(3), r.getLong(2))).toMap
    assert(cells((1, 0)) == (2.0e6, 2L) && cells((1, 1)) == (4.0e6, 2L))
    assert(cells((2, 0)) == (10.0e6, 1L) && cells((2, 1)) == (10.0e6, 1L))
  }
}

class SourcesSpec extends AnyFunSuite {
  import graft.sources.GraftSources
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jsonl and csv readers honor explicit schemas") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_src").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/a.jsonl"),
      "{\"id\": 1, \"name\": \"x\"}\n{\"id\": 2, \"name\": \"y\"}\n")
    val j = GraftSources.jsonl(spark, s"$tmp/a.jsonl", schema)
    assert(j.schema == schema && j.count() == 2)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/b.csv"),
      "id,name\n1,x\n2,y\nnot-a-long,z\n")
    val c = GraftSources.csv(spark, s"$tmp/b.csv", schema)
    // collect, not count: count() prunes all columns so malformed
    // rows are never parsed (and never dropped)
    assert(c.collect().length == 2) // malformed row dropped
  }

  test("partitioned sink caps records per file (skew guard)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cap").toString
    val table = s"$tmp/capped"
    // 100 rows in ONE partition value with a 30-record file cap →
    // must split into >= 4 files instead of one skewed file
    val df = spark.range(100).toDF("id")
      .withColumn("event_date", org.apache.spark.sql.functions.lit("2024-01-01"))
      .repartition(1)
    GraftSources.writePartitioned(df, table, Seq("event_date"), maxRecordsPerFile = 30)
    val files = new java.io.File(s"$table/event_date=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 4, s"expected >=4 capped files, got $files")
    assert(spark.read.parquet(table).count() == 100)
  }

  test("partitioned sink keeps a sort under a limit, a persisted one, and one under rand()") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val base = spark.range(200).repartition(3)
      .select(col("id"), concat(lit("d"), col("id") % 4).as("event_date"))
    def sorted = base.orderBy(col("id").desc)
    def hasGlobalSort(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.optimizedPlan.exists { case s: Sort => s.global; case _ => false }
    def write(name: String, df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_keep_$name").toString
      val qe = WritePlan.capture(spark, dir) {
        GraftSources.writePartitioned(df, s"$dir/t", Seq("event_date"))
      }
      val back = spark.read.parquet(s"$dir/t").select(df.columns.map(col): _*)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(back == df.collect().map(_.toSeq).sortBy(_.toString).toSeq, name)
      qe
    }
    // the limit picks its rows by the sort
    assert(hasGlobalSort(write("limit", sorted.limit(17))))
    // a persisted frame is written from its cache, also under a projection
    val cached = sorted.persist()
    try {
      cached.count()
      for ((name, df) <- Seq("persisted" -> cached,
          "persisted_projected" -> cached.select(col("event_date"), col("id"))))
        assert(WritePlan.nodes(write(name, df)).exists(_.isInstanceOf[InMemoryTableScanExec]), name)
    } finally cached.unpersist()
    // a seeded rand() above the sort draws by row position, so the
    // written draws equal the collected ones only if the sort stays
    assert(hasGlobalSort(write("rand", sorted.withColumn("r", rand(7)))))
  }

  test("partitioned sink + incremental loader reads only new partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val table = s"$tmp/events_by_date"
    val state = s"$tmp/_state.txt"
    val d1 = Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"))
      .toDF("id", "event_date")
    GraftSources.writePartitioned(d1, table, Seq("event_date"))
    val (first, newParts1) = GraftSources.incrementalLoad(spark, table, state)
    assert(newParts1.toSet ==
      Set("event_date=2024-01-01", "event_date=2024-01-02"))
    assert(first.get.count() == 3)
    // second load with no new data → nothing
    val (second, newParts2) = GraftSources.incrementalLoad(spark, table, state)
    assert(second.isEmpty && newParts2.isEmpty)
    // append a new day → only it is read
    GraftSources.writePartitioned(
      Seq((4L, "2024-01-03")).toDF("id", "event_date"), table, Seq("event_date"))
    val (third, newParts3) = GraftSources.incrementalLoad(spark, table, state)
    assert(newParts3 == Seq("event_date=2024-01-03"))
    assert(third.get.select("id").as[Long].collect().toSeq == Seq(4L))
  }
}

class StreamingSpec extends AnyFunSuite {
  import graft.streaming.EventStream
  import org.apache.spark.sql.functions._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBatch(dir: String, name: String, rows: Seq[EventStream.Ev]): Unit = {
    val lines = rows.map(e =>
      s"""{"event_id":${e.event_id},"ts_us":${e.ts_us},"user_id":${e.user_id},"event_type":"${e.event_type}","value":${e.value}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("\n"))
  }

  private val Min = 60L * 1000000

  test("windowed counts aggregate per 5-min window and type") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream1").toString
    writeBatch(tmp, "b1.jsonl", Seq(
      EventStream.Ev(1, 1 * Min, 10, "click", 1.0),
      EventStream.Ev(2, 2 * Min, 11, "click", 2.0),
      EventStream.Ev(3, 7 * Min, 10, "view", 5.0)))
    val q = EventStream.windowedCounts(spark, tmp).writeStream
      .outputMode("complete").format("memory").queryName("wc").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("wc").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("as-of join leaves users without any prior order unmatched") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_asof").toString
    // copy orders/events but restrict orders to custkeys >= 100:
    // users below 100 must get null last_order_key
    spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .filter(col("o_custkey") >= 100).write.parquet(s"$tmp/orders.parquet")
    val ev = graft.core.Tables(spark, TestSpark.sf).events
    ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events_raw")
    // events table must keep its original nanos-long ts column; write
    // via the already-long representation
    spark.read.parquet(s"$tmp/events_raw").write.parquet(s"$tmp/events.parquet")
    val asof = graft.operators.Reports.asofEventOrder(spark, tmp)
    val unmatched = asof.filter(col("user_id") < 100 && col("last_order_key").isNotNull).count()
    val matched = asof.filter(col("user_id") >= 100 && col("last_order_key").isNull).count()
    assert(unmatched == 0, "users without orders must stay unmatched")
    assert(matched == 0, "users with orders must all match")
  }

  test("streaming dedup suppresses replayed event ids across batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    writeBatch(tmp, "b1.jsonl", Seq(
      EventStream.Ev(1, 1 * Min, 1, "click", 1.0),
      EventStream.Ev(2, 2 * Min, 1, "click", 2.0)))
    val q = EventStream.dedupStream(spark, tmp).writeStream
      .outputMode("append").format("memory").queryName("dedup_s").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_s").count() == 2)
      // replay event 2 plus a new event 3 in a second batch
      writeBatch(tmp, "b2.jsonl", Seq(
        EventStream.Ev(2, 2 * Min, 1, "click", 2.0),
        EventStream.Ev(3, 3 * Min, 1, "view", 3.0)))
      q.processAllAvailable()
      val ids = spark.table("dedup_s").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // the replay of id 2 was dropped
    } finally q.stop()
  }

  test("streaming windowed agg writes finalized windows to a parquet file sink") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    val in = s"$tmp/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.jsonl", Seq(
      EventStream.Ev(1, 1 * Min, 1, "click", 1.0),
      EventStream.Ev(2, 2 * Min, 1, "click", 2.0)))
    val q = EventStream.windowedCounts(spark, in).writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // a much-later batch advances the watermark past the first window
      writeBatch(in, "b2.jsonl", Seq(EventStream.Ev(3, 60 * Min, 1, "view", 3.0)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() >= 1) // first window finalized and flushed
      val first = out.orderBy("win_start").collect()(0)
      assert(first.getLong(3) == 2L && first.getDouble(4) == 3.0)
    } finally q.stop()
  }

  test("stateful sessionize emits closed sessions matching batch semantics") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    // user 1: two sessions separated by a 40-min gap; second session
    // stays OPEN (nothing after it), so only the first is emitted.
    writeBatch(tmp, "b1.jsonl", Seq(
      EventStream.Ev(1, 0 * Min, 1, "click", 1.0),
      EventStream.Ev(2, 10 * Min, 1, "click", 2.0),
      EventStream.Ev(3, 50 * Min, 1, "view", 3.0)))
    val q = EventStream.sessionizeStream(spark, tmp).writeStream
      .outputMode("append").format("memory").queryName("sess").start()
    try { q.processAllAvailable() } finally q.stop()
    val closed = spark.table("sess")
      .select("user_id", "session_start_us", "session_end_us", "n_events", "value_sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(closed.toSeq == Seq((1L, 0L, 10 * Min, 2L, 3.0)))
  }
}
