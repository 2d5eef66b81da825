package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 scale-hardening: the "correct but wrong plan at 100 TB"
  * items — plan-shape regressions pinning the de-broadcast dedup
  * verification, the map-side Bloom prune, the layout-selected
  * cluster loop, and the 5-dim fact build.
  */
class ScaleShapeSpec extends AnyFunSuite {
  import graft.operators.{Dedup, Skew}
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def broadcastHints(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j
    }.size

  test("dedup verification joins carry no static broadcast of the fingerprint table") {
    // the per-doc fingerprint table is corpus-sized; a broadcast hint
    // on it is an executor OOM at 100 TB. The STATIC plan must leave
    // the verification joins unhinted (AQE may still promote them at
    // small SF — that's the point: runtime-sized, not hard-coded).
    assert(broadcastHints(Dedup.dedupNgramJaccard(spark, sf)) == 0,
      "ngram-jaccard verification must not statically broadcast")
    assert(broadcastHints(Dedup.dedupMinHashLsh(spark, sf)) == 0,
      "minhash-lsh verification must not statically broadcast")
  }

  test("bloom_prune membership test is map-side (no fact-side aggregate or explode)") {
    val df = Skew.bloomPrune(spark, sf)
    // the old shape exploded the fact x3 and re-grouped it by
    // o_orderkey — a bigger shuffle than the join it replaces
    val factAggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "o_orderkey")) => a
    }
    assert(factAggs.isEmpty, "fact stream must not be re-aggregated by o_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    // the 1-row bitmap rides a broadcast nested-loop join; the probe
    // side reaches the membership filter with zero exchanges
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "bitmap must join as a one-row broadcast")
  }

  test("bloom_prune passes exactly the all-positions-set orders") {
    // semantic re-check of the rewrite: every dim key must pass its
    // own filter (no false negatives), and every passing row has all 3
    // positions set (verified implicitly by is_true_match coverage)
    val out = Skew.bloomPrune(spark, sf).cache()
    val t = graft.core.Tables(spark, sf)
    val trueMatches = t.orders.join(
      t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
      col("o_custkey") === col("c_custkey")).count()
    assert(out.filter(col("is_true_match") === 1).count() == trueMatches,
      "bloom filter must never drop a true match")
    assert(out.count() >= trueMatches)
    out.unpersist()
  }

  test("labelPropagate partitioned branch matches the coalesced branch") {
    import spark.implicits._
    // chain (diameter 3) + triangle + isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val part = Dedup.labelPropagate(pairs, forcePartitioned = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val small = Dedup.labelPropagate(pairs, forcePartitioned = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(part == expected)
    assert(small == expected)
  }

  test("pagerank single-task, broadcast-loop, and co-partitioned branches are bit-identical") {
    // the integer rank grid makes the fixed point exact, so all three
    // layouts must agree to the last unit — any divergence means a
    // branch computes a different graph
    val single = graft.operators.Graph.pagerank(spark, sf, forceCopartition = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bcast = graft.operators.Graph.pagerank(spark, sf,
        forceCopartition = false, forceLoop = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val copart = graft.operators.Graph.pagerank(spark, sf, forceCopartition = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(single == bcast)
    assert(bcast == copart)
  }

  test("fact_sales joins five dimensions broadcast, incl. composite session context") {
    val f = graft.etl.StarSchema.factSales(spark, sf)
    val plan = f.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    // orders, customer, part, nation and the purchase context; the date
    // and session-context keys are derived without a join
    assert(broadcasts == 5, s"expected 5 broadcast joins, got $broadcasts")
    // both context branches must be live on this data: purchasing
    // customers resolve a real key, the rest coalesce to '-1'
    val keys = f.select("session_context_key").cache()
    assert(keys.filter(col("session_context_key") === "-1").count() > 0)
    assert(keys.filter(col("session_context_key") =!= "-1").count() > 0)
    keys.unpersist()
  }
}

/** Round-4 additions: the approx-quantile scale path, idempotent
  * partition overwrite, and the length-prefixed binary record source.
  */
class Round4SourcesSpec extends AnyFunSuite {
  import graft.sources.GraftSources
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("quantileProfileApprox respects the GK rank-error bound vs exact") {
    val accuracy = 10000
    val approx = graft.operators.Reports.quantileProfileApprox(spark, sf, accuracy)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val groups = graft.core.Tables(spark, sf).orders
      .select("o_orderpriority", "o_totalprice").collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        k -> rows.map(_.getDouble(1)).sorted }
    for ((prio, sortedVals) <- groups; (q, v) <- qs.zip(approx(prio))) {
      val n = sortedVals.length
      // GK guarantee: the returned element's rank is within n/accuracy
      // of the target rank (ties widen the valid rank interval)
      val lo = sortedVals.count(_ < v) + 1
      val hi = sortedVals.count(_ <= v)
      val target = q * n
      val err = if (target < lo) lo - target else if (target > hi) target - hi else 0.0
      assert(err <= n.toDouble / accuracy + 1.0,
        s"$prio q=$q: value $v rank [$lo,$hi] vs target $target (n=$n)")
      assert(sortedVals.contains(v), "approx_percentile must return a data element")
    }
  }

  test("overwritePartition replaces one partition idempotently, leaves others intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ovw").toString + "/t"
    GraftSources.writePartitioned(
      Seq((1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")).toDF("id", "v", "day"),
      root, Seq("day"))
    val replay = Seq((1, "a2"), (9, "z")).toDF("id", "v")
    GraftSources.overwritePartition(spark, replay, root, "day=d1")
    def read() = spark.read.option("basePath", root).parquet(root)
      .select("id", "v", "day").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val after = read()
    assert(after == Set((1, "a2", "d1"), (9, "z", "d1"), (3, "c", "d2")))
    // replaying the same partition again changes nothing (idempotent)
    GraftSources.overwritePartition(spark, replay, root, "day=d1")
    assert(read() == after)
    // and no staging leftovers
    assert(GraftSources.listPartitions(spark, root) == Seq("day=d1", "day=d2"))
  }

  test("contaminationCheck flags planted cross-split 8-gram overlap exactly") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // find one train and one test id under the deterministic split
    val splits = (1L to 60L).toDF("doc_id")
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT) % 100"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1) < 90)).toMap
    val trainId = splits.collectFirst { case (id, true) => id }.get
    val testId = splits.collectFirst { case (id, false) => id }.get
    val otherTrain = splits.collectFirst { case (id, true) if id != trainId => id }.get
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    val dir = java.nio.file.Files.createTempDirectory("graft_contam").toString
    Seq(
      (trainId, s"$shared plus unrelated trailing words here", "en", "web", 1L),
      (otherTrain, "completely different content with no overlap at all whatsoever", "en", "web", 1L),
      (testId, s"prefix words then $shared and more", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.contaminationCheck(spark, dir).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == testId)
    assert(out(0).getLong(1) == 1L, "exactly the one planted 8-gram is shared")
    assert(out(0).getLong(2) == 1L, "exactly one train doc is hit")
  }

  test("tfidfTopk emits contiguous ranks with non-increasing scores per doc") {
    val rows = graft.operators.TextAnalysis.tfidfTopk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(5), r.getDouble(4)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.nonEmpty)
    for ((_, rs) <- byDoc) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, "ranks contiguous from 1")
      assert(sorted.length <= 5)
      // scores non-increasing in rank order
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3))
    }
  }

  test("binaryRecords round-trips length-prefixed payloads across files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString
    val recs1 = Seq("""{"id":1,"name":"ada"}""", """{"id":2,"name":"bob"}""")
      .map(_.getBytes("UTF-8"))
    val recs2 = Seq("""{"id":3,"name":"cyd"}""").map(_.getBytes("UTF-8"))
    GraftSources.writeBinaryRecords(spark, recs1, s"$dir/part0.bin")
    GraftSources.writeBinaryRecords(spark, recs2, s"$dir/part1.bin")
    val raw = GraftSources.binaryRecords(spark, s"$dir/*.bin")
    assert(raw.count() == 3)
    val payloads = raw.collect().map(r => new String(r.getAs[Array[Byte]]("record"), "UTF-8")).toSet
    assert(payloads == (recs1 ++ recs2).map(new String(_, "UTF-8")).toSet)
    val typed = GraftSources.binaryRecordsJson(spark, s"$dir/*.bin",
      org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING"))
    assert(typed.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "ada"), (2, "bob"), (3, "cyd")))
  }
}
