package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: the globalRankCumsum two-level prefix sum the
  * customer-grain window rewrites ride on (VERDICT r12 #1/#3), and the
  * round's new queries. The SharedFrames lifecycle tests live in
  * SharedFramesSpec.
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("graft_unit normalizes in one pass and matches the declarative form bit-for-bit") {
    import spark.implicits._
    graft.functions.UnitVector.register(spark)
    graft.functions.DotProduct.register(spark)
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(0.1f, 0.2f, 0.3f)))
      .toDF("vec_id", "embedding")
    val norm = sqrt(aggregate(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")), lit(0.0), (a, v) => a + v))
    val both = df.select(
      call_function("graft_unit", col("embedding")).as("fast"),
      transform(col("embedding"), x => x.cast("double") / norm).as("slow"))
      .collect()
    both.foreach { r =>
      val f = r.getSeq[Double](0); val s = r.getSeq[Double](1)
      assert(f.size == s.size)
      f.zip(s).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b), s"$a != $b bitwise")
      }
    }
    // the codegen'd expression must actually be in the executed ANN
    // plan — a silent fallback to the O(dim²) lambda form is the
    // regression this pin catches
    val plan = graft.operators.Ann.annTopkBruteforce(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("unitvector"),
      s"bruteforce must normalize through the UnitVector expression:\n$plan")
  }

  test("globalRankCumsum equals the single-window rank + running sum") {
    import spark.implicits._
    val df = Seq((5L, "a"), (3L, "b"), (5L, "c"), (1L, "d"), (8L, "e"),
      (3L, "f"), (8L, "g"), (2L, "h")).toDF("v", "id")
    val got = graft.operators.Commerce.globalRankCumsum(df,
        -floor(col("v") / lit(2)), Seq(col("v").desc, col("id")),
        col("v"), "rk", "cum")
      .select(col("id"), col("rk"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val w = Window.orderBy(col("v").desc, col("id"))
    val want = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("rk"), col("cum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.sameElements(want))
  }

  test("ExactLn tracks Math.log within 5e-14 absolute across its domain") {
    import graft.functions.ExactLn
    import spark.implicits._
    // log-spaced sweep over the documented domain [2^-40, 2^40],
    // plus the near-1 cancellation band the Sterbenz argument covers
    val xs = (-40 to 40).map(e => math.pow(2.0, e)) ++
      Seq(1.0 - 1e-9, 1.0 + 1e-9, 0.999, 1.001, 3.0, 1.0 / 3.0,
        9.094947017729282e-13, 1.0995116277760e12)
    val got = xs.toDF("x")
      .withColumn("__y", expr(ExactLn.yExpr("x")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("ln_x", expr(ExactLn.lnExpr("__z")))
      .select("x", "ln_x").collect()
    got.foreach { r =>
      val x = r.getDouble(0); val ln = r.getDouble(1)
      assert(math.abs(ln - math.log(x)) < 5e-14,
        s"ExactLn($x) = $ln vs Math.log = ${math.log(x)}")
    }
  }

  test("psi_drift: full spine, non-negative total, consistent smoothing") {
    val rows = graft.operators.Stats.psiDrift(spark, sf).collect()
    assert(rows.length == 16, "every bin of the spine must be present")
    val total = rows.map(_.getAs[Double]("psi_total")).distinct
    assert(total.length == 1, "psi_total must be the same on every row")
    assert(total.head >= -1e-9, s"PSI is a sum of (p-q)ln(p/q) >= 0 terms: $total")
    // each contribution individually non-negative (p−q and ln(p/q) share sign)
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_contrib") >= -1e-12)
      assert(r.getAs[Double]("ref_pct") > 0 && r.getAs[Double]("cur_pct") > 0,
        "Laplace smoothing must keep every bin strictly positive")
    }
  }

  test("js_divergence_drift: bounded by ln 2, proportions sum to 1") {
    val rows = graft.operators.Stats.jsDivergenceDrift(spark, sf).collect()
    val total = rows.map(_.getAs[Double]("js_total")).distinct
    assert(total.length == 1)
    assert(total.head >= -1e-9 && total.head <= math.log(2.0) + 1e-9,
      s"JS divergence must lie in [0, ln 2]: $total")
    assert(math.abs(rows.map(_.getAs[Double]("p_first")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("p_second")).sum - 1.0) < 1e-9)
  }

  test("kruskal_wallis: rank-sum identity, tie correction only inflates") {
    val rows = graft.operators.Stats.kruskalWallis(spark, sf).collect()
    assert(rows.length == 5)
    val n = rows.head.getAs[Long]("n_orders")
    // Σ n_g · mean_rank = N(N+1)/2 — the rank bookkeeping must cover
    // every order exactly once with average ranks
    val total = rows.map(r => r.getAs[Long]("n_g") * r.getAs[Double]("mean_rank")).sum
    assert(math.abs(total - n.toDouble * (n + 1) / 2) < 1e-6 * total,
      s"rank sums must partition N(N+1)/2: $total vs ${n.toDouble * (n + 1) / 2}")
    val h = rows.head.getAs[Double]("h_stat")
    val ht = rows.head.getAs[Double]("h_tied")
    assert(h >= -1e-9 && ht >= h - 1e-12,
      s"tie correction divides by (1 - T) <= 1 so h_tied >= h_stat: $h, $ht")
  }

  test("levene_test: non-negative variance decomposition on deviations") {
    val r = graft.operators.Stats.leveneTest(spark, sf).collect().head
    assert(r.getAs[Double]("ssb_z") >= -1e-9)
    assert(r.getAs[Double]("ssw_z") >= -1e-9)
    assert(r.getAs[Double]("w_stat") >= -1e-9)
    assert(r.getAs[Int]("k_groups") == 5)
  }

  test("cohens_kappa: chance-corrected identity and bounds") {
    val r = graft.operators.TextAnalysis.cohensKappa(spark, sf).collect().head
    val po = r.getAs[Double]("po"); val pe = r.getAs[Double]("pe")
    val k = r.getAs[Double]("kappa")
    assert(po >= 0 && po <= 1 && pe > 0 && pe < 1)
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-12)
    assert(k <= 1.0 + 1e-12)
  }

  test("g_test: non-negative statistic, grid-consistent dof") {
    val r = graft.operators.Stats.gTest(spark, sf).collect().head
    assert(r.getAs[Double]("g_stat") >= -1e-6,
      "G = 2 sum O ln(O/E) is non-negative by Gibbs' inequality")
    assert(r.getAs[Int]("dof") ==
      (r.getAs[Long]("n_rows") - 1) * (r.getAs[Long]("n_cols") - 1))
  }

  test("shannon_entropy_profile: entropy bounds and evenness in [0,1]") {
    val rows = graft.etl.QualityChecks.shannonEntropyProfile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("n_distinct")
      val h = r.getAs[Double]("entropy_nats")
      val ev = r.getAs[Double]("evenness")
      assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-9,
        s"0 <= H <= ln k: H=$h k=$k")
      assert(ev >= -1e-9 && ev <= 1.0 + 1e-9)
    }
  }

  test("token_entropy_by_source: KL >= 0 by Gibbs, entropy <= ln(vocab)") {
    val rows = graft.operators.TextAnalysis.tokenEntropyBySource(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy_nats")
      val kl = r.getAs[Double]("kl_nats")
      val v = r.getAs[Long]("vocab_size")
      assert(kl >= -1e-7, s"KL(src||corpus) must be >= 0: $kl")
      assert(h >= -1e-9 && h <= math.log(v.toDouble) + 1e-9)
    }
  }

  test("discount_depth_response: shares sum to 1, depth spine exact-integer") {
    val rows = graft.operators.Reports.discountDepthResponse(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 11)
    assert(math.abs(rows.map(_.getAs[Double]("rev_share")).sum - 1.0) < 1e-9)
    rows.foreach(r => assert((0 to 10).contains(r.getAs[Int]("depth_pct"))))
  }

  test("rich_club_coefficient: club nesting is monotone, phi bounded by density") {
    val rows = graft.operators.Graph.richClubCoefficient(spark, sf).collect()
    assert(rows.length == 6)
    // larger k → smaller club: both node and edge counts non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_nodes") >= b.getAs[Long]("n_nodes"))
      assert(a.getAs[Long]("n_edges") >= b.getAs[Long]("n_edges"))
    }
    rows.foreach { r =>
      val n = r.getAs[Long]("n_nodes"); val e = r.getAs[Long]("n_edges")
      val phi = r.getAs[Double]("phi")
      assert(phi >= -1e-12 && phi <= 1.0 + 1e-12, s"phi out of [0,1]: $phi")
      if (n >= 2) assert(e <= n * (n - 1) / 2, "edge count exceeds the complete club")
    }
  }

  test("hits_scores: both roles filled, grid-bounded, rank-ordered") {
    val rows = graft.operators.Graph.hitsScores(spark, sf).collect()
    val byRole = rows.groupBy(_.getAs[String]("role"))
    assert(byRole.keySet == Set("hub", "authority"))
    byRole.foreach { case (_, rs) =>
      assert(rs.length == 10)
      val scores = rs.map(_.getAs[Long]("score"))
      assert(scores.forall(s => s > 0 && s <= 1000000000000L * 1000),
        "normalized state must stay on the 10^12 grid's magnitude")
      assert(scores.sameElements(scores.sortBy(-_)), "rows must be rank-ordered")
    }
  }

  test("bigram_perplexity_by_source: positive nats, every source scored") {
    val rows = graft.operators.TextAnalysis.bigramPerplexityBySource(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("cross_entropy_nats")
      assert(h > 0 && !h.isNaN && !h.isInfinite,
        s"held-out cross-entropy must be positive finite: $h")
      assert(r.getAs[Long]("n_bigrams") >= r.getAs[Long]("n_docs"),
        "every scored doc contributes at least one bigram")
    }
  }

  test("calibration_curve: rates in [0,1], one global Brier, band containment") {
    val rows = graft.operators.Stats.calibrationCurve(spark, sf).collect()
    assert(rows.nonEmpty)
    val briers = rows.map(_.getAs[Double]("brier_score")).distinct
    assert(briers.length == 1 && briers.head >= 0 && briers.head <= 1)
    rows.foreach { r =>
      val b = r.getAs[Long]("band")
      val mp = r.getAs[Double]("mean_pred"); val or = r.getAs[Double]("obs_rate")
      assert(or >= -1e-12 && or <= 1 + 1e-12)
      assert(mp >= b / 10.0 - 1e-9 && mp <= (if (b == 9) 1.0 else (b + 1) / 10.0) + 1e-9,
        s"band $b mean_pred $mp outside its band")
    }
  }

  test("mantel_haenszel_effect: pooled ratio consistent and between stratum extremes") {
    val rows = graft.operators.Commerce.mantelHaenszelEffect(spark, sf).collect()
    // the stratum spine is data-driven: ≤5 market segments, only those
    // with at least one event-active customer appear
    assert(rows.nonEmpty && rows.length <= 5)
    val mh = rows.map(_.getAs[Double]("rr_mh")).distinct
    val crude = rows.map(_.getAs[Double]("rr_crude")).distinct
    assert(mh.length == 1 && crude.length == 1)
    assert(mh.head > 0 && crude.head > 0)
    val strata = rows.map(_.getAs[Double]("rr_stratum")).filter(_ > 0)
    // MH is a convex combination of stratum ratios: it cannot escape their range
    assert(mh.head >= strata.min - 1e-9 && mh.head <= strata.max + 1e-9,
      s"rr_mh ${mh.head} outside stratum range [${strata.min}, ${strata.max}]")
  }

  test("markov_removal_attribution: removal only loses mass, shares partition 1") {
    val rows = graft.operators.Stats.markovRemovalAttribution(spark, sf).collect()
    assert(rows.length == 4)
    val pf = rows.map(_.getAs[Double]("p_full")).distinct
    assert(pf.length == 1 && pf.head >= 0 && pf.head <= 1)
    rows.foreach { r =>
      val pr = r.getAs[Double]("p_removed")
      val ef = r.getAs[Double]("removal_effect")
      // the removed recursion is term-wise dominated by the full one
      assert(pr >= -1e-12 && pr <= pf.head + 1e-12,
        s"p_removed $pr must not exceed p_full ${pf.head}")
      assert(ef >= -1e-12 && ef <= 1 + 1e-12)
    }
    val shareSum = rows.map(_.getAs[Double]("attribution_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9 || math.abs(shareSum) < 1e-12,
      s"shares must partition 1 (or all-zero when no effect): $shareSum")
  }

  test("sprt_trajectory: cumulative counts monotone, decision matches boundary") {
    val rows = graft.operators.Stats.sprtTrajectory(spark, sf).collect()
    assert(rows.nonEmpty)
    var lastN = 0L
    rows.foreach { r =>
      val n = r.getAs[Long]("n_cum")
      assert(n >= lastN, "cumulative trials must be monotone"); lastN = n
      val llr = r.getAs[Double]("llr")
      val ub = r.getAs[Double]("upper_bound"); val lb = r.getAs[Double]("lower_bound")
      assert(math.abs(ub - math.log(19.0)) < 1e-12 && math.abs(lb + ub) < 1e-15)
      val want = if (llr >= ub) "reject_h0" else if (llr <= lb) "accept_h0" else "continue"
      assert(r.getAs[String]("decision") == want)
    }
  }

  test("weighted_sample_topk: full spine, keys non-positive and ordered, reproducible") {
    val a = graft.operators.TextAnalysis.weightedSampleTopk(spark, sf).collect()
    assert(a.length == 100)
    assert(a.map(_.getAs[Int]("rank")).sameElements(1 to 100))
    val keys = a.map(_.getAs[Double]("sample_key"))
    assert(keys.forall(_ <= 1e-15), "ln(u)/w with u in (0,1] is non-positive")
    assert(keys.zip(keys.tail).forall { case (x, y) => x >= y }, "keys must be sorted desc")
    // identity-hashed u: a rerun returns the identical sample
    val b = graft.operators.TextAnalysis.weightedSampleTopk(spark, sf).collect()
    assert(a.map(_.getAs[Long]("doc_id")).sameElements(b.map(_.getAs[Long]("doc_id"))))
  }

  test("ann_ndcg_eval: ndcg in [0,1], idcg dominates dcg, perfect when all relevant") {
    val rows = graft.operators.Ann.annNdcgEval(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val dcg = r.getAs[Double]("dcg"); val idcg = r.getAs[Double]("idcg")
      val ndcg = r.getAs[Double]("ndcg"); val nRel = r.getAs[Long]("n_rel")
      assert(ndcg >= -1e-12 && ndcg <= 1.0 + 1e-9, s"ndcg out of [0,1]: $ndcg")
      assert(idcg >= dcg - 1e-9, "the ideal reranking cannot score lower")
      if (nRel == r.getAs[Long]("k")) assert(math.abs(ndcg - 1.0) < 1e-9,
        "an all-relevant list is already ideally ranked")
      if (nRel == 0) assert(ndcg == 0.0)
    }
  }

  test("hill_tail_index: positive estimator consistent with its sum") {
    val r = graft.operators.Reports.hillTailIndex(spark, sf).collect().head
    assert(r.getAs[Long]("k") == 100)
    val s = r.getAs[Double]("sum_log_ratio")
    assert(s >= 0, "top-k ratios are >= 1 so log-sum is non-negative")
    val ti = r.getAs[Double]("tail_index")
    if (s > 0) assert(math.abs(ti - 99.0 / s) < 1e-9)
  }

  test("recs_coverage_profile: coverage and concentration bounded, shares consistent") {
    val r = graft.operators.Analytics.recsCoverageProfile(spark, sf).collect().head
    val cov = r.getAs[Double]("coverage")
    val conc = r.getAs[Double]("rec_concentration")
    val top = r.getAs[Double]("top_rec_share")
    assert(cov > 0 && cov <= 1.0 + 1e-12)
    assert(r.getAs[Long]("n_recommended") <= r.getAs[Long]("n_catalog"))
    assert(conc >= -1e-12 && conc < 1.0, "Gini-Simpson lives in [0, 1)")
    assert(top > 0 && top <= 1.0)
    // 1 - conc = sum p^2 >= top^2 (the max share's own square is in the sum)
    assert(1.0 - conc >= top * top - 1e-12)
  }

  test("ExactExp matches Math.exp to 1e-13 relative across the domain") {
    import graft.functions.ExactExp
    import spark.implicits._
    val xs = (-40 to 40).map(_.toDouble) ++
      Seq(-0.5, -1e-9, 0.0, 1e-9, 0.5, 1.0, math.Pi, -math.Pi, 39.9, -39.9)
    val got = xs.toDF("x")
      .withColumn("__u", expr(ExactExp.uExpr("x")))
      .withColumn("__p", expr(ExactExp.pExpr("__u")))
      .withColumn("ex", expr(ExactExp.expExpr("__p")))
      .select("x", "ex").collect()
    got.foreach { r =>
      val x = r.getDouble(0); val e = r.getDouble(1)
      assert(math.abs(e - math.exp(x)) <= 1e-13 * math.exp(x),
        s"ExactExp($x) = $e vs Math.exp = ${math.exp(x)}")
    }
  }

  test("survival_km_curve: survival monotone non-increasing in [0,1], risk set shrinks") {
    val rows = graft.operators.Commerce.survivalKmCurve(spark, sf).collect()
    assert(rows.nonEmpty)
    var lastS = 1.0; var lastN = Long.MaxValue
    rows.foreach { r =>
      val s = r.getAs[Double]("survival"); val n = r.getAs[Long]("n_risk")
      val d = r.getAs[Long]("n_events"); val c = r.getAs[Long]("n_censored")
      assert(s >= -1e-15 && s <= lastS + 1e-12,
        s"survival must be non-increasing in [0,1]: $s after $lastS")
      assert(n <= lastN, "the risk set can only shrink")
      assert(d + c <= n, "exits cannot exceed the risk set")
      lastS = s; lastN = n
    }
  }

  test("loglog_elasticity: every brand fitted on a real price grid, finite slope") {
    val rows = graft.operators.Reports.loglogElasticity(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_points") > 1, "a demand curve needs >1 price point")
      val e = r.getAs[Double]("elasticity")
      assert(!e.isNaN && !e.isInfinite)
      assert(r.getAs[Double]("ln_price_mean") > 0, "prices are > $1")
    }
  }

  test("odds_ratio_ci: CI brackets the point estimate, flag matches the interval") {
    val r = graft.operators.Commerce.oddsRatioCi(spark, sf).collect().head
    val or = r.getAs[Double]("odds_ratio")
    val lo = r.getAs[Double]("or_low"); val hi = r.getAs[Double]("or_high")
    assert(or > 0 && lo > 0 && lo <= or + 1e-9 && or <= hi + 1e-9)
    assert(math.abs(r.getAs[Double]("ln_or") - math.log(or)) < 1e-12)
    val sig = r.getAs[Int]("significant")
    assert(sig == (if (lo > 1.0 || hi < 1.0) 1 else 0))
  }

  test("bigram perplexity column is exp of the cross-entropy") {
    val rows = graft.operators.TextAnalysis.bigramPerplexityBySource(spark, sf).collect()
    rows.foreach { r =>
      val h = r.getAs[Double]("cross_entropy_nats")
      val p = r.getAs[Double]("perplexity")
      assert(p >= 1.0 - 1e-12, "perplexity of any model is >= 1")
      assert(math.abs(p - math.exp(h)) <= 1e-12 * p,
        s"perplexity $p must be exp($h)")
    }
  }

  test("ann_mmr_rerank: full rank spine per query, no repeats, penalty bites") {
    val rows = graft.operators.Ann.annMmrRerank(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("mmr_rank")).sorted.sameElements(1 to 5),
        s"query $q must select exactly ranks 1..5")
      assert(rs.map(_.getAs[Long]("neighbor_id")).distinct.length == 5,
        s"query $q re-selected a neighbor")
    }
  }

  test("share_of_wallet: bands partition customers, avg_sow inside band range") {
    val rows = graft.operators.Commerce.shareOfWallet(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("band")
      val s = r.getAs[Double]("avg_sow")
      // band b holds sow in [b/10, (b+1)/10) except band 9 which holds [0.9, 1]
      assert(s >= b / 10.0 - 1e-9 && s <= (if (b == 9) 1.0 else (b + 1) / 10.0) + 1e-9,
        s"band $b avg_sow $s outside its band range")
    }
  }
}
