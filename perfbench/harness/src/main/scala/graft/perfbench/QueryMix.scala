package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.core.{OwnedCaches, SharedFrames}

/** One client running registry queries in a closed loop in one session,
  * each result materialized through the `noop` sink. The list is a
  * fixed core plus a seeded, family-stratified draw; every pass declares
  * it to SharedFrames, so every pass pays for its own shared-frame builds.
  */
object QueryMix {
  /** Always run: the flagship chain row, three rows ROADMAP names
    * (lepage_test carries today's codegen fallback; quantile_profile and
    * window_moving_avg are full-result shapes that `.count()` hid), a
    * consumer of the dedup-shingle and of the graph edge/wedge shared
    * frames, and a brute-force ANN query. The other chain rows run in
    * star_pipeline. The ANN k-means frames are left out: their cold
    * build alone (about 9 s and 70 jobs at sf0.001) would not fit the
    * benchmark's time budget in every run.
    */
  val Core: Seq[(String, String)] = Seq(
    "fact_sales" -> "etl", "lepage_test" -> "stats",
    "quantile_profile" -> "reports", "window_moving_avg" -> "analytics",
    "dedup_minhash_lsh" -> "dedup", "degree_assortativity" -> "graph",
    "ann_filtered_topk" -> "ann")

  /** Warm passes timed in every run, at the least (a traced run times
    * two, as it alternates recording).
    */
  val WarmPasses = 1

  /** Families the seed draws from per run, one query each. */
  val Draws = 1

  /** Draw pools, one per operator family without a shared frame: queries
    * that are cheap when warm (about 0.2-0.4 s at sf0.001), so the draw
    * changes the mix but hardly its cost.
    */
  val Pools: Seq[(String, Seq[String])] = Seq(
    "analytics" -> Seq("sessionize", "window_lead_lag", "window_running_total",
      "ntile_buckets", "topk_per_group", "q5_region_volume"),
    "reports" -> Seq("anomaly_zscore", "histogram_price", "fill_forward", "set_ops",
      "pivot_revenue"),
    "commerce" -> Seq("active_users_window", "ab_test_conversion", "gap_islands"),
    "stats" -> Seq("max_drawdown", "sign_test", "runs_test", "cliff_delta"),
    "text" -> Seq("ttr_by_source", "text_tokencount", "text_langid"),
    "sketches" -> Seq("spacesaving_topk", "approx_distinct_hll", "bitmap_distinct"),
    "features" -> Seq("target_encode_brand", "feature_scale", "one_hot_topk"),
    "skew" -> Seq("salted_agg", "distinct_counts"),
    "incremental" -> Seq("cdc_apply", "snapshot_diff", "merge_upsert"),
    "decision_support" -> Seq("q15_top_supplier", "q12_late_lines", "q16_supplier_count"))

  /** Queries whose oracle assumes the exact embedding route. */
  val RoutedFamily = Seq("dedup_embedding_cosine", "dedup_embedding_clusters",
    "embedding_keep_canonical", "dedup_embedding_lsh", "dedup_embedding_incremental",
    "embedding_neardup_recall", "knn_graph", "knn_confusion", "embedding_kmeans",
    "semdedup_prune", "cluster_purity", "embedding_hubness_audit", "knn_reciprocal_rate")

  /** The core plus [[Draws]] queries, each from a different family
    * drawn by `seed`, in name order (the order Bench and Verify use).
    */
  def mix(seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val drawn = rnd.shuffle(Pools).take(Draws).map { case (fam, pool) =>
      val live = pool.filter(SparkEntry.queries.contains)
      live(rnd.nextInt(live.size)) -> fam
    }
    val core = Core.filter { case (n, _) => SparkEntry.queries.contains(n) }
    (core ++ drawn).distinct.sortBy(_._1)
  }

  def run(c: Ctx): Unit = {
    val queries = mix(c.args.seed)
    val dir = c.data("full")
    val names = queries.map(_._1)
    val out = c.work("mix")
    c.extra("queries") = names

    /** One pass; returns (pass wall, per-query walls). The cold pass
      * writes every result as parquet, which the oracle then reads; the
      * warm passes materialize through `noop`.
      */
    def pass(p: Int, dump: Boolean): (Double, Seq[Double]) = {
      SharedFrames.planQueries(names)
      val t0 = System.nanoTime()
      val walls = ArrayBuffer.empty[Double]
      for ((name, fam) <- queries) {
        val fn = SparkEntry.queries(name)
        val layer = if (fam == "etl") "etl" else s"operators.$fam"
        val live0 = SharedFrames.diagnostics._3.toSet
        val q0 = System.nanoTime()
        c.rec.op(name, layer, p) {
          SharedFrames.begin(name)
          val df = c.rec.span("build", s"$layer.build") {
            val s0 = System.nanoTime()
            val d = fn(c.spark, dir)
            if (fam == "etl") c.rec.current.add("etl.build_s", (System.nanoTime() - s0) / 1e9)
            d
          }
          c.rec.span("exec", s"$layer.exec") {
            val s0 = System.nanoTime()
            if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
            else df.write.format("noop").mode("overwrite").save()
            if (fam == "etl") c.rec.current.add("etl.exec_s", (System.nanoTime() - s0) / 1e9)
          }
          if (c.rec.recording) {
            val built = SharedFrames.diagnostics._3.count(k => !live0.contains(k))
            c.rec.current.add("core.shared_frames.builds", built.toDouble)
          }
        }
        walls += (System.nanoTime() - q0) / 1e9
        OwnedCaches.release()
        SharedFrames.queryDone(name)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (c.rec.recording) {
        val (rebuilds, undeclared, _) = SharedFrames.diagnostics
        c.rec.ops.filter(_.pass == p).lastOption.foreach { last =>
          last.add("core.shared_frames.rebuilds", rebuilds.toDouble)
          last.add("core.shared_frames.undeclared", undeclared.size.toDouble)
        }
      }
      (wall, walls.toSeq)
    }

    val (coldWall, _) = pass(0, dump = true)
    if (c.rec.traced) c.recordedPasses += 1
    c.e2e("cold_s") = coldWall
    c.sampleHeap()
    // the JIT is still compiling much of the mix in the pass after the
    // cold one, which makes that pass 15-45 % slower and its time vary
    // from run to run, so it only warms up; the per-layer sums count it
    val (warmUpWall, _) = pass(1, dump = false)
    if (c.rec.traced) c.recordedPasses += 1
    c.extra("warm_up_s") = warmUpWall
    val warmWalls = ArrayBuffer.empty[Double]
    val lat = ArrayBuffer.empty[Double]
    // every run times the same passes: at least WarmPasses, for at least
    // --seconds
    val minWarm = if (c.rec.traced) 2 else WarmPasses
    val timedStart = System.nanoTime()
    while (warmWalls.size < minWarm || (System.nanoTime() - timedStart) / 1e9 < c.args.seconds) {
      val i = warmWalls.size + 1
      c.warmPass(i) {
        val (w, qs) = pass(i + 1, dump = false)
        warmWalls += w
        lat ++= qs
        w
      }
    }
    c.sampleHeap()
    c.e2e("warm_s") = Quantiles.median(warmWalls.toSeq)
    c.e2e("op_p50_s") = Quantiles.quantile(lat.toSeq, 0.5)
    c.e2e("op_p90_s") = Quantiles.quantile(lat.toSeq, 0.9)
    c.extra("warm_passes") = warmWalls.size
    c.extra("warm_walls") = warmWalls.toSeq
    c.extra("query_samples") = lat.size
    c.extra("samples_above_p90") = lat.count(_ > c.e2e("op_p90_s"))

    // the embedding family's oracles hold only on the exact, flat k = 8
    // route (the same audit Verify writes to route_audit.json)
    val notApplicable: Map[String, String] =
      if (!names.exists(RoutedFamily.contains)) Map.empty
      else {
        val (n, cap, branch) = c.rec.op("route_audit", "check", -1, timed = false) {
          graft.operators.Ann.embRouteAudit(c.spark, dir)
        }.getOrElse(sys.error("embedding route audit failed"))
        val k = graft.operators.Ann.kmKFor(n)
        if (branch == "exact" && k == 8 && k <= graft.operators.Ann.TwoLevelK) Map.empty
        else RoutedFamily.map(_ -> s"embedding route $branch (corpus $n, cap $cap, k $k)").toMap
      }
    for ((name, _) <- queries) (SparkEntry.oracleSql.get(name), notApplicable.get(name)) match {
      case (_, Some(why)) => c.extra(s"no_oracle.$name") = why
      case (Some(sql), None) => c.checks += Check(name, s"$out/$name", sql, "full", ordered = true)
      case (None, None) => c.extra(s"no_oracle.$name") = "the registry has no oracle SQL for it"
    }
  }
}
