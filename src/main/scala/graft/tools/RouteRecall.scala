package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: per-sim-bucket recall of the cell-bounded near-dup
  * route vs exact anchored ground truth, with the quantizer LAYOUT
  * selectable — the apples-to-apples read behind SCALE_PROBE_r16's
  * flat-vs-two-level recall table (`embedding_neardup_recall` itself
  * always routes by corpus size, so the off-route layout is only
  * observable here).
  *
  * Usage: runMain graft.tools.RouteRecall <sfDir> <flat|hier> [anchors]
  */
object RouteRecall {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val anchors = args.drop(2).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(500)
    val spark = graft.core.GraftSession.harness("graft-route-recall")
    spark.sparkContext.setLogLevel("WARN")
    val Ann = graft.operators.Ann
    val (q, nVec) = Ann.quantizedCorpus(spark, dir)
    q.count() // corpus quantize outside both timers
    val t0 = System.nanoTime()
    val (assign, probes, ring) = mode match {
      case "flat" =>
        val (a, _, _, _) = Ann.kmeansAssign(spark, dir)
        (a.select(col("vec_id"), col("cl")), Ann.cellProbes(spark, dir),
          None: Option[org.apache.spark.sql.DataFrame])
      case "hier" =>
        // production route: occupancy-adaptive probe walk (round 18)
        val (a, p, rg) = Ann.hierCellFrames(spark, dir)
        (a, p, Some(rg))
      case "hier-fixed" =>
        // r17 baseline: fixed nprobeFor width + ring — kept so the
        // adaptive promotion's recall/volume deltas are same-session
        // matched, not cross-round
        val (a, p, rg) = Ann.hierCellFrames(spark, dir, None, adaptive = false)
        (a, p, Some(rg))
      case m => sys.error(s"unknown mode $m")
    }
    // phase 1: train + assign + probe (the n·k vs n·√k phase)
    assign.count(); probes.count(); ring.foreach(_.count())
    val tAssign = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    // cached + materialized ONCE: the verified pair set is survivor-
    // sized (~near-dup count), but its lineage is the full cell scan —
    // recomputing it for the volume count after the recall compare
    // doubled the live shuffle footprint and ran a 100×-replica probe
    // out of disk (two full scans' shuffle files coexist until job GC)
    val cand = Ann.cellPairScan(assign, probes, q, nVec, ring)
      .select(col("vec_a"), col("vec_b")).withColumn("hit", lit(1L))
      .cache()
    val candTotal = cand.count()
    graft.functions.DotProduct.register(spark)
    graft.functions.UnitVector.register(spark)
    val e = graft.core.Tables(spark, dir).embeddings
    def u(idAs: String, uAs: String) = e.select(col("vec_id").as(idAs),
      call_function("graft_unit", col("embedding")).as(uAs))
    val truth = u("vec_a", "ua").filter(col("vec_a") < anchors)
      .join(u("vec_b", "ub"), col("vec_a") < col("vec_b"))
      .filter(call_function("graft_dot", col("ua"), col("ub")) >= Ann.DupThreshold)
      .select(col("vec_a"), col("vec_b"),
        call_function("graft_dot", col("ua"), col("ub")).as("sim"))
    val rows = truth.join(cand, Seq("vec_a", "vec_b"), "left")
      .withColumn("bucket", expr("least(CAST(floor(sim * 10) AS INTEGER), 9)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .orderBy("bucket").collect()
    val tScan = (System.nanoTime() - t1) / 1e9
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_true"); val nh = r.getAs[Long]("n_hit")
      println(f"""{"mode":"$mode","bucket":${r.getAs[Int]("bucket")},"n_true":$nt,"n_hit":$nh,"recall":${nh.toDouble / nt}%.4f}""")
    }
    // candidate volume: the linear-cost claim is MEASURED, not assumed
    println(f"""{"mode":"$mode","corpus":$nVec,"k":${Ann.kmKFor(nVec)},"assign_secs":$tAssign%.2f,"scan_secs":$tScan%.2f,"cand_pairs":$candTotal,"probe_rows":${probes.count()},"ring_pairs":${ring.map(_.count()).getOrElse(0L)}}""")
    // miss attribution (hier only, round 17, VERDICT r16 #2): for each
    // missed truth pair, is the partner's HOME cell inside the probing
    // vector's ranked child pool at all — and at what rank / distance
    // slack? Tells whether a deeper probe ring (in-pool misses) or a
    // different channel (outside-pool: unprobed super) buys the recall.
    if (mode == "hier" && args.contains("why")) {
      val pool = Ann.hierRankedPool(spark, dir)
      val d1 = pool.filter(col("rk") === 1)
        .select(col("va"), col("d2").as("d1"))
      val poolN = pool.join(d1, "va")
        .select(col("va"), col("cl"), col("rk"),
          (col("d2") / col("d1")).as("slack"))
      val home = assign.select(col("vec_id"), col("cl"))
      val misses = truth.join(cand, Seq("vec_a", "vec_b"), "left_anti")
        .select(col("vec_a"), col("vec_b"), col("sim"))
      def dirRank(m: DataFrame, probe: String, res: String) =
        m.join(home.select(col("vec_id").as(res), col("cl")), res)
          .join(poolN.withColumnRenamed("va", probe), Seq(probe, "cl"), "left")
          .select(col("vec_a"), col("vec_b"), col("sim"),
            col("rk").as(s"rk_$probe"), col("slack").as(s"sl_$probe"))
      val attributed = dirRank(misses, "vec_a", "vec_b")
        .join(dirRank(misses, "vec_b", "vec_a")
          .select(col("vec_a"), col("vec_b"), col("rk_vec_b"), col("sl_vec_b")),
          Seq("vec_a", "vec_b"))
        .withColumn("min_rk", least(col("rk_vec_a"), col("rk_vec_b")))
        .withColumn("min_sl", least(col("sl_vec_a"), col("sl_vec_b")))
        .withColumn("bucket", expr("least(CAST(floor(sim * 10) AS INTEGER), 9)"))
      attributed.groupBy("bucket").agg(
        count(lit(1)).as("misses"),
        sum(when(col("min_rk").isNotNull, 1L).otherwise(0L)).as("in_pool"),
        expr("percentile_approx(min_rk, 0.5)").as("rk_p50"),
        expr("percentile_approx(min_rk, 0.9)").as("rk_p90"),
        expr("round(percentile_approx(min_sl, 0.5), 3)").as("sl_p50"),
        expr("round(percentile_approx(min_sl, 0.9), 3)").as("sl_p90"))
        .orderBy("bucket").collect()
        .foreach(r => println(s"""{"why_bucket":${r.get(0)},"misses":${r.get(1)},"in_pool":${r.get(2)},"rk_p50":${r.get(3)},"rk_p90":${r.get(4)},"sl_p50":${r.get(5)},"sl_p90":${r.get(6)}}"""))
      // hit-side comparison: the slack distribution of CAUGHT pairs
      val hits = truth.join(cand.select("vec_a", "vec_b"), Seq("vec_a", "vec_b"))
      println(s"""{"why_hits":${hits.count()},"why_misses":${misses.count()}}""")
    }
    spark.stop()
  }
}
