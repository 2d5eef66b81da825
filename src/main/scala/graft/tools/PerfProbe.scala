package graft.tools

/** Measurement harness for the optimization rounds (guide §1): runs
  * named registry queries repeatedly in a Bench-identical session and
  * prints, per run, the wall seconds plus the driver/scheduler shape
  * that explains latency-bound queries — Spark job count, stage count,
  * task count, summed task run/CPU time, and the Catalyst phase
  * durations (analysis / optimization / planning) from the
  * QueryPlanningTracker. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PerfProbe q1 q2"
  *
  * Optional env: SPARK_GRAFT_PROBE_RUNS (default 3).
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "3").toInt
    // extra conf overrides for A/B experiments: "k=v;k=v", applied after
    // the Bench-identical session's own confs so they can flip any back
    val overrides = sys.env.get("SPARK_GRAFT_PROBE_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = graft.core.GraftSession.harness("graft-perfprobe",
      graft.core.GraftSession.retainAllCodegen +: overrides)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskRun = new java.util.concurrent.atomic.AtomicLong
    val taskCpu = new java.util.concurrent.atomic.AtomicLong
    // optional per-stage log (SPARK_GRAFT_PROBE_STAGES=1): one line per
    // completed stage with wall, summed task run/CPU, and the callsite
    val stageLog = sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1")
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskRun.addAndGet(t.taskMetrics.executorRunTime)
          taskCpu.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
          if (stageLog) stageAgg.merge(t.stageId,
            (t.taskMetrics.executorRunTime, t.taskMetrics.executorCpuTime / 1000000L, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        }
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (stageLog) {
          val i = sc.stageInfo
          val wall = for {
            a <- i.completionTime; b <- i.submissionTime
          } yield (a - b) / 1000.0
          val (run, cpu, n) = stageAgg.getOrDefault(i.stageId, (0L, 0L, 0))
          println(f"  STAGE ${i.stageId}%5d wall=${wall.getOrElse(-1.0)}%7.3f " +
            f"tasks=${i.numTasks}%5d run=${run / 1000.0}%8.2f cpu=${cpu / 1000.0}%8.2f  ${i.name.take(110)}")
        }
    })
    val names = args.toSeq.filter(graft.SparkEntry.queries.contains)
    val missing = args.toSeq.filterNot(graft.SparkEntry.queries.contains)
    if (missing.nonEmpty) println(s"UNKNOWN: ${missing.mkString(",")}")
    val classBean = java.lang.management.ManagementFactory.getClassLoadingMXBean
    // base job latency: an empty single-task job, timed after one warmup
    spark.range(1).count()
    val b0 = System.nanoTime()
    (1 to 10).foreach(_ => spark.range(1).count())
    println(f"BASE empty-job latency = ${(System.nanoTime() - b0) / 1e7 / 10}%.1f ms/job")
    graft.core.SharedFrames.planQueries(names)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      (1 to runs).foreach { i =>
        graft.core.SharedFrames.begin(n)
        val (j0, s0, k0, r0, c0) =
          (jobs.get, stages.get, tasks.get, taskRun.get, taskCpu.get)
        val cl0 = classBean.getTotalLoadedClassCount
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e9
        val n0 = System.nanoTime()
        df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val exec = (System.nanoTime() - n0) / 1e9
        // listener bus is async; give it a beat so counts attribute here
        Thread.sleep(150)
        val phases = df.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.durationMs}ms" }.mkString(" ")
        // SPARK_GRAFT_PROBE_METRICS=1: walk the final executed plan and
        // print per-node SQL metrics (the SQL-tab view) — rows, times
        if (sys.env.get("SPARK_GRAFT_PROBE_METRICS").contains("1") && i == runs) {
          import org.apache.spark.sql.execution._
          def dump(p: SparkPlan, d: Int): Unit = {
            val ms = p.metrics.toSeq
              .filter { case (_, m) => m.value > 0 }
              .sortBy(_._1)
              .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
            println(("  " * d) + "NODE " + p.nodeName + "  " + ms)
            p match {
              case a: adaptive.AdaptiveSparkPlanExec => dump(a.executedPlan, d + 1)
              case q: adaptive.QueryStageExec => dump(q.plan, d + 1)
              case c: columnar.InMemoryTableScanExec =>
                dump(c.relation.cachedPlan, d + 1)
              case _ => p.children.foreach(dump(_, d + 1))
            }
          }
          dump(df.queryExecution.executedPlan, 0)
        }
        println(f"PROBE $n%-30s run$i wall=$wall%7.3f build=$built%6.3f exec=$exec%7.3f " +
          f"jobs=${jobs.get - j0}%3d stages=${stages.get - s0}%4d tasks=${tasks.get - k0}%5d " +
          f"taskRun=${(taskRun.get - r0) / 1000.0}%8.2fs taskCpu=${(taskCpu.get - c0) / 1000.0}%8.2fs " +
          f"cls=${classBean.getTotalLoadedClassCount - cl0}%4d  $phases")
        graft.core.OwnedCaches.release()
      }
      graft.core.SharedFrames.queryDone(n)
    }
    spark.stop()
  }
}
