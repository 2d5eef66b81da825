package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One oracle check: the parquet directory Spark wrote, the DuckDB SQL
  * that must reproduce it over the tables in `data`, and whether the
  * row order is part of the result.
  */
final case class Check(name: String, path: String, sql: String, data: String,
    ordered: Boolean)

final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
    data: String, work: String, out: String, spawnMs: Long, cores: Int)

/** State shared by a workload run: the session, the recorder, the
  * oracle checks it registers, and the numbers it reports.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val args: Args) {
  val checks = ArrayBuffer.empty[Check]
  /** Checks done in-process (name -> passed). */
  val inlineChecks = mutable.LinkedHashMap.empty[String, Boolean]
  /** End-to-end values, keyed by the BENCHMARK.json names. */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Extra facts for the result file (sample counts, workload-specific times). */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer values measured outside any one operation. */
  val layerOverrides = mutable.LinkedHashMap.empty[String, Double]
  /** Passes whose operations count towards the per-layer metrics. */
  var recordedPasses = 0
  /** Wall of the warm passes, split by whether tracing recorded them. */
  val tracedWalls = ArrayBuffer.empty[Double]
  val untracedWalls = ArrayBuffer.empty[Double]
  private var memPeakMb = 0.0

  def data(sub: String): String = s"${args.data}/$sub"
  def work(sub: String): String = s"${args.work}/$sub"

  /** Heap occupancy right after a full collection, kept as a running peak. */
  def sampleHeap(): Unit = {
    // the first collection hands weakly reachable Spark state to its
    // cleaners; the least of the next three leaves out what a background
    // thread (a streaming trigger, a cleaner) held only for the moment
    System.gc()
    Thread.sleep(100)
    val used = (1 to 3).map { _ =>
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    memPeakMb = math.max(memPeakMb, used)
  }
  def heapPeakMb: Double = memPeakMb

  /** Warm passes alternate recording on and off in a traced run, so the
    * run measures its own tracing overhead.
    */
  def warmPass(i: Int)(body: => Double): Unit = {
    rec.recording = rec.traced && i % 2 == 1
    val wall = body
    if (rec.recording) { tracedWalls += wall; recordedPasses += 1 }
    else untracedWalls += wall
    rec.recording = rec.traced
  }
}

object Quantiles {
  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Main {
  /** Per-layer metric names, in BENCHMARK.json order; summed per
    * recorded pass unless listed in [[Peaks]].
    */
  val OperatorFamilies = Seq("analytics", "reports", "commerce", "stats", "text", "dedup",
    "ann", "graph", "sketches", "features", "skew", "incremental", "decision_support")
  val LayerMetrics: Seq[String] = Seq(
    "etl.build_s", "etl.exec_s",
    "sources.write_s", "sources.write_bytes", "sources.write_files",
    "sources.incr_load_s", "sources.incr_partitions", "sources.append_s",
    "core.shared_frames.builds", "core.shared_frames.rebuilds",
    "core.shared_frames.undeclared", "core.cache_peak_mb") ++
    OperatorFamilies.map(f => s"operators.${f}_s") ++ Seq(
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "codegen.compile_s", "codegen.classes", "codegen.fallbacks",
    "jvm.jit_s", "jvm.classes_loaded", "jvm.gc_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.sched_idle_s", "exec.scan_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_wait_s", "exec.spill_bytes",
    "exec.unbilled_frac",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.get_batch_s", "streaming.plan_s", "streaming.wal_commit_s",
    "streaming.state_rows", "streaming.state_mb", "streaming.backlog_files",
    "trace.overhead")
  val Peaks = Set("core.cache_peak_mb", "streaming.state_rows", "streaming.state_mb")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("spawn-ms").toLong, m("cores").toInt)
  }

  def load1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val mainMs = System.currentTimeMillis()
    val load1Start = load1
    val spark = graft.core.GraftSession.create("perfbench", s"local[${args.cores}]",
      shufflePartitions = args.cores)
    spark.sparkContext.setLogLevel("WARN")
    val traceId = f"${args.workload}-${args.seed}%d-${ProcessHandle.current.pid}%d"
    val rec = new Recorder(spark, args.traced, traceId)
    val ctx = new Ctx(spark, rec, args)
    val readyMs = System.currentTimeMillis()
    ctx.extra("jvm_setup_s") = (readyMs - args.spawnMs) / 1e3
    ctx.extra("jvm_start_s") = (mainMs - args.spawnMs) / 1e3
    ctx.extra("session_start_s") = (readyMs - mainMs) / 1e3
    ctx.sampleHeap()
    args.workload match {
      case "star_pipeline" => StarPipeline.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    ctx.e2e("mem_peak_mb") = ctx.heapPeakMb
    rec.drain()
    writeResult(ctx, load1Start)
    rec.close()
    spark.stop()
  }

  private def writeResult(ctx: Ctx, load1Start: Double): Unit = {
    val rec = ctx.rec
    val timedOps = rec.ops.filter(o => o.timed)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (rec.traced) {
      val passes = math.max(1, ctx.recordedPasses)
      val recorded = timedOps.filter(_.recorded)
      for (name <- LayerMetrics) {
        val vs = recorded.map(_.get(name))
        layer(name) = if (Peaks(name)) (0.0 +: vs).max else vs.sum / passes
      }
      for (f <- OperatorFamilies) {
        layer(s"operators.${f}_s") =
          recorded.filter(_.layer == s"operators.$f").map(_.wallS).sum / passes
      }
      layer("streaming.batches") = recorded.count(_.layer == "streaming").toDouble / passes
      val opWall = recorded.filter(_.layer != "streaming").map(_.wallS).sum / passes
      layer("exec.sched_idle_s") =
        math.max(0.0, opWall * ctx.args.cores - layer("exec.task_run_s"))
      val total = rec.totalTaskRunMs.get.toDouble
      val billedMs = rec.ops.map(_.get("exec.task_run_s")).sum * 1e3
      layer("exec.unbilled_frac") = if (total > 0) math.abs(total - billedMs) / total else 0.0
      ctx.inlineChecks("billing_reconciles_5pct") = layer("exec.unbilled_frac") <= 0.05
      layer ++= ctx.layerOverrides
      if (ctx.tracedWalls.nonEmpty && ctx.untracedWalls.nonEmpty)
        layer("trace.overhead") =
          Quantiles.median(ctx.tracedWalls.toSeq) / Quantiles.median(ctx.untracedWalls.toSeq) - 1
      writeSpans(ctx)
    }
    val failedOps = rec.ops.filter(_.failed).map(_.name)
    val rt = ManagementFactory.getRuntimeMXBean
    val host = mutable.LinkedHashMap[String, Any](
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "load1_start" -> load1Start, "load1_end" -> load1,
      "jvm_flags" -> rt.getInputArguments.toArray.toSeq.map(_.toString),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> ctx.spark.version,
      "cores" -> ctx.args.cores, "seed" -> ctx.args.seed, "trace_id" -> rec.traceId)
    val opsOut = rec.ops.filter(_.timed).map { o =>
      val m = mutable.LinkedHashMap[String, Any]("name" -> o.name, "layer" -> o.layer,
        "pass" -> o.pass, "wall_s" -> o.wallS, "failed" -> o.failed)
      o.counters.forEach((k, v) => m(k) = v.doubleValue)
      m
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.args.workload, "traced" -> rec.traced,
      "attempted" -> rec.ops.count(_.timed), "failed_ops" -> failedOps,
      "e2e" -> ctx.e2e, "per_layer" -> layer,
      "layer_self_s" -> (if (rec.traced) rec.layerSelfS else Map.empty),
      "inline_checks" -> ctx.inlineChecks,
      "checks" -> ctx.checks.map(c => Map("name" -> c.name, "path" -> c.path, "sql" -> c.sql,
        "data" -> c.data, "ordered" -> c.ordered)),
      "extra" -> ctx.extra, "host" -> host,
      "ops" -> (if (rec.traced) opsOut else Seq.empty))
    Files.write(Paths.get(ctx.args.out), Json(out).getBytes(StandardCharsets.UTF_8))
  }

  /** The span file: one JSON object per line. */
  private def writeSpans(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val lines = rec.spans.sortBy(_.startNs).map { s =>
      Json(mutable.LinkedHashMap[String, Any]("trace_id" -> rec.traceId, "span_id" -> s.id,
        "parent_id" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    val f = new File(ctx.args.out.stripSuffix(".json") + ".spans.jsonl")
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
