package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation: a chain step, a query, a micro-batch, or a harness
  * step (set-up, oracle dump). Counters are added from listener threads.
  */
final class Op(val id: Int, val name: String, val layer: String,
    val pass: Int, val timed: Boolean) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var failed = false
  /** Whether the recorder was recording while this operation ran. */
  @volatile var recorded = false
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit =
    counters.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)
  def max(k: String, v: Double): Unit =
    counters.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => math.max(a, b))
  def get(k: String): Double = Option(counters.get(k)).map(_.doubleValue).getOrElse(0.0)
  def wallS: Double = (endNs - startNs) / 1e9
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** Per-operation records and spans. Untraced, it only keeps wall times.
  * Traced, it attaches a Spark listener (jobs, stages, tasks billed to
  * the operation whose job tag they carry), a query-execution listener
  * (Catalyst phase times), a streaming listener (micro-batch progress)
  * and a log appender (codegen compiles and fallbacks), and drains the
  * listener bus after every operation so nothing is billed late.
  */
final class Recorder(spark: SparkSession, val traced: Boolean, val traceId: String) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(1)
  val ops = ArrayBuffer.empty[Op]
  private val opsById = new ConcurrentHashMap[Int, Op]()
  val spans = ArrayBuffer.empty[Span]
  private var spanStack: List[Int] = Nil
  @volatile var current: Op = null
  // tracing can be paused to measure its own overhead
  @volatile var recording: Boolean = traced

  // task time of every counted task, billed to an operation or not
  val totalTaskRunMs = new AtomicLong
  private val stageOp = new ConcurrentHashMap[Int, Op]()
  private val streamOps = new ConcurrentHashMap[String, Op]()

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val classes = ManagementFactory.getClassLoadingMXBean
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long =
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  private def newOp(name: String, layer: String, pass: Int, timed: Boolean): Op = {
    val op = new Op(nextId.getAndIncrement(), name, layer, pass, timed)
    opsById.put(op.id, op)
    synchronized(ops += op)
    op
  }

  /** The operation a streaming job belongs to, created on first sight. */
  private def streamOp(queryId: String, batchId: String): Op =
    streamOps.computeIfAbsent(s"$queryId/$batchId", { _ =>
      val op = newOp(s"batch:$queryId:$batchId", "streaming", -1, timed = true)
      op.recorded = recording
      op
    })

  // Jobs are mapped to operations whatever the recorder's state, so a
  // task is billed to a recorded operation, ignored for an unrecorded one,
  // or counted as unbilled: billed and total time cover the same tasks.
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      val op = (batch, query) match {
        case (Some(b), Some(q)) => streamOp(q, b)
        case _ =>
          props.flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq
            .flatMap(_.split(",")).find(_.startsWith("gbop-"))
            .map(t => opsById.get(t.stripPrefix("gbop-").toInt)).orNull
      }
      if (op != null) {
        if (op.recorded) op.add("exec.jobs", 1)
        e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = stageOp.get(e.stageInfo.stageId)
      if (op != null && op.recorded) op.add("exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val op = stageOp.get(e.stageId)
      if (m != null && (if (op == null) recording else op.recorded)) {
        totalTaskRunMs.addAndGet(m.executorRunTime)
        if (op != null) {
          op.add("exec.tasks", 1)
          op.add("exec.task_run_s", m.executorRunTime / 1e3)
          op.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          op.add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
          op.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          op.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          op.add("exec.shuffle_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          op.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (recording) {
      val op = current
      if (op != null) {
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach(p => op.add(s"plan.${k}_s", p.durationMs / 1e3))
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        val op = streamOp(p.id.toString, p.batchId.toString)
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        op.add("streaming.trigger_s", ms("triggerExecution"))
        op.add("streaming.add_batch_s", ms("addBatch"))
        op.add("streaming.get_batch_s", ms("getBatch"))
        op.add("streaming.plan_s", ms("queryPlanning"))
        op.add("streaming.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
        op.add("streaming.input_rows", p.numInputRows.toDouble)
        p.stateOperators.foreach { s =>
          op.max("streaming.state_rows", s.numRowsTotal.toDouble)
          op.max("streaming.state_mb", s.memoryUsedBytes / 1048576.0)
        }
        val t1 = java.time.Instant.parse(p.timestamp).toEpochMilli
        op.startNs = t1 * 1000000L
        op.endNs = (t1 + d.getOrDefault("triggerExecution", 0L)) * 1000000L
      }
  }

  private val codegenLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  private val appender = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = if (recording) {
      val op = current
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (op != null) {
        if (msg.startsWith("Code generated in ")) {
          op.add("codegen.classes", 1)
          scala.util.Try(msg.stripPrefix("Code generated in ").takeWhile(c => c.isDigit || c == '.')
            .toDouble).foreach(ms => op.add("codegen.compile_s", ms / 1e3))
        } else if (msg.toLowerCase.contains("failed to compile") ||
            msg.contains("Whole-stage codegen disabled") ||
            msg.contains("Found too long generated codes") ||
            msg.contains("falling back to interpreter mode")) {
          op.add("codegen.fallbacks", 1)
        }
      }
      if (e.getLevel.isMoreSpecificThan(Level.ERROR))
        System.err.println(s"[${e.getLoggerName}] $msg")
    }
  }

  if (traced) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    codegenLoggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    cfg.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  def drain(): Unit = if (traced) org.apache.spark.perfbench.BusDrain(sc)

  /** Run `body` as one operation. A throw marks the operation failed and
    * is not rethrown; the wall time is recorded either way.
    */
  def op[T](name: String, layer: String, pass: Int, timed: Boolean = true)(body: => T): Option[T] = {
    val op = newOp(name, layer, pass, timed)
    val tag = s"gbop-${op.id}"
    val (gc0, jit0, cl0) = (gcMs, jitMs, classes.getTotalLoadedClassCount)
    current = op
    // a paused recorder skips all per-operation work, so the passes it
    // skips measure the untraced cost
    val rec = recording
    op.recorded = rec
    if (rec) sc.addJobTag(tag)
    op.startNs = System.nanoTime()
    val out = try span(name, layer)(Some(body)) catch {
      case NonFatal(e) =>
        op.failed = true
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
    op.endNs = System.nanoTime()
    if (rec) {
      sc.removeJobTag(tag)
      drain()
      op.add("jvm.gc_s", (gcMs - gc0) / 1e3)
      op.add("jvm.jit_s", (jitMs - jit0) / 1e3)
      op.add("jvm.classes_loaded", (classes.getTotalLoadedClassCount - cl0).toDouble)
      var mem = 0L
      sc.getRDDStorageInfo.foreach(r => mem += r.memSize + r.diskSize)
      op.max("core.cache_peak_mb", mem / 1048576.0)
    }
    current = null
    out
  }

  /** A span around a call into one layer; nests under the open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!traced || !recording) return body
    val id = nextId.getAndIncrement()
    val parent = spanStack.headOption.getOrElse(0)
    spanStack = id :: spanStack
    val t0 = System.nanoTime()
    try body finally {
      spanStack = spanStack.tail
      synchronized(spans += Span(id, parent, name, layer, t0, System.nanoTime()))
    }
  }

  /** Layer self time: each span's duration minus its children's. */
  def layerSelfS: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childSum.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    codegenLoggers.foreach(n => ctx.getConfiguration.removeLogger(n))
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }
}
