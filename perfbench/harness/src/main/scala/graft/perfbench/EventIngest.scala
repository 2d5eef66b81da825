package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{EventStream, UpsertSink}

/** The event feed of the star pipeline. The seeded events, in event-time
  * order, are staged in advance as JSONL backlogs outside the landing
  * directory. Each chain pass drops the next backlog into the landing
  * directory and drains it through `EventStream.windowedCounts` (a
  * state-store aggregation) and `UpsertSink` (a `foreachBatch` merge
  * into versioned parquet); both queries keep running between passes.
  */
final class EventIngest(c: Ctx, root: String) {
  import EventIngest._

  private val spark = c.spark
  private val landing = s"$root/landing"
  private val winCkpt = s"$root/ckpt-win"
  private val upsertRoot = s"$root/ckpt-upsert"
  private var queries = Seq.empty[StreamingQuery]
  private var drained = 0
  // windowed counts, collected per micro-batch (update mode: the last
  // value per window is its final count)
  private val windows = new ConcurrentHashMap[(Long, String), (Long, Double)]()

  Fs.delete(root)
  new File(landing).mkdirs()

  // events in event-time order: no file is ever behind the watermark
  private val lines: Array[String] = c.rec.op("read_events", "setup", -1, timed = false) {
    graft.core.Tables(spark, c.data("full")).events
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .orderBy("ts_us", "event_id").collect().map { r =>
        s"""{"event_id":${r.getLong(0)},"ts_us":${r.getLong(1)},"user_id":${r.getLong(2)},""" +
          s""""event_type":${Json.str(r.getString(3))},"value":${r.getDouble(4)}}"""
      }
  }.getOrElse(sys.error("could not read the events"))

  /** Events per backlog: [[BacklogEvents]], or fewer on a small input,
    * so that at least [[MinBacklogs]] passes can be fed.
    */
  val backlogEvents: Int = math.min(BacklogEvents, lines.length / MinBacklogs)
  require(backlogEvents >= 1, s"not enough events (${lines.length}) for $MinBacklogs backlogs")
  /** How many passes the staged events can feed. */
  val backlogs: Int = lines.length / backlogEvents

  private val staged: Seq[Seq[File]] = (0 until backlogs).map { k =>
    val d = new File(s"$root/staged-$k")
    d.mkdirs()
    lines.slice(k * backlogEvents, (k + 1) * backlogEvents).grouped(BacklogFileEvents)
      .zipWithIndex.map { case (ls, j) =>
        val f = new File(d, f"b$k%03d-$j%04d.json")
        Files.write(f.toPath, ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        f
      }.toSeq
  }

  /** Start both queries; the first pass pays for it. */
  def start(): Unit = {
    spark.conf.set("spark.sql.streaming.checkpointLocation", upsertRoot)
    val wq = EventStream.windowedCounts(spark, landing)
      .writeStream.outputMode("update").option("checkpointLocation", winCkpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(unix_micros(col("win_start")), col("event_type"), col("n"), col("value_sum"))
          .collect().foreach(r => windows.put((r.getLong(0), r.getString(1)),
            (r.getLong(2), r.getDouble(3))))
        ()
      }.start()
    val uq = UpsertSink.start(spark, landing, s"$root/state")
    queries = Seq(wq, uq)
  }

  /** Land the next staged backlog at once and wait until both queries
    * have committed it.
    */
  def drain(): Unit = {
    require(drained < backlogs, "no staged backlog left")
    staged(drained).foreach(f => Files.move(f.toPath, new File(landing, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE))
    drained += 1
    queries.foreach(_.processAllAvailable())
  }

  def canDrain: Boolean = drained < backlogs

  def stop(): Unit = queries.foreach(_.stop())

  /** Largest number of files one windowed-count micro-batch read. */
  def maxFilesPerBatch: Int = fileBatches(winCkpt).groupBy(_._2).values.map(_.size).maxOption
    .getOrElse(0)

  /** Dump the final upsert state and the windowed counts, and register
    * their oracle checks over the events ingested so far.
    */
  def addChecks(): Unit = {
    val streamed = drained * backlogEvents
    c.extra("ingested_events") = streamed
    c.rec.op("dump_stream_checks", "check", -1, timed = false) {
      UpsertSink.currentState(spark, s"$root/state").write.mode("overwrite")
        .parquet(s"$root/check_upsert")
      val schema = StructType(Seq(StructField("win_start_us", LongType),
        StructField("event_type", StringType), StructField("n", LongType),
        StructField("value_sum", DoubleType)))
      val rows = windows.asScala.toSeq.map { case ((w, t), (n, v)) => Row(w, t, n, v) }
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/check_windows")
    }
    val src =
      s"""s AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         |  FROM events ORDER BY ts_us, event_id LIMIT $streamed)""".stripMargin
    c.checks += Check("upsert_state", s"$root/check_upsert",
      s"""WITH $src
         |SELECT user_id, value, ts_us FROM s
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1"""
        .stripMargin, "full", ordered = false)
    c.checks += Check("windowed_counts", s"$root/check_windows",
      s"""WITH $src
         |SELECT ts_us - (ts_us % 300000000) AS win_start_us, event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         |FROM s GROUP BY 1, 2""".stripMargin, "full", ordered = false)
  }
}

object EventIngest {
  val BacklogEvents = 500    // events per pass
  val BacklogFileEvents = 50 // events per file
  val MinBacklogs = 4        // the cold pass, the warm-up pass and two timed passes

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name -> the micro-batch of this query that read it, from the
    * file source's metadata log (deltas and compactions alike).
    */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    for (f <- Option(new File(s"$ckpt/sources/0").listFiles).toSeq.flatten
         if f.isFile && !f.getName.startsWith(".");
         line <- Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala;
         p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line)) {
      val name = p.group(1).split('/').last
      val id = b.group(1).toLong
      out(name) = math.min(out.getOrElse(name, id), id)
    }
    out.toMap
  }
}
