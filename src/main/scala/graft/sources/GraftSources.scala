package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Sources & sinks (SURVEY.md §2 J) — the reference's stage 5/6
  * (BSON dumps → object storage → partitioned warehouse load,
  * reference: `6.data-pipeline-storage/export_to_GCS.py` +
  * `trigger_bigquery_load.py`) re-expressed as schema'd Spark readers,
  * a date-partitioned columnar sink, and an incremental
  * only-new-partitions loader.
  */
object GraftSources {

  /** JSONL reader with an explicit schema — never infer in production:
    * inference is a full extra pass over 100 TB and can silently widen
    * types between runs.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV reader with explicit schema; malformed rows are dropped (the
    * reference's crawler output is similarly best-effort).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "DROPMALFORMED")
      .csv(path)

  /** ORC reader with explicit schema — the second columnar format the
    * warehouse load path accepts (some upstream exporters emit ORC).
    * Same no-inference rule as JSONL/CSV.
    */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink (snappy, the Spark default) — round-trips through
    * [[orc]]; columnar + predicate-pushdown-capable like parquet.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** XML reader (Spark 4's built-in XML source) with explicit schema
    * and row tag — the format legacy enterprise feeds still ship
    * (product catalogs, EDI exports). Same no-inference rule; rows
    * that fail to parse surface under PERMISSIVE as nulls rather than
    * killing the 100 TB batch.
    */
  def xml(spark: SparkSession, path: String, schema: StructType,
      rowTag: String): DataFrame =
    spark.read.schema(schema).option("rowTag", rowTag).xml(path)

  /** XML sink — round-trips through [[xml]] with the same row tag. */
  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag).xml(path)

  /** Hive-style partitioned parquet sink. `maxRecordsPerFile` caps
    * file size so a skewed partition can't produce a single huge file
    * (the 100 TB failure mode of naive partitioned writes).
    *
    * A final global sort of `df` is dropped before the write: the
    * sink keeps no row order (the write sorts each task's rows by the
    * partition columns itself), so that order would only cost a
    * sampling job and a range shuffle. The sort is kept where its
    * order can matter — under a limit, under a nondeterministic
    * projection — and where it is persisted, so that the cached plan
    * is used.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 1L << 20): Unit =
    withoutFinalSort(df).write
      .mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** `df` without a global sort at its root or under deterministic
    * projections only; `df` itself when it has none, or when the sort
    * or a projection above it is persisted.
    */
  private def withoutFinalSort(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    def persisted(p: LogicalPlan): Boolean =
      GraftSqlShim.ofRows(spark, p).storageLevel != StorageLevel.NONE
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case _ if persisted(p) => None
      case s: Sort if s.global => Some(s.child)
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        strip(pr.child).map(c => pr.copy(child = c))
      case _ => None
    }
    strip(GraftSqlShim.logicalPlan(df)).fold(df)(GraftSqlShim.ofRows(spark, _))
  }

  /** List the partition directory names (e.g. `event_date=2024-01-01`)
    * currently present under a partitioned table root.
    */
  def listPartitions(spark: SparkSession, tablePath: String): Seq[String] = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
      .sorted
  }

  /** Incremental load: read only partitions not yet recorded in the
    * plain-text state file, then mark them processed. Partition
    * pruning keeps the scan proportional to NEW data — the property
    * that makes nightly loads O(day) instead of O(history)
    * (reference: `6.data-pipeline-storage/trigger_bigquery_load.py:116`
    * trigger_bigquery_load — per-object incremental loads with an
    * audit trail).
    * Returns (newly loaded DataFrame or None, newly seen partitions).
    */
  def incrementalLoad(spark: SparkSession, tablePath: String,
      statePath: String): (Option[DataFrame], Seq[String]) = {
    val state = new Path(statePath)
    val fs = state.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen: Set[String] =
      if (fs.exists(state)) {
        val in = fs.open(state)
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        txt.split("\n").filter(_.nonEmpty).toSet
      } else Set.empty
    val fresh = listPartitions(spark, tablePath).filterNot(seen)
    val df = if (fresh.isEmpty) None else Some(
      spark.read
        .option("basePath", tablePath)
        .parquet(fresh.map(f => s"$tablePath/$f"): _*))
    val out = fs.create(state, true)
    try out.write((seen ++ fresh).toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    (df, fresh)
  }

  /** Per-partition file statistics (file count, rows, bytes) — the
    * ANALYZE-style health view an operator reads before deciding to
    * compact. Pure metadata pass: rows come from the parquet footers
    * (count() over a single partition's pruned scan reads no data
    * pages), bytes/files from the file system listing.
    */
  def partitionStats(spark: SparkSession, tablePath: String): Seq[(String, Int, Long, Long)] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listPartitions(spark, tablePath).map { part =>
      val files = fs.listStatus(new Path(root, part)).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val rows = spark.read.parquet(s"$tablePath/$part").count()
      (part, files.size, rows, files.map(_.getLen).sum)
    }
  }

  /** Small-file compaction: rewrite a partition's many small files
    * into ⌈rows / rowsPerFile⌉ right-sized ones — the maintenance job
    * that keeps a frequently-appended 100 TB table scannable (every
    * small file costs a task + a footer read on every future scan).
    * Rewrites into a staging dir first, then swaps atomically-enough
    * for a single-writer maintenance window; the data is bit-identical
    * (no recompression choices surfaced here).
    */
  def compactPartition(spark: SparkSession, tablePath: String, partition: String,
      rowsPerFile: Long = 1L << 20): Unit = {
    val src = s"$tablePath/$partition"
    val df = spark.read.parquet(src)
    val n = df.count()
    val nFiles = math.max(1, ((n + rowsPerFile - 1) / rowsPerFile).toInt)
    val stagePath = s"$tablePath/.compact_$partition"
    df.repartition(nFiles).write.mode("overwrite").parquet(stagePath)
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(src), true)
    fs.rename(new Path(stagePath), new Path(src))
  }

  /** Idempotent partition overwrite: replace ONE partition's contents
    * atomically (write to a staging dir, then swap), leaving every
    * other partition untouched. This is the replay path of the
    * reference's per-date warehouse loads (reference:
    * `6.data-pipeline-storage/trigger_bigquery_load.py:60-120` — each
    * date partition loads with WRITE_TRUNCATE semantics, so re-running
    * a day is safe): running it twice with the same input yields the
    * same table state, which is what makes backfills and failed-job
    * retries safe on a 100 TB table. Same stage-and-swap machinery as
    * [[compactPartition]].
    */
  def overwritePartition(spark: SparkSession, df: DataFrame, tablePath: String,
      partition: String): Unit = {
    val target = new Path(s"$tablePath/$partition")
    val stagePath = new Path(s"$tablePath/.stage_$partition")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(stagePath.toString)
    fs.delete(target, true)
    if (!fs.rename(stagePath, target))
      throw new java.io.IOException(s"overwritePartition: rename $stagePath -> $target failed")
  }

  /** Length-prefixed binary record reader — the public-format stand-in
    * for the reference's BSON dump ingestion (reference:
    * `5.data-collection-storage/ip_processor.py:1-60` reads `.bson`
    * dumps record by record; BSON is itself a length-prefixed binary
    * document stream). Format per record: 4-byte big-endian length,
    * then that many payload bytes. Each input FILE is the unit of
    * parallelism (records never split across files — the same
    * granularity as one `.bson` dump per collection chunk), so a
    * directory of dump files scans in parallel with no record-boundary
    * scanning problem.
    */
  def binaryRecords(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StringType}
    val rows = spark.sparkContext.binaryFiles(path).flatMap { case (file, pds) =>
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(pds.open()))
      new Iterator[Row] {
        private var nextRec: Array[Byte] = advance()
        private def advance(): Array[Byte] = {
          val lenBytes = new Array[Byte](4)
          val first = in.read(lenBytes, 0, 4)
          if (first < 0) { in.close(); null }
          else {
            if (first < 4) in.readFully(lenBytes, first, 4 - first)
            val len = java.nio.ByteBuffer.wrap(lenBytes).getInt
            require(len >= 0, s"negative record length $len in $file")
            val buf = new Array[Byte](len)
            in.readFully(buf)
            buf
          }
        }
        def hasNext: Boolean = nextRec != null
        def next(): Row = { val r = nextRec; nextRec = advance(); Row(file, r) }
      }
    }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("source_file", StringType), StructField("record", BinaryType))))
  }

  /** Schema'd view over [[binaryRecords]] for UTF-8 JSON payloads (the
    * dump-to-rows step: BSON documents land as typed columns). Explicit
    * schema, never inferred — same rule as every other reader here.
    */
  def binaryRecordsJson(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, decode, from_json}
    binaryRecords(spark, path)
      .select(from_json(decode(col("record"), "UTF-8"), schema).as("doc"))
      .select("doc.*")
  }

  /** Writer counterpart of [[binaryRecords]] (test/export utility):
    * one length-prefixed file per call.
    */
  def writeBinaryRecords(spark: SparkSession, records: Seq[Array[Byte]], file: String): Unit = {
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.DataOutputStream(fs.create(p, true))
    try records.foreach { r => out.writeInt(r.length); out.write(r) }
    finally out.close()
  }

  /** Batch-read a Structured Streaming state store (Spark 4's
    * `statestore` DSv2 source): the debugging/backfill surface over a
    * running query's checkpoint — audit the live state of a
    * `transformWithState` feature store, seed a batch job from it, or
    * validate state after a migration, all WITHOUT stopping the
    * stream. `stateVarName` selects the state variable for
    * transformWithState checkpoints (e.g. the running-profile's
    * "profile" ValueState); None reads classic single-state operators
    * (aggregations, dedup).
    *
    * Scale shape: the source reads one partition per state-store
    * shard, preserving the stream's hash partitioning — a state scan
    * is as parallel as the stream that wrote it and never funnels
    * through the driver.
    */
  def readStateStore(spark: SparkSession, checkpointDir: String,
      stateVarName: Option[String] = None): DataFrame = {
    val base = spark.read.format("statestore").option("path", checkpointDir)
    stateVarName.fold(base)(v => base.option("stateVarName", v)).load()
  }
}
