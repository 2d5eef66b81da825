package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.StarSchema
import graft.sources.GraftSources

/** The paper's chain, end to end: the pass's events ingested by the
  * streaming jobs, staging, the five dims, the fact written as
  * date-partitioned parquet, an incremental load of it, the held-out
  * late order days appended and loaded incrementally, and one report
  * read back off the written star schema.
  */
object StarPipeline {
  val Dims: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame, String)] = Seq(
    ("dim_date", StarSchema.dimDate, StarSchema.dimDateSql),
    ("dim_customer", StarSchema.dimCustomer, StarSchema.dimCustomerSql),
    ("dim_product", StarSchema.dimProduct, StarSchema.dimProductSql),
    ("dim_session_context", StarSchema.dimSessionContext, StarSchema.dimSessionContextSql),
    ("dim_location", StarSchema.dimLocation, StarSchema.dimLocationSql))

  val FactCols = Seq("sales_order_key", "product_key", "customer_key", "location_key",
    "session_context_key", "date_key", "sales_amount", "quantity", "order_source_id",
    "line_number", "order_date")

  /** Revenue by month x market segment x region, off the written tables. */
  def report(fact: DataFrame, dimCustomer: DataFrame, dimLocation: DataFrame): DataFrame =
    fact.join(dimCustomer, "customer_key").join(dimLocation, "location_key")
      .groupBy(substring(col("order_date").cast("string"), 1, 7).as("month"),
        col("market_segment"), col("region_name"))
      .agg(sum(col("sales_amount").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("lines"))
      .orderBy("month", "market_segment", "region_name")

  val ReportSql: String =
    s"""WITH f AS (${StarSchema.factSalesSql}),
       |dc AS (${StarSchema.dimCustomerSql}),
       |dl AS (${StarSchema.dimLocationSql})
       |SELECT substr(f.order_date, 1, 7) AS month, dc.market_segment, dl.region_name,
       |  CAST(sum(CAST(f.sales_amount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       |  count(*) AS lines
       |FROM f JOIN dc ON f.customer_key = dc.customer_key
       |JOIN dl ON f.location_key = dl.location_key
       |GROUP BY 1, 2, 3 ORDER BY month, market_segment, region_name""".stripMargin

  /** Warm passes timed in every run, at the least (a traced run times
    * two, as it alternates recording).
    */
  val WarmPasses = 1

  final case class Pass(wall: Double, appendS: Double, stepWalls: Seq[Double])

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val base = c.data("base")
    val late = c.data("late")
    val lateDays = new File(s"${c.args.data}/late_days.txt").exists match {
      case true => scala.io.Source.fromFile(s"${c.args.data}/late_days.txt").getLines()
        .map(_.trim).filter(_.nonEmpty).toSeq.sorted
      case false => Seq.empty
    }
    val ingest = new EventIngest(c, c.work("stream"))

    def pass(p: Int): Pass = {
      val w = c.work(s"star/pass-$p")
      Fs.delete(w)
      val rec = c.rec
      val t0 = System.nanoTime()
      val steps = Seq.newBuilder[Double]
      def step(name: String, layer: String = "etl")(body: => Unit): Unit = {
        val s0 = System.nanoTime()
        rec.op(name, layer, p)(body)
        steps += (System.nanoTime() - s0) / 1e9
      }
      def built(df: => DataFrame): DataFrame = rec.span("build", "etl.build") {
        val s0 = System.nanoTime()
        val d = df
        addOp("etl.build_s", (System.nanoTime() - s0) / 1e9)
        d
      }
      def exec(body: => Unit): Unit = rec.span("exec", "etl.exec") {
        val s0 = System.nanoTime()
        body
        addOp("etl.exec_s", (System.nanoTime() - s0) / 1e9)
      }
      def addOp(k: String, v: Double): Unit = if (rec.current != null) rec.current.add(k, v)
      def writeFact(df: DataFrame): Unit = rec.span("writePartitioned", "sources") {
        val (b0, f0) = Fs.sizeAndCount(s"$w/fact_sales")
        val s0 = System.nanoTime()
        GraftSources.writePartitioned(df, s"$w/fact_sales", Seq("order_date"))
        addOp("sources.write_s", (System.nanoTime() - s0) / 1e9)
        val (b1, f1) = Fs.sizeAndCount(s"$w/fact_sales")
        addOp("sources.write_bytes", (b1 - b0).toDouble)
        addOp("sources.write_files", (f1 - f0).toDouble)
      }
      def load(): Seq[String] = rec.span("incrementalLoad", "sources") {
        val s0 = System.nanoTime()
        val (df, fresh) = GraftSources.incrementalLoad(spark, s"$w/fact_sales", s"$w/_loaded")
        df.foreach(_.write.format("noop").mode("overwrite").save())
        addOp("sources.incr_load_s", (System.nanoTime() - s0) / 1e9)
        addOp("sources.incr_partitions", fresh.size.toDouble)
        fresh
      }

      step("ingest_events", "stream") {
        if (p == 0) ingest.start()
        ingest.drain()
      }
      step("stg_events") {
        val df = built(StarSchema.stgEvents(spark, base))
        exec(df.write.mode("overwrite").parquet(s"$w/stg_events"))
      }
      for ((name, fn, _) <- Dims) step(name) {
        val df = built(fn(spark, base))
        exec(df.write.mode("overwrite").parquet(s"$w/$name"))
      }
      step("fact_sales")(writeFact(built(StarSchema.factSales(spark, base))))
      step("load_base", "sources")(load())
      val a0 = System.nanoTime()
      step("append_late")(writeFact(built(StarSchema.factSales(spark, late))))
      var fresh = Seq.empty[String]
      step("load_late", "sources") { fresh = load() }
      step("report") {
        val df = built(report(spark.read.parquet(s"$w/fact_sales"),
          spark.read.parquet(s"$w/dim_customer"), spark.read.parquet(s"$w/dim_location")))
        exec(df.coalesce(1).write.mode("overwrite").parquet(s"$w/report"))
      }
      val end = System.nanoTime()
      val appendS = (end - a0) / 1e9
      c.inlineChecks(s"pass$p.late_partitions") =
        fresh.sorted == lateDays.map(d => s"order_date=$d")
      Pass((end - t0) / 1e9, appendS, steps.result())
    }

    c.rec.recording = c.rec.traced
    val cold = pass(0)
    if (c.rec.traced) c.recordedPasses += 1
    c.e2e("cold_s") = cold.wall
    // the JIT is still compiling much of the chain in the pass after the
    // cold one, which makes that pass 20-50 % slower and its time vary
    // from run to run, so it only warms up; the per-layer sums count it
    val warmUp = pass(1)
    if (c.rec.traced) c.recordedPasses += 1
    c.extra("warm_up_s") = warmUp.wall
    val warm = scala.collection.mutable.ArrayBuffer.empty[Pass]
    // every run times the same passes: at least WarmPasses, for at least
    // --seconds
    val minWarm = if (c.rec.traced) 2 else WarmPasses
    val start = System.nanoTime()
    while (ingest.canDrain &&
        (warm.size < minWarm || (System.nanoTime() - start) / 1e9 < c.args.seconds)) {
      val i = warm.size + 1
      Fs.delete(c.work(s"star/pass-$i"))
      c.warmPass(i) {
        val r = pass(i + 1)
        warm += r
        r.wall
      }
    }
    // the heap is sampled once the streaming jobs have stopped: a trigger
    // that runs during the collections can hold hundreds of MB
    ingest.stop()
    c.sampleHeap()
    c.e2e("warm_s") = Quantiles.median(warm.map(_.wall).toSeq)
    val steps = warm.flatMap(_.stepWalls).toSeq
    c.e2e("op_p50_s") = Quantiles.quantile(steps, 0.5)
    c.e2e("op_p90_s") = Quantiles.quantile(steps, 0.9)
    c.extra("warm_passes") = warm.size
    c.extra("warm_walls") = warm.map(_.wall).toSeq
    c.extra("step_samples") = steps.size
    c.extra("append_s") = Quantiles.median(warm.map(_.appendS).toSeq)
    c.layerOverrides("sources.append_s") = c.extra("append_s").asInstanceOf[Double]
    c.extra("late_days") = lateDays
    c.layerOverrides("streaming.backlog_files") = ingest.maxFilesPerBatch.toDouble

    // oracle dumps of the last pass, outside the timed region
    val w = c.work(s"star/pass-${warm.size + 1}")
    c.rec.op("dump_checks", "check", -1, timed = false) {
      c.checks += Check("stg_events", s"$w/stg_events", StarSchema.stgEventsSql, "base", ordered = false)
      for ((name, _, sql) <- Dims) c.checks += Check(name, s"$w/$name", sql, "base", ordered = false)
      spark.read.parquet(s"$w/fact_sales")
        .select(FactCols.map(n => if (n == "order_date") col(n).cast("string").as(n) else col(n)): _*)
        .write.mode("overwrite").parquet(s"$w/check_fact_sales")
      c.checks += Check("fact_sales", s"$w/check_fact_sales", StarSchema.factSalesSql, "full",
        ordered = false)
      c.checks += Check("report", s"$w/report", ReportSql, "full", ordered = true)
    }
    ingest.addChecks()
  }
}

/** Small file-system helpers. */
object Fs {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Bytes and count of the data files under `path` (hidden and
    * underscore-prefixed files excluded, as readers skip them).
    */
  def sizeAndCount(path: String): (Long, Long) = {
    var bytes = 0L
    var n = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        bytes += f.length; n += 1
      }
    walk(new File(path))
    (bytes, n)
  }
}
