package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.GraftFunctions.money

/** Customer-behavior analytics over the order history — the
  * warehouse-consumer layer the reference's star schema feeds (its
  * Looker dashboards slice fact_sales_order by customer and date;
  * reference: `7.data-transformation-visualization/README.md`). These
  * are the four classic e-commerce marts built on top of such a fact
  * table: RFM segmentation, cohort retention, market-basket affinity,
  * and activity-streak (gap/island) analysis.
  */
object Commerce {

  /** Bucket width for the monetary-value ranking buckets: customers
    * whose lifetime spend falls in the same `width`-sized band share a
    * rank bucket (see [[globalRowNumber]]).
    */
  private[graft] val MonetaryBucketWidth = 10000.0

  /** Distributed global row_number: a total-order rank over the whole
    * frame WITHOUT an unpartitioned window (which would drag every row
    * through one task). Two-level: rows rank locally within
    * `bucketCol` partitions, per-bucket counts (one row per bucket)
    * take the tiny ordered window, and bucket offsets broadcast back —
    * the same prefix-sum shape as `TextAnalysis.sequencePack`.
    *
    * Contract: `bucketCol`'s ascending order must be consistent with
    * `order` across buckets (rows in a smaller bucket sort strictly
    * before rows in a larger one), and `order` must be a total order.
    * Equal-`order` rows always share a bucket, so the result equals
    * `row_number() OVER (ORDER BY order…)` exactly — the oracle states
    * that single global window; the distributed formulation is
    * invisible in the result.
    */
  private[graft] def globalRowNumber(
      df: DataFrame, bucketCol: Column, order: Seq[Column], out: String): DataFrame =
    classRowNumber(df, Nil, bucketCol, order, out)

  /** [[globalRowNumber]] generalized to a rank WITHIN each class: a
    * distributed `row_number() OVER (PARTITION BY classCols ORDER BY
    * order…)` that never sorts a whole class in one task. Raw rows
    * rank locally inside (class, bucket) partitions; the tiny ordered
    * window (one row per bucket) runs per class over per-bucket counts
    * and its offsets broadcast back. A low-cardinality class column
    * (e.g. 5 priority values over 10⁹ orders) therefore costs a
    * (class, bucket)-keyed sort instead of dragging N/5 rows through
    * one task. Same contract as [[globalRowNumber]]: within a class,
    * `bucketCol`'s ascending order must agree with `order`, and
    * equal-`order` rows must share a bucket. NULL class/bucket keys
    * are valid window partitions — the offset join is null-safe
    * (`<=>`), matching `PARTITION BY` semantics where NULL groups
    * with NULL. NULL `order` (or `bucketCol`) VALUES, however, sort
    * NULLS FIRST ascending in Spark while DuckDB's bare ORDER BY
    * defaults to NULLS LAST — a caller ranking a nullable column must
    * state `NULLS FIRST` explicitly in the oracle SQL (current
    * callers all rank non-null keys).
    */
  private[graft] def classRowNumber(df: DataFrame, classCols: Seq[String],
      bucketCol: Column, order: Seq[Column], out: String): DataFrame = {
    val cls = classCols.map(col)
    val b = df.withColumn("__bucket", bucketCol)
    val wLocal = Window.partitionBy(cls :+ col("__bucket"): _*).orderBy(order: _*)
    val wOff = Window.partitionBy(cls: _*).orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val joinKeys = classCols :+ "__bucket"
    val offsets = b.groupBy(cls :+ col("__bucket"): _*).agg(count(lit(1)).as("__bc"))
      .select(cls :+ col("__bucket") :+
        coalesce(sum(col("__bc")).over(wOff), lit(0L)).as("__boff"): _*)
    // null-safe equi-join (a using-column join drops NULL keys, but a
    // NULL class or bucket is a legitimate window partition)
    val offRenamed = joinKeys.foldLeft(offsets)((d, c) => d.withColumnRenamed(c, "__o_" + c))
    val cond = joinKeys.map(c => col(c) <=> col("__o_" + c)).reduce(_ && _)
    b.withColumn("__local_rk", row_number().over(wLocal))
      .join(broadcast(offRenamed), cond)
      .withColumn(out, col("__boff") + col("__local_rk"))
      .drop(joinKeys.map("__o_" + _) :+ "__bucket" :+ "__local_rk" :+ "__boff": _*)
  }

  /** [[globalRowNumber]] extended with a running SUM of `valCol`
    * alongside the rank — the distributed form of
    * `row_number() OVER (ORDER BY …)` + `sum(v) OVER (ORDER BY … ROWS
    * UNBOUNDED PRECEDING)` in ONE pass, still without an unpartitioned
    * window: rows rank and cum-sum locally within `bucketCol`
    * partitions, per-bucket (count, sum) rows take the tiny ordered
    * window, and both offsets broadcast back. Same ordering contract
    * as [[globalRowNumber]]; `valCol` must be integral (LongType sums
    * exactly — overflow discipline is the caller's, as with any SUM).
    */
  private[graft] def globalRankCumsum(df: DataFrame, bucketCol: Column,
      order: Seq[Column], valCol: Column, rkOut: String, cumOut: String): DataFrame = {
    val b = df.withColumn("__bucket", bucketCol).withColumn("__v", valCol)
    val wLocal = Window.partitionBy(col("__bucket")).orderBy(order: _*)
    val wLocalCum = wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__bc"), sum(col("__v")).as("__bs"))
      .select(col("__bucket").as("__o_bucket"),
        coalesce(sum(col("__bc")).over(wOff), lit(0L)).as("__boff"),
        coalesce(sum(col("__bs")).over(wOff), lit(0L)).as("__soff"))
    b.withColumn("__local_rk", row_number().over(wLocal))
      .withColumn("__local_cum", sum(col("__v")).over(wLocalCum))
      .join(broadcast(offsets), col("__bucket") <=> col("__o_bucket"))
      .withColumn(rkOut, col("__boff") + col("__local_rk"))
      .withColumn(cumOut, col("__soff") + col("__local_cum"))
      .drop("__o_bucket", "__bucket", "__v", "__local_rk", "__local_cum",
        "__boff", "__soff")
  }

  /** SQL `ntile(k)` of 1-based rank `rk` over `n` rows, as arithmetic:
    * the first `n % k` buckets take `n div k + 1` rows, the rest
    * `n div k`. The CASE guards the div-by-zero branch when n < k.
    */
  private[graft] def ntileExpr(rk: String, n: String, k: Int): Column = expr(
    s"""CAST(CASE WHEN ($rk - 1) < ($n % $k) * ($n div $k + 1)
       |  THEN ($rk - 1) div ($n div $k + 1) + 1
       |  ELSE ($n % $k) + (($rk - 1) - ($n % $k) * ($n div $k + 1)) div ($n div $k) + 1
       |END AS BIGINT)""".stripMargin)

  /** RFM segmentation: per customer, recency (days since last order,
    * against the corpus max date), frequency (order count), monetary
    * (lifetime spend, exact decimal), each quartile-scored 1–4.
    *
    * Scale shape: the heavy lift is the one groupBy(custkey) over the
    * order log; the three quartile scores then need a GLOBAL rank per
    * metric over the customer aggregate — at 10⁸ customers an
    * unpartitioned ntile window is a single-task sort, so each rank is
    * a [[globalRowNumber]] two-level prefix sum instead (value-keyed
    * buckets: recency days and order counts are naturally
    * low-cardinality; spend is banded by [[MonetaryBucketWidth]]).
    * ntile is then pure arithmetic on (rank, N). The oracle states the
    * three plain ntile windows — equal by construction.
    */
  def rfmSegment(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val mx = o.agg(max(col("o_orderdate")).as("__mx"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(money(col("o_totalprice"))).cast("double").as("monetary"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey").as("c_custkey"),
        datediff(col("__mx").cast("date"), col("__last").cast("date"))
          .cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    val n = cust.agg(count(lit(1)).as("__n"))
    // Bucket keys ascend exactly as each metric's ORDER BY does:
    // recency asc → the value; frequency/monetary desc → negated band.
    val r = globalRowNumber(cust,
      col("recency_days"), Seq(col("recency_days"), col("c_custkey")), "__rrk")
    val f = globalRowNumber(r,
      -col("frequency"), Seq(col("frequency").desc, col("c_custkey")), "__frk")
    val m = globalRowNumber(f,
      -floor(col("monetary") / MonetaryBucketWidth),
      Seq(col("monetary").desc, col("c_custkey")), "__mrk")
    m.crossJoin(broadcast(n))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        ntileExpr("__rrk", "__n", 4).as("r_score"),
        ntileExpr("__frk", "__n", 4).as("f_score"),
        ntileExpr("__mrk", "__n", 4).as("m_score"))
      .orderBy("c_custkey")
  }

  val rfmSegmentSql: String =
    """WITH cust AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
      |      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS BIGINT) AS recency_days,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY 1)
      |SELECT c_custkey, recency_days, frequency, monetary,
      |  CAST(ntile(4) OVER (ORDER BY recency_days, c_custkey) AS BIGINT) AS r_score,
      |  CAST(ntile(4) OVER (ORDER BY frequency DESC, c_custkey) AS BIGINT) AS f_score,
      |  CAST(ntile(4) OVER (ORDER BY monetary DESC, c_custkey) AS BIGINT) AS m_score
      |FROM cust ORDER BY c_custkey""".stripMargin

  /** Cohort retention: customers grouped by first-order year; for each
    * (cohort, years-since) cell, how many are still ordering, and what
    * share of the cohort that is. One groupBy(custkey) for the cohort
    * assignment, one custkey-keyed join back (both sides share the
    * shuffle key), a distinct on the already-narrow (cust, cohort,
    * year) triple, and a broadcast of the tiny per-year cohort sizes.
    * Rates are int/int division in double — bit-identical across
    * engines.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
    val first = o.groupBy(col("o_custkey"))
      .agg(min(col("yr")).as("cohort_year"))
    val sizes = first.groupBy(col("cohort_year"))
      .agg(count(lit(1)).as("cohort_size"))
    o.join(first, "o_custkey")
      .select(col("o_custkey"), col("cohort_year"), col("yr").as("active_year"))
      .distinct()
      .groupBy(col("cohort_year"),
        (col("active_year") - col("cohort_year")).cast("long").as("offset_years"))
      .agg(count(lit(1)).as("active_customers"))
      .join(broadcast(sizes), Seq("cohort_year"))
      .select(col("cohort_year").cast("long").as("cohort_year"),
        col("offset_years"), col("active_customers"), col("cohort_size"),
        (col("active_customers").cast("double") / col("cohort_size").cast("double"))
          .as("retention_rate"))
      .orderBy("cohort_year", "offset_years")
  }

  val retentionCohortsSql: String =
    """WITH first AS (
      |  SELECT o_custkey, min(year(o_orderdate)) AS cohort_year FROM orders GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT o.o_custkey, f.cohort_year, year(o.o_orderdate) AS active_year
      |  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey),
      |sizes AS (SELECT cohort_year, count(*) AS cohort_size FROM first GROUP BY 1)
      |SELECT a.cohort_year, a.active_year - a.cohort_year AS offset_years,
      |  count(*) AS active_customers, s.cohort_size,
      |  CAST(count(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention_rate
      |FROM act a JOIN sizes s ON a.cohort_year = s.cohort_year
      |GROUP BY a.cohort_year, offset_years, s.cohort_size
      |ORDER BY a.cohort_year, offset_years""".stripMargin

  /** Market-basket affinity: brand pairs co-purchased in one order,
    * scored by lift and confidence. The pair stream is the order-keyed
    * self-join of the distinct (order, brand) table — pair volume is
    * Σ basket², bounded by basket size, never |orders|² — and the
    * per-brand marginals broadcast back (brand cardinality is tiny).
    * Lift/confidence are integer-valued products/ratios computed in
    * double below 2^53 — exact, so the DESC ordering is
    * engine-stable (ties broken by the brand pair).
    */
  /** Distinct brand sets per order — the shared input of the basket
    * family (`basket_lift`, `basket_triples`). ONE basket aggregation
    * (collect_set dedupes and groups in the same exchange — the
    * cooccur_recs rewrite) feeds every consumer (basket count, brand
    * marginals, pair/triple explodes); the distinct + self-join
    * formulation re-ran the lineitem⋈part distinct for each and paid
    * an orderkey join shuffle for the pairs.
    *
    * SESSION-shared via [[graft.core.SharedFrames]] (the supportEdges
    * / kmeans-assignment convention): both basket queries read ONE
    * memoized build instead of each re-paying the lineitem⋈part
    * shuffle per run (VERDICT r11 #1: each query own-caching its
    * private copy made the driver bench charge the same build twice,
    * and the charge moved between rounds); a planned harness run
    * releases it after its last recorded reader finishes.
    * |orders|-sized with bounded brand arrays; MEMORY_AND_DISK
    * spills rather than evicts at 100 TB.
    */
  private def brandBaskets(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "commerce.brandBaskets", dir) {
      val t = Tables(spark, dir)
      t.lineitem.select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("p_brand")).as("bs"))
    }

  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    // pairs explode map-side off the shared [[brandBaskets]] frame;
    // volume is still Σ basket² at brand grain.
    val baskets = brandBaskets(spark, dir)
    val n = baskets.agg(count(lit(1)).as("__n"))
    val cnt = baskets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    baskets
      .select(explode(col("bs")).as("ba"), col("bs"))
      .select(col("ba"), explode(col("bs")).as("bb"))
      .filter(col("ba") < col("bb"))
      .groupBy(col("ba").as("brand_a"), col("bb").as("brand_b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= 30)
      .join(broadcast(cnt.select(col("b").as("brand_a"), col("c").as("__ca"))), Seq("brand_a"))
      .join(broadcast(cnt.select(col("b").as("brand_b"), col("c").as("__cb"))), Seq("brand_b"))
      .crossJoin(broadcast(n))
      .select(col("brand_a"), col("brand_b"), col("pair_count"),
        ((col("pair_count") * col("__n")).cast("double") /
          (col("__ca") * col("__cb")).cast("double")).as("lift"),
        (col("pair_count").cast("double") / col("__ca").cast("double"))
          .as("confidence_a_b"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(50)
  }

  /** Directional association rules (round 14): where [[basketLift]]
    * scores the SYMMETRIC pair, this emits both directions x→y with
    * the rule-mining triple — confidence P(y|x), conviction
    * (1−supp_y)/(1−conf) (how much more often x appears WITHOUT y
    * than independence predicts — the directional miss-rate ratio
    * lift cannot express), and leverage supp_xy − supp_x·supp_y.
    * Same shared [[brandBaskets]] frame and ≥30-support floor; every
    * ratio is one division (or two, identical text) of exact
    * sub-2^53 integer cross-products; conviction of an exceptionless
    * rule (conf = 1) is NULL by CASE on both engines. Top-40 by
    * confidence, (x, y) tiebreak.
    *
    * Scale shape: identical to basket_lift — pairs explode map-side
    * off the shared basket frame, marginals broadcast back onto the
    * ≤|brands|² rule rows.
    */
  def basketConvictionRules(spark: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(spark, dir)
    val n = baskets.agg(count(lit(1)).as("__n"))
    val cnt = baskets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val und = baskets
      .select(explode(col("bs")).as("ba"), col("bs"))
      .select(col("ba"), explode(col("bs")).as("bb"))
      .filter(col("ba") < col("bb"))
      .groupBy(col("ba"), col("bb"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= 30)
    val directed = und.select(col("ba").as("brand_x"), col("bb").as("brand_y"), col("pair_count"))
      .unionByName(und.select(col("bb").as("brand_x"), col("ba").as("brand_y"), col("pair_count")))
    directed
      .join(broadcast(cnt.select(col("b").as("brand_x"), col("c").as("__cx"))), Seq("brand_x"))
      .join(broadcast(cnt.select(col("b").as("brand_y"), col("c").as("__cy"))), Seq("brand_y"))
      .crossJoin(broadcast(n))
      .selectExpr("brand_x", "brand_y", "CAST(pair_count AS BIGINT) AS pair_count",
        "CAST(pair_count AS DOUBLE) / CAST(__cx AS DOUBLE) AS confidence",
        """CASE WHEN __cx = pair_count THEN NULL
          |ELSE CAST((__n - __cy) * __cx AS DOUBLE) / CAST(__n * (__cx - pair_count) AS DOUBLE)
          |END AS conviction""".stripMargin,
        "CAST(pair_count * __n - __cx * __cy AS DOUBLE) / CAST(__n AS DOUBLE) / CAST(__n AS DOUBLE) AS leverage")
      .orderBy(col("confidence").desc, col("brand_x"), col("brand_y"))
      .limit(40)
  }

  val basketConvictionRulesSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
      |cnt AS (SELECT b, count(*) AS c FROM ob GROUP BY 1),
      |und AS (
      |  SELECT a.b AS ba, b2.b AS bb, count(*) AS pair_count
      |  FROM ob a JOIN ob b2 ON a.o = b2.o AND a.b < b2.b GROUP BY 1, 2
      |  HAVING count(*) >= 30),
      |directed AS (
      |  SELECT ba AS brand_x, bb AS brand_y, pair_count FROM und
      |  UNION ALL
      |  SELECT bb, ba, pair_count FROM und)
      |SELECT brand_x, brand_y, CAST(pair_count AS BIGINT) AS pair_count,
      |  CAST(pair_count AS DOUBLE) / CAST(cx.c AS DOUBLE) AS confidence,
      |  CASE WHEN cx.c = pair_count THEN NULL
      |  ELSE CAST(((SELECT n_orders FROM n) - cy.c) * cx.c AS DOUBLE)
      |    / CAST((SELECT n_orders FROM n) * (cx.c - pair_count) AS DOUBLE)
      |  END AS conviction,
      |  CAST(pair_count * (SELECT n_orders FROM n) - cx.c * cy.c AS DOUBLE)
      |    / CAST((SELECT n_orders FROM n) AS DOUBLE)
      |    / CAST((SELECT n_orders FROM n) AS DOUBLE) AS leverage
      |FROM directed
      |JOIN cnt cx ON directed.brand_x = cx.b
      |JOIN cnt cy ON directed.brand_y = cy.b
      |ORDER BY confidence DESC, brand_x, brand_y LIMIT 40""".stripMargin

  val basketLiftSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM ob),
      |cnt AS (SELECT b, count(*) AS c FROM ob GROUP BY 1),
      |pairs AS (
      |  SELECT a.b AS brand_a, b2.b AS brand_b, count(*) AS pair_count
      |  FROM ob a JOIN ob b2 ON a.o = b2.o AND a.b < b2.b GROUP BY 1, 2)
      |SELECT brand_a, brand_b, pair_count,
      |  CAST(pair_count * (SELECT n_orders FROM n) AS DOUBLE)
      |    / CAST(ca.c * cb.c AS DOUBLE) AS lift,
      |  CAST(pair_count AS DOUBLE) / CAST(ca.c AS DOUBLE) AS confidence_a_b
      |FROM pairs
      |JOIN cnt ca ON pairs.brand_a = ca.b
      |JOIN cnt cb ON pairs.brand_b = cb.b
      |WHERE pair_count >= 30
      |ORDER BY lift DESC, brand_a, brand_b LIMIT 50""".stripMargin

  /** Activity streaks (gaps and islands): per user, the runs of
    * consecutive active days in the event log — streak count, longest
    * streak, total active days. The island key is the classic
    * date-minus-row_number trick; every window and aggregate is
    * partitioned by user, so the whole query is one shuffle on
    * user_id end to end.
    */
  def gapIslands(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    ud.withColumn("__grp", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("__grp"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("__len")).as("longest_streak"),
        sum(col("__len")).as("active_days"))
      .orderBy("user_id")
  }

  val gapIslandsSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |isl AS (
      |  SELECT user_id, d,
      |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      |  FROM ud),
      |runs AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_streaks, max(len) AS longest_streak,
      |  CAST(sum(len) AS BIGINT) AS active_days
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Rolling engagement: per day, the daily active users (DAU) and
    * the TRAILING-7-DAY distinct active users (WAU) — the sliding
    * distinct count that a window frame cannot express (distinct
    * doesn't decompose over frames the way sums do).
    *
    * Scale shape: the classic bounded fan-out rewrite. Dedup the log
    * to (user, day) FIRST (one partial-agg shuffle, output ≤ users ×
    * days), then each (user, day) row contributes map-side to the ≤ 7
    * window-days it can influence (explode of a 7-element date
    * sequence), and one more partial-agg distinct per window-day
    * finishes it. Work is 7 × |user-days| regardless of raw-event
    * volume — never a per-day rescan of the trailing week, never a
    * single-task global sort. Window-days past the corpus max date
    * are clipped (they'd be partial windows of the future); the left
    * edge keeps its partial windows, the standard trailing-metric
    * convention.
    */
  def activeUsersWindow(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"))
      .distinct()
    val mx = ud.agg(max(col("d")).as("__mx"))
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("day"))
      .crossJoin(broadcast(mx)).filter(col("day") <= col("__mx"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
      .join(dau.withColumnRenamed("d", "day"), Seq("day"), "left")
      .select(col("day").cast("string").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("wau7"))
      .orderBy("day")
  }

  /** The two-proportion z statistic, as ONE SQL string shared verbatim
    * by the Spark plan and the DuckDB oracle (the `EstimateExpr`
    * discipline: every literal CAST to DOUBLE first — Spark parses a
    * bare `1.0` as DECIMAL and decimal-vs-double promotion differs
    * between engines; with doubles pinned, every op is a correctly
    * rounded IEEE op in identical order, so even the z-score is
    * bit-reproducible).
    */
  private val ZExpr: String = {
    val pbar = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    s"""(CAST(conv_a AS DOUBLE)/CAST(n_a AS DOUBLE)
       |  - CAST(conv_b AS DOUBLE)/CAST(n_b AS DOUBLE))
       | / sqrt($pbar * (CAST(1 AS DOUBLE) - $pbar)
       |        * (CAST(1 AS DOUBLE)/CAST(n_a AS DOUBLE)
       |           + CAST(1 AS DOUBLE)/CAST(n_b AS DOUBLE)))""".stripMargin
  }

  /** A/B experiment readout: users are hash-bucketed into two variants
    * (md5 of the user id — the standard deterministic assignment: no
    * assignment table to store or join, stable across reruns and
    * backfills), the metric is per-USER-DAY purchase conversion, and
    * the output is one row with both variants' counts, rates, and the
    * two-proportion z statistic. On synthetic uniform traffic the
    * variants differ only by hash noise, so |z| small is the expected
    * (A/A-test) reading — the operator is the machinery, the data is
    * its null case.
    *
    * Scale shape: one groupBy(user, day) partial-agg pass over the
    * log (the same user-day grain the engagement ops shuffle on),
    * then a single conditional aggregation to one row — assignment is
    * map-side arithmetic, never a join.
    */
  def abTestConversion(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(col("p")).as("converted"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    ud.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        (col("conv_a").cast("double") / col("n_a").cast("double")).as("cvr_a"),
        (col("conv_b").cast("double") / col("n_b").cast("double")).as("cvr_b"),
        expr(ZExpr).as("z_score"))
  }

  val abTestConversionSql: String =
    s"""WITH ud AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |v AS (
      |  SELECT *, ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS variant
      |  FROM ud),
      |agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM v)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS cvr_a,
      |  CAST(conv_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS cvr_b,
      |  $ZExpr AS z_score
      |FROM agg""".stripMargin

  val activeUsersWindowSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |mx AS (SELECT max(d) AS mx FROM ud),
      |fan AS (
      |  SELECT user_id, d + i AS day
      |  FROM ud, (SELECT CAST(unnest(range(7)) AS INTEGER) AS i)
      |  WHERE d + i <= (SELECT mx FROM mx)),
      |w AS (SELECT day, count(DISTINCT user_id) AS wau7 FROM fan GROUP BY day),
      |dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY d)
      |SELECT CAST(w.day AS VARCHAR) AS day, coalesce(dau.dau, 0) AS dau, w.wau7
      |FROM w LEFT JOIN dau ON dau.day = w.day
      |ORDER BY day""".stripMargin

  // -------------------------------------------------------------- cohort_ltv

  /** Cohort LTV curves: for each acquisition cohort (first-order
    * month) and month offset, the cohort's revenue that month, its
    * CUMULATIVE revenue, and cumulative revenue per acquired customer
    * — the lifetime-value readout [[retentionCohorts]]' activity
    * matrix prices out. Months are integer month-indices (yr·12+mo),
    * revenue stays exact cents through the cumulative window (longs
    * under the sum, one division per row at the end).
    *
    * Scale shape: one groupBy(customer) pass finds cohorts
    * (customer-dim-sized), one fact pass aggregates to the
    * cohorts × offsets matrix (calendar² rows at most), and the
    * cumulative window runs per cohort over that bounded matrix.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"),
        (money(col("o_totalprice")) * 100).cast("long").as("p"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
    val sizes = first.groupBy(col("cohort_m")).agg(count(lit(1)).as("cohort_size"))
    val cell = o.join(first, "o_custkey")
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("offset_m"))
      .agg(sum(col("p")).as("rev_c"))
    val wCum = Window.partitionBy("cohort_m").orderBy("offset_m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cell.withColumn("cum_c", sum(col("rev_c")).over(wCum))
      .join(broadcast(sizes), "cohort_m")
      .select(col("cohort_m").cast("int").as("cohort_month"),
        col("offset_m").cast("int").as("offset_months"),
        expr("CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr("CAST(cum_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("cum_revenue"),
        col("cohort_size"),
        expr("CAST(cum_c AS DOUBLE) / CAST(cohort_size * 100 AS DOUBLE)")
          .as("ltv_per_customer"))
      .orderBy("cohort_month", "offset_months")
  }

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
      |  FROM orders),
      |f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
      |sz AS (SELECT cohort_m, count(*) AS cohort_size FROM f GROUP BY 1),
      |cell AS (
      |  SELECT f.cohort_m, o.m - f.cohort_m AS offset_m, sum(o.p) AS rev_c
      |  FROM o JOIN f ON f.o_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, sum(rev_c) OVER (PARTITION BY cohort_m ORDER BY offset_m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
      |  FROM cell)
      |SELECT CAST(cum.cohort_m AS INTEGER) AS cohort_month,
      |  CAST(offset_m AS INTEGER) AS offset_months,
      |  CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
      |  CAST(cum_c AS DOUBLE) / CAST(100 AS DOUBLE) AS cum_revenue,
      |  CAST(sz.cohort_size AS BIGINT) AS cohort_size,
      |  CAST(cum_c AS DOUBLE) / CAST(sz.cohort_size * 100 AS DOUBLE) AS ltv_per_customer
      |FROM cum JOIN sz ON sz.cohort_m = cum.cohort_m
      |ORDER BY cohort_month, offset_months""".stripMargin

  // --------------------------------------------------------- time_to_convert

  /** Signup→purchase conversion latency: per user, the first signup
    * event and the first purchase AT OR AFTER it; output is the
    * one-row funnel-latency summary (converted share + latency
    * percentiles in seconds) a growth dashboard heads with. Exact
    * percentiles on integer micros, rounded-4 (the quantile_profile
    * parity convention); the seconds conversion is one double divide.
    *
    * Scale shape: two user-grain partial aggregates (first signup,
    * first qualifying purchase) on the sessionize shuffle key, then a
    * one-row summary. The percentile buffers user-grain latencies —
    * the 100-TB path is the coded GK sibling [[timeToConvertApprox]].
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val (su, conv) = conversionLatencyFrames(spark, dir)
    su.agg(count(lit(1)).as("n_signup")).crossJoin(
      conv.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lat_us, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(lat_us, 0.9)"), 4).as("p90_us")))
      .select(col("n_signup"), col("n_converted"),
        expr("CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE)").as("conv_rate"),
        expr("p50_us / CAST(1000000 AS DOUBLE)").as("p50_latency_s"),
        expr("p90_us / CAST(1000000 AS DOUBLE)").as("p90_latency_s"))
  }

  /** The signup frame (user_id, s_us) and conversion-latency frame
    * (user_id, lat_us) shared by [[timeToConvert]], its GK sibling
    * [[timeToConvertApprox]], and the Round10 rank-error test —
    * factored so the approx path measures error against the SAME
    * latency population the exact path summarizes.
    */
  private[graft] def conversionLatencyFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("ts_us") >= col("s_us"))
      .groupBy(col("user_id"), col("s_us")).agg(min(col("ts_us")).as("p_us"))
      .select(col("user_id"), (col("p_us") - col("s_us")).as("lat_us"))
    (su, conv)
  }

  /** Scale path for [[timeToConvert]] (VERDICT r9 #1): the latency
    * percentiles via the GK sketch — the latency population is
    * user-grain (one value per converted user), which at 100 TB is
    * billions of doubles in ONE ungrouped aggregation buffer under
    * exact `percentile`; the sketch partial-aggregates map-side. Raw
    * micro percentiles ride along as audit columns (GK returns actual
    * latencies) so the rank-error bound is directly testable. The
    * exact form remains the hash-gated entry.
    */
  def timeToConvertApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val (su, conv) = conversionLatencyFrames(spark, dir)
    su.agg(count(lit(1)).as("n_signup")).crossJoin(
      conv.agg(count(lit(1)).as("n_converted"),
        expr(s"approx_percentile(lat_us, 0.5, $accuracy)").as("p50_us"),
        expr(s"approx_percentile(lat_us, 0.9, $accuracy)").as("p90_us")))
      .select(col("n_signup"), col("n_converted"),
        expr("CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE)").as("conv_rate"),
        col("p50_us"), col("p90_us"),
        expr("p50_us / CAST(1000000 AS DOUBLE)").as("p50_latency_s"),
        expr("p90_us / CAST(1000000 AS DOUBLE)").as("p90_latency_s"))
  }

  /** Driver-gated audit of [[timeToConvertApprox]] (VERDICT r13 #4,
    * same contract-gating as Reports.quantileProfileApproxAudit): the
    * exact funnel counts and conversion rate ride through verbatim
    * (engine-reproducible), while the two sketched latency
    * percentiles are reduced to GK rank-bound booleans over the
    * converted-user latency population. One summary row.
    */
  def timeToConvertApproxAudit(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val (su, conv) = conversionLatencyFrames(spark, dir)
    // read twice (sketch + rank probe) — user-grain, tiny relative to events
    val convC = graft.core.OwnedCaches.own(conv.cache())
    val eps = 1.0 / accuracy
    val sk = convC.agg(
      expr(s"approx_percentile(lat_us, 0.5, $accuracy)").as("p50_us"),
      expr(s"approx_percentile(lat_us, 0.9, $accuracy)").as("p90_us"))
    val counts = convC.crossJoin(broadcast(sk))
      .agg(count(lit(1)).as("n_converted"),
        sum(when(col("lat_us") < col("p50_us"), 1L).otherwise(0L)).as("nlt_p50"),
        sum(when(col("lat_us") <= col("p50_us"), 1L).otherwise(0L)).as("nle_p50"),
        sum(when(col("lat_us") < col("p90_us"), 1L).otherwise(0L)).as("nlt_p90"),
        sum(when(col("lat_us") <= col("p90_us"), 1L).otherwise(0L)).as("nle_p90"))
    def rankOk(q: Double, nm: String) = {
      val n = col("n_converted").cast("double")
      ((col(s"nlt_$nm").cast("double") <= lit(q) * n + lit(eps) * n + lit(2.0)) &&
        (col(s"nle_$nm").cast("double") >= lit(q) * n - lit(eps) * n - lit(2.0)))
        .as(s"${nm}_rank_ok")
    }
    su.agg(count(lit(1)).as("n_signup")).crossJoin(broadcast(counts))
      .select(col("n_signup"), col("n_converted"),
        expr("CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE)").as("conv_rate"),
        rankOk(0.5, "p50"), rankOk(0.9, "p90"))
  }

  val timeToConvertApproxAuditSql: String =
    """WITH su AS (
      |  SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |cv AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) - su.s_us AS lat_us
      |  FROM events e JOIN su ON su.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
      |  GROUP BY e.user_id, su.s_us),
      |a AS (SELECT count(*) AS n_signup FROM su),
      |b AS (SELECT count(*) AS n_converted FROM cv)
      |SELECT CAST(n_signup AS BIGINT) AS n_signup,
      |  CAST(n_converted AS BIGINT) AS n_converted,
      |  CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE) AS conv_rate,
      |  true AS p50_rank_ok, true AS p90_rank_ok
      |FROM a, b""".stripMargin

  val timeToConvertSql: String =
    """WITH su AS (
      |  SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |cv AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) - su.s_us AS lat_us
      |  FROM events e JOIN su ON su.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
      |  GROUP BY e.user_id, su.s_us),
      |a AS (SELECT count(*) AS n_signup FROM su),
      |b AS (SELECT count(*) AS n_converted,
      |        round(quantile_cont(lat_us, 0.5), 4) AS p50_us,
      |        round(quantile_cont(lat_us, 0.9), 4) AS p90_us
      |      FROM cv)
      |SELECT CAST(n_signup AS BIGINT) AS n_signup,
      |  CAST(n_converted AS BIGINT) AS n_converted,
      |  CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE) AS conv_rate,
      |  p50_us / CAST(1000000 AS DOUBLE) AS p50_latency_s,
      |  p90_us / CAST(1000000 AS DOUBLE) AS p90_latency_s
      |FROM a, b""".stripMargin

  // --------------------------------------------------------- funnel_windowed

  private val FunnelStepUs = 86400000000L // each step must land within 24 h

  /** Time-CONSTRAINED funnel: signup → first click within 24 h →
    * first purchase within 24 h OF THAT CLICK — the windowed
    * progression `funnel_conversion` (any-order-in-history) can't
    * express. Each stage is a user-grain min-aggregate over the
    * previous stage's anchor, so the funnel is exact first-touch
    * semantics, not mere existence. One summary row with per-stage
    * counts and conversion rates (exact-integer divisions).
    *
    * Scale shape: three user-keyed partial aggregates on the
    * sessionize shuffle grain (each stage's frame is users-sized,
    * never events-sized), one broadcast-joined summary row.
    */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
    val ck = ev.filter(col("event_type") === "click")
      .join(su, "user_id")
      .filter(col("ts_us") >= col("s_us") && col("ts_us") < col("s_us") + FunnelStepUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(ck, "user_id")
      .filter(col("ts_us") >= col("c_us") && col("ts_us") < col("c_us") + FunnelStepUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
    su.agg(count(lit(1)).as("n_signup"))
      .crossJoin(ck.agg(count(lit(1)).as("n_click_24h")))
      .crossJoin(pu.agg(count(lit(1)).as("n_purchase_24h")))
      .select(col("n_signup"), col("n_click_24h"), col("n_purchase_24h"),
        expr("CAST(n_click_24h AS DOUBLE) / CAST(n_signup AS DOUBLE)").as("rate_click"),
        expr("CAST(n_purchase_24h AS DOUBLE) / CAST(n_click_24h AS DOUBLE)")
          .as("rate_purchase"))
  }

  val funnelWindowedSql: String =
    s"""WITH su AS (
      |  SELECT user_id, min(epoch_us(ts)) AS s_us FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |ck AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
      |  FROM events e JOIN su ON su.user_id = e.user_id
      |  WHERE e.event_type = 'click'
      |    AND epoch_us(e.ts) >= su.s_us AND epoch_us(e.ts) < su.s_us + $FunnelStepUs
      |  GROUP BY 1),
      |pu AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
      |  FROM events e JOIN ck ON ck.user_id = e.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND epoch_us(e.ts) >= ck.c_us AND epoch_us(e.ts) < ck.c_us + $FunnelStepUs
      |  GROUP BY 1),
      |a AS (SELECT count(*) AS n_signup FROM su),
      |b AS (SELECT count(*) AS n_click_24h FROM ck),
      |c AS (SELECT count(*) AS n_purchase_24h FROM pu)
      |SELECT CAST(n_signup AS BIGINT) AS n_signup,
      |  CAST(n_click_24h AS BIGINT) AS n_click_24h,
      |  CAST(n_purchase_24h AS BIGINT) AS n_purchase_24h,
      |  CAST(n_click_24h AS DOUBLE) / CAST(n_signup AS DOUBLE) AS rate_click,
      |  CAST(n_purchase_24h AS DOUBLE) / CAST(n_click_24h AS DOUBLE) AS rate_purchase
      |FROM a, b, c""".stripMargin

  // ------------------------------------------------------ attribution_linear

  private val AttribWindowDays = 7

  /** LINEAR multi-touch attribution: each purchase event's value
    * splits equally across the user's NON-purchase touches in the
    * trailing [[AttribWindowDays]] days, and the splits roll up per
    * touch channel — the "which channel earns the credit" statement,
    * complementing `order_session_attribution`'s last-touch rule.
    * Per-purchase shares are exact rationals rounded to 6 decimals
    * and summed in DECIMAL(28,6) — the order-independent exact sum
    * (χ² convention), so the rollup hash-matches no matter how either
    * engine schedules the partial aggregates. Purchases with NO touch
    * in the window credit the 'unattributed' row, so the table totals
    * to gross purchase value (the reconciliation test pins it).
    *
    * Scale shape: a user-keyed equi-join (the sessionize shuffle
    * grain) with the time band in the join condition as a residual —
    * never a range join; per-purchase touch counts partial-aggregate
    * before the division, and the rollup output is |channels|+1 rows.
    */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = AttribWindowDays * 86400000000L
    val ev = Tables(spark, dir).events
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us").as("p_us"),
        (money(col("value")) * 100).cast("long").as("rev_c"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_uid"), col("ts_us").as("t_us"), col("event_type"))
    // the time band lives IN the join condition: a purchase whose
    // user has touches but none inside the window must surface as
    // the unmatched (null) row — a post-join filter would drop it
    // and leak its value out of the table
    val touches = conv.join(touch,
        col("user_id") === col("t_uid") &&
          col("t_us") <= col("p_us") && col("t_us") >= col("p_us") - windowUs,
        "left")
      .groupBy(col("event_id"), col("rev_c"), col("event_type"))
      .agg(count(col("t_us")).as("cnt"))
    val perConv = touches
      .withColumn("k", sum(col("cnt")).over(Window.partitionBy("event_id")))
    perConv
      .select(
        when(col("k") === 0, lit("unattributed"))
          .otherwise(col("event_type")).as("channel"),
        when(col("k") === 0, col("rev_c").cast("double"))
          .otherwise(expr(
            "round(CAST(CAST(rev_c AS DECIMAL(38,0)) * cnt AS DOUBLE) / CAST(k AS DOUBLE), 6)"))
          .as("share_c"))
      .groupBy(col("channel"))
      .agg(expr("CAST(sum(CAST(share_c AS DECIMAL(28,6))) AS DOUBLE)").as("rev_cents"))
      .select(col("channel"),
        expr("rev_cents / CAST(100 AS DOUBLE)").as("attributed_revenue"))
      .orderBy("channel")
  }

  val attributionLinearSql: String = {
    val windowUs = AttribWindowDays * 86400000000L
    s"""WITH c AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS p_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_c
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id AS t_uid, epoch_us(ts) AS t_us, event_type
      |      FROM events WHERE event_type <> 'purchase'),
      |tch AS (
      |  SELECT c.event_id, c.rev_c, t.event_type, count(t.t_us) AS cnt
      |  FROM c LEFT JOIN t ON t.t_uid = c.user_id
      |    AND t.t_us <= c.p_us AND t.t_us >= c.p_us - $windowUs
      |  GROUP BY 1, 2, 3),
      |po AS (
      |  SELECT *, sum(cnt) OVER (PARTITION BY event_id) AS k FROM tch),
      |sh AS (
      |  SELECT CASE WHEN k = 0 THEN 'unattributed' ELSE event_type END AS channel,
      |    CASE WHEN k = 0 THEN CAST(rev_c AS DOUBLE)
      |         ELSE round(CAST(CAST(rev_c AS DECIMAL(38,0)) * cnt AS DOUBLE) / CAST(k AS DOUBLE), 6)
      |    END AS share_c
      |  FROM po)
      |SELECT channel,
      |  CAST(sum(CAST(share_c AS DECIMAL(28,6))) AS DOUBLE) / CAST(100 AS DOUBLE)
      |    AS attributed_revenue
      |FROM sh GROUP BY channel ORDER BY channel""".stripMargin
  }

  // -------------------------------------------------- suspect_duplicate_orders

  /** Transactional near-duplicate detection: order pairs from the
    * same customer within a 7-day window whose totals differ by ≤1% —
    * the double-billing / replayed-submission audit a finance
    * pipeline runs (the entity-resolution idea of `fuzzy_name_pairs`
    * applied to transactions, with an equi-key prefilter instead of
    * edit distance). The 1% band is exact decimal arithmetic: both
    * engines cast the raw double price to DECIMAL(18,2) (the `money`
    * convention) before |Δ|·100 ≤ max(p₁,p₂) — never a float ratio;
    * okey1 < okey2 canonicalizes; day gap exact integer.
    *
    * Scale shape: the self-join equi-keys on custkey — candidate
    * volume is Σ orders-per-customer², bounded by the per-customer
    * order rate, and both band predicates are post-join integer/
    * decimal filters. At heavy-tailed customers add the order-WEEK to
    * the equi-key (each pair lands in ≤2 week buckets) to cap group
    * size; never a cross join, never a sort of raw orders.
    */
  def suspectDuplicateOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_custkey"),
        money(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate").cast("date").as("d"))
    val a = o.toDF("k1", "cust", "price", "d1")
    val b = o.toDF("k2", "cust2", "price2", "d2")
    a.join(b, col("cust") === col("cust2") && col("k1") < col("k2"))
      .filter(expr("abs(datediff(d2, d1)) <= 7" +
        " AND abs(price - price2) * 100 <= greatest(price, price2)"))
      .select(col("cust").as("custkey"), col("k1").as("orderkey_1"),
        col("k2").as("orderkey_2"),
        expr("CAST(price AS DOUBLE)").as("price_1"),
        expr("CAST(price2 AS DOUBLE)").as("price_2"),
        expr("CAST(abs(datediff(d2, d1)) AS BIGINT)").as("day_gap"))
      .orderBy("custkey", "orderkey_1", "orderkey_2")
  }

  val suspectDuplicateOrdersSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM orders)
      |SELECT a.o_custkey AS custkey,
      |  a.o_orderkey AS orderkey_1, b.o_orderkey AS orderkey_2,
      |  CAST(a.p AS DOUBLE) AS price_1,
      |  CAST(b.p AS DOUBLE) AS price_2,
      |  CAST(abs(b.d - a.d) AS BIGINT) AS day_gap
      |FROM o a JOIN o b
      |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      |WHERE abs(b.d - a.d) <= 7
      |  AND abs(a.p - b.p) * 100 <= greatest(a.p, b.p)
      |ORDER BY custkey, orderkey_1, orderkey_2""".stripMargin

  // ----------------------------------------------------------- basket_triples

  private val TripleMinSupport = 5

  /** Frequent brand 3-itemsets with lift: extends `basket_lift`'s
    * pairs to triples — support = #baskets containing all three
    * brands (b1<b2<b3), lift = P(abc)/(P(a)P(b)P(c)) computed as ONE
    * double division of exact integer products (support·n² over
    * cₐ·c_b·c_c, all < 2^53 at oracle SF; 100-TB runs lift the
    * products to decimal(38,0)). Support ≥ [[TripleMinSupport]]
    * prunes the tail before lift is evaluated.
    *
    * Scale shape: ONE basket aggregation (collect_set groups brand
    * sets per order) feeds both the triple explode and the brand
    * marginals — the `basket_lift` cached-frame discipline. The
    * triple explode is map-side with volume Σ basket³ at BRAND grain
    * (≤25 distinct ⇒ ≤2 300 combos; never done at part grain — the
    * a-priori lattice would be pruned by support first, same as the
    * classic SON/Apriori split: candidate counts partial-aggregate,
    * only the ≥-support survivors shuffle).
    */
  def basketTriples(spark: SparkSession, dir: String): DataFrame = {
    // triple explode + marginals + count off the SESSION-shared
    // [[brandBaskets]] build (plan-matched with basket_lift's)
    val baskets = brandBaskets(spark, dir)
    val n = baskets.agg(count(lit(1)).as("__n"))
    val singles = baskets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val triples = baskets
      .select(explode(col("bs")).as("b1"), col("bs"))
      .select(col("b1"), explode(col("bs")).as("b2"), col("bs"))
      .filter(col("b1") < col("b2"))
      .select(col("b1"), col("b2"), explode(col("bs")).as("b3"))
      .filter(col("b2") < col("b3"))
      .groupBy(col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= TripleMinSupport)
    triples
      .join(broadcast(singles.select(col("b").as("b1"), col("c").as("ca"))), "b1")
      .join(broadcast(singles.select(col("b").as("b2"), col("c").as("cb"))), "b2")
      .join(broadcast(singles.select(col("b").as("b3"), col("c").as("cc"))), "b3")
      .crossJoin(broadcast(n))
      .select(col("b1"), col("b2"), col("b3"), col("support"),
        expr("CAST(support * __n * __n AS DOUBLE) / CAST(ca * cb * cc AS DOUBLE)").as("lift"))
      .orderBy(col("support").desc, col("b1"), col("b2"), col("b3"))
  }

  /** `b` is `AS MATERIALIZED`: it is referenced five times (count,
    * marginals, three unnests) and DuckDB's default inlining re-plans
    * the basket build into each — the triple join over three inlined
    * unnest expansions blew past 70 GB before the hint.
    */
  val basketTriplesSql: String =
    s"""WITH b AS MATERIALIZED (
      |  SELECT l_orderkey, list_distinct(list(p_brand)) AS bs
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  GROUP BY 1),
      |n AS (SELECT count(*) AS __n FROM b),
      |s AS (
      |  SELECT brand, count(*) AS c
      |  FROM (SELECT l_orderkey AS o, unnest(bs) AS brand FROM b)
      |  GROUP BY 1),
      |tr AS (
      |  SELECT u1.b1, u2.b2, u3.b3, count(*) AS support
      |  FROM (SELECT l_orderkey AS o, unnest(bs) AS b1 FROM b) u1
      |  JOIN (SELECT l_orderkey AS o, unnest(bs) AS b2 FROM b) u2 USING (o)
      |  JOIN (SELECT l_orderkey AS o, unnest(bs) AS b3 FROM b) u3 USING (o)
      |  WHERE u1.b1 < u2.b2 AND u2.b2 < u3.b3
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) >= $TripleMinSupport)
      |SELECT b1, b2, b3, CAST(support AS BIGINT) AS support,
      |  CAST(support * __n * __n AS DOUBLE)
      |    / CAST(sa.c * sb.c * sc.c AS DOUBLE) AS lift
      |FROM tr
      |JOIN s sa ON sa.brand = tr.b1
      |JOIN s sb ON sb.brand = tr.b2
      |JOIN s sc ON sc.brand = tr.b3
      |CROSS JOIN n
      |ORDER BY support DESC, b1, b2, b3""".stripMargin

  // ------------------------------------------------- repeat_purchase_interval

  /** Days between consecutive orders of the same customer, summarized
    * per market segment: exact order-statistic median and
    * percentile_disc-style p90 over the pooled gap distribution — the
    * replenishment-cadence profile merchandising reads before setting
    * re-engagement timing. Positions are pure integer arithmetic
    * ((n+1)÷2, (n+2)÷2, ⌈9n/10⌉ = (9n+9)÷10 — never a float ·0.9,
    * whose representation error shifts ⌈⌉ at n≡0 mod 10), and the
    * median is one exact-int division, so parity is structural.
    *
    * Scale shape: lead() partitions BY CUSTOMER (the sessionize
    * grain); the per-segment rank window orders gaps within ≤|segment|
    * partitions — range-partitionable at 100 TB like any equidepth
    * cut — and the final frame is |segments| rows.
    */
  def repeatPurchaseInterval(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
    val gaps = t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .withColumn("next_d", lead(col("d"), 1).over(w))
      .filter(col("next_d").isNotNull)
      .select(col("o_custkey"), datediff(col("next_d"), col("d")).cast("long").as("gap"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val ranked = gaps
      .withColumn("rn", row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(col("gap"), col("o_custkey"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
    ranked.groupBy(col("c_mktsegment").as("segment"))
      .agg(max(col("n")).as("n_gaps"),
        sum(when(col("rn") === expr("(n + 1) div 2")
          || col("rn") === expr("(n + 2) div 2"), col("gap"))).as("msum"),
        sum(when(col("rn") === expr("(n + 1) div 2")
          || col("rn") === expr("(n + 2) div 2"), 1L).otherwise(0L)).as("mcnt"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap"))).as("p90_gap_days"))
      .select(col("segment"), col("n_gaps"),
        expr("CAST(msum AS DOUBLE) / CAST(mcnt AS DOUBLE)").as("median_gap_days"),
        col("p90_gap_days"))
      .orderBy("segment")
  }

  val repeatPurchaseIntervalSql: String =
    """WITH gaps AS (
      |  SELECT o_custkey,
      |    CAST(lead(CAST(o_orderdate AS DATE)) OVER (
      |        PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
      |      - CAST(o_orderdate AS DATE) AS BIGINT) AS gap
      |  FROM orders),
      |seg AS (
      |  SELECT c.c_mktsegment AS segment, g.gap, g.o_custkey
      |  FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
      |  WHERE g.gap IS NOT NULL),
      |r AS (
      |  SELECT segment, gap,
      |    row_number() OVER (PARTITION BY segment ORDER BY gap, o_custkey) AS rn,
      |    count(*) OVER (PARTITION BY segment) AS n
      |  FROM seg)
      |SELECT segment, CAST(max(n) AS BIGINT) AS n_gaps,
      |  CAST(sum(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2 THEN gap END) AS DOUBLE)
      |    / CAST(sum(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS median_gap_days,
      |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END) AS BIGINT) AS p90_gap_days
      |FROM r GROUP BY segment
      |ORDER BY segment""".stripMargin

  // ------------------------------------------------------- session_abandonment

  /** Daily session-abandonment funnel: of the sessions that showed
    * shopping intent (a view or click), how many never purchased —
    * the cart-abandonment KPI at session grain (the windowed funnel
    * family measures user-level progression; this scores SESSIONS,
    * the unit a checkout-flow team optimizes). Sessions are the
    * engine-wide 30-min-gap convention (`sessionize`'s window, one
    * definition); flags are conditional maxes inside the same
    * session aggregate; the rate is one exact division.
    *
    * Scale shape: identical to sessionize — user-partitioned window,
    * session-grain partial agg, then a ≤days rollup on the session
    * start day.
    */
  def sessionAbandonment(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val sessions = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("is_new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("start_us"),
        max(when(col("event_type") === "view" || col("event_type") === "click", 1L)
          .otherwise(0L)).as("intent"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
    sessions
      .groupBy(expr("CAST(to_date(timestamp_micros(start_us)) AS DATE)").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("intent")).as("n_intent"),
        sum(when(col("intent") === 1L && col("purchased") === 0L, 1L).otherwise(0L))
          .as("n_abandoned"))
      .filter(col("n_intent") > 0)
      .select(col("day").cast("string").as("day"), col("n_sessions"),
        col("n_intent"), col("n_abandoned"),
        expr("CAST(n_abandoned AS DOUBLE) / CAST(n_intent AS DOUBLE)")
          .as("abandonment_rate"))
      .orderBy("day")
  }

  val sessionAbandonmentSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30*60*1000000
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |s AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM f),
      |g AS (
      |  SELECT user_id, session_seq, min(ts_us) AS start_us,
      |    max(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END) AS intent,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      |  FROM s GROUP BY 1, 2),
      |d AS (
      |  SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n_sessions,
      |    CAST(sum(intent) AS BIGINT) AS n_intent,
      |    CAST(sum(CASE WHEN intent = 1 AND purchased = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_abandoned
      |  FROM g GROUP BY 1)
      |SELECT CAST(day AS VARCHAR) AS day, n_sessions, n_intent, n_abandoned,
      |  CAST(n_abandoned AS DOUBLE) / CAST(n_intent AS DOUBLE) AS abandonment_rate
      |FROM d WHERE n_intent > 0
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------ churn_dormancy

  /** The CASE text shared by both engines — fixed band edges. */
  private val DormancyBucketExpr: String =
    "CASE WHEN dorm <= 30 THEN 'a_active_0_30'" +
      " WHEN dorm <= 90 THEN 'b_warm_31_90'" +
      " WHEN dorm <= 180 THEN 'c_cool_91_180'" +
      " ELSE 'd_churned_180_plus' END"

  /** Dormancy segmentation — customers banded by days since their
    * last order (vs the dataset's anchor date, max order date), with
    * per-band size, order volume, and lifetime spend: the churn-risk
    * funnel a retention team reads weekly. Monetary sums stay exact
    * (cents in decimal(38,0)); the two per-band ratios are single
    * divisions of exact operands.
    *
    * Scale shape: one groupBy(custkey) partial-agg pass reduces
    * orders to the customer grain; the scalar anchor broadcasts; the
    * band rollup is ≤4 rows. Nothing order-sized survives the first
    * shuffle.
    */
  def churnDormancy(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val per = t.orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("n_orders"),
        (sum(money(col("o_totalprice"))) * 100).cast("decimal(38,0)").as("spend_c"))
    val anchor = t.orders.agg(max(col("o_orderdate").cast("date")).as("anchor"))
    per.crossJoin(broadcast(anchor))
      .withColumn("dorm", datediff(col("anchor"), col("last_d")).cast("long"))
      .withColumn("bucket", expr(DormancyBucketExpr))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("orders_sum"),
        sum(col("spend_c")).as("spend_sum"))
      .select(col("bucket"), col("n_customers"),
        expr("CAST(orders_sum AS DOUBLE) / CAST(n_customers AS DOUBLE)").as("avg_orders"),
        expr("CAST(spend_sum AS DOUBLE) / CAST(100 AS DOUBLE)").as("total_spend"))
      .orderBy("bucket")
  }

  val churnDormancySql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
       |    CAST(count(*) AS BIGINT) AS n_orders,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS spend_c
       |  FROM orders GROUP BY o_custkey),
       |a AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
       |b AS (
       |  SELECT CAST(a.anchor - p.last_d AS BIGINT) AS dorm, p.n_orders, p.spend_c
       |  FROM per p, a),
       |k AS (
       |  SELECT $DormancyBucketExpr AS bucket, n_orders, spend_c FROM b)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_customers,
       |  CAST(sum(n_orders) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_orders,
       |  CAST(sum(spend_c) AS DOUBLE) / CAST(100 AS DOUBLE) AS total_spend
       |FROM k GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------- time_decay_attribution

  /** Time-decay multi-touch attribution — `attribution_linear`'s
    * credit split with recency weighting: a touch w days before the
    * purchase earns weight 64 >> min(w, 6) (64, 32, …, 1 — the
    * halving-per-day kernel on an exact integer grid, so weights,
    * their sums, and every share stay engine-exact; an exp(−λt)
    * kernel would put a non-portable exp() in the hot path for the
    * same ranking). Purchases whose user has NO in-window touch keep
    * full value under 'unattributed' — the same leak-proof left-join
    * band as the linear variant.
    *
    * Scale shape: identical to `attribution_linear` — the time band
    * lives in the user-keyed join, per-conversion weight sums are
    * window aggregates on the conversion grain, and the final rollup
    * is ≤channels rows.
    */
  def timeDecayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = AttribWindowDays * 86400000000L
    val ev = Tables(spark, dir).events
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us").as("p_us"),
        (money(col("value")) * 100).cast("long").as("rev_c"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_uid"), col("ts_us").as("t_us"), col("event_type"))
    val weighted = conv.join(touch,
        col("user_id") === col("t_uid") &&
          col("t_us") <= col("p_us") && col("t_us") >= col("p_us") - windowUs,
        "left")
      .withColumn("w", when(col("t_us").isNull, lit(0L)).otherwise(
        expr("shiftright(CAST(64 AS BIGINT), CAST(least((p_us - t_us) DIV 86400000000, 6) AS INT))")))
      .groupBy(col("event_id"), col("rev_c"), col("event_type"))
      .agg(sum(col("w")).as("sw"))
    val perConv = weighted
      .withColumn("k", sum(col("sw")).over(Window.partitionBy("event_id")))
    perConv
      .select(
        when(col("k") === 0, lit("unattributed"))
          .otherwise(col("event_type")).as("channel"),
        when(col("k") === 0, col("rev_c").cast("double"))
          .otherwise(expr(
            "round(CAST(CAST(rev_c AS DECIMAL(38,0)) * sw AS DOUBLE) / CAST(k AS DOUBLE), 6)"))
          .as("share_c"))
      .groupBy(col("channel"))
      .agg(expr("CAST(sum(CAST(share_c AS DECIMAL(28,6))) AS DOUBLE)").as("rev_cents"))
      .select(col("channel"),
        expr("rev_cents / CAST(100 AS DOUBLE)").as("attributed_revenue"))
      .orderBy("channel")
  }

  val timeDecayAttributionSql: String = {
    val windowUs = AttribWindowDays * 86400000000L
    s"""WITH c AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS p_us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_c
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id AS t_uid, epoch_us(ts) AS t_us, event_type
      |      FROM events WHERE event_type <> 'purchase'),
      |wt AS (
      |  SELECT c.event_id, c.rev_c, t.event_type,
      |    CAST(sum(CASE WHEN t.t_us IS NULL THEN 0
      |      ELSE 64 >> least((c.p_us - t.t_us) // 86400000000, 6) END) AS BIGINT) AS sw
      |  FROM c LEFT JOIN t ON t.t_uid = c.user_id
      |    AND t.t_us <= c.p_us AND t.t_us >= c.p_us - $windowUs
      |  GROUP BY 1, 2, 3),
      |pc AS (
      |  SELECT *, sum(sw) OVER (PARTITION BY event_id) AS k FROM wt),
      |sh AS (
      |  SELECT CASE WHEN k = 0 THEN 'unattributed' ELSE event_type END AS channel,
      |    CASE WHEN k = 0 THEN CAST(rev_c AS DOUBLE)
      |         ELSE round(CAST(CAST(rev_c AS DECIMAL(38,0)) * sw AS DOUBLE) / CAST(k AS DOUBLE), 6)
      |    END AS share_c
      |  FROM pc)
      |SELECT channel,
      |  CAST(sum(CAST(share_c AS DECIMAL(28,6))) AS DOUBLE) / CAST(100 AS DOUBLE) AS attributed_revenue
      |FROM sh GROUP BY channel ORDER BY channel""".stripMargin
  }

  // ------------------------------------------------------------- srm_check

  /** Sample-ratio-mismatch check for the A/B assignment: the 1-df
    * chi-square (n_a − n_b)²/(n_a + n_b) of the md5 user split
    * against its designed 50/50, flagged at the 95% critical value —
    * the guardrail every experiment readout runs BEFORE trusting
    * `ab_test_conversion`'s z (an SRM means the assignment or
    * logging is broken and the conversion comparison is void). The
    * chi-square clears to one division of exact integer counts; the
    * critical value 3.841 is a literal, so the flag is an exact
    * comparison on identical double bits.
    *
    * Scale shape: one user-grain distinct pass (the a/b ops' grain)
    * reduced to two conditional counts — nothing else.
    */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables(spark, dir).events
      .select(col("user_id")).distinct()
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .selectExpr("CAST(n_a AS BIGINT) AS n_a", "CAST(n_b AS BIGINT) AS n_b",
        "CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS share_a",
        "CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS chi2",
        "CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS srm_flag")
  }

  val srmCheckSql: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |v AS (
      |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS variant
      |  FROM u),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM v)
      |SELECT n_a, n_b,
      |  CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS share_a,
      |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS chi2,
      |  CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
      |FROM m""".stripMargin

  // ----------------------------------------------------- recs_holdout_eval

  private val RecsSplitDate = "2000-01-01"
  private val RecsEvalK = 3

  /** Temporal-holdout evaluation of the co-occurrence recommender:
    * train the brand co-occurrence matrix on orders BEFORE
    * [[RecsSplitDate]], recommend top-[[RecsEvalK]] unseen brands per
    * customer (score = Σ co-occurrence with the training profile,
    * the item-based CF aggregate `itemitem_cf`/`cooccur_recs` rank),
    * and score them against the brands the customer ACTUALLY first
    * bought in the holdout period — precision@k and recall@k. The
    * eval table that turns the recommender family from "produces
    * plausible lists" into a measured model (the `ann_recall_eval`
    * discipline applied to CF); temporal split, not random, because
    * that is the leak-free deployment simulation. Every score is an
    * exact integer sum and ranks tie-break on brand, so the metric is
    * bit-deterministic.
    *
    * Scale shape: the pair build is the basket Σ² at BRAND grain
    * (25-row dictionary — bounded at any corpus); user profiles and
    * truth are user-keyed equi-joins; the rec ranking windows
    * partition by user. No fact-sized state after the first
    * partial-agg passes.
    */
  def recsHoldoutEval(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // ONE lineitem⋈part⋈orders pass feeds BOTH the user-profile frame
    // (ub) and the basket frame (ob): the (order, user, brand,
    // is_train) grain carries everything either side needs, so the
    // fact tables are scanned once (plan-pinned) instead of twice —
    // the abc_xyz_matrix single-scan convention. Cached because two
    // derivations read it; |order×brand|-bounded; harness-released.
    // explicit-count repartition by U (round 19, second pass): the
    // numbered form still pins the cache build to the session's
    // parallelism (the AQE byte-coalescing policy would serialize the
    // CPU-dense join+project stage), but hash(u) now clusters the
    // DOWNSTREAM chain — the ub flag aggregate (u ⊆ (u, b)), the train
    // filter, the scoring groupBy(u, b2), the candidate anti-join and
    // the per-user ranking window all run exchange-free off this one
    // layout (previously ub re-shuffled 541k partial rows by (u, b)
    // and train re-shuffled by u). Only the pair census re-shuffles —
    // its groupBy(o) moves the narrower (o, b, is_train) projection.
    val lpo = graft.core.OwnedCaches.own(
      t.lineitem.select(col("l_orderkey"), col("l_partkey"))
        .join(t.part.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .join(t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey").as("o"), col("o_custkey").as("u"),
          col("p_brand").as("b"),
          (col("o_orderdate").cast("date") < lit(RecsSplitDate).cast("date")).as("is_train"))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("u"))
        .cache())
    // (no distinct at this grain — optimization round 18: both
    // consumers dedupe themselves, the per-order collect_set and the
    // ub flag aggregate, so the extra shuffle + two aggregate passes
    // over the fact-sized frame bought nothing)
    // ONE (u, b)-grain flag aggregate replaces the (u, b, is_train)
    // distinct + the train anti-join (round 19): per (u, b),
    // has-train and has-test are max() flags of the same rows the
    // distinct carried, and "novel test" ≡ has_test ∧ ¬has_train —
    // set-identical to the old testNovel anti-join by definition of
    // LEFT ANTI on the train set. Cached: train and testNovel are its
    // two filters.
    val ub = graft.core.OwnedCaches.own(
      lpo.groupBy(col("u"), col("b"))
        .agg(max(when(col("is_train"), 1).otherwise(0)).as("tr"),
          max(when(col("is_train"), 0).otherwise(1)).as("te"))
        .cache())
    // train is read three times (scoring join, candidate anti-join,
    // novel-truth anti-join) — cache the (user, brand)-bounded frame.
    // u-clustered WITHOUT its own exchange (round 19 second pass): ub
    // aggregates in place over the hash(u)-partitioned lpo cache, so
    // train inherits the u-clustering that the scoring fan-out's
    // groupBy(u, b2), the candidate anti-join on (u, b2) and the
    // per-user ranking window all need (u ⊆ their clustering keys) —
    // the 6M-row scoring fan-out aggregates partition-locally instead
    // of shuffling ~190 MB of barely-combined partial rows, and the
    // previous explicit repartition(n, u) exchange is gone.
    val train = graft.core.OwnedCaches.own(
      ub.filter(col("tr") === 1).select(col("u"), col("b"))
        .cache())
    // testNovel feeds BOTH the hit join and the truth restriction —
    // cached, or each consumer re-pays the flag filter
    // (optimization round 18; round 19 folds the anti-join into the
    // ub flags: te ∧ ¬tr IS "in test and not in train")
    val testNovel = graft.core.OwnedCaches.own(
      ub.filter(col("te") === 1 && col("tr") === 0).select(col("u"), col("b"))
        .cache())
    // basket-grain pair counts (optimization round 18): collect the
    // per-order distinct train brand set once and explode the ordered
    // pairs MAP-SIDE — same exact counts as the ob⋈ob self-join (each
    // order contributes once per ordered brand pair) without shuffling
    // the order-grain frame twice; the cooccur_recs formulation.
    val pairs = lpo.filter(col("is_train"))
      .groupBy(col("o")).agg(collect_set(col("b")).as("bs"))
      .select(explode(col("bs")).as("a"), col("bs"))
      .select(col("a"), explode(col("bs")).as("b2"))
      .filter(col("a") =!= col("b2"))
      .groupBy(col("a"), col("b2")).agg(count(lit(1)).as("n"))
    // the pair matrix is brand²-bounded (catalog², never data-sized)
    // — broadcast it so the user-profile side does not shuffle for
    // the scoring join at any corpus size (optimization round 18)
    val scores = train.join(broadcast(pairs), col("b") === col("a"))
      .groupBy(col("u"), col("b2")).agg(sum(col("n")).as("score"))
      .join(train.toDF("u", "b2"), Seq("u", "b2"), "left_anti")
    val w = Window.partitionBy("u").orderBy(col("score").desc, col("b2"))
    // recs feeds BOTH the hit join and the truth-restriction join —
    // uncached, each consumer re-executes the whole scoring chain
    // (the fan-out join + two anti-joins); ≤ k rows per user, tiny
    val recs = graft.core.OwnedCaches.own(
      scores.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= RecsEvalK)
        .select(col("u"), col("b2").as("b"))
        .cache())
    val hits = recs.join(testNovel.withColumn("hit", lit(1L)), Seq("u", "b"), "left")
    val truthForRecUsers = testNovel.groupBy(col("u")).agg(count(lit(1)).as("n_truth"))
      .join(recs.select(col("u")).distinct(), Seq("u"))
      .agg(sum(col("n_truth")).as("n_truth"))
    hits.agg(countDistinct(col("u")).as("n_users"),
        count(lit(1)).as("n_recs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(truthForRecUsers))
      .selectExpr(
        "CAST(n_users AS BIGINT) AS n_users",
        "CAST(n_recs AS BIGINT) AS n_recs",
        "CAST(n_hits AS BIGINT) AS n_hits",
        s"CAST($RecsEvalK AS INTEGER) AS k",
        s"CAST(n_hits AS DOUBLE) / CAST(n_recs AS DOUBLE) AS precision_at_$RecsEvalK",
        s"CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall_at_$RecsEvalK")
  }

  val recsHoldoutEvalSql: String =
    s"""WITH ub AS (
       |  SELECT DISTINCT o_custkey AS u, p_brand AS b,
       |    CAST(o_orderdate AS DATE) < DATE '$RecsSplitDate' AS is_train
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey),
       |train AS (SELECT DISTINCT u, b FROM ub WHERE is_train),
       |test_novel AS (
       |  SELECT t.u, t.b
       |  FROM (SELECT DISTINCT u, b FROM ub WHERE NOT is_train) t
       |  LEFT JOIN train tr ON tr.u = t.u AND tr.b = t.b
       |  WHERE tr.u IS NULL),
       |ob AS (
       |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE CAST(o_orderdate AS DATE) < DATE '$RecsSplitDate'),
       |pairs AS (
       |  SELECT x.b AS a, y.b AS b2, CAST(count(*) AS BIGINT) AS n
       |  FROM ob x JOIN ob y ON x.o = y.o AND x.b != y.b
       |  GROUP BY 1, 2),
       |scores0 AS (
       |  SELECT tr.u, p.b2, CAST(sum(p.n) AS BIGINT) AS score
       |  FROM train tr JOIN pairs p ON p.a = tr.b
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT s.u, s.b2, s.score
       |  FROM scores0 s LEFT JOIN train tr ON tr.u = s.u AND tr.b = s.b2
       |  WHERE tr.u IS NULL),
       |recs AS (
       |  SELECT u, b2 AS b,
       |    row_number() OVER (PARTITION BY u ORDER BY score DESC, b2) AS rnk
       |  FROM cand QUALIFY rnk <= $RecsEvalK),
       |h AS (
       |  SELECT r.u, CASE WHEN tn.u IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM recs r LEFT JOIN test_novel tn ON tn.u = r.u AND tn.b = r.b),
       |tt AS (
       |  SELECT CAST(sum(n_truth) AS BIGINT) AS n_truth
       |  FROM (SELECT u, count(*) AS n_truth FROM test_novel GROUP BY 1) x
       |  JOIN (SELECT DISTINCT u FROM recs) ru USING (u))
       |SELECT CAST(count(DISTINCT h.u) AS BIGINT) AS n_users,
       |  CAST(count(*) AS BIGINT) AS n_recs,
       |  CAST(sum(hit) AS BIGINT) AS n_hits,
       |  CAST($RecsEvalK AS INTEGER) AS k,
       |  CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS precision_at_$RecsEvalK,
       |  CAST(sum(hit) AS DOUBLE) / CAST(any_value(n_truth) AS DOUBLE) AS recall_at_$RecsEvalK
       |FROM h, tt""".stripMargin

  // ------------------------------------------------- cross_price_elasticity

  /** Minimum relative price move for a month transition to count:
    * |%Δp_b| ≥ 1/[[XpeGate]] (5%), tested EXACTLY as |u|·gate ≥ v on
    * the integer cross-products — near-zero price moves would
    * otherwise blow the elasticity ratio up into pure noise.
    */
  private val XpeGate = 20

  /** Cross-price arc elasticity between brand pairs: for brands a≠b
    * and consecutive months, e = %Δq_a / %Δp_b with midpoint deltas —
    * positive means substitutes (b gets pricier, a sells more),
    * negative complements. `arc_elasticity` scores a brand against
    * its OWN price; this is the cross matrix pricing teams read for
    * cannibalization. With p = s/q the price ratio clears to exact
    * integer cross-products (u = s₂q₁ − s₁q₂, v = s₂q₁ + s₁q₂ — the
    * `target_encode_brand` denominator-clearing trick), so the gate
    * is exact and the ratio is four individually-cast doubles. The
    * per-pair mean over months is a round-then-decimal sum (|e| ≤
    * [[XpeGate]], well inside the 6-dp double grid where that trick
    * is sound).
    *
    * Scale shape: ONE lineitem⋈part pass reduces to the brand×month
    * frame (bounded by the 25-brand × calendar grid at any corpus
    * size); lag windows partition by brand; the pair join is
    * month-keyed over that bounded frame — never touches facts
    * again.
    */
  def crossPriceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bm = t.lineitem
      .select(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1).as("m"),
        (money(col("l_extendedprice")) * 100).cast("long").as("s_c"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("q_c"))
      .join(t.part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("m"))
      .agg(sum(col("s_c")).as("s"), sum(col("q_c")).as("q"))
    val w = Window.partitionBy("p_brand").orderBy("m")
    val tr = bm
      .withColumn("m_prev", lag(col("m"), 1).over(w))
      .withColumn("s1", lag(col("s"), 1).over(w))
      .withColumn("q1", lag(col("q"), 1).over(w))
      .filter(col("m_prev") === col("m") - 1)
    val qa = tr.select(col("p_brand").as("brand_a"), col("m"),
      (col("q") - col("q1")).as("dq"), (col("q") + col("q1")).as("tq"))
    val pb = tr.select(col("p_brand").as("brand_b"), col("m").as("mb"),
      (col("s").cast("decimal(38,0)") * col("q1")
        - col("s1").cast("decimal(38,0)") * col("q")).cast("decimal(38,0)").as("u"),
      (col("s").cast("decimal(38,0)") * col("q1")
        + col("s1").cast("decimal(38,0)") * col("q")).cast("decimal(38,0)").as("v"))
    val e = "CAST(dq AS DOUBLE) * CAST(v AS DOUBLE) / (CAST(tq AS DOUBLE) * CAST(u AS DOUBLE))"
    qa.join(pb, col("m") === col("mb") && col("brand_a") =!= col("brand_b"))
      .filter(col("tq") > 0 && expr(s"abs(u) * $XpeGate >= v"))
      .withColumn("ed", expr(s"CAST(round($e, 6) AS DECIMAL(18,6))"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("ed")).as("se"))
      .filter(col("n_transitions") >= 3)
      .selectExpr("brand_a", "brand_b",
        "CAST(n_transitions AS BIGINT) AS n_transitions",
        "CAST(se AS DOUBLE) / CAST(n_transitions AS DOUBLE) AS avg_cross_elasticity")
      .orderBy("brand_a", "brand_b")
  }

  val crossPriceElasticitySql: String = {
    val e = "CAST(dq AS DOUBLE) * CAST(v AS DOUBLE) / (CAST(tq AS DOUBLE) * CAST(u AS DOUBLE))"
    s"""WITH bm AS (
       |  SELECT p_brand, year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
       |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS s,
       |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS q
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |tr AS (
       |  SELECT *,
       |    lag(m) OVER win AS m_prev,
       |    lag(s) OVER win AS s1,
       |    lag(q) OVER win AS q1
       |  FROM bm
       |  WINDOW win AS (PARTITION BY p_brand ORDER BY m)),
       |tt AS (SELECT * FROM tr WHERE m_prev = m - 1),
       |qa AS (SELECT p_brand AS brand_a, m, q - q1 AS dq, q + q1 AS tq FROM tt),
       |pb AS (
       |  SELECT p_brand AS brand_b, m AS mb,
       |    CAST(CAST(s AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * q AS DECIMAL(38,0)) AS u,
       |    CAST(CAST(s AS DECIMAL(38,0)) * q1 + CAST(s1 AS DECIMAL(38,0)) * q AS DECIMAL(38,0)) AS v
       |  FROM tt),
       |j AS (
       |  SELECT brand_a, brand_b,
       |    CAST(round($e, 6) AS DECIMAL(18,6)) AS ed
       |  FROM qa JOIN pb ON m = mb AND brand_a != brand_b
       |  WHERE tq > 0 AND abs(u) * $XpeGate >= v),
       |g AS (
       |  SELECT brand_a, brand_b, CAST(count(*) AS BIGINT) AS n_transitions,
       |    sum(ed) AS se
       |  FROM j GROUP BY 1, 2)
       |SELECT brand_a, brand_b, n_transitions,
       |  CAST(se AS DOUBLE) / CAST(n_transitions AS DOUBLE) AS avg_cross_elasticity
       |FROM g WHERE n_transitions >= 3
       |ORDER BY brand_a, brand_b""".stripMargin
  }

  // ------------------------------------------------------- share_of_wallet

  /** Share-of-wallet concentration: per customer, the share of spend
    * captured by their TOP brand, profiled into ten SOW bands — the
    * loyalty-vs-promiscuity distribution (`rfm_segment` scores how
    * much/how often; this scores how CONCENTRATED, the number a
    * brand-loyalty program sizes against). Spend stays exact cents
    * through both aggregation levels; SOW is one double division and
    * the band is an exact floor (a 100%-loyal customer lands in the
    * top band via least).
    *
    * Scale shape: lineitem joins the part dim broadcast and orders
    * on the orderkey equi-join (the fact-to-fact shuffle every
    * profit query pays), partial-aggregates to (customer, brand),
    * re-aggregates to customer — both reductions map-side-combine;
    * the band profile is a bounded 10-row frame. Per-band SOW means
    * reduce via the order-independent round-to-decimal sum.
    */
  def shareOfWallet(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val spend = t.lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        (money(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("p_brand"))
      .agg(sum(col("cents")).as("spend_c"))
    val perCust = spend.groupBy(col("o_custkey"))
      .agg(sum(col("spend_c")).as("total_c"),
        max(col("spend_c")).as("top_c"),
        count(lit(1)).as("n_brands"))
      .withColumn("sow", expr("CAST(top_c AS DOUBLE) / CAST(total_c AS DOUBLE)"))
    perCust
      .withColumn("band", expr("least(CAST(floor(sow * 10) AS INTEGER), 9)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("CAST(round(sow, 9) AS DECIMAL(18,9))")).as("sd"),
        avg(expr("CAST(n_brands AS DOUBLE)")).as("avg_brands"),
        (sum(col("total_c")) / 100).cast("double").as("total_spend"))
      .selectExpr("CAST(band AS BIGINT) AS band",
        "CAST(n_customers AS BIGINT) AS n_customers",
        "CAST(sd AS DOUBLE) / CAST(n_customers AS DOUBLE) AS avg_sow",
        "avg_brands", "total_spend")
      .orderBy("band")
  }

  val shareOfWalletSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, p_brand,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS spend_c
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |pc AS (
      |  SELECT o_custkey, CAST(sum(spend_c) AS BIGINT) AS total_c,
      |    CAST(max(spend_c) AS BIGINT) AS top_c,
      |    CAST(count(*) AS BIGINT) AS n_brands
      |  FROM spend GROUP BY 1),
      |s AS (SELECT *, CAST(top_c AS DOUBLE) / CAST(total_c AS DOUBLE) AS sow FROM pc),
      |b AS (SELECT *, least(CAST(floor(sow * 10) AS INTEGER), 9) AS band FROM s)
      |SELECT CAST(band AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(round(sow, 9) AS DECIMAL(18,9))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS avg_sow,
      |  avg(CAST(n_brands AS DOUBLE)) AS avg_brands,
      |  CAST(CAST(sum(total_c) AS BIGINT) / 100 AS DOUBLE) AS total_spend
      |FROM b GROUP BY band ORDER BY band""".stripMargin

  // -------------------------------------------------------------- odds_ratio_ci

  /** Odds ratio of the A/B conversion 2×2 with the Woolf log-normal
    * 95% CI: OR = ad/bc, SE(ln OR) = √(1/a+1/b+1/c+1/d), bounds
    * exp(ln OR ± 1.96·SE) — the effect-size readout epidemiology and
    * experimentation quote when rates are small and relative effect
    * is what matters (`ab_test_conversion` gives the z;
    * `conversion_wilson_ci` intervals each ARM — this intervals the
    * EFFECT). The ln and both exp's are engine-exact
    * ([[graft.functions.ExactLn]]/[[graft.functions.ExactExp]]), all
    * four cell counts cast to double individually (sub-2⁵³), so the
    * entire CI hash-matches. One row; `significant` = CI excludes 1.
    *
    * Scale shape: the ab_test user-day aggregate; everything after
    * is scalar arithmetic on one row.
    */
  def oddsRatioCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{ExactExp, ExactLn}
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(col("p")).as("converted"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    ud.agg(
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("a"),
        sum(when(col("variant") === 1, lit(1L) - col("converted")).otherwise(0L)).as("b"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("c"),
        sum(when(col("variant") === 0, lit(1L) - col("converted")).otherwise(0L)).as("dd"))
      .withColumn("or_", expr(
        "(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)) / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"))
      .withColumn("__y", expr(ExactLn.yExpr("or_")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("lor", expr(ExactLn.lnExpr("__z")))
      .withColumn("se", expr(
        "sqrt(CAST(1 AS DOUBLE)/CAST(a AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(b AS DOUBLE)" +
          " + CAST(1 AS DOUBLE)/CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(dd AS DOUBLE))"))
      .withColumn("lo", expr("lor - CAST(1.96 AS DOUBLE) * se"))
      .withColumn("hi", expr("lor + CAST(1.96 AS DOUBLE) * se"))
      .withColumn("__ul", expr(ExactExp.uExpr("lo")))
      .withColumn("__pl", expr(ExactExp.pExpr("__ul")))
      .withColumn("__uh", expr(ExactExp.uExpr("hi")))
      .withColumn("__ph", expr(ExactExp.pExpr("__uh")))
      .selectExpr("a AS conv_b", "b AS noconv_b", "c AS conv_a", "dd AS noconv_a",
        "or_ AS odds_ratio", "lor AS ln_or", "se",
        s"${ExactExp.expExpr("__pl")} AS or_low",
        s"${ExactExp.expExpr("__ph")} AS or_high",
        s"""CASE WHEN ${ExactExp.expExpr("__pl")} > CAST(1 AS DOUBLE)
           |  OR ${ExactExp.expExpr("__ph")} < CAST(1 AS DOUBLE)
           |THEN 1 ELSE 0 END AS significant""".stripMargin)
  }

  val oddsRatioCiSql: String = {
    import graft.functions.{ExactExp, ExactLn}
    s"""WITH ud AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS variant
       |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
       |cell AS (
       |  SELECT
       |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 - converted ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 - converted ELSE 0 END) AS BIGINT) AS dd
       |  FROM ud),
       |o AS (SELECT *, (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)) / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS or_ FROM cell),
       |y AS (SELECT *, ${ExactLn.yExpr("or_")} AS __y FROM o),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |l AS (SELECT *, ${ExactLn.lnExpr("__z")} AS lor,
       |    sqrt(CAST(1 AS DOUBLE)/CAST(a AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(b AS DOUBLE)
       |      + CAST(1 AS DOUBLE)/CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(dd AS DOUBLE)) AS se
       |  FROM z),
       |bnd AS (SELECT *, lor - CAST(1.96 AS DOUBLE) * se AS lo, lor + CAST(1.96 AS DOUBLE) * se AS hi FROM l),
       |eu AS (SELECT *, ${ExactExp.uExpr("lo")} AS __ul, ${ExactExp.uExpr("hi")} AS __uh FROM bnd),
       |ep AS (SELECT *, ${ExactExp.pExpr("__ul")} AS __pl, ${ExactExp.pExpr("__uh")} AS __ph FROM eu)
       |SELECT a AS conv_b, b AS noconv_b, c AS conv_a, dd AS noconv_a,
       |  or_ AS odds_ratio, lor AS ln_or, se,
       |  ${ExactExp.expExpr("__pl")} AS or_low,
       |  ${ExactExp.expExpr("__ph")} AS or_high,
       |  CASE WHEN ${ExactExp.expExpr("__pl")} > CAST(1 AS DOUBLE)
       |    OR ${ExactExp.expExpr("__ph")} < CAST(1 AS DOUBLE)
       |  THEN 1 ELSE 0 END AS significant
       |FROM ep""".stripMargin
  }

  // ---------------------------------------------------------- survival_km_curve

  private val KmCensorDays = 90

  /** Kaplan–Meier survival curve of customer lifetime (weeks from
    * first to last order; a customer whose last order is within
    * [[KmCensorDays]] of the dataset horizon is CENSORED — still
    * alive, their tail unobserved): S(t) = Π_{u≤t} (1 − d_u/n_u),
    * the product-limit estimator that uses censored lifetimes
    * correctly, which `survival_hazard`'s raw per-period rates and
    * `churn_dormancy`'s bucket profile don't attempt. The product is
    * exp(Σ ln(1−h)) with BOTH transcendentals engine-exact
    * ([[graft.functions.ExactLn]] / [[graft.functions.ExactExp]] —
    * the round-trip composition is the first in the repo), so the
    * whole curve hash-matches; a week where the entire risk set
    * exits churned (h = 1, only possible at the curve's end) is
    * handled by a cumulative dead-flag, survival exactly 0, with
    * the CASE discarding the out-of-domain ln identically on both
    * engines.
    *
    * Scale shape: ONE orders pass reduces to customer grain
    * map-side, then to the bounded week spine; risk sets are a
    * reverse cumulative sum over that spine (calendar-bounded
    * window, the sprt convention). ExactExp domain: |log S| ≤ 40
    * holds while S ≥ e⁻⁴⁰ — at realistic cohort sizes S ≥ 1/n well
    * inside it.
    */
  def survivalKmCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{ExactExp, ExactLn}
    val per = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("first_d"),
        max(col("o_orderdate").cast("date")).as("last_d"))
    val anchor = Tables(spark, dir).orders
      .agg(max(col("o_orderdate").cast("date")).as("anchor"))
    val weekly = per.crossJoin(broadcast(anchor))
      .select(
        expr("CAST(datediff(last_d, first_d) AS BIGINT) div 7").as("t"),
        when(datediff(col("anchor"), col("last_d")).cast("long") > KmCensorDays, 1L)
          .otherwise(0L).as("churned"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("leaving"), sum(col("churned")).as("d"))
    val wAsc = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    weekly
      .withColumn("n_risk", sum(col("leaving")).over(wDesc))
      .withColumn("h", expr("CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)"))
      .withColumn("s1h", expr("CAST(1 AS DOUBLE) - h"))
      .withColumn("__y", expr(ExactLn.yExpr("s1h")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("lnt", expr(
        s"CASE WHEN d = n_risk THEN CAST(0 AS DOUBLE) ELSE ${ExactLn.lnExpr("__z")} END"))
      .withColumn("logS", sum(expr("CAST(round(lnt, 9) AS DECIMAL(18,9))")).over(wAsc))
      .withColumn("dead", max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wAsc))
      .withColumn("ls", expr("CAST(logS AS DOUBLE)"))
      .withColumn("__u", expr(ExactExp.uExpr("ls")))
      .withColumn("__p", expr(ExactExp.pExpr("__u")))
      .selectExpr("CAST(t AS BIGINT) AS week", "n_risk",
        "CAST(d AS BIGINT) AS n_events",
        "CAST(leaving - d AS BIGINT) AS n_censored",
        "h AS hazard",
        s"""CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
           |ELSE ${ExactExp.expExpr("__p")} END AS survival""".stripMargin)
      .orderBy("week")
  }

  val survivalKmCurveSql: String = {
    import graft.functions.{ExactExp, ExactLn}
    s"""WITH per AS (
       |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS first_d,
       |    max(CAST(o_orderdate AS DATE)) AS last_d
       |  FROM orders GROUP BY 1),
       |anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
       |cust AS (
       |  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) // 7 AS t,
       |    CASE WHEN CAST(date_diff('day', last_d, anchor) AS BIGINT) > $KmCensorDays
       |         THEN 1 ELSE 0 END AS churned
       |  FROM per, anchor),
       |weekly AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS leaving,
       |    CAST(sum(churned) AS BIGINT) AS d
       |  FROM cust GROUP BY 1),
       |risk AS (
       |  SELECT *,
       |    CAST(sum(leaving) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
       |  FROM weekly),
       |hz AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h,
       |    CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS s1h
       |  FROM risk),
       |y AS (SELECT *, ${ExactLn.yExpr("s1h")} AS __y FROM hz),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |l AS (SELECT *,
       |    CASE WHEN d = n_risk THEN CAST(0 AS DOUBLE) ELSE ${ExactLn.lnExpr("__z")} END AS lnt
       |  FROM z),
       |c AS (
       |  SELECT *,
       |    sum(CAST(round(lnt, 9) AS DECIMAL(18,9))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logS,
       |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
       |  FROM l),
       |e AS (SELECT *, CAST(logS AS DOUBLE) AS ls FROM c),
       |u AS (SELECT *, ${ExactExp.uExpr("ls")} AS __u FROM e),
       |p AS (SELECT *, ${ExactExp.pExpr("__u")} AS __p FROM u)
       |SELECT t AS week, n_risk, d AS n_events,
       |  CAST(leaving - d AS BIGINT) AS n_censored,
       |  h AS hazard,
       |  CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
       |  ELSE ${ExactExp.expExpr("__p")} END AS survival
       |FROM p ORDER BY week""".stripMargin
  }

  // ------------------------------------------------- mantel_haenszel_effect

  /** Mantel–Haenszel pooled risk ratio of the A/B conversion effect
    * stratified by the customer's market segment — the Simpson's-
    * paradox-proof readout `ab_test_conversion`'s crude rates can't
    * give: if segment mix differs between arms, the crude ratio
    * confounds mix with effect, and the MH estimator pools the
    * per-stratum ratios weighted by their information content
    * (Σ b·n_a/N over Σ a·n_b/N). Per-stratum rows carry their own RR
    * plus the pooled and crude ratios (same-on-every-row, the
    * psi_total convention) — crude far from pooled IS the
    * confounding alarm. Every product casts each exact count to
    * double individually (the sub-2⁵³ cuped ledger — valid to ~9·10¹⁵
    * users); stratum terms reduce via the round-to-decimal sum over
    * the 5-row frame.
    *
    * Scale shape: the user-day conversion aggregate (the ab_test
    * shape) joins the customer dim on the user key — a dim join AQE
    * broadcasts at any realistic dim/fact ratio; everything after is
    * the 5-row segment frame.
    */
  def mantelHaenszelEffect(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ud = t.events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(col("p")).as("converted"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    val cell = ud
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("conv_b"))
    cell
      .withColumn("num_i", expr(
        "CAST(conv_b AS DOUBLE) * CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("den_i", expr(
        "CAST(conv_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("nd", sum(expr("CAST(round(num_i, 9) AS DECIMAL(18,9))"))
        .over(Window.partitionBy()))
      .withColumn("dd", sum(expr("CAST(round(den_i, 9) AS DECIMAL(18,9))"))
        .over(Window.partitionBy()))
      .withColumn("ca", sum(col("conv_a")).over(Window.partitionBy()))
      .withColumn("na", sum(col("n_a")).over(Window.partitionBy()))
      .withColumn("cb", sum(col("conv_b")).over(Window.partitionBy()))
      .withColumn("nb", sum(col("n_b")).over(Window.partitionBy()))
      .selectExpr("segment", "n_a", "conv_a", "n_b", "conv_b",
        """CASE WHEN conv_a = 0 OR n_b = 0 THEN CAST(0 AS DOUBLE)
          |ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          |   / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) END AS rr_stratum""".stripMargin,
        "CAST(nd AS DOUBLE) / CAST(dd AS DOUBLE) AS rr_mh",
        """(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
          | / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) AS rr_crude""".stripMargin)
      .orderBy("segment")
  }

  val mantelHaenszelEffectSql: String =
    """WITH ud AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |v AS (
      |  SELECT ud.*, c_mktsegment AS segment,
      |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS variant
      |  FROM ud JOIN customer ON user_id = c_custkey),
      |cell AS (
      |  SELECT segment,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM v GROUP BY 1),
      |e AS (
      |  SELECT *,
      |    CAST(conv_b AS DOUBLE) * CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS num_i,
      |    CAST(conv_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS den_i
      |  FROM cell),
      |w AS (
      |  SELECT *,
      |    sum(CAST(round(num_i, 9) AS DECIMAL(18,9))) OVER () AS nd,
      |    sum(CAST(round(den_i, 9) AS DECIMAL(18,9))) OVER () AS dd,
      |    sum(conv_a) OVER () AS ca, sum(n_a) OVER () AS na,
      |    sum(conv_b) OVER () AS cb, sum(n_b) OVER () AS nb
      |  FROM e)
      |SELECT segment, n_a, conv_a, n_b, conv_b,
      |  CASE WHEN conv_a = 0 OR n_b = 0 THEN CAST(0 AS DOUBLE)
      |  ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |     / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) END AS rr_stratum,
      |  CAST(nd AS DOUBLE) / CAST(dd AS DOUBLE) AS rr_mh,
      |  (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |   / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) AS rr_crude
      |FROM w ORDER BY segment""".stripMargin

  // --------------------------------------------------------- breslow_day

  // MH common ODDS ratio from the 9-dp decimal window sums, then the
  // per-stratum expected cell under that common OR: the valid root of
  // (OR-1)E^2 - [OR(r1+c1) + (n-r1-c1)]E + OR*r1*c1 = 0 (the -sqrt
  // root is in range for OR on either side of 1); the tangent-variance
  // is the harmonic form 1/V = 1/E + 1/(r1-E) + 1/(c1-E) + 1/(n-r1-c1+E).
  private val BdOrm =
    "(CASE WHEN dd = 0 OR nd = 0 THEN CAST(1 AS DOUBLE) " +
      "ELSE CAST(nd AS DOUBLE) / CAST(dd AS DOUBLE) END)"
  private val BdA = "(orm - CAST(1 AS DOUBLE))"
  private val BdB =
    "(orm * (CAST(r1 AS DOUBLE) + CAST(c1 AS DOUBLE)) + " +
      "(CAST(nn AS DOUBLE) - CAST(r1 AS DOUBLE) - CAST(c1 AS DOUBLE)))"
  private val BdC = "(orm * CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE))"
  private val BdE =
    s"(CASE WHEN abs($BdA) < CAST(0.000000000001 AS DOUBLE) " +
      "THEN CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE) / CAST(nn AS DOUBLE) " +
      s"ELSE ($BdB - sqrt($BdB * $BdB - CAST(4 AS DOUBLE) * $BdA * $BdC)) " +
      s"/ (CAST(2 AS DOUBLE) * $BdA) END)"
  private val BdIncluded =
    "(r1 > 0 AND c1 > 0 AND r1 < nn AND c1 < nn AND nd > 0 AND dd > 0)"
  private val BdInv =
    "(CAST(1 AS DOUBLE) / ev + CAST(1 AS DOUBLE) / (CAST(r1 AS DOUBLE) - ev) " +
      "+ CAST(1 AS DOUBLE) / (CAST(c1 AS DOUBLE) - ev) " +
      "+ CAST(1 AS DOUBLE) / (CAST(nn AS DOUBLE) - CAST(r1 AS DOUBLE) - CAST(c1 AS DOUBLE) + ev))"
  private val BdContrib =
    s"(CASE WHEN included = 1 THEN " +
      "(CAST(aa AS DOUBLE) - ev) * (CAST(aa AS DOUBLE) - ev) * inv " +
      "ELSE CAST(0 AS DOUBLE) END)"

  /** Breslow–Day homogeneity of the odds ratio across the
    * [[mantelHaenszelEffect]] strata (SAME segment strata, hash
    * variant, per-user-day conversion): MH answers "what is the
    * common effect"; BD answers whether a COMMON effect is even the
    * right summary, or the variant helps some segments and hurts
    * others (the `simpson_paradox_audit` failure mode, as a test
    * statistic). χ² = Σ (a_i − E_i)²/V_i with E_i the expected
    * treated-case cell under the common OR (closed-form quadratic
    * root) and V_i the harmonic variance; strata with degenerate
    * margins drop out of both the sum and df. Cells are exact
    * integers; OR_MH rides the 9-dp decimal window-sum convention;
    * the per-stratum algebra is one shared double text.
    *
    * Scale shape: one events pass to per-user-day grain, one
    * conditional pivot to ≤5 stratum rows, then row-local algebra
    * and a 9-dp decimal fold.
    */
  def breslowDay(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ud = t.events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(col("p")).as("converted"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    val cell = ud
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("conv_b"))
    cell
      .withColumn("num_i", expr(
        "CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("den_i", expr(
        "CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"))
      .withColumn("nd", sum(expr("CAST(round(num_i, 9) AS DECIMAL(18,9))"))
        .over(Window.partitionBy()))
      .withColumn("dd", sum(expr("CAST(round(den_i, 9) AS DECIMAL(18,9))"))
        .over(Window.partitionBy()))
      .withColumn("orm", expr(BdOrm))
      .withColumn("aa", col("conv_b"))
      .withColumn("r1", col("n_b"))
      .withColumn("c1", expr("conv_a + conv_b"))
      .withColumn("nn", expr("n_a + n_b"))
      .withColumn("included", expr(s"CASE WHEN $BdIncluded THEN 1 ELSE 0 END"))
      .withColumn("ev", expr(BdE))
      .withColumn("inv", expr(BdInv))
      .withColumn("contrib", expr(BdContrib))
      .agg(sum(col("included")).as("n_strata_used"),
        max(col("orm")).as("or_mh"),
        sum(expr("CAST(round(contrib, 9) AS DECIMAL(18,9))")).as("bd"))
      .selectExpr("CAST(n_strata_used AS BIGINT) AS n_strata_used",
        "CAST(or_mh AS DOUBLE) AS or_mh",
        "CAST(bd AS DOUBLE) AS bd_stat",
        "CAST(CASE WHEN n_strata_used > 0 THEN n_strata_used - 1 ELSE 0 END AS BIGINT) AS df")
  }

  val breslowDaySql: String =
    s"""WITH ud AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
       |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
       |v AS (
       |  SELECT ud.*, c_mktsegment AS segment,
       |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS variant
       |  FROM ud JOIN customer ON user_id = c_custkey),
       |cell AS (
       |  SELECT segment,
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM v GROUP BY 1),
       |e AS (
       |  SELECT *,
       |    CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS num_i,
       |    CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS den_i
       |  FROM cell),
       |w AS (
       |  SELECT *,
       |    sum(CAST(round(num_i, 9) AS DECIMAL(18,9))) OVER () AS nd,
       |    sum(CAST(round(den_i, 9) AS DECIMAL(18,9))) OVER () AS dd
       |  FROM e),
       |st AS (
       |  SELECT *, $BdOrm AS orm, conv_b AS aa, n_b AS r1,
       |    conv_a + conv_b AS c1, n_a + n_b AS nn
       |  FROM w),
       |inc AS (
       |  SELECT *, CASE WHEN $BdIncluded THEN 1 ELSE 0 END AS included,
       |    $BdE AS ev
       |  FROM st),
       |iv AS (SELECT *, $BdInv AS inv FROM inc),
       |ct AS (SELECT *, $BdContrib AS contrib FROM iv),
       |agg AS (
       |  SELECT CAST(sum(included) AS BIGINT) AS n_strata_used,
       |    max(orm) AS or_mh,
       |    sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) AS bd
       |  FROM ct)
       |SELECT n_strata_used, CAST(or_mh AS DOUBLE) AS or_mh,
       |  CAST(bd AS DOUBLE) AS bd_stat,
       |  CAST(CASE WHEN n_strata_used > 0 THEN n_strata_used - 1 ELSE 0 END AS BIGINT) AS df
       |FROM agg""".stripMargin

  // ------------------------------------------------- basket_lift_significance

  private val BasketSigTopK = 20

  /** Significance screen over the basket-lift pairs: the
    * co-occurrence z-score (k − n·p_a·p_b) / √(n·p_a·p_b·(1−p_a)·
    * (1−p_b)) — the normal approximation to the independence null a
    * rule miner applies BEFORE quoting a lift (`basket_lift` ranks by
    * lift, which is noisiest exactly where supports are small; the z
    * orders pairs by how unlikely their count is under independence).
    * Same pair frame and ≥30 support floor as `basket_lift` (shared
    * [[brandBaskets]] build), top-20 by z. All counts exact integers;
    * z and χ² (=z²) are one fixed-form shared expression over
    * cast-each-operand doubles.
    *
    * Scale shape: identical to basket_lift — pairs explode map-side
    * off the shared basket frame (Σ basket² at brand grain), the
    * marginal/total frames broadcast, top-20 is a TakeOrdered.
    */
  def basketLiftSignificance(spark: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(spark, dir)
    val n = baskets.agg(count(lit(1)).as("__n"))
    val cnt = baskets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    baskets
      .select(explode(col("bs")).as("ba"), col("bs"))
      .select(col("ba"), explode(col("bs")).as("bb"))
      .filter(col("ba") < col("bb"))
      .groupBy(col("ba").as("brand_a"), col("bb").as("brand_b"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") >= 30)
      .join(broadcast(cnt.select(col("b").as("brand_a"), col("c").as("ca"))), Seq("brand_a"))
      .join(broadcast(cnt.select(col("b").as("brand_b"), col("c").as("cb"))), Seq("brand_b"))
      .crossJoin(broadcast(n))
      .selectExpr("brand_a", "brand_b", "CAST(k AS BIGINT) AS pair_count",
        "CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(__n AS DOUBLE) AS expected",
        BasketSigZ + " AS z_score",
        s"($BasketSigZ) * ($BasketSigZ) AS chi2")
      .orderBy(col("z_score").desc, col("brand_a"), col("brand_b"))
      .limit(BasketSigTopK)
  }

  // shared z text: p_a = ca/n, p_b = cb/n staged inline (each count
  // cast to double individually, the cuped ledger)
  private val BasketSigZ: String = {
    val pa = "(CAST(ca AS DOUBLE) / CAST(__n AS DOUBLE))"
    val pb = "(CAST(cb AS DOUBLE) / CAST(__n AS DOUBLE))"
    val e = s"(CAST(__n AS DOUBLE) * $pa * $pb)"
    val v = s"($e * (CAST(1 AS DOUBLE) - $pa) * (CAST(1 AS DOUBLE) - $pb))"
    s"""CASE WHEN $v <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |ELSE (CAST(k AS DOUBLE) - $e) / sqrt($v) END""".stripMargin
  }

  val basketLiftSignificanceSql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS __n FROM ob),
       |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM ob GROUP BY 1),
       |pairs AS (
       |  SELECT a.b AS brand_a, b2.b AS brand_b, CAST(count(*) AS BIGINT) AS k
       |  FROM ob a JOIN ob b2 ON a.o = b2.o AND a.b < b2.b GROUP BY 1, 2),
       |j AS (
       |  SELECT brand_a, brand_b, k, ca.c AS ca, cb.c AS cb, __n
       |  FROM pairs
       |  JOIN cnt ca ON pairs.brand_a = ca.b
       |  JOIN cnt cb ON pairs.brand_b = cb.b
       |  CROSS JOIN n
       |  WHERE k >= 30)
       |SELECT brand_a, brand_b, k AS pair_count,
       |  CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(__n AS DOUBLE) AS expected,
       |  $BasketSigZ AS z_score,
       |  ($BasketSigZ) * ($BasketSigZ) AS chi2
       |FROM j
       |ORDER BY z_score DESC, brand_a, brand_b LIMIT $BasketSigTopK""".stripMargin

  // ------------------------------------------------------- retention_decay_fit

  // −ln 2 numerator of the half-life, as a shared round-trip literal
  private val Ln2Lit = math.log(2.0).toString

  /** Exponential-decay fit of the retention curve: OLS of
    * ln(retention rate) on cohort age over every (cohort, offset ≥ 1)
    * cell of the `retention_cohorts` frame — one decay rate and a
    * HALF-LIFE (−ln2/slope) where the raw table
    * (`retention_cohorts`) leaves you eyeballing rows; churn
    * forecasting and LTV multiply off exactly this exponent. Rates
    * are exact-integer ratios, each point's ln engine-exact
    * ([[graft.functions.ExactLn]]) and rounded to the 9dp decimal
    * grid BEFORE the moment sums (the deterministic-sum convention;
    * squares/products rounded on the same grid), fit via
    * cast-each-operand closed form. One row.
    *
    * Scale shape: one orders pass to customer-first grain, a second
    * to the (cohort, offset) spine (both partial-aggregating); the
    * fit runs on that bounded spine.
    */
  def retentionDecayFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("yr")).as("cohort_year"))
    val sizes = first.groupBy(col("cohort_year")).agg(count(lit(1)).as("cohort_size"))
    val pts = o.join(first, "o_custkey")
      .select(col("cohort_year"), col("o_custkey"), col("yr"))
      .distinct()
      .groupBy(col("cohort_year"),
        (col("yr") - col("cohort_year")).cast("long").as("x"))
      .agg(count(lit(1)).as("active"))
      .join(broadcast(sizes), Seq("cohort_year"))
      .filter(col("x") >= 1)
      .withColumn("r", expr("CAST(active AS DOUBLE) / CAST(cohort_size AS DOUBLE)"))
      .withColumn("__y", expr(ExactLn.yExpr("r")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("lnr", expr(ExactLn.lnExpr("__z")))
    val mom = pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(expr("x * x")).as("sxx"),
      sum(expr("CAST(round(lnr, 9) AS DECIMAL(18,9))")).as("sy"),
      sum(expr("CAST(round(lnr * CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))")).as("sxy"),
      sum(expr("CAST(round(lnr * lnr, 9) AS DECIMAL(18,9))")).as("syy"))
    mom.selectExpr("*", s"$RetDecayNum AS num", s"$RetDecayDen AS den")
      .selectExpr("*",
        """CASE WHEN den = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE num / den END AS slope""".stripMargin)
      .selectExpr("CAST(n AS BIGINT) AS n_points", "slope",
        "(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept",
        s"""CASE WHEN slope >= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
           |ELSE -(CAST($Ln2Lit AS DOUBLE)) / slope END AS half_life_years""".stripMargin,
        s"""CASE WHEN den = CAST(0 AS DOUBLE) OR $RetDecaySyyC = CAST(0 AS DOUBLE)
           |THEN CAST(0 AS DOUBLE)
           |ELSE num * num / (den * ($RetDecaySyyC)) END AS r2""".stripMargin)
  }

  private def retD(s: String) = s"CAST($s AS DOUBLE)"
  private val RetDecayNum =
    s"(${retD("n")} * ${retD("sxy")} - ${retD("sx")} * ${retD("sy")})"
  private val RetDecayDen =
    s"(${retD("n")} * ${retD("sxx")} - ${retD("sx")} * ${retD("sx")})"
  private val RetDecaySyyC =
    s"(${retD("n")} * ${retD("syy")} - ${retD("sy")} * ${retD("sy")})"

  val retentionDecayFitSql: String = {
    import graft.functions.ExactLn
    s"""WITH first AS (
       |  SELECT o_custkey, min(year(o_orderdate)) AS cohort_year FROM orders GROUP BY 1),
       |act AS (
       |  SELECT DISTINCT f.cohort_year, o.o_custkey, year(o.o_orderdate) AS yr
       |  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey),
       |sizes AS (SELECT cohort_year, CAST(count(*) AS BIGINT) AS cohort_size FROM first GROUP BY 1),
       |pts0 AS (
       |  SELECT a.cohort_year, CAST(a.yr - a.cohort_year AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS active, s.cohort_size
       |  FROM act a JOIN sizes s ON a.cohort_year = s.cohort_year
       |  GROUP BY 1, 2, 4),
       |pts1 AS (
       |  SELECT *, CAST(active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS r
       |  FROM pts0 WHERE x >= 1),
       |y AS (SELECT *, ${ExactLn.yExpr("r")} AS __y FROM pts1),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |l AS (SELECT *, ${ExactLn.lnExpr("__z")} AS lnr FROM z),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    sum(CAST(round(lnr, 9) AS DECIMAL(18,9))) AS sy,
       |    sum(CAST(round(lnr * CAST(x AS DOUBLE), 9) AS DECIMAL(18,9))) AS sxy,
       |    sum(CAST(round(lnr * lnr, 9) AS DECIMAL(18,9))) AS syy
       |  FROM l),
       |c1 AS (SELECT *, $RetDecayNum AS num, $RetDecayDen AS den FROM mom),
       |c2 AS (SELECT *,
       |    CASE WHEN den = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |    ELSE num / den END AS slope
       |  FROM c1)
       |SELECT n AS n_points, slope,
       |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       |  CASE WHEN slope >= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE -(CAST($Ln2Lit AS DOUBLE)) / slope END AS half_life_years,
       |  CASE WHEN den = CAST(0 AS DOUBLE) OR $RetDecaySyyC = CAST(0 AS DOUBLE)
       |  THEN CAST(0 AS DOUBLE)
       |  ELSE num * num / (den * ($RetDecaySyyC)) END AS r2
       |FROM c2""".stripMargin
  }

  // -------------------------------------------------------- price_index_monthly

  /** Matched-basket Laspeyres / Paasche / Fisher price indices per
    * month vs the first month: unit prices p̄ = revenue/quantity at
    * part grain, weighted by BASE-month quantities (Laspeyres — "what
    * would the old basket cost now") and CURRENT quantities (Paasche),
    * Fisher the geometric mean — the inflation decomposition
    * `price_volume_mix` approximates at aggregate grain done
    * properly at part grain with a matched basket (only parts traded
    * in BOTH months enter, the standard index-number treatment).
    * Every basket term is the exact integer floor
    * (rev·weight) div (qty·10⁴) — dollars grain, documented ≤$1/part
    * floor error — because a rounded double term here would sit ON
    * the .5 quantization boundary (rev·w/qty is a small-denominator
    * rational) where the engines' round() semantics differ; floor of
    * positive integers is engine-identical. Index ratios and sqrt
    * are IEEE over the four exact sums (sub-2^53 through ~sf10).
    *
    * Scale shape: one lineitem partial-agg to the (month, part)
    * frame; the base month broadcasts; per-month index sums
    * partial-aggregate — nothing beyond the part-month grain ever
    * shuffles.
    */
  def priceIndexMonthly(spark: SparkSession, dir: String): DataFrame = {
    // pm is cached (round 19): its three consumers (the base-month
    // scalar, the base frame, the index join) each re-ran the
    // fact-sized decimal aggregation — three lineitem passes per run.
    // The explicit-count hash(l_partkey) exchange spreads the decimal
    // aggregation across the session's cores (hash(partkey) clusters
    // every (month, partkey) group, so the groupBy adds no further
    // exchange); without it the single-row-group scan plus AQE byte
    // coalescing ran the CPU-dense agg in 1-3 tasks (probed 1.6 s
    // serial in the cache-build stage).
    val pm = graft.core.OwnedCaches.own(Tables(spark, dir).lineitem
      .repartition(spark.sessionState.conf.numShufflePartitions, col("l_partkey"))
      .groupBy(expr("year(l_shipdate) * 12 + month(l_shipdate) - 1").as("m"),
        col("l_partkey"))
      .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)").as("rev"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT)").as("qty"))
      .filter(col("qty") > 0)
      .cache())
    val m0 = pm.agg(min(col("m")).as("m0"))
    val base = pm.crossJoin(broadcast(m0)).filter(col("m") === col("m0"))
      .select(col("l_partkey"), col("rev").as("rev0"), col("qty").as("qty0"))
    pm.join(broadcast(base), "l_partkey")
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_matched_parts"),
        sum(expr(piLNumS)).as("ln_"), sum(expr(piLDenS)).as("ld"),
        sum(expr(piPNumS)).as("pn"), sum(expr(piPDenS)).as("pd"))
      .selectExpr("CAST(m AS BIGINT) AS month_id",
        "CAST(n_matched_parts AS BIGINT) AS n_matched_parts",
        s"$PiL AS laspeyres", s"$PiP AS paasche",
        s"CASE WHEN $PiL * $PiP < CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          s"ELSE sqrt($PiL * $PiP) END AS fisher")
      .orderBy("month_id")
  }

  // exact whole-dollar basket term: (rev·w) div (qty·10⁴) — integer
  // products stay < 2^63 through ~sf100 (rev ≤ ~1e13 · w ≤ ~1e4);
  // `div` is Spark's integer division, `//` DuckDB's — same floor on
  // positive ints (the joinKeySkewAudit pairing)
  private def piTerm(rev: String, qty: String, w: String, op: String): String =
    s"(($rev * $w) $op ($qty * 10000))"
  private def piTerms(op: String): Seq[String] = Seq(
    piTerm("rev", "qty", "qty0", op), piTerm("rev0", "qty0", "qty0", op),
    piTerm("rev", "qty", "qty", op), piTerm("rev0", "qty0", "qty", op))
  private val Seq(piLNumS, piLDenS, piPNumS, piPDenS) = piTerms("div")
  private val Seq(piLNumD, piLDenD, piPNumD, piPDenD) = piTerms("//")
  private val PiL =
    "(CASE WHEN CAST(ld AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(ln_ AS DOUBLE) / CAST(ld AS DOUBLE) END)"
  private val PiP =
    "(CASE WHEN CAST(pd AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) END)"

  val priceIndexMonthlySql: String =
    s"""WITH pm AS (
       |  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m, l_partkey,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS rev,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0))) AS BIGINT) AS qty
       |  FROM lineitem GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS DECIMAL(18,0))) > 0),
       |m0 AS (SELECT min(m) AS m0 FROM pm),
       |base AS (
       |  SELECT l_partkey, rev AS rev0, qty AS qty0
       |  FROM pm, m0 WHERE m = m0),
       |j AS (SELECT pm.* , base.rev0, base.qty0 FROM pm JOIN base USING (l_partkey)),
       |g AS (
       |  SELECT m, CAST(count(*) AS BIGINT) AS n_matched_parts,
       |    CAST(sum($piLNumD) AS BIGINT) AS ln_, CAST(sum($piLDenD) AS BIGINT) AS ld,
       |    CAST(sum($piPNumD) AS BIGINT) AS pn, CAST(sum($piPDenD) AS BIGINT) AS pd
       |  FROM j GROUP BY 1)
       |SELECT m AS month_id, n_matched_parts,
       |  $PiL AS laspeyres, $PiP AS paasche,
       |  CASE WHEN $PiL * $PiP < CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE sqrt($PiL * $PiP) END AS fisher
       |FROM g ORDER BY month_id""".stripMargin

  // --------------------------------------------------------- shapley_attribution

  /** Exact Shapley-value channel attribution over the four
    * non-conversion event channels (click, error, signup, view):
    * v(S) = purchase rate of users whose EXACT touch-set is S, and
    * each channel's φ is the exact 8-term Shapley sum over the 16
    * coalition cells — the game-theoretic completion of the
    * attribution family (`attribution_linear` splits evenly,
    * `time_decay_attribution` by recency, `markov_removal_attribution`
    * by removal effect; Shapley is the only one satisfying
    * efficiency + symmetry + dummy axioms, and with k=4 it's EXACT,
    * no sampling). Cell counts are exact integers; coalition values
    * and the φ folds are fixed-order IEEE with rational-cast weights
    * (s!(k−s−1)!/k! spelled as integer-cast divisions — both engines
    * parse and round identically).
    *
    * Scale shape: one events pass partial-aggregates to user-grain
    * flags, one more to the 16-cell coalition frame; the φ algebra is
    * scalar over one pivoted row.
    */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "click", 1).otherwise(0)).as("b0"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("b1"),
        max(when(col("event_type") === "signup", 1).otherwise(0)).as("b2"),
        max(when(col("event_type") === "view", 1).otherwise(0)).as("b3"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
      .withColumn("mask", expr("b0 + 2 * b1 + 4 * b2 + 8 * b3"))
    val cellCols = (0 until 16).flatMap { m =>
      Seq(sum(when(col("mask") === m, 1L).otherwise(0L)).as(s"n$m"),
        sum(when(col("mask") === m, col("conv").cast("long")).otherwise(0L)).as(s"c$m"))
    }
    val pivoted = users.agg(cellCols.head, cellCols.tail: _*)
    val stackArgs = ShapChannels.zipWithIndex
      .map { case (ch, i) => s"'$ch', ${shapPhi(i)}" }.mkString(", ")
    pivoted
      .selectExpr(s"${shapV(15)} AS v_full", s"${shapV(0)} AS v_empty",
        s"stack(4, $stackArgs) AS (channel, phi)")
      .selectExpr("channel", "phi", "v_full", "v_empty",
        """CASE WHEN v_full - v_empty = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE phi / (v_full - v_empty) END AS share""".stripMargin)
      .orderBy("channel")
  }

  private val ShapChannels = Seq("click", "error", "signup", "view")

  // v(mask) = conversions/users of the EXACT coalition cell (empty
  // cell ⇒ 0, documented)
  private def shapV(m: Int): String =
    s"(CASE WHEN n$m = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(c$m AS DOUBLE) / CAST(n$m AS DOUBLE) END)"

  // φ_c = Σ_{S ∌ c} s!(3−s)!/4! · (v(S∪c) − v(S)) — 8 terms folded in
  // ascending-mask order, weights as exact rational casts
  private def shapPhi(c: Int): String = {
    val bit = 1 << c
    val terms = (0 until 16).filter(m => (m & bit) == 0).map { m =>
      val s = Integer.bitCount(m)
      val fact = Seq(1, 1, 2, 6)
      val w = s"(CAST(${fact(s) * fact(3 - s)} AS DOUBLE) / CAST(24 AS DOUBLE))"
      s"($w * (${shapV(m | bit)} - ${shapV(m)}))"
    }
    terms.reduce((a, b) => s"($a + $b)")
  }

  val shapleyAttributionSql: String = {
    val cellCols = (0 until 16).flatMap { m =>
      Seq(s"CAST(sum(CASE WHEN mask = $m THEN 1 ELSE 0 END) AS BIGINT) AS n$m",
        s"CAST(sum(CASE WHEN mask = $m THEN conv ELSE 0 END) AS BIGINT) AS c$m")
    }.mkString(",\n    ")
    val chRows = ShapChannels.zipWithIndex.map { case (ch, i) =>
      s"SELECT '$ch' AS channel, ${shapPhi(i)} AS phi, ${shapV(15)} AS v_full, ${shapV(0)} AS v_empty FROM p"
    }.mkString("\n  UNION ALL ")
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      + 2 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
       |      + 8 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |p AS (
       |  SELECT
       |    $cellCols
       |  FROM u),
       |rows_s AS (
       |  $chRows)
       |SELECT channel, phi, v_full, v_empty,
       |  CASE WHEN v_full - v_empty = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE phi / (v_full - v_empty) END AS share
       |FROM rows_s ORDER BY channel""".stripMargin
  }

  // ----------------------------------------------------------------- logrank_test

  private val LrSegA = "MACHINERY"
  private val LrSegB = "FURNITURE"
  // per-week logrank terms on the pivoted exact counts (d = d_a + d_b,
  // n = n_a + n_b at risk): E_a = d·n_a/n; hypergeometric variance
  private val LrEa = "(CAST(d AS DOUBLE) * CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))"
  private val LrVa =
    "(CASE WHEN nt <= 1 THEN CAST(0 AS DOUBLE) ELSE " +
      "CAST(d AS DOUBLE) * (CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))" +
      " * (CAST(1 AS DOUBLE) - CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))" +
      " * CAST(nt - d AS DOUBLE) / CAST(nt - 1 AS DOUBLE) END)"

  /** Log-rank test between two market segments' churn survival curves
    * — the significance companion of `survival_km_curve` (the curve
    * shows a gap; this says whether the gap survives the censoring
    * structure): at each event week the observed segment-A deaths are
    * compared to the hypergeometric expectation given the pooled
    * hazard, χ² = (ΣO−ΣE)²/ΣV on 1 df. Same churn definition and
    * week grid as the KM curve; at-risk counts are exact reverse-
    * cumulative integers per segment; the E and V terms are
    * fixed-order doubles 9-dp-quantized into order-free decimal sums.
    *
    * Scale shape: one orders⋈customer pass partial-aggregates to the
    * (week × 2) pivoted spine; every window runs on the
    * calendar-bounded week grid (the survival_km_curve convention).
    */
  def logrankTest(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val per = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(LrSegA, LrSegB))
      .groupBy(col("o_custkey"), col("c_mktsegment"))
      .agg(min(col("o_orderdate").cast("date")).as("first_d"),
        max(col("o_orderdate").cast("date")).as("last_d"))
    val anchor = t.orders.agg(max(col("o_orderdate").cast("date")).as("anchor"))
    val weekly = per.crossJoin(broadcast(anchor))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(datediff(last_d, first_d) AS BIGINT) div 7").as("t"),
        when(datediff(col("anchor"), col("last_d")).cast("long") > KmCensorDays, 1L)
          .otherwise(0L).as("churned"))
      .groupBy(col("t"))
      .agg(sum(when(col("seg") === LrSegA, 1L).otherwise(0L)).as("la"),
        sum(when(col("seg") === LrSegA, col("churned")).otherwise(0L)).as("da"),
        sum(when(col("seg") === LrSegB, 1L).otherwise(0L)).as("lb"),
        sum(when(col("seg") === LrSegB, col("churned")).otherwise(0L)).as("db"))
    val wDesc = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    weekly
      .withColumn("na", sum(col("la")).over(wDesc))
      .withColumn("nb", sum(col("lb")).over(wDesc))
      .withColumn("nt", expr("na + nb"))
      .withColumn("d", expr("da + db"))
      .filter(col("d") > 0)
      .agg(sum(col("da")).as("oa"),
        sum(expr(s"CAST(round($LrEa, 9) AS DECIMAL(18,9))")).as("ea"),
        sum(expr(s"CAST(round($LrVa, 9) AS DECIMAL(18,9))")).as("va"),
        count(lit(1)).as("n_event_weeks"))
      .selectExpr("CAST(n_event_weeks AS BIGINT) AS n_event_weeks",
        "CAST(oa AS BIGINT) AS observed_a",
        "CAST(ea AS DOUBLE) AS expected_a",
        "CAST(va AS DOUBLE) AS variance_a",
        "(CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE)) * (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))" +
          " / CAST(va AS DOUBLE) AS logrank_chi2",
        "CASE WHEN (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE)) * (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))" +
          " / CAST(va AS DOUBLE) > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  val logrankTestSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, c_mktsegment AS seg,
       |    min(CAST(o_orderdate AS DATE)) AS first_d,
       |    max(CAST(o_orderdate AS DATE)) AS last_d
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE c_mktsegment IN ('$LrSegA', '$LrSegB')
       |  GROUP BY 1, 2),
       |anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
       |weekly AS (
       |  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) // 7 AS t,
       |    CAST(sum(CASE WHEN seg = '$LrSegA' THEN 1 ELSE 0 END) AS BIGINT) AS la,
       |    CAST(sum(CASE WHEN seg = '$LrSegA' AND CAST(date_diff('day', last_d, anchor) AS BIGINT) > $KmCensorDays THEN 1 ELSE 0 END) AS BIGINT) AS da,
       |    CAST(sum(CASE WHEN seg = '$LrSegB' THEN 1 ELSE 0 END) AS BIGINT) AS lb,
       |    CAST(sum(CASE WHEN seg = '$LrSegB' AND CAST(date_diff('day', last_d, anchor) AS BIGINT) > $KmCensorDays THEN 1 ELSE 0 END) AS BIGINT) AS db
       |  FROM per, anchor GROUP BY 1),
       |risk AS (
       |  SELECT *,
       |    sum(la) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS na,
       |    sum(lb) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
       |  FROM weekly),
       |ev AS (
       |  SELECT *, na + nb AS nt, da + db AS d FROM risk),
       |agg AS (
       |  SELECT CAST(sum(da) AS BIGINT) AS oa,
       |    sum(CAST(round($LrEa, 9) AS DECIMAL(18,9))) AS ea,
       |    sum(CAST(round($LrVa, 9) AS DECIMAL(18,9))) AS va,
       |    CAST(count(*) AS BIGINT) AS n_event_weeks
       |  FROM ev WHERE d > 0)
       |SELECT n_event_weeks, oa AS observed_a, CAST(ea AS DOUBLE) AS expected_a,
       |  CAST(va AS DOUBLE) AS variance_a,
       |  (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE)) * (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
       |    / CAST(va AS DOUBLE) AS logrank_chi2,
       |  CASE WHEN (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE)) * (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
       |    / CAST(va AS DOUBLE) > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------ bass_diffusion_fit

  // exact BIGINT moments cast bigint→double (correctly rounded on both
  // engines at any magnitude — the int128→double 1-ulp trap is why the
  // DECIMAL sums are cast THROUGH BIGINT first)
  private def bassD(x: String): String = s"CAST(CAST($x AS BIGINT) AS DOUBLE)"
  private val BassN = "CAST(n AS DOUBLE)"
  private val BassDet =
    s"($BassN*(${bassD("sx2")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx3")})" +
      s" - ${bassD("sx")}*(${bassD("sx")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx2")})" +
      s" + ${bassD("sx2")}*(${bassD("sx")}*${bassD("sx3")} - ${bassD("sx2")}*${bassD("sx2")}))"
  private val BassDetA = // intercept numerator: column 0 ← X'Y
    s"(${bassD("sy")}*(${bassD("sx2")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx3")})" +
      s" - ${bassD("sx")}*(${bassD("sxy")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx2y")})" +
      s" + ${bassD("sx2")}*(${bassD("sxy")}*${bassD("sx3")} - ${bassD("sx2")}*${bassD("sx2y")}))"
  private val BassDetB = // linear numerator: column 1 ← X'Y
    s"($BassN*(${bassD("sxy")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx2y")})" +
      s" - ${bassD("sy")}*(${bassD("sx")}*${bassD("sx4")} - ${bassD("sx3")}*${bassD("sx2")})" +
      s" + ${bassD("sx2")}*(${bassD("sx")}*${bassD("sx2y")} - ${bassD("sxy")}*${bassD("sx2")}))"
  private val BassDetC = // quadratic numerator: column 2 ← X'Y
    s"($BassN*(${bassD("sx2")}*${bassD("sx2y")} - ${bassD("sxy")}*${bassD("sx3")})" +
      s" - ${bassD("sx")}*(${bassD("sx")}*${bassD("sx2y")} - ${bassD("sxy")}*${bassD("sx2")})" +
      s" + ${bassD("sy")}*(${bassD("sx")}*${bassD("sx3")} - ${bassD("sx2")}*${bassD("sx2")}))"

  /** Bass diffusion fit over the customer adoption curve: regress
    * monthly NEW adopters S(t) on the cumulative adoption fraction
    * F(t−1) and F(t−1)² (the discrete Bass identity S = m·p +
    * (q−p)·N − (q/m)·N², in fraction form so the regressor lives on
    * a fixed 10⁴ grid at ANY corpus size) and map the OLS
    * coefficients back to the innovation rate p̂ = a/m and imitation
    * rate q̂ = −c·10⁸/m — the launch-forecasting primitive behind
    * `new_product_adoption`'s descriptive curve (that query reports
    * adoption; this one fits WHY it bends: externals vs word of
    * mouth). First order month per customer = adoption event; m =
    * total observed adopters (the market-is-observed convention,
    * stated). The 3×3 normal equations solve by Cramer's rule over
    * exact integer moments ([[BassDet]] — the adf_test pattern); the
    * fraction grid caps every per-row product at 10¹⁶ so the DECIMAL
    * sums pass through BIGINT exactly at any replica scale.
    *
    * Scale shape: one orders scan → min-month per customer (partial
    * agg) → calendar-bounded monthly frame; the cumulative window,
    * the moment aggregate, and the Cramer solve all run on ≤ months
    * rows.
    */
  def bassDiffusionFit(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(min(expr("year(o_orderdate) * 100 + month(o_orderdate)")).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("s"))
    val wm = Window.orderBy("m")
    val cum = first
      .withColumn("cumn", sum(col("s")).over(wm))
      .withColumn("np", lag(col("cumn"), 1).over(wm))
      .withColumn("mtot", sum(col("s")).over(Window.partitionBy()))
      .filter(col("np").isNotNull)
      .select(col("s").as("y"),
        expr("(np * 10000) div mtot").as("x"), col("mtot"))
    cum.agg(
        count(lit(1)).as("n"), max(col("mtot")).as("m_adopters"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sx2"),
        sum(expr("CAST(x * x * x AS DECIMAL(38,0))")).as("sx3"),
        sum(expr("CAST(x * x * x * x AS DECIMAL(38,0))")).as("sx4"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(x * x * y AS DECIMAL(38,0))")).as("sx2y"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        "CAST(m_adopters AS BIGINT) AS m_adopters",
        s"$BassDetA / $BassDet AS coef_a",
        s"$BassDetB / $BassDet AS coef_b",
        s"$BassDetC / $BassDet AS coef_c",
        s"($BassDetA / $BassDet) / CAST(m_adopters AS DOUBLE) AS p_hat",
        s"(CAST(0 AS DOUBLE) - ($BassDetC / $BassDet))" +
          s" * CAST(100000000 AS DOUBLE) / CAST(m_adopters AS DOUBLE) AS q_hat")
  }

  val bassDiffusionFitSql: String =
    s"""WITH first AS (
       |  SELECT m, count(*) AS s FROM (
       |    SELECT o_custkey, min(year(o_orderdate) * 100 + month(o_orderdate)) AS m
       |    FROM orders GROUP BY 1) z
       |  GROUP BY 1),
       |cum0 AS (
       |  SELECT s, m,
       |    sum(s) OVER (ORDER BY m) AS cumn,
       |    sum(s) OVER () AS mtot
       |  FROM first),
       |cum AS (
       |  SELECT s, m, mtot, lag(cumn) OVER (ORDER BY m) AS np FROM cum0),
       |x AS (
       |  SELECT s AS y, (np * 10000) // mtot AS x, mtot
       |  FROM cum WHERE np IS NOT NULL),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(mtot) AS BIGINT) AS m_adopters,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(x * x AS DECIMAL(38,0))) AS sx2,
       |    sum(CAST(x * x * x AS DECIMAL(38,0))) AS sx3,
       |    sum(CAST(x * x * x * x AS DECIMAL(38,0))) AS sx4,
       |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(x * x * y AS DECIMAL(38,0))) AS sx2y
       |  FROM x)
       |SELECT n AS n_months, m_adopters,
       |  $BassDetA / $BassDet AS coef_a,
       |  $BassDetB / $BassDet AS coef_b,
       |  $BassDetC / $BassDet AS coef_c,
       |  ($BassDetA / $BassDet) / CAST(m_adopters AS DOUBLE) AS p_hat,
       |  (CAST(0 AS DOUBLE) - ($BassDetC / $BassDet))
       |    * CAST(100000000 AS DOUBLE) / CAST(m_adopters AS DOUBLE) AS q_hat
       |FROM agg""".stripMargin
}
