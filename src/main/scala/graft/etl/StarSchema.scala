package graft.etl

import graft.core.Tables
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dbt star schema re-expressed as Spark DataFrame
  * builders (reference: `7.data-transformation-visualization/
  * dbt-project-glamira/models/` — staging, dimensions, facts).
  *
  * Scale notes (SURVEY.md §5): every dim is small relative to the fact
  * and explicitly broadcast into the fact build, so the fact join
  * stage is map-only over the big table. The fact derives its date and
  * session-context keys instead of joining those dims, so its one
  * events shuffle is the per-customer purchase-context aggregate; the
  * other wide shuffles are the newest-per-key aggregate (keyed,
  * pre-projected narrow) and the orders⋈lineitem join (co-partitioned
  * on the order key).
  */
object StarSchema {

  /** Typed staging projection of the raw event log (reference:
    * `models/staging/stg_summary.sql` — epoch→timestamp, safe casts,
    * renames, JSON attribute extraction).
    */
  def stgEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.select(
        col("event_id"),
        col("ts_us").as("event_ts_us"),
        timestamp_micros(col("ts_us")).cast("date").cast("string").as("event_date"),
        col("user_id").cast("string").as("customer_source_id"),
        col("event_type"),
        col("value").as("value_amt"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int").as("prop_k"))
      .orderBy("event_id")

  val stgEventsSql: String =
    """SELECT event_id, epoch_us(ts) AS event_ts_us,
      |  CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
      |  CAST(user_id AS VARCHAR) AS customer_source_id, event_type,
      |  value AS value_amt,
      |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  /** Data date range (reference: `models/staging/stg_summary_date_range.sql`). */
  def stgDateRange(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders.agg(
      min(col("o_orderdate")).cast("date").cast("string").as("start_date"),
      max(col("o_orderdate")).cast("date").cast("string").as("end_date"))

  val stgDateRangeSql: String =
    """SELECT CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS start_date,
      |       CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS end_date FROM orders""".stripMargin

  /** Date-spine dimension: day spine over the data range ±30 days +
    * calendar attributes (reference: `models/dimensions/dim_date.sql`,
    * dbt_utils.date_spine). `sequence`+`explode` — generated
    * map-side from a 1-row aggregate, no shuffle beyond the scalar agg.
    */
  def dimDate(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir).orders.agg(
      date_sub(min(col("o_orderdate")).cast("date"), 30).as("s"),
      date_add(max(col("o_orderdate")).cast("date"), 30).as("e"))
    val d = col("full_date")
    r.select(explode(sequence(col("s"), col("e"))).as("full_date"))
      .select(
        date_format(d, "yyyyMMdd").cast("int").as("date_key"),
        d.cast("string").as("full_date"),
        dayofmonth(d).as("day_of_month"),
        month(d).as("month_of_year"),
        year(d).as("calendar_year"),
        quarter(d).as("calendar_quarter"),
        date_format(d, "EEEE").as("day_name"),
        date_format(d, "EEE").as("day_name_short"),
        date_format(d, "MMMM").as("month_name"),
        date_format(d, "MMM").as("month_name_short"),
        dayofweek(d).as("day_of_week"),
        weekofyear(d).as("calendar_week"),
        dayofweek(d).isin(1, 7).as("is_weekend"))
      .orderBy("date_key")
  }

  val dimDateSql: String =
    """WITH r AS (SELECT CAST(min(o_orderdate) AS DATE) - INTERVAL 30 DAY AS s,
      |                  CAST(max(o_orderdate) AS DATE) + INTERVAL 30 DAY AS e FROM orders),
      |spine AS (SELECT CAST(unnest(generate_series(CAST(s AS TIMESTAMP), CAST(e AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS full_date FROM r)
      |SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key,
      |  CAST(full_date AS VARCHAR) AS full_date,
      |  CAST(dayofmonth(full_date) AS INTEGER) AS day_of_month,
      |  CAST(month(full_date) AS INTEGER) AS month_of_year,
      |  CAST(year(full_date) AS INTEGER) AS calendar_year,
      |  CAST(quarter(full_date) AS INTEGER) AS calendar_quarter,
      |  dayname(full_date) AS day_name, strftime(full_date, '%a') AS day_name_short,
      |  monthname(full_date) AS month_name, strftime(full_date, '%b') AS month_name_short,
      |  CAST(dayofweek(full_date) + 1 AS INTEGER) AS day_of_week,
      |  CAST(weekofyear(full_date) AS INTEGER) AS calendar_week,
      |  dayofweek(full_date) IN (0, 6) AS is_weekend
      |FROM spine ORDER BY date_key""".stripMargin

  /** Newest event attributes per user — the dedup-newest pattern
    * (reference: `models/dimensions/dim_customer.sql:18` — QUALIFY
    * row_number … = 1). Expressed as a struct-max aggregation rather
    * than a window: the lexicographic max over (ts_us, event_id)
    * picks the same newest record, but aggregation combines partial
    * maxima map-side, so the shuffle carries one row per (partition,
    * user) instead of the window's full event-stream sort — the shape
    * that matters when the event log is the 100 TB table.
    * (event_id is unique, so the struct order never reaches the
    * payload field and the tie-break matches the window exactly.)
    */
  private def newestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"),
        col("m.event_type").as("last_event_type"),
        timestamp_micros(col("m.ts_us")).cast("date").cast("string").as("last_seen_date"))

  /** Customer dimension: master data enriched with newest-event
    * attributes + md5 surrogate key (reference: dim_customer.sql).
    */
  def dimCustomer(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir).customer
    c.join(newestEventPerUser(spark, dir), c("c_custkey") === col("user_id"), "left")
      .select(
        surrogateKey(col("c_custkey")).as("customer_key"),
        col("c_custkey").cast("string").as("customer_source_id"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"),
        col("c_acctbal").as("account_balance"),
        col("last_event_type"),
        col("last_seen_date"))
      .orderBy("customer_source_id")
  }

  val dimCustomerSql: String =
    """WITH newest AS (
      |  SELECT user_id, event_type AS last_event_type,
      |         CAST(CAST(ts AS DATE) AS VARCHAR) AS last_seen_date
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
      |SELECT md5(coalesce(CAST(c_custkey AS VARCHAR), '_null_')) AS customer_key,
      |  CAST(c_custkey AS VARCHAR) AS customer_source_id,
      |  c_name AS customer_name, c_mktsegment AS market_segment,
      |  c_acctbal AS account_balance, last_event_type, last_seen_date
      |FROM customer LEFT JOIN newest ON c_custkey = user_id
      |ORDER BY customer_source_id""".stripMargin

  /** Product dimension (reference: dim_product.sql). */
  def dimProduct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).part.select(
        surrogateKey(col("p_partkey")).as("product_key"),
        col("p_partkey").cast("string").as("product_source_id"),
        col("p_name").as("product_name"),
        col("p_brand").as("brand"),
        col("p_type").as("product_type"),
        col("p_size").as("size"),
        col("p_retailprice").as("list_price"))
      .orderBy("product_source_id")

  val dimProductSql: String =
    """SELECT md5(coalesce(CAST(p_partkey AS VARCHAR), '_null_')) AS product_key,
      |  CAST(p_partkey AS VARCHAR) AS product_source_id,
      |  p_name AS product_name, p_brand AS brand, p_type AS product_type,
      |  p_size AS size, p_retailprice AS list_price
      |FROM part ORDER BY product_source_id""".stripMargin

  /** Session-context dimension: distinct composite context + composite
    * md5 surrogate key (reference: dim_session_context.sql — 7-col
    * distinct + generate_surrogate_key over all of them).
    */
  def dimSessionContext(spark: SparkSession, dir: String): DataFrame =
    stgEventsRaw(spark, dir)
      .filter(col("customer_source_id").isNotNull || col("event_type").isNotNull)
      .select(col("customer_source_id"), col("event_type"), col("prop_k"))
      .distinct()
      .select(
        surrogateKey(col("customer_source_id"), col("event_type"), col("prop_k"))
          .as("session_context_key"),
        col("customer_source_id"), col("event_type"), col("prop_k"))
      .orderBy("customer_source_id", "event_type", "prop_k")

  // stgEvents without the deterministic ORDER BY (for internal reuse)
  private def stgEventsRaw(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.select(
      col("event_id"),
      col("user_id").cast("string").as("customer_source_id"),
      col("event_type"),
      regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int").as("prop_k"))

  val dimSessionContextSql: String =
    """WITH stg AS (
      |  SELECT CAST(user_id AS VARCHAR) AS customer_source_id, event_type,
      |         CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS prop_k
      |  FROM events),
      |d AS (SELECT DISTINCT customer_source_id, event_type, prop_k FROM stg
      |      WHERE customer_source_id IS NOT NULL OR event_type IS NOT NULL)
      |SELECT md5(concat_ws('-', coalesce(customer_source_id, '_null_'),
      |                          coalesce(event_type, '_null_'),
      |                          coalesce(CAST(prop_k AS VARCHAR), '_null_'))) AS session_context_key,
      |  customer_source_id, event_type, prop_k
      |FROM d ORDER BY customer_source_id, event_type, prop_k""".stripMargin

  /** Location dimension from the geo lookup graph (reference:
    * dim_location.sql over ip_locations).
    */
  def dimLocation(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation.join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(
        surrogateKey(col("n_nationkey")).as("location_key"),
        col("n_nationkey").cast("string").as("location_source_id"),
        col("n_name").as("nation_name"),
        col("r_name").as("region_name"))
      .orderBy("location_source_id")
  }

  val dimLocationSql: String =
    """SELECT md5(coalesce(CAST(n_nationkey AS VARCHAR), '_null_')) AS location_key,
      |  CAST(n_nationkey AS VARCHAR) AS location_source_id,
      |  n_name AS nation_name, r_name AS region_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY location_source_id""".stripMargin

  /** Fact build: line-grain sales fact with 5 dimension keys
    * (product, customer, location, date, session context), unmatched
    * keys coalesced to '-1' (reference:
    * `models/facts/fact_sales_order.sql:34-39` coalesce fallbacks,
    * `:53-76` the dim left-join chain, `:83-91` the composite-key
    * session-context join).
    *
    * Three key sources are broadcast left-joined: customer (its
    * nation and surrogate key), part and nation. Two keys are derived
    * instead of joined, because their dims only recompute what the
    * fact stream already holds:
    *  - `date_key` is `yyyyMMdd` of the order date: `dim_date` spans
    *    the same orders' date range ±30 days, so every non-null order
    *    date has its spine row;
    *  - `session_context_key` is the composite surrogate key of the
    *    customer's canonical purchase context (event_type='purchase',
    *    min prop_k over their purchase events), which is by
    *    construction one of `dim_session_context`'s distinct rows
    *    whenever that min is non-null. The reference's staging rows
    *    carry the session attributes themselves; here the fact source
    *    has no event link, so customers who never purchased (or whose
    *    purchases carry no prop_k) resolve to '-1', exactly the
    *    reference's unmatched-context branch.
    * The purchase context is the one events shuffle: a per-customer
    * aggregate on the BROADCAST BUILD side (customer-cardinality
    * output), so the fact stream itself never shuffles.
    *
    * Broadcast hints are SIZE-SELECTED: nation is a bounded domain
    * (25 rows) and stays hard-hinted, but the customer-cardinality
    * build sides (the customer projection and the purchase context)
    * only get the hint while the customer table is below
    * [[BroadcastDimRowCap]] — a 10⁸-row customer side under an
    * unconditional hint is an executor OOM that bypasses
    * autoBroadcastJoinThreshold. Above the cap the joins are left
    * unhinted and AQE promotes at runtime only if they actually fit.
    * ONE scalar (the customer row count) decides both sides, the same
    * layout-decision pattern as `SmallGraphPairCap` /
    * `BroadcastNodeCap`. The part dim is catalog-cardinality (bounded
    * by the product assortment, not by traffic) and keeps its hint,
    * matching the reference's product-dim assumption.
    */
  def factSales(spark: SparkSession, dir: String): DataFrame =
    factSales(spark, dir, forceUnhinted = false)

  /** Below this many customer rows the customer-derived build sides
    * ride broadcasts (map-only fact stage); above it they are left to
    * AQE. ~20M rows of (key, hash) pairs ≈ low single-digit GiB — the
    * edge of a sane executor broadcast budget.
    */
  private[graft] val BroadcastDimRowCap = 20000000L

  /** `forceUnhinted` pins the at-scale branch for plan tests. */
  private[graft] def factSales(spark: SparkSession, dir: String,
      forceUnhinted: Boolean): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val o = t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val cust = t.customer.select(col("c_custkey"), col("c_nationkey"),
      surrogateKey(col("c_custkey")).as("customer_key"))

    // Narrow key-only dim projections: each surrogate key is a pure
    // function of the source key column, so the fact build does NOT
    // need the dims' enrichment subplans (dim_customer's newest-event
    // aggregation over the whole event log can't be pruned out from
    // behind a left join automatically — referencing it here would
    // drag a full events shuffle into every fact build).
    val dp = t.part.select(surrogateKey(col("p_partkey")).as("product_key"),
      col("p_partkey").cast("string").as("product_source_id"))
    val dl = t.nation.select(surrogateKey(col("n_nationkey")).as("location_key"),
      col("n_nationkey").cast("string").as("location_source_id"))
    // the fact-side composite: one row per purchasing customer, keyed
    // as dim_session_context keys (customer, 'purchase', prop_k); a
    // NULL min prop_k matches no dim row, so it keeps no key
    val pctx = stgEventsRaw(spark, dir)
      .filter(col("event_type") === "purchase" && col("customer_source_id").isNotNull)
      .groupBy(col("customer_source_id").as("ctx_cust"))
      .agg(min(col("prop_k")).as("ctx_k"))
      .select(col("ctx_cust"), when(col("ctx_k").isNotNull,
        surrogateKey(col("ctx_cust"), lit("purchase"), col("ctx_k")))
        .as("session_context_key"))
    val orderDate = col("o_orderdate").cast("date")

    // one scalar decides the layout for BOTH customer-derived sides
    // (the pctx cardinality is bounded by the customer count)
    // footer-metadata row count (Tables.rowCount): the layout decision
    // costs zero Spark jobs instead of a count() job per fact build
    val custSmall = !forceUnhinted &&
      Tables.rowCount(spark, dir, "customer") <= BroadcastDimRowCap
    def custHint(df: DataFrame): DataFrame = if (custSmall) broadcast(df) else df

    li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
      .join(custHint(cust), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(dp), col("l_partkey").cast("string") === col("product_source_id"), "left")
      .join(broadcast(dl), col("c_nationkey").cast("string") === col("location_source_id"), "left")
      .join(custHint(pctx), col("o_custkey").cast("string") === col("ctx_cust"), "left")
      .select(
        surrogateKey(col("l_orderkey"), col("l_linenumber")).as("sales_order_key"),
        coalesce(col("product_key"), lit("-1")).as("product_key"),
        coalesce(col("customer_key"), lit("-1")).as("customer_key"),
        coalesce(col("location_key"), lit("-1")).as("location_key"),
        coalesce(col("session_context_key"), lit("-1")).as("session_context_key"),
        coalesce(date_format(orderDate, "yyyyMMdd").cast("int"), lit(-1)).as("date_key"),
        col("l_extendedprice").as("sales_amount"),
        col("l_quantity").as("quantity"),
        col("l_orderkey").cast("string").as("order_source_id"),
        col("l_linenumber").as("line_number"),
        orderDate.cast("string").as("order_date"))
      // (order, line) pairs are NOT unique in the data — extend the
      // sort with content columns so row order is total and
      // engine-independent
      .orderBy(col("order_source_id"), col("line_number"), col("product_key"),
        col("sales_amount"), col("quantity"))
  }

  val factSalesSql: String =
    """WITH dd AS (
      |  SELECT CAST(strftime(CAST(d AS DATE), '%Y%m%d') AS INT) AS date_key, CAST(d AS DATE) AS full_date
      |  FROM (SELECT unnest(generate_series(CAST(CAST(min(o_orderdate) AS DATE) - INTERVAL 30 DAY AS TIMESTAMP),
      |                                      CAST(CAST(max(o_orderdate) AS DATE) + INTERVAL 30 DAY AS TIMESTAMP),
      |                                      INTERVAL 1 DAY)) AS d FROM orders)),
      |stg AS (
      |  SELECT CAST(user_id AS VARCHAR) AS customer_source_id, event_type,
      |         CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS prop_k
      |  FROM events),
      |pctx AS (
      |  SELECT customer_source_id AS ctx_cust, 'purchase' AS ctx_type, min(prop_k) AS ctx_k
      |  FROM stg WHERE event_type = 'purchase' AND customer_source_id IS NOT NULL
      |  GROUP BY customer_source_id),
      |dsc AS (
      |  SELECT md5(concat_ws('-', coalesce(customer_source_id, '_null_'),
      |                            coalesce(event_type, '_null_'),
      |                            coalesce(CAST(prop_k AS VARCHAR), '_null_'))) AS session_context_key,
      |    customer_source_id AS sc_cust, event_type AS sc_type, prop_k AS sc_k
      |  FROM (SELECT DISTINCT customer_source_id, event_type, prop_k FROM stg
      |        WHERE customer_source_id IS NOT NULL OR event_type IS NOT NULL) d)
      |SELECT
      |  md5(concat_ws('-', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))) AS sales_order_key,
      |  coalesce(md5(CAST(l_partkey AS VARCHAR)), '-1') AS product_key,
      |  coalesce(md5(CAST(o_custkey AS VARCHAR)), '-1') AS customer_key,
      |  coalesce(md5(CAST(c_nationkey AS VARCHAR)), '-1') AS location_key,
      |  coalesce(dsc.session_context_key, '-1') AS session_context_key,
      |  coalesce(dd.date_key, -1) AS date_key,
      |  l_extendedprice AS sales_amount,
      |  l_quantity AS quantity,
      |  CAST(l_orderkey AS VARCHAR) AS order_source_id,
      |  l_linenumber AS line_number,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN part ON CAST(l_partkey AS VARCHAR) = CAST(p_partkey AS VARCHAR)
      |LEFT JOIN dd ON CAST(o_orderdate AS DATE) = dd.full_date
      |LEFT JOIN pctx ON CAST(o_custkey AS VARCHAR) = pctx.ctx_cust
      |LEFT JOIN dsc ON pctx.ctx_cust = dsc.sc_cust AND pctx.ctx_type = dsc.sc_type
      |             AND pctx.ctx_k = dsc.sc_k
      |ORDER BY order_source_id, line_number, product_key, sales_amount, quantity""".stripMargin

  /** SCD Type-2 history (reference: the dbt project's `snapshots/`
    * machinery — dbt snapshots materialize slowly-changing-dimension
    * history with valid_from/valid_to/is_current): collapse each
    * user's event stream to its state *changes*, then assign validity
    * windows with `lead`. Two window passes over the same
    * (user, time) ordering → a single shuffle.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(
        col("user_id").cast("string").as("customer_source_id"),
        col("event_type").as("state"),
        col("ts_us").as("valid_from_us"),
        col("valid_to_us"),
        col("version"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("customer_source_id", "version")
  }

  val scd2HistorySql: String =
    """WITH ordered AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_state
      |  FROM events),
      |changes AS (
      |  SELECT * FROM ordered WHERE prev_state IS NULL OR prev_state != event_type),
      |versioned AS (
      |  SELECT *,
      |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS version
      |  FROM changes)
      |SELECT CAST(user_id AS VARCHAR) AS customer_source_id,
      |  event_type AS state, ts_us AS valid_from_us, valid_to_us,
      |  CAST(version AS INTEGER) AS version,
      |  valid_to_us IS NULL AS is_current
      |FROM versioned ORDER BY customer_source_id, version""".stripMargin

  /** Broadcast lookup-chain enrichment — the ip→geo analog (reference:
    * `5.data-collection-storage/ip_processor.py` enriches events with
    * an in-memory lookup DB; here the lookup chain is broadcast so the
    * enrichment is map-only).
    */
  def lookupEnrich(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"))
      .orderBy("c_custkey")
  }

  val lookupEnrichSql: String =
    """SELECT c_custkey, c_name, n_name AS nation_name, r_name AS region_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin

  /** Value-in-range band assignment via a tiny broadcast range table —
    * the IP2Location `ip_from <= ip <= ip_to` lookup pattern
    * (reference: ip_processor.py) as a broadcast range join.
    */
  def rangeBandJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq((0L, 50000L, "low"), (50000L, 150000L, "mid"),
      (150000L, 100000000L, "high")).toDF("lo", "hi", "band")
    Tables(spark, dir).orders
      .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .select(col("o_orderkey"), col("o_totalprice"), col("band"))
      .orderBy("o_orderkey")
  }

  val rangeBandJoinSql: String =
    """SELECT o_orderkey, o_totalprice, band
      |FROM orders JOIN (VALUES (0, 50000, 'low'), (50000, 150000, 'mid'),
      |                         (150000, 100000000, 'high')) AS b(lo, hi, band)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |ORDER BY o_orderkey""".stripMargin

  /** The SAME band assignment through the whole-operator engine path
    * ([[graft.plans.RangeBand]]: LogicalPlan + Strategy + Exec with a
    * broadcast band table and per-row binary search — O(n·log b) vs
    * the declarative form's BroadcastNestedLoop O(n·b)), gated against
    * the identical oracle. Prices move to an exact cents grid so the
    * probe key is a Long (2-decimal data → lossless); band edges are
    * the same dollars × 100.
    */
  def rangeBandJoinCustom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq((0L, 5000000L, 0L), (5000000L, 15000000L, 1L),
      (15000000L, 10000000000L, 2L)).toDF("lo", "hi", "band_id")
    val probe = Tables(spark, dir).orders.select(
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      col("o_orderkey"), col("o_totalprice"))
    graft.plans.RangeBand.join(spark, probe, bands)
      // the oracle is an INNER join on lo<=v<hi: rows outside every
      // band must DROP, not fall into .otherwise's last label
      .filter(col("matched_band").isNotNull)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("matched_band") === 0, "low")
          .when(col("matched_band") === 1, "mid")
          .when(col("matched_band") === 2, "high").as("band"))
      .orderBy("o_orderkey")
  }

  /** Locale price parsing round-trip: synthesize the EU-formatted raw
    * price string the reference's crawler scrapes ("1.234,56 €",
    * reference: product_crawler.py price_raw→price), parse it back
    * with the codegen'd parser; oracle asserts the round-trip recovers
    * the original value.
    */
  def parsePriceQuery(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(translate(format_string("%.2f", col("p_retailprice")), ".", ","), lit(" €"))
    Tables(spark, dir).part.select(
        col("p_partkey"),
        raw.as("price_raw"),
        parsePrice(raw).cast("double").as("list_price"),
        parseCurrency(raw).as("currency"))
      .orderBy("p_partkey")
  }

  val parsePriceSql: String =
    """SELECT p_partkey,
      |  translate(printf('%.2f', p_retailprice), '.', ',') || ' €' AS price_raw,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS list_price,
      |  'EUR' AS currency
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Rating parsing ("4.5 Sterne" → 4.5; reference: product_crawler.py
    * rating_raw→rating), same round-trip oracle shape.
    */
  def parseRatingQuery(spark: SparkSession, dir: String): DataFrame = {
    val rating = (col("p_size") % 5).cast("double") + lit(0.5)
    val raw = concat(rating.cast("string"), lit(" Sterne"))
    Tables(spark, dir).part.select(
        col("p_partkey"),
        raw.as("rating_raw"),
        parseRating(raw).cast("double").as("rating"))
      .orderBy("p_partkey")
  }

  /** Category-path hierarchy parsing (reference: product_crawler.py
    * scrapes `category_path` like "Startseite > Schmuck > ..."):
    * synthesize the delimited path, split into levels, expose
    * level columns + depth + leaf.
    */
  def categoryLevels(spark: SparkSession, dir: String): DataFrame = {
    val path = concat_ws(" > ", split(col("p_type"), " "))
    val levels = split(path, " > ")
    Tables(spark, dir).part.select(
        col("p_partkey"),
        path.as("category_path"),
        size(levels).as("depth"),
        // try_element_at: ANSI mode makes plain element_at throw on
        // out-of-range (single-level paths)
        try_element_at(levels, lit(1)).as("level_1"),
        try_element_at(levels, lit(2)).as("level_2"),
        try_element_at(levels, lit(-1)).as("leaf_category"))
      .orderBy("p_partkey")
  }

  val categoryLevelsSql: String =
    """WITH p AS (
      |  SELECT p_partkey,
      |    array_to_string(string_split(p_type, ' '), ' > ') AS category_path,
      |    str_split_regex(array_to_string(string_split(p_type, ' '), ' > '), ' > ') AS levels
      |  FROM part)
      |SELECT p_partkey, category_path, CAST(len(levels) AS INTEGER) AS depth,
      |  levels[1] AS level_1, levels[2] AS level_2,
      |  levels[-1] AS leaf_category
      |FROM p ORDER BY p_partkey""".stripMargin

  val parseRatingSql: String =
    """SELECT p_partkey,
      |  CAST(CAST(p_size % 5 AS DOUBLE) + 0.5 AS VARCHAR) || ' Sterne' AS rating_raw,
      |  CAST(p_size % 5 AS DOUBLE) + 0.5 AS rating
      |FROM part ORDER BY p_partkey""".stripMargin
}
