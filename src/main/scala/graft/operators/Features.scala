package graft.operators

import graft.core.Tables
import graft.functions.GraftFunctions.money
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-preparation and lifecycle operators — the encode/scale/
  * score steps between the warehouse layer and a model: one-hot
  * encoding, robust scaling, decile lift readouts, and discrete-time
  * survival. Same float-parity discipline as [[Stats]]: exact
  * decimal/long moments, shared SQL expression text for every double.
  */
object Features {

  private val OneHotK = 5

  /** Top-K one-hot encoding of `p_brand`: the K most frequent brands
    * (count desc, name asc — deterministic) become indicator columns
    * `oh_1..oh_K`, everything else folds into `oh_other` — the
    * categorical-encoding step before any linear model, with the
    * long-tail collapse that keeps the feature width fixed no matter
    * how many categories the data grows.
    *
    * Scale shape: the vocabulary build is one groupBy(brand) over the
    * dim table; the encode is a BROADCAST join of that ≤K-row
    * vocabulary against the corpus — map-side, no shuffle of the
    * encoded side, exactly how a feature store applies a frozen
    * vocabulary.
    */
  def oneHotTopk(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables(spark, dir).part
    val w = Window.orderBy(col("cnt").desc, col("p_brand"))
    val top = part.groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= OneHotK)
      .select(col("p_brand"), col("rk"))
    val ohCols = (1 to OneHotK).map(k =>
      when(col("rk") === k, 1).otherwise(0).as(s"oh_$k"))
    part.select(col("p_partkey"), col("p_brand"))
      .join(broadcast(top), Seq("p_brand"), "left")
      .select(col("p_partkey") +: col("p_brand") +: ohCols :+
        when(col("rk").isNull, 1).otherwise(0).as("oh_other"): _*)
      .orderBy("p_partkey")
  }

  val oneHotTopkSql: String = {
    val ohCols = (1 to OneHotK)
      .map(k => s"CAST(CASE WHEN rk = $k THEN 1 ELSE 0 END AS INTEGER) AS oh_$k")
      .mkString(",\n  ")
    s"""WITH v AS (
       |  SELECT p_brand, row_number() OVER (ORDER BY count(*) DESC, p_brand) AS rk
       |  FROM part GROUP BY p_brand
       |  QUALIFY rk <= $OneHotK)
       |SELECT p_partkey, p.p_brand,
       |  $ohCols,
       |  CAST(CASE WHEN rk IS NULL THEN 1 ELSE 0 END AS INTEGER) AS oh_other
       |FROM part p LEFT JOIN v ON v.p_brand = p.p_brand
       |ORDER BY p_partkey""".stripMargin
  }

  // ---------------------------------------------------------- feature_scale

  /** Shared-text scaling expressions over a row joined with its
    * group's exact moments (p = value cents long; n, s, sxx exact).
    */
  private val MeanExpr = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
  /** DOUBLE of an exact DECIMAL(38,0) expression, correctly rounded in
    * BOTH engines: DuckDB's direct DECIMAL→DOUBLE cast can land 1 ulp
    * off above 2^53 (sxx·n − s² reaches 3.3e19 on small inputs), so
    * the value is split into its multiple of 2^53 and the remainder,
    * each exactly representable while |x| < 2^106, and ONE IEEE add
    * rounds their sum — the same double Spark's direct cast gives.
    */
  private def exactDouble(x: String): String =
    s"(CAST($x - $x % 9007199254740992 AS DOUBLE) + CAST($x % 9007199254740992 AS DOUBLE))"
  private val SdExpr =
    s"sqrt(${exactDouble("(sxx * n - s * s)")} / ${exactDouble("(CAST(n AS DECIMAL(38,0)) * (n - 1))")})"
  // Degenerate-group gates, shared verbatim with the oracle: a
  // single-row or zero-variance group has sd = 0 and mx = mn, where
  // Spark's non-ANSI divide yields NULL but DuckDB's IEEE semantics
  // yield ±Infinity/NaN (the anomaly_mad `mad > 0` divergence class).
  // Convention: an unscalable group reports NULL for that feature.
  // The variance guard compares exact integers (sxx·n − s² in
  // decimal(38,0)), never the floating sd.
  private val ZScoreExpr =
    s"CASE WHEN n > 1 AND sxx * n - s * s > 0 THEN (CAST(p AS DOUBLE) - $MeanExpr) / $SdExpr ELSE CAST(NULL AS DOUBLE) END"
  private val MinmaxExpr =
    "CASE WHEN mx > mn THEN CAST(p - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) ELSE CAST(NULL AS DOUBLE) END"

  /** Per-group feature scaling of line-item price: z-score and
    * min-max in one pass, grouped by return flag — the normalization
    * every numeric feature gets before distance-based models (and the
    * per-segment variant that keeps one segment's scale from bleeding
    * into another's). Moments are exact (cents in decimal(38,0)), so
    * mean/sd are single correctly-rounded expressions; the per-row
    * scaling is three IEEE ops on identical operands.
    *
    * Scale shape: one partial-agg moments pass (4 values per group),
    * broadcast back, map-side scaling — the corpus never shuffles.
    */
  def featureScale(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem.select(
      col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      (money(col("l_extendedprice")) * 100).cast("long").as("p"))
    val stats = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast("decimal(38,0)")).as("s"),
        sum(col("p").cast("decimal(38,0)") * col("p")).as("sxx"),
        min(col("p")).as("mn"), max(col("p")).as("mx"))
    li.join(broadcast(stats), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        expr("CAST(p AS DOUBLE) / CAST(100 AS DOUBLE)").as("price"),
        expr(ZScoreExpr).as("z_score"),
        expr(MinmaxExpr).as("minmax"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val featureScaleSql: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_linenumber, l_returnflag,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
       |  FROM lineitem),
       |st AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum(CAST(p AS DECIMAL(38,0))) AS s,
       |    sum(CAST(p AS DECIMAL(38,0)) * p) AS sxx,
       |    min(p) AS mn, max(p) AS mx
       |  FROM li GROUP BY 1)
       |SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
       |  CAST(p AS DOUBLE) / CAST(100 AS DOUBLE) AS price,
       |  $ZScoreExpr AS z_score,
       |  $MinmaxExpr AS minmax
       |FROM li JOIN st ON st.l_returnflag = li.l_returnflag
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------ decile_lift

  private val LiftWindowDays = 30

  /** Decile lift table: customers ranked into spend deciles, each
    * decile's recent-activity conversion rate vs the population rate
    * — the model-calibration / campaign-targeting readout ("does
    * spend rank predict activity, and how concentrated is it").
    * Conversion = any order inside the trailing [[LiftWindowDays]] of
    * the data's horizon. lift = (conv_d·n_all)/(n_d·conv_all): exact
    * integers, one division.
    *
    * Scale shape: one groupBy(customer) pass over orders builds the
    * per-customer frame (customer-dim-sized); the decile rank is the
    * rfm_segment two-level prefix sum (banded local windows +
    * broadcast bucket offsets — no single-task window over the
    * customer frame at any scale) with SQL tile arithmetic on top.
    */
  def decileLift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
        (money(col("o_totalprice")) * 100).cast("long").as("p"))
    val mx = o.agg(max(col("d")).as("__mx"))
    // cached: the decile rank and the population totals read this
    // customer-grain frame (one orders scan; harness-released)
    val cust = graft.core.OwnedCaches.own(o.crossJoin(broadcast(mx))
      .groupBy(col("o_custkey"))
      .agg(sum(col("p")).as("spend_c"),
        max(when(col("d") >= date_sub(col("__mx"), LiftWindowDays - 1), 1L)
          .otherwise(0L)).as("conv"))
      .cache())
    // distributed ntile(10): the rfm_segment two-level prefix-sum rank
    // (descending-spend band buckets at the MonetaryBucketWidth
    // convention) + SQL tile arithmetic — equal to the oracle's global
    // ntile by construction, no single-task customer sort
    val bandC = (Commerce.MonetaryBucketWidth * 100).toLong
    val n = cust.agg(count(lit(1)).as("__n"))
    val deciled = Commerce.globalRowNumber(cust,
        -floor(col("spend_c") / bandC),
        Seq(col("spend_c").desc, col("o_custkey")), "__rk")
      .crossJoin(broadcast(n))
      .withColumn("decile", Commerce.ntileExpr("__rk", "__n", 10).cast("int"))
    val tot = deciled.agg(count(lit(1)).as("n_all"), sum(col("conv")).as("conv_all"))
    deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("conv")).as("n_conv"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_cust"), col("n_conv"),
        expr("CAST(n_conv AS DOUBLE) / CAST(n_cust AS DOUBLE)").as("conv_rate"),
        expr("CAST(n_conv * n_all AS DOUBLE) / CAST(n_cust * conv_all AS DOUBLE)")
          .as("lift"))
      .orderBy("decile")
  }

  val decileLiftSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
       |  FROM orders),
       |mx AS (SELECT max(d) AS mxd FROM o),
       |cust AS (
       |  SELECT o_custkey, sum(p) AS spend_c,
       |    max(CASE WHEN d >= (SELECT mxd FROM mx) - ${LiftWindowDays - 1}
       |        THEN 1 ELSE 0 END) AS conv
       |  FROM o GROUP BY o_custkey),
       |dec AS (
       |  SELECT *, ntile(10) OVER (ORDER BY spend_c DESC, o_custkey) AS decile
       |  FROM cust),
       |t AS (SELECT count(*) AS n_all, CAST(sum(conv) AS BIGINT) AS conv_all FROM dec)
       |SELECT CAST(decile AS INTEGER) AS decile,
       |  count(*) AS n_cust, CAST(sum(conv) AS BIGINT) AS n_conv,
       |  CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conv_rate,
       |  CAST(sum(conv) * (SELECT n_all FROM t) AS DOUBLE)
       |    / CAST(count(*) * (SELECT conv_all FROM t) AS DOUBLE) AS lift
       |FROM dec GROUP BY decile ORDER BY decile""".stripMargin

  // -------------------------------------------------------- survival_hazard

  private val TenureBucketDays = 30

  /** Discrete-time survival: per 30-day tenure bucket, the customers
    * still at risk, the customers whose LAST observed order fell in
    * that bucket ("churned there", with the last-order-as-event
    * convention of retention analytics — censoring is out of scope
    * for an observed-horizon readout), and the hazard d/n — the
    * life-table the retention curve integrates. at_risk needs no
    * second pass: it is the descending-tenure running sum of the
    * churn counts.
    *
    * Scale shape: one groupBy(customer) pass (first/last order dates)
    * reduces to the customer dim, a second groupBy reduces to the
    * ≤ (horizon/30)-row life table; the window runs on that bounded
    * table. hazard = exact-integer division.
    */
  def survivalHazard(spark: SparkSession, dir: String): DataFrame = {
    val span = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("first_d"),
        max(col("o_orderdate").cast("date")).as("last_d"))
      .select((datediff(col("last_d"), col("first_d"))
        .cast("long") / TenureBucketDays).cast("int").as("tenure"))
    val d = span.groupBy(col("tenure")).agg(count(lit(1)).as("churned"))
    d.withColumn("at_risk",
        sum(col("churned")).over(Window.orderBy(col("tenure").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("tenure"), col("at_risk"), col("churned"),
        expr("CAST(churned AS DOUBLE) / CAST(at_risk AS DOUBLE)").as("hazard"))
      .orderBy("tenure")
  }

  val survivalHazardSql: String =
    s"""WITH span AS (
       |  SELECT CAST((max(CAST(o_orderdate AS DATE)) - min(CAST(o_orderdate AS DATE)))
       |      // $TenureBucketDays AS INTEGER) AS tenure
       |  FROM orders GROUP BY o_custkey),
       |d AS (SELECT tenure, count(*) AS churned FROM span GROUP BY tenure),
       |r AS (
       |  SELECT *, sum(churned) OVER (ORDER BY tenure DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
       |  FROM d)
       |SELECT tenure, CAST(at_risk AS BIGINT) AS at_risk,
       |  CAST(churned AS BIGINT) AS churned,
       |  CAST(churned AS DOUBLE) / CAST(at_risk AS DOUBLE) AS hazard
       |FROM r ORDER BY tenure""".stripMargin

  // ------------------------------------------------------ feature_hash_vectors

  private val HashBuckets = 64

  /** The hashing trick: document tokens → [[HashBuckets]] sparse
    * feature buckets via the library's portable mod-prime polynomial
    * hash (the `text_rollinghash_fp` family — reproducible in ANSI
    * SQL, unlike xxhash64/murmur), output (doc_id, bucket, count)
    * sparse vectors — the fixed-width featurization that needs no
    * vocabulary table, collisions and all (Weinberger et al.'s
    * feature hashing).
    *
    * Scale shape: the hash is evaluated per DISTINCT term (a
    * vocabulary-sized frame — the higher-order char fold never runs
    * on the raw token stream) and broadcast back onto tokens; the
    * sparse aggregation is one doc-keyed reduce bounded by
    * min(tokens, buckets) rows per doc.
    */
  def featureHashVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.RollingHashes.{B, P}
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.normTokens(col("text"))).as("term"))
    val vocab = toks.select(col("term")).distinct()
      .withColumn("bucket", expr(
        // filter the trailing '' Spark's limit=-1 split keeps (DuckDB's
        // range comprehension yields exactly len chars)
        s"CAST(aggregate(transform(filter(split(term, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT)), " +
          s"CAST(0 AS BIGINT), (a, x) -> (a * $B + x) % $P) % $HashBuckets AS INT)"))
    toks.join(broadcast(vocab), "term")
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")
  }

  val featureHashVectorsSql: String = {
    import graft.functions.RollingHashes.{B, P}
    s"""WITH toks AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> len(x) > 0)) AS term
      |  FROM documents),
      |vocab AS MATERIALIZED (
      |  SELECT term,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        [CAST(ord(substring(term, i, 1)) AS BIGINT) for i in range(1, len(term) + 1)]),
      |      (a, x) -> (a * $B + x) % $P) % $HashBuckets AS INTEGER) AS bucket
      |  FROM (SELECT DISTINCT term FROM toks))
      |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      |FROM toks JOIN vocab USING (term)
      |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin
  }

  // ---------------------------------------------------------- target_encode_brand

  /** Smoothing pseudo-count: the brand's rate earns trust only past
    * ~this many observations (the standard m-estimate knob).
    */
  private val TargetEncodeM = 100L

  /** m-estimate smoothed rate: with prior = pos_tot/n_tot,
    * (pos_b + M·prior)/(n_b + M) clears the prior's denominator to
    * (pos_b·n_tot + M·pos_tot)/(n_tot·(n_b + M)). Each exact count
    * is cast to DOUBLE INDIVIDUALLY before any product (the
    * `cuped_adjustment` convention) — a decimal×decimal cross-product
    * would silently fall back to double in DuckDB once it overflows
    * (38,0) while Spark stays decimal (ADVICE r11); identical IEEE
    * text keeps bit parity while each count < 2^53 (any realistic
    * corpus), ≤1-ulp oracle drift past it.
    */
  private val SmoothedRateExpr: String =
    s"(CAST(pos_b AS DOUBLE) * CAST(n_tot AS DOUBLE)" +
      s" + CAST($TargetEncodeM AS DOUBLE) * CAST(pos_tot AS DOUBLE))" +
      s" / (CAST(n_tot AS DOUBLE) * (CAST(n_b AS DOUBLE) + CAST($TargetEncodeM AS DOUBLE)))"

  /** Target encoding of brand → return rate (share of lines with
    * `l_returnflag = 'R'`), m-estimate smoothed toward the global
    * prior — the high-cardinality categorical featurizer one-hot
    * can't serve (a 10⁶-brand catalog one-hots into a 10⁶-wide
    * matrix; this is one column), with the smoothing that keeps
    * rare brands from memorizing noise. Both rates are single
    * divisions of exact integer counts ([[SmoothedRateExpr]]); the
    * leakage discipline is `train_test_split`'s: fit on train only.
    *
    * Scale shape: one conditional-count partial-agg pass to the
    * brand grain (part broadcast under the join), the 2-scalar global
    * row broadcast back — the `one_hot_topk` frozen-vocabulary shape
    * with statistics instead of indicator columns.
    */
  def targetEncodeBrand(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lines = t.lineitem
      .select(col("l_partkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val perBrand = lines.groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_b"),
        sum(col("ret")).cast("decimal(38,0)").as("pos_b"))
    val tot = perBrand.agg(sum(col("n_b")).as("n_tot"), sum(col("pos_b")).as("pos_tot"))
    perBrand.crossJoin(broadcast(tot))
      .select(col("brand"),
        col("n_b").cast("long").as("n_lines"),
        col("pos_b").cast("long").as("n_returned"),
        expr("CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)").as("raw_rate"),
        expr(SmoothedRateExpr).as("smoothed_rate"))
      .orderBy("brand")
  }

  val targetEncodeBrandSql: String =
    s"""WITH lines AS (
       |  SELECT p.p_brand AS brand,
       |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       |pb AS (
       |  SELECT brand, CAST(count(*) AS DECIMAL(38,0)) AS n_b,
       |    CAST(sum(ret) AS DECIMAL(38,0)) AS pos_b
       |  FROM lines GROUP BY brand),
       |t AS (SELECT sum(n_b) AS n_tot, sum(pos_b) AS pos_tot FROM pb)
       |SELECT brand,
       |  CAST(n_b AS BIGINT) AS n_lines,
       |  CAST(pos_b AS BIGINT) AS n_returned,
       |  CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS raw_rate,
       |  $SmoothedRateExpr AS smoothed_rate
       |FROM pb, t
       |ORDER BY brand""".stripMargin

  // ---------------------------------------------------- negative_sampling_pairs

  private val NegPerCustomer = 3
  private val NegSampleMod = 50

  /** Contrastive training pairs for a recommender: per sampled
    * customer, every PURCHASED brand as a positive and
    * [[NegPerCustomer]] deterministic non-purchased brands as
    * negatives — the negative-sampling step every two-tower /
    * matrix-factorization training set needs, with the md5 hash ring
    * replacing RNG so the sample is reproducible run-to-run and
    * engine-to-engine (the `train_test_split` discipline). Negatives
    * rank by md5(custkey:brand) AFTER an anti-join on the positives,
    * so label leakage is structurally impossible.
    *
    * Scale shape: positives partial-aggregate to the (customer,
    * brand) grain; the candidate frame is sampled-customers × brand
    * DICTIONARY (bounded by the catalog's brand count, never by fact
    * volume); the per-customer top-k is a rank window on that
    * bounded frame.
    */
  def negativeSamplingPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sampled = t.customer.filter(col("c_custkey") % NegSampleMod === 0)
      .select(col("c_custkey"))
    val pos = t.orders.join(sampled, col("o_custkey") === col("c_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("c_custkey"), col("p_brand")).distinct()
    val brands = t.part.select(col("p_brand")).distinct()
    val cand = sampled.crossJoin(broadcast(brands))
      .join(pos, Seq("c_custkey", "p_brand"), "left_anti")
      .withColumn("h",
        expr("CAST(conv(substr(md5(concat(CAST(c_custkey AS STRING), ':', p_brand)), 1, 8), 16, 10) AS BIGINT)"))
    val w = Window.partitionBy("c_custkey").orderBy(col("h"), col("p_brand"))
    val neg = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NegPerCustomer)
      .select(col("c_custkey"), col("p_brand"), lit(0).as("label"))
    pos.select(col("c_custkey"), col("p_brand"), lit(1).as("label"))
      .unionByName(neg)
      .orderBy("c_custkey", "label", "p_brand")
  }

  val negativeSamplingPairsSql: String =
    s"""WITH sampled AS (
       |  SELECT c_custkey FROM customer WHERE c_custkey % $NegSampleMod = 0),
       |pos AS (
       |  SELECT DISTINCT s.c_custkey, p.p_brand
       |  FROM sampled s
       |  JOIN orders o ON o.o_custkey = s.c_custkey
       |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  JOIN part p ON p.p_partkey = l.l_partkey),
       |brands AS (SELECT DISTINCT p_brand FROM part),
       |cand AS (
       |  SELECT s.c_custkey, b.p_brand,
       |    ('0x' || substr(md5(CAST(s.c_custkey AS VARCHAR) || ':' || b.p_brand), 1, 8))::BIGINT AS h
       |  FROM sampled s CROSS JOIN brands b
       |  ANTI JOIN pos ON pos.c_custkey = s.c_custkey AND pos.p_brand = b.p_brand),
       |neg AS (
       |  SELECT c_custkey, p_brand, CAST(0 AS INTEGER) AS label
       |  FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY h, p_brand) AS rn
       |        FROM cand)
       |  WHERE rn <= $NegPerCustomer)
       |SELECT c_custkey, p_brand, CAST(1 AS INTEGER) AS label FROM pos
       |UNION ALL SELECT * FROM neg
       |ORDER BY c_custkey, label, p_brand""".stripMargin

  // ------------------------------------------------------------ woe_iv_profile

  /** Weight-of-evidence / information-value profile of brand against
    * the return outcome — the credit-scoring encode
    * (`target_encode_brand` gives the raw rate; WoE is its log-odds
    * form, additive in a scorecard) plus the IV column-selection
    * statistic (rule of thumb: <0.02 useless, >0.3 strong).
    * Laplace-smoothed with the half-count convention via exact
    * integers (2g+1 / 2G+|brands|), so no cell is ever zero; the ln
    * is engine-exact ([[graft.functions.ExactLn]]) on a double ratio
    * of two cast-each-operand shares, and iv_total reduces via the
    * round-to-decimal sum — the whole profile hash-matches.
    * Sub-2⁵³ ledger: 2·count+1 per cell, fine to ~4.5e15 lines.
    *
    * Scale shape: ONE lineitem pass with the part dim broadcast
    * partial-aggregates to the ≤|brands| cell frame; the totals and
    * iv_total windows run on that bounded spine only.
    */
  def woeIvProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val t = Tables(spark, dir)
    val w = Window.partitionBy()
    t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(when(col("l_returnflag") === "R", 0L).otherwise(1L)).as("good"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("bad"))
      .withColumn("gt", sum(col("good")).over(w))
      .withColumn("bt", sum(col("bad")).over(w))
      .withColumn("nb", count(lit(1)).over(w))
      .withColumn("pg", expr("CAST(2 * good + 1 AS DOUBLE) / CAST(2 * gt + nb AS DOUBLE)"))
      .withColumn("pb", expr("CAST(2 * bad + 1 AS DOUBLE) / CAST(2 * bt + nb AS DOUBLE)"))
      .withColumn("r", expr("pg / pb"))
      .withColumn("__y", expr(ExactLn.yExpr("r")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("woe", expr(ExactLn.lnExpr("__z")))
      .withColumn("ivc", expr("(pg - pb) * woe"))
      .withColumn("ivt", sum(expr("CAST(round(ivc, 9) AS DECIMAL(18,9))")).over(w))
      .selectExpr("p_brand AS brand", "CAST(good AS BIGINT) AS n_good",
        "CAST(bad AS BIGINT) AS n_bad", "pg AS dist_good", "pb AS dist_bad",
        "woe", "ivc AS iv_contrib", "CAST(ivt AS DOUBLE) AS iv_total")
      .orderBy("brand")
  }

  val woeIvProfileSql: String = {
    import graft.functions.ExactLn
    s"""WITH cells AS (
       |  SELECT p_brand,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS good,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS bad
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1),
       |tot AS (
       |  SELECT *, CAST(sum(good) OVER () AS BIGINT) AS gt,
       |    CAST(sum(bad) OVER () AS BIGINT) AS bt,
       |    CAST(count(*) OVER () AS BIGINT) AS nb
       |  FROM cells),
       |sh AS (
       |  SELECT *,
       |    CAST(2 * good + 1 AS DOUBLE) / CAST(2 * gt + nb AS DOUBLE) AS pg,
       |    CAST(2 * bad + 1 AS DOUBLE) / CAST(2 * bt + nb AS DOUBLE) AS pb
       |  FROM tot),
       |rt AS (SELECT *, pg / pb AS r FROM sh),
       |y AS (SELECT *, ${ExactLn.yExpr("r")} AS __y FROM rt),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |l AS (SELECT *, ${ExactLn.lnExpr("__z")} AS woe FROM z),
       |iv AS (SELECT *, (pg - pb) * woe AS ivc FROM l),
       |s AS (SELECT *,
       |    sum(CAST(round(ivc, 9) AS DECIMAL(18,9))) OVER () AS ivt
       |  FROM iv)
       |SELECT p_brand AS brand, good AS n_good, bad AS n_bad,
       |  pg AS dist_good, pb AS dist_bad, woe, ivc AS iv_contrib,
       |  CAST(ivt AS DOUBLE) AS iv_total
       |FROM s ORDER BY brand""".stripMargin
  }
}
