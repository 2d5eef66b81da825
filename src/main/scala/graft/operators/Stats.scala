package graft.operators

import graft.core.Tables
import graft.functions.GraftFunctions.money
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-testing and time-series layer — the distribution
  * comparisons, significance tests, and trend diagnostics an
  * experimentation/monitoring warehouse runs over the same event and
  * order facts the BI layer aggregates (the reference's stage-7
  * dashboards stop at aggregation; these are the analyses a data
  * science team layers on top).
  *
  * Float-parity discipline throughout (the `corrExpr` convention,
  * Reports.scala): every moment/count is accumulated EXACTLY in
  * scale-0 decimal(38,0) (both engines cap decimal multiply at width
  * 38 and keep scale-0 math exact int128), and the final statistic is
  * ONE shared SQL expression string evaluated on those exact operands
  * — identical text in the Spark plan and the DuckDB oracle, so both
  * engines run the same correctly-rounded IEEE ops in the same order
  * and even z-scores/r² reproduce bit for bit.
  */
object Stats {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val TypePairs: Seq[(String, String)] =
    for {
      i <- EventTypes.indices
      j <- (i + 1) until EventTypes.size
    } yield (EventTypes(i), EventTypes(j))

  /** Unpivot per-type columns `<col>_<type>` to one row per type pair
    * with columns `type_a, type_b, <col>_x, <col>_y, …` — the pair
    * statistics then write their per-pair text once, with `x`/`y` in
    * place of the type names, instead of 10 copies in one wide row
    * (10 copies of lepage_test's sums or tost_equivalence's statistics
    * grew the generated code past the JVM's 64 KB method limit, so
    * Spark fell back to interpreted execution on every run).
    */
  private def stackPairs(df: DataFrame, cols: String*): DataFrame = {
    val args = TypePairs.map { case (a, b) =>
      (s"'$a'" +: s"'$b'" +: cols.flatMap(c => Seq(s"${c}_$a", s"${c}_$b"))).mkString(", ") }
    df.selectExpr(s"stack(${TypePairs.size}, ${args.mkString(", ")})" +
      cols.flatMap(c => Seq(s"${c}_x", s"${c}_y")).mkString(" AS (type_a, type_b, ", ", ", ")"))
  }

  // ---------------------------------------------------------------- ks_test

  /** The per-pair KS statistic over the cumulative count columns —
    * ONE string for both engines (f/n divisions are exact-long over
    * exact-long; max of identical doubles).
    */
  private def ksMaxExpr(a: String, b: String): String =
    s"max(abs(CAST(f_$a AS DOUBLE)/CAST(n_$a AS DOUBLE)" +
      s" - CAST(f_$b AS DOUBLE)/CAST(n_$b AS DOUBLE)))"

  /** The shared ECDF value grid, stacked one row per (value, type
    * pair) — ONE definition consumed by every value-grid pair
    * statistic ([[ksTest]], [[kuiperTest]], [[cliffDelta]],
    * [[brunnerMunzel]], [[lepageTest]], [[cramerVonMises]]; SQL twin
    * [[ecdfGridSqlCtes]]), so no two of them can run on subtly
    * different grids and the cross-operator bounds (V ≥ D,
    * T ≤ n_a n_b D²/N) stay mathematical facts. Per-value conditional
    * counts pivot to a column per event type (`c_<type>`), one
    * cumulative window turns them into ECDF numerators (`f_<type>`)
    * and, over the whole grid, the per-type totals (`n_<type>`), and
    * [[stackPairs]] unpivots every grid row into the 10 pairs with
    * columns `type_a, type_b, c_x, c_y, f_x, f_y, n_x, n_y`.
    *
    * Each statistic then writes its per-pair text ONCE with `x`/`y`
    * in place of the type names (the oracle splices the same
    * generators with the real names) and aggregates it per pair in
    * [[pairStats]]: at most 6 sums per pair group instead of one
    * 10-pair-wide global aggregate of up to 60.
    *
    * Scale shape: the groupBy(value) aggregate reduces the raw log to
    * the VALUE GRID before any window runs — `value` carries 2
    * decimals in a bounded band, so the grid is ≤ ~50k rows at any
    * corpus size (the dim-build pattern: frame bounded by the domain,
    * not the data). The global-order cumsum is a single task over
    * that bounded grid, never over raw rows; the raw scan is one
    * map-side conditional-count pass. The stacked frame is 10× the
    * grid, reduced by a 10-key aggregate in the window's task.
    */
  private def ecdfGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(col("event_type"), col("value"))
    val cCols = EventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t"))
    // plus one all-NULL row, which every window sum and every per-pair
    // sum or max skips: it gives each pair a group even when the event
    // log is empty, where the oracle's one-row aggregate still yields
    // all 10 pairs (with NULL statistics)
    val grid = ev.groupBy(col("value")).agg(cCols.head, cCols.tail: _*)
      .unionByName(spark.range(1).select(lit(null).cast("double").as("value")),
        allowMissingColumns = true)
    val w = Window.orderBy("value")
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = grid.select(EventTypes.map(t => col(s"c_$t")) ++
      EventTypes.map(t => sum(col(s"c_$t")).over(upTo).as(s"f_$t")) ++
      EventTypes.map(t => sum(col(s"c_$t")).over(all).as(s"n_$t")): _*)
    stackPairs(cum, "c", "f", "n")
  }

  /** One output row per type pair: the `sums` (aggregate text, column
    * name) over the pair's [[ecdfGrid]] rows, then the `outs` select
    * items over them and the pair's totals `n_x`/`n_y`, ordered by
    * pair. The grid arrives in one partition (its window needs that),
    * so the pair aggregate and the final sort run in that same task
    * with no further shuffle.
    */
  private def pairStats(spark: SparkSession, dir: String,
      sums: Seq[(String, String)], outs: String*): DataFrame = {
    val aggs = sums.map { case (e, name) => expr(e).as(name) }
    ecdfGrid(spark, dir).groupBy("type_a", "type_b", "n_x", "n_y")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("type_a" +: "type_b" +: outs: _*)
      .orderBy("type_a", "type_b")
  }

  /** [[ecdfGrid]]'s SQL twin — the `g`/`f`/`t` CTE prelude every
    * value-grid oracle splices in verbatim (`withCounts` keeps the
    * per-value counts `c_<type>` in `f` next to the ECDF numerators).
    */
  private def ecdfGridSqlCtes(withCounts: Boolean): String = {
    val cSums = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c_$t")
      .mkString(",\n    ")
    val fCums = EventTypes.map(t =>
      s"sum(c_$t) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_$t")
      .mkString(",\n    ")
    val counts =
      if (withCounts) EventTypes.map(t => s"c_$t").mkString("", ", ", ",\n    ") else ""
    val nTots = EventTypes.map(t => s"CAST(sum(c_$t) AS BIGINT) AS n_$t").mkString(", ")
    s"""g AS (
       |  SELECT value,
       |    $cSums
       |  FROM events GROUP BY value),
       |f AS (
       |  SELECT value,
       |    $counts$fCums
       |  FROM g),
       |t AS (SELECT $nTots FROM g)""".stripMargin
  }

  /** The oracle twin of [[pairStats]]'s sums: every pair's `sums`
    * with the real type names, as the select list of one wide row.
    */
  private def pairSumsSql(sums: (String, String) => Seq[(String, String)]): String =
    TypePairs.flatMap { case (a, b) => sums(a, b).map { case (e, n) => s"$e AS $n" } }
      .mkString(",\n    ")

  /** Two-sample Kolmogorov–Smirnov D for every pair of event types
    * over the `value` distribution — the nonparametric "did the
    * distribution shift" test (complement of `dist_drift`'s binned
    * PSI: KS is binless and sup-norm, PSI is binned and averaged).
    * All 10 pairs come out of ONE pass over the shared [[ecdfGrid]]:
    * one sup-norm per pair group.
    *
    * Scale shape: the [[ecdfGrid]] shape — raw scan → bounded value
    * grid → 10× stacked grid → one 10-key aggregate.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir, Seq(ksMaxExpr("x", "y") -> "d"), "d AS d_stat")

  val ksTestSql: String = {
    val dMaxes = TypePairs
      .map { case (a, b) => s"${ksMaxExpr(a, b)} AS d_${a}_$b" }.mkString(",\n    ")
    val unions = TypePairs
      .map { case (a, b) =>
        s"SELECT '$a' AS type_a, '$b' AS type_b, d_${a}_$b AS d_stat FROM m" }
      .mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = false)},
       |m AS (
       |  SELECT
       |    $dMaxes
       |  FROM f, t)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // ------------------------------------------------------------ mann_whitney

  /** z from the one-row exact-integer summary (all names are columns
    * of that row; every operand decimal/long-exact before the DOUBLE
    * casts). Doubled-U formulation: with ties, U moves in half-integer
    * steps, so the engine carries 2U (always an integer) and halves
    * at the very end. 2σ = sqrt(n_a·n_b·(N(N²−1) − T)/(3N(N−1))),
    * z = (2U_a − n_a·n_b)/(2σ) — the normal approximation with the
    * standard tie correction T = Σ(t³−t).
    */
  private val MwZExpr: String =
    "CAST(u2_a - n_a * n_b AS DOUBLE) / " +
      "sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * " +
      "CAST(CAST(nn AS DECIMAL(38,0)) * (CAST(nn AS DECIMAL(38,0)) * nn - 1) - tsum AS DOUBLE)" +
      " / CAST(CAST(3 AS DECIMAL(38,0)) * nn * (nn - 1) AS DOUBLE))"

  /** Mann–Whitney U (Wilcoxon rank-sum) between the `click` and
    * `purchase` value samples — the rank test that needs no
    * distributional assumption. Ranks never materialize per row:
    * grouping by value gives tie-group counts, a cumulative window
    * gives each group's rank offset, and the average-rank identity
    * 2·R_a = Σ ca·(2·cumBefore + ca + cb + 1) keeps the whole
    * computation in exact integers (doubled to absorb the ½s that
    * ties introduce). U from R by the standard identity; z with tie
    * correction via [[MwZExpr]].
    *
    * Scale shape: same bounded-value-grid reduction as [[ksTest]] —
    * the rank window runs over the ≤ ~50k-row grid, the raw scan is
    * one conditional-count pass. The doubled rank sum is held in
    * decimal(38,0): exact to ~10³⁷, i.e. any realistic corpus.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
    val g = ev.groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
    val wPrev = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cum_before",
      coalesce(sum(col("ca") + col("cb")).over(wPrev), lit(0L)))
    val s = ranked.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast("decimal(38,0)") *
        (lit(2) * col("cum_before") + col("ca") + col("cb") + 1)).as("r2_a"),
      sum((col("ca") + col("cb")).cast("decimal(38,0)") *
        (col("ca") + col("cb")) * (col("ca") + col("cb")) -
        (col("ca") + col("cb"))).as("tsum"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("u2_a", expr("r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)"))
    s.select(col("n_a"), col("n_b"),
      expr("CAST(u2_a AS DOUBLE) / CAST(2 AS DOUBLE)").as("u_a"),
      expr("CAST(CAST(2 AS DECIMAL(38,0)) * n_a * n_b - u2_a AS DOUBLE) / CAST(2 AS DOUBLE)")
        .as("u_b"),
      expr(MwZExpr).as("z_score"))
  }

  val mannWhitneySql: String =
    s"""WITH g AS (
       |  SELECT value,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY value),
       |r AS (
       |  SELECT *,
       |    coalesce(sum(ca + cb) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM g),
       |s0 AS (
       |  SELECT
       |    CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
       |    sum(CAST(ca AS DECIMAL(38,0)) * (2 * cum_before + ca + cb + 1)) AS r2_a,
       |    sum(CAST(ca + cb AS DECIMAL(38,0)) * (ca + cb) * (ca + cb) - (ca + cb)) AS tsum
       |  FROM r),
       |s AS (
       |  SELECT *, n_a + n_b AS nn,
       |    r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS u2_a
       |  FROM s0)
       |SELECT n_a, n_b,
       |  CAST(u2_a AS DOUBLE) / CAST(2 AS DOUBLE) AS u_a,
       |  CAST(CAST(2 AS DECIMAL(38,0)) * n_a * n_b - u2_a AS DOUBLE) / CAST(2 AS DOUBLE) AS u_b,
       |  $MwZExpr AS z_score
       |FROM s""".stripMargin

  // ------------------------------------------------------- chi_square_profile

  /** Per-cell chi-square contribution: (o·N − r·c)²/(N·r·c), numerator
    * exact decimal(38,0), one double division. Shared text.
    */
  private val ChiContribExpr: String =
    "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) * " +
      "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c) AS DOUBLE)" +
      " / CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE)"

  /** Chi-square test of independence between event type and a
    * high/low value bucket — the 5×2 contingency table with each
    * cell's observed count, expectation, and χ² contribution, plus
    * the total statistic repeated per row (the decomposition IS the
    * diagnostic: which cell drives the dependence). The total is a
    * sum of 10 doubles, which neither engine orders — so contributions
    * are rounded to 6 decimals and summed in DECIMAL(18,6), an exact
    * order-independent sum both engines agree on (the rounded-parity
    * convention).
    *
    * Scale shape: one map-side conditional-count pass to 10 cells;
    * every window below runs on the 10-row frame. Cells assumed
    * populated (each type × bucket nonempty — true of any real event
    * log; a missing cell would simply not contribute, as in the
    * textbook formula over observed cells).
    */
  def chiSquareProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(col("event_type"),
      when(col("value") >= 100.0, "high").otherwise("low").as("bucket"))
    val cells = ev.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("o"))
    val t = cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy("event_type")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("bucket")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("contrib", expr(ChiContribExpr))
    t.withColumn("chi2", expr(
        "CAST(sum(CAST(round(contrib, 6) AS DECIMAL(18,6))) OVER () AS DOUBLE)"))
      .select(col("event_type"), col("bucket"), col("o").as("observed"),
        expr("CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / CAST(n AS DOUBLE)")
          .as("expected"),
        col("contrib"), col("chi2"), lit(4).as("dof"))
      .orderBy("event_type", "bucket")
  }

  val chiSquareProfileSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CASE WHEN value >= 100.0 THEN 'high' ELSE 'low' END AS bucket
       |  FROM events),
       |cells AS (
       |  SELECT event_type, bucket, count(*) AS o FROM e GROUP BY 1, 2),
       |t AS (
       |  SELECT *,
       |    sum(o) OVER (PARTITION BY event_type) AS r,
       |    sum(o) OVER (PARTITION BY bucket) AS c,
       |    sum(o) OVER () AS n
       |  FROM cells),
       |x AS (SELECT *, $ChiContribExpr AS contrib FROM t)
       |SELECT event_type, bucket, CAST(o AS BIGINT) AS observed,
       |  CAST(CAST(r AS DECIMAL(38,0)) * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
       |  contrib,
       |  CAST(sum(CAST(round(contrib, 6) AS DECIMAL(18,6))) OVER () AS DOUBLE) AS chi2,
       |  CAST(4 AS INTEGER) AS dof
       |FROM x ORDER BY event_type, bucket""".stripMargin

  // -------------------------------------------------------- regression_trend

  /** OLS building blocks over the one-row exact-moment summary
    * (n, sx, sy, sxx, sxy, syy all decimal(38,0)-exact) — shared
    * text; intercept re-derives the slope inline so both engines
    * evaluate identical trees.
    */
  private val RegNum = "CAST(n * sxy - sx * sy AS DOUBLE)"
  private val RegDen = "CAST(n * sxx - sx * sx AS DOUBLE)"
  private val RegSlopeC = s"($RegNum / $RegDen)"
  private val RegInterceptC =
    s"((CAST(sy AS DOUBLE) - $RegSlopeC * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
  private val RegR2 =
    s"($RegNum * $RegNum / ($RegDen * CAST(n * syy - sy * sy AS DOUBLE)))"

  /** OLS trend of daily order revenue on calendar time: slope
    * (currency/day), intercept (currency at epoch day 0), and r² —
    * the "is revenue growing, and how linearly" monitor. Moments are
    * accumulated exactly (x = epoch day, y = revenue cents, both
    * scale-0 decimal(38,0)), so slope/intercept/r² reproduce bit for
    * bit; the formulation matches regr_slope/regr_r2 without
    * depending on either engine's internal summation order.
    *
    * Scale shape: one groupBy(date) partial-agg pass over orders
    * reduces to the calendar-bounded daily frame, then a single
    * 6-moment aggregate to one row. Nothing row-sized survives the
    * first shuffle.
    */
  def regressionTrend(spark: SparkSession, dir: String): DataFrame = {
    def s38(c: Column) = sum(c.cast("decimal(38,0)"))
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
      .select(datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("long").as("x"), col("y"))
    daily.agg(count(lit(1)).as("n"),
        s38(col("x")).as("sx"), s38(col("y")).as("sy"),
        s38(col("x") * col("x")).as("sxx"),
        s38(col("x") * col("y")).as("sxy"),
        s38(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .select(col("n").as("n_days"),
        expr(s"$RegSlopeC / CAST(100 AS DOUBLE)").as("slope"),
        expr(s"$RegInterceptC / CAST(100 AS DOUBLE)").as("intercept"),
        expr(RegR2).as("r2"))
  }

  val regressionTrendSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
       |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
       |  FROM daily)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  $RegSlopeC / CAST(100 AS DOUBLE) AS slope,
       |  $RegInterceptC / CAST(100 AS DOUBLE) AS intercept,
       |  $RegR2 AS r2
       |FROM m""".stripMargin

  // ----------------------------------------------------------- autocorr_lag

  private val AcfMaxLag = 7

  /** Sample autocorrelation of the daily-revenue series at lags 1..7
    * — the weekly-seasonality detector (a lag-7 spike = day-of-week
    * cycle; pair with [[seasonalIndex]] for the decomposition). The
    * non-associative mean-centering is removed by the n-scaling
    * identity (the CUSUM trick): with dev_t = n·y_t − S, the ACF is
    * r_k = Σ dev_t·dev_{t+k} / Σ dev_t² exactly — every intermediate
    * an exact scale-0 decimal, one double division per lag.
    *
    * Scale shape: the series is the calendar-bounded daily frame
    * (one partial-agg pass over orders); the 7 lag columns come from
    * one window over that frame, and the result is 7 rows. dev ~
    * n·y ≲ 10⁵·10¹² = 10¹⁷, dev² ≲ 10³⁴ < 10³⁸ — exact for any
    * horizon that fits a calendar.
    */
  def autocorrLag(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).cast("decimal(38,0)").as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        (col("n").cast("decimal(38,0)") * col("y") - col("s")).as("dev"))
    val wLag = Window.orderBy("d")
    val lagged = dev.select(
      col("n") +: col("dev") +:
        (1 to AcfMaxLag).map(k => lag(col("dev"), k).over(wLag).as(s"dev_$k")): _*)
    val sums = lagged.agg(
      max(col("n")).as("n"),
      (sum(col("dev") * col("dev")).as("den") +:
        (1 to AcfMaxLag).map(k => sum(col("dev") * col(s"dev_$k")).as(s"num_$k"))): _*)
    val stackArgs = (1 to AcfMaxLag).map(k =>
      s"$k, CAST(n - $k AS BIGINT), CAST(num_$k AS DOUBLE) / CAST(den AS DOUBLE)")
      .mkString(", ")
    sums.selectExpr(s"stack($AcfMaxLag, $stackArgs) AS (lag, n_pairs, acf)")
      .orderBy("lag")
  }

  val autocorrLagSql: String = {
    val lagCols = (1 to AcfMaxLag)
      .map(k => s"lag(dev, $k) OVER (ORDER BY d) AS dev_$k").mkString(",\n    ")
    val numSums = (1 to AcfMaxLag)
      .map(k => s"sum(dev * dev_$k) AS num_$k").mkString(",\n    ")
    val unions = (1 to AcfMaxLag).map(k =>
      s"SELECT CAST($k AS INTEGER) AS lag, CAST(n - $k AS BIGINT) AS n_pairs, " +
        s"CAST(num_$k AS DOUBLE) / CAST(den AS DOUBLE) AS acf FROM s")
      .mkString("\nUNION ALL ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |t AS (SELECT count(*) AS n, sum(CAST(y AS DECIMAL(38,0))) AS s FROM daily),
       |dv AS (
       |  SELECT d, t.n, CAST(t.n AS DECIMAL(38,0)) * y - t.s AS dev
       |  FROM daily, t),
       |lg AS (
       |  SELECT n, dev,
       |    $lagCols
       |  FROM dv),
       |s AS (
       |  SELECT max(n) AS n, sum(dev * dev) AS den,
       |    $numSums
       |  FROM lg)
       |$unions
       |ORDER BY lag""".stripMargin
  }

  // ------------------------------------------------------ markov_transitions

  /** First-order Markov transition matrix over each user's event
    * sequence: P(next type | current type), with counts — the model
    * under next-event prediction, funnel simulation, and the
    * `path_topk` sequences. Ordering is (ts, event_id) — the
    * engine-wide tiebreak convention — and the terminal event of each
    * user (no successor) is excluded, as in any bigram model.
    *
    * Scale shape: lead() runs partitioned BY USER (the sessionize
    * shuffle grain — parallel across users, never a global sort);
    * transitions then reduce to the ≤ |types|² matrix, and the
    * row-normalizing window runs on that bounded matrix. p = n/row
    * total is one exact-integer division per cell.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val trans = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("row_n", sum(col("n")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)").as("p"))
      .orderBy("from_type", "to_type")
  }

  val markovTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT *, sum(n) OVER (PARTITION BY from_type) AS row_n FROM t)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) AS p
      |FROM r ORDER BY from_type, to_type""".stripMargin

  // ----------------------------------------------------- benford_deviation

  /** log10(1 + 1/d) for d = 1..9, as one shared literal table — both
    * engines parse the same decimal literal to the same double, so no
    * libm log10 (whose last ulp may differ between engines) ever runs
    * in either plan. 15 significant digits MAX: DuckDB converts a
    * fractional decimal as int→double then a power-of-ten divide, so
    * the numerator must sit below 2⁵³ for the int step to be exact —
    * then both engines perform ONE correctly-rounded division and
    * agree bit for bit (a 17-digit literal diverged in the last ulp).
    */
  private val BenfordExpr: String =
    """CASE digit
      | WHEN 1 THEN CAST(0.301029995663981 AS DOUBLE)
      | WHEN 2 THEN CAST(0.176091259055681 AS DOUBLE)
      | WHEN 3 THEN CAST(0.124938736608300 AS DOUBLE)
      | WHEN 4 THEN CAST(0.096910013008056 AS DOUBLE)
      | WHEN 5 THEN CAST(0.079181246047625 AS DOUBLE)
      | WHEN 6 THEN CAST(0.066946789630613 AS DOUBLE)
      | WHEN 7 THEN CAST(0.057991946977687 AS DOUBLE)
      | WHEN 8 THEN CAST(0.051152522447381 AS DOUBLE)
      | ELSE CAST(0.045757490560675 AS DOUBLE) END""".stripMargin.replace("\n", "")

  /** Benford's-law profile of order totals: observed share of each
    * leading digit vs log10(1+1/d) — the classic fraud/data-quality
    * screen (fabricated or truncated amounts drift off the curve).
    * The leading digit comes from the exact cents integer's decimal
    * string (no float log), expected shares are shared literals, and
    * each share is one exact-integer division.
    *
    * Scale shape: map-side digit extraction, 9-row aggregate. Nothing
    * else.
    */
  def benfordDeviation(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables(spark, dir).orders
      .select(substring((money(col("o_totalprice")) * 100).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    digits.withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)").as("obs_share"),
        expr(BenfordExpr).as("exp_share"))
      .withColumn("abs_dev",
        abs(col("obs_share") - col("exp_share")))
      .orderBy("digit")
  }

  val benfordDeviationSql: String =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM orders),
       |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
       |t AS (SELECT *, sum(n) OVER () AS total FROM g)
       |SELECT digit, CAST(n AS BIGINT) AS n,
       |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS obs_share,
       |  $BenfordExpr AS exp_share,
       |  abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - $BenfordExpr) AS abs_dev
       |FROM t ORDER BY digit""".stripMargin

  // --------------------------------------------------------- crosscorr_lag

  private val XcorrMaxLag = 3

  /** Lagged CROSS-correlation between the click and purchase daily
    * revenue series at lags −3..+3 — the lead/lag detector ("does
    * click volume lead purchase volume, and by how many days?") that
    * [[autocorrLag]]'s single-series ACF can't answer. Series align
    * on the shared day spine (inner join); both are mean-centered by
    * the n-scaling identity (dev = n·x − S — no float mean ever
    * forms), the shifted products accumulate exactly in
    * decimal(38,0), and each r is two casts, one multiply, one sqrt,
    * one divide on exact operands — bit-reproducible.
    *
    * Scale shape: two partial-agg passes reduce the log to the
    * calendar-bounded joined spine; the ±3 shift columns come from
    * ONE window over that spine; output is 7 rows.
    */
  def crosscorrLag(spark: SparkSession, dir: String): DataFrame = {
    def daily(t: String) = Tables(spark, dir).events
      .filter(col("event_type") === t)
      .groupBy(timestamp_micros(col("ts_us")).cast("date").as("d"))
      .agg((sum(money(col("value"))) * 100).cast("long").as(s"v_$t"))
    val joined = daily("click").join(daily("purchase"), "d")
    val tot = joined.agg(count(lit(1)).as("n"),
      sum(col("v_click")).cast("decimal(38,0)").as("sx"),
      sum(col("v_purchase")).cast("decimal(38,0)").as("sy"))
    val dev = joined.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        (col("n").cast("decimal(38,0)") * col("v_click") - col("sx")).as("dx"),
        (col("n").cast("decimal(38,0)") * col("v_purchase") - col("sy")).as("dy"))
    val w = Window.orderBy("d")
    val shifted = dev.select(
      col("n") +: col("dx") +: col("dy") +:
        (-XcorrMaxLag to XcorrMaxLag).filter(_ != 0).map { k =>
          val c = if (k < 0) lag(col("dy"), -k).over(w) else lead(col("dy"), k).over(w)
          c.as(s"dy_${lagName(k)}")
        }: _*)
    val sums = shifted.agg(
      max(col("n")).as("n"),
      (Seq(sum(col("dx") * col("dx")).as("den_x"),
        sum(col("dy") * col("dy")).as("den_y"),
        sum(col("dx") * col("dy")).as("num_0")) ++
        (-XcorrMaxLag to XcorrMaxLag).filter(_ != 0).map(k =>
          sum(col("dx") * col(s"dy_${lagName(k)}")).as(s"num_${lagName(k)}"))): _*)
    val rExpr = (k: Int) =>
      s"CAST(num_${lagName(k)} AS DOUBLE) / " +
        "sqrt(CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE))"
    val stackArgs = (-XcorrMaxLag to XcorrMaxLag)
      .map(k => s"$k, CAST(n - ${math.abs(k)} AS BIGINT), ${rExpr(k)}").mkString(", ")
    sums.selectExpr(
        s"stack(${2 * XcorrMaxLag + 1}, $stackArgs) AS (lag, n_pairs, xcorr)")
      .orderBy("lag")
  }

  private def lagName(k: Int): String =
    if (k == 0) "0" else if (k < 0) s"m${-k}" else s"p$k"

  val crosscorrLagSql: String = {
    val shiftCols = (-XcorrMaxLag to XcorrMaxLag).filter(_ != 0).map { k =>
      val f = if (k < 0) s"lag(dy, ${-k})" else s"lead(dy, $k)"
      s"$f OVER (ORDER BY d) AS dy_${lagName(k)}"
    }.mkString(",\n    ")
    val numSums = (-XcorrMaxLag to XcorrMaxLag).filter(_ != 0)
      .map(k => s"sum(dx * dy_${lagName(k)}) AS num_${lagName(k)}").mkString(",\n    ")
    val unions = (-XcorrMaxLag to XcorrMaxLag).map { k =>
      s"SELECT CAST($k AS INTEGER) AS lag, CAST(n - ${math.abs(k)} AS BIGINT) AS n_pairs, " +
        s"CAST(num_${lagName(k)} AS DOUBLE) / " +
        "sqrt(CAST(den_x AS DOUBLE) * CAST(den_y AS DOUBLE)) AS xcorr FROM s"
    }.mkString("\nUNION ALL ")
    s"""WITH dc AS (
       |  SELECT CAST(ts AS DATE) AS d,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vx
       |  FROM events WHERE event_type = 'click' GROUP BY 1),
       |dp AS (
       |  SELECT CAST(ts AS DATE) AS d,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vy
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |j AS (SELECT dc.d, vx, vy FROM dc JOIN dp ON dp.d = dc.d),
       |t AS (SELECT count(*) AS n, sum(CAST(vx AS DECIMAL(38,0))) AS sx,
       |        sum(CAST(vy AS DECIMAL(38,0))) AS sy FROM j),
       |dv AS (
       |  SELECT d, t.n,
       |    CAST(t.n AS DECIMAL(38,0)) * vx - t.sx AS dx,
       |    CAST(t.n AS DECIMAL(38,0)) * vy - t.sy AS dy
       |  FROM j, t),
       |sh AS (
       |  SELECT n, dx, dy,
       |    $shiftCols
       |  FROM dv),
       |s AS (
       |  SELECT max(n) AS n, sum(dx * dx) AS den_x, sum(dy * dy) AS den_y,
       |    sum(dx * dy) AS num_0,
       |    $numSums
       |  FROM sh)
       |$unions
       |ORDER BY lag""".stripMargin
  }

  // ----------------------------------------------------- changepoint_detect

  /** SSE gain of splitting after prefix t — every operand exact
    * (prefix sums cx/cx2, totals s/q in decimal), the gain a fixed
    * tree of IEEE ops. Shared text.
    */
  private val CpGainExpr: String =
    "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))" +
      " - (CAST(cx2 AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE) / CAST(t AS DOUBLE))" +
      " - (CAST(q - cx2 AS DOUBLE) - CAST(s - cx AS DOUBLE) * CAST(s - cx AS DOUBLE)" +
      " / CAST(n - t AS DOUBLE))"

  /** Binary change-point detection on the daily-revenue series: the
    * split that maximizes the SSE reduction (total SSE minus the two
    * segments' SSEs — the CART/binary-segmentation criterion), with
    * both segment means and the gain. Complements [[Reports]]'
    * CUSUM: CUSUM monitors a KNOWN level online; this finds the best
    * single break retrospectively. Prefix sums make every candidate
    * split O(1): one cumulative window, one row per candidate, argmax
    * by (gain, day) — the whole computation is exact-integer prefixes
    * plus a fixed double expression per row, so the winner is
    * engine-stable.
    *
    * Scale shape: orders reduce to the calendar-bounded daily frame;
    * the cumulative window and the argmax both run on that bounded
    * frame. Nothing row-sized survives the first shuffle.
    */
  def changepointDetect(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("y")).cast("decimal(38,0)").as("s"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("q"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = daily.crossJoin(broadcast(tot))
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("cx", sum(col("y").cast("decimal(38,0)")).over(w))
      .withColumn("cx2", sum(col("y").cast("decimal(38,0)") * col("y")).over(w))
      .filter(col("t") < col("n")) // a split needs a nonempty right side
      .withColumn("gain", expr(CpGainExpr))
    val wBest = Window.orderBy(col("gain").desc, col("d"))
    pref.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("d").cast("string").as("split_day"),
        col("t").as("n_before"), (col("n") - col("t")).as("n_after"),
        expr("CAST(cx AS DOUBLE) / CAST(t * 100 AS DOUBLE)").as("mean_before"),
        expr("CAST(s - cx AS DOUBLE) / CAST((n - t) * 100 AS DOUBLE)").as("mean_after"),
        expr("gain / CAST(10000 AS DOUBLE)").as("sse_gain"))
  }

  val changepointDetectSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tt AS (SELECT count(*) AS n, sum(CAST(y AS DECIMAL(38,0))) AS s,
       |         sum(CAST(y AS DECIMAL(38,0)) * y) AS q FROM daily),
       |p AS (
       |  SELECT d, tt.n, tt.s, tt.q,
       |    count(*) OVER w AS t,
       |    sum(CAST(y AS DECIMAL(38,0))) OVER w AS cx,
       |    sum(CAST(y AS DECIMAL(38,0)) * y) OVER w AS cx2
       |  FROM daily, tt
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT *, $CpGainExpr AS gain FROM p WHERE t < n),
       |r AS (SELECT *, row_number() OVER (ORDER BY gain DESC, d) AS rk FROM g)
       |SELECT CAST(d AS VARCHAR) AS split_day,
       |  CAST(t AS BIGINT) AS n_before, CAST(n - t AS BIGINT) AS n_after,
       |  CAST(cx AS DOUBLE) / CAST(t * 100 AS DOUBLE) AS mean_before,
       |  CAST(s - cx AS DOUBLE) / CAST((n - t) * 100 AS DOUBLE) AS mean_after,
       |  gain / CAST(10000 AS DOUBLE) AS sse_gain
       |FROM r WHERE rk = 1""".stripMargin

  // -------------------------------------------------------- seasonal_index

  /** Day-of-week seasonal index of order revenue: average daily
    * revenue on each weekday relative to the overall average daily
    * revenue (index 1.0 = a typical day; the multiplicative factor a
    * forecast multiplies back in after detrending with
    * [[regressionTrend]]). Weekday is (epoch_day + 3) mod 7 with
    * Monday = 0 — pure integer arithmetic, immune to the engines'
    * differing DOW builtins. index = (sum_dow·days_all)/
    * (days_dow·sum_all): exact decimal products, ONE division.
    *
    * Scale shape: orders reduce to the calendar-bounded daily frame
    * in one partial-agg pass; everything after runs on ≤7 rows.
    */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
      .select((
        (datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01"))) + 3) % 7)
        .cast("int").as("dow"), col("y"))
    val byDow = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).cast("decimal(38,0)").as("s"))
    val tot = byDow.agg(sum(col("n_days")).as("days_all"),
      sum(col("s")).cast("decimal(38,0)").as("s_all"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"),
        expr("CAST(s AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr("CAST(s * days_all AS DOUBLE) / CAST(CAST(n_days AS DECIMAL(38,0)) * s_all AS DOUBLE)")
          .as("seasonal_index"))
      .orderBy("dow")
  }

  // -------------------------------------------------------- anomaly_rolling

  /** Rolling z over the one-row-joined trailing moments (s, sxx, m
    * exact ints from the frame; excludes the current day, so today
    * never dilutes its own baseline).
    */
  private val RollZExpr: String =
    "(CAST(y AS DOUBLE) - CAST(s AS DOUBLE) / CAST(m AS DOUBLE)) / " +
      "sqrt(CAST(sxx * m - s * s AS DOUBLE) / CAST(CAST(m AS DECIMAL(38,0)) * (m - 1) AS DOUBLE))"

  private val RollWindow = 7

  /** Rolling-window anomaly screen: each (event type, day)'s revenue
    * against the TRAILING 7 observed days' mean/σ (current day
    * excluded — the self-excluding baseline that keeps a spike from
    * hiding itself), flagging |z| > 3. Where `anomaly_zscore` scores
    * against the all-time distribution, this is the drifting baseline
    * an on-call monitor actually pages on. Frame moments are exact
    * cents integers (decimal(38,0) under the window sums), the z is
    * one shared expression; degenerate frames (fewer than 3 prior
    * days, or zero variance) are gated out identically on both
    * engines.
    *
    * Scale shape: one partial-agg pass reduces the log to the
    * (type × day) calendar-bounded frame; the rolling window runs
    * partitioned BY TYPE over that frame — parallel across types,
    * never a global sort.
    */
  def anomalyRolling(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"),
        timestamp_micros(col("ts_us")).cast("date").as("d"))
      .agg((sum(money(col("value"))) * 100).cast("long").as("y"))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-RollWindow, -1)
    val framed = daily
      .withColumn("m", count(col("y")).over(w))
      .withColumn("s", sum(col("y").cast("decimal(38,0)")).over(w))
      .withColumn("sxx", sum(col("y").cast("decimal(38,0)") * col("y")).over(w))
      .filter(col("m") >= 3)
      .filter(expr("sxx * m - s * s > 0"))
      .withColumn("roll_z", expr(RollZExpr))
    framed.filter(abs(col("roll_z")) > 3.0)
      .select(col("event_type"), col("d").cast("string").as("day"),
        expr("CAST(y AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr("CAST(s AS DOUBLE) / CAST(m * 100 AS DOUBLE)").as("roll_mean"),
        col("roll_z"))
      .orderBy("event_type", "day")
  }

  val anomalyRollingSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |f AS (
       |  SELECT *,
       |    count(y) OVER w AS m,
       |    sum(CAST(y AS DECIMAL(38,0))) OVER w AS s,
       |    sum(CAST(y AS DECIMAL(38,0)) * y) OVER w AS sxx
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY d
       |    ROWS BETWEEN $RollWindow PRECEDING AND 1 PRECEDING)),
       |z AS (
       |  SELECT *, $RollZExpr AS roll_z FROM f
       |  WHERE m >= 3 AND sxx * m - s * s > 0)
       |SELECT event_type, CAST(d AS VARCHAR) AS day,
       |  CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
       |  CAST(s AS DOUBLE) / CAST(m * 100 AS DOUBLE) AS roll_mean,
       |  roll_z
       |FROM z WHERE abs(roll_z) > 3.0
       |ORDER BY event_type, day""".stripMargin

  val seasonalIndexSql: String =
    """WITH daily AS (
      |  SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 3) % 7 AS INTEGER) AS dow,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |b AS (
      |  SELECT dow, count(*) AS n_days, sum(CAST(y AS DECIMAL(38,0))) AS s
      |  FROM daily GROUP BY 1),
      |t AS (SELECT CAST(sum(n_days) AS BIGINT) AS days_all,
      |        CAST(sum(s) AS DECIMAL(38,0)) AS s_all FROM b)
      |SELECT dow, CAST(n_days AS BIGINT) AS n_days,
      |  CAST(s AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
      |  CAST(s * days_all AS DOUBLE) / CAST(CAST(n_days AS DECIMAL(38,0)) * s_all AS DOUBLE)
      |    AS seasonal_index
      |FROM b, t ORDER BY dow""".stripMargin

  // -------------------------------------------------- region-monthly helper

  /** Monthly revenue per region in exact integer cents — the shared
    * input frame for `theil_sen_trend` and `ewma_revenue` (same
    * month-index convention as `growth_mom_yoy`: lag steps are
    * OBSERVED months; TPC-H orders cover every region-month densely).
    */
  private def regionMonthly(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
  }

  private val RegionMonthlySqlCte: String =
    """SELECT r_name AS region_name,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------- theil_sen_trend

  /** Theil–Sen robust trend per region: the median of all pairwise
    * slopes (revᵢ−revⱼ)/(mᵢ−mⱼ) over the monthly revenue series — the
    * estimator OLS (`regression_trend`) degrades to under outliers,
    * with a 29% breakdown point. Every slope is ONE double division of
    * exact-integer operands (cent diffs < 2^53); the median is taken
    * explicitly as (min+max)/2 over the middle one-or-two order
    * statistics — identical IEEE arithmetic on both engines, never an
    * engine-native `median()` whose interpolation formula could differ
    * in the last ulp. Middle positions via floor((n±1)/2.0) on
    * exact-small counts, the engine-portable integer division.
    *
    * Scale shape: the heavy reduce is the region-month pre-aggregation
    * (partial-agg over orders⋈customer, dims broadcast); the pairwise
    * stage is O(M²) per region over the BOUNDED month dimension (~100
    * rows/region even at 100 TB — time grows slowly), so the self-join
    * stays driver-trivial at any SF. For long series one samples
    * pairs (the randomized Theil–Sen estimator) without changing the
    * plan shape.
    */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val m = regionMonthly(spark, dir)
    val a = m.select(col("region_name"), col("m").as("m1"), col("rev_c").as("y1"))
    val b = m.select(col("region_name").as("rn2"), col("m").as("m2"), col("rev_c").as("y2"))
    val pairs = a.join(b, col("region_name") === col("rn2") && col("m1") < col("m2"))
      .select(col("region_name"),
        expr("CAST(y2 - y1 AS DOUBLE) / CAST((m2 - m1) * 100 AS DOUBLE)").as("slope"),
        col("m1"), col("m2"))
    val w = Window.partitionBy("region_name").orderBy(col("slope"), col("m1"), col("m2"))
    val ranked = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("region_name")))
    ranked
      .filter(expr("rn >= CAST(floor((n + 1) / 2.0) AS BIGINT) AND rn <= CAST(floor(n / 2.0) AS BIGINT) + 1"))
      .groupBy(col("region_name"))
      .agg(max(col("n")).as("n_pairs"),
        expr("(min(slope) + max(slope)) / 2.0").as("ts_slope"))
      .orderBy("region_name")
  }

  val theilSenTrendSql: String =
    s"""WITH monthly AS (
      |$RegionMonthlySqlCte),
      |pairs AS (
      |  SELECT a.region_name,
      |    CAST(b.rev_c - a.rev_c AS DOUBLE) / CAST((b.m - a.m) * 100 AS DOUBLE) AS slope,
      |    a.m AS m1, b.m AS m2
      |  FROM monthly a JOIN monthly b
      |    ON a.region_name = b.region_name AND a.m < b.m),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY region_name ORDER BY slope, m1, m2) AS rn,
      |    count(*) OVER (PARTITION BY region_name) AS n
      |  FROM pairs)
      |SELECT region_name, CAST(max(n) AS BIGINT) AS n_pairs,
      |  (min(slope) + max(slope)) / 2.0 AS ts_slope
      |FROM ranked
      |WHERE rn >= CAST(floor((n + 1) / 2.0) AS BIGINT)
      |  AND rn <= CAST(floor(n / 2.0) AS BIGINT) + 1
      |GROUP BY region_name ORDER BY region_name""".stripMargin

  // -------------------------------------------------------- tv_distance_drift

  /** Total-variation distance between the event-type distribution of
    * the first and second time halves — the drift measure that stays
    * EXACT where PSI/KL (`dist_drift`) need logs: each type's
    * contribution |p_a − p_b|/2 is computed as the exact integer
    * |cnt_a·tot_b − cnt_b·tot_a| divided ONCE by 2·tot_a·tot_b (all
    * operands < 2^53 at test SF), so the result is bit-stable with no
    * rounding convention at all. The time midpoint is exact integer
    * µs via floor((min+max)/2.0) — sums < 2^53.
    *
    * TV = Σ contrib is left to the consumer (a sum of ≤5 rounded
    * doubles); `Round9Spec` pins Σ ≤ 1 and the brute-force recount.
    *
    * Scale shape: one pass computes min/max ts (tiny all-reduce), one
    * pass partial-aggregates conditional counts per type — two scans,
    * no shuffle beyond the ≤|types| groups. At 100 TB the integer
    * products need decimal(38,0) (documented cap: counts × totals
    * overflow 2^63 near 3e9 rows·type) — the code keeps bigint for
    * the < 2^53 double-exactness contract at oracle SF.
    */
  def tvDistanceDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val mid = ev.agg(expr("CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT)").as("mid"))
    val counts = ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"))
      .agg(sum(when(col("ts_us") <= col("mid"), 1L).otherwise(0L)).as("cnt_first"),
        sum(when(col("ts_us") > col("mid"), 1L).otherwise(0L)).as("cnt_second"))
    counts
      .withColumn("tot_a", sum(col("cnt_first")).over(Window.partitionBy()))
      .withColumn("tot_b", sum(col("cnt_second")).over(Window.partitionBy()))
      .select(col("event_type"), col("cnt_first"), col("cnt_second"),
        expr("CAST(abs(cnt_first * tot_b - cnt_second * tot_a) AS DOUBLE) / CAST(2 * tot_a * tot_b AS DOUBLE)")
          .as("tv_contrib"))
      .orderBy("event_type")
  }

  val tvDistanceDriftSql: String =
    """WITH mid AS (
      |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS mid
      |  FROM events),
      |counts AS (
      |  SELECT event_type,
      |    sum(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END) AS cnt_first,
      |    sum(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END) AS cnt_second
      |  FROM events, mid GROUP BY event_type),
      |t AS (
      |  SELECT *, sum(cnt_first) OVER () AS tot_a, sum(cnt_second) OVER () AS tot_b
      |  FROM counts)
      |SELECT event_type, CAST(cnt_first AS BIGINT) AS cnt_first,
      |  CAST(cnt_second AS BIGINT) AS cnt_second,
      |  CAST(abs(cnt_first * tot_b - cnt_second * tot_a) AS DOUBLE)
      |    / CAST(2 * tot_a * tot_b AS DOUBLE) AS tv_contrib
      |FROM t ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- ewma_revenue

  private[graft] val EwmaLags = 12

  /** Fixed-point EWMA weights: 0.8^k scaled to 1e5 and rounded to
    * exact integer literals — the SAME literals appear in the Spark
    * plan and the oracle SQL, so the weighting is engine-exact by
    * construction (no runtime pow(), whose libm vs Math.pow last-ulp
    * behavior differs).
    */
  private[graft] val EwmaW: IndexedSeq[Long] =
    (0 until EwmaLags).map { k =>
      (BigDecimal("0.8").pow(k) * 100000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }

  /** Truncated EWMA of monthly revenue per region (α = 0.2 ⇒ decay
    * 0.8, window 12 lags ≈ 93% of the untruncated mass): numerator
    * Σ revᶜₜ₋ₖ·Wₖ and denominator Σ Wₖ (over AVAILABLE lags — early
    * months renormalize over the shorter prefix) accumulate in exact
    * decimal/bigint with integer weights, then ONE division pair
    * produces the double — numerator < 2^53 at oracle SF so even the
    * decimal→double cast is exact on both engines.
    *
    * Scale shape: the orders⋈customer reduce dominates (dims
    * broadcast, partial agg map-side); the lag window runs per region
    * over the bounded month axis. The 2^53 numerator headroom caps at
    * ~sf3 per region-month (5e13·12 terms); production lifts the
    * final cast to decimal(38,4)-rounded output — only the exactness
    * proof, not the plan, changes.
    */
  def ewmaRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = regionMonthly(spark, dir)
    val w = Window.partitionBy("region_name").orderBy("m")
    var df = monthly
    for (k <- 0 until EwmaLags)
      df = df.withColumn(s"lg$k", lag(col("rev_c"), k).over(w))
    df.select(col("region_name"),
        (col("m") / 12).cast("int").as("yr"), (col("m") % 12 + 1).cast("int").as("mo"),
        expr("CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr(ewmaExpr).as("ewma"))
      .orderBy("region_name", "yr", "mo")
  }

  /** `(Σ lagₖ·Wₖ) / (Σ Wₖ over present lags) / 100` — one string, both
    * engines; lag columns are named lg0..lg{n-1} on both sides.
    */
  private def ewmaExpr: String = {
    val num = (0 until EwmaLags).map { k =>
      s"CASE WHEN lg$k IS NOT NULL THEN CAST(lg$k AS DECIMAL(18,0)) * ${EwmaW(k)} ELSE CAST(0 AS DECIMAL(18,0)) END"
    }.mkString(" + ")
    val den = (0 until EwmaLags).map { k =>
      s"CASE WHEN lg$k IS NOT NULL THEN ${EwmaW(k)} ELSE 0 END"
    }.mkString(" + ")
    s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / CAST(100 AS DOUBLE)"
  }

  // --------------------------------------------------------- snaive_backtest

  /** Seasonal-naive forecast backtest: predict each day's per-type
    * event count with the count 7 CALENDAR days earlier (self-join on
    * day−7, not lag-7-rows — gaps don't shift the season), score with
    * MAPE. Each |y−ŷ|/y ratio is one exact-operand double divide
    * ROUNDED to 8 dp and summed in decimal (the chi_square term
    * discipline — order-independent), then ONE division by the scored
    * count. The baseline every real forecaster must beat; backtest
    * machinery doubles as the eval harness for fancier models.
    *
    * Scale shape: one partial-agg pass to the (type, day) grid; the
    * 7-day self-join and MAPE rollup run on the bounded grid.
    */
  def snaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"),
        expr("CAST(ts_us div 86400000000 AS BIGINT)").as("d"))
      .agg(count(lit(1)).as("y"))
    val f = daily.select(col("event_type").as("et2"), (col("d") + 7).as("d2"),
      col("y").as("fc"))
    daily.join(f, col("event_type") === col("et2") && col("d") === col("d2"))
      .filter(col("y") > 0)
      .withColumn("ape", expr(
        "CAST(round(CAST(abs(y - fc) AS DOUBLE) / CAST(y AS DOUBLE), 8) AS DECIMAL(12,8))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_scored"),
        expr("CAST(sum(ape) AS DOUBLE)").as("ape_sum"))
      .select(col("event_type"), col("n_days_scored"),
        expr("ape_sum / CAST(n_days_scored AS DOUBLE)").as("mape"))
      .orderBy("event_type")
  }

  val snaiveBacktestSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS y
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
      |  CAST(sum(CAST(round(CAST(abs(a.y - f.y) AS DOUBLE) / CAST(a.y AS DOUBLE), 8) AS DECIMAL(12,8))) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS mape
      |FROM daily a JOIN daily f
      |  ON a.event_type = f.event_type AND a.d = f.d + 7
      |WHERE a.y > 0
      |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin

  // ----------------------------------------------------------- welch_t_test

  /** Shared Welch formula fragments over the exact per-type moments
    * (n, s = Σ cents, ss = Σ cents²): identical text in both engines,
    * so every division/sqrt is the same correctly-rounded IEEE op on
    * the same operands (sqrt IS exactly rounded per IEEE-754 — safe
    * in shared expressions, unlike pow/ln whose libm vs JDK last-ulp
    * behavior differs).
    */
  private def meanExpr(x: String): String =
    s"CAST(s_$x AS DOUBLE) / CAST(n_$x * 100 AS DOUBLE)"
  private def varOverNExpr(x: String): String =
    s"(CAST(CAST(n_$x AS DECIMAL(38,0)) * ss_$x - CAST(s_$x AS DECIMAL(38,0)) * s_$x AS DOUBLE)" +
      s" / CAST(n_$x * (n_$x - 1) AS DOUBLE) / 10000.0) / CAST(n_$x AS DOUBLE)"

  /** Welch's unequal-variance t-test on `value` for every event-type
    * pair — the parametric complement of `mann_whitney` (mean shift
    * vs stochastic dominance). Values are exact 2-decimal: moments
    * accumulate as exact integer cents / cents² (the corrExpr
    * discipline — decimal(38,0) products, no float sums anywhere),
    * and t plus the Welch–Satterthwaite df are shared expression
    * text. One pass builds all five types' moments ([[pairMoments]]),
    * unpivoted to one row per pair so the text is written once.
    *
    * Scale shape: one map-side conditional-sum pass reduces the raw
    * log to one moment row, stacked to 10; everything after is
    * constant-size. The n·ss product needs int128/decimal beyond ~2^63 (≈ sf1 for this
    * events domain) — already decimal(38,0) here.
    */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val se2 = s"(${varOverNExpr("x")} + ${varOverNExpr("y")})"
    pairMoments(spark, dir).selectExpr("type_a", "type_b",
        s"(${meanExpr("x")} - ${meanExpr("y")}) / sqrt($se2) AS t_stat",
        s"$se2 * $se2 / ((${varOverNExpr("x")}) * (${varOverNExpr("x")}) / CAST(n_x - 1 AS DOUBLE)" +
          s" + (${varOverNExpr("y")}) * (${varOverNExpr("y")}) / CAST(n_y - 1 AS DOUBLE)) AS welch_df")
      .orderBy("type_a", "type_b")
  }

  /** The per-type exact cent moments (`n`, `s` = Σc, `ss` = Σc²) of
    * one conditional-sum pass over the events, unpivoted by
    * [[stackPairs]] to one row per type pair — the shared frame of
    * [[welchTTest]] and [[tostEquivalence]].
    */
  private def pairMoments(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mCols = EventTypes.flatMap { t =>
      Seq(sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"),
        sum(when(col("event_type") === t, col("c")).otherwise(0L)).as(s"s_$t"),
        sum(when(col("event_type") === t, col("c") * col("c")).otherwise(0L)).as(s"ss_$t"))
    }
    stackPairs(ev.agg(mCols.head, mCols.tail: _*), "n", "s", "ss")
  }

  val welchTTestSql: String = {
    val mSums = EventTypes.flatMap { t =>
      Seq(s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t",
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_$t",
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS ss_$t")
    }.mkString(",\n    ")
    val rows = TypePairs.map { case (a, b) =>
      val se2 = s"(${varOverNExpr(a)} + ${varOverNExpr(b)})"
      s"""SELECT '$a' AS type_a, '$b' AS type_b,
         |  (${meanExpr(a)} - ${meanExpr(b)}) / sqrt($se2) AS t_stat,
         |  $se2 * $se2 / ((${varOverNExpr(a)}) * (${varOverNExpr(a)}) / CAST(n_$a - 1 AS DOUBLE)
         |    + (${varOverNExpr(b)}) * (${varOverNExpr(b)}) / CAST(n_$b - 1 AS DOUBLE)) AS welch_df
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
      |  SELECT
      |    $mSums
      |  FROM events)
      |$rows
      |ORDER BY type_a, type_b""".stripMargin
  }

  // ------------------------------------------------------ auc_purchase_value

  /** ROC AUC of "does event value predict a purchase?" via the exact
    * rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀): ranks with
    * midrank tie handling kept in INTEGER space throughout —
    * 2·midrank = 2·rank + tiecount − 1, so twice the positive rank
    * sum is an exact bigint and the AUC is ONE division of exact
    * integers (same machinery as `mann_whitney`'s U but normalized to
    * the probabilistic [0,1] metric a model-eval pipeline reports).
    * No O(n²) pair join — two windows and an aggregate.
    *
    * Scale shape: the global score rank is the only total order
    * (range-partitioned sort at 100 TB, the `histogram_equidepth`
    * note); tie counts ride the same sort. Products n₁·n₀ stay
    * < 2^53 to ~9e7 positives·negatives balance — decimal(38,0)
    * documented beyond.
    */
  def aucPurchaseValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val ranked = ev
      .withColumn("rk", rank().over(Window.orderBy("score")))
      .withColumn("tc", count(lit(1)).over(Window.partitionBy("score")))
    ranked.agg(
        sum(col("pos")).as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"),
        sum(when(col("pos") === 1L, expr("2 * rk + tc - 1")).otherwise(0L)).as("two_r1"))
      .select(col("n_pos"), col("n_neg"),
        expr("CAST(two_r1 - n_pos * (n_pos + 1) AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)")
          .as("auc"))
  }

  val aucPurchaseValueSql: String =
    """WITH ev AS (
      |  SELECT value AS score,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events),
      |r AS (
      |  SELECT *, rank() OVER (ORDER BY score) AS rk,
      |    count(*) OVER (PARTITION BY score) AS tc
      |  FROM ev),
      |a AS (
      |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg,
      |    CAST(sum(CASE WHEN pos = 1 THEN 2 * rk + tc - 1 ELSE 0 END) AS BIGINT) AS two_r1
      |  FROM r)
      |SELECT n_pos, n_neg,
      |  CAST(two_r1 - n_pos * (n_pos + 1) AS DOUBLE)
      |    / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      |FROM a""".stripMargin

  val ewmaRevenueSql: String = {
    val lags = (0 until EwmaLags).map { k =>
      s"lag(rev_c, $k) OVER (PARTITION BY region_name ORDER BY m) AS lg$k"
    }.mkString(",\n    ")
    s"""WITH monthly AS (
      |$RegionMonthlySqlCte),
      |l AS (
      |  SELECT region_name, m, rev_c,
      |    $lags
      |  FROM monthly)
      |SELECT region_name, CAST(m // 12 AS INTEGER) AS yr,
      |  CAST(m % 12 + 1 AS INTEGER) AS mo,
      |  CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
      |  $ewmaExpr AS ewma
      |FROM l ORDER BY region_name, yr, mo""".stripMargin
  }

  // ------------------------------------------------------------ spearman_corr

  /** The Pearson correlation on exactly-accumulated moments, combined
    * in IEEE space. Operands are DOUBLED midranks (2·midrank =
    * 2·rank + tiecount − 1, the `auc_purchase_value` identity), so
    * every MOMENT (n, Σr, Σr², Σrxry) is an exact decimal sum; each
    * moment is then cast to DOUBLE INDIVIDUALLY before any product —
    * the `cuped_adjustment` convention — because a (38,0)×(38,0)
    * product overflows DuckDB's decimal and silently falls back to
    * double MID-expression while Spark stays decimal (ADVICE r11).
    * With identical text both engines run the same correctly-rounded
    * IEEE multiply/subtract/sqrt. Bit parity needs each cast operand
    * < 2^53 (DuckDB's int128→double cast is ~1 ulp off above that —
    * the verify-skill ledger); past it the drift is ≤1 ulp in the
    * oracle harness only, not a statistic error.
    */
  private val SpearmanRhoExpr: String =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"

  /** Spearman rank correlation between a part's list price and its
    * total quantity sold — the monotone "does price suppress volume"
    * association, robust to the outliers that bend `corr_profile`'s
    * Pearson. Ties get midranks, kept in INTEGER space by doubling
    * (2·midrank is exact), so Σr, Σr², Σrxry accumulate exactly in
    * decimal(38,0); ρ combines the individually-double-cast moments
    * in ONE shared IEEE expression ([[SpearmanRhoExpr]]) — both
    * engines run the identical correctly-rounded ops at any scale.
    *
    * Scale shape: lineitem partial-aggregates to the part grain
    * BEFORE any window (the dim-build reduction); the two global rank
    * windows run on the ≤|part| frame — a range-partitioned sort at
    * 100 TB, same as `histogram_equidepth`'s note — and one aggregate
    * closes to a single row. Moments stay < 2^53 (bit-parity regime)
    * to Σr² ≤ 4n³, i.e. n ~ 10⁵ parts; past that, ≤1-ulp oracle
    * drift only ([[SpearmanRhoExpr]]).
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val perPart = t.lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(l_quantity * 100 AS BIGINT)")).as("qty_c"))
      .join(t.part.select(col("p_partkey"),
        expr("CAST(p_retailprice * 100 AS BIGINT)").as("price_c")),
        col("l_partkey") === col("p_partkey"))
    // rank/tiecount columns first (windows), then the doubled midranks
    val withRanks = perPart
      .withColumn("rk_x", rank().over(Window.orderBy("price_c")))
      .withColumn("tc_x", count(lit(1)).over(Window.partitionBy("price_c")))
      .withColumn("rk_y", rank().over(Window.orderBy("qty_c")))
      .withColumn("tc_y", count(lit(1)).over(Window.partitionBy("qty_c")))
      .select(expr("2 * rk_x + tc_x - 1").as("rx"),
        expr("2 * rk_y + tc_y - 1").as("ry"))
    withRanks.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * rx")).as("sxx"),
        sum(expr("CAST(ry AS DECIMAL(38,0)) * ry")).as("syy"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * ry")).as("sxy"))
      .select(col("n").cast("long").as("n_parts"),
        expr(SpearmanRhoExpr).as("rho"))
  }

  val spearmanCorrSql: String =
    s"""WITH per_part AS (
       |  SELECT l.l_partkey,
       |    CAST(sum(CAST(l.l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_c,
       |    CAST(p.p_retailprice * 100 AS BIGINT) AS price_c
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY l.l_partkey, CAST(p.p_retailprice * 100 AS BIGINT)),
       |r AS (
       |  SELECT
       |    2 * rank() OVER (ORDER BY price_c)
       |      + count(*) OVER (PARTITION BY price_c) - 1 AS rx,
       |    2 * rank() OVER (ORDER BY qty_c)
       |      + count(*) OVER (PARTITION BY qty_c) - 1 AS ry
       |  FROM per_part),
       |m AS (
       |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
       |    sum(CAST(rx AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(ry AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
       |    sum(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
       |    sum(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
       |  FROM r)
       |SELECT CAST(n AS BIGINT) AS n_parts,
       |  $SpearmanRhoExpr AS rho
       |FROM m""".stripMargin

  // -------------------------------------------------------------- kendall_tau

  /** τ-b from exact pair counts — shared text on bigint operands. */
  private val KendallTauExpr: String =
    "CAST(concordant - discordant AS DOUBLE)" +
      " / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE)))"

  /** Kendall τ-b between monthly order count and monthly revenue —
    * the pair-concordance association (did busier months earn more),
    * tie-corrected. The O(n²) pair join is SAFE here by construction:
    * the series is the calendar-bounded monthly frame (the
    * `autocorr_lag` reduction), so pairs ≤ months² regardless of data
    * volume — the raw log never self-joins. Concordant / discordant /
    * tie counts are exact bigints out of one triangular join; τ-b is
    * ONE shared expression (two sqrt on exact operands).
    *
    * Scale shape: one partial-agg pass over orders reduces to the
    * monthly frame; the triangular self-join of a ≲10³-row frame is a
    * broadcast nested loop, then a single count aggregate. At 100 TB
    * only the first pass grows.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(count(lit(1)).as("x"),
        (sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val a = monthly.select(col("m").as("ma"), col("x").as("xa"), col("y").as("ya"))
    val b = monthly.select(col("m").as("mb"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(b, col("ma") < col("mb"))
    val counted = pairs.agg(
      count(lit(1)).as("n0"),
      sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0, 1L)
        .otherwise(0L)).as("concordant"),
      sum(when((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0, 1L)
        .otherwise(0L)).as("discordant"),
      sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
      sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
    counted.select(col("n0").as("n_pairs"), col("concordant"), col("discordant"),
      expr(KendallTauExpr).as("tau_b"))
  }

  val kendallTauSql: String =
    s"""WITH monthly AS (
       |  SELECT year(CAST(o_orderdate AS DATE)) * 12
       |      + month(CAST(o_orderdate AS DATE)) - 1 AS m,
       |    CAST(count(*) AS BIGINT) AS x,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       |    CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
       |  FROM monthly a JOIN monthly b ON a.m < b.m)
       |SELECT n0 AS n_pairs, concordant, discordant,
       |  $KendallTauExpr AS tau_b
       |FROM p""".stripMargin

  // ----------------------------------------------------- jackknife_region_var

  private val RegionKeys = 0 to 4

  /** Delete-one-region jackknife of the mean order value — the
    * standard-error estimate for a ratio statistic whose sampling
    * unit is a GROUP (drop a whole region, re-estimate, spread of the
    * five leave-one-out estimates). Group count is the fixed 5-region
    * domain, so the five θ_k pivot to COLUMNS and the mean/variance
    * close in ONE fixed-order shared expression — the `welch_t_test`
    * convention that sidesteps float-sum order nondeterminism
    * entirely: every θ_k is one division of exact decimal(38,0)
    * cents/counts, and both engines evaluate the identical text.
    *
    * Scale shape: one partial-agg conditional-sum pass over the
    * orders⋈customer⋈nation star (both dims broadcast) reduces to a
    * single 10-column row; everything after is scalar arithmetic.
    */
  def jackknifeRegionVar(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val keyed = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey").as("rk"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v_c"))
    val mCols = RegionKeys.flatMap { k =>
      Seq(sum(when(col("rk") === k, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(col("rk") === k, col("v_c")).otherwise(0L))
          .cast("decimal(38,0)").as(s"s_$k"))
    }
    val m = keyed.agg(mCols.head, mCols.tail: _*)
      .withColumn("n", expr(RegionKeys.map(k => s"n_$k").mkString(" + ")))
      .withColumn("s", expr(RegionKeys.map(k => s"s_$k").mkString(" + ")))
    val withTheta = RegionKeys.foldLeft(m) { (df, k) =>
      df.withColumn(s"th_$k",
        expr(s"CAST(s - s_$k AS DOUBLE) / CAST(n - n_$k AS DOUBLE)"))
    }.withColumn("th_bar",
      expr(s"(${RegionKeys.map(k => s"th_$k").mkString(" + ")}) / CAST(5 AS DOUBLE)"))
    withTheta.select(
      expr("CAST(n AS BIGINT)").as("n_orders"),
      expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE)").as("mean_value"),
      expr(JackSeExpr).as("jack_se"))
  }

  /** √((g−1)/g · Σ(θ_k − θ̄)²) in dollars — one shared text. */
  private val JackSeExpr: String = {
    val sq = RegionKeys.map(k => s"(th_$k - th_bar) * (th_$k - th_bar)")
      .mkString(" + ")
    s"sqrt(CAST(4 AS DOUBLE) / CAST(5 AS DOUBLE) * ($sq)) / CAST(100 AS DOUBLE)"
  }

  // ------------------------------------------------------ permutation_test_value

  private val PermB = 20

  /** Shared-text mean difference on exact integer moments; the
    * pseudo-group complement is derived from the pooled totals, so
    * each split costs two extra columns, not a second pass.
    */
  private def permDiffExpr(s1: String, n1: String): String =
    s"(CAST($s1 AS DOUBLE) / CAST($n1 AS DOUBLE)" +
      s" - CAST(s_p + s_c - $s1 AS DOUBLE) / CAST(n_p + n_c - $n1 AS DOUBLE))"

  private def permObsExpr: String =
    "(CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE)" +
      " - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))"

  /** Permutation test for the purchase-vs-click value gap with
    * DETERMINISTIC resampling: the [[PermB]] pseudo-assignments are
    * md5-parity splits of the pooled rows (the `train_test_split`
    * hash-not-random convention — reproducible under any
    * repartitioning, and re-derivable by the oracle), so the
    * empirical p̂ = (1 + #{|diff_b| ≥ |obs|})/(B+1) needs no random
    * state and no distributional assumption — the inference
    * `welch_t_test` does parametrically, re-derived nonparametrically.
    * Every split's moments are exact integer conditional sums from
    * ONE pass; every comparison is on shared-text doubles.
    *
    * Scale shape: one conditional-moment pass over the filtered log
    * (B+1 sum/count column pairs — column count, not row count,
    * scales with B), then scalar arithmetic on a single row.
    */
  def permutationTestValue(spark: SparkSession, dir: String): DataFrame = {
    val pooled = Tables(spark, dir).events
      .filter(col("event_type") === "purchase" || col("event_type") === "click")
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val base = Seq(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_p"),
      sum(when(col("event_type") === "purchase", col("c")).otherwise(0L)).as("s_p"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_c"),
      sum(when(col("event_type") === "click", col("c")).otherwise(0L)).as("s_c"))
    val perB = (1 to PermB).flatMap { b =>
      val in = expr(s"CAST(conv(substring(md5(concat(CAST(event_id AS STRING), '_$b')), 1, 4), 16, 10) AS BIGINT) % 2 = 1")
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n1_$b"),
        sum(when(in, col("c")).otherwise(0L)).as(s"s1_$b"))
    }
    val m = pooled.agg((base ++ perB).head, (base ++ perB).tail: _*)
    val indicators = (1 to PermB)
      .map(b => s"CASE WHEN abs(${permDiffExpr(s"s1_$b", s"n1_$b")})" +
        s" >= abs($permObsExpr) THEN 1 ELSE 0 END")
      .mkString(" + ")
    m.selectExpr(
      "n_p AS n_purchase", "n_c AS n_click",
      s"$permObsExpr / CAST(100 AS DOUBLE) AS obs_diff",
      s"CAST($indicators AS BIGINT) AS n_extreme",
      s"CAST(1 + $indicators AS DOUBLE) / CAST(${PermB + 1} AS DOUBLE) AS p_value")
  }

  val permutationTestValueSql: String = {
    val mSums = Seq(
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_p",
      "CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT) AS s_p",
      "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_c",
      "CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT) AS s_c") ++
      (1 to PermB).flatMap { b =>
        val in = s"('0x' || substr(md5(CAST(event_id AS VARCHAR) || '_$b'), 1, 4))::BIGINT % 2 = 1"
        Seq(s"CAST(sum(CASE WHEN $in THEN 1 ELSE 0 END) AS BIGINT) AS n1_$b",
          s"CAST(sum(CASE WHEN $in THEN c ELSE 0 END) AS BIGINT) AS s1_$b")
      }
    val indicators = (1 to PermB)
      .map(b => s"CASE WHEN abs(${permDiffExpr(s"s1_$b", s"n1_$b")})" +
        s" >= abs($permObsExpr) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH pooled AS (
       |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events WHERE event_type IN ('purchase', 'click')),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM pooled)
       |SELECT n_p AS n_purchase, n_c AS n_click,
       |  $permObsExpr / CAST(100 AS DOUBLE) AS obs_diff,
       |  CAST($indicators AS BIGINT) AS n_extreme,
       |  CAST(1 + $indicators AS DOUBLE) / CAST(${PermB + 1} AS DOUBLE) AS p_value
       |FROM m""".stripMargin
  }

  // ------------------------------------------------------------ mde_sample_size

  /** Absolute MDEs to tabulate, in basis points (1% / 2% / 5%), with
    * the per-δ coefficient 2·z²/δ² (z = 1.96 two-sided 95%, 80% power
    * folded into the standard 2z² shorthand) as an exact RATIONAL
    * (num, den) — computed once in BigDecimal, shipped as integer
    * literals so the ceil is pure integer arithmetic on both engines.
    */
  private val MdeBps: Seq[Int] = Seq(100, 200, 500)
  private def mdeCoef(bps: Int): (Long, Long) = {
    // 2·1.96² / (bps/10000)² = 7.6832·10⁸/bps² ; reduce the fraction
    val num = BigInt(768320000)
    val den = BigInt(bps.toLong * bps)
    val g = num.gcd(den)
    ((num / g).toLong, (den / g).toLong)
  }

  /** A/B sample-size table for the USER-DAY conversion rate (an
    * active user-day containing a purchase — the daily-decision grain
    * where the rate is a real fraction; lifetime user conversion
    * saturates at 1 on this log): per absolute MDE δ, the per-arm
    * n = ⌈2z²·p̂(1−p̂)/δ²⌉ every experiment-design doc starts from —
    * computed as ONE integer ceiling
    * ((coef·s·(n−s) + den·n² − 1) div (den·n²)) on exact counts, so
    * the table is bit-identical across engines with no
    * normal-quantile function anywhere (z is a literal). Paired with
    * `conversion_wilson_ci` (the read side of the same design).
    * Exact through ~3·10⁶ units in int64; beyond, the same rationals
    * ride decimal(38,0) stepwise — only the proof changes.
    *
    * Scale shape: one (user, day) partial agg over events (the
    * `active_users_window` grain), one 2-moment rollup, then a 3-row
    * literal table of scalar arithmetic.
    */
  def mdeSampleSize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables(spark, dir).events
      .groupBy(col("user_id"),
        expr("CAST(to_date(timestamp_micros(ts_us)) AS DATE)").as("d"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
    val base = ud.agg(count(lit(1)).as("n"), sum(col("p")).as("s"))
    val coefs = MdeBps.map { bps =>
      val (cn, cd) = mdeCoef(bps); (bps, cn, cd)
    }.toDF("mde_bps", "cn", "cd")
    base.crossJoin(broadcast(coefs))
      .selectExpr("mde_bps", "n AS n_active", "s AS n_converted",
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS baseline_rate",
        "(cn * s * (n - s) + cd * n * n - 1) div (cd * n * n) AS n_per_arm")
      .orderBy("mde_bps")
  }

  val mdeSampleSizeSql: String = {
    val rows = MdeBps.map { bps =>
      val (cn, cd) = mdeCoef(bps)
      s"""SELECT $bps AS mde_bps, n AS n_active, s AS n_converted,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS baseline_rate,
         |  CAST(($cn * s * (n - s) + $cd * n * n - 1) // ($cd * n * n) AS BIGINT) AS n_per_arm
         |FROM base""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ud AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
       |  FROM events GROUP BY 1, 2),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS s
       |  FROM ud)
       |$rows
       |ORDER BY mde_bps""".stripMargin
  }

  // --------------------------------------------------------------- diff_in_diff

  /** All four cell means and the DiD in ONE shared text on exact
    * integer sums (s = cents, n = counts per cell).
    */
  private val DidExpr: String =
    "(CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)" +
      " - CAST(s_ta AS DOUBLE) / CAST(n_ta AS DOUBLE))" +
      " - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)" +
      " - CAST(s_ca AS DOUBLE) / CAST(n_ca AS DOUBLE))"

  /** Difference-in-differences of mean order value, each region in
    * turn as the treatment against the other four as control, pre
    * vs post = the dataset's two time halves (the `price_volume_mix`
    * midpoint) — the quasi-experimental effect readout when a change
    * rolled out geography-by-geography (parallel-trends caveat is the
    * analyst's, not the engine's). Per region: four exact
    * conditional-sum cells from ONE pass, DiD one shared expression.
    *
    * Scale shape: one conditional-moment partial-agg pass over
    * orders⋈customer⋈nation (dims broadcast) to the 5-region frame;
    * the per-region pivot closes scalar.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val keyed = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey").as("rk"),
        col("o_orderdate").cast("date").as("od"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v_c"))
    val mid = keyed.agg(min(col("od")).as("lo"), max(col("od")).as("hi"))
      .select(expr("date_add(lo, CAST(datediff(hi, lo) / 2 AS INT))").as("mid"))
    val cells = keyed.crossJoin(broadcast(mid))
      .groupBy(col("rk"))
      .agg(
        sum(when(col("od") < col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("od") < col("mid"), col("v_c")).otherwise(0L)).as("s_a"),
        sum(when(col("od") >= col("mid"), 1L).otherwise(0L)).as("n_p"),
        sum(when(col("od") >= col("mid"), col("v_c")).otherwise(0L)).as("s_p"))
    val tot = cells.agg(sum(col("n_a")).as("tn_a"), sum(col("s_a")).as("ts_a"),
      sum(col("n_p")).as("tn_p"), sum(col("s_p")).as("ts_p"))
    cells.crossJoin(broadcast(tot))
      .select(col("rk").as("treat_regionkey"),
        col("n_a").as("n_ta"), col("s_a").as("s_ta"),
        col("n_p").as("n_tp"), col("s_p").as("s_tp"),
        (col("tn_a") - col("n_a")).as("n_ca"), (col("ts_a") - col("s_a")).as("s_ca"),
        (col("tn_p") - col("n_p")).as("n_cp"), (col("ts_p") - col("s_p")).as("s_cp"))
      .select(col("treat_regionkey"),
        col("n_ta"), col("n_tp"),
        expr(s"$DidExpr / CAST(100 AS DOUBLE)").as("did_mean_value"))
      .orderBy("treat_regionkey")
  }

  val diffInDiffSql: String =
    s"""WITH keyed AS (
       |  SELECT n.n_regionkey AS rk, CAST(o.o_orderdate AS DATE) AS od,
       |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |m AS (SELECT min(od) + CAST((max(od) - min(od)) // 2 AS INTEGER) AS mid FROM keyed),
       |cells AS (
       |  SELECT rk,
       |    CAST(sum(CASE WHEN od < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN od < mid THEN v_c ELSE 0 END) AS BIGINT) AS s_a,
       |    CAST(sum(CASE WHEN od >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       |    CAST(sum(CASE WHEN od >= mid THEN v_c ELSE 0 END) AS BIGINT) AS s_p
       |  FROM keyed, m GROUP BY rk),
       |tot AS (SELECT sum(n_a) AS tn_a, sum(s_a) AS ts_a,
       |        sum(n_p) AS tn_p, sum(s_p) AS ts_p FROM cells),
       |pv AS (
       |  SELECT rk AS treat_regionkey,
       |    n_a AS n_ta, s_a AS s_ta, n_p AS n_tp, s_p AS s_tp,
       |    CAST(tn_a - n_a AS BIGINT) AS n_ca, CAST(ts_a - s_a AS BIGINT) AS s_ca,
       |    CAST(tn_p - n_p AS BIGINT) AS n_cp, CAST(ts_p - s_p AS BIGINT) AS s_cp
       |  FROM cells, tot)
       |SELECT treat_regionkey, n_ta, n_tp,
       |  $DidExpr / CAST(100 AS DOUBLE) AS did_mean_value
       |FROM pv ORDER BY treat_regionkey""".stripMargin

  // ----------------------------------------------------------- cuped_adjustment

  /** θ, ρ² and the variance-reduction percentage in shared text. The
    * operands are cast to DOUBLE INDIVIDUALLY — each moment is an
    * exact integer < 2^53, so every cast is exact on both engines and
    * every subsequent IEEE multiply/subtract/divide is
    * correctly-rounded-identical. This matters: DuckDB's
    * int128→double conversion is NOT correctly rounded (measured 1
    * ulp off at ~1e20), so the `n·Σxy − ΣxΣy` cross-products must
    * never materialize in decimal space above 2^53 — the
    * arc_elasticity overflow lesson's second face.
    */
  private val CupedVarRedExpr: String =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
      " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"

  private val CupedThetaExpr: String =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"

  /** CUPED variance reduction for per-customer spend (pre = first
    * time half as covariate, post = second half as metric): θ =
    * cov(pre,post)/var(pre) and the guaranteed reduction 1 − ρ² —
    * the experiment-sensitivity lever every A/B platform applies
    * before `welch_t_test`/`permutation_test_value` read the metric.
    * Customers with no orders in a half enter with 0 spend (the
    * estimator's own convention). Spend quantizes to $10 units
    * (floor-div — θ and ρ² are unit-invariant, so only harmless
    * rounding noise enters) to keep Σx² < 2^53 through sf1; see
    * [[CupedVarRedExpr]] for why that bound is load-bearing.
    *
    * Scale shape: one conditional-sum pass to the customer grain,
    * one 6-moment aggregate to a single row.
    */
  def cupedAdjustment(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dated = t.orders.select(col("o_custkey"),
      col("o_orderdate").cast("date").as("od"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v_c"))
    val mid = dated.agg(min(col("od")).as("lo"), max(col("od")).as("hi"))
      .select(expr("date_add(lo, CAST(datediff(hi, lo) / 2 AS INT))").as("mid"))
    val per = dated.crossJoin(broadcast(mid))
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CASE WHEN od < mid THEN v_c ELSE 0 END) div 1000").as("x"),
        expr("sum(CASE WHEN od >= mid THEN v_c ELSE 0 END) div 1000").as("y"))
    per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .select(col("n").as("n_customers"),
        expr(CupedThetaExpr).as("theta"),
        expr(s"$CupedVarRedExpr * CAST(100 AS DOUBLE)").as("var_reduction_pct"))
  }

  val cupedAdjustmentSql: String =
    s"""WITH dated AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
       |  FROM orders),
       |m AS (SELECT min(od) + CAST((max(od) - min(od)) // 2 AS INTEGER) AS mid FROM dated),
       |per AS (
       |  SELECT o_custkey,
       |    CAST(sum(CASE WHEN od < mid THEN v_c ELSE 0 END) // 1000 AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN od >= mid THEN v_c ELSE 0 END) // 1000 AS BIGINT) AS y
       |  FROM dated, m GROUP BY o_custkey),
       |mm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM per)
       |SELECT n AS n_customers,
       |  $CupedThetaExpr AS theta,
       |  $CupedVarRedExpr * CAST(100 AS DOUBLE) AS var_reduction_pct
       |FROM mm""".stripMargin

  // ------------------------------------------------------------- holt_forecast

  private[graft] val HoltLags = 12

  /** Impulse-response weights of the zero-state Holt (double
    * exponential) filter, α = 0.5, β = 0.3, truncated at
    * [[HoltLags]]: the one-step forecast l_T + b_T is linear in the
    * inputs, so its truncated weights are computed ONCE in exact
    * BigDecimal arithmetic and shipped as integer literals (scaled
    * 1e6) — the `ewma_revenue` no-runtime-pow convention extended to
    * a two-state recursion. α/β are chosen so the truncated mass is
    * CALIBRATED (Σw = 1.0025): Holt's weight tail is NEGATIVE, so at
    * slower decays (α=0.3: Σw=1.17) cutting it leaves real mass and
    * the boundary renormalization would flatten the trend response —
    * the one filter where the EWMA prefix-renormalization trick is
    * wrong unless the truncation is already near-lossless
    * (test-pinned: a rising ramp forecasts ABOVE its last value).
    */
  private[graft] val HoltW: IndexedSeq[Long] = {
    val alpha = BigDecimal("0.5"); val beta = BigDecimal("0.3")
    val l = Array.fill(HoltLags)(BigDecimal(0))
    val t = Array.fill(HoltLags)(BigDecimal(0))
    l(0) = alpha; t(0) = beta * alpha
    for (k <- 1 until HoltLags) {
      l(k) = (BigDecimal(1) - alpha) * (l(k - 1) + t(k - 1))
      t(k) = beta * (l(k) - l(k - 1)) + (BigDecimal(1) - beta) * t(k - 1)
    }
    (0 until HoltLags).map(k =>
      ((l(k) + t(k)) * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
  }

  /** Holt (level + trend) one-step revenue forecast per region — the
    * trend-aware baseline beside `ewma_revenue` (level-only) and
    * `snaive_backtest` (seasonal-naive): EWMA keeps forecasting
    * yesterday's level through a ramp, Holt extrapolates it. The
    * exact recursion is replaced by its truncated zero-state linear
    * filter (weights above), renormalized over the window — a
    * DOCUMENTED approximation that buys bit-exact cross-engine
    * parity: integer weights × exact cents, two exact sums, one
    * division. Emitted only where the full 12-lag window exists
    * (partial-window Holt would silently degrade to a different
    * filter).
    *
    * Scale shape: identical to ewma_revenue — the orders⋈customer
    * partial agg dominates; the lag window runs per region over the
    * bounded month axis.
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    val monthly = regionMonthly(spark, dir)
    val w = Window.partitionBy("region_name").orderBy("m")
    var df = monthly
    for (k <- 0 until HoltLags)
      df = df.withColumn(s"lg$k", lag(col("rev_c"), k).over(w))
    df.filter(col(s"lg${HoltLags - 1}").isNotNull)
      .select(col("region_name"),
        (col("m") / 12).cast("int").as("yr"), (col("m") % 12 + 1).cast("int").as("mo"),
        expr("CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr(holtExpr).as("holt_forecast"))
      .orderBy("region_name", "yr", "mo")
  }

  /** `(Σ lagₖ·Wₖ) / (Σ Wₖ) / 100` over the FULL window — one string,
    * both engines (lag columns lg0..lg{n-1}).
    */
  private def holtExpr: String = {
    val num = (0 until HoltLags).map { k =>
      s"CAST(lg$k AS DECIMAL(18,0)) * ${HoltW(k)}"
    }.mkString(" + ")
    val den = HoltW.sum
    s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / CAST(100 AS DOUBLE)"
  }

  val holtForecastSql: String = {
    val lags = (0 until HoltLags).map { k =>
      s"lag(rev_c, $k) OVER (PARTITION BY region_name ORDER BY m) AS lg$k"
    }.mkString(",\n    ")
    s"""WITH monthly AS (
      |$RegionMonthlySqlCte),
      |l AS (
      |  SELECT region_name, m, rev_c,
      |    $lags
      |  FROM monthly)
      |SELECT region_name, CAST(m // 12 AS INTEGER) AS yr,
      |  CAST(m % 12 + 1 AS INTEGER) AS mo,
      |  CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
      |  $holtExpr AS holt_forecast
      |FROM l WHERE lg${HoltLags - 1} IS NOT NULL
      |ORDER BY region_name, yr, mo""".stripMargin
  }

  // ------------------------------------------------------------ fano_burstiness

  /** Fano factor with zero-days implicit (the `xyz_classification`
    * identity): F = var/mean over the M-day series =
    * (M·Σy² − (Σy)²)/(M·Σy) — sparse days contribute nothing, the
    * dense type×day grid never forms. Moments accumulate exactly in
    * decimal, then each is cast to DOUBLE INDIVIDUALLY before the
    * products (the `cuped_adjustment` convention — a (38,0)×(38,0)
    * product is a silent double-fallback in DuckDB; ADVICE r11); the
    * shared IEEE text matches bit-for-bit while moments < 2^53,
    * ≤1-ulp oracle drift past it.
    */
  private val FanoExpr: String =
    "(CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (CAST(mm AS DOUBLE) * CAST(sy AS DOUBLE))"

  /** Fano factor (variance-to-mean) of daily event counts per type —
    * the burstiness detector: a Poisson arrival process has F ≈ 1,
    * campaign- or incident-driven traffic has F ≫ 1 (pair with
    * `anomaly_rolling`, which flags WHEN; this says HOW non-Poisson
    * the process is overall). Days with zero events enter the
    * moments implicitly; every operand is an exact decimal(38,0)
    * integer and F is ONE shared expression.
    *
    * Scale shape: one partial-agg pass to the (type, day) grain, one
    * to the type grain, the scalar day count broadcast — ≤|types|
    * rows out, nothing day×type-sized materializes.
    */
  def fanoBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(col("event_type"),
        expr("CAST(to_date(timestamp_micros(ts_us)) AS DATE)").as("d"))
    val mm = daily.agg(countDistinct(col("d")).cast("decimal(38,0)").as("mm"))
    val perTypeDay = daily.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("y"))
    perTypeDay.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_active"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .crossJoin(broadcast(mm))
      .select(col("event_type"), col("n_days_active"),
        col("sy").cast("long").as("n_events"),
        expr(FanoExpr).as("fano_factor"))
      .orderBy("event_type")
  }

  val fanoBurstinessSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d FROM events),
       |mc AS (SELECT CAST(count(DISTINCT d) AS DECIMAL(38,0)) AS mm FROM daily),
       |td AS (
       |  SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
       |  FROM daily GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_active,
       |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
       |  FROM td GROUP BY 1)
       |SELECT event_type, n_days_active,
       |  CAST(sy AS BIGINT) AS n_events,
       |  $FanoExpr AS fano_factor
       |FROM m, mc
       |ORDER BY event_type""".stripMargin

  val jackknifeRegionVarSql: String = {
    val mSums = RegionKeys.flatMap { k =>
      Seq(s"CAST(sum(CASE WHEN rk = $k THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN rk = $k THEN v_c ELSE 0 END) AS DECIMAL(38,0)) AS s_$k")
    }.mkString(",\n    ")
    val thetas = RegionKeys.map(k =>
      s"CAST(s - s_$k AS DOUBLE) / CAST(n - n_$k AS DOUBLE) AS th_$k").mkString(",\n    ")
    s"""WITH keyed AS (
       |  SELECT n.n_regionkey AS rk,
       |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |m AS (
       |  SELECT
       |    $mSums
       |  FROM keyed),
       |tot AS (
       |  SELECT *, ${RegionKeys.map(k => s"n_$k").mkString(" + ")} AS n,
       |    ${RegionKeys.map(k => s"s_$k").mkString(" + ")} AS s
       |  FROM m),
       |th AS (
       |  SELECT *,
       |    $thetas
       |  FROM tot),
       |tb AS (
       |  SELECT *, (${RegionKeys.map(k => s"th_$k").mkString(" + ")}) / CAST(5 AS DOUBLE) AS th_bar
       |  FROM th)
       |SELECT CAST(n AS BIGINT) AS n_orders,
       |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE) AS mean_value,
       |  $JackSeExpr AS jack_se
       |FROM tb""".stripMargin
  }

  // ------------------------------------------------------------ cramers_v

  /** Cramér's V effect size of the event-type × value-band
    * association — `chi_square_profile` answers "is there ANY
    * dependence"; this answers "how strong", normalized to [0, 1]
    * so bands/types with different cardinalities compare. The χ²
    * sum reuses the profile's order-free trick (each cell's
    * contribution is one shared-text double division of exact
    * integers, ROUNDED to 6 decimals and summed as DECIMAL(18,6) —
    * exact addition, no float-summation-order dependence); V closes
    * with one sqrt on shared text. Three value bands (vs the
    * profile's two) give a 5×3 table, dof = (r−1)(c−1) = 8.
    *
    * Scale shape: one conditional-count partial-agg pass to the
    * 15-cell contingency, windows over the 15-row frame, one final
    * one-row aggregate — nothing event-sized after the first shuffle.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events.select(col("event_type"),
      when(col("value") >= 150.0, "high")
        .when(col("value") >= 50.0, "mid").otherwise("low").as("band"))
    val cells = ev.groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("o"))
    val t = cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy("event_type")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("band")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("contrib", expr(ChiContribExpr))
    t.agg(
        sum(expr("CAST(round(contrib, 6) AS DECIMAL(18,6))")).as("chi2d"),
        max(col("n")).as("nn"),
        countDistinct(col("event_type")).as("rr"),
        countDistinct(col("band")).as("cc"))
      .select(col("nn").cast("long").as("n_events"),
        col("rr").cast("long").as("n_rows"),
        col("cc").cast("long").as("n_cols"),
        expr("CAST((rr - 1) * (cc - 1) AS INTEGER)").as("dof"),
        expr("CAST(chi2d AS DOUBLE)").as("chi2"),
        expr("sqrt(CAST(chi2d AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(least(rr, cc) - 1 AS DOUBLE)))")
          .as("cramers_v"))
  }

  val cramersVSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CASE WHEN value >= 150.0 THEN 'high'
       |         WHEN value >= 50.0 THEN 'mid' ELSE 'low' END AS band
       |  FROM events),
       |cells AS (
       |  SELECT event_type, band, count(*) AS o FROM e GROUP BY 1, 2),
       |t AS (
       |  SELECT *,
       |    sum(o) OVER (PARTITION BY event_type) AS r,
       |    sum(o) OVER (PARTITION BY band) AS c,
       |    sum(o) OVER () AS n
       |  FROM cells),
       |x AS (SELECT *, $ChiContribExpr AS contrib FROM t),
       |a AS (
       |  SELECT sum(CAST(round(contrib, 6) AS DECIMAL(18,6))) AS chi2d,
       |    CAST(max(n) AS BIGINT) AS nn,
       |    CAST(count(DISTINCT event_type) AS BIGINT) AS rr,
       |    CAST(count(DISTINCT band) AS BIGINT) AS cc
       |  FROM x)
       |SELECT nn AS n_events, rr AS n_rows, cc AS n_cols,
       |  CAST((rr - 1) * (cc - 1) AS INTEGER) AS dof,
       |  CAST(chi2d AS DOUBLE) AS chi2,
       |  sqrt(CAST(chi2d AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(least(rr, cc) - 1 AS DOUBLE))) AS cramers_v
       |FROM a""".stripMargin

  // --------------------------------------------------------- poisson_rate_test

  /** Pairwise Poisson rate comparison across event types — "does
    * type A genuinely fire more often than type B, or is the gap
    * arrival noise": for each ordered type pair over the SAME
    * exposure window, the conditional test (under H₀ equal rates,
    * k_a | k_a + k_b is Binomial(n, ½)) gives z = (k_a − k_b) /
    * √(k_a + k_b) — exact integer counts, one shared-text sqrt, so
    * parity is structural. The rate ratio rides along as one double
    * division. The monitoring companion of `fano_burstiness` (that
    * scores WITHIN-type burstiness; this compares BETWEEN types).
    *
    * Scale shape: one count-by-type partial-agg pass (5 rows), a
    * broadcast self-join of the 5-row frame (≤ types² pairs), no
    * event-sized state after the first shuffle.
    */
  def poissonRateTest(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).events
      .groupBy(col("event_type")).agg(count(lit(1)).as("k"))
    val a = counts.select(col("event_type").as("type_a"), col("k").as("k_a"))
    val b = counts.select(col("event_type").as("type_b"), col("k").as("k_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("k_a"), col("k_b"),
        expr("CAST(k_a AS DOUBLE) / CAST(k_b AS DOUBLE)").as("rate_ratio"),
        expr("CAST(k_a - k_b AS DOUBLE) / sqrt(CAST(k_a + k_b AS DOUBLE))").as("z"))
      .orderBy("type_a", "type_b")
  }

  val poissonRateTestSql: String =
    """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k FROM events GROUP BY 1)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  a.k AS k_a, b.k AS k_b,
      |  CAST(a.k AS DOUBLE) / CAST(b.k AS DOUBLE) AS rate_ratio,
      |  CAST(a.k - b.k AS DOUBLE) / sqrt(CAST(a.k + b.k AS DOUBLE)) AS z
      |FROM c a JOIN c b ON a.event_type < b.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------- bollinger_bands

  private val BollWin = 6

  /** Full shared-text band arithmetic: mid/sd come from EXACT rolling
    * integer moments (Σy, Σy² in cents over the [[BollWin]]-month
    * frame), each cast to DOUBLE individually before any product
    * (the `cuped_adjustment` convention), so mid, sd, both bands and
    * the breakout comparison are the same IEEE bits on both engines.
    */
  private val BollMid =
    "CAST(sy AS DOUBLE) / CAST(w AS DOUBLE) / CAST(100 AS DOUBLE)"
  private val BollSd =
    "sqrt(CAST(w AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / CAST(w AS DOUBLE) / CAST(100 AS DOUBLE)"

  /** Bollinger bands over monthly region revenue: rolling
    * [[BollWin]]-month mean ± 2σ with a breakout flag — the
    * volatility-banded cousin of `anomaly_rolling` (that one z-scores
    * a point against a trailing window; this materializes the bands
    * themselves, the form dashboards chart and alerting thresholds
    * read). Population σ over the window, derived from exact rolling
    * integer moments — see [[BollSd]]; windows shorter than
    * [[BollWin]] months are left out (the standard warm-up cut).
    *
    * Scale shape: one partial-agg pass to the region×month frame,
    * then per-region ordered windows over a calendar-bounded series —
    * the `ewma_revenue` shape exactly.
    */
  def bollingerBands(spark: SparkSession, dir: String): DataFrame = {
    val monthly = regionMonthly(spark, dir)
    val w = Window.partitionBy("region_name").orderBy("m")
      .rowsBetween(-(BollWin - 1), 0)
    val bands = monthly
      .withColumn("w", count(lit(1)).over(w))
      .withColumn("sy", sum(col("rev_c").cast("decimal(38,0)")).over(w))
      .withColumn("syy", sum(expr("CAST(rev_c AS DECIMAL(38,0)) * rev_c")).over(w))
      .filter(col("w") === BollWin)
    bands.select(col("region_name"),
        (col("m") / 12).cast("int").as("yr"), (col("m") % 12 + 1).cast("int").as("mo"),
        expr("CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("revenue"),
        expr(BollMid).as("mid"),
        expr(s"$BollMid - 2 * ($BollSd)").as("lower_band"),
        expr(s"$BollMid + 2 * ($BollSd)").as("upper_band"),
        expr(("CAST(CASE WHEN CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) > %s THEN 1 " +
          "WHEN CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) < %s THEN -1 ELSE 0 END AS INTEGER)")
          .format(s"$BollMid + 2 * ($BollSd)", s"$BollMid - 2 * ($BollSd)"))
          .as("breakout"))
      .orderBy("region_name", "yr", "mo")
  }

  val bollingerBandsSql: String =
    s"""WITH monthly AS (
       |$RegionMonthlySqlCte),
       |r AS (
       |  SELECT region_name, m, rev_c,
       |    count(*) OVER win AS w,
       |    sum(CAST(rev_c AS DECIMAL(38,0))) OVER win AS sy,
       |    sum(CAST(rev_c AS DECIMAL(38,0)) * rev_c) OVER win AS syy
       |  FROM monthly
       |  WINDOW win AS (PARTITION BY region_name ORDER BY m
       |                 ROWS BETWEEN ${BollWin - 1} PRECEDING AND CURRENT ROW))
       |SELECT region_name,
       |  CAST(m // 12 AS INTEGER) AS yr, CAST(m % 12 + 1 AS INTEGER) AS mo,
       |  CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
       |  $BollMid AS mid,
       |  $BollMid - 2 * ($BollSd) AS lower_band,
       |  $BollMid + 2 * ($BollSd) AS upper_band,
       |  CAST(CASE WHEN CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) > $BollMid + 2 * ($BollSd) THEN 1
       |       WHEN CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) < $BollMid - 2 * ($BollSd) THEN -1
       |       ELSE 0 END AS INTEGER) AS breakout
       |FROM r WHERE w = $BollWin
       |ORDER BY region_name, yr, mo""".stripMargin

  // ------------------------------------------------------------- anova_oneway

  private val AnovaKeys = EventTypes.indices

  /** Between-group Σ s_k²/n_k as a FIXED-ORDER double sum over the
    * five pivoted event-type columns (the `jackknife_region_var`
    * convention — float-sum order nondeterminism sidestepped by
    * construction, every operand an exact moment cast to DOUBLE
    * individually). Magnitude ledger: c = round(value·100) ≤ ~2·10⁴,
    * so Σc² ≈ n·4·10⁸ stays under 2^53 through n ≈ 2·10⁷ events per
    * type (≥ sf10); beyond, the same pivot rides wider decimal
    * splits — only the ledger changes. (The first cut of this
    * operator ran on order totals in cents, where Σc² ≈ 10¹⁸ crossed
    * the verify-skill decimal→double cast bound and DuckDB's
    * int128→double 1-ulp drift became observable — the event-value
    * domain keeps every cast operand inside 2^53.)
    */
  private val AnovaBpart: String = AnovaKeys
    .map(k => s"CAST(s_$k AS DOUBLE) * CAST(s_$k AS DOUBLE) / CAST(n_$k AS DOUBLE)")
    .mkString(" + ")
  private val AnovaSsb =
    s"($AnovaBpart) - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE)"
  private val AnovaSsw =
    s"CAST(sqtot AS DOUBLE) - ($AnovaBpart)"

  /** One-way ANOVA across the five event types on event value:
    * F = (SSB/(k−1)) / (SSW/(N−k)) from per-type exact integer
    * moments (n, Σc, Σc² in cents) — "do the five type means
    * genuinely differ" as one omnibus test, where `welch_t_test`
    * compares a single pair (purchase vs click) and rank tests trade
    * power for robustness. η² = SSB/(SSB+SSW) rides along as the
    * effect size (the numeric companion of `cramers_v`, which scores
    * categorical association). Between/within sums of squares come
    * off the moment identities SSB = Σ s_k²/n_k − S²/N,
    * SSW = ΣΣc² − Σ s_k²/n_k — no second data pass, no per-row
    * deviations; the Σ over groups is a fixed-order pivoted-column
    * sum ([[AnovaBpart]]).
    *
    * Scale shape: ONE partial-agg conditional-sum pass over the raw
    * event log reduces to a single 15-column row; everything after
    * is scalar arithmetic.
    */
  def anovaOneway(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(spark, dir).events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mCols = AnovaKeys.flatMap { k =>
      val is = col("event_type") === EventTypes(k)
      Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(is, col("c")).otherwise(0L)).as(s"s_$k"),
        sum(when(is, col("c") * col("c")).otherwise(0L)).as(s"ss_$k"))
    }
    keyed.agg(mCols.head, mCols.tail: _*)
      .withColumn("nn", expr(AnovaKeys.map(k => s"n_$k").mkString(" + ")))
      .withColumn("stot", expr(AnovaKeys.map(k => s"s_$k").mkString(" + ")))
      .withColumn("sqtot", expr(AnovaKeys.map(k => s"ss_$k").mkString(" + ")))
      .selectExpr(
        s"CAST(${AnovaKeys.size} AS INTEGER) AS k_groups",
        "CAST(nn AS BIGINT) AS n_events",
        s"($AnovaSsb) / CAST(10000 AS DOUBLE) AS ssb",
        s"($AnovaSsw) / CAST(10000 AS DOUBLE) AS ssw",
        s"(($AnovaSsb) / CAST(${AnovaKeys.size - 1} AS DOUBLE)) / (($AnovaSsw) / CAST(nn - ${AnovaKeys.size} AS DOUBLE)) AS f_stat",
        s"($AnovaSsb) / (($AnovaSsb) + ($AnovaSsw)) AS eta_sq")
  }

  val anovaOnewaySql: String = {
    val mSums = AnovaKeys.flatMap { k =>
      val is = s"event_type = '${EventTypes(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN c ELSE 0 END) AS BIGINT) AS s_$k",
        s"CAST(sum(CASE WHEN $is THEN c * c ELSE 0 END) AS BIGINT) AS ss_$k")
    }
    s"""WITH o AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM o),
       |a AS (
       |  SELECT *,
       |    ${AnovaKeys.map(k => s"n_$k").mkString(" + ")} AS nn,
       |    ${AnovaKeys.map(k => s"s_$k").mkString(" + ")} AS stot,
       |    ${AnovaKeys.map(k => s"ss_$k").mkString(" + ")} AS sqtot
       |  FROM m)
       |SELECT CAST(${AnovaKeys.size} AS INTEGER) AS k_groups,
       |  CAST(nn AS BIGINT) AS n_events,
       |  ($AnovaSsb) / CAST(10000 AS DOUBLE) AS ssb,
       |  ($AnovaSsw) / CAST(10000 AS DOUBLE) AS ssw,
       |  (($AnovaSsb) / CAST(${AnovaKeys.size - 1} AS DOUBLE)) / (($AnovaSsw) / CAST(nn - ${AnovaKeys.size} AS DOUBLE)) AS f_stat,
       |  ($AnovaSsb) / (($AnovaSsb) + ($AnovaSsw)) AS eta_sq
       |FROM a""".stripMargin
  }

  // ------------------------------------------------------- markov_absorption

  private val AbsorbState = "purchase"
  private val AbsorbSteps = 4
  private val NonAbsorbing: Seq[Int] =
    EventTypes.zipWithIndex.filter(_._1 != AbsorbState).map(_._2)
  private def absorbP(i: Int, j: Int): String =
    s"CAST(n_${i}_$j AS DOUBLE) / CAST(nf_$i AS DOUBLE)"

  /** K-step absorption probabilities into the purchase state: with
    * purchase absorbing, A_k(s) = p(s,buy) + Σ_{s'≠buy} p(s,s')·
    * A_{k−1}(s') unrolled [[AbsorbSteps]] times — "starting from a
    * click (or error, or signup), what is the chance the user
    * reaches a purchase within k more events". The decision-ready
    * read on top of `markov_transitions` (which reports the raw
    * matrix): funnels rank states by where intervention buys the
    * most absorption. Transition counts pivot to ONE row of exact
    * integers; every probability and every unrolled step is a
    * fixed-order shared-text double expression — the `anova_oneway`
    * pivot discipline applied to matrix iteration.
    *
    * Scale shape: one lead-window pass over user-partitioned
    * sequences (the markov_transitions shuffle) reduces to a
    * 24-column row; the k-step recursion is scalar column arithmetic
    * — no joins, no per-step passes.
    */
  def markovAbsorption(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val trans = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("f"), col("next_type").as("t"))
    val mCols = NonAbsorbing.flatMap { i =>
      EventTypes.indices.map { j =>
        sum(when(col("f") === EventTypes(i) && col("t") === EventTypes(j), 1L)
          .otherwise(0L)).as(s"n_${i}_$j")
      }
    }
    val m = trans.agg(mCols.head, mCols.tail: _*)
    val withTotals = NonAbsorbing.foldLeft(m) { (df, i) =>
      df.withColumn(s"nf_$i",
        expr(EventTypes.indices.map(j => s"n_${i}_$j").mkString(" + ")))
    }
    val buy = EventTypes.indexOf(AbsorbState)
    val stepped = (1 to AbsorbSteps).foldLeft(withTotals) { (df, k) =>
      NonAbsorbing.foldLeft(df) { (d, i) =>
        val terms =
          if (k == 1) absorbP(i, buy)
          else absorbP(i, buy) + " + " + NonAbsorbing
            .map(j => s"${absorbP(i, j)} * a${k - 1}_$j").mkString(" + ")
        d.withColumn(s"a${k}_$i", expr(terms))
      }
    }
    val stackArgs = NonAbsorbing
      .map(i => s"'${EventTypes(i)}', " +
        (1 to AbsorbSteps).map(k => s"a${k}_$i").mkString(", "))
      .mkString(", ")
    stepped.selectExpr(
        s"stack(${NonAbsorbing.size}, $stackArgs) AS (state, ${(1 to AbsorbSteps).map(k => s"p_absorb_$k").mkString(", ")})")
      .orderBy("state")
  }

  val markovAbsorptionSql: String = {
    val buy = EventTypes.indexOf(AbsorbState)
    val mSums = NonAbsorbing.flatMap { i =>
      EventTypes.indices.map { j =>
        s"CAST(sum(CASE WHEN f = '${EventTypes(i)}' AND t = '${EventTypes(j)}' THEN 1 ELSE 0 END) AS BIGINT) AS n_${i}_$j"
      }
    }
    val totals = NonAbsorbing.map(i =>
      s"${EventTypes.indices.map(j => s"n_${i}_$j").mkString(" + ")} AS nf_$i")
    val stepCtes = (1 to AbsorbSteps).map { k =>
      val cols = NonAbsorbing.map { i =>
        val terms =
          if (k == 1) absorbP(i, buy)
          else absorbP(i, buy) + " + " + NonAbsorbing
            .map(j => s"${absorbP(i, j)} * a${k - 1}_$j").mkString(" + ")
        s"$terms AS a${k}_$i"
      }
      s"s$k AS (SELECT *, ${cols.mkString(", ")} FROM ${if (k == 1) "g" else s"s${k - 1}"})"
    }
    val arms = NonAbsorbing.map(i =>
      s"SELECT '${EventTypes(i)}' AS state, ${(1 to AbsorbSteps).map(k => s"a${k}_$i AS p_absorb_$k").mkString(", ")} FROM s$AbsorbSteps")
      .mkString("\n  UNION ALL ")
    s"""WITH seq AS (
       |  SELECT event_type AS f,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events),
       |trans AS (SELECT f, t FROM seq WHERE t IS NOT NULL),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM trans),
       |g AS (
       |  SELECT *,
       |    ${totals.mkString(",\n    ")}
       |  FROM m),
       |${stepCtes.mkString(",\n")},
       |u AS (
       |  $arms)
       |SELECT * FROM u ORDER BY state""".stripMargin
  }

  // ---------------------------------------------- markov_removal_attribution

  /** Markov removal-effect attribution across the event channels:
    * for each non-absorbing state r, sever every path through r
    * (drop its terms from the k-step absorption recursion, zero the
    * users who START there) and report how much of the baseline
    * purchase-reach probability disappears — effect_r = 1 −
    * P₋ᵣ/P_full — normalized into the attribution shares a budget
    * split consumes. The causal-flavored alternative to
    * `attribution_linear`/`time_decay_attribution` (which split
    * credit by position inside converting paths only; removal
    * effects price a channel by what the WHOLE traffic graph loses
    * without it — the data-driven attribution model). Start mass is
    * each user's first event; reach is [[AbsorbSteps]]-step
    * absorption. Counts pivot to ONE exact-integer row (transition
    * grid + start counts); the full and all four removed recursions
    * are fixed-order shared-text double expressions — no joins, no
    * per-removal passes.
    *
    * Scale shape: the markov_transitions lead-window shuffle + a
    * first-event row_number over the same user partitioning, each
    * reduced map-side to a bounded pivot; everything after is scalar
    * column arithmetic on a 1-row frame.
    */
  def markovRemovalAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
    val trans = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("f"), col("next_type").as("t"))
    val mCols = NonAbsorbing.flatMap { i =>
      EventTypes.indices.map { j =>
        sum(when(col("f") === EventTypes(i) && col("t") === EventTypes(j), 1L)
          .otherwise(0L)).as(s"n_${i}_$j")
      }
    }
    val m = trans.agg(mCols.head, mCols.tail: _*)
    val stCols = NonAbsorbing.map(i =>
      sum(when(col("event_type") === EventTypes(i), 1L).otherwise(0L)).as(s"st_$i"))
    val starts = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .agg(stCols.head, stCols.tail: _*)
    val base = NonAbsorbing.foldLeft(m.crossJoin(broadcast(starts))) { (df, i) =>
      df.withColumn(s"nf_$i",
        expr(EventTypes.indices.map(j => s"n_${i}_$j").mkString(" + ")))
    }
    val buy = EventTypes.indexOf(AbsorbState)
    // full recursion a{k}_{i}, then one removed recursion b{r}{k}_{i} per channel
    val full = (1 to AbsorbSteps).foldLeft(base) { (df, k) =>
      NonAbsorbing.foldLeft(df) { (d, i) =>
        val terms =
          if (k == 1) absorbP(i, buy)
          else absorbP(i, buy) + " + " + NonAbsorbing
            .map(j => s"${absorbP(i, j)} * a${k - 1}_$j").mkString(" + ")
        d.withColumn(s"a${k}_$i", expr(terms))
      }
    }
    val removed = NonAbsorbing.foldLeft(full) { (df0, r) =>
      (1 to AbsorbSteps).foldLeft(df0) { (df, k) =>
        NonAbsorbing.filter(_ != r).foldLeft(df) { (d, i) =>
          val keep = NonAbsorbing.filter(j => j != r)
          val terms =
            if (k == 1) absorbP(i, buy)
            else absorbP(i, buy) + " + " + keep
              .map(j => s"${absorbP(i, j)} * b$r${k - 1}_$j").mkString(" + ")
          d.withColumn(s"b$r${k}_$i", expr(terms))
        }
      }
    }
    val scored = removalScoreCols.foldLeft(removed) { case (d, (name, text)) =>
      d.withColumn(name, expr(text))
    }
    val arms = NonAbsorbing.map(i =>
      s"'${EventTypes(i)}', p_removed_$i, effect_$i, share_$i").mkString(", ")
    scored.selectExpr("p_full",
        s"stack(${NonAbsorbing.size}, $arms) AS (channel, p_removed, removal_effect, attribution_share)")
      .selectExpr("channel", "p_full", "p_removed", "removal_effect",
        "attribution_share")
      .orderBy("channel")
  }

  /** The shared-text scalar layer: P_full, per-removal reach, effects
    * and shares — identical strings evaluated by both engines.
    */
  private def removalScoreCols: Seq[(String, String)] = {
    val stTot = NonAbsorbing.map(i => s"st_$i").mkString(" + ")
    val pFull = "(" + NonAbsorbing.map(i =>
      s"CAST(st_$i AS DOUBLE) * a${AbsorbSteps}_$i").mkString(" + ") +
      s") / CAST($stTot AS DOUBLE)"
    val pRem = NonAbsorbing.map { r =>
      val num = NonAbsorbing.filter(_ != r).map(i =>
        s"CAST(st_$i AS DOUBLE) * b$r${AbsorbSteps}_$i").mkString(" + ")
      s"p_removed_$r" -> s"($num) / CAST($stTot AS DOUBLE)"
    }
    val eff = NonAbsorbing.map { r =>
      s"effect_$r" ->
        s"CASE WHEN p_full = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE (p_full - p_removed_$r) / p_full END"
    }
    val effSum = NonAbsorbing.map(r => s"effect_$r").mkString(" + ")
    val share = NonAbsorbing.map { r =>
      s"share_$r" ->
        s"CASE WHEN ($effSum) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE effect_$r / ($effSum) END"
    }
    (("p_full" -> pFull) +: pRem) ++ eff ++ share
  }

  val markovRemovalAttributionSql: String = {
    val buy = EventTypes.indexOf(AbsorbState)
    val mSums = NonAbsorbing.flatMap { i =>
      EventTypes.indices.map { j =>
        s"CAST(sum(CASE WHEN f = '${EventTypes(i)}' AND t = '${EventTypes(j)}' THEN 1 ELSE 0 END) AS BIGINT) AS n_${i}_$j"
      }
    }
    val stSums = NonAbsorbing.map(i =>
      s"CAST(sum(CASE WHEN event_type = '${EventTypes(i)}' THEN 1 ELSE 0 END) AS BIGINT) AS st_$i")
    val totals = NonAbsorbing.map(i =>
      s"${EventTypes.indices.map(j => s"n_${i}_$j").mkString(" + ")} AS nf_$i")
    val fullCtes = (1 to AbsorbSteps).map { k =>
      val cols = NonAbsorbing.map { i =>
        val terms =
          if (k == 1) absorbP(i, buy)
          else absorbP(i, buy) + " + " + NonAbsorbing
            .map(j => s"${absorbP(i, j)} * a${k - 1}_$j").mkString(" + ")
        s"$terms AS a${k}_$i"
      }
      s"s$k AS (SELECT *, ${cols.mkString(", ")} FROM ${if (k == 1) "g" else s"s${k - 1}"})"
    }
    val remCtes = NonAbsorbing.flatMap { r =>
      (1 to AbsorbSteps).map { k =>
        val keep = NonAbsorbing.filter(_ != r)
        val cols = keep.map { i =>
          val terms =
            if (k == 1) absorbP(i, buy)
            else absorbP(i, buy) + " + " + keep
              .map(j => s"${absorbP(i, j)} * b$r${k - 1}_$j").mkString(" + ")
          s"$terms AS b$r${k}_$i"
        }
        val prev =
          if (r == NonAbsorbing.head && k == 1) s"s$AbsorbSteps"
          else if (k == 1) {
            val pr = NonAbsorbing(NonAbsorbing.indexOf(r) - 1)
            s"t${pr}_$AbsorbSteps"
          } else s"t${r}_${k - 1}"
        s"t${r}_$k AS (SELECT *, ${cols.mkString(", ")} FROM $prev)"
      }
    }
    val scoreCols = removalScoreCols
    val scoreSelect = scoreCols.map { case (n, t) => s"$t AS $n" }
    // effects/shares reference p_full / effect columns: layer the CTEs
    val lastRem = s"t${NonAbsorbing.last}_$AbsorbSteps"
    val arms = NonAbsorbing.map(i =>
      s"SELECT '${EventTypes(i)}' AS channel, p_full, p_removed_$i AS p_removed, effect_$i AS removal_effect, share_$i AS attribution_share FROM sc3")
      .mkString("\n  UNION ALL ")
    s"""WITH seq AS (
       |  SELECT event_type AS f,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
       |  FROM events),
       |trans AS (SELECT f, t FROM seq WHERE t IS NOT NULL),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM trans),
       |st AS (
       |  SELECT
       |    ${stSums.mkString(",\n    ")}
       |  FROM (
       |    SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |    FROM events) z WHERE rn = 1),
       |g AS (
       |  SELECT *,
       |    ${totals.mkString(",\n    ")}
       |  FROM m, st),
       |${fullCtes.mkString(",\n")},
       |${remCtes.mkString(",\n")},
       |sc1 AS (SELECT *, ${scoreSelect.take(1 + NonAbsorbing.size).mkString(", ")} FROM $lastRem),
       |sc2 AS (SELECT *, ${scoreSelect.slice(1 + NonAbsorbing.size, 1 + 2 * NonAbsorbing.size).mkString(", ")} FROM sc1),
       |sc3 AS (SELECT *, ${scoreSelect.drop(1 + 2 * NonAbsorbing.size).mkString(", ")} FROM sc2),
       |u AS (
       |  $arms)
       |SELECT * FROM u ORDER BY channel""".stripMargin
  }

  // ------------------------------------------------------ seasonal_decompose

  /** OLS slope over (x, y) exact moments — each cast to DOUBLE
    * individually, ONE shared text (the `regression_trend` form on
    * the month-offset grid x = m − m₀, which keeps Σx² tiny).
    */
  private val SdSlope =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"

  /** Trend value at month offset x, in dollars — intercept + slope·x
    * off the same moment row, shared text.
    */
  private val SdTrend =
    s"((CAST(sy AS DOUBLE) - ($SdSlope) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)" +
      s" + ($SdSlope) * CAST(x AS DOUBLE)) / CAST(100 AS DOUBLE)"

  /** Additive seasonal decomposition of monthly revenue: y = trend +
    * seasonal + residual — trend the exact-moment OLS line
    * ([[SdSlope]]), seasonal the per-calendar-month mean of the
    * detrended series (round-then-decimal sum — values are
    * revenue-scale, well inside the 6-dp grid), residual the
    * remainder. The table every seasonality-aware forecast reads
    * first: `seasonal_index` gives the weekday multiplier and
    * `holt_forecast` smooths the level, but neither SEPARATES the
    * series into the three additive components an analyst charts.
    * Both derived columns are shared-text doubles off exact integer
    * moments, so all three components hash-match.
    *
    * Scale shape: one partial-agg pass to the calendar-bounded
    * monthly frame; the moment row broadcasts back; the seasonal
    * means group 12 calendar cells. Nothing beyond the month frame
    * ever shuffles.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val m0 = monthly.agg(min(col("m")).as("m0"))
    val base = monthly.crossJoin(broadcast(m0))
      .select(col("m"), (col("m") - col("m0")).as("x"), col("y"))
    val mom = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val detr = base.crossJoin(broadcast(mom))
      .withColumn("detr", expr(s"CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - ($SdTrend)"))
      .withColumn("trend", expr(SdTrend))
      .withColumn("moy", expr("CAST(m % 12 AS INTEGER)"))
    val seas = detr.groupBy(col("moy"))
      .agg(sum(expr("CAST(round(detr, 6) AS DECIMAL(28,6))")).as("sdetr"),
        count(lit(1)).as("nm"))
      .selectExpr("moy",
        "CAST(sdetr AS DOUBLE) / CAST(nm AS DOUBLE) AS seasonal")
    detr.join(broadcast(seas), "moy")
      .selectExpr("CAST(m div 12 AS INTEGER) AS yr",
        "CAST(m % 12 + 1 AS INTEGER) AS mo",
        "CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue",
        "trend", "seasonal",
        "detr - seasonal AS residual")
      .orderBy("yr", "mo")
  }

  val seasonalDecomposeSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |m0 AS (SELECT min(m) AS m0 FROM monthly),
       |base AS (SELECT m, m - m0 AS x, y FROM monthly, m0),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM base),
       |d AS (
       |  SELECT m, x, y,
       |    CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - ($SdTrend) AS detr,
       |    $SdTrend AS trend,
       |    CAST(m % 12 AS INTEGER) AS moy
       |  FROM base, mom),
       |seas AS (
       |  SELECT moy,
       |    CAST(sum(CAST(round(detr, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS seasonal
       |  FROM d GROUP BY 1)
       |SELECT CAST(m // 12 AS INTEGER) AS yr, CAST(m % 12 + 1 AS INTEGER) AS mo,
       |  CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
       |  trend, seasonal,
       |  detr - seasonal AS residual
       |FROM d JOIN seas USING (moy)
       |ORDER BY yr, mo""".stripMargin

  // ------------------------------------------------------------- anova_twoway

  private val TwA = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val TwB = Seq("A", "N", "R")

  /** Fixed-order Σ s²/n over a list of (s, n) column-name pairs —
    * every operand an exact integer cast to DOUBLE individually, the
    * `anova_oneway` pivot convention extended to the 15-cell grid.
    */
  private def twPart(pairs: Seq[(String, String)]): String =
    pairs.map { case (s, n) =>
      s"CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE)" }
      .mkString(" + ")

  /** Two-way ANOVA on the order→ship lag by order priority ×
    * return flag (the 5×3 cell-means model): main-effect and
    * interaction sums of squares off ONE conditional-moment pass —
    * SSA = Σ s_a²/n_a − S²/N on the priority marginals, SSB on the
    * flag marginals, SSAB = SScells − SSA − SSB (the sequential
    * decomposition, documented — the design is unbalanced, so
    * Type-I/II/III differ and this pins Type I), SSW = ΣΣy² −
    * SScells. Answers "does fulfilment speed shift with priority,
    * with outcome, or only with their combination" — the factorial
    * follow-up to `anova_oneway`'s single factor and
    * `ship_lag_profile`'s per-supplier read. All 23 marginal/total
    * moments are integer sums of the 45 cell moments (exact), and
    * every Σ of double parts is fixed-order ([[twPart]]); lag² keeps
    * ΣΣy² under 2^53 through ≥ sf100.
    *
    * Scale shape: one lineitem⋈orders equi-join (the ship-lag grain),
    * reduced map-side to a single 45-column moment row; everything
    * after is scalar arithmetic on that row.
    */
  def anovaTwoway(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val keyed = t.lineitem
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_shipdate").cast("date").as("ship_d"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").cast("date").as("order_d")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("a"), col("l_returnflag").as("b"),
        datediff(col("ship_d"), col("order_d")).cast("long").as("y"))
    val mCols = for {
      (av, i) <- TwA.zipWithIndex
      (bv, j) <- TwB.zipWithIndex
      c <- {
        val is = col("a") === av && col("b") === bv
        Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_${i}_$j"),
          sum(when(is, col("y")).otherwise(0L)).as(s"s_${i}_$j"),
          sum(when(is, col("y") * col("y")).otherwise(0L)).as(s"ss_${i}_$j"))
      }
    } yield c
    val cellPairs = for {
      i <- TwA.indices; j <- TwB.indices
    } yield (s"s_${i}_$j", s"n_${i}_$j")
    val m = keyed.agg(mCols.head, mCols.tail: _*)
    val withMarg = TwA.indices.foldLeft(
        TwB.indices.foldLeft(m) { (df, j) =>
          df.withColumn(s"nb_$j", expr(TwA.indices.map(i => s"n_${i}_$j").mkString(" + ")))
            .withColumn(s"sb_$j", expr(TwA.indices.map(i => s"s_${i}_$j").mkString(" + ")))
        }) { (df, i) =>
        df.withColumn(s"na_$i", expr(TwB.indices.map(j => s"n_${i}_$j").mkString(" + ")))
          .withColumn(s"sa_$i", expr(TwB.indices.map(j => s"s_${i}_$j").mkString(" + ")))
      }
      .withColumn("nn", expr(TwA.indices.map(i => s"na_$i").mkString(" + ")))
      .withColumn("stot", expr(TwA.indices.map(i => s"sa_$i").mkString(" + ")))
      .withColumn("sqtot", expr(
        (for { i <- TwA.indices; j <- TwB.indices } yield s"ss_${i}_$j").mkString(" + ")))
    val corr = "CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE)"
    val aPart = twPart(TwA.indices.map(i => (s"sa_$i", s"na_$i")))
    val bPart = twPart(TwB.indices.map(j => (s"sb_$j", s"nb_$j")))
    val cPart = twPart(cellPairs)
    val ssa = s"(($aPart) - ($corr))"
    val ssb = s"(($bPart) - ($corr))"
    val ssc = s"(($cPart) - ($corr))"
    val ssab = s"(($ssc) - ($ssa) - ($ssb))"
    val ssw = s"(CAST(sqtot AS DOUBLE) - ($cPart))"
    val dfw = s"CAST(nn - ${TwA.size * TwB.size} AS DOUBLE)"
    withMarg.selectExpr(
      "CAST(nn AS BIGINT) AS n_lines",
      s"$ssa AS ss_priority",
      s"$ssb AS ss_returnflag",
      s"$ssab AS ss_interaction",
      s"$ssw AS ss_within",
      s"(($ssa) / CAST(${TwA.size - 1} AS DOUBLE)) / (($ssw) / $dfw) AS f_priority",
      s"(($ssb) / CAST(${TwB.size - 1} AS DOUBLE)) / (($ssw) / $dfw) AS f_returnflag",
      s"(($ssab) / CAST(${(TwA.size - 1) * (TwB.size - 1)} AS DOUBLE)) / (($ssw) / $dfw) AS f_interaction")
  }

  val anovaTwowaySql: String = {
    val mSums = (for {
      (av, i) <- TwA.zipWithIndex
      (bv, j) <- TwB.zipWithIndex
      c <- {
        val is = s"a = '$av' AND b = '$bv'"
        Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_${i}_$j",
          s"CAST(sum(CASE WHEN $is THEN y ELSE 0 END) AS BIGINT) AS s_${i}_$j",
          s"CAST(sum(CASE WHEN $is THEN y * y ELSE 0 END) AS BIGINT) AS ss_${i}_$j")
      }
    } yield c)
    val cellPairs = for {
      i <- TwA.indices; j <- TwB.indices
    } yield (s"s_${i}_$j", s"n_${i}_$j")
    val margs =
      TwB.indices.flatMap(j => Seq(
        s"${TwA.indices.map(i => s"n_${i}_$j").mkString(" + ")} AS nb_$j",
        s"${TwA.indices.map(i => s"s_${i}_$j").mkString(" + ")} AS sb_$j")) ++
      TwA.indices.flatMap(i => Seq(
        s"${TwB.indices.map(j => s"n_${i}_$j").mkString(" + ")} AS na_$i",
        s"${TwB.indices.map(j => s"s_${i}_$j").mkString(" + ")} AS sa_$i"))
    val corr = "CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE)"
    val aPart = twPart(TwA.indices.map(i => (s"sa_$i", s"na_$i")))
    val bPart = twPart(TwB.indices.map(j => (s"sb_$j", s"nb_$j")))
    val cPart = twPart(cellPairs)
    val ssa = s"(($aPart) - ($corr))"
    val ssb = s"(($bPart) - ($corr))"
    val ssc = s"(($cPart) - ($corr))"
    val ssab = s"(($ssc) - ($ssa) - ($ssb))"
    val ssw = s"(CAST(sqtot AS DOUBLE) - ($cPart))"
    val dfw = s"CAST(nn - ${TwA.size * TwB.size} AS DOUBLE)"
    s"""WITH k AS (
       |  SELECT o_orderpriority AS a, l_returnflag AS b,
       |    CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS y
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM k),
       |g AS (
       |  SELECT *,
       |    ${margs.mkString(",\n    ")}
       |  FROM m),
       |h AS (
       |  SELECT *,
       |    ${TwA.indices.map(i => s"na_$i").mkString(" + ")} AS nn,
       |    ${TwA.indices.map(i => s"sa_$i").mkString(" + ")} AS stot,
       |    ${(for { i <- TwA.indices; j <- TwB.indices } yield s"ss_${i}_$j").mkString(" + ")} AS sqtot
       |  FROM g)
       |SELECT CAST(nn AS BIGINT) AS n_lines,
       |  $ssa AS ss_priority,
       |  $ssb AS ss_returnflag,
       |  $ssab AS ss_interaction,
       |  $ssw AS ss_within,
       |  (($ssa) / CAST(${TwA.size - 1} AS DOUBLE)) / (($ssw) / $dfw) AS f_priority,
       |  (($ssb) / CAST(${TwB.size - 1} AS DOUBLE)) / (($ssw) / $dfw) AS f_returnflag,
       |  (($ssab) / CAST(${(TwA.size - 1) * (TwB.size - 1)} AS DOUBLE)) / (($ssw) / $dfw) AS f_interaction
       |FROM h""".stripMargin
  }

  // ------------------------------------------------------ bootstrap_poisson_ci

  private[graft] val BootB = 40

  /** Cumulative Poisson(1) CDF thresholds scaled to the 32-bit hash
    * domain, computed once in BigDecimal and shipped as exact integer
    * literals — the weight draw is pure integer comparison on both
    * engines (the `mde_sample_size` literal-rational discipline).
    */
  private val BootThresholds: Seq[Long] = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    .map(p => (BigDecimal(p) * BigDecimal(4294967296L)).toLong)

  private def bootWeightCase(h: String): String =
    BootThresholds.zipWithIndex
      .map { case (t, i) => s"WHEN $h < $t THEN $i" }
      .mkString("CASE ", " ", " ELSE 6 END")

  /** Bootstrap CI for mean daily revenue by the POISSON bootstrap —
    * the at-scale form of the resampling bootstrap (per observation
    * and resample b, a deterministic Poisson(1) weight stands in for
    * the multinomial draw; the classic big-data substitution because
    * it needs no global index and runs in ONE pass with B weight
    * columns). Weights come from md5(day, b) compared against exact
    * integer CDF thresholds ([[BootThresholds]]); each resample's
    * weighted total/count are exact integers; the B means then rank
    * and ranks 2 / B−1 of [[BootB]] = 40 give the ~95% percentile
    * interval. The nonparametric uncertainty companion of
    * `jackknife_region_var` (delete-one) and `permutation_test_value`
    * (null resampling) — this one quantifies the SAMPLING error of a
    * point estimate.
    *
    * Scale shape: one partial-agg pass to the calendar-bounded daily
    * frame, one B-column conditional-moment pass over it (column
    * count scales with B, never row count), then rank/select on a
    * B-row frame.
    */
  def bootstrapPoissonCi(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val base = Seq(count(lit(1)).as("nd"),
      sum(col("y")).as("stot"))
    val perB = (1 to BootB).flatMap { b =>
      val h = s"CAST(conv(substring(md5(concat(CAST(d AS STRING), '_$b')), 1, 8), 16, 10) AS BIGINT)"
      val w = bootWeightCase(h)
      Seq(sum(expr(w)).as(s"sw_$b"),
        sum(expr(s"($w) * y")).as(s"sy_$b"))
    }
    val m = daily.agg((base ++ perB).head, (base ++ perB).tail: _*)
    val stackArgs = (1 to BootB)
      .map(b => s"$b, CAST(sy_$b AS DOUBLE) / nullif(CAST(sw_$b AS DOUBLE), 0) / CAST(100 AS DOUBLE)")
      .mkString(", ")
    val rows = m.selectExpr("nd", "stot", s"stack($BootB, $stackArgs) AS (b, mean_b)")
    // NULLS LAST explicitly (ADVICE r12): a zero-total-weight resample
    // yields NULL mean_b via nullif, and Spark's bare ASC sorts NULLs
    // first while DuckDB's sorts them last — the rank (and so the CI
    // picks) would shift between engines in that corner
    rows.withColumn("r", row_number().over(
        Window.orderBy(col("mean_b").asc_nulls_last, col("b"))))
      .agg(max(col("nd")).as("nd_l"), max(col("stot")).as("stot_l"),
        min(when(col("r") === 2, col("mean_b"))).as("lo"),
        min(when(col("r") === BootB - 1, col("mean_b"))).as("hi"))
      .selectExpr(
        "CAST(nd_l AS BIGINT) AS n_days",
        "CAST(stot_l AS DOUBLE) / CAST(nd_l AS DOUBLE) / CAST(100 AS DOUBLE) AS point_mean",
        "lo AS ci_lo", "hi AS ci_hi",
        s"CAST($BootB AS BIGINT) AS n_boot")
  }

  val bootstrapPoissonCiSql: String = {
    val mSums = Seq(
      "CAST(count(*) AS BIGINT) AS nd",
      "CAST(sum(y) AS BIGINT) AS stot") ++
      (1 to BootB).flatMap { b =>
        val h = s"('0x' || substr(md5(CAST(d AS VARCHAR) || '_$b'), 1, 8))::BIGINT"
        val w = bootWeightCase(h)
        Seq(s"CAST(sum($w) AS BIGINT) AS sw_$b",
          s"CAST(sum(($w) * y) AS BIGINT) AS sy_$b")
      }
    val arms = (1 to BootB)
      .map(b => s"SELECT nd, stot, $b AS b, CAST(sy_$b AS DOUBLE) / nullif(CAST(sw_$b AS DOUBLE), 0) / CAST(100 AS DOUBLE) AS mean_b FROM m")
      .mkString("\n  UNION ALL ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM daily),
       |rows_b AS (
       |  $arms),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY mean_b NULLS LAST, b) AS r FROM rows_b)
       |SELECT CAST(max(nd) AS BIGINT) AS n_days,
       |  CAST(max(stot) AS DOUBLE) / CAST(max(nd) AS DOUBLE) / CAST(100 AS DOUBLE) AS point_mean,
       |  min(CASE WHEN r = 2 THEN mean_b END) AS ci_lo,
       |  min(CASE WHEN r = ${BootB - 1} THEN mean_b END) AS ci_hi,
       |  CAST($BootB AS BIGINT) AS n_boot
       |FROM ranked""".stripMargin
  }

  // ----------------------------------------------------------------- psi_drift

  private val PsiBins = 16

  /** Population Stability Index of the order-value distribution
    * between the first and second calendar halves — the scorecard-
    * monitoring drift metric `dist_drift` (per-bin shift) and
    * `tv_distance_drift` (worst-case mass move) don't give: PSI
    * weights each bin's shift by the LOG of its proportion ratio, so
    * it reacts to tail bins emptying out, the failure mode a flat
    * percent delta underweights. Bins are the `dist_drift` fixed
    * equal-width convention; proportions are Laplace-smoothed
    * (+1 per bin) so empty bins stay in-domain, and EVERY bin
    * including empty ones contributes (a literal 0..15 spine
    * left-joins the observed counts). The logarithm is
    * [[graft.functions.ExactLn]] — sqrt-reduction + Horner series in
    * correctly-rounded IEEE ops only, bit-identical on both engines —
    * the repo's first transcendental that survives the hash gate.
    * Convention PSI < 0.1 stable / 0.1–0.25 shifting / > 0.25 drifted.
    *
    * Scale shape: one orders pass partial-aggregates to 16 bins; the
    * spine join, smoothing, and ln run on the 16-row frame. Count
    * factors cast to double individually (each < 2⁵³ to ~10¹⁵ rows);
    * ratio domain [2⁻⁴⁰, 2⁴⁰] holds while totals < 2³⁹.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val o = Tables(spark, dir).orders
      .select(unix_micros(col("o_orderdate").cast("timestamp")).as("t"),
        col("o_totalprice").as("v"))
    val bounds = o.agg(
      min(col("v")).as("lo"), max(col("v")).as("hi"),
      expr("(min(t) + max(t)) div 2").as("mid"))
    val counts = o.crossJoin(broadcast(bounds))
      .select(
        when(col("hi") === col("lo"), 0)
          .otherwise(least(
            floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / lit(PsiBins.toDouble))).cast("int"),
            lit(PsiBins - 1))).as("bin"),
        (col("t") <= col("mid")).as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("rc"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
    val spine = spark.range(PsiBins).select(col("id").cast("int").as("bin"))
    val full = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("rc"), lit(0L)).as("ref_cnt"),
        coalesce(col("cc"), lit(0L)).as("cur_cnt"))
      .withColumn("rt", sum(col("ref_cnt")).over(Window.partitionBy()))
      .withColumn("ct", sum(col("cur_cnt")).over(Window.partitionBy()))
    full
      .withColumn("ratio", expr(PsiRatioExpr))
      .withColumn("__y", expr(ExactLn.yExpr("ratio")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("contrib", expr(s"($PsiDeltaExpr) * ${ExactLn.lnExpr("__z")}"))
      .withColumn("psi_total",
        expr("CAST(sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE)"))
      .selectExpr("bin", "ref_cnt", "cur_cnt",
        s"$PsiRefPct AS ref_pct", s"$PsiCurPct AS cur_pct",
        "contrib AS psi_contrib", "psi_total")
      .orderBy("bin")
  }

  private val PsiRefPct =
    s"(CAST(ref_cnt + 1 AS DOUBLE) / CAST(rt + $PsiBins AS DOUBLE))"
  private val PsiCurPct =
    s"(CAST(cur_cnt + 1 AS DOUBLE) / CAST(ct + $PsiBins AS DOUBLE))"
  private val PsiDeltaExpr = s"$PsiCurPct - $PsiRefPct"
  private val PsiRatioExpr =
    s"(CAST(cur_cnt + 1 AS DOUBLE) * CAST(rt + $PsiBins AS DOUBLE))" +
      s" / (CAST(ref_cnt + 1 AS DOUBLE) * CAST(ct + $PsiBins AS DOUBLE))"

  val psiDriftSql: String = {
    import graft.functions.ExactLn
    s"""WITH o AS (SELECT epoch_us(o_orderdate) AS t, o_totalprice AS v FROM orders),
       |b AS (SELECT min(v) AS lo, max(v) AS hi,
       |             (min(t) + max(t)) // 2 AS mid FROM o),
       |h AS (SELECT CAST(CASE WHEN hi = lo THEN 0
       |        ELSE least(CAST(floor((v - lo) / ((hi - lo) / ${PsiBins.toDouble})) AS INTEGER), ${PsiBins - 1}) END AS INTEGER) AS bin,
       |        t <= mid AS is_ref
       |      FROM o, b),
       |g AS (SELECT bin,
       |        CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS rc,
       |        CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
       |      FROM h GROUP BY bin),
       |spine AS (SELECT CAST(s.x AS INTEGER) AS bin FROM generate_series(0, ${PsiBins - 1}) AS s(x)),
       |full_g AS (
       |  SELECT spine.bin,
       |    CAST(coalesce(rc, 0) AS BIGINT) AS ref_cnt,
       |    CAST(coalesce(cc, 0) AS BIGINT) AS cur_cnt
       |  FROM spine LEFT JOIN g ON spine.bin = g.bin),
       |tt AS (
       |  SELECT *,
       |    sum(ref_cnt) OVER () AS rt, sum(cur_cnt) OVER () AS ct
       |  FROM full_g),
       |r AS (SELECT *, $PsiRatioExpr AS ratio FROM tt),
       |y AS (SELECT *, ${ExactLn.yExpr("ratio")} AS __y FROM r),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |c AS (SELECT *, ($PsiDeltaExpr) * ${ExactLn.lnExpr("__z")} AS contrib FROM z)
       |SELECT bin, ref_cnt, cur_cnt,
       |  $PsiRefPct AS ref_pct, $PsiCurPct AS cur_pct,
       |  contrib AS psi_contrib,
       |  CAST(sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE) AS psi_total
       |FROM c ORDER BY bin""".stripMargin
  }

  // ------------------------------------------------------ js_divergence_drift

  /** Jensen–Shannon divergence of the event-type mix between the
    * first and second time halves — the bounded (≤ ln 2), symmetric
    * information-theoretic companion of `tv_distance_drift`: TV
    * reports worst-case mass movement, JS weights every category's
    * shift by how SURPRISING it is against the mixture, so a rare
    * type doubling moves JS long before it moves TV. Ratios to the
    * mixture reduce to 2·a·tb / (a·tb + b·ta) — count factors cast
    * to double individually (sub-2⁵³), ln is the engine-exact
    * [[graft.functions.ExactLn]], zero-count terms vanish by the
    * CASE guard exactly as the p·ln p limit demands.
    *
    * Scale shape: one events pass partial-aggregates to the ≤ 8-type
    * frame; everything after runs on bounded rows. Ratio domain
    * needs totals < 2³⁹ (ratio ≥ 2/total when a category is present).
    */
  def jsDivergenceDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val ev = Tables(spark, dir).events
    val mid = ev.agg(expr("CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT)").as("mid"))
    val counts = ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"))
      .agg(sum(when(col("ts_us") <= col("mid"), 1L).otherwise(0L)).as("cnt_first"),
        sum(when(col("ts_us") > col("mid"), 1L).otherwise(0L)).as("cnt_second"))
      .withColumn("tot_a", sum(col("cnt_first")).over(Window.partitionBy()))
      .withColumn("tot_b", sum(col("cnt_second")).over(Window.partitionBy()))
    counts
      .withColumn("da", expr("CAST(cnt_first AS DOUBLE) * CAST(tot_b AS DOUBLE)"))
      .withColumn("db", expr("CAST(cnt_second AS DOUBLE) * CAST(tot_a AS DOUBLE)"))
      .withColumn("rp", expr("2.0 * da / (da + db)"))
      .withColumn("rq", expr("2.0 * db / (da + db)"))
      .withColumn("__ya", expr(ExactLn.yExpr("rp")))
      .withColumn("__za", expr(ExactLn.zExpr("__ya")))
      .withColumn("__yb", expr(ExactLn.yExpr("rq")))
      .withColumn("__zb", expr(ExactLn.zExpr("__yb")))
      .withColumn("contrib", expr(
        s"0.5 * ((CASE WHEN cnt_first = 0 THEN 0.0 ELSE ($JsP) * ${ExactLn.lnExpr("__za")} END)" +
          s" + (CASE WHEN cnt_second = 0 THEN 0.0 ELSE ($JsQ) * ${ExactLn.lnExpr("__zb")} END))"))
      .withColumn("js_total",
        expr("CAST(sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE)"))
      .selectExpr("event_type", "cnt_first", "cnt_second",
        s"$JsP AS p_first", s"$JsQ AS p_second",
        "contrib AS js_contrib", "js_total")
      .orderBy("event_type")
  }

  private val JsP = "(CAST(cnt_first AS DOUBLE) / CAST(tot_a AS DOUBLE))"
  private val JsQ = "(CAST(cnt_second AS DOUBLE) / CAST(tot_b AS DOUBLE))"

  val jsDivergenceDriftSql: String = {
    import graft.functions.ExactLn
    s"""WITH mid AS (
       |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS mid
       |  FROM events),
       |counts AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END) AS BIGINT) AS cnt_first,
       |    CAST(sum(CASE WHEN epoch_us(ts) > mid THEN 1 ELSE 0 END) AS BIGINT) AS cnt_second
       |  FROM events, mid GROUP BY event_type),
       |t AS (
       |  SELECT *, sum(cnt_first) OVER () AS tot_a, sum(cnt_second) OVER () AS tot_b
       |  FROM counts),
       |d AS (SELECT *,
       |    CAST(cnt_first AS DOUBLE) * CAST(tot_b AS DOUBLE) AS da,
       |    CAST(cnt_second AS DOUBLE) * CAST(tot_a AS DOUBLE) AS db
       |  FROM t),
       |rr AS (SELECT *, 2.0 * da / (da + db) AS rp, 2.0 * db / (da + db) AS rq FROM d),
       |ya AS (SELECT *, ${ExactLn.yExpr("rp")} AS __ya, ${ExactLn.yExpr("rq")} AS __yb FROM rr),
       |za AS (SELECT *, ${ExactLn.zExpr("__ya")} AS __za, ${ExactLn.zExpr("__yb")} AS __zb FROM ya),
       |c AS (SELECT *,
       |    0.5 * ((CASE WHEN cnt_first = 0 THEN 0.0 ELSE ($JsP) * ${ExactLn.lnExpr("__za")} END)
       |      + (CASE WHEN cnt_second = 0 THEN 0.0 ELSE ($JsQ) * ${ExactLn.lnExpr("__zb")} END)) AS contrib
       |  FROM za)
       |SELECT event_type, cnt_first, cnt_second,
       |  $JsP AS p_first, $JsQ AS p_second,
       |  contrib AS js_contrib,
       |  CAST(sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE) AS js_total
       |FROM c ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- g_test

  /** G-test of independence (log-likelihood ratio) on the order
    * priority × status grid — the chi-square family's likelihood
    * twin: G = 2·Σ O·ln(O/E) is additive under partitioning of the
    * grid (chi² isn't), which is what hierarchical slicing of a
    * contingency table needs. Expected counts stay RATIONAL
    * (E = R·C/N), so the ratio O·N/(R·C) is four sub-2⁵³ exact
    * counts cast to double individually; ln is engine-exact
    * [[graft.functions.ExactLn]]; observed-zero cells contribute 0
    * (the O·ln O limit) by never appearing in the grouped grid.
    *
    * Scale shape: one orders pass partial-aggregates to the ≤ 15-cell
    * grid; windows and ln run on those rows. Ratio domain needs
    * N < 2⁴⁰.
    */
  def gTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val cells = Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("r", sum(col("o")).over(Window.partitionBy("o_orderpriority")))
      .withColumn("c", sum(col("o")).over(Window.partitionBy("o_orderstatus")))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .withColumn("ratio", expr(GRatioExpr))
      .withColumn("__y", expr(ExactLn.yExpr("ratio")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("contrib",
        expr(s"2.0 * CAST(o AS DOUBLE) * ${ExactLn.lnExpr("__z")}"))
      .agg(
        sum(expr("CAST(round(contrib, 6) AS DECIMAL(18,6))")).as("gd"),
        max(col("n")).as("nn"),
        countDistinct(col("o_orderpriority")).as("rr"),
        countDistinct(col("o_orderstatus")).as("cc"))
      .select(col("nn").cast("long").as("n_orders"),
        col("rr").cast("long").as("n_rows"),
        col("cc").cast("long").as("n_cols"),
        expr("CAST((rr - 1) * (cc - 1) AS INTEGER)").as("dof"),
        expr("CAST(gd AS DOUBLE)").as("g_stat"))
  }

  private val GRatioExpr =
    "(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)) / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"

  // --------------------------------------------------------- kruskal_wallis

  private[graft] val PrioKeys = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Kruskal–Wallis H across the five order priorities on order value
    * — the k-group generalization of `mann_whitney` (two groups) and
    * the rank-robust twin of `anova_oneway` (which assumes
    * near-normal residuals; order totals are heavy-tailed, exactly
    * where rank tests keep their power). Average ranks with full tie
    * handling stay EXACT: avg-rank·2 = 2·cum_≤v − n_v + 1 is integer,
    * per-group doubled rank sums R2_g are exact BIGINT, and the tie
    * term Σ(n_v³ − n_v) rides exact DECIMAL; H and its tie-corrected
    * form are fixed-order double expressions over five pivoted
    * moments (the `anova_oneway` discipline).
    *
    * Scale shape: orders partial-aggregate to (value, priority)
    * cells, then to distinct values; the global cumulative count runs
    * as a [[Commerce.globalRankCumsum]] two-level prefix sum (banded
    * buckets — no unpartitioned window over the value frame); the
    * join back is distinct-value-keyed. Magnitude ledger: R2_g ≤ 2N²
    * casts exactly to double through N ≈ 6·10⁷ orders (~sf40);
    * beyond, the same pivot rides wider decimals with a lifted final
    * cast — the plan does not change.
    */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    // explicit-count hash(c) exchange (round 19): the raw scan is one
    // task (single row group at test scale) and AQE byte-coalescing
    // kept every downstream stage at 1 partition — 12 serial stages,
    // 1.9 s of single-core CPU. hash(c) clusters both value-grid
    // aggregates (c ⊆ (c, g)) and the perVG⋈ranked join, so the spread
    // adds no further exchange; the banded rank re-shuffles by band
    // either way.
    val o = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        (money(col("o_totalprice")) * 100).cast("long").as("c"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("c"))
    val perVG = o.groupBy(col("c"), col("g")).agg(count(lit(1)).as("n_vg"))
    val perV = perVG.groupBy(col("c")).agg(sum(col("n_vg")).as("n_v"))
    // distributed cumulative count over distinct values (ascending):
    // banded two-level prefix sum, never a single-task global sort
    val ranked = Commerce.globalRankCumsum(perV,
        floor(col("c") / lit((Commerce.MonetaryBucketWidth * 100).toLong)),
        Seq(col("c")), col("n_v"), "rk", "cumv")
      .select(col("c"), col("n_v"), col("cumv"))
    val contrib = perVG.join(ranked, Seq("c"))
      .withColumn("w2", expr("2 * cumv - n_v + 1")) // = 2·avg-rank of value c
    val mCols = PrioKeys.indices.flatMap { k =>
      val is = col("g") === PrioKeys(k)
      Seq(sum(when(is, col("n_vg"))).as(s"n_$k"),
        sum(when(is, expr("n_vg * w2"))).as(s"r2_$k"))
    } :+ sum(col("n_vg")).as("nn")
    // tie term comes from perV (one row per value), not perVG — keep
    // the two aggregates separate and broadcast the scalars together
    val moments = contrib.agg(mCols.head, mCols.tail: _*)
    val ties = perV.agg(
      sum(expr("CAST(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) - n_v AS DECIMAL(38,0))")).as("tt"))
    val one = moments.crossJoin(broadcast(ties))
    val stackArgs = PrioKeys.indices.map { k =>
      s"'${PrioKeys(k)}', n_$k, CAST(r2_$k AS DOUBLE) / (2.0 * CAST(n_$k AS DOUBLE))"
    }.mkString(", ")
    one
      .withColumn("h_stat", expr(KwHExpr))
      .withColumn("h_tied", expr(KwHTiedExpr))
      .selectExpr("nn", "h_stat", "h_tied",
        s"stack(${PrioKeys.size}, $stackArgs) AS (priority, n_g, mean_rank)")
      .selectExpr("priority", "CAST(n_g AS BIGINT) AS n_g", "mean_rank",
        "CAST(nn AS BIGINT) AS n_orders",
        s"CAST(${PrioKeys.size - 1} AS INTEGER) AS dof",
        "h_stat", "h_tied")
      .orderBy("priority")
  }

  private val KwRpart: String = PrioKeys.indices
    .map(k => s"CAST(r2_$k AS DOUBLE) * CAST(r2_$k AS DOUBLE) / (4.0 * CAST(n_$k AS DOUBLE))")
    .mkString(" + ")
  private val KwHExpr =
    s"(12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))) * ($KwRpart)" +
      " - 3.0 * (CAST(nn AS DOUBLE) + 1.0)"
  private val KwHTiedExpr =
    s"($KwHExpr) / (1.0 - CAST(tt AS DOUBLE) / " +
      "(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)))"

  val kruskalWallisSql: String = {
    val mSums = PrioKeys.indices.flatMap { k =>
      val is = s"g = '${PrioKeys(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN n_vg END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN n_vg * w2 END) AS BIGINT) AS r2_$k")
    } :+ "CAST(sum(n_vg) AS BIGINT) AS nn"
    val arms = PrioKeys.indices.map { k =>
      s"SELECT nn, h_stat, h_tied, '${PrioKeys(k)}' AS priority, n_$k AS n_g, CAST(r2_$k AS DOUBLE) / (2.0 * CAST(n_$k AS DOUBLE)) AS mean_rank FROM one"
    }.mkString("\n  UNION ALL ")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM orders),
       |pvg AS (SELECT c, g, CAST(count(*) AS BIGINT) AS n_vg FROM o GROUP BY 1, 2),
       |pv AS (SELECT c, CAST(sum(n_vg) AS BIGINT) AS n_v FROM pvg GROUP BY 1),
       |r AS (
       |  SELECT c, n_v,
       |    sum(n_v) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
       |  FROM pv),
       |j AS (
       |  SELECT pvg.*, 2 * cumv - n_v + 1 AS w2
       |  FROM pvg JOIN r ON pvg.c = r.c),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM j),
       |tie AS (
       |  SELECT sum(CAST(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) - n_v AS DECIMAL(38,0))) AS tt
       |  FROM pv),
       |one AS (SELECT *, $KwHExpr AS h_stat, $KwHTiedExpr AS h_tied FROM m, tie),
       |s AS (
       |  $arms)
       |SELECT priority, n_g, mean_rank,
       |  nn AS n_orders,
       |  CAST(${PrioKeys.size - 1} AS INTEGER) AS dof,
       |  h_stat, h_tied
       |FROM s ORDER BY priority""".stripMargin
  }

  // ------------------------------------------------------------- levene_test

  /** Brown–Forsythe test (Levene with group MEDIANS) for variance
    * homogeneity across the five event types — the gate in front of
    * `anova_oneway`: ANOVA's F assumes equal group variances, and
    * this is the standard robust check of exactly that assumption.
    * Each type's lower median is picked by exact rank (no
    * interpolation — the selected value is a real cent amount), the
    * deviations z = |c − med| stay exact integers, and the one-way
    * F on z reuses the `anova_oneway` fixed-order pivoted-moment
    * expressions verbatim (same n_k/s_k/ss_k column contract).
    *
    * Scale shape: the per-type median rank runs as a
    * [[Commerce.classRowNumber]] two-level prefix sum (banded —
    * never a whole type's values through one task); the 5-row median
    * frame broadcasts back; moments are one conditional-aggregate
    * pass. Same 2^53 ledger as `anova_oneway` (good through ≈ 2·10⁷
    * events per type).
    */
  def leveneTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val ranked = Commerce.classRowNumber(ev, Seq("event_type"),
      floor(col("c") / lit(1000L)), Seq(col("c")), "rk")
    val ng = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_g"))
    val med = ranked.join(broadcast(ng), Seq("event_type"))
      .filter(expr("rk = (n_g + 1) div 2"))
      .select(col("event_type"), col("c").as("med"))
    val z = ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("c") - col("med")).as("zc"))
    val mCols = AnovaKeys.flatMap { k =>
      val is = col("event_type") === EventTypes(k)
      Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(is, col("zc")).otherwise(0L)).as(s"s_$k"),
        sum(when(is, col("zc") * col("zc")).otherwise(0L)).as(s"ss_$k"))
    }
    z.agg(mCols.head, mCols.tail: _*)
      .withColumn("nn", expr(AnovaKeys.map(k => s"n_$k").mkString(" + ")))
      .withColumn("stot", expr(AnovaKeys.map(k => s"s_$k").mkString(" + ")))
      .withColumn("sqtot", expr(AnovaKeys.map(k => s"ss_$k").mkString(" + ")))
      .selectExpr(
        s"CAST(${AnovaKeys.size} AS INTEGER) AS k_groups",
        "CAST(nn AS BIGINT) AS n_events",
        s"($AnovaSsb) / CAST(10000 AS DOUBLE) AS ssb_z",
        s"($AnovaSsw) / CAST(10000 AS DOUBLE) AS ssw_z",
        s"(($AnovaSsb) / CAST(${AnovaKeys.size - 1} AS DOUBLE)) / (($AnovaSsw) / CAST(nn - ${AnovaKeys.size} AS DOUBLE)) AS w_stat")
  }

  val leveneTestSql: String = {
    val mSums = AnovaKeys.flatMap { k =>
      val is = s"event_type = '${EventTypes(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN zc ELSE 0 END) AS BIGINT) AS s_$k",
        s"CAST(sum(CASE WHEN $is THEN zc * zc ELSE 0 END) AS BIGINT) AS ss_$k")
    }
    s"""WITH e AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events),
       |r AS (
       |  SELECT event_type, c,
       |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n_g
       |  FROM e),
       |med AS (
       |  SELECT event_type, c AS med FROM r WHERE rk = (n_g + 1) // 2),
       |z AS (
       |  SELECT e.event_type, abs(e.c - med.med) AS zc
       |  FROM e JOIN med ON e.event_type = med.event_type),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM z),
       |a AS (
       |  SELECT *,
       |    ${AnovaKeys.map(k => s"n_$k").mkString(" + ")} AS nn,
       |    ${AnovaKeys.map(k => s"s_$k").mkString(" + ")} AS stot,
       |    ${AnovaKeys.map(k => s"ss_$k").mkString(" + ")} AS sqtot
       |  FROM m)
       |SELECT CAST(${AnovaKeys.size} AS INTEGER) AS k_groups,
       |  CAST(nn AS BIGINT) AS n_events,
       |  ($AnovaSsb) / CAST(10000 AS DOUBLE) AS ssb_z,
       |  ($AnovaSsw) / CAST(10000 AS DOUBLE) AS ssw_z,
       |  (($AnovaSsb) / CAST(${AnovaKeys.size - 1} AS DOUBLE)) / (($AnovaSsw) / CAST(nn - ${AnovaKeys.size} AS DOUBLE)) AS w_stat
       |FROM a""".stripMargin
  }

  val gTestSql: String = {
    import graft.functions.ExactLn
    s"""WITH cells AS (
       |  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS o
       |  FROM orders GROUP BY 1, 2),
       |t AS (
       |  SELECT *,
       |    sum(o) OVER (PARTITION BY o_orderpriority) AS r,
       |    sum(o) OVER (PARTITION BY o_orderstatus) AS c,
       |    sum(o) OVER () AS n
       |  FROM cells),
       |rt AS (SELECT *, $GRatioExpr AS ratio FROM t),
       |y AS (SELECT *, ${ExactLn.yExpr("ratio")} AS __y FROM rt),
       |z AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM y),
       |x AS (SELECT *, 2.0 * CAST(o AS DOUBLE) * ${ExactLn.lnExpr("__z")} AS contrib FROM z),
       |a AS (
       |  SELECT sum(CAST(round(contrib, 6) AS DECIMAL(18,6))) AS gd,
       |    CAST(max(n) AS BIGINT) AS nn,
       |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS rr,
       |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS cc
       |  FROM x)
       |SELECT nn AS n_orders, rr AS n_rows, cc AS n_cols,
       |  CAST((rr - 1) * (cc - 1) AS INTEGER) AS dof,
       |  CAST(gd AS DOUBLE) AS g_stat
       |FROM a""".stripMargin
  }

  // --------------------------------------------------------- calibration_curve

  /** Reliability diagram of the naive conversion predictor: each
    * user's FIRST-half daily conversion rate predicts whether they
    * purchase in the second half, binned into ten predicted-
    * probability bands with observed rate and the overall Brier
    * score — the calibration read `auc_purchase_value` doesn't give
    * (AUC is rank-only: a model can rank perfectly and still be
    * badly miscalibrated; the gap between mean_pred and obs_rate per
    * band is what a decision threshold actually consumes). Scores
    * are exact fractions cast to double once; Brier terms (p−y)² are
    * single IEEE expressions on deterministic doubles; per-band and
    * global reductions ride round-to-decimal sums; the global
    * windows run over the ≤10-band frame only.
    *
    * Scale shape: two user-keyed partial aggregations (train
    * user-days → per-user score; test per-user outcome) + one
    * user-keyed join; band profile is bounded.
    */
  def calibrationCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val mid = ev.agg(expr("CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT)").as("mid"))
    val ud = ev.crossJoin(broadcast(mid))
      .select(col("user_id"), (col("ts_us") <= col("mid")).as("is_train"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
    val score = ud.filter(col("is_train"))
      .groupBy(col("user_id"), col("d")).agg(max(col("p")).as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("days"), sum(col("c")).as("convs"))
      .withColumn("pred", expr("CAST(convs AS DOUBLE) / CAST(days AS DOUBLE)"))
    val outcome = ud.filter(!col("is_train"))
      .groupBy(col("user_id")).agg(max(col("p")).as("y"))
    score.join(outcome, Seq("user_id"))
      .withColumn("band", expr("least(CAST(floor(pred * 10) AS INTEGER), 9)"))
      .withColumn("sq",
        expr("(pred - CAST(y AS DOUBLE)) * (pred - CAST(y AS DOUBLE))"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(round(pred, 9) AS DECIMAL(18,9))")).as("pd"),
        sum(col("y")).as("n_pos"),
        sum(expr("CAST(round(sq, 9) AS DECIMAL(18,9))")).as("sqd"))
      .withColumn("tot_n", sum(col("n_users")).over(Window.partitionBy()))
      .withColumn("tot_sq", sum(col("sqd")).over(Window.partitionBy()))
      .selectExpr("CAST(band AS BIGINT) AS band",
        "CAST(n_users AS BIGINT) AS n_users",
        "CAST(pd AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_pred",
        "CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE) AS obs_rate",
        "CAST(tot_sq AS DOUBLE) / CAST(tot_n AS DOUBLE) AS brier_score")
      .orderBy("band")
  }

  val calibrationCurveSql: String =
    """WITH mid AS (
      |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS mid
      |  FROM events),
      |ud AS (
      |  SELECT user_id, epoch_us(ts) <= mid AS is_train, CAST(ts AS DATE) AS d,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      |  FROM events, mid),
      |tr AS (SELECT user_id, d, max(p) AS c FROM ud WHERE is_train GROUP BY 1, 2),
      |sc AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS days, CAST(sum(c) AS BIGINT) AS convs,
      |    CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pred
      |  FROM tr GROUP BY 1),
      |oc AS (SELECT user_id, CAST(max(p) AS BIGINT) AS y FROM ud WHERE NOT is_train GROUP BY 1),
      |j AS (
      |  SELECT sc.user_id, pred, y,
      |    least(CAST(floor(pred * 10) AS INTEGER), 9) AS band,
      |    (pred - CAST(y AS DOUBLE)) * (pred - CAST(y AS DOUBLE)) AS sq
      |  FROM sc JOIN oc ON sc.user_id = oc.user_id),
      |g AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_users,
      |    sum(CAST(round(pred, 9) AS DECIMAL(18,9))) AS pd,
      |    CAST(sum(y) AS BIGINT) AS n_pos,
      |    sum(CAST(round(sq, 9) AS DECIMAL(18,9))) AS sqd
      |  FROM j GROUP BY 1),
      |w AS (SELECT *, sum(n_users) OVER () AS tot_n, sum(sqd) OVER () AS tot_sq FROM g)
      |SELECT CAST(band AS BIGINT) AS band, n_users,
      |  CAST(pd AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_pred,
      |  CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE) AS obs_rate,
      |  CAST(tot_sq AS DOUBLE) / CAST(tot_n AS DOUBLE) AS brier_score
      |FROM w ORDER BY band""".stripMargin

  // ----------------------------------------------------------- sprt_trajectory

  /** Wald SPRT trajectory for the B arm's conversion rate: daily
    * cumulative log-likelihood ratio of H₁ (p₁ = 1.1·p₀, the 10%-lift
    * alternative) against H₀ (p₀ = the A arm's rate), with the
    * α = β = 0.05 decision boundaries ±ln 19 — the sequential
    * early-stopping readout `ab_test_conversion`'s fixed-horizon z
    * can't give (peeking at a z-test inflates α; the SPRT boundary
    * is valid at EVERY day by construction, which is why
    * experimentation platforms run it). All logs are the engine-
    * exact [[graft.functions.ExactLn]] on shared-text ratios, so the
    * whole trajectory hash-matches; cumulative counts are exact
    * window sums over the bounded day-grain frame.
    *
    * Scale shape: ONE user-day aggregate (the ab_test shuffle)
    * reduces to day grain map-side; the cumulative window, ratio
    * arithmetic, and ln chains run on the ≤O(days) frame. (The
    * day-grain cumulative window is single-task but bounded by the
    * calendar, not the data — the `daily_revenue_gapfill`
    * convention.)
    */
  def sprtTrajectory(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val ud = Tables(spark, dir).events
      .select(col("user_id"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(col("p")).as("converted"))
      .withColumn("variant",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
    val p0 = ud.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"))
      .selectExpr("CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p0")
    val daily = ud.filter(col("variant") === 1)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_d"), sum(col("converted")).as("c_d"))
      .withColumn("n_cum", sum(col("n_d")).over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("c_cum", sum(col("c_d")).over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    daily.crossJoin(broadcast(p0))
      .withColumn("p1", expr("p0 * CAST(1.1 AS DOUBLE)"))
      .withColumn("r1", expr("p1 / p0"))
      .withColumn("r2", expr("(1.0 - p1) / (1.0 - p0)"))
      .withColumn("__y1", expr(ExactLn.yExpr("r1")))
      .withColumn("__z1", expr(ExactLn.zExpr("__y1")))
      .withColumn("__y2", expr(ExactLn.yExpr("r2")))
      .withColumn("__z2", expr(ExactLn.zExpr("__y2")))
      .withColumn("__yb", expr(ExactLn.yExpr("19.0")))
      .withColumn("__zb", expr(ExactLn.zExpr("__yb")))
      .withColumn("llr", expr(
        s"CAST(c_cum AS DOUBLE) * ${ExactLn.lnExpr("__z1")}" +
          s" + CAST(n_cum - c_cum AS DOUBLE) * ${ExactLn.lnExpr("__z2")}"))
      .withColumn("bound", expr(ExactLn.lnExpr("__zb")))
      .selectExpr("CAST(d AS STRING) AS day", "n_cum", "c_cum", "llr",
        "bound AS upper_bound", "-(bound) AS lower_bound",
        """CASE WHEN llr >= bound THEN 'reject_h0'
          |WHEN llr <= -(bound) THEN 'accept_h0'
          |ELSE 'continue' END AS decision""".stripMargin)
      .orderBy("day")
  }

  val sprtTrajectorySql: String = {
    import graft.functions.ExactLn
    s"""WITH ud AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 2 AS variant
       |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
       |pa AS (
       |  SELECT CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS p0
       |  FROM ud),
       |daily AS (
       |  SELECT d, CAST(count(*) AS BIGINT) AS n_d,
       |    CAST(sum(converted) AS BIGINT) AS c_d
       |  FROM ud WHERE variant = 1 GROUP BY 1),
       |cum AS (
       |  SELECT *,
       |    CAST(sum(n_d) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum,
       |    CAST(sum(c_d) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_cum
       |  FROM daily),
       |r AS (SELECT *, p0 * CAST(1.1 AS DOUBLE) AS p1 FROM cum, pa),
       |rr AS (SELECT *, p1 / p0 AS r1, (1.0 - p1) / (1.0 - p0) AS r2 FROM r),
       |y AS (SELECT *, ${ExactLn.yExpr("r1")} AS __y1, ${ExactLn.yExpr("r2")} AS __y2, ${ExactLn.yExpr("19.0")} AS __yb FROM rr),
       |z AS (SELECT *, ${ExactLn.zExpr("__y1")} AS __z1, ${ExactLn.zExpr("__y2")} AS __z2, ${ExactLn.zExpr("__yb")} AS __zb FROM y),
       |s AS (SELECT *,
       |    CAST(c_cum AS DOUBLE) * ${ExactLn.lnExpr("__z1")}
       |      + CAST(n_cum - c_cum AS DOUBLE) * ${ExactLn.lnExpr("__z2")} AS llr,
       |    ${ExactLn.lnExpr("__zb")} AS bound
       |  FROM z)
       |SELECT CAST(d AS VARCHAR) AS day, n_cum, c_cum, llr,
       |  bound AS upper_bound, -(bound) AS lower_bound,
       |  CASE WHEN llr >= bound THEN 'reject_h0'
       |  WHEN llr <= -(bound) THEN 'accept_h0'
       |  ELSE 'continue' END AS decision
       |FROM s ORDER BY day""".stripMargin
  }

  // --------------------------------------------------------- roc_curve_points

  /** ROC curve of the calibration split's rate score at USER-DAY
    * grain: the train-half conversion frequency (the
    * `calibration_curve` score) predicts whether EACH test-half
    * active user-day converts — per decile threshold, cumulative
    * TP/FP from the top score down, TPR/FPR, and Youden's J
    * (TPR − FPR, the operating-point pick). User-day grain is what
    * keeps both classes populated (a whole-test-half max() outcome
    * saturates to all-positive on any engaged cohort) and is the
    * decision a daily campaign actually scores. Complements
    * `auc_purchase_value` (one number, rank-sum) and
    * `calibration_curve` (probability accuracy) with the
    * threshold-choice table. All counts exact integers; every rate
    * is one cast-each-operand double division behind a shared
    * zero-total CASE guard, so the curve hash-matches.
    *
    * Scale shape: two aggregates off one events pass (the
    * calibration shape; the outcome side stays at user-day grain —
    * map-side combining), a user-keyed join, then a ≤10-row decile
    * spine — the unpartitioned windows run on that bounded spine
    * only.
    */
  /** The banded decile score/outcome frame both threshold evals read
    * (`roc_curve_points`, `pr_auc_eval`) — session-shared: the events
    * pass and user-keyed join run once; each eval is a ≤10-row spine
    * on top. */
  private def rocBanded(spark: SparkSession, dir: String): DataFrame =
    graft.core.SharedFrames.get(spark, "stats.rocBanded", dir) {
      val ev = Tables(spark, dir).events
      val mid = ev.agg(expr("CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT)").as("mid"))
      val ud = ev.crossJoin(broadcast(mid))
        .select(col("user_id"), (col("ts_us") <= col("mid")).as("is_train"),
          timestamp_micros(col("ts_us")).cast("date").as("d"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      val score = ud.filter(col("is_train"))
        .groupBy(col("user_id"), col("d")).agg(max(col("p")).as("c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("days"), sum(col("c")).as("convs"))
        .withColumn("pred", expr("CAST(convs AS DOUBLE) / CAST(days AS DOUBLE)"))
      val outcome = ud.filter(!col("is_train"))
        .groupBy(col("user_id"), col("d")).agg(max(col("p")).as("y"))
      score.join(outcome, Seq("user_id"))
        .withColumn("band", expr("least(CAST(floor(pred * 10) AS INTEGER), 9)"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_cases"), sum(col("y")).as("pos"),
          sum(lit(1L) - col("y")).as("neg"))
    }

  def rocCurvePoints(spark: SparkSession, dir: String): DataFrame = {
    val banded = rocBanded(spark, dir)
    val wDesc = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("tot_pos", sum(col("pos")).over(Window.partitionBy()))
      .withColumn("tot_neg", sum(col("neg")).over(Window.partitionBy()))
      .withColumn("tpr", expr(RocRate("tp", "tot_pos")))
      .withColumn("fpr", expr(RocRate("fp", "tot_neg")))
      .selectExpr("CAST(band AS BIGINT) AS band",
        "CAST(band AS DOUBLE) / CAST(10 AS DOUBLE) AS threshold",
        "CAST(n_cases AS BIGINT) AS n_cases",
        "CAST(tp AS BIGINT) AS tp", "CAST(fp AS BIGINT) AS fp",
        "tpr", "fpr", "tpr - fpr AS youden_j")
      .orderBy("band")
  }

  // shared rate text: guard the zero-total edge identically on both
  // engines (ANSI Spark raises on /0 where DuckDB yields inf/NaN)
  private def RocRate(num: String, den: String): String =
    s"CASE WHEN $den = 0 THEN CAST(0 AS DOUBLE) ELSE CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END"

  // shared CTE text for the banded frame (the SQL twin of [[rocBanded]])
  private val RocBandedCte: String =
    """mid AS (
      |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS mid
      |  FROM events),
      |ud AS (
      |  SELECT user_id, epoch_us(ts) <= mid AS is_train, CAST(ts AS DATE) AS d,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      |  FROM events, mid),
      |tr AS (SELECT user_id, d, max(p) AS c FROM ud WHERE is_train GROUP BY 1, 2),
      |sc AS (
      |  SELECT user_id,
      |    CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pred
      |  FROM tr GROUP BY 1),
      |oc AS (SELECT user_id, d, CAST(max(p) AS BIGINT) AS y
      |  FROM ud WHERE NOT is_train GROUP BY 1, 2),
      |j AS (
      |  SELECT sc.user_id, y,
      |    least(CAST(floor(pred * 10) AS INTEGER), 9) AS band
      |  FROM sc JOIN oc ON sc.user_id = oc.user_id),
      |g AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_cases,
      |    CAST(sum(y) AS BIGINT) AS pos, CAST(sum(1 - y) AS BIGINT) AS neg
      |  FROM j GROUP BY 1)""".stripMargin

  val rocCurvePointsSql: String =
    s"""WITH $RocBandedCte,
      |w AS (
      |  SELECT *,
      |    CAST(sum(pos) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
      |    CAST(sum(neg) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
      |    CAST(sum(pos) OVER () AS BIGINT) AS tot_pos,
      |    CAST(sum(neg) OVER () AS BIGINT) AS tot_neg
      |  FROM g),
      |r AS (
      |  SELECT *, ${RocRate("tp", "tot_pos")} AS tpr, ${RocRate("fp", "tot_neg")} AS fpr
      |  FROM w)
      |SELECT CAST(band AS BIGINT) AS band,
      |  CAST(band AS DOUBLE) / CAST(10 AS DOUBLE) AS threshold,
      |  n_cases, tp, fp, tpr, fpr, tpr - fpr AS youden_j
      |FROM r ORDER BY band""".stripMargin

  // -------------------------------------------------------------- pr_auc_eval

  /** Precision-recall table + average precision over the SAME banded
    * decile frame `roc_curve_points` reads ([[rocBanded]],
    * session-shared): per threshold from the top score down,
    * precision, recall, F1, and AP = Σ ΔR·P — the metric that stays
    * honest under class imbalance where ROC flatters (negatives
    * dominate FPR). All counts exact; rates guarded shared-text
    * doubles; AP reduces via the round-to-decimal sum over the
    * bounded spine.
    *
    * Scale shape: the events pass is shared; this query is a ≤10-row
    * spine of window arithmetic.
    */
  def prAucEval(spark: SparkSession, dir: String): DataFrame = {
    val banded = rocBanded(spark, dir)
    val wDesc = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("neg")).over(wDesc))
      .withColumn("tot_pos", sum(col("pos")).over(Window.partitionBy()))
      .withColumn("prec", expr(RocRate("tp", "tp + fp")))
      .withColumn("rec", expr(RocRate("tp", "tot_pos")))
      .withColumn("rec_prev", coalesce(lag(col("rec"), 1)
        .over(Window.orderBy(col("band").desc)), lit(0.0).cast("double")))
      .withColumn("ap_term", expr("(rec - rec_prev) * prec"))
      .withColumn("ap", expr(
        "CAST(sum(CAST(round(ap_term, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE)"))
      .selectExpr("CAST(band AS BIGINT) AS band",
        "CAST(band AS DOUBLE) / CAST(10 AS DOUBLE) AS threshold",
        "CAST(tp AS BIGINT) AS tp", "CAST(fp AS BIGINT) AS fp",
        "prec AS precision", "rec AS recall",
        """CASE WHEN prec + rec = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE CAST(2 AS DOUBLE) * prec * rec / (prec + rec) END AS f1""".stripMargin,
        "ap AS average_precision")
      .orderBy("band")
  }

  val prAucEvalSql: String =
    s"""WITH $RocBandedCte,
      |w AS (
      |  SELECT *,
      |    CAST(sum(pos) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
      |    CAST(sum(neg) OVER (ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
      |    CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      |  FROM g),
      |p AS (
      |  SELECT *, ${RocRate("tp", "tp + fp")} AS prec, ${RocRate("tp", "tot_pos")} AS rec
      |  FROM w),
      |l AS (
      |  SELECT *, coalesce(lag(rec, 1) OVER (ORDER BY band DESC), CAST(0 AS DOUBLE)) AS rec_prev
      |  FROM p),
      |t AS (SELECT *, (rec - rec_prev) * prec AS ap_term FROM l),
      |s AS (SELECT *,
      |    CAST(sum(CAST(round(ap_term, 9) AS DECIMAL(18,9))) OVER () AS DOUBLE) AS ap
      |  FROM t)
      |SELECT CAST(band AS BIGINT) AS band,
      |  CAST(band AS DOUBLE) / CAST(10 AS DOUBLE) AS threshold,
      |  tp, fp, prec AS precision, rec AS recall,
      |  CASE WHEN prec + rec = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
      |  ELSE CAST(2 AS DOUBLE) * prec * rec / (prec + rec) END AS f1,
      |  ap AS average_precision
      |FROM s ORDER BY band""".stripMargin

  // ------------------------------------------------------- effect_size_regions

  /** Pairwise Cohen's d / Hedges' g of order value (kilodollars)
    * between regions — the EFFECT-SIZE companion to `welch_t_test`'s
    * significance: with warehouse-scale n everything is significant,
    * and d (difference in pooled-SD units, with g's small-sample
    * bias correction) is the number a decision actually turns on.
    * Exact integer moments per region, pooled SD and both effect
    * sizes one fixed-form shared expression per pair; the pair frame
    * is the 5-row moment spine self-joined (10 rows).
    *
    * Scale shape: one dim-broadcast orders pass partial-aggregates
    * to 5 region-moment rows; everything after is scalar arithmetic
    * on the bounded pair frame.
    */
  def effectSizeRegions(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val mom = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        expr("CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 1000) AS BIGINT)").as("x"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"), sum(expr("x * x")).as("s2"))
    val a = mom.toDF("ra", "na", "sa", "s2a")
    val b = mom.toDF("rb", "nb", "sb", "s2b")
    a.join(b, col("ra") < col("rb"))
      .selectExpr("ra AS region_a", "rb AS region_b",
        "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
        s"$EffSizeMeanA AS mean_a", s"$EffSizeMeanB AS mean_b",
        s"$EffSizeD AS cohens_d",
        s"($EffSizeD) * $EffSizeGCorr AS hedges_g")
      .orderBy("region_a", "region_b")
  }

  private def effVar(s2: String, s: String, n: String): String =
    s"((CAST($s2 AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE))"

  private val EffSizeMeanA = "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))"
  private val EffSizeMeanB = "(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"

  private val EffSizeD: String = {
    val sp = s"sqrt((CAST(na - 1 AS DOUBLE) * ${effVar("s2a", "sa", "na")}" +
      s" + CAST(nb - 1 AS DOUBLE) * ${effVar("s2b", "sb", "nb")})" +
      " / CAST(na + nb - 2 AS DOUBLE))"
    s"""CASE WHEN $sp = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |ELSE ($EffSizeMeanA - $EffSizeMeanB) / $sp END""".stripMargin
  }

  private val EffSizeGCorr =
    "(CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(na + nb AS DOUBLE) - CAST(9 AS DOUBLE)))"

  val effectSizeRegionsSql: String =
    s"""WITH mom AS (
       |  SELECT r_name,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 1000) AS BIGINT)) AS BIGINT) AS s,
       |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 1000) AS BIGINT)
       |           * CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 1000) AS BIGINT)) AS BIGINT) AS s2
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY 1),
       |pr AS (
       |  SELECT a.r_name AS ra, a.n AS na, a.s AS sa, a.s2 AS s2a,
       |    b.r_name AS rb, b.n AS nb, b.s AS sb, b.s2 AS s2b
       |  FROM mom a JOIN mom b ON a.r_name < b.r_name)
       |SELECT ra AS region_a, rb AS region_b, na AS n_a, nb AS n_b,
       |  $EffSizeMeanA AS mean_a, $EffSizeMeanB AS mean_b,
       |  $EffSizeD AS cohens_d,
       |  ($EffSizeD) * $EffSizeGCorr AS hedges_g
       |FROM pr ORDER BY region_a, region_b""".stripMargin

  // ---------------------------------------------------------- quadratic_trend

  /** Degree-2 polynomial fit of monthly revenue (y = c + b·x + a·x²,
    * x = months since the first month, y = monthly revenue in
    * exact-floored kilodollars): the curvature readout
    * `regression_trend`'s straight line can't give — is growth
    * accelerating (a>0), decelerating, or peaking (vertex inside the
    * observed range)? Normal equations solved in closed form by
    * Cramer's rule on EXACT integer moments (n…Σx⁴, Σy…Σx²y — x is a
    * small month index so Σx⁴ stays tiny; y in kdollars keeps
    * Σx²y/Σy² well under 2⁵³ to ~sf30, coarsen units beyond), every
    * moment cast to double individually, every derived quantity one
    * fixed-form shared expression — the whole fit hash-matches.
    *
    * Scale shape: ONE orders pass partial-aggregates to the bounded
    * month spine; moments reduce that spine to one row; the fit is
    * scalar arithmetic.
    */
  def quadraticTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
      // x as BIGINT: the INT x⁴ product would overflow (ANSI throw)
      // past a ~215-month spine
      .withColumn("x", (col("m") - min(col("m")).over(Window.partitionBy())).cast("long"))
    val m = monthly.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(expr("x * x")).as("sx2"), sum(expr("x * x * x")).as("sx3"),
      sum(expr("x * x * x * x")).as("sx4"), sum(col("y")).as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x * y")).as("sx2y"),
      sum(expr("y * y")).as("syy"), max(col("x")).as("xmax"))
    m.selectExpr(("*" +: QuadStage1): _*)
      .selectExpr(("*" +: QuadStage2): _*)
      .selectExpr("CAST(n AS BIGINT) AS n_months", "cc AS intercept",
        "bb AS slope", "aa AS curvature", "r2",
        """CASE WHEN aa = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE -(bb) / (CAST(2 AS DOUBLE) * aa) END AS vertex_month""".stripMargin,
        "cc + bb * CAST(xmax AS DOUBLE) + aa * CAST(xmax AS DOUBLE) * CAST(xmax AS DOUBLE) AS fitted_last")
  }

  // Cramer's rule on the quadratic normal equations, shared text.
  // Stage 1 computes the four determinants + coefficients; stage 2
  // the fit diagnostics. Every moment cast to double individually.
  private val QuadStage1: Seq[String] = {
    def d(s: String) = s"CAST($s AS DOUBLE)"
    val (n, sx, sx2, sx3, sx4) = (d("n"), d("sx"), d("sx2"), d("sx3"), d("sx4"))
    val (sy, sxy, sx2y) = (d("sy"), d("sxy"), d("sx2y"))
    val det =
      s"($n * ($sx2 * $sx4 - $sx3 * $sx3) - $sx * ($sx * $sx4 - $sx3 * $sx2) + $sx2 * ($sx * $sx3 - $sx2 * $sx2))"
    val dc =
      s"($sy * ($sx2 * $sx4 - $sx3 * $sx3) - $sx * ($sxy * $sx4 - $sx3 * $sx2y) + $sx2 * ($sxy * $sx3 - $sx2 * $sx2y))"
    val db =
      s"($n * ($sxy * $sx4 - $sx3 * $sx2y) - $sy * ($sx * $sx4 - $sx3 * $sx2) + $sx2 * ($sx * $sx2y - $sxy * $sx2))"
    val da =
      s"($n * ($sx2 * $sx2y - $sxy * $sx3) - $sx * ($sx * $sx2y - $sxy * $sx2) + $sy * ($sx * $sx3 - $sx2 * $sx2))"
    // det = 0 only on a degenerate (<3 distinct x) spine, but ANSI
    // Spark raises on double /0 where DuckDB yields inf — guard both
    def coef(num: String, as: String) =
      s"""CASE WHEN $det = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
         |ELSE $num / $det END AS $as""".stripMargin
    Seq(coef(dc, "cc"), coef(db, "bb"), coef(da, "aa"))
  }

  private val QuadStage2: Seq[String] = {
    def d(s: String) = s"CAST($s AS DOUBLE)"
    val rss = s"(${d("syy")} - CAST(2 AS DOUBLE) * (cc * ${d("sy")} + bb * ${d("sxy")} + aa * ${d("sx2y")})" +
      s" + cc * cc * ${d("n")} + bb * bb * ${d("sx2")} + aa * aa * ${d("sx4")}" +
      s" + CAST(2 AS DOUBLE) * (cc * bb * ${d("sx")} + cc * aa * ${d("sx2")} + aa * bb * ${d("sx3")}))"
    val sst = s"(${d("syy")} - ${d("sy")} * ${d("sy")} / ${d("n")})"
    Seq(
      s"""CASE WHEN $sst = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
         |ELSE CAST(1 AS DOUBLE) - $rss / $sst END AS r2""".stripMargin)
  }

  val quadraticTrendSql: String = {
    val s1 = QuadStage1.mkString(",\n    ")
    val s2 = QuadStage2.mkString(",\n    ")
    s"""WITH monthly0 AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |monthly AS (SELECT *, m - min(m) OVER () AS x FROM monthly0),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * x) AS BIGINT) AS sx2, CAST(sum(x * x * x) AS BIGINT) AS sx3,
       |    CAST(sum(x * x * x * x) AS BIGINT) AS sx4, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x * y) AS BIGINT) AS sx2y,
       |    CAST(sum(y * y) AS BIGINT) AS syy, CAST(max(x) AS BIGINT) AS xmax
       |  FROM monthly),
       |c1 AS (SELECT *,
       |    $s1
       |  FROM mom),
       |c2 AS (SELECT *,
       |    $s2
       |  FROM c1)
       |SELECT n AS n_months, cc AS intercept, bb AS slope, aa AS curvature, r2,
       |  CASE WHEN aa = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE -(bb) / (CAST(2 AS DOUBLE) * aa) END AS vertex_month,
       |  cc + bb * CAST(xmax AS DOUBLE) + aa * CAST(xmax AS DOUBLE) * CAST(xmax AS DOUBLE) AS fitted_last
       |FROM c2""".stripMargin
  }

  // ------------------------------------------------------------- granger_lag1

  /** Lag-1 Granger causality between the EUROPE and AMERICA monthly
    * revenue series, both directions: does last month's revenue in
    * one market improve the prediction of this month's revenue in
    * the other beyond the other's OWN lag (`crosscorr_lag` measures
    * association at each lag; Granger asks the incremental-
    * predictability question)? Restricted model y~y₋₁ vs
    * unrestricted y~y₋₁+x₋₁, both solved in closed form on centered
    * EXACT integer moments (monthly kilodollars keep every product
    * term under 2⁵³ to ~sf30; coarsen units beyond), F = ΔRSS/(RSS_u
    * /(n−3)) with the 3.84 (5%, df1=1) cut — every derived quantity
    * is one fixed-form shared expression staged identically on both
    * engines, so both rows hash-match.
    *
    * Scale shape: the q5-style dim-broadcast orders pass reduces to
    * the bounded month spine; the lag window and the moment
    * aggregate run on that spine; both direction rows are scalar
    * arithmetic off ONE cached 1-row moment frame.
    */
  def grangerLag1(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = regionMonthly(spark, dir)
      .withColumn("kd", expr("rev_c div 100000"))
      .groupBy(col("m"))
      .agg(coalesce(sum(when(col("region_name") === "AMERICA", col("kd"))), lit(0L)).as("am"),
        coalesce(sum(when(col("region_name") === "EUROPE", col("kd"))), lit(0L)).as("eu"))
    val wM = Window.orderBy("m")
    val lagged = pivoted
      .withColumn("am_l", lag(col("am"), 1).over(wM))
      .withColumn("eu_l", lag(col("eu"), 1).over(wM))
      .filter(col("am_l").isNotNull)
    val mom = graft.core.OwnedCaches.own(lagged.agg(
      count(lit(1)).as("n"),
      sum(col("am")).as("sam"), sum(col("eu")).as("seu"),
      sum(col("am_l")).as("sal"), sum(col("eu_l")).as("sel"),
      sum(expr("am_l * am_l")).as("sal2"), sum(expr("eu_l * eu_l")).as("sel2"),
      sum(expr("am_l * eu_l")).as("salel"),
      sum(expr("am * am")).as("sam2"), sum(expr("eu * eu")).as("seu2"),
      sum(expr("am * am_l")).as("samal"), sum(expr("am * eu_l")).as("samel"),
      sum(expr("eu * eu_l")).as("seuel"), sum(expr("eu * am_l")).as("seual")).cache())
    def direction(label: String, st1: Seq[String]): DataFrame =
      GrangerLaterStages.foldLeft(mom.selectExpr(("*" +: st1): _*)) {
        (df, st) => df.selectExpr(("*" +: st): _*)
      }.selectExpr(s"'$label' AS direction", "CAST(n AS BIGINT) AS n_obs",
        "beta AS beta_own_lag", "gamma AS gamma_cross_lag",
        "rss_r AS rss_restricted", "rss_u AS rss_unrestricted", "f_stat",
        "CASE WHEN f_stat > CAST(3.84 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
    direction("eu_leads_am", grangerStage1("sam", "sal", "sel", "sam2", "sal2", "sel2", "salel", "samal", "samel"))
      .unionAll(direction("am_leads_eu", grangerStage1("seu", "sel", "sal", "seu2", "sel2", "sal2", "salel", "seuel", "seual")))
      .orderBy("direction")
  }

  /** Centered-moment stage for one Granger direction: y's total is
    * `sy`, own-lag total `syl`, cross-lag total `sxl`, and the six
    * second moments follow the same naming. Shared text. */
  private def grangerStage1(sy: String, syl: String, sxl: String,
      syy: String, syl2: String, sxl2: String, sylxl: String,
      syyl: String, syxl: String): Seq[String] = {
    def d(s: String) = s"CAST($s AS DOUBLE)"
    Seq(
      s"${d(syl2)} - ${d(syl)} * ${d(syl)} / ${d("n")} AS a11",
      s"${d(sxl2)} - ${d(sxl)} * ${d(sxl)} / ${d("n")} AS a22",
      s"${d(sylxl)} - ${d(syl)} * ${d(sxl)} / ${d("n")} AS a12",
      s"${d(syyl)} - ${d(syl)} * ${d(sy)} / ${d("n")} AS b1",
      s"${d(syxl)} - ${d(sxl)} * ${d(sy)} / ${d("n")} AS b2",
      s"${d(syy)} - ${d(sy)} * ${d(sy)} / ${d("n")} AS syyc")
  }

  /** Direction-independent later stages (each references the previous
    * stage's columns only — staged identically as Spark selectExprs
    * and DuckDB CTEs). */
  private val GrangerLaterStages: Seq[Seq[String]] = Seq(
    Seq("a11 * a22 - a12 * a12 AS det"),
    Seq(
      """CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
        |ELSE (b1 * a22 - b2 * a12) / det END AS beta""".stripMargin,
      """CASE WHEN det = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
        |ELSE (b2 * a11 - b1 * a12) / det END AS gamma""".stripMargin,
      """CASE WHEN a11 = CAST(0 AS DOUBLE) THEN syyc
        |ELSE syyc - b1 * b1 / a11 END AS rss_r""".stripMargin),
    Seq("syyc - beta * b1 - gamma * b2 AS rss_u"),
    Seq(
      """CASE WHEN rss_u <= CAST(0 AS DOUBLE) OR n <= 3 THEN CAST(0 AS DOUBLE)
        |ELSE (rss_r - rss_u) / (rss_u / CAST(n - 3 AS DOUBLE)) END AS f_stat""".stripMargin))

  val grangerLag1Sql: String = {
    def chain(tag: String, st1: Seq[String]): String = {
      val stages = st1 +: GrangerLaterStages
      val ctes = stages.zipWithIndex.map { case (st, i) =>
        val from = if (i == 0) "mom" else s"c${i}$tag"
        s"c${i + 1}$tag AS (SELECT *,\n    ${st.mkString(",\n    ")}\n  FROM $from)"
      }
      ctes.mkString(",\n")
    }
    def fin(tag: String, label: String): String =
      s"""SELECT '$label' AS direction, n AS n_obs,
         |  beta AS beta_own_lag, gamma AS gamma_cross_lag,
         |  rss_r AS rss_restricted, rss_u AS rss_unrestricted, f_stat,
         |  CASE WHEN f_stat > CAST(3.84 AS DOUBLE) THEN 1 ELSE 0 END AS significant
         |FROM c5$tag""".stripMargin
    s"""WITH rm AS (
       |$RegionMonthlySqlCte),
       |pv AS (
       |  SELECT m,
       |    coalesce(sum(CASE WHEN region_name = 'AMERICA' THEN rev_c // 100000 END), 0) AS am,
       |    coalesce(sum(CASE WHEN region_name = 'EUROPE' THEN rev_c // 100000 END), 0) AS eu
       |  FROM rm GROUP BY 1),
       |lg AS (
       |  SELECT m, am, eu,
       |    lag(am, 1) OVER (ORDER BY m) AS am_l,
       |    lag(eu, 1) OVER (ORDER BY m) AS eu_l
       |  FROM pv),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(am) AS BIGINT) AS sam, CAST(sum(eu) AS BIGINT) AS seu,
       |    CAST(sum(am_l) AS BIGINT) AS sal, CAST(sum(eu_l) AS BIGINT) AS sel,
       |    CAST(sum(am_l * am_l) AS BIGINT) AS sal2, CAST(sum(eu_l * eu_l) AS BIGINT) AS sel2,
       |    CAST(sum(am_l * eu_l) AS BIGINT) AS salel,
       |    CAST(sum(am * am) AS BIGINT) AS sam2, CAST(sum(eu * eu) AS BIGINT) AS seu2,
       |    CAST(sum(am * am_l) AS BIGINT) AS samal, CAST(sum(am * eu_l) AS BIGINT) AS samel,
       |    CAST(sum(eu * eu_l) AS BIGINT) AS seuel, CAST(sum(eu * am_l) AS BIGINT) AS seual
       |  FROM lg WHERE am_l IS NOT NULL),
       |${chain("a", grangerStage1("sam", "sal", "sel", "sam2", "sal2", "sel2", "salel", "samal", "samel"))},
       |${chain("b", grangerStage1("seu", "sel", "sal", "seu2", "sel2", "sal2", "salel", "seuel", "seual"))}
       |${fin("a", "eu_leads_am")}
       |UNION ALL
       |${fin("b", "am_leads_eu")}
       |ORDER BY direction""".stripMargin
  }

  // ------------------------------------------------------------ weekday_anova

  /** One-way ANOVA of daily revenue across the seven weekdays — is
    * the weekday seasonality `seasonal_index` tabulates statistically
    * real? Weekday from pure integer date arithmetic (days since the
    * Monday epoch mod 7 — never an engine `dayofweek` whose 0/1
    * anchor differs), and the whole F follows the `anova_oneway`
    * fixed-order pivoted-moment convention: the 7 groups pivot into
    * FIXED columns in one pass, SSB/SSW combine the exact integer
    * moments in one fixed-order IEEE expression — no decimal
    * round-trip anywhere, so the statistic hash-matches at any
    * magnitude.
    *
    * Scale shape: ONE orders pass partial-aggregates to the day
    * spine; the pivot reduces it to a single 21-column row; the F is
    * scalar arithmetic.
    */
  def weekdayAnova(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
      .withColumn("wd",
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT) % 7"))
    val aggs = (0 to 6).flatMap(d => Seq(
      sum(when(col("wd") === d, 1L).otherwise(0L)).as(s"n$d"),
      sum(when(col("wd") === d, col("y")).otherwise(0L)).as(s"s$d"),
      sum(when(col("wd") === d, expr("y * y")).otherwise(0L)).as(s"q$d")))
    daily.agg(aggs.head, aggs.tail: _*)
      .selectExpr("*", s"$WdBetween AS bt", s"($WdTotN) AS tn",
        s"($WdTotS) AS ts", s"($WdTotQ) AS tq")
      .selectExpr("*",
        """CASE WHEN tn = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE bt - ts * ts / tn END AS ssb""".stripMargin,
        "tq - bt AS ssw")
      .selectExpr(
        s"CAST(${(0 to 6).map(d => s"n$d").mkString(" + ")} AS BIGINT) AS n_days",
        "ssb", "ssw",
        """CASE WHEN ssw <= CAST(0 AS DOUBLE) OR tn <= CAST(7 AS DOUBLE)
          |THEN CAST(0 AS DOUBLE)
          |ELSE (ssb / CAST(6 AS DOUBLE)) / (ssw / (tn - CAST(7 AS DOUBLE))) END AS f_stat""".stripMargin)
      .selectExpr("*",
        "CASE WHEN f_stat > CAST(2.1 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  private def wdD(s: String) = s"CAST($s AS DOUBLE)"
  private lazy val WdTotN = (0 to 6).map(d => wdD(s"n$d")).mkString(" + ")
  private lazy val WdTotS = (0 to 6).map(d => wdD(s"s$d")).mkString(" + ")
  private lazy val WdTotQ = (0 to 6).map(d => wdD(s"q$d")).mkString(" + ")
  private lazy val WdBetween = "(" + (0 to 6).map(d =>
    s"(CASE WHEN n$d = 0 THEN CAST(0 AS DOUBLE) ELSE ${wdD(s"s$d")} * ${wdD(s"s$d")} / ${wdD(s"n$d")} END)")
    .mkString(" + ") + ")"

  val weekdayAnovaSql: String = {
    val moms = (0 to 6).flatMap(d => Seq(
      s"CAST(sum(CASE WHEN wd = $d THEN 1 ELSE 0 END) AS BIGINT) AS n$d",
      s"CAST(sum(CASE WHEN wd = $d THEN y ELSE 0 END) AS BIGINT) AS s$d",
      s"CAST(sum(CASE WHEN wd = $d THEN y * y ELSE 0 END) AS BIGINT) AS q$d"))
      .mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT o_orderdate,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |wdd AS (
       |  SELECT *, CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 7 AS wd
       |  FROM daily),
       |mom AS (
       |  SELECT
       |    $moms
       |  FROM wdd),
       |c1 AS (SELECT *, $WdBetween AS bt, ($WdTotN) AS tn, ($WdTotS) AS ts, ($WdTotQ) AS tq FROM mom),
       |c2 AS (SELECT *,
       |    CASE WHEN tn = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |    ELSE bt - ts * ts / tn END AS ssb,
       |    tq - bt AS ssw
       |  FROM c1),
       |c3 AS (SELECT
       |    CAST(${(0 to 6).map(d => s"n$d").mkString(" + ")} AS BIGINT) AS n_days,
       |    ssb, ssw,
       |    CASE WHEN ssw <= CAST(0 AS DOUBLE) OR tn <= CAST(7 AS DOUBLE)
       |    THEN CAST(0 AS DOUBLE)
       |    ELSE (ssb / CAST(6 AS DOUBLE)) / (ssw / (tn - CAST(7 AS DOUBLE))) END AS f_stat
       |  FROM c2)
       |SELECT *, CASE WHEN f_stat > CAST(2.1 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM c3""".stripMargin
  }

  // -------------------------------------------------------- gumbel_extreme_fit

  // constants emitted as shortest-round-trip double literals — both
  // engines parse them to the same bits, and the ln() calls they
  // replace never run at query time
  private val GumbelS6Pi = (math.sqrt(6.0) / math.Pi).toString // √6/π
  private val GumbelGamma = "0.5772156649015329" // Euler–Mascheroni
  private def gumbelRlConst(t: Int): String =
    (-math.log(-math.log(1.0 - 1.0 / t))).toString

  /** Gumbel (EV-I) fit of monthly block maxima of daily revenue by
    * the method of moments (β = s·√6/π, μ = x̄ − γβ) — the
    * extreme-value readout a capacity planner needs that
    * `anomaly_zscore`'s normal assumption systematically understates:
    * return levels (the daily revenue exceeded once per 12/60/120
    * months, μ + β·c_T with c_T = −ln(−ln(1−1/T)) precomputed as
    * shared literals) and the exceedance probability of the largest
    * observed maximum via the double exponential — BOTH exp's
    * engine-exact ([[graft.functions.ExactExp]]), moments exact
    * integers in kilodollar units, so the whole fit hash-matches.
    *
    * Scale shape: ONE orders pass partial-aggregates to the day
    * spine, a second tiny aggregate to month-block maxima, then one
    * 1-row moment reduce; the fit is scalar arithmetic.
    */
  def gumbelExtremeFit(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("dk"))
    val blocks = daily
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(max(col("dk")).as("y"))
    val mom = blocks.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(expr("y * y")).as("syy"), max(col("y")).as("ymax"))
    GumbelStages.foldLeft(mom) { (df, st) => df.selectExpr(("*" +: st): _*) }
      .selectExpr("CAST(n AS BIGINT) AS n_blocks", "mean_max", "sd_max",
        "mu AS location", "beta AS scale",
        s"mu + beta * CAST(${gumbelRlConst(12)} AS DOUBLE) AS return_level_12",
        s"mu + beta * CAST(${gumbelRlConst(60)} AS DOUBLE) AS return_level_60",
        s"mu + beta * CAST(${gumbelRlConst(120)} AS DOUBLE) AS return_level_120",
        s"""CASE WHEN beta = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
           |ELSE 1.0 - ${graft.functions.ExactExp.expExpr("__p2")} END AS prob_exceed_max""".stripMargin)
  }

  private val GumbelStages: Seq[Seq[String]] = {
    import graft.functions.ExactExp
    def d(s: String) = s"CAST($s AS DOUBLE)"
    Seq(
      Seq(s"${d("sy")} / ${d("n")} AS mean_max",
        s"""CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
           |ELSE (${d("syy")} - ${d("sy")} * ${d("sy")} / ${d("n")}) / ${d("n - 1")} END AS varm""".stripMargin),
      Seq("sqrt(varm) AS sd_max"),
      Seq(s"sd_max * CAST($GumbelS6Pi AS DOUBLE) AS beta"),
      Seq(s"mean_max - CAST($GumbelGamma AS DOUBLE) * beta AS mu"),
      Seq(
        s"""CASE WHEN beta = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
           |ELSE (${d("ymax")} - mu) / beta END AS z""".stripMargin),
      Seq(s"${ExactExp.uExpr("-(z)")} AS __u1"),
      Seq(s"${ExactExp.pExpr("__u1")} AS __p1"),
      Seq(s"${ExactExp.expExpr("__p1")} AS e1"),
      Seq(s"${ExactExp.uExpr("-(e1)")} AS __u2"),
      Seq(s"${ExactExp.pExpr("__u2")} AS __p2"))
  }

  val gumbelExtremeFitSql: String = {
    val ctes = GumbelStages.zipWithIndex.map { case (st, i) =>
      val from = if (i == 0) "mom" else s"g$i"
      s"g${i + 1} AS (SELECT *,\n    ${st.mkString(",\n    ")}\n  FROM $from)"
    }.mkString(",\n")
    s"""WITH daily AS (
       |  SELECT o_orderdate,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS dk
       |  FROM orders GROUP BY 1),
       |blocks AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(max(dk) AS BIGINT) AS y
       |  FROM daily GROUP BY 1),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(y * y) AS BIGINT) AS syy, CAST(max(y) AS BIGINT) AS ymax
       |  FROM blocks),
       |$ctes
       |SELECT n AS n_blocks, mean_max, sd_max, mu AS location, beta AS scale,
       |  mu + beta * CAST(${gumbelRlConst(12)} AS DOUBLE) AS return_level_12,
       |  mu + beta * CAST(${gumbelRlConst(60)} AS DOUBLE) AS return_level_60,
       |  mu + beta * CAST(${gumbelRlConst(120)} AS DOUBLE) AS return_level_120,
       |  CASE WHEN beta = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE 1.0 - ${graft.functions.ExactExp.expExpr("__p2")} END AS prob_exceed_max
       |FROM g${GumbelStages.size}""".stripMargin
  }

  // ---------------------------------------------------------- friedman_test

  /** Friedman rank test of weekday effect with months as blocks: each
    * (month, weekday) revenue cell is ranked WITHIN its month, and
    * χ²_F = 12/(b·k(k+1))·ΣR_j² − 3b(k+1) asks whether the weekday
    * rank profile is consistent across months — the nonparametric
    * counterpart of `weekday_anova` (no normality assumption; a
    * single outlier month can't fake significance), completing the
    * test family the way `kruskal_wallis` complements `anova_oneway`.
    * Months missing a weekday cell are dropped whole (complete-block
    * listwise deletion — the standard treatment).
    * Ranks are rank()+tie-averaged, carried as exact integer
    * DOUBLE-RANKS (2·rank + ties − 1 — half-units, no fractions), so
    * ΣR_j² is an exact integer moment and χ² is ONE fixed-order IEEE
    * expression; ties are averaged with no tie-correction factor
    * (exact integer revenue cells make ties measure-zero — documented
    * semantics).
    *
    * Scale shape: one orders partial-agg to the (month, weekday)
    * cell frame (bounded: 12·years·7 rows); ranking windows and all
    * moments run on that bounded spine.
    */
  def friedmanTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT) % 7").as("wd"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT)").as("y"))
    // Friedman requires COMPLETE blocks: a sparse month missing a
    // weekday cell is dropped entirely (listwise deletion — the
    // standard treatment, and the only one that keeps ranks 1..k)
    val full = cells
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("m")))
      .filter(col("nc") === 7)
    val ranked = full
      .withColumn("rk", rank().over(Window.partitionBy("m").orderBy("y")))
      .withColumn("ct", count(lit(1)).over(Window.partitionBy("m", "y")))
      .withColumn("dr", expr("CAST(2 * rk + ct - 1 AS BIGINT)"))
    val byTreat = ranked.groupBy(col("wd"))
      .agg(sum(col("dr")).as("rj2"), count(lit(1)).as("nb"))
    byTreat
      .agg(sum(expr("rj2 * rj2")).as("s2"), max(col("nb")).as("b"),
        min(col("nb")).as("bmin"), count(lit(1)).as("k"))
      .selectExpr("CAST(b AS BIGINT) AS n_blocks", "CAST(k AS BIGINT) AS k_treatments",
        FriedmanChi2 + " AS chi2_f", "CAST(6 AS BIGINT) AS df",
        s"CASE WHEN $FriedmanChi2 > CAST(12.592 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  // ΣR_j² = Σ(dr/2)² = Σdr²/4 exactly; k=7 ⇒ k(k+1)=56, 3(k+1)=24 —
  // spelled as fixed-order cast-each-operand doubles in BOTH texts
  private val FriedmanChi2: String =
    "((CAST(12 AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(4 AS DOUBLE))) " +
      "/ (CAST(b AS DOUBLE) * CAST(56 AS DOUBLE)) " +
      "- CAST(3 AS DOUBLE) * CAST(b AS DOUBLE) * CAST(8 AS DOUBLE))"

  val friedmanTestSql: String =
    s"""WITH cells AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 7 AS wd,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT) AS y
       |  FROM orders GROUP BY 1, 2),
       |fullb AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY m) AS nc FROM cells) c0
       |  WHERE nc = 7),
       |ranked AS (
       |  SELECT wd,
       |    CAST(2 * rank() OVER (PARTITION BY m ORDER BY y)
       |      + count(*) OVER (PARTITION BY m, y) - 1 AS BIGINT) AS dr
       |  FROM fullb),
       |bt AS (
       |  SELECT wd, CAST(sum(dr) AS BIGINT) AS rj2, CAST(count(*) AS BIGINT) AS nb
       |  FROM ranked GROUP BY 1),
       |agg AS (
       |  SELECT CAST(sum(rj2 * rj2) AS BIGINT) AS s2, CAST(max(nb) AS BIGINT) AS b,
       |    CAST(min(nb) AS BIGINT) AS bmin, CAST(count(*) AS BIGINT) AS k
       |  FROM bt)
       |SELECT b AS n_blocks, k AS k_treatments,
       |  $FriedmanChi2 AS chi2_f, CAST(6 AS BIGINT) AS df,
       |  CASE WHEN $FriedmanChi2 > CAST(12.592 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------ theil_decomposition

  // customer-grain and group-grain mean ratios as FIXED-ORDER pure
  // IEEE double expressions (cast-each-operand — the weekday_anova
  // convention), so the ExactLn argument is bit-identical across
  // engines; each Σ term is 9-dp decimal-quantized (order-independent
  // sum, the RaContribExpr convention)
  private val ThRatioC =
    "((CAST(y AS DOUBLE) * CAST(ng AS DOUBLE)) / CAST(yg AS DOUBLE))"
  private val ThTermC =
    "CAST(round((CAST(y AS DOUBLE) / CAST(yg AS DOUBLE)) * __ln, 9) AS DECIMAL(18,9))"
  private val ThRatioG =
    "((CAST(yg AS DOUBLE) * CAST(n AS DOUBLE)) / (CAST(yt AS DOUBLE) * CAST(ng AS DOUBLE)))"
  private val ThBetween =
    "CAST(round((CAST(yg AS DOUBLE) / CAST(yt AS DOUBLE)) * __lnb, 9) AS DECIMAL(18,9))"

  /** Theil-T inequality decomposition of customer revenue across
    * nations: T = Σ_g between_term + Σ_g within_term, with
    * between_g = (Y_g/Y)·ln(μ_g/μ) (is nation g richer than the
    * world?) and within_g = (Y_g/Y)·T_g (how unequal is nation g
    * internally?). The decomposition `lorenz_curve`/Gini can't give —
    * Gini doesn't split additively by subgroup; Theil does, which is
    * why feed-composition and marketplace-equity reviews use it.
    * Revenue is exact integer units; both ln's are the engine-exact
    * [[graft.functions.ExactLn]] construction (customer-grain staged
    * map-side, group-grain on the 25-row spine); Σ terms are 9-dp
    * decimal-quantized.
    *
    * Scale shape: one orders partial-agg to customer grain, one
    * broadcast dim enrich, a customer-grain map-side ln + term, then
    * a nation-grain reduction — the per-customer frame is touched
    * twice (totals + terms) but never joined to itself; the final
    * arithmetic runs on the 25-row nation spine.
    */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val t = Tables(spark, dir)
    val cust = t.orders.groupBy(col("o_custkey"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 10) AS BIGINT)").as("y"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("y"))
    val grp = cust.groupBy(col("nation"))
      .agg(count(lit(1)).as("ng"), sum(col("y")).as("yg"))
    val glob = cust.agg(count(lit(1)).as("n"), sum(col("y")).as("yt"))
    val tg = cust.join(broadcast(grp), "nation")
      .withColumn("__y", expr(ExactLn.yExpr(ThRatioC)))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("__ln", expr(ExactLn.lnExpr("__z")))
      .groupBy(col("nation")).agg(sum(expr(ThTermC)).as("tg"))
    grp.join(tg, "nation").crossJoin(broadcast(glob))
      .withColumn("__yb", expr(ExactLn.yExpr(ThRatioG)))
      .withColumn("__zb", expr(ExactLn.zExpr("__yb")))
      .withColumn("__lnb", expr(ExactLn.lnExpr("__zb")))
      .selectExpr("nation", "CAST(ng AS BIGINT) AS n_customers",
        "CAST(yg AS DOUBLE) / CAST(yt AS DOUBLE) AS revenue_share",
        s"$ThRatioG AS mean_ratio",
        "CAST(tg AS DOUBLE) AS theil_within_g",
        s"CAST($ThBetween AS DOUBLE) AS between_term",
        "(CAST(yg AS DOUBLE) / CAST(yt AS DOUBLE)) * CAST(tg AS DOUBLE) AS within_term")
      .orderBy("nation")
  }

  val theilDecompositionSql: String = {
    import graft.functions.ExactLn
    s"""WITH cust AS (
       |  SELECT n_name AS nation,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 10) AS BIGINT) AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY o_custkey, n_name),
       |grp AS (SELECT nation, CAST(count(*) AS BIGINT) AS ng,
       |    CAST(sum(y) AS BIGINT) AS yg FROM cust GROUP BY 1),
       |glb AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS yt FROM cust),
       |ty AS (SELECT nation, y, ng, yg, ${ExactLn.yExpr(ThRatioC)} AS __y
       |  FROM cust JOIN grp USING (nation)),
       |tz AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM ty),
       |tl AS (SELECT *, ${ExactLn.lnExpr("__z")} AS __ln FROM tz),
       |tgc AS (SELECT nation, sum($ThTermC) AS tg FROM tl GROUP BY 1),
       |g2 AS (SELECT grp.nation, ng, yg, tg, n, yt
       |  FROM grp JOIN tgc USING (nation), glb),
       |gy AS (SELECT *, ${ExactLn.yExpr(ThRatioG)} AS __yb FROM g2),
       |gz AS (SELECT *, ${ExactLn.zExpr("__yb")} AS __zb FROM gy),
       |gl AS (SELECT *, ${ExactLn.lnExpr("__zb")} AS __lnb FROM gz)
       |SELECT nation, ng AS n_customers,
       |  CAST(yg AS DOUBLE) / CAST(yt AS DOUBLE) AS revenue_share,
       |  $ThRatioG AS mean_ratio,
       |  CAST(tg AS DOUBLE) AS theil_within_g,
       |  CAST($ThBetween AS DOUBLE) AS between_term,
       |  (CAST(yg AS DOUBLE) / CAST(yt AS DOUBLE)) * CAST(tg AS DOUBLE) AS within_term
       |FROM gl ORDER BY nation""".stripMargin
  }

  // ------------------------------------------------------------ page_trend_test

  /** Page's trend test for an ORDERED weekday effect: same
    * complete-block month×weekday rank frame as `friedman_test`, but
    * the statistic L = Σ_j j·R_j asks specifically whether revenue
    * rises MONOTONICALLY through the week (Friedman only asks "any
    * difference"; Page trades that generality for power against the
    * ordered alternative — the classic follow-up when the hypothesis
    * is a trend, not a difference). Double-ranks keep ΣjR_j an exact
    * integer moment; E[L] = b·k(k+1)²/4 and Var[L] =
    * b·k²(k+1)²(k−1)/144 combine in ONE fixed-order IEEE expression
    * (k=7 ⇒ the constants fold to 112·b and 49·64·6/144·b).
    * One-sided test at z > 1.645.
    *
    * Scale shape: identical to `friedman_test` — one orders
    * partial-agg to the bounded (month, weekday) spine; everything
    * after runs on that spine.
    */
  def pageTrendTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT) % 7").as("wd"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT)").as("y"))
    val full = cells
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("m")))
      .filter(col("nc") === 7)
    val ranked = full
      .withColumn("rk", rank().over(Window.partitionBy("m").orderBy("y")))
      .withColumn("ct", count(lit(1)).over(Window.partitionBy("m", "y")))
      .withColumn("dr", expr("CAST(2 * rk + ct - 1 AS BIGINT)"))
    ranked.groupBy(col("wd"))
      .agg(sum(col("dr")).as("rj2"), count(lit(1)).as("nb"))
      .agg(sum(expr("(wd + 1) * rj2")).as("l2"), max(col("nb")).as("b"))
      .selectExpr("CAST(b AS BIGINT) AS n_blocks",
        s"$PageL AS l_stat", s"$PageZ AS z_stat",
        s"CASE WHEN $PageZ > CAST(1.645 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  // L = l2/2 exactly (double-ranks); E[L] = 112b, Var[L] = 49·64·6/144·b
  private val PageL = "(CAST(l2 AS DOUBLE) / CAST(2 AS DOUBLE))"
  private val PageZ =
    s"(($PageL - CAST(112 AS DOUBLE) * CAST(b AS DOUBLE)) / " +
      "sqrt((CAST(49 AS DOUBLE) * CAST(64 AS DOUBLE) * CAST(6 AS DOUBLE) " +
      "/ CAST(144 AS DOUBLE)) * CAST(b AS DOUBLE)))"

  val pageTrendTestSql: String =
    s"""WITH cells AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 7 AS wd,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT) AS y
       |  FROM orders GROUP BY 1, 2),
       |fullb AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY m) AS nc FROM cells) c0
       |  WHERE nc = 7),
       |ranked AS (
       |  SELECT wd,
       |    CAST(2 * rank() OVER (PARTITION BY m ORDER BY y)
       |      + count(*) OVER (PARTITION BY m, y) - 1 AS BIGINT) AS dr
       |  FROM fullb),
       |bt AS (
       |  SELECT wd, CAST(sum(dr) AS BIGINT) AS rj2, CAST(count(*) AS BIGINT) AS nb
       |  FROM ranked GROUP BY 1),
       |agg AS (
       |  SELECT CAST(sum((wd + 1) * rj2) AS BIGINT) AS l2, CAST(max(nb) AS BIGINT) AS b
       |  FROM bt)
       |SELECT b AS n_blocks, $PageL AS l_stat, $PageZ AS z_stat,
       |  CASE WHEN $PageZ > CAST(1.645 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------ hodges_lehmann_shift

  /** Hodges-Lehmann location shift between the first two regions (by
    * name): the MEDIAN of all pairwise monthly-revenue differences
    * y_a − y_b — the robust effect-size companion to `mann_whitney`
    * (which only says WHETHER the distributions differ; HL says BY
    * HOW MUCH, immune to the outlier months that drag the plain mean
    * difference around). Monthly cells are exact integers, the pair
    * grid is exact differences, and the median is the ceil-rank
    * (n+1)/2 position under a total (d, month_a, month_b) order —
    * deterministic in both engines.
    *
    * Scale shape: one fact pass partial-aggregates to the (region,
    * month) spine; the pair grid is months² of the TWO regions only
    * (bounded by the calendar, not the data), and the rank runs on
    * that bounded grid.
    */
  def hodgesLehmannShift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val monthly = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT)").as("y"))
    val regs = t.region.select(col("r_name"))
      .withColumn("rn", row_number().over(Window.orderBy("r_name")))
      .filter(col("rn") <= 2)
    val a = monthly.join(broadcast(regs.filter(col("rn") === 1)), Seq("r_name"))
      .select(col("r_name").as("ra"), col("m").as("ma"), col("y").as("ya"))
    val b = monthly.join(broadcast(regs.filter(col("rn") === 2)), Seq("r_name"))
      .select(col("r_name").as("rb"), col("m").as("mb"), col("y").as("yb"))
    val pairs = a.crossJoin(b)
      .select(col("ra"), col("rb"), col("ma"), col("mb"),
        expr("CAST(ya - yb AS BIGINT)").as("d"))
    pairs
      .withColumn("rnk", row_number().over(Window.orderBy("d", "ma", "mb")))
      .withColumn("np", count(lit(1)).over(Window.partitionBy()))
      .agg(max(col("ra")).as("region_a"), max(col("rb")).as("region_b"),
        max(col("np")).as("n_pairs"),
        min(when(col("rnk") === expr("(np + 1) div 2"), col("d"))).as("hl"),
        sum(col("d")).as("sd"))
      .selectExpr("region_a", "region_b", "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(hl AS BIGINT) AS hl_shift",
        "CAST(sd AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mean_shift")
  }

  val hodgesLehmannShiftSql: String =
    s"""WITH monthly AS (
       |  SELECT r_name, year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 100) AS BIGINT) AS y
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY 1, 2),
       |regs AS (
       |  SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region),
       |a AS (SELECT monthly.r_name AS ra, m AS ma, y AS ya
       |  FROM monthly JOIN regs USING (r_name) WHERE rn = 1),
       |b AS (SELECT monthly.r_name AS rb, m AS mb, y AS yb
       |  FROM monthly JOIN regs USING (r_name) WHERE rn = 2),
       |pairs AS (
       |  SELECT ra, rb, ma, mb, CAST(ya - yb AS BIGINT) AS d FROM a CROSS JOIN b),
       |w AS (
       |  SELECT *, row_number() OVER (ORDER BY d, ma, mb) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS np
       |  FROM pairs)
       |SELECT max(ra) AS region_a, max(rb) AS region_b,
       |  CAST(max(np) AS BIGINT) AS n_pairs,
       |  CAST(min(CASE WHEN rnk = (np + 1) // 2 THEN d END) AS BIGINT) AS hl_shift,
       |  CAST(sum(d) AS DOUBLE) / CAST(max(np) AS DOUBLE) AS mean_shift
       |FROM w""".stripMargin

  // ------------------------------------------------- cochran_armitage_trend

  /** Cochran-Armitage trend test: does the probability that a
    * customer experiences a RETURN rise monotonically across account
    * -balance quintiles? `chi_square_profile` would only say the
    * quintiles differ; CA tests the ORDERED dose-response with scores
    * j = 1..5, the standard epidemiological trend statistic. Dose
    * groups are exact ntile(5) under a total (acctbal, custkey)
    * order; all moments (Σjn_j, Σj²n_j, Σjr_j) are exact integers;
    * z is ONE fixed-order IEEE expression. Two-sided at |z| > 1.96.
    *
    * Scale shape: one orders⋈lineitem semi-join marks responders at
    * customer grain, the quintile ntile is the only customer-grain
    * sort, and the five (n_j, r_j) moments partial-aggregate to one
    * row.
    */
  def cochranArmitageTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val responders = t.orders
      .join(t.lineitem.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_custkey")).distinct()
      .withColumn("resp", lit(1L))
    val dosed = t.customer.select(col("c_custkey"), col("c_acctbal"))
      .join(responders, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("j", ntile(5).over(Window.orderBy("c_acctbal", "c_custkey")))
      .withColumn("r", coalesce(col("resp"), lit(0L)))
    dosed.groupBy(col("j"))
      .agg(count(lit(1)).as("nj"), sum(col("r")).as("rj"))
      .agg(sum(col("nj")).as("n"), sum(col("rj")).as("rr"),
        sum(expr("j * nj")).as("s1"), sum(expr("j * j * nj")).as("s2"),
        sum(expr("j * rj")).as("t1"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        "CAST(rr AS BIGINT) AS n_responders",
        s"$CaZ AS z_trend",
        s"CASE WHEN abs($CaZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  // z = (Σjr_j − p̄Σjn_j) / sqrt(p̄(1−p̄)(Σj²n_j − (Σjn_j)²/N)),
  // p̄ = R/N — fixed-order cast-each-operand doubles in both texts
  private val CaZ: String = {
    val p = "(CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))"
    val num = s"(CAST(t1 AS DOUBLE) - $p * CAST(s1 AS DOUBLE))"
    val v = s"($p * (CAST(1 AS DOUBLE) - $p) * (CAST(s2 AS DOUBLE) " +
      "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    s"(CASE WHEN $v <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE $num / sqrt($v) END)"
  }

  val cochranArmitageTrendSql: String =
    s"""WITH responders AS (
       |  SELECT DISTINCT o_custkey
       |  FROM orders
       |  WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')),
       |dosed AS (
       |  SELECT c_custkey,
       |    ntile(5) OVER (ORDER BY c_acctbal, c_custkey) AS j,
       |    CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS r
       |  FROM customer LEFT JOIN responders ON c_custkey = o_custkey),
       |g AS (
       |  SELECT j, CAST(count(*) AS BIGINT) AS nj, CAST(sum(r) AS BIGINT) AS rj
       |  FROM dosed GROUP BY 1),
       |agg AS (
       |  SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(sum(rj) AS BIGINT) AS rr,
       |    CAST(sum(j * nj) AS BIGINT) AS s1, CAST(sum(j * j * nj) AS BIGINT) AS s2,
       |    CAST(sum(j * rj) AS BIGINT) AS t1
       |  FROM g)
       |SELECT n AS n_customers, rr AS n_responders,
       |  $CaZ AS z_trend,
       |  CASE WHEN abs($CaZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------- ljung_box

  /** Ljung-Box portmanteau test on daily revenue: Q = n(n+2)·Σ_{k≤7}
    * r_k²/(n−k) pools the first [[AcfMaxLag]] autocorrelations into
    * ONE whiteness verdict — `autocorr_lag` shows each r_k, this
    * answers the question they're usually computed for ("is there ANY
    * serial structure left?"), the standard residual-diagnostic gate
    * before trusting an iid-based CI. Reuses autocorr's exact
    * centered cross-products (dev = n·y − Σy in DECIMAL(38,0), so
    * num/den are exact); each r_k is the same CAST-to-double division
    * `autocorr_lag` ships, and the Q fold is spelled in FIXED order
    * in both engine texts.
    *
    * Scale shape: identical to `autocorr_lag` — one orders
    * partial-agg to the day spine, 7 lag columns in one window pass,
    * one moment row; Q is scalar arithmetic.
    */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).cast("decimal(38,0)").as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        (col("n").cast("decimal(38,0)") * col("y") - col("s")).as("dev"))
    val wLag = Window.orderBy("d")
    val lagged = dev.select(
      col("n") +: col("dev") +:
        (1 to AcfMaxLag).map(k => lag(col("dev"), k).over(wLag).as(s"dev_$k")): _*)
    lagged.agg(
        max(col("n")).as("n"),
        (sum(col("dev") * col("dev")).as("den") +:
          (1 to AcfMaxLag).map(k => sum(col("dev") * col(s"dev_$k")).as(s"num_$k"))): _*)
      .selectExpr("CAST(n AS BIGINT) AS n_days",
        s"CAST($AcfMaxLag AS BIGINT) AS df",
        s"$LbQ AS q_stat",
        s"CASE WHEN $LbQ > CAST(14.067 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  // Q = n(n+2)·(((t1+t2)+…)+t7), t_k = r_k²/(n−k) — fixed-order fold
  private lazy val LbQ: String = {
    def rk(k: Int) = s"(CAST(num_$k AS DOUBLE) / CAST(den AS DOUBLE))"
    val terms = (1 to AcfMaxLag).map(k =>
      s"(${rk(k)} * ${rk(k)} / (CAST(n AS DOUBLE) - CAST($k AS DOUBLE)))")
    val fold = terms.reduce((a, b) => s"($a + $b)")
    s"(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + CAST(2 AS DOUBLE)) * $fold)"
  }

  val ljungBoxSql: String = {
    val lagCols = (1 to AcfMaxLag)
      .map(k => s"lag(dev, $k) OVER (ORDER BY d) AS dev_$k").mkString(",\n    ")
    val numSums = (1 to AcfMaxLag)
      .map(k => s"sum(dev * dev_$k) AS num_$k").mkString(",\n    ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |t AS (SELECT count(*) AS n, sum(CAST(y AS DECIMAL(38,0))) AS s FROM daily),
       |dv AS (
       |  SELECT d, t.n, CAST(t.n AS DECIMAL(38,0)) * y - t.s AS dev
       |  FROM daily, t),
       |lg AS (
       |  SELECT n, dev,
       |    $lagCols
       |  FROM dv),
       |s AS (
       |  SELECT max(n) AS n, sum(dev * dev) AS den,
       |    $numSums
       |  FROM lg)
       |SELECT CAST(n AS BIGINT) AS n_days, CAST($AcfMaxLag AS BIGINT) AS df,
       |  $LbQ AS q_stat,
       |  CASE WHEN $LbQ > CAST(14.067 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM s""".stripMargin
  }

  // ------------------------------------------------------------ durbin_watson

  /** Durbin-Watson serial-correlation diagnostic on the monthly
    * revenue trend fit: DW = Σ(e_t − e_{t−1})²/Σe_t² over the OLS
    * residuals — `regression_trend` reports the slope, this reports
    * whether its residuals are serially correlated (DW ≪ 2), which is
    * what decides if the trend's standard errors can be believed.
    * The fit uses exact integer moments; residuals are computed in
    * ONE fixed-order IEEE expression and then ROUNDED TO INTEGER
    * units (the documented quantization — monthly revenue in
    * thousands makes sub-unit residual precision noise), so both
    * moment sums are exact BIGINT arithmetic and DW is one safe
    * sub-2^53 division.
    *
    * Scale shape: one orders partial-agg to the month spine;
    * the fit moments, residuals, lag window and DW all run on that
    * bounded spine.
    */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val base = monthly
      .withColumn("m0", min(col("m")).over(Window.partitionBy()))
      .withColumn("x", expr("CAST(m - m0 AS BIGINT)"))
    val fit = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("e", expr(DwResid))
      .withColumn("e1", lag(col("e"), 1).over(Window.orderBy("m")))
    resid.agg(max(col("n")).as("n"),
        sum(expr("e * e")).as("see"),
        sum(expr("(e - e1) * (e - e1)")).as("sde"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        """CASE WHEN see = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(sde AS DOUBLE) / CAST(see AS DOUBLE) END AS dw_stat""".stripMargin,
        """CASE WHEN see = 0 THEN CAST(0 AS DOUBLE)
          |ELSE CAST(1 AS DOUBLE) - (CAST(sde AS DOUBLE) / CAST(see AS DOUBLE)) / CAST(2 AS DOUBLE) END AS rho_lag1""".stripMargin,
        """CASE WHEN see = 0 THEN 0
          |WHEN CAST(sde AS DOUBLE) / CAST(see AS DOUBLE) < CAST(1.5 AS DOUBLE) THEN 1
          |ELSE 0 END AS positive_autocorr""".stripMargin)
  }

  // e = round(y − (a + b·x)) as BIGINT: b = (nΣxy−ΣxΣy)/(nΣxx−(Σx)²)
  // and a = (Σy − bΣx)/n as fixed-order doubles from exact moments
  private val DwResid: String = {
    val b = "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    val a = s"((CAST(sy AS DOUBLE) - $b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
    s"CAST(round(CAST(y AS DOUBLE) - ($a + $b * CAST(x AS DOUBLE)), 0) AS BIGINT)"
  }

  val durbinWatsonSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT m, y, CAST(m - min(m) OVER () AS BIGINT) AS x FROM monthly),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM base),
       |resid AS (
       |  SELECT n, m, $DwResid AS e FROM base, fit),
       |lagged AS (
       |  SELECT n, e, lag(e, 1) OVER (ORDER BY m) AS e1 FROM resid),
       |s AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(e * e) AS BIGINT) AS see,
       |    CAST(sum((e - e1) * (e - e1)) AS BIGINT) AS sde
       |  FROM lagged)
       |SELECT n AS n_months,
       |  CASE WHEN see = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(sde AS DOUBLE) / CAST(see AS DOUBLE) END AS dw_stat,
       |  CASE WHEN see = 0 THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(1 AS DOUBLE) - (CAST(sde AS DOUBLE) / CAST(see AS DOUBLE)) / CAST(2 AS DOUBLE) END AS rho_lag1,
       |  CASE WHEN see = 0 THEN 0
       |  WHEN CAST(sde AS DOUBLE) / CAST(see AS DOUBLE) < CAST(1.5 AS DOUBLE) THEN 1
       |  ELSE 0 END AS positive_autocorr
       |FROM s""".stripMargin

  // -------------------------------------------------------------- runs_test

  /** Wald-Wolfowitz runs test on daily revenue vs its median: are
    * above-median and below-median days RANDOMLY interleaved, or do
    * they clump (momentum) / alternate (overcorrection)? The
    * distribution-free randomness check that needs no model at all —
    * the right first question before fitting any of the trend family.
    * Median is the exact ceil-rank day (lower median); median-tied
    * days are DROPPED (the standard treatment); the run count is an
    * exact integer scan and z is one fixed-order IEEE expression
    * from the (n1, n2, R) integers.
    *
    * Scale shape: one orders partial-agg to the day spine; the
    * median, signs, run count and moments all run on that bounded
    * spine.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val med = daily
      .withColumn("rn", row_number().over(Window.orderBy("y", "d")))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy()))
      .agg(min(when(col("rn") === expr("(nt + 1) div 2"), col("y"))).as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("y") =!= col("med"))
      .withColumn("s", when(col("y") > col("med"), 1).otherwise(0))
      .withColumn("s1", lag(col("s"), 1).over(Window.orderBy("d")))
    signs.agg(
        sum(col("s")).as("n1"),
        sum(expr("1 - s")).as("n2"),
        (sum(when(col("s1").isNull || col("s") =!= col("s1"), 1L).otherwise(0L)))
          .as("runs"))
      .selectExpr("CAST(n1 AS BIGINT) AS n_above", "CAST(n2 AS BIGINT) AS n_below",
        "CAST(runs AS BIGINT) AS n_runs",
        s"$RunsZ AS z_stat",
        s"CASE WHEN abs($RunsZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  // z = (R − E)/sqrt(V); E = 1 + 2n1n2/n, V = 2n1n2(2n1n2−n)/(n²(n−1))
  private val RunsZ: String = {
    val n = "(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
    val m2 = "(CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    val e = s"(CAST(1 AS DOUBLE) + $m2 / $n)"
    val v = s"(($m2 * ($m2 - $n)) / ($n * $n * ($n - CAST(1 AS DOUBLE))))"
    s"(CASE WHEN $v <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(runs AS DOUBLE) - $e) / sqrt($v) END)"
  }

  val runsTestSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |w AS (
       |  SELECT *, row_number() OVER (ORDER BY y, d) AS rn,
       |    CAST(count(*) OVER () AS BIGINT) AS nt
       |  FROM daily),
       |med AS (SELECT CAST(min(CASE WHEN rn = (nt + 1) // 2 THEN y END) AS BIGINT) AS med FROM w),
       |signs AS (
       |  SELECT d, CASE WHEN y > med THEN 1 ELSE 0 END AS s
       |  FROM daily, med WHERE y != med),
       |lg AS (SELECT s, lag(s, 1) OVER (ORDER BY d) AS s1 FROM signs),
       |agg AS (
       |  SELECT CAST(sum(s) AS BIGINT) AS n1, CAST(sum(1 - s) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN s1 IS NULL OR s != s1 THEN 1 ELSE 0 END) AS BIGINT) AS runs
       |  FROM lg)
       |SELECT n1 AS n_above, n2 AS n_below, runs AS n_runs,
       |  $RunsZ AS z_stat,
       |  CASE WHEN abs($RunsZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------------ mcnemar_test

  /** McNemar paired test of return behavior drift: each ordering
    * customer is PAIRED WITH THEMSELVES across the two halves of the
    * order-date range (split at the exact median order day), response
    * = "had a returned order in that half", and the continuity-
    * corrected χ² = (|b−c|−1)²/(b+c) tests whether flippers are
    * symmetric — the PAIRED drift test `dist_drift`/`psi_drift` can't
    * give (they compare marginals; McNemar conditions on the same
    * customer, removing all between-customer variance). Everything is
    * exact integer counting; χ² is one guarded division.
    *
    * Scale shape: the median day comes from an order-grain ceil-rank
    * on the bounded day histogram; the per-customer half-flags are
    * one conditional partial-agg over the order⋈return semi-join;
    * the 2×2 cells reduce to one row.
    */
  def mcnemarTest(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val days = t.orders.select(
      expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT)").as("day"),
      col("o_orderkey"), col("o_custkey"))
    val hist = days.groupBy(col("day")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nt", sum(col("c")).over(Window.partitionBy()))
    val pivot = hist.agg(min(when(col("cum") >= expr("(nt + 1) div 2"), col("day"))).as("pv"))
    val ret = t.lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    val flags = days
      .join(ret, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .crossJoin(broadcast(pivot))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("day") < col("pv"), 1).otherwise(0)).as("ra"),
        max(when(col("day") >= col("pv"), 1).otherwise(0)).as("rb"))
    val allCust = days.select(col("o_custkey")).distinct()
    allCust.join(flags, Seq("o_custkey"), "left")
      .select(coalesce(col("ra"), lit(0)).as("ra"), coalesce(col("rb"), lit(0)).as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END")).as("b"),
        sum(expr("CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END")).as("c"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        "CAST(b AS BIGINT) AS n_first_only", "CAST(c AS BIGINT) AS n_second_only",
        s"$McnChi2 AS chi2",
        s"CASE WHEN $McnChi2 > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  private val McnChi2: String =
    "(CASE WHEN b + c = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE (CAST(abs(b - c) - 1 AS DOUBLE) * CAST(abs(b - c) - 1 AS DOUBLE)) " +
      "/ CAST(b + c AS DOUBLE) END)"

  val mcnemarTestSql: String =
    s"""WITH days AS (
       |  SELECT CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
       |    o_orderkey, o_custkey
       |  FROM orders),
       |hist AS (
       |  SELECT day, count(*) AS c,
       |    CAST(sum(count(*)) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(count(*)) OVER () AS BIGINT) AS nt
       |  FROM days GROUP BY 1),
       |pvt AS (SELECT CAST(min(CASE WHEN cum >= (nt + 1) // 2 THEN day END) AS BIGINT) AS pv FROM hist),
       |ret AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
       |flags AS (
       |  SELECT o_custkey,
       |    max(CASE WHEN day < pv THEN 1 ELSE 0 END) AS ra,
       |    max(CASE WHEN day >= pv THEN 1 ELSE 0 END) AS rb
       |  FROM days JOIN ret ON o_orderkey = l_orderkey CROSS JOIN pvt
       |  GROUP BY 1),
       |cells AS (
       |  SELECT coalesce(ra, 0) AS ra, coalesce(rb, 0) AS rb
       |  FROM (SELECT DISTINCT o_custkey FROM days) ac
       |  LEFT JOIN flags USING (o_custkey)),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM cells)
       |SELECT n AS n_customers, b AS n_first_only, c AS n_second_only,
       |  $McnChi2 AS chi2,
       |  CASE WHEN $McnChi2 > CAST(3.841 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------ cooks_distance_months

  /** Cook's distance for every month of the revenue trend fit: which
    * months, if DELETED, would move the regression line — the
    * influence diagnostic that separates "big residual" from "big
    * residual AT HIGH LEVERAGE" (`durbin_watson` judges the residual
    * SEQUENCE; this judges each point's pull). Same exact-moment OLS
    * and integer-quantized residuals as `durbin_watson`; leverage
    * h_t = 1/n + (x−x̄)²/Sxx and D_t = e²h/(2s²(1−h)²) are per-row
    * fixed-order IEEE with no cross-row double sums (SSE is an exact
    * integer moment).
    *
    * Scale shape: one orders partial-agg to the month spine; fit
    * moments broadcast back; everything per-row on the bounded spine.
    */
  def cooksDistanceMonths(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val base = monthly
      .withColumn("m0", min(col("m")).over(Window.partitionBy()))
      .withColumn("x", expr("CAST(m - m0 AS BIGINT)"))
    val fit = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("e", expr(DwResid))
    val sse = resid.groupBy().agg(sum(expr("e * e")).as("sse"))
    resid.crossJoin(broadcast(sse))
      .withColumn("lev", expr(CooksLev))
      .withColumn("cd", expr(CooksD))
      .selectExpr("CAST(m AS BIGINT) AS month_id", "CAST(y AS BIGINT) AS revenue",
        "CAST(e AS BIGINT) AS residual", "lev AS leverage", "cd AS cooks_d",
        "CASE WHEN cd > CAST(4 AS DOUBLE) / CAST(n AS DOUBLE) THEN 1 ELSE 0 END AS influential")
      .orderBy("month_id")
  }

  // h = 1/n + (x − Σx/n)² / (Σx² − (Σx)²/n); D = e²h / (2·s²·(1−h)²),
  // s² = SSE/(n−2) — all fixed-order cast-each-operand doubles
  private val CooksLev: String = {
    val dx = "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val sxxC = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s"(CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) + $dx * $dx / $sxxC)"
  }
  private val CooksD: String = {
    val s2 = "(CAST(sse AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(2 AS DOUBLE)))"
    s"(CASE WHEN $s2 <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * lev) / " +
      s"(CAST(2 AS DOUBLE) * $s2 * (CAST(1 AS DOUBLE) - lev) * (CAST(1 AS DOUBLE) - lev)) END)"
  }

  val cooksDistanceMonthsSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT m, y, CAST(m - min(m) OVER () AS BIGINT) AS x FROM monthly),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM base),
       |resid AS (
       |  SELECT m, y, x, n, sx, sxx, $DwResid AS e FROM base, fit),
       |ss AS (SELECT CAST(sum(e * e) AS BIGINT) AS sse FROM resid),
       |lv AS (SELECT *, $CooksLev AS lev FROM resid, ss),
       |cd AS (SELECT *, $CooksD AS cd FROM lv)
       |SELECT m AS month_id, y AS revenue, e AS residual,
       |  lev AS leverage, cd AS cooks_d,
       |  CASE WHEN cd > CAST(4 AS DOUBLE) / CAST(n AS DOUBLE) THEN 1 ELSE 0 END AS influential
       |FROM cd ORDER BY month_id""".stripMargin

  // ---------------------------------------------------------------- grubbs_test

  /** Grubbs-style maximum-outlier score of monthly revenue: G =
    * max|y − ȳ|/s plus which month carries it — the single-point
    * complement of `anomaly_zscore`'s full listing (one number a
    * monitoring gate thresholds, with the argmax attached).
    * Moments exact; mean/sd one fixed-order IEEE expression; argmax
    * by total (|dev| desc, month) order. The 3.0 threshold is the
    * conventional sigma gate (documented — not the exact Grubbs
    * critical value, which needs a t-quantile).
    *
    * Scale shape: one orders partial-agg to the month spine; moments
    * and argmax on the spine.
    */
  def grubbsTest(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val mom = monthly.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(expr("y * y")).as("syy"))
    monthly.crossJoin(broadcast(mom))
      .withColumn("g", expr(GrubbsG))
      .orderBy(col("g").desc, col("m"))
      .limit(1)
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_revenue",
        "CAST(m AS BIGINT) AS outlier_month", "CAST(y AS BIGINT) AS outlier_value",
        "g AS g_stat",
        "CASE WHEN g > CAST(3 AS DOUBLE) THEN 1 ELSE 0 END AS exceeds_3sigma")
  }

  // G = |y − Σy/n| / sqrt((Σy² − (Σy)²/n)/(n−1))
  private val GrubbsG: String = {
    val mean = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    val v = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))"
    s"(CASE WHEN $v <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE abs(CAST(y AS DOUBLE) - $mean) / sqrt($v) END)"
  }

  val grubbsTestSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM monthly),
       |g AS (SELECT *, $GrubbsG AS g FROM monthly, mom)
       |SELECT n AS n_months,
       |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_revenue,
       |  m AS outlier_month, y AS outlier_value, g AS g_stat,
       |  CASE WHEN g > CAST(3 AS DOUBLE) THEN 1 ELSE 0 END AS exceeds_3sigma
       |FROM g ORDER BY g DESC, m LIMIT 1""".stripMargin

  // ---------------------------------------------------------- kpss_stationarity

  /** KPSS level-stationarity statistic on monthly revenue:
    * η = Σ_t S_t² / (n·Σ_t e_t²) with S_t the running sum of the
    * mean-deviations — the complement of trend tests (`regression
    * _trend` asks "is there a trend?"; KPSS asks "is the level even
    * stable enough for that question?" — η > 0.463 rejects level
    * stationarity at 5%). Deviations are INTEGER-QUANTIZED
    * (round(y − Σy/n), the `durbin_watson` residual convention —
    * sub-unit precision is noise against monthly thousands, and it
    * keeps every running sum and quadratic moment in exact BIGINT,
    * clear of the decimal-product width traps); η is one guarded
    * division. LAG-0 variance only (no HAC bandwidth) — documented
    * semantics. Moment ledger: st² sums stay < 2^53 through ~sf1;
    * raise the /1000 divisor beyond that.
    *
    * Scale shape: one orders partial-agg to the month spine; the
    * cumulative window and moments run on the spine.
    */
  def kpssStationarity(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val tot = monthly.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val dev = monthly.crossJoin(broadcast(tot))
      .select(col("m"), col("n"), expr(KpssDev).as("dev"))
      .withColumn("st", sum(col("dev")).over(
        Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    dev.agg(max(col("n")).as("n"),
        sum(expr("st * st")).as("num"), sum(expr("dev * dev")).as("den"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        s"$KpssEta AS eta",
        s"CASE WHEN $KpssEta > CAST(0.463 AS DOUBLE) THEN 1 ELSE 0 END AS reject_stationarity")
  }

  private val KpssDev: String =
    "CAST(round(CAST(y AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 0) AS BIGINT)"
  private val KpssEta: String =
    "(CASE WHEN den = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(den AS DOUBLE)) END)"

  val kpssStationaritySql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM monthly),
       |dv AS (
       |  SELECT m, t.n, $KpssDev AS dev
       |  FROM monthly, t),
       |cs AS (
       |  SELECT n, dev,
       |    CAST(sum(dev) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS st
       |  FROM dv),
       |agg AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(st * st) AS BIGINT) AS num,
       |    CAST(sum(dev * dev) AS BIGINT) AS den FROM cs)
       |SELECT CAST(n AS BIGINT) AS n_months,
       |  $KpssEta AS eta,
       |  CASE WHEN $KpssEta > CAST(0.463 AS DOUBLE) THEN 1 ELSE 0 END AS reject_stationarity
       |FROM agg""".stripMargin

  // ------------------------------------------------------------ cronbach_alpha

  /** Cronbach's α over the month×weekday revenue matrix: do the seven
    * weekday series move together month to month (α near 1 — weekdays
    * are interchangeable "items" measuring the same monthly demand)
    * or independently (α near 0)? The internal-consistency readout
    * behind "can I impute a missing weekday from the month's
    * others?". Same complete-block cell construction as
    * `friedman_test` (coarser /10000 units so every moment product
    * stays well inside BIGINT — sub-2^53 ledger holds through ~sf1);
    * item and total variances come from exact integer moments
    * (population variance — documented); α is one fixed-order IEEE
    * expression.
    *
    * Scale shape: one orders partial-agg to the bounded cell spine;
    * per-item moments pivot to one row; total-variance moments come
    * from the month-grain sums of the same spine.
    */
  def cronbachAlpha(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT) % 7").as("wd"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 10000) AS BIGINT)").as("y"))
    val full = cells
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("m")))
      .filter(col("nc") === 7)
    val items = full.groupBy(col("wd"))
      .agg(count(lit(1)).as("b"), sum(col("y")).as("s"), sum(expr("y * y")).as("q"))
      .agg(max(col("b")).as("b"),
        sum(expr(CronItemVarNum)).as("ivn"))
    val totals = full.groupBy(col("m")).agg(sum(col("y")).as("t"))
      .agg(count(lit(1)).as("b2"), sum(col("t")).as("st"), sum(expr("t * t")).as("qt"))
    items.crossJoin(totals)
      .selectExpr("CAST(b AS BIGINT) AS n_months", "CAST(7 AS BIGINT) AS k_items",
        s"$CronAlpha AS alpha",
        s"CASE WHEN $CronAlpha >= CAST(0.7 AS DOUBLE) THEN 1 ELSE 0 END AS acceptable")
  }

  // per-item population-variance NUMERATOR b·q − s² kept exact in
  // plain BIGINT (the /10000 cell units keep b·q < 2^53 through ~sf1;
  // ANSI overflow would THROW, not wrap); the common 1/b² factor is
  // applied once in the α expression
  private val CronItemVarNum = "b * q - s * s"
  private val CronAlpha: String = {
    val sumItemVar = "(CAST(ivn AS DOUBLE) / (CAST(b AS DOUBLE) * CAST(b AS DOUBLE)))"
    val totVar = "((CAST(b2 AS DOUBLE) * CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / (CAST(b2 AS DOUBLE) * CAST(b2 AS DOUBLE)))"
    s"(CASE WHEN $totVar <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(7 AS DOUBLE) / CAST(6 AS DOUBLE)) * (CAST(1 AS DOUBLE) - $sumItemVar / $totVar) END)"
  }

  val cronbachAlphaSql: String =
    s"""WITH cells AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) % 7 AS wd,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 10000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1, 2),
       |fullb AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY m) AS nc FROM cells) c0
       |  WHERE nc = 7),
       |itm AS (
       |  SELECT wd, CAST(count(*) AS BIGINT) AS b, CAST(sum(y) AS BIGINT) AS s,
       |    CAST(sum(y * y) AS BIGINT) AS q
       |  FROM fullb GROUP BY 1),
       |items AS (
       |  SELECT CAST(max(b) AS BIGINT) AS b, CAST(sum($CronItemVarNum) AS BIGINT) AS ivn FROM itm),
       |tm AS (SELECT m, CAST(sum(y) AS BIGINT) AS t FROM fullb GROUP BY 1),
       |totals AS (
       |  SELECT CAST(count(*) AS BIGINT) AS b2, CAST(sum(t) AS BIGINT) AS st,
       |    CAST(sum(t * t) AS BIGINT) AS qt
       |  FROM tm)
       |SELECT b AS n_months, CAST(7 AS BIGINT) AS k_items,
       |  $CronAlpha AS alpha,
       |  CASE WHEN $CronAlpha >= CAST(0.7 AS DOUBLE) THEN 1 ELSE 0 END AS acceptable
       |FROM items, totals""".stripMargin

  // -------------------------------------------------------- markov_entropy_rate

  /** Entropy rate of the session event-type Markov chain:
    * H = −Σ_i π̂_i Σ_j p_ij ln p_ij with π̂ the EMPIRICAL from-state
    * distribution (documented — not the stationary eigenvector),
    * normalized by ln(k) into [0, 1] — `markov_transitions` publishes
    * the matrix; this compresses it to "how predictable is the next
    * event", the one number that says whether next-event prediction
    * is worth building. Both lns are the engine-exact
    * [[graft.functions.ExactLn]]; Σ terms 9-dp decimal-quantized.
    *
    * Scale shape: the lead-window pass is the only event-grain work
    * (shared shape with `markov_transitions`); everything after runs
    * on the k² cell spine.
    */
  def markovEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val cells = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("ft"), col("next_type").as("tt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", sum(col("c")).over(Window.partitionBy("ft")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val h = cells
      .withColumn("__y", expr(ExactLn.yExpr(MerP)))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("__ln", expr(ExactLn.lnExpr("__z")))
      .agg(countDistinct(col("ft")).as("k"), count(lit(1)).as("n_cells"),
        sum(expr(MerTerm)).as("h"))
    h.withColumn("kd", expr("CAST(k AS DOUBLE)"))
      .withColumn("__yk", expr(ExactLn.yExpr("kd")))
      .withColumn("__zk", expr(ExactLn.zExpr("__yk")))
      .withColumn("lnk", expr(ExactLn.lnExpr("__zk")))
      .selectExpr("CAST(k AS BIGINT) AS n_states", "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(h AS DOUBLE) AS entropy_rate_nats", "lnk AS max_entropy_nats",
        """CASE WHEN lnk <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
          |ELSE CAST(h AS DOUBLE) / lnk END AS predictability_gap""".stripMargin)
  }

  // ---------------------------------------------------- negative_binomial_fit

  /** Method-of-moments negative-binomial fit of per-customer order
    * counts: mean, sample variance, the dispersion index v/m, and the
    * NB (size r, prob p) parameters when overdispersed — the
    * count-model diagnostic that decides whether a Poisson rate
    * (`poisson_rate_test`'s model) is even admissible for purchase
    * frequency, and the parametric input a spend-frequency model
    * (BG/NBD-style) starts from. Moments exact integers; every
    * derived quantity is one fixed-order IEEE expression; r and p
    * are 0-guarded when v ≤ m (under/equi-dispersed — flagged).
    *
    * Scale shape: one orders partial-agg to customer counts, one
    * moment reduction to a single row.
    */
  def negativeBinomialFit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).orders
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
    counts.agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(expr("c * c")).as("q"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        s"$NbMean AS mean_orders", s"$NbVar AS variance",
        s"CASE WHEN $NbMean = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          s"ELSE $NbVar / $NbMean END AS dispersion_index",
        s"CASE WHEN $NbVar > $NbMean THEN 1 ELSE 0 END AS overdispersed",
        s"CASE WHEN $NbVar <= $NbMean THEN CAST(0 AS DOUBLE) " +
          s"ELSE $NbMean * $NbMean / ($NbVar - $NbMean) END AS nb_size_r",
        s"CASE WHEN $NbVar <= $NbMean THEN CAST(0 AS DOUBLE) " +
          s"ELSE $NbMean / $NbVar END AS nb_prob_p")
  }

  private val NbMean = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
  private val NbVar =
    "((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(1 AS DOUBLE)))"

  val negativeBinomialFitSql: String =
    s"""WITH counts AS (
       |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
       |    CAST(sum(c * c) AS BIGINT) AS q
       |  FROM counts)
       |SELECT n AS n_customers, $NbMean AS mean_orders, $NbVar AS variance,
       |  CASE WHEN $NbMean = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE $NbVar / $NbMean END AS dispersion_index,
       |  CASE WHEN $NbVar > $NbMean THEN 1 ELSE 0 END AS overdispersed,
       |  CASE WHEN $NbVar <= $NbMean THEN CAST(0 AS DOUBLE)
       |  ELSE $NbMean * $NbMean / ($NbVar - $NbMean) END AS nb_size_r,
       |  CASE WHEN $NbVar <= $NbMean THEN CAST(0 AS DOUBLE)
       |  ELSE $NbMean / $NbVar END AS nb_prob_p
       |FROM mom""".stripMargin

  private val MerP = "(CAST(c AS DOUBLE) / CAST(rn AS DOUBLE))"
  private val MerTerm =
    s"CAST(round(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * __ln), 9) AS DECIMAL(18,9))"

  val markovEntropyRateSql: String = {
    import graft.functions.ExactLn
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |cells AS (
       |  SELECT event_type AS ft, next_type AS tt, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS BIGINT) AS rn,
       |    CAST(sum(count(*)) OVER () AS BIGINT) AS n
       |  FROM e WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |cy AS (SELECT c, rn, n, ft, ${ExactLn.yExpr(MerP)} AS __y FROM cells),
       |cz AS (SELECT *, ${ExactLn.zExpr("__y")} AS __z FROM cy),
       |cl AS (SELECT *, ${ExactLn.lnExpr("__z")} AS __ln FROM cz),
       |agg AS (
       |  SELECT CAST(count(DISTINCT ft) AS BIGINT) AS k,
       |    CAST(count(*) AS BIGINT) AS n_cells, sum($MerTerm) AS h
       |  FROM cl),
       |ky AS (SELECT *, CAST(k AS DOUBLE) AS kd FROM agg),
       |ky2 AS (SELECT *, ${ExactLn.yExpr("kd")} AS __yk FROM ky),
       |kz AS (SELECT *, ${ExactLn.zExpr("__yk")} AS __zk FROM ky2),
       |kl AS (SELECT *, ${ExactLn.lnExpr("__zk")} AS lnk FROM kz)
       |SELECT k AS n_states, n_cells, CAST(h AS DOUBLE) AS entropy_rate_nats,
       |  lnk AS max_entropy_nats,
       |  CASE WHEN lnk <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
       |  ELSE CAST(h AS DOUBLE) / lnk END AS predictability_gap
       |FROM kl""".stripMargin
  }

  // ------------------------------------------------------------------ tukey_hsd

  private val TukPairs: Seq[(Int, Int)] =
    for { i <- AnovaKeys; j <- AnovaKeys if i < j } yield (i, j)
  // MSW in cents² off the same pivoted exact moments as anova_oneway
  private val TukMsw = s"(($AnovaSsw) / CAST(nn - ${AnovaKeys.size} AS DOUBLE))"
  private def tukMean(k: Int) = s"(CAST(s_$k AS DOUBLE) / CAST(n_$k AS DOUBLE))"
  // Tukey–Kramer SE for unequal n: sqrt(MSW/2 · (1/n_i + 1/n_j))
  private def tukSe(i: Int, j: Int) =
    s"sqrt($TukMsw / CAST(2 AS DOUBLE) * (CAST(1 AS DOUBLE) / CAST(n_$i AS DOUBLE)" +
      s" + CAST(1 AS DOUBLE) / CAST(n_$j AS DOUBLE)))"
  // studentized-range critical value q(k=5, df→∞, α=0.05) — the df here
  // is N−k (millions of events), where the table row is flat at 3.858
  private val TukQCrit = "CAST(3.858 AS DOUBLE)"

  /** Tukey–Kramer HSD post-hoc on the `anova_oneway` frame: the
    * omnibus F says the five event-type value means differ; this says
    * WHICH of the ten pairs differ, with the studentized-range
    * statistic q = |m̄_i − m̄_j| / √(MSW/2·(1/n_i+1/n_j)) that holds
    * the FAMILYWISE error at α (ten naive t-tests would inflate it
    * ~40%). Runs off the identical one-row pivot of per-type exact
    * integer moments — no second data pass; every pair statistic is
    * a fixed-order double expression over those moments, and the
    * critical value is the df→∞ table row (documented — event counts
    * put N−k far past the table's last finite-df line).
    *
    * Scale shape: the anova_oneway shape exactly — ONE conditional-sum
    * partial-agg pass over events to a 15-column row; the ten pair
    * rows come from `stack` on that single row.
    */
  def tukeyHsd(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(spark, dir).events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mCols = AnovaKeys.flatMap { k =>
      val is = col("event_type") === EventTypes(k)
      Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(is, col("c")).otherwise(0L)).as(s"s_$k"),
        sum(when(is, col("c") * col("c")).otherwise(0L)).as(s"ss_$k"))
    }
    val pairCols = TukPairs.flatMap { case (i, j) =>
      Seq(
        expr(s"${tukMean(i)} / CAST(100 AS DOUBLE)").as(s"ma_${i}_$j"),
        expr(s"${tukMean(j)} / CAST(100 AS DOUBLE)").as(s"mb_${i}_$j"),
        expr(s"(${tukMean(i)} - ${tukMean(j)}) / CAST(100 AS DOUBLE)").as(s"md_${i}_$j"),
        expr(s"${tukSe(i, j)} / CAST(100 AS DOUBLE)").as(s"se_${i}_$j"),
        expr(s"abs(${tukMean(i)} - ${tukMean(j)}) / ${tukSe(i, j)}").as(s"q_${i}_$j"),
        expr(s"CASE WHEN abs(${tukMean(i)} - ${tukMean(j)}) / ${tukSe(i, j)}" +
          s" > $TukQCrit THEN 1 ELSE 0 END").as(s"sg_${i}_$j"))
    }
    val stackArgs = TukPairs.map { case (i, j) =>
      s"'${EventTypes(i)}', '${EventTypes(j)}', ma_${i}_$j, mb_${i}_$j," +
        s" md_${i}_$j, se_${i}_$j, q_${i}_$j, sg_${i}_$j"
    }.mkString(", ")
    keyed.agg(mCols.head, mCols.tail: _*)
      .withColumn("nn", expr(AnovaKeys.map(k => s"n_$k").mkString(" + ")))
      .withColumn("sqtot", expr(AnovaKeys.map(k => s"ss_$k").mkString(" + ")))
      .select(pairCols: _*)
      .selectExpr(s"stack(${TukPairs.size}, $stackArgs) AS " +
        "(type_a, type_b, mean_a, mean_b, mean_diff, se, q_stat, significant)")
      .orderBy("type_a", "type_b")
  }

  val tukeyHsdSql: String = {
    val mSums = AnovaKeys.flatMap { k =>
      val is = s"event_type = '${EventTypes(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN c ELSE 0 END) AS BIGINT) AS s_$k",
        s"CAST(sum(CASE WHEN $is THEN c * c ELSE 0 END) AS BIGINT) AS ss_$k")
    }
    val unions = TukPairs.map { case (i, j) =>
      s"""SELECT '${EventTypes(i)}' AS type_a, '${EventTypes(j)}' AS type_b,
         |  ${tukMean(i)} / CAST(100 AS DOUBLE) AS mean_a,
         |  ${tukMean(j)} / CAST(100 AS DOUBLE) AS mean_b,
         |  (${tukMean(i)} - ${tukMean(j)}) / CAST(100 AS DOUBLE) AS mean_diff,
         |  ${tukSe(i, j)} / CAST(100 AS DOUBLE) AS se,
         |  abs(${tukMean(i)} - ${tukMean(j)}) / ${tukSe(i, j)} AS q_stat,
         |  CASE WHEN abs(${tukMean(i)} - ${tukMean(j)}) / ${tukSe(i, j)} > $TukQCrit
         |  THEN 1 ELSE 0 END AS significant
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH o AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM o),
       |a AS (
       |  SELECT *, ${AnovaKeys.map(k => s"n_$k").mkString(" + ")} AS nn,
       |    ${AnovaKeys.map(k => s"ss_$k").mkString(" + ")} AS sqtot
       |  FROM m)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // -------------------------------------------------------------------- moran_i

  private val MoranI =
    "(CASE WHEN vt = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      "(CAST(n AS DOUBLE) / CAST(s0 AS DOUBLE)) * " +
      "(CAST(w2 AS DOUBLE) / CAST(vt AS DOUBLE)) END)"
  private val MoranE = "(CAST(-1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))"

  /** Moran's I spatial autocorrelation of per-nation revenue under
    * binary same-region contiguity weights (w_ij = 1 iff nations i≠j
    * share a region) — "do high-revenue nations sit in high-revenue
    * regions", the SPATIAL clustering read that `gini_profile`
    * (dispersion) and `hhi_concentration` (share mass) don't give.
    * Block-diagonal weights collapse the double sum: Σ_ij w z_i z_j =
    * Σ_regions (U_r² − V_r) with U_r = Σz, V_r = Σz² inside the
    * region. The mean-centering division is eliminated exactly by the
    * substitution u_i = n·x_i − S (u ∝ z, and I is scale-invariant in
    * z), so every accumulated quantity — u, u², U_r², S0 — is exact
    * scale-0 DECIMAL(38,0) integer math (cents·n ~ 10¹⁶ at 100 TB,
    * squares ~ 10³², inside the 38-digit ledger), and I is one
    * fixed-order double expression at the very end.
    *
    * Scale shape: one orders⋈customer partial-agg to the 25-nation
    * spine; all windows/sums run on nation- and region-grain frames
    * bounded by the dims, not the data.
    */
  def moranI(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("r"))
    val x = t.nation
      .select(col("n_nationkey").as("nk"), col("n_regionkey").as("rk"))
      .join(rev, Seq("nk"), "left")
      .select(col("rk"),
        expr("CAST(coalesce(r, 0) * 100 AS DECIMAL(38,0))").as("x"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("s", sum(col("x")).over(Window.partitionBy()))
      .withColumn("u", expr("CAST(n AS DECIMAL(38,0)) * x - s"))
    val reg = x.groupBy(col("rk"))
      .agg(count(lit(1)).as("nr"), sum(col("u")).as("ur"),
        sum(expr("u * u")).as("vr"), max(col("n")).as("n"))
    reg.agg(max(col("n")).as("n"), count(lit(1)).as("n_regions"),
        sum(expr("nr * (nr - 1)")).as("s0"),
        sum(expr("ur * ur - vr")).as("w2"), sum(col("vr")).as("vt"))
      .selectExpr("CAST(n AS BIGINT) AS n_nations",
        "CAST(n_regions AS BIGINT) AS n_regions", "CAST(s0 AS BIGINT) AS s0",
        s"$MoranI AS moran_i", s"$MoranE AS expected_i",
        s"CASE WHEN $MoranI > $MoranE THEN 1 ELSE 0 END AS clustered")
  }

  val moranISql: String =
    s"""WITH rev AS (
       |  SELECT c_nationkey AS nk, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
       |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
       |x AS (
       |  SELECT n_regionkey AS rk,
       |    CAST(coalesce(r, 0) * 100 AS DECIMAL(38,0)) AS x,
       |    count(*) OVER () AS n, sum(CAST(coalesce(r, 0) * 100 AS DECIMAL(38,0))) OVER () AS s
       |  FROM nation LEFT JOIN rev ON n_nationkey = nk),
       |u AS (SELECT rk, n, CAST(n AS DECIMAL(38,0)) * x - s AS u FROM x),
       |reg AS (
       |  SELECT rk, count(*) AS nr, sum(u) AS ur, sum(u * u) AS vr, max(n) AS n
       |  FROM u GROUP BY 1),
       |a AS (
       |  SELECT max(n) AS n, count(*) AS n_regions,
       |    sum(nr * (nr - 1)) AS s0, sum(ur * ur - vr) AS w2, sum(vr) AS vt
       |  FROM reg)
       |SELECT CAST(n AS BIGINT) AS n_nations, CAST(n_regions AS BIGINT) AS n_regions,
       |  CAST(s0 AS BIGINT) AS s0, $MoranI AS moran_i, $MoranE AS expected_i,
       |  CASE WHEN $MoranI > $MoranE THEN 1 ELSE 0 END AS clustered
       |FROM a""".stripMargin

  // ------------------------------------------------------------------ kendalls_w

  // S·4 = Σ(Σdr_j)² − (ΣΣdr)²/k on the doubled-rank sums (exact ints)
  private val KwS4 =
    "(CAST(s2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(k AS DOUBLE))"
  // W = 12·(S4/4) / (m²(k³−k) − m·T), tie-corrected
  private val KwW =
    s"((CAST(12 AS DOUBLE) * ($KwS4 / CAST(4 AS DOUBLE))) / " +
      "(CAST(b AS DOUBLE) * CAST(b AS DOUBLE) * CAST(k * k * k - k AS DOUBLE)" +
      " - CAST(b AS DOUBLE) * CAST(tsum AS DOUBLE)))"

  /** Kendall's coefficient of concordance W across monthly brand
    * rankings: each complete month ranks the 25 brands by revenue;
    * W ∈ [0,1] says how STABLE that ranking is across the calendar —
    * the assortment-consistency read (`friedman_test` asks "do
    * weekdays differ"; this asks "do the months agree", the dual).
    * Ties ride the doubled-rank trick (dr = 2·rank + ties − 1 keeps
    * every rank sum an exact integer) with the standard tie
    * correction T = Σ(t³−t); χ²_F = m(k−1)·W is the significance
    * recompute. Incomplete months are listwise-dropped (ranks must
    * be 1..k — the friedman_test convention).
    *
    * Scale shape: one lineitem⋈broadcast(part) partial-agg to the
    * (month × brand) spine (domain-bounded: calendar × 25); every
    * window and rank runs on that spine, never on fact rows.
    */
  def kendallsW(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cells = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(expr("year(l_shipdate) * 12 + month(l_shipdate) - 1").as("m"),
        col("p_brand"))
      .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)").as("y"))
    val full = cells
      .withColumn("nc", count(lit(1)).over(Window.partitionBy("m")))
      .filter(col("nc") === 25)
    val ties = full.groupBy(col("m"), col("y"))
      .agg(count(lit(1)).as("tc"))
      .agg(coalesce(sum(expr("tc * tc * tc - tc")), lit(0L)).as("tsum"))
    val ranked = full
      .withColumn("rk", rank().over(Window.partitionBy("m").orderBy("y")))
      .withColumn("ct", count(lit(1)).over(Window.partitionBy("m", "y")))
      .withColumn("dr", expr("CAST(2 * rk + ct - 1 AS BIGINT)"))
    val byBrand = ranked.groupBy(col("p_brand"))
      .agg(sum(col("dr")).as("sdr"), count(lit(1)).as("nb"))
    byBrand
      .agg(sum(expr("sdr * sdr")).as("s2"), sum(col("sdr")).as("st"),
        max(col("nb")).as("b"), count(lit(1)).as("k"))
      .crossJoin(broadcast(ties))
      .selectExpr("CAST(b AS BIGINT) AS n_blocks", "CAST(k AS BIGINT) AS k_items",
        "CAST(tsum AS BIGINT) AS tie_sum",
        s"$KwS4 / CAST(4 AS DOUBLE) AS s_between",
        s"$KwW AS w",
        s"CAST(b AS DOUBLE) * CAST(k - 1 AS DOUBLE) * $KwW AS chi2_f")
  }

  val kendallsWSql: String =
    s"""WITH cells AS (
       |  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m, p_brand,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
       |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
       |full_m AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY m) AS nc FROM cells)
       |  WHERE nc = 25),
       |tie AS (
       |  SELECT coalesce(sum(tc * tc * tc - tc), 0) AS tsum FROM (
       |    SELECT m, y, CAST(count(*) AS BIGINT) AS tc FROM full_m GROUP BY 1, 2)),
       |ranked AS (
       |  SELECT p_brand,
       |    CAST(2 * rank() OVER (PARTITION BY m ORDER BY y)
       |      + count(*) OVER (PARTITION BY m, y) - 1 AS BIGINT) AS dr
       |  FROM full_m),
       |bb AS (
       |  SELECT p_brand, CAST(sum(dr) AS BIGINT) AS sdr, count(*) AS nb
       |  FROM ranked GROUP BY 1),
       |a AS (
       |  SELECT CAST(sum(sdr * sdr) AS BIGINT) AS s2, CAST(sum(sdr) AS BIGINT) AS st,
       |    CAST(max(nb) AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS k
       |  FROM bb)
       |SELECT b AS n_blocks, k AS k_items, CAST(tsum AS BIGINT) AS tie_sum,
       |  $KwS4 / CAST(4 AS DOUBLE) AS s_between, $KwW AS w,
       |  CAST(b AS DOUBLE) * CAST(k - 1 AS DOUBLE) * $KwW AS chi2_f
       |FROM a, tie""".stripMargin

  // --------------------------------------------------------- brier_decomposition

  private val BdPbar = "(CAST(pd AS DOUBLE) / CAST(n_users AS DOUBLE))"
  private val BdObar = "(CAST(n_pos AS DOUBLE) / CAST(n_users AS DOUBLE))"
  private val BdOall = "(CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))"

  /** Murphy decomposition of the Brier score over the
    * `calibration_curve` bands: BS = UNC + REL − RES + WBV − 2·WCV,
    * where reliability (how far band means sit from observed rates)
    * is the fixable miscalibration, resolution (how far band rates
    * spread from the base rate) is the model's real skill, and
    * uncertainty ō(1−ō) is the floor no model beats — plus the two
    * within-bin terms the textbook three-way form drops when
    * predictions vary inside a band (they do here; the identity is
    * EXACT with them). One number per component instead of
    * calibration_curve's per-band eyeball. Band moments (Σp, Σp²,
    * Σpy, Σ(p−y)²) are 9-dp-quantized decimal sums of deterministic
    * per-user doubles; every component is a fixed-order expression
    * over those exact band moments.
    *
    * Scale shape: the calibration_curve shape — two user-keyed
    * partial aggs + one user-keyed join; the decomposition runs on
    * the ≤10-band spine.
    */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val mid = ev.agg(expr("CAST(floor((min(ts_us) + max(ts_us)) / 2.0) AS BIGINT)").as("mid"))
    val ud = ev.crossJoin(broadcast(mid))
      .select(col("user_id"), (col("ts_us") <= col("mid")).as("is_train"),
        timestamp_micros(col("ts_us")).cast("date").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
    val score = ud.filter(col("is_train"))
      .groupBy(col("user_id"), col("d")).agg(max(col("p")).as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("days"), sum(col("c")).as("convs"))
      .withColumn("pred", expr("CAST(convs AS DOUBLE) / CAST(days AS DOUBLE)"))
    val outcome = ud.filter(!col("is_train"))
      .groupBy(col("user_id")).agg(max(col("p")).as("y"))
    val bands = score.join(outcome, Seq("user_id"))
      .withColumn("band", expr("least(CAST(floor(pred * 10) AS INTEGER), 9)"))
      .withColumn("sq",
        expr("(pred - CAST(y AS DOUBLE)) * (pred - CAST(y AS DOUBLE))"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CAST(round(pred, 9) AS DECIMAL(18,9))")).as("pd"),
        sum(expr("CAST(round(pred * pred, 9) AS DECIMAL(18,9))")).as("p2d"),
        sum(col("y")).as("n_pos"),
        sum(expr("CAST(round(CASE WHEN y = 1 THEN pred ELSE CAST(0 AS DOUBLE) END, 9) AS DECIMAL(18,9))")).as("spy"),
        sum(expr("CAST(round(sq, 9) AS DECIMAL(18,9))")).as("sqd"))
      .withColumn("tot_n", sum(col("n_users")).over(Window.partitionBy()))
      .withColumn("tot_pos", sum(col("n_pos")).over(Window.partitionBy()))
      .withColumn("tot_sq", sum(col("sqd")).over(Window.partitionBy()))
    bands
      .withColumn("rel_t", expr(s"CAST(n_users AS DOUBLE) * ($BdPbar - $BdObar) * ($BdPbar - $BdObar)"))
      .withColumn("res_t", expr(s"CAST(n_users AS DOUBLE) * ($BdObar - $BdOall) * ($BdObar - $BdOall)"))
      .withColumn("wbv_t", expr(s"CAST(p2d AS DOUBLE) - CAST(n_users AS DOUBLE) * $BdPbar * $BdPbar"))
      .withColumn("wcv_t", expr(s"CAST(spy AS DOUBLE) - $BdPbar * CAST(n_pos AS DOUBLE)"))
      .agg(max(col("tot_n")).as("nn"), max(col("tot_pos")).as("np"),
        max(col("tot_sq")).as("sq"),
        sum(expr("CAST(round(rel_t, 9) AS DECIMAL(18,9))")).as("rel_s"),
        sum(expr("CAST(round(res_t, 9) AS DECIMAL(18,9))")).as("res_s"),
        sum(expr("CAST(round(wbv_t, 9) AS DECIMAL(18,9))")).as("wbv_s"),
        sum(expr("CAST(round(wcv_t, 9) AS DECIMAL(18,9))")).as("wcv_s"))
      .selectExpr("CAST(nn AS BIGINT) AS n_users",
        "CAST(sq AS DOUBLE) / CAST(nn AS DOUBLE) AS brier_score",
        "(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) AS uncertainty",
        "CAST(rel_s AS DOUBLE) / CAST(nn AS DOUBLE) AS reliability",
        "CAST(res_s AS DOUBLE) / CAST(nn AS DOUBLE) AS resolution",
        "CAST(wbv_s AS DOUBLE) / CAST(nn AS DOUBLE) AS within_bin_var",
        "CAST(wcv_s AS DOUBLE) / CAST(nn AS DOUBLE) AS within_bin_cov")
  }

  val brierDecompositionSql: String =
    s"""WITH mid AS (
       |  SELECT CAST(floor((min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0) AS BIGINT) AS mid
       |  FROM events),
       |ud AS (
       |  SELECT user_id, epoch_us(ts) <= mid AS is_train, CAST(ts AS DATE) AS d,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
       |  FROM events, mid),
       |tr AS (SELECT user_id, d, max(p) AS c FROM ud WHERE is_train GROUP BY 1, 2),
       |sc AS (
       |  SELECT user_id,
       |    CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pred
       |  FROM tr GROUP BY 1),
       |oc AS (SELECT user_id, CAST(max(p) AS BIGINT) AS y FROM ud WHERE NOT is_train GROUP BY 1),
       |j AS (
       |  SELECT pred, y, least(CAST(floor(pred * 10) AS INTEGER), 9) AS band,
       |    (pred - CAST(y AS DOUBLE)) * (pred - CAST(y AS DOUBLE)) AS sq
       |  FROM sc JOIN oc ON sc.user_id = oc.user_id),
       |g AS (
       |  SELECT band, CAST(count(*) AS BIGINT) AS n_users,
       |    sum(CAST(round(pred, 9) AS DECIMAL(18,9))) AS pd,
       |    sum(CAST(round(pred * pred, 9) AS DECIMAL(18,9))) AS p2d,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    sum(CAST(round(CASE WHEN y = 1 THEN pred ELSE CAST(0 AS DOUBLE) END, 9) AS DECIMAL(18,9))) AS spy,
       |    sum(CAST(round(sq, 9) AS DECIMAL(18,9))) AS sqd
       |  FROM j GROUP BY 1),
       |w AS (
       |  SELECT *, sum(n_users) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos,
       |    sum(sqd) OVER () AS tot_sq
       |  FROM g),
       |terms AS (
       |  SELECT *,
       |    CAST(n_users AS DOUBLE) * ($BdPbar - $BdObar) * ($BdPbar - $BdObar) AS rel_t,
       |    CAST(n_users AS DOUBLE) * ($BdObar - $BdOall) * ($BdObar - $BdOall) AS res_t,
       |    CAST(p2d AS DOUBLE) - CAST(n_users AS DOUBLE) * $BdPbar * $BdPbar AS wbv_t,
       |    CAST(spy AS DOUBLE) - $BdPbar * CAST(n_pos AS DOUBLE) AS wcv_t
       |  FROM w),
       |a AS (
       |  SELECT max(tot_n) AS nn, max(tot_pos) AS np, max(tot_sq) AS sq,
       |    sum(CAST(round(rel_t, 9) AS DECIMAL(18,9))) AS rel_s,
       |    sum(CAST(round(res_t, 9) AS DECIMAL(18,9))) AS res_s,
       |    sum(CAST(round(wbv_t, 9) AS DECIMAL(18,9))) AS wbv_s,
       |    sum(CAST(round(wcv_t, 9) AS DECIMAL(18,9))) AS wcv_s
       |  FROM terms)
       |SELECT CAST(nn AS BIGINT) AS n_users,
       |  CAST(sq AS DOUBLE) / CAST(nn AS DOUBLE) AS brier_score,
       |  (CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) AS uncertainty,
       |  CAST(rel_s AS DOUBLE) / CAST(nn AS DOUBLE) AS reliability,
       |  CAST(res_s AS DOUBLE) / CAST(nn AS DOUBLE) AS resolution,
       |  CAST(wbv_s AS DOUBLE) / CAST(nn AS DOUBLE) AS within_bin_var,
       |  CAST(wcv_s AS DOUBLE) / CAST(nn AS DOUBLE) AS within_bin_cov
       |FROM a""".stripMargin

  // --------------------------------------------------------------- ks_fdr_battery

  private val FdrBrands: Seq[String] = (1 to 25).map(i => s"Brand#$i")
  private val FdrAlpha = "CAST(0.05 AS DOUBLE)"
  // two-sample KS D for brand k vs the pooled rest, off cumulative
  // integer counts (exact-long divisions, max of identical doubles)
  private def fdrD(k: Int, ftot: String, ntot: String): String =
    s"max(abs(CAST(f_$k AS DOUBLE) / CAST(n_$k AS DOUBLE)" +
      s" - CAST($ftot - f_$k AS DOUBLE) / CAST($ntot - n_$k AS DOUBLE)))"
  // one-term asymptotic two-sample KS p: 2·exp(−2·n_e·D²), exponent
  // clamped at −40 (the ExactExp domain; past it p < 4e−18 — a FLOOR,
  // documented, far beyond any decision threshold)
  private val FdrArg =
    "greatest(CAST(-40 AS DOUBLE), CAST(-2 AS DOUBLE) * " +
      "(CAST(nb AS DOUBLE) * CAST(nt - nb AS DOUBLE) / CAST(nt AS DOUBLE))" +
      " * d_stat * d_stat)"

  /** Benjamini–Hochberg FDR over a 25-test KS battery: each brand's
    * $1k-quantized line-price distribution against the pooled rest,
    * p-values from the standard one-term asymptotic 2·e^(−2·n_e·D²)
    * (engine-exact via [[graft.functions.ExactExp]], exponent clamped
    * at the |x| ≤ 40 domain — a documented p-floor of ~4e−18), then
    * the step-up procedure at α = 0.05: reject every test ranked at
    * or below the largest i with p_(i) ≤ i·α/m. THE multiple-testing
    * pattern a monitoring warehouse needs — 25 uncorrected tests at
    * α = 0.05 fire ~1.25 false alarms per run forever; BH bounds the
    * FALSE DISCOVERY RATE while keeping far more power than
    * Bonferroni. `ks_test` gives one pair; this runs the family and
    * adjudicates it as a family.
    *
    * Scale shape: one lineitem⋈broadcast(part) conditional-count pass
    * reduces to the ~105-row $1k price grid × 25 columns (domain-
    * bounded — the ks_test convention); the ECDF window, the D maxes,
    * the exp chain, and the BH ranking all run on grid- or
    * battery-sized frames.
    */
  def ksFdrBattery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactExp
    val t = Tables(spark, dir)
    val rows = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(expr("CAST(floor(CAST(l_extendedprice AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT)").as("v"),
        col("p_brand"))
    val ks = FdrBrands.indices
    val cCols = ks.map(k =>
      sum(when(col("p_brand") === FdrBrands(k), 1L).otherwise(0L)).as(s"c_$k"))
    val grid = rows.groupBy(col("v")).agg(cCols.head, cCols.tail: _*)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select(
      col("v") +: ks.map(k => sum(col(s"c_$k")).over(w).as(s"f_$k")): _*)
    val nCols = ks.map(k => sum(col(s"c_$k")).as(s"n_$k"))
    val totals = grid.agg(nCols.head, nCols.tail: _*)
    val ftot = ks.map(k => s"f_$k").mkString(" + ")
    val ntot = ks.map(k => s"n_$k").mkString(" + ")
    val dCols = ks.map(k => expr(fdrD(k, s"($ftot)", s"($ntot)")).as(s"d_$k"))
    val maxes = cum.crossJoin(broadcast(totals)).agg(dCols.head, dCols.tail: _*)
    val stackArgs = ks.map(k => s"'${FdrBrands(k)}', n_$k, d_$k").mkString(", ")
    val battery = maxes.crossJoin(broadcast(totals))
      .withColumn("nt", expr(ntot))
      .selectExpr("nt", s"stack(${ks.size}, $stackArgs) AS (p_brand, nb, d_stat)")
      .withColumn("__a", expr(FdrArg))
      .withColumn("__u", expr(ExactExp.uExpr("__a")))
      .withColumn("__p", expr(ExactExp.pExpr("__u")))
      .withColumn("pv", expr(
        s"least(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE) * ${ExactExp.expExpr("__p")})"))
    battery
      .withColumn("rk", row_number().over(Window.orderBy(col("pv"), col("p_brand"))))
      .withColumn("thr", expr(s"CAST(rk AS DOUBLE) * $FdrAlpha / CAST(${ks.size} AS DOUBLE)"))
      .withColumn("crossing", max(expr("CASE WHEN pv <= thr THEN rk ELSE 0 END"))
        .over(Window.partitionBy()))
      .selectExpr("p_brand", "CAST(nb AS BIGINT) AS n_brand", "d_stat",
        "pv AS p_value", "CAST(rk AS INTEGER) AS bh_rank", "thr AS bh_threshold",
        "CASE WHEN rk <= crossing THEN 1 ELSE 0 END AS rejected")
      .orderBy("p_brand")
  }

  val ksFdrBatterySql: String = {
    import graft.functions.ExactExp
    val ks = FdrBrands.indices
    val cSums = ks.map(k =>
      s"CAST(sum(CASE WHEN p_brand = '${FdrBrands(k)}' THEN 1 ELSE 0 END) AS BIGINT) AS c_$k")
      .mkString(",\n    ")
    val fCums = ks.map(k =>
      s"sum(c_$k) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_$k")
      .mkString(",\n    ")
    val nTots = ks.map(k => s"CAST(sum(c_$k) AS BIGINT) AS n_$k").mkString(", ")
    val ftot = ks.map(k => s"f_$k").mkString(" + ")
    val ntot = ks.map(k => s"n_$k").mkString(" + ")
    val dMaxes = ks.map(k => s"${fdrD(k, s"($ftot)", s"($ntot)")} AS d_$k")
      .mkString(",\n    ")
    val unions = ks.map(k =>
      s"SELECT '${FdrBrands(k)}' AS p_brand, n_$k AS nb, d_$k AS d_stat, nt FROM m, t")
      .mkString("\nUNION ALL ")
    s"""WITH rows_b AS (
       |  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) / CAST(1000 AS DOUBLE)) AS BIGINT) AS v,
       |    p_brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |g AS (
       |  SELECT v,
       |    $cSums
       |  FROM rows_b GROUP BY v),
       |f AS (
       |  SELECT v,
       |    $fCums
       |  FROM g),
       |t AS (SELECT $nTots FROM g),
       |m AS (
       |  SELECT
       |    $dMaxes,
       |    max($ntot) AS nt
       |  FROM f, t),
       |battery AS (
       |  $unions),
       |e1 AS (SELECT *, $FdrArg AS __a FROM battery),
       |e2 AS (SELECT *, ${ExactExp.uExpr("__a")} AS __u FROM e1),
       |e3 AS (SELECT *, ${ExactExp.pExpr("__u")} AS __p FROM e2),
       |pv AS (
       |  SELECT p_brand, nb, d_stat,
       |    least(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE) * ${ExactExp.expExpr("__p")}) AS pv
       |  FROM e3),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY pv, p_brand) AS rk FROM pv),
       |thr AS (
       |  SELECT *, CAST(rk AS DOUBLE) * $FdrAlpha / CAST(${ks.size} AS DOUBLE) AS thr FROM rk),
       |cr AS (
       |  SELECT *, max(CASE WHEN pv <= thr THEN rk ELSE 0 END) OVER () AS crossing FROM thr)
       |SELECT p_brand, CAST(nb AS BIGINT) AS n_brand, d_stat, pv AS p_value,
       |  CAST(rk AS INTEGER) AS bh_rank, thr AS bh_threshold,
       |  CASE WHEN rk <= crossing THEN 1 ELSE 0 END AS rejected
       |FROM cr ORDER BY p_brand""".stripMargin
  }

  // --------------------------------------------------------------- theta_forecast

  /** Theta-method (θ = 2) one-step monthly revenue forecast per
    * region via the Hyndman–Billah equivalence: ŷ_{T+1} = SES level
    * + b/2 with b the OLS slope of the full series — the M3-winning
    * baseline that beats both its parents (`ewma_revenue` has no
    * drift and lags every ramp; `regression_trend` has no level
    * adaptation and overshoots every turn). SES is the truncated
    * integer-weight EWMA filter ([[EwmaW]], prefix-renormalized —
    * positive weights, so truncation renormalizes losslessly), the
    * slope the exact-moment [[SdSlope]] on per-region month offsets;
    * both stage as deterministic doubles and the forecast is one
    * fixed-order expression.
    *
    * Scale shape: the orders⋈customer reduce dominates (the
    * regionMonthly shape); the lag window, moment agg, and 5-row
    * region join all run on the calendar-bounded month spine.
    */
  def thetaForecast(spark: SparkSession, dir: String): DataFrame = {
    val monthly = regionMonthly(spark, dir)
    val w = Window.partitionBy("region_name").orderBy("m")
    var df = monthly
    for (k <- 0 until EwmaLags)
      df = df.withColumn(s"lg$k", lag(col("rev_c"), k).over(w))
    val last = df
      .withColumn("mx", max(col("m")).over(Window.partitionBy("region_name")))
      .filter(col("m") === col("mx"))
      .withColumn("ses", expr(ewmaExpr))
      .select(col("region_name"),
        expr("CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE)").as("last_revenue"),
        col("ses"))
    val mom = monthly
      .withColumn("x", col("m") - min(col("m")).over(Window.partitionBy("region_name")))
      .groupBy(col("region_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("rev_c")).as("sy"),
        sum(col("x") * col("rev_c")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_d", expr(s"($SdSlope) / CAST(100 AS DOUBLE)"))
    last.join(broadcast(mom.select(col("region_name"), col("n"), col("slope_d"))),
        Seq("region_name"))
      .selectExpr("region_name", "CAST(n AS BIGINT) AS n_months", "last_revenue",
        "ses AS ses_level", "slope_d AS ols_slope_monthly",
        "ses + slope_d / CAST(2 AS DOUBLE) AS theta_forecast")
      .orderBy("region_name")
  }

  val thetaForecastSql: String = {
    val lags = (0 until EwmaLags).map { k =>
      s"lag(rev_c, $k) OVER (PARTITION BY region_name ORDER BY m) AS lg$k"
    }.mkString(",\n    ")
    s"""WITH monthly AS (
       |$RegionMonthlySqlCte),
       |l AS (
       |  SELECT region_name, m, rev_c,
       |    max(m) OVER (PARTITION BY region_name) AS mx,
       |    $lags
       |  FROM monthly),
       |lastrow AS (
       |  SELECT region_name,
       |    CAST(rev_c AS DOUBLE) / CAST(100 AS DOUBLE) AS last_revenue,
       |    $ewmaExpr AS ses
       |  FROM l WHERE m = mx),
       |mom AS (
       |  SELECT region_name, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(rev_c) AS BIGINT) AS sy,
       |    CAST(sum(x * rev_c) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM (
       |    SELECT region_name, rev_c,
       |      m - min(m) OVER (PARTITION BY region_name) AS x
       |    FROM monthly) z
       |  GROUP BY 1),
       |sl AS (SELECT region_name, n, ($SdSlope) / CAST(100 AS DOUBLE) AS slope_d FROM mom)
       |SELECT lastrow.region_name, n AS n_months, last_revenue, ses AS ses_level,
       |  slope_d AS ols_slope_monthly,
       |  ses + slope_d / CAST(2 AS DOUBLE) AS theta_forecast
       |FROM lastrow JOIN sl ON lastrow.region_name = sl.region_name
       |ORDER BY lastrow.region_name""".stripMargin
  }

  // -------------------------------------------------------- simpson_paradox_audit

  // OLS slope of quantity on discount basis points from exact integer
  // moments, zero-variance-guarded in IEEE space (shared text)
  private def spSlope(p: String): String = {
    val den = s"(CAST(${p}n AS DOUBLE) * CAST(${p}sdd AS DOUBLE)" +
      s" - CAST(${p}sd AS DOUBLE) * CAST(${p}sd AS DOUBLE))"
    s"(CASE WHEN $den = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE " +
      s"(CAST(${p}n AS DOUBLE) * CAST(${p}sdq AS DOUBLE)" +
      s" - CAST(${p}sd AS DOUBLE) * CAST(${p}sq AS DOUBLE)) / $den END)"
  }

  /** Simpson's-paradox audit of the discount→quantity relationship:
    * the OLS slope pooled across ALL lineitems next to each brand's
    * own slope, flagging brands whose stratified sign CONTRADICTS the
    * pooled sign — the aggregation-bias tripwire every self-serve
    * dashboard needs (a pooled "discounts move volume" conclusion can
    * be an artifact of brand mix; the per-stratum signs are the
    * check). Slopes are the exact-moment OLS form on integer basis
    * points × integer quantities; the pooled moments are the exact
    * integer window sums of the per-brand moments (same one data
    * pass), and both slope texts are IEEE-guarded against
    * zero-variance strata.
    *
    * Scale shape: one lineitem⋈broadcast(part) partial-agg pass to
    * 25 brand moment rows; the pooled window and both slopes run on
    * that bounded spine.
    */
  def simpsonParadoxAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val mom = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("d"),
        expr("CAST(l_quantity AS BIGINT)").as("q"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"), sum(col("q")).as("sq"),
        sum(col("d") * col("q")).as("sdq"), sum(col("d") * col("d")).as("sdd"))
    val wAll = Window.partitionBy()
    mom
      .withColumn("tn", sum(col("n")).over(wAll))
      .withColumn("tsd", sum(col("sd")).over(wAll))
      .withColumn("tsq", sum(col("sq")).over(wAll))
      .withColumn("tsdq", sum(col("sdq")).over(wAll))
      .withColumn("tsdd", sum(col("sdd")).over(wAll))
      .selectExpr("p_brand", "CAST(n AS BIGINT) AS n_rows",
        s"${spSlope("")} AS brand_slope", s"${spSlope("t")} AS pooled_slope",
        s"CASE WHEN ${spSlope("")} * ${spSlope("t")} < CAST(0 AS DOUBLE)" +
          " THEN 1 ELSE 0 END AS sign_flip")
      .orderBy("p_brand")
  }

  val simpsonParadoxAuditSql: String =
    s"""WITH rows_b AS (
       |  SELECT p_brand, CAST(round(l_discount * 100) AS BIGINT) AS d,
       |    CAST(l_quantity AS BIGINT) AS q
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |mom AS (
       |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sd,
       |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(d * q) AS BIGINT) AS sdq,
       |    CAST(sum(d * d) AS BIGINT) AS sdd
       |  FROM rows_b GROUP BY 1),
       |w AS (
       |  SELECT *, sum(n) OVER () AS tn, sum(sd) OVER () AS tsd,
       |    sum(sq) OVER () AS tsq, sum(sdq) OVER () AS tsdq,
       |    sum(sdd) OVER () AS tsdd
       |  FROM mom)
       |SELECT p_brand, n AS n_rows, ${spSlope("")} AS brand_slope,
       |  ${spSlope("t")} AS pooled_slope,
       |  CASE WHEN ${spSlope("")} * ${spSlope("t")} < CAST(0 AS DOUBLE)
       |  THEN 1 ELSE 0 END AS sign_flip
       |FROM w ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------------ seasonal_strength

  // population variance from $M-scaled 9-dp-quantized decimal moments,
  // zero-guarded (shared text); prefix picks the series
  private def ssVar(p: String): String =
    s"greatest(CAST(0 AS DOUBLE), CAST(${p}qs AS DOUBLE) / CAST(nm AS DOUBLE)" +
      s" - (CAST(${p}s AS DOUBLE) / CAST(nm AS DOUBLE))" +
      s" * (CAST(${p}s AS DOUBLE) / CAST(nm AS DOUBLE)))"
  private def ssStrength(p: String): String =
    s"(CASE WHEN ${ssVar(p)} = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE " +
      s"greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - ${ssVar("r")} / ${ssVar(p)}) END)"

  /** Seasonal and trend STRENGTH of monthly revenue (the tsfeatures
    * F_S = max(0, 1 − Var(R)/Var(S+R)) and F_T = max(0, 1 −
    * Var(R)/Var(T+R)) on `seasonal_decompose`'s additive components)
    * — the two scalars that tell a forecasting pipeline WHICH model
    * family the series needs (F_S high → seasonal terms earn their
    * parameters; F_T high → drift does), where the decompose table
    * itself needs an analyst's eyeball. Components re-derive from the
    * same exact-moment texts; the variances run on $M-scaled 9-dp
    * quantized moments (deviation ledger: squares stay < 2^53 for
    * monthly deviations up to ~$3B — far past sf100; beyond, widen
    * the quantization, only the exactness proof changes).
    *
    * Scale shape: the seasonal_decompose shape — one partial-agg pass
    * to the calendar-bounded month frame; everything downstream runs
    * on month-, 12-cell-, or 1-row frames.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val m0 = monthly.agg(min(col("m")).as("m0"))
    val base = monthly.crossJoin(broadcast(m0))
      .select(col("m"), (col("m") - col("m0")).as("x"), col("y"))
    val mom = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val detr = base.crossJoin(broadcast(mom))
      .withColumn("detr", expr(s"CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - ($SdTrend)"))
      .withColumn("moy", expr("CAST(m % 12 AS INTEGER)"))
    val seas = detr.groupBy(col("moy"))
      .agg(sum(expr("CAST(round(detr, 6) AS DECIMAL(28,6))")).as("sdetr"),
        count(lit(1)).as("nm"))
      .selectExpr("moy",
        "CAST(sdetr AS DOUBLE) / CAST(nm AS DOUBLE) AS seasonal")
    val comp = detr.join(broadcast(seas), "moy")
      // $M units keep every quantized square far inside 2^53
      .withColumn("r_m", expr("(detr - seasonal) / CAST(1000000 AS DOUBLE)"))
      .withColumn("sr_m", expr("detr / CAST(1000000 AS DOUBLE)"))
      .withColumn("tr_m", expr(
        "(CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - seasonal) / CAST(1000000 AS DOUBLE)"))
    comp.agg(count(lit(1)).as("nm"),
        sum(expr("CAST(round(r_m, 9) AS DECIMAL(38,9))")).as("rs"),
        sum(expr("CAST(round(r_m * r_m, 9) AS DECIMAL(38,9))")).as("rqs"),
        sum(expr("CAST(round(sr_m, 9) AS DECIMAL(38,9))")).as("srs"),
        sum(expr("CAST(round(sr_m * sr_m, 9) AS DECIMAL(38,9))")).as("srqs"),
        sum(expr("CAST(round(tr_m, 9) AS DECIMAL(38,9))")).as("trs"),
        sum(expr("CAST(round(tr_m * tr_m, 9) AS DECIMAL(38,9))")).as("trqs"))
      .selectExpr("CAST(nm AS BIGINT) AS n_months",
        s"${ssVar("r")} AS var_residual",
        s"${ssVar("sr")} AS var_detrended",
        s"${ssVar("tr")} AS var_deseasonalized",
        s"${ssStrength("sr")} AS seasonal_strength",
        s"${ssStrength("tr")} AS trend_strength")
  }

  val seasonalStrengthSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |m0 AS (SELECT min(m) AS m0 FROM monthly),
       |base AS (SELECT m, m - m0 AS x, y FROM monthly, m0),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM base),
       |d AS (
       |  SELECT m, x, y,
       |    CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - ($SdTrend) AS detr,
       |    CAST(m % 12 AS INTEGER) AS moy
       |  FROM base, mom),
       |seas AS (
       |  SELECT moy,
       |    CAST(sum(CAST(round(detr, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS seasonal
       |  FROM d GROUP BY 1),
       |comp AS (
       |  SELECT (detr - seasonal) / CAST(1000000 AS DOUBLE) AS r_m,
       |    detr / CAST(1000000 AS DOUBLE) AS sr_m,
       |    (CAST(y AS DOUBLE) / CAST(100 AS DOUBLE) - seasonal) / CAST(1000000 AS DOUBLE) AS tr_m
       |  FROM d JOIN seas USING (moy)),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nm,
       |    sum(CAST(round(r_m, 9) AS DECIMAL(38,9))) AS rs,
       |    sum(CAST(round(r_m * r_m, 9) AS DECIMAL(38,9))) AS rqs,
       |    sum(CAST(round(sr_m, 9) AS DECIMAL(38,9))) AS srs,
       |    sum(CAST(round(sr_m * sr_m, 9) AS DECIMAL(38,9))) AS srqs,
       |    sum(CAST(round(tr_m, 9) AS DECIMAL(38,9))) AS trs,
       |    sum(CAST(round(tr_m * tr_m, 9) AS DECIMAL(38,9))) AS trqs
       |  FROM comp)
       |SELECT nm AS n_months, ${ssVar("r")} AS var_residual,
       |  ${ssVar("sr")} AS var_detrended, ${ssVar("tr")} AS var_deseasonalized,
       |  ${ssStrength("sr")} AS seasonal_strength,
       |  ${ssStrength("tr")} AS trend_strength
       |FROM a""".stripMargin

  // ---------------------------------------------------------- partial_correlation

  // Pearson r from exact decimal(38,0) moments — the corrExpr
  // convention (Reports.scala): decimal arithmetic inside, ONE cast
  private def pcCorr(sx: String, sy: String, sxx: String, syy: String,
      sxy: String): String =
    s"(CAST(n * $sxy - $sx * $sy AS DOUBLE)" +
      s" / (sqrt(CAST(n * $sxx - $sx * $sx AS DOUBLE))" +
      s" * sqrt(CAST(n * $syy - $sy * $sy AS DOUBLE))))"
  // first-order partial r_xy·z on the staged pairwise correlations
  private def pcPartial(rxy: String, rxz: String, ryz: String): String =
    s"(($rxy - $rxz * $ryz) / (sqrt((CAST(1 AS DOUBLE) - $rxz * $rxz)" +
      s" * (CAST(1 AS DOUBLE) - $ryz * $ryz))))"

  /** First-order partial correlations of (quantity, price, discount)
    * over lineitems: each pairwise Pearson r NEXT TO the same pair's
    * correlation with the third variable partialled out — the
    * confounder check `corr_profile` (raw pairwise only) can't make:
    * a price↔quantity correlation that collapses when discount is
    * controlled was never a price effect. Moments accumulate exactly
    * in scale-0 decimal(38,0) (the corrExpr convention); the three
    * r's stage as deterministic doubles and each partial is one
    * fixed-order expression on them.
    *
    * Scale shape: ONE lineitem partial-agg pass to a 10-moment row;
    * everything after is scalar arithmetic.
    */
  def partialCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables(spark, dir).lineitem.selectExpr(
      "CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q",
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p",
      "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d")
    g.agg(count(lit(1)).as("n"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"),
        sum(expr("CAST(p AS DECIMAL(38,0))")).as("sp"),
        sum(expr("CAST(d AS DECIMAL(38,0))")).as("sd"),
        sum(expr("CAST(q * q AS DECIMAL(38,0))")).as("sqq"),
        sum(expr("CAST(p * p AS DECIMAL(38,0))")).as("spp"),
        sum(expr("CAST(d * d AS DECIMAL(38,0))")).as("sdd"),
        sum(expr("CAST(q * p AS DECIMAL(38,0))")).as("sqp"),
        sum(expr("CAST(q * d AS DECIMAL(38,0))")).as("sqd"),
        sum(expr("CAST(d * p AS DECIMAL(38,0))")).as("sdp"))
      .withColumn("r_qp", expr(pcCorr("sq", "sp", "sqq", "spp", "sqp")))
      .withColumn("r_qd", expr(pcCorr("sq", "sd", "sqq", "sdd", "sqd")))
      .withColumn("r_dp", expr(pcCorr("sd", "sp", "sdd", "spp", "sdp")))
      .selectExpr("CAST(n AS BIGINT) AS n_rows",
        "r_qp AS corr_qty_price", "r_qd AS corr_qty_disc", "r_dp AS corr_disc_price",
        s"${pcPartial("r_qp", "r_qd", "r_dp")} AS partial_qty_price",
        s"${pcPartial("r_qd", "r_qp", "r_dp")} AS partial_qty_disc",
        s"${pcPartial("r_dp", "r_qd", "r_qp")} AS partial_disc_price")
  }

  val partialCorrelationSql: String =
    s"""WITH g AS (
       |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
       |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
       |  FROM lineitem),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(q AS DECIMAL(38,0))) AS sq, sum(CAST(p AS DECIMAL(38,0))) AS sp,
       |    sum(CAST(d AS DECIMAL(38,0))) AS sd,
       |    sum(CAST(q * q AS DECIMAL(38,0))) AS sqq,
       |    sum(CAST(p * p AS DECIMAL(38,0))) AS spp,
       |    sum(CAST(d * d AS DECIMAL(38,0))) AS sdd,
       |    sum(CAST(q * p AS DECIMAL(38,0))) AS sqp,
       |    sum(CAST(q * d AS DECIMAL(38,0))) AS sqd,
       |    sum(CAST(d * p AS DECIMAL(38,0))) AS sdp
       |  FROM g),
       |r AS (
       |  SELECT *, ${pcCorr("sq", "sp", "sqq", "spp", "sqp")} AS r_qp,
       |    ${pcCorr("sq", "sd", "sqq", "sdd", "sqd")} AS r_qd,
       |    ${pcCorr("sd", "sp", "sdd", "spp", "sdp")} AS r_dp
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_rows,
       |  r_qp AS corr_qty_price, r_qd AS corr_qty_disc, r_dp AS corr_disc_price,
       |  ${pcPartial("r_qp", "r_qd", "r_dp")} AS partial_qty_price,
       |  ${pcPartial("r_qd", "r_qp", "r_dp")} AS partial_qty_disc,
       |  ${pcPartial("r_dp", "r_qd", "r_qp")} AS partial_disc_price
       |FROM r""".stripMargin

  // -------------------------------------------------------------- bartlett_test

  private def btVar(k: Int): String =
    s"((CAST(ss_$k AS DOUBLE) - CAST(s_$k AS DOUBLE) * CAST(s_$k AS DOUBLE)" +
      s" / CAST(n_$k AS DOUBLE)) / CAST(n_$k - 1 AS DOUBLE))"
  private val BtlC: String = {
    val inv = AnovaKeys
      .map(k => s"CAST(1 AS DOUBLE) / CAST(n_$k - 1 AS DOUBLE)").mkString(" + ")
    s"(CAST(1 AS DOUBLE) + (($inv) - CAST(1 AS DOUBLE)" +
      s" / CAST(nn - ${AnovaKeys.size} AS DOUBLE)) / CAST(12 AS DOUBLE))"
  }
  private val BtlChi2: String = {
    val sum = AnovaKeys.map(k => s"CAST(n_$k - 1 AS DOUBLE) * ln_$k").mkString(" + ")
    s"((CAST(nn - ${AnovaKeys.size} AS DOUBLE) * ln_p - ($sum)) / $BtlC)"
  }

  /** Bartlett's test of variance homogeneity across the five event
    * types — the PARAMETRIC power-house beside `levene_test` (Levene
    * is robust to non-normality but blunt; Bartlett is exact under
    * normality and what classical ANOVA texts prescribe checking
    * before trusting `anova_oneway`'s pooled MSW). Per-type sample
    * variances and the pooled variance come off the SAME one-row
    * exact-moment pivot as anova/tukey; all six logs are the
    * engine-exact [[graft.functions.ExactLn]] chains (cents² values
    * sit mid-domain, and the statistic is unit-invariant because
    * Σ(n_k−1) = N−k makes the scale shifts cancel); χ² and the
    * Bartlett correction C are fixed-order expressions on the staged
    * ln columns.
    *
    * Scale shape: the anova_oneway shape — one conditional-sum pass
    * to a 15-column row, then scalar arithmetic.
    */
  def bartlettTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val keyed = Tables(spark, dir).events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val mCols = AnovaKeys.flatMap { k =>
      val is = col("event_type") === EventTypes(k)
      Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(is, col("c")).otherwise(0L)).as(s"s_$k"),
        sum(when(is, col("c") * col("c")).otherwise(0L)).as(s"ss_$k"))
    }
    var df = keyed.agg(mCols.head, mCols.tail: _*)
      .withColumn("nn", expr(AnovaKeys.map(k => s"n_$k").mkString(" + ")))
      .withColumn("sqtot", expr(AnovaKeys.map(k => s"ss_$k").mkString(" + ")))
      .withColumn("v_p", expr(TukMsw))
    for (k <- AnovaKeys) {
      df = df.withColumn(s"v_$k", expr(btVar(k)))
        .withColumn(s"__y$k", expr(ExactLn.yExpr(s"v_$k")))
        .withColumn(s"__z$k", expr(ExactLn.zExpr(s"__y$k")))
        .withColumn(s"ln_$k", expr(ExactLn.lnExpr(s"__z$k")))
    }
    df.withColumn("__yp", expr(ExactLn.yExpr("v_p")))
      .withColumn("__zp", expr(ExactLn.zExpr("__yp")))
      .withColumn("ln_p", expr(ExactLn.lnExpr("__zp")))
      .selectExpr(s"CAST(${AnovaKeys.size} AS INTEGER) AS k_groups",
        "CAST(nn AS BIGINT) AS n_events",
        "v_p / CAST(10000 AS DOUBLE) AS pooled_var",
        s"$BtlChi2 AS bartlett_chi2",
        s"CAST(${AnovaKeys.size - 1} AS INTEGER) AS dof",
        s"CASE WHEN $BtlChi2 > CAST(9.488 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  val bartlettTestSql: String = {
    import graft.functions.ExactLn
    val mSums = AnovaKeys.flatMap { k =>
      val is = s"event_type = '${EventTypes(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN c ELSE 0 END) AS BIGINT) AS s_$k",
        s"CAST(sum(CASE WHEN $is THEN c * c ELSE 0 END) AS BIGINT) AS ss_$k")
    }
    val varCtes = AnovaKeys.map { k =>
      s"w$k AS (SELECT *, ${btVar(k)} AS v_$k FROM ${if (k == 0) "a" else s"l${k - 1}"}),\n" +
        s"y$k AS (SELECT *, ${ExactLn.yExpr(s"v_$k")} AS __y$k FROM w$k),\n" +
        s"z$k AS (SELECT *, ${ExactLn.zExpr(s"__y$k")} AS __z$k FROM y$k),\n" +
        s"l$k AS (SELECT *, ${ExactLn.lnExpr(s"__z$k")} AS ln_$k FROM z$k)"
    }.mkString(",\n")
    s"""WITH o AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM o),
       |a0 AS (
       |  SELECT *, ${AnovaKeys.map(k => s"n_$k").mkString(" + ")} AS nn,
       |    ${AnovaKeys.map(k => s"ss_$k").mkString(" + ")} AS sqtot
       |  FROM m),
       |a AS (SELECT *, $TukMsw AS v_p FROM a0),
       |$varCtes,
       |yp AS (SELECT *, ${ExactLn.yExpr("v_p")} AS __yp FROM l${AnovaKeys.size - 1}),
       |zp AS (SELECT *, ${ExactLn.zExpr("__yp")} AS __zp FROM yp),
       |lp AS (SELECT *, ${ExactLn.lnExpr("__zp")} AS ln_p FROM zp)
       |SELECT CAST(${AnovaKeys.size} AS INTEGER) AS k_groups,
       |  CAST(nn AS BIGINT) AS n_events,
       |  v_p / CAST(10000 AS DOUBLE) AS pooled_var,
       |  $BtlChi2 AS bartlett_chi2,
       |  CAST(${AnovaKeys.size - 1} AS INTEGER) AS dof,
       |  CASE WHEN $BtlChi2 > CAST(9.488 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM lp""".stripMargin
  }

  // ---------------------------------------------------------- mann_kendall_trend

  // Var(S) with tie correction, exact integers until the one division
  private val MkVar =
    "(CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / CAST(18 AS DOUBLE))"
  // continuity-corrected z, shared CASE text
  private val MkZ =
    s"(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt($MkVar) " +
      s"WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt($MkVar) " +
      "ELSE CAST(0 AS DOUBLE) END)"

  /** Mann–Kendall trend test on monthly revenue: S = Σ_{i<j}
    * sign(y_j − y_i) with the tie-corrected variance and
    * continuity-corrected z — the SIGNIFICANCE companion of
    * `theil_sen_trend` (Sen gives the robust slope, MK says whether a
    * monotone trend exists at all; `regression_trend`'s t assumes
    * linearity + normal errors, MK assumes nothing). Everything is
    * exact integer arithmetic — sign pairs, tie triples, Var(S) —
    * until the single z division.
    *
    * Scale shape: one orders partial-agg pass to the calendar-bounded
    * month spine; the sign-pair grid is months², bounded by the
    * calendar, not the data (the hodges_lehmann convention).
    */
  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)").as("y"))
    val pairs = monthly.select(col("m").as("m1"), col("y").as("y1"))
      .join(monthly.select(col("m").as("m2"), col("y").as("y2")),
        col("m1") < col("m2"))
      .agg(sum(expr("CAST(sign(y2 - y1) AS BIGINT)")).as("s"))
    val ties = monthly.groupBy(col("y")).agg(count(lit(1)).as("tc"))
      .agg(coalesce(sum(expr("tc * (tc - 1) * (2 * tc + 5)")), lit(0L)).as("tsum"))
    val n = monthly.agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .selectExpr("CAST(n AS BIGINT) AS n_months", "CAST(s AS BIGINT) AS s_stat",
        s"$MkVar AS var_s", s"$MkZ AS z_stat",
        s"CASE WHEN abs($MkZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant",
        "CAST(sign(s) AS INTEGER) AS direction")
  }

  val mannKendallTrendSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s
       |  FROM monthly a JOIN monthly b ON a.m < b.m),
       |tie AS (
       |  SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT) AS tsum
       |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS tc FROM monthly GROUP BY 1)),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM monthly)
       |SELECT n AS n_months, s AS s_stat, $MkVar AS var_s, $MkZ AS z_stat,
       |  CASE WHEN abs($MkZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant,
       |  CAST(sign(s) AS INTEGER) AS direction
       |FROM p, tie, c""".stripMargin

  // --------------------------------------------------------- engle_granger_coint

  // step-1 OLS y = a + b·x on exact moments (decimal internals, one
  // cast — the corrExpr convention); residual quantized to the $k
  // integer grid (the durbin_watson convention)
  private val EgB =
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
  private val EgA =
    s"((CAST(sy AS DOUBLE) - $EgB * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
  private val EgResid =
    s"CAST(round(CAST(y AS DOUBLE) - ($EgA + $EgB * CAST(x AS DOUBLE)), 0) AS BIGINT)"
  // step-2 DF regression Δe_t = ρ·e_{t−1} (no intercept): ρ and its t
  private val EgRho = "(CAST(sede AS DOUBLE) / CAST(se2 AS DOUBLE))"
  private val EgS2 =
    s"((CAST(sde2 AS DOUBLE) - CAST(2 AS DOUBLE) * $EgRho * CAST(sede AS DOUBLE)" +
      s" + $EgRho * $EgRho * CAST(se2 AS DOUBLE)) / CAST(t - 2 AS DOUBLE))"
  private val EgT = s"($EgRho * sqrt(CAST(se2 AS DOUBLE)) / sqrt($EgS2))"

  /** Engle–Granger two-step cointegration between two regions'
    * monthly revenue ($k units): step 1 regresses ASIA on AMERICA
    * (exact-moment OLS), step 2 runs the no-intercept Dickey–Fuller
    * regression Δe_t = ρ·e_{t−1} on the INTEGER-QUANTIZED residual
    * series and reports the DF t — the do-these-series-share-a-
    * common-trend read behind pairs analysis and demand transfer
    * (`crosscorr_lag` measures co-movement at lags; cointegration is
    * the stronger long-run-equilibrium claim). Cointegrated at 5%
    * when t < −3.37 (the Engle–Granger two-variable critical value,
    * documented constant; lag-0 DF — the kpss_stationarity
    * convention). Residuals follow the durbin_watson $k grid; all DF
    * moments are exact BIGINTs.
    *
    * Scale shape: one orders⋈customer⋈dims partial-agg to the
    * (month × 2 regions) pivoted spine; everything downstream runs
    * on the calendar-bounded month frame.
    */
  def engleGrangerCoint(spark: SparkSession, dir: String): DataFrame = {
    val pair = regionMonthly(spark, dir)
      .filter(col("region_name").isin("AMERICA", "ASIA"))
      .groupBy(col("m"))
      .agg(
        sum(when(col("region_name") === "AMERICA",
          expr("rev_c div 100000")).otherwise(0L)).as("x"),
        sum(when(col("region_name") === "AMERICA", 1L).otherwise(0L)).as("ha"),
        sum(when(col("region_name") === "ASIA",
          expr("rev_c div 100000")).otherwise(0L)).as("y"),
        sum(when(col("region_name") === "ASIA", 1L).otherwise(0L)).as("hb"))
      .filter(col("ha") === 1 && col("hb") === 1)
    val fit = pair.agg(count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
      sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
    val resid = pair.crossJoin(broadcast(fit))
      .withColumn("e", expr(EgResid))
      .withColumn("e1", lag(col("e"), 1).over(Window.orderBy("m")))
      .filter(col("e1").isNotNull)
      .withColumn("de", expr("e - e1"))
    resid.agg(max(col("n")).as("nm"), count(lit(1)).as("t"),
        sum(expr("CAST(e1 * de AS DECIMAL(38,0))")).as("sede"),
        sum(expr("CAST(e1 * e1 AS DECIMAL(38,0))")).as("se2"),
        sum(expr("CAST(de * de AS DECIMAL(38,0))")).as("sde2"))
      .selectExpr("CAST(nm AS BIGINT) AS n_months",
        s"$EgRho AS df_rho", s"$EgT AS df_t",
        s"CASE WHEN $EgT < CAST(-3.37 AS DOUBLE) THEN 1 ELSE 0 END AS cointegrated")
  }

  val engleGrangerCointSql: String =
    s"""WITH monthly AS (
       |$RegionMonthlySqlCte),
       |pair AS (
       |  SELECT m,
       |    CAST(sum(CASE WHEN region_name = 'AMERICA' THEN rev_c // 100000 ELSE 0 END) AS BIGINT) AS x,
       |    sum(CASE WHEN region_name = 'AMERICA' THEN 1 ELSE 0 END) AS ha,
       |    CAST(sum(CASE WHEN region_name = 'ASIA' THEN rev_c // 100000 ELSE 0 END) AS BIGINT) AS y,
       |    sum(CASE WHEN region_name = 'ASIA' THEN 1 ELSE 0 END) AS hb
       |  FROM monthly WHERE region_name IN ('AMERICA', 'ASIA') GROUP BY 1),
       |pp AS (SELECT * FROM pair WHERE ha = 1 AND hb = 1),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
       |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
       |  FROM pp),
       |resid AS (
       |  SELECT n, $EgResid AS e,
       |    lag($EgResid) OVER (ORDER BY m) AS e1
       |  FROM pp, fit),
       |d AS (SELECT n, e, e1, e - e1 AS de FROM resid WHERE e1 IS NOT NULL),
       |agg AS (
       |  SELECT CAST(max(n) AS BIGINT) AS nm, CAST(count(*) AS BIGINT) AS t,
       |    sum(CAST(e1 * de AS DECIMAL(38,0))) AS sede,
       |    sum(CAST(e1 * e1 AS DECIMAL(38,0))) AS se2,
       |    sum(CAST(de * de AS DECIMAL(38,0))) AS sde2
       |  FROM d)
       |SELECT nm AS n_months, $EgRho AS df_rho, $EgT AS df_t,
       |  CASE WHEN $EgT < CAST(-3.37 AS DOUBLE) THEN 1 ELSE 0 END AS cointegrated
       |FROM agg""".stripMargin

  // ------------------------------------------------------------------ adf_test

  // Cramer's-rule solution of the 3-parameter ADF regression
  // Δy = α + γ·y₁ + β·Δy₁ from exact integer moments, written once and
  // shared verbatim by both engines (identical IEEE op order → the
  // floats hash-match; the moments themselves are exact BIGINTs, the
  // quadratic_trend / engle_granger convention).
  private val AdfT = "CAST(tt AS DOUBLE)"
  private val AdfS1 = "CAST(s1 AS DOUBLE)"
  private val AdfS2 = "CAST(s2 AS DOUBLE)"
  private val AdfS11 = "CAST(s11 AS DOUBLE)"
  private val AdfS12 = "CAST(s12 AS DOUBLE)"
  private val AdfS22 = "CAST(s22 AS DOUBLE)"
  private val AdfSy = "CAST(sy AS DOUBLE)"
  private val AdfS1y = "CAST(s1y AS DOUBLE)"
  private val AdfS2y = "CAST(s2y AS DOUBLE)"
  private val AdfSyy = "CAST(syy AS DOUBLE)"
  private val AdfDet =
    s"($AdfT*($AdfS11*$AdfS22 - $AdfS12*$AdfS12) - $AdfS1*($AdfS1*$AdfS22 - $AdfS12*$AdfS2) + $AdfS2*($AdfS1*$AdfS12 - $AdfS11*$AdfS2))"
  private val AdfDet0 = // α numerator: column 0 ← X'Y
    s"($AdfSy*($AdfS11*$AdfS22 - $AdfS12*$AdfS12) - $AdfS1*($AdfS1y*$AdfS22 - $AdfS12*$AdfS2y) + $AdfS2*($AdfS1y*$AdfS12 - $AdfS11*$AdfS2y))"
  private val AdfDet1 = // γ numerator: column 1 ← X'Y
    s"($AdfT*($AdfS1y*$AdfS22 - $AdfS12*$AdfS2y) - $AdfSy*($AdfS1*$AdfS22 - $AdfS12*$AdfS2) + $AdfS2*($AdfS1*$AdfS2y - $AdfS1y*$AdfS2))"
  private val AdfDet2 = // β numerator: column 2 ← X'Y
    s"($AdfT*($AdfS11*$AdfS2y - $AdfS1y*$AdfS12) - $AdfS1*($AdfS1*$AdfS2y - $AdfS1y*$AdfS2) + $AdfSy*($AdfS1*$AdfS12 - $AdfS11*$AdfS2))"
  private val AdfSsr =
    s"($AdfSyy - ($AdfDet0*$AdfSy + $AdfDet1*$AdfS1y + $AdfDet2*$AdfS2y) / $AdfDet)"
  private val AdfVarG = // s²·[(X'X)⁻¹]_γγ with cofactor C₁₁ = T·S22 − S2²
    s"(($AdfSsr / ($AdfT - CAST(3 AS DOUBLE))) * ($AdfT*$AdfS22 - $AdfS2*$AdfS2) / $AdfDet)"
  private val AdfStat = s"(($AdfDet1 / $AdfDet) / sqrt($AdfVarG))"

  /** Augmented Dickey–Fuller unit-root test (intercept, one augmented
    * lag) on the AMERICA monthly revenue series — the complementary
    * null to `kpss_stationarity` (ADF: H₀ = unit root; KPSS: H₀ =
    * stationary; the pair is how practitioners actually decide, since
    * each test alone can't distinguish "can't reject" from evidence).
    * The regression Δy = α + γ·y₍t₋₁₎ + β·Δy₍t₋₁₎ is solved in closed
    * form by Cramer's rule from EXACT integer moments (revenue in
    * 10⁵-cent units; every product ≤ DECIMAL(38,0), every double cast
    * < 2^53), so both engines compute bit-identical statistics; the
    * 5% critical value −2.89 (intercept, n≈100) gates the verdict.
    *
    * Scale shape: one orders⋈customer partial-agg to the bounded
    * region-month grid; lags/diffs on the ~100-row series; moments in
    * one tiny aggregate — fact-table cost is the monthly rollup only.
    */
  def adfTest(spark: SparkSession, dir: String): DataFrame = {
    val series = regionMonthly(spark, dir)
      .filter(col("region_name") === "AMERICA")
      .select(col("m"), expr("rev_c div 100000").as("y"))
    val w = Window.orderBy("m")
    val lagged = series
      .withColumn("y1", lag(col("y"), 1).over(w))
      .withColumn("y2", lag(col("y"), 2).over(w))
      .filter(col("y2").isNotNull)
      .select((col("y") - col("y1")).as("d"), col("y1"),
        (col("y1") - col("y2")).as("d1"))
    lagged.agg(count(lit(1)).as("tt"),
        sum(expr("CAST(y1 AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(d1 AS DECIMAL(38,0))")).as("s2"),
        sum(expr("CAST(y1 * y1 AS DECIMAL(38,0))")).as("s11"),
        sum(expr("CAST(y1 * d1 AS DECIMAL(38,0))")).as("s12"),
        sum(expr("CAST(d1 * d1 AS DECIMAL(38,0))")).as("s22"),
        sum(expr("CAST(d AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(y1 * d AS DECIMAL(38,0))")).as("s1y"),
        sum(expr("CAST(d1 * d AS DECIMAL(38,0))")).as("s2y"),
        sum(expr("CAST(d * d AS DECIMAL(38,0))")).as("syy"))
      .selectExpr("CAST(tt AS BIGINT) AS n_obs",
        s"$AdfDet1 / $AdfDet AS gamma",
        s"$AdfStat AS adf_t",
        s"CASE WHEN $AdfStat < CAST(-2.89 AS DOUBLE) THEN 1 ELSE 0 END AS stationary")
  }

  val adfTestSql: String =
    s"""WITH monthly AS (
       |$RegionMonthlySqlCte),
       |series AS (
       |  SELECT m, rev_c // 100000 AS y FROM monthly
       |  WHERE region_name = 'AMERICA'),
       |lagged AS (
       |  SELECT y - y1 AS d, y1, y1 - y2 AS d1 FROM (
       |    SELECT y, lag(y, 1) OVER (ORDER BY m) AS y1,
       |      lag(y, 2) OVER (ORDER BY m) AS y2
       |    FROM series) z
       |  WHERE y2 IS NOT NULL),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS tt,
       |    sum(CAST(y1 AS DECIMAL(38,0))) AS s1,
       |    sum(CAST(d1 AS DECIMAL(38,0))) AS s2,
       |    sum(CAST(y1 * y1 AS DECIMAL(38,0))) AS s11,
       |    sum(CAST(y1 * d1 AS DECIMAL(38,0))) AS s12,
       |    sum(CAST(d1 * d1 AS DECIMAL(38,0))) AS s22,
       |    sum(CAST(d AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(y1 * d AS DECIMAL(38,0))) AS s1y,
       |    sum(CAST(d1 * d AS DECIMAL(38,0))) AS s2y,
       |    sum(CAST(d * d AS DECIMAL(38,0))) AS syy
       |  FROM lagged)
       |SELECT tt AS n_obs,
       |  $AdfDet1 / $AdfDet AS gamma,
       |  $AdfStat AS adf_t,
       |  CASE WHEN $AdfStat < CAST(-2.89 AS DOUBLE) THEN 1 ELSE 0 END AS stationary
       |FROM agg""".stripMargin

  // ------------------------------------------------------------ mood_median_test

  private val MoodPrios =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  // χ² over the 2×5 (above/≤ median × priority) table from the pivoted
  // exact counts: E_g,above = n_g·A/N, E_g,below = n_g·B/N
  private val MoodChi2: String = MoodPrios.indices.map { g =>
    val ea = s"(CAST(n_$g AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(nn AS DOUBLE))"
    val eb = s"(CAST(n_$g AS DOUBLE) * CAST(nn - ta AS DOUBLE) / CAST(nn AS DOUBLE))"
    s"(CAST(a_$g AS DOUBLE) - $ea) * (CAST(a_$g AS DOUBLE) - $ea) / $ea" +
      s" + (CAST(n_$g - a_$g AS DOUBLE) - $eb) * (CAST(n_$g - a_$g AS DOUBLE) - $eb) / $eb"
  }.mkString(" + ")

  /** Mood's median test of order value across the five priorities:
    * the exact lower-median splits every order into above / at-or-
    * below, and a 2×k χ² asks whether the split is priority-
    * independent — the location test that needs NOTHING from the
    * distribution (kruskal_wallis assumes comparable shapes; this
    * only counts medians crossed). The median comes off a cents-grid
    * count-of-counts cumulative (ceil-rank, lower median — the value
    * grid is price-domain-bounded, the ks_test convention), and the
    * SAME grid supplies every cell count — one fact pass total.
    *
    * Scale shape: one orders partial-agg to the (cents × 5) pivoted
    * grid; the cumulative and the pivoted cell sums run on the grid;
    * χ² is one fixed-order expression on a 12-integer row.
    */
  def moodMedianTest(spark: SparkSession, dir: String): DataFrame = {
    val cCols = MoodPrios.indices.map(g =>
      sum(when(col("o_orderpriority") === MoodPrios(g), 1L).otherwise(0L)).as(s"c_$g"))
    val grid = Tables(spark, dir).orders
      .select(col("o_orderpriority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      .groupBy(col("v")).agg(cCols.head, cCols.tail: _*)
      .withColumn("ct", expr(MoodPrios.indices.map(g => s"c_$g").mkString(" + ")))
      .withColumn("cum", sum(col("ct")).over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nn", sum(col("ct")).over(Window.partitionBy()))
    val med = grid
      .filter(expr("cum >= (nn + 1) div 2"))
      .agg(min(col("v")).as("med"))
    val aCols = MoodPrios.indices.flatMap(g => Seq(
      sum(expr(s"CASE WHEN v > med THEN c_$g ELSE 0 END")).as(s"a_$g"),
      sum(col(s"c_$g")).as(s"n_$g")))
    grid.crossJoin(broadcast(med))
      .agg(aCols.head, aCols.tail: _*)
      .withColumn("nn", expr(MoodPrios.indices.map(g => s"n_$g").mkString(" + ")))
      .withColumn("ta", expr(MoodPrios.indices.map(g => s"a_$g").mkString(" + ")))
      .crossJoin(broadcast(med))
      .selectExpr("CAST(nn AS BIGINT) AS n_orders",
        "CAST(med AS DOUBLE) / CAST(100 AS DOUBLE) AS median_price",
        s"$MoodChi2 AS chi2",
        s"CAST(${MoodPrios.size - 1} AS INTEGER) AS dof",
        s"CASE WHEN $MoodChi2 > CAST(9.488 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  val moodMedianTestSql: String = {
    val cSums = MoodPrios.indices.map(g =>
      s"CAST(sum(CASE WHEN o_orderpriority = '${MoodPrios(g)}' THEN 1 ELSE 0 END) AS BIGINT) AS c_$g")
      .mkString(",\n    ")
    val aSums = MoodPrios.indices.flatMap(g => Seq(
      s"CAST(sum(CASE WHEN v > med THEN c_$g ELSE 0 END) AS BIGINT) AS a_$g",
      s"CAST(sum(c_$g) AS BIGINT) AS n_$g")).mkString(",\n    ")
    s"""WITH o AS (
       |  SELECT o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM orders),
       |g AS (
       |  SELECT v,
       |    $cSums
       |  FROM o GROUP BY v),
       |cg AS (
       |  SELECT *, ${MoodPrios.indices.map(g => s"c_$g").mkString(" + ")} AS ct FROM g),
       |cc AS (
       |  SELECT *,
       |    sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(ct) OVER () AS nn
       |  FROM cg),
       |med AS (SELECT min(v) AS med FROM cc WHERE cum >= (nn + 1) // 2),
       |cells AS (
       |  SELECT
       |    $aSums
       |  FROM cc, med),
       |tot AS (
       |  SELECT *, ${MoodPrios.indices.map(g => s"n_$g").mkString(" + ")} AS nn,
       |    ${MoodPrios.indices.map(g => s"a_$g").mkString(" + ")} AS ta
       |  FROM cells)
       |SELECT CAST(nn AS BIGINT) AS n_orders,
       |  CAST(med AS DOUBLE) / CAST(100 AS DOUBLE) AS median_price,
       |  $MoodChi2 AS chi2,
       |  CAST(${MoodPrios.size - 1} AS INTEGER) AS dof,
       |  CASE WHEN $MoodChi2 > CAST(9.488 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM tot, med""".stripMargin
  }

  // ---------------------------------------------------------- conformal_interval

  /** Split-conformal prediction interval for order value under the
    * priority-mean model: fit on the md5 70% split, take the
    * ceil((1−α)(n+1))-rank absolute residual on the 20% calibration
    * split (the finite-sample-valid conformal quantile), report
    * MEASURED coverage on the held-out 10% — the distribution-free
    * uncertainty wrapper modern eval stacks put around ANY point
    * model, with the coverage guarantee checked rather than assumed.
    * Residuals quantize to the cents grid so the calibration quantile
    * is an exact ceil-rank off a count-of-counts cumulative (domain-
    * bounded, the mood_median convention); group means are exact
    * rationals cast once.
    *
    * Scale shape: one orders pass partial-aggregates the train means
    * (5-row broadcast); one more computes residual grids and the
    * test coverage counts; every window runs on the cents grid.
    */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    // conv() returns STRING — cast before % (the round-12 gotcha)
    val h = "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100"
    val base = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"),
        expr(s"CASE WHEN $h < 70 THEN 'train' WHEN $h < 90 THEN 'cal' " +
          "ELSE 'test' END").as("split"))
    val fit = base.filter(col("split") === "train")
      .groupBy(col("g")).agg(sum(col("v")).as("sv"), count(lit(1)).as("nv"))
      .withColumn("mu", expr("CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE)"))
      .select(col("g"), col("mu"))
    val scored = base.filter(col("split") =!= "train")
      .join(broadcast(fit), Seq("g"))
      .withColumn("r", expr("CAST(round(abs(CAST(v AS DOUBLE) - mu), 0) AS BIGINT)"))
    val calGrid = scored.filter(col("split") === "cal")
      .groupBy(col("r")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nc", sum(col("c")).over(Window.partitionBy()))
    val q = calGrid
      .filter(expr("cum >= least((9 * nc + 18) div 10, nc)"))
      .agg(min(col("r")).as("q"), max(col("nc")).as("n_cal"))
    scored.filter(col("split") === "test")
      .crossJoin(broadcast(q))
      .agg(max(col("n_cal")).as("n_cal"), max(col("q")).as("q"),
        count(lit(1)).as("n_test"),
        sum(expr("CASE WHEN r <= q THEN 1 ELSE 0 END")).as("covered"))
      .selectExpr("CAST(n_cal AS BIGINT) AS n_cal", "CAST(n_test AS BIGINT) AS n_test",
        "CAST(q AS DOUBLE) / CAST(100 AS DOUBLE) AS q90_halfwidth",
        "CAST(covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage",
        "CAST(0.9 AS DOUBLE) AS target_coverage")
  }

  val conformalIntervalSql: String =
    s"""WITH base AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 70 THEN 'train'
       |    WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'cal'
       |    ELSE 'test' END AS split
       |  FROM orders),
       |fit AS (
       |  SELECT g, CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
       |  FROM base WHERE split = 'train' GROUP BY 1),
       |scored AS (
       |  SELECT split, CAST(round(abs(CAST(v AS DOUBLE) - mu), 0) AS BIGINT) AS r
       |  FROM base JOIN fit USING (g) WHERE split <> 'train'),
       |calgrid AS (
       |  SELECT r, CAST(count(*) AS BIGINT) AS c FROM scored WHERE split = 'cal' GROUP BY 1),
       |cc AS (
       |  SELECT *,
       |    sum(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER () AS nc
       |  FROM calgrid),
       |q AS (
       |  SELECT CAST(min(r) AS BIGINT) AS q, CAST(max(nc) AS BIGINT) AS n_cal
       |  FROM cc WHERE cum >= least((9 * nc + 18) // 10, nc))
       |SELECT n_cal, CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(q AS DOUBLE) / CAST(100 AS DOUBLE) AS q90_halfwidth,
       |  CAST(sum(CASE WHEN r <= q THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS coverage,
       |  CAST(0.9 AS DOUBLE) AS target_coverage
       |FROM scored, q WHERE split = 'test' GROUP BY n_cal, q""".stripMargin

  // -------------------------------------------------------- jonckheere_terpstra

  private val JtGroups = 5
  private val JtPairs: Seq[(Int, Int)] =
    for { g <- 0 until JtGroups; h <- (g + 1) until JtGroups } yield (g, h)
  // doubled z: 2J − 2μ over 2σ, everything exact until the casts
  private val JtZ: String = {
    val mu2 = "CAST(CAST(nn AS DECIMAL(38,0)) * nn - sn2 AS DOUBLE) / CAST(2 AS DOUBLE)"
    val sig2x4 =
      "CAST(CAST(nn AS DECIMAL(38,0)) * nn * (2 * CAST(nn AS DECIMAL(38,0)) + 3) - sn23 AS DOUBLE) / CAST(18 AS DOUBLE)"
    s"((CAST(j2 AS DOUBLE) - $mu2) / sqrt($sig2x4))"
  }

  /** Jonckheere–Terpstra ordered-alternative test: does customer
    * SPEND increase monotonically across account-balance quintiles —
    * the rank test for an ORDERED dose that `kruskal_wallis` (any
    * difference) and `cochran_armitage_trend` (binary response)
    * bracket but don't cover. Quintiles are exact ceil-rank VALUE
    * thresholds off the balance-cents count-of-counts grid
    * (ties-low, fully distributed — no ntile window); J accumulates
    * as the doubled Mann–Whitney identity 2J = ΣΣ c_h·(2·cumBefore_g
    * + c_g) over the $100-quantized spend grid (ties count half,
    * exactly), so every term is an exact decimal integer; z uses the
    * standard no-tie variance (conservative under the mild
    * quantization ties — documented).
    *
    * Scale shape: one orders partial-agg + one customer pass to the
    * (spend-grid × 5) pivoted frame; both cumulative windows run on
    * domain-bounded grids; J/μ/σ are one fixed-order expression each.
    */
  def jonckheereTerpstra(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.select(col("c_custkey"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ab"))
    val abGrid = cust.groupBy(col("ab")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("ab")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val thrCols = (1 to JtGroups - 1).map(j =>
      min(expr(s"CASE WHEN cum >= ($j * n + ${JtGroups - 1}) div $JtGroups THEN ab END"))
        .as(s"t$j"))
    val thr = abGrid.agg(thrCols.head, thrCols.tail: _*)
    val spend = t.orders.groupBy(col("o_custkey"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)").as("sp"))
    val graded = cust
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .crossJoin(broadcast(thr))
      .select(
        expr((1 to JtGroups - 1).map(j => s"WHEN ab <= t$j THEN ${j - 1}")
          .mkString("CASE ", " ", s" ELSE ${JtGroups - 1} END")).as("g"),
        expr("coalesce(sp, 0) div 10000").as("v"))
    val cCols = (0 until JtGroups).map(g =>
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"c_$g"))
    val grid = graded.groupBy(col("v")).agg(cCols.head, cCols.tail: _*)
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select(
      (col("v") +: (0 until JtGroups).map(g => col(s"c_$g"))) ++
        (0 until JtGroups).map(g => sum(col(s"c_$g")).over(w).as(s"f_$g")): _*)
    val pairTerms = JtPairs.map { case (g, h) =>
      s"CAST(c_$h AS DECIMAL(38,0)) * (2 * (f_$g - c_$g) + c_$g)"
    }.mkString(" + ")
    cum.agg(
        sum(expr(pairTerms)).as("j2"),
        (0 until JtGroups).map(g => sum(col(s"c_$g")).as(s"n_$g")): _*)
      .withColumn("nn", expr((0 until JtGroups).map(g => s"n_$g").mkString(" + ")))
      .withColumn("sn2", expr((0 until JtGroups)
        .map(g => s"CAST(n_$g AS DECIMAL(38,0)) * n_$g").mkString(" + ")))
      .withColumn("sn23", expr((0 until JtGroups)
        .map(g => s"CAST(n_$g AS DECIMAL(38,0)) * n_$g * (2 * CAST(n_$g AS DECIMAL(38,0)) + 3)")
        .mkString(" + ")))
      .selectExpr("CAST(nn AS BIGINT) AS n_customers",
        s"CAST($JtGroups AS INTEGER) AS k_groups",
        "CAST(j2 AS DOUBLE) / CAST(2 AS DOUBLE) AS j_stat",
        s"$JtZ AS z_stat",
        s"CASE WHEN abs($JtZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  val jonckheereTerpstraSql: String = {
    val thrSel = (1 to JtGroups - 1).map(j =>
      s"min(CASE WHEN cum >= ($j * n + ${JtGroups - 1}) // $JtGroups THEN ab END) AS t$j")
      .mkString(", ")
    val gCase = (1 to JtGroups - 1).map(j => s"WHEN ab <= t$j THEN ${j - 1}")
      .mkString("CASE ", " ", s" ELSE ${JtGroups - 1} END")
    val cSums = (0 until JtGroups).map(g =>
      s"CAST(sum(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS c_$g").mkString(",\n    ")
    val fCums = (0 until JtGroups).map(g =>
      s"sum(c_$g) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_$g")
      .mkString(",\n    ")
    val pairTerms = JtPairs.map { case (g, h) =>
      s"CAST(c_$h AS DECIMAL(38,0)) * (2 * (f_$g - c_$g) + c_$g)"
    }.mkString(" + ")
    val nSums = (0 until JtGroups).map(g => s"CAST(sum(c_$g) AS BIGINT) AS n_$g")
      .mkString(", ")
    s"""WITH cust AS (
       |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS ab
       |  FROM customer),
       |ag AS (
       |  SELECT ab, count(*) AS c FROM cust GROUP BY 1),
       |ac AS (
       |  SELECT *,
       |    sum(c) OVER (ORDER BY ab ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER () AS n
       |  FROM ag),
       |thr AS (SELECT $thrSel FROM ac),
       |spend AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS sp
       |  FROM orders GROUP BY 1),
       |graded AS (
       |  SELECT $gCase AS g, coalesce(sp, 0) // 10000 AS v
       |  FROM cust LEFT JOIN spend ON c_custkey = o_custkey, thr),
       |grid AS (
       |  SELECT v,
       |    $cSums
       |  FROM graded GROUP BY v),
       |cc AS (
       |  SELECT *,
       |    $fCums
       |  FROM grid),
       |agg AS (
       |  SELECT sum($pairTerms) AS j2, $nSums FROM cc),
       |tot AS (
       |  SELECT *, ${(0 until JtGroups).map(g => s"n_$g").mkString(" + ")} AS nn,
       |    ${(0 until JtGroups).map(g => s"CAST(n_$g AS DECIMAL(38,0)) * n_$g").mkString(" + ")} AS sn2,
       |    ${(0 until JtGroups).map(g => s"CAST(n_$g AS DECIMAL(38,0)) * n_$g * (2 * CAST(n_$g AS DECIMAL(38,0)) + 3)").mkString(" + ")} AS sn23
       |  FROM agg)
       |SELECT CAST(nn AS BIGINT) AS n_customers, CAST($JtGroups AS INTEGER) AS k_groups,
       |  CAST(j2 AS DOUBLE) / CAST(2 AS DOUBLE) AS j_stat,
       |  $JtZ AS z_stat,
       |  CASE WHEN abs($JtZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM tot""".stripMargin
  }

  // ---------------------------------------------------------------- pacf_profile

  // Durbin–Levinson closed forms for the first three partial
  // autocorrelations on the staged r1/r2/r3 doubles
  private val Pacf2 =
    "((r2 - r1 * r1) / (CAST(1 AS DOUBLE) - r1 * r1))"
  private val Pacf3 = {
    val a21 = s"(r1 - $Pacf2 * r1)"
    s"((r3 - $a21 * r2 - $Pacf2 * r1) / (CAST(1 AS DOUBLE) - $a21 * r1 - $Pacf2 * r2))"
  }

  /** Partial autocorrelation of daily revenue at lags 1–3 via the
    * Durbin–Levinson closed forms on the exact-decimal ACF ratios —
    * the AR-order diagnostic `autocorr_lag` (raw ACF) can't give: a
    * slowly decaying ACF with a PACF cutoff at lag p is the textbook
    * AR(p) signature, and PACF is what an order-selection step
    * actually reads. Shares the autocorr_lag deviation frame (exact
    * n·y − S decimals); r₁..r₃ stage as deterministic doubles and
    * each φ_kk is one fixed-order expression; the ±1.96/√n band rides
    * along.
    *
    * Scale shape: the autocorr_lag shape — one partial-agg to the
    * day grid, three lag columns over the calendar-bounded frame,
    * one moment row out.
    */
  def pacfProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).cast("decimal(38,0)").as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        (col("n").cast("decimal(38,0)") * col("y") - col("s")).as("dev"))
    val wLag = Window.orderBy("d")
    val lagged = dev.select(
      col("n") +: col("dev") +:
        (1 to 3).map(k => lag(col("dev"), k).over(wLag).as(s"dev_$k")): _*)
    lagged.agg(
        max(col("n")).as("n"),
        (sum(col("dev") * col("dev")).as("den") +:
          (1 to 3).map(k => sum(col("dev") * col(s"dev_$k")).as(s"num_$k"))): _*)
      .withColumn("r1", expr("CAST(num_1 AS DOUBLE) / CAST(den AS DOUBLE)"))
      .withColumn("r2", expr("CAST(num_2 AS DOUBLE) / CAST(den AS DOUBLE)"))
      .withColumn("r3", expr("CAST(num_3 AS DOUBLE) / CAST(den AS DOUBLE)"))
      .selectExpr("CAST(n AS BIGINT) AS n_days",
        "r1 AS acf_1", "r2 AS acf_2", "r3 AS acf_3",
        "r1 AS pacf_1", s"$Pacf2 AS pacf_2", s"$Pacf3 AS pacf_3",
        "CAST(1.96 AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS band_95")
  }

  val pacfProfileSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |t AS (SELECT count(*) AS n, sum(CAST(y AS DECIMAL(38,0))) AS s FROM daily),
       |dv AS (
       |  SELECT d, t.n, CAST(t.n AS DECIMAL(38,0)) * y - t.s AS dev
       |  FROM daily, t),
       |lg AS (
       |  SELECT n, dev,
       |    lag(dev, 1) OVER (ORDER BY d) AS dev_1,
       |    lag(dev, 2) OVER (ORDER BY d) AS dev_2,
       |    lag(dev, 3) OVER (ORDER BY d) AS dev_3
       |  FROM dv),
       |sm AS (
       |  SELECT max(n) AS n, sum(dev * dev) AS den,
       |    sum(dev * dev_1) AS num_1, sum(dev * dev_2) AS num_2,
       |    sum(dev * dev_3) AS num_3
       |  FROM lg),
       |r AS (
       |  SELECT *, CAST(num_1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
       |    CAST(num_2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
       |    CAST(num_3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
       |  FROM sm)
       |SELECT CAST(n AS BIGINT) AS n_days, r1 AS acf_1, r2 AS acf_2, r3 AS acf_3,
       |  r1 AS pacf_1, $Pacf2 AS pacf_2, $Pacf3 AS pacf_3,
       |  CAST(1.96 AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS band_95
       |FROM r""".stripMargin

  // ------------------------------------------------------------ page_hinkley_drift

  // δ and λ in $k revenue units; per-day term x_t − x̄_t − δ with the
  // EXACT running mean (cum·1 − t·x̄ cleared by cross-multiplying:
  // term = (t·x_t − cum_t)/t − δ, cum exact BIGINT)
  private val PhDelta = "CAST(200 AS DOUBLE)"
  private val PhLambda = "CAST(5000 AS DOUBLE)"
  private val PhTerm =
    "(CAST(CAST(t AS DECIMAL(38,0)) * y - cum AS DOUBLE) / CAST(t AS DOUBLE)" +
      s" - $PhDelta)"

  /** Page–Hinkley drift detector on daily revenue ($k units): the
    * sequential ADAPTIVE-MEAN change detector (`cusum_alerts` tracks
    * deviations from a FIXED reference; PH re-centers on the running
    * mean, so slow level creep doesn't poison the alarm) — m_t =
    * Σ_{i≤t}(x_i − x̄_i − δ), alarm when m_t − min_{i≤t} m_i > λ.
    * Each term clears the running-mean division by cross-multiplying
    * exact cumulative BIGINTs; terms are 6-dp quantized into an
    * order-free decimal cumsum, and the min-tracking is a second
    * window on the same day grid. Output is the one-row summary a
    * monitoring page consumes (max PH, alarm-day count, first alarm);
    * δ = 200 $k ≈ 0.3σ of daily revenue, λ = 5000 ≈ 7σ — the
    * generator's real multi-year level drift DOES alarm, honestly.
    *
    * Scale shape: one orders partial-agg to the calendar-bounded day
    * grid; all three windows (cum, cumsum, running min) run on the
    * grid, never on raw rows.
    */
  def pageHinkleyDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val wc = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", count(lit(1)).over(wc))
      .withColumn("cum", sum(col("y")).over(wc))
      .withColumn("term", expr(s"CAST(round($PhTerm, 6) AS DECIMAL(28,6))"))
      .withColumn("m", sum(col("term")).over(wc))
      .withColumn("mmin", min(col("m")).over(wc))
      .withColumn("ph", expr("CAST(m - mmin AS DOUBLE)"))
      .agg(count(lit(1)).as("n_days"), max(col("ph")).as("max_ph"),
        sum(expr(s"CASE WHEN ph > $PhLambda THEN 1 ELSE 0 END")).as("n_alarms"),
        min(expr(s"CASE WHEN ph > $PhLambda THEN CAST(d AS STRING) END")).as("fa"))
      .selectExpr("CAST(n_days AS BIGINT) AS n_days",
        s"$PhDelta AS delta_k", s"$PhLambda AS lambda_k",
        "max_ph", "CAST(n_alarms AS BIGINT) AS n_alarm_days",
        "coalesce(fa, 'none') AS first_alarm_day")
  }

  val pageHinkleyDriftSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |c AS (
       |  SELECT *,
       |    count(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
       |    sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM daily),
       |tm AS (
       |  SELECT *, CAST(round($PhTerm, 6) AS DECIMAL(28,6)) AS term FROM c),
       |mm AS (
       |  SELECT *,
       |    sum(term) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
       |  FROM tm),
       |mn AS (
       |  SELECT *,
       |    min(m) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mmin
       |  FROM mm),
       |ph AS (SELECT *, CAST(m - mmin AS DOUBLE) AS ph FROM mn)
       |SELECT CAST(count(*) AS BIGINT) AS n_days,
       |  $PhDelta AS delta_k, $PhLambda AS lambda_k,
       |  max(ph) AS max_ph,
       |  CAST(sum(CASE WHEN ph > $PhLambda THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
       |  coalesce(min(CASE WHEN ph > $PhLambda THEN CAST(d AS VARCHAR) END), 'none') AS first_alarm_day
       |FROM ph""".stripMargin

  // ----------------------------------------------------------------- pot_tail_fit

  // method-of-moments GPD on the exceedances: ξ = (1 − m²/s²)/2,
  // σ = m·(m²/s² + 1)/2, from exact integer excess moments
  private val PotMean = "(CAST(se1 AS DOUBLE) / CAST(ne AS DOUBLE))"
  private val PotVar =
    s"((CAST(se2 AS DOUBLE) - CAST(se1 AS DOUBLE) * CAST(se1 AS DOUBLE)" +
      s" / CAST(ne AS DOUBLE)) / CAST(ne - 1 AS DOUBLE))"
  private val PotRatio = s"($PotMean * $PotMean / $PotVar)"
  private val PotXi = s"((CAST(1 AS DOUBLE) - $PotRatio) / CAST(2 AS DOUBLE))"
  private val PotSigma = s"($PotMean * ($PotRatio + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE))"

  /** Peaks-over-threshold GPD tail fit of order values: the exact
    * ceil-rank p95 (cents count-of-counts grid) is the threshold, and
    * the method-of-moments generalized-Pareto parameters of the
    * exceedances — ξ (tail shape: > 0 heavy, < 0 bounded) and σ
    * (scale) — are the OTHER extreme-value branch beside
    * `gumbel_extreme_fit` (block maxima): POT uses every exceedance
    * instead of one max per block, which is what a risk/capacity
    * model actually fits. Excess moments are exact decimal integers
    * off the same grid that found the threshold — ONE fact pass total.
    *
    * Scale shape: one orders partial-agg to the price-domain-bounded
    * cents grid; threshold, excess moments, and the fit all run on
    * the grid / a one-row frame.
    */
  def potTailFit(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables(spark, dir).orders
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val thr = grid.filter(expr("cum >= (19 * n + 19) div 20"))
      .agg(min(col("v")).as("u"), max(col("n")).as("nt"))
    grid.drop("n").crossJoin(broadcast(thr))
      .filter(col("v") > col("u"))
      .agg(max(col("nt")).as("n"), max(col("u")).as("u"), sum(col("c")).as("ne"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (v - u)")).as("se1"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (v - u) * (v - u)")).as("se2"))
      .selectExpr("CAST(n AS BIGINT) AS n_orders",
        "CAST(u AS DOUBLE) / CAST(100 AS DOUBLE) AS threshold_p95",
        "CAST(ne AS BIGINT) AS n_exceed",
        s"$PotMean / CAST(100 AS DOUBLE) AS mean_excess",
        s"$PotXi AS gpd_xi", s"$PotSigma / CAST(100 AS DOUBLE) AS gpd_sigma",
        s"CASE WHEN $PotXi > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END AS heavy_tail")
  }

  val potTailFitSql: String =
    s"""WITH o AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM orders),
       |g AS (SELECT v, count(*) AS c FROM o GROUP BY 1),
       |cc AS (
       |  SELECT *,
       |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER () AS n
       |  FROM g),
       |thr AS (
       |  SELECT CAST(min(v) AS BIGINT) AS u, CAST(max(n) AS BIGINT) AS nt
       |  FROM cc WHERE cum >= (19 * n + 19) // 20),
       |agg AS (
       |  SELECT max(nt) AS n, max(u) AS u, CAST(sum(c) AS BIGINT) AS ne,
       |    sum(CAST(c AS DECIMAL(38,0)) * (v - u)) AS se1,
       |    sum(CAST(c AS DECIMAL(38,0)) * (v - u) * (v - u)) AS se2
       |  FROM cc, thr WHERE v > u)
       |SELECT CAST(n AS BIGINT) AS n_orders,
       |  CAST(u AS DOUBLE) / CAST(100 AS DOUBLE) AS threshold_p95,
       |  ne AS n_exceed,
       |  $PotMean / CAST(100 AS DOUBLE) AS mean_excess,
       |  $PotXi AS gpd_xi, $PotSigma / CAST(100 AS DOUBLE) AS gpd_sigma,
       |  CASE WHEN $PotXi > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END AS heavy_tail
       |FROM agg""".stripMargin

  // ------------------------------------------------------------------ jarque_bera

  // standardized 3rd/4th central moments off exact raw moments:
  // m_k = Σ(x−x̄)^k/n expanded in raw power sums, each operand cast
  // individually (the anova pivot discipline); values in cents ≤ ~2e4
  // keep Σc⁴ ≤ 1.6e17·n exact in decimal(38,0) to any realistic n
  private val JbMean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
  private val JbM2 =
    s"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - $JbMean * $JbMean)"
  private val JbM3 =
    s"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(3 AS DOUBLE) * $JbMean * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
      s" + CAST(2 AS DOUBLE) * $JbMean * $JbMean * $JbMean)"
  private val JbM4 =
    s"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) - CAST(4 AS DOUBLE) * $JbMean * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)" +
      s" + CAST(6 AS DOUBLE) * $JbMean * $JbMean * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
      s" - CAST(3 AS DOUBLE) * $JbMean * $JbMean * $JbMean * $JbMean)"
  private val JbSkew = s"($JbM3 / (sqrt($JbM2) * sqrt($JbM2) * sqrt($JbM2)))"
  private val JbKurt = s"($JbM4 / ($JbM2 * $JbM2) - CAST(3 AS DOUBLE))"
  private val JbStat =
    s"(CAST(n AS DOUBLE) / CAST(6 AS DOUBLE) * ($JbSkew * $JbSkew" +
      s" + $JbKurt * $JbKurt / CAST(4 AS DOUBLE)))"

  /** Jarque–Bera normality test of event values: skewness and excess
    * kurtosis off EXACT raw power sums Σc..Σc⁴ (one conditional-free
    * partial-agg pass, decimal(38,0) ledger — cents ≤ 2·10⁴ keeps Σc⁴
    * inside 38 digits to any realistic corpus), JB = n/6·(S² + K²/4)
    * vs χ²₂ — the normality gate `welch_t_test`/`anova_oneway`
    * implicitly lean on and nothing else in the battery checks.
    * Every derived moment is one fixed-order shared-text expression
    * (the anova pivot discipline).
    *
    * Scale shape: ONE map-side-combining pass to a 5-number row;
    * everything after is scalar arithmetic.
    */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).events
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(c * c AS DECIMAL(38,0))")).as("s2"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c").cast("decimal(38,0)")).as("s3"),
        sum(expr("(CAST(c AS DECIMAL(38,0)) * c) * (CAST(c AS DECIMAL(38,0)) * c)").cast("decimal(38,0)")).as("s4"))
      .selectExpr("CAST(n AS BIGINT) AS n_events",
        s"$JbSkew AS skewness", s"$JbKurt AS excess_kurtosis",
        s"$JbStat AS jb_stat",
        s"CASE WHEN $JbStat > CAST(5.991 AS DOUBLE) THEN 1 ELSE 0 END AS non_normal")
  }

  val jarqueBeraSql: String =
    s"""WITH o AS (
       |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(c AS DECIMAL(38,0))) AS s1,
       |    sum(CAST(c * c AS DECIMAL(38,0))) AS s2,
       |    sum(CAST(CAST(c AS DECIMAL(38,0)) * c * c AS DECIMAL(38,0))) AS s3,
       |    sum(CAST((CAST(c AS DECIMAL(38,0)) * c) * (CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))) AS s4
       |  FROM o)
       |SELECT CAST(n AS BIGINT) AS n_events,
       |  $JbSkew AS skewness, $JbKurt AS excess_kurtosis,
       |  $JbStat AS jb_stat,
       |  CASE WHEN $JbStat > CAST(5.991 AS DOUBLE) THEN 1 ELSE 0 END AS non_normal
       |FROM m""".stripMargin

  // --------------------------------------------------------- ses_grid_search

  private val SesLags = 6
  private val SesAlphas = 1 to 9

  /** Per-alpha truncated-SES forecast numerator in exact integers:
    * f = Σ_{j=0..K-1} a·(10−a)^j·10^{K-1-j}·lag_{j+1} over the common
    * denominator 10^K. Ledger: coefficients ≤ 9·10⁵, y = monthly
    * order counts ≤ ~10⁵ per region-month at sf10, f ≤ ~5·10¹¹ —
    * every cast operand exact and < 2^53.
    */
  /** Quantized squared error ⌊e²/10^8⌋ in PURE BIGINT: |e| ≤ 10¹¹
    * splits as h·10⁴ + l, so e² = h²·10⁸ + (2hl·10⁴ + l²) and the
    * floor-divide is h² + ⌊(2hl·10⁴ + l²)/10⁸⌋ with every operand
    * < 2^53 — a DECIMAL(38,0) square here hash-split the engines
    * because DuckDB's `//` on wide decimals falls back to DOUBLE (the
    * verify-skill (38,0) trap). `div` is Spark\'s integer division,
    * `//` DuckDB\'s; all operands non-negative so they agree.
    */
  private def sesE2q(a: Int, div: String): String = {
    val e = s"y * 1000000 - (${sesFNum(a)})"
    val h = s"(abs($e) $div 10000)"
    val l = s"(abs($e) % 10000)"
    s"$h * $h + (2 * $h * $l * 10000 + $l * $l) $div 100000000 AS e2q_$a"
  }

  private def sesFNum(a: Int): String =
    (0 until SesLags).map { j =>
      val coef = a.toLong * math.pow(10 - a, j).toLong * math.pow(10, SesLags - 1 - j).toLong
      s"$coef * lg${j + 1}"
    }.mkString(" + ")

  /** Grid-searched simple exponential smoothing (round 14): for each
    * region\'s monthly order-count series, score the truncated-SES
    * one-step forecast (the [[holtForecast]] finite-lag convention,
    * K = [[SesLags]]) at nine smoothing factors α ∈ {0.1..0.9} and
    * report the SSE-minimizing α — the model-selection step a
    * forecasting pipeline runs before `ewma_revenue`/`holt_forecast`
    * ship a fixed α. The SSE is EXACT-INTEGER end to end: the error
    * numerator over the 10^K weight grid is a bigint, its square is
    * floor-divided (DECIMAL intermediate) onto a 10^8-coarser grid so
    * every summand is < 2^53, and the per-α sums are order-free
    * integer aggregates — a float SSE here hash-split the engines at
    * 1-2 ulp because DuckDB's windowed sums add pairwise (segment
    * tree) while Spark's add sequentially. Argmin on the exact
    * integers; ties break to the smallest α (first CASE match).
    *
    * Scale shape: the series is months × regions (calendar-bounded);
    * the nine α columns are pivoted onto one frame, so the whole
    * search is one aggregate over a tiny frame after one fact-scan
    * aggregate — at 100 TB the grid search costs the same as a
    * single forecast.
    */
  def sesGridSearch(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val monthly = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("region_name").orderBy("m")
    var df = monthly
    for (j <- 1 to SesLags) df = df.withColumn(s"lg$j", lag(col("y"), j).over(w))
    df = df.filter(col(s"lg$SesLags").isNotNull)
    for (a <- SesAlphas) df = df.withColumn(s"e2q_$a", expr(sesE2q(a, "div")))
    val agg = df.groupBy(col("region_name"))
      .agg(count(lit(1)).as("n_months"),
        SesAlphas.map(a => sum(col(s"e2q_$a")).as(s"sse_$a")): _*)
    val minExpr = s"least(${SesAlphas.map(a => s"sse_$a").mkString(", ")})"
    val bestAlpha = "CASE " + SesAlphas.map(a =>
      s"WHEN sse_$a = __min THEN CAST($a AS DOUBLE) / CAST(10 AS DOUBLE)").mkString(" ") + " END"
    agg.withColumn("__min", expr(minExpr))
      .selectExpr("region_name", "CAST(n_months AS BIGINT) AS n_months",
        s"$bestAlpha AS best_alpha",
        "CAST(__min AS DOUBLE) / CAST(10000 AS DOUBLE) AS sse_best")
      .orderBy("region_name")
  }

  val sesGridSearchSql: String = {
    val e2Cols = SesAlphas.map(a => sesE2q(a, "//"))
    val minExpr = s"least(${SesAlphas.map(a => s"sse_$a").mkString(", ")})"
    val bestAlpha = "CASE " + SesAlphas.map(a =>
      s"WHEN sse_$a = mn THEN CAST($a AS DOUBLE) / CAST(10 AS DOUBLE)").mkString(" ") + " END"
    s"""WITH monthly AS (
       |  SELECT r_name AS region_name,
       |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    count(*) AS y
       |  FROM orders
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation ON n_nationkey = c_nationkey
       |  JOIN region ON r_regionkey = n_regionkey
       |  GROUP BY 1, 2),
       |lagged AS (
       |  SELECT *,
       |    ${(1 to SesLags).map(j =>
             s"lag(y, $j) OVER (PARTITION BY region_name ORDER BY m) AS lg$j")
            .mkString(",\n    ")}
       |  FROM monthly),
       |scored AS (
       |  SELECT region_name, m, y,
       |    ${e2Cols.mkString(",\n    ")}
       |  FROM lagged WHERE lg$SesLags IS NOT NULL),
       |agg AS (
       |  SELECT region_name, count(*) AS n_months,
       |    ${SesAlphas.map(a => s"sum(e2q_$a) AS sse_$a").mkString(",\n    ")}
       |  FROM scored GROUP BY 1),
       |lastrow AS (
       |  SELECT *, $minExpr AS mn FROM agg)
       |SELECT region_name, CAST(n_months AS BIGINT) AS n_months,
       |  $bestAlpha AS best_alpha,
       |  CAST(mn AS DOUBLE) / CAST(10000 AS DOUBLE) AS sse_best
       |FROM lastrow ORDER BY region_name""".stripMargin
  }

  // --------------------------------------------------- wilcoxon_signed_rank

  /** z from the one-row exact-integer summary: with average ranks in
    * halves, the engine carries the DOUBLED positive-rank sum W2⁺
    * (always an integer), so E[2W⁺] = n(n+1)/2 and
    * Var[2W⁺] = 4·Var[W⁺] = (2n(n+1)(2n+1) − tsum)/12 with the
    * standard tie correction tsum = Σ(t³−t) — all exact decimal
    * before the two DOUBLE casts.
    */
  private val WsrZExpr: String =
    "CAST(w2_plus - CAST(n AS DECIMAL(38,0)) * (n + 1) / 2 AS DOUBLE) / " +
      "sqrt(CAST(CAST(2 AS DECIMAL(38,0)) * n * (n + 1) * (2 * n + 1) - tsum AS DOUBLE)" +
      " / CAST(12 AS DOUBLE))"

  /** Wilcoxon signed-rank test on paired daily samples: per calendar
    * day, total `purchase` value minus total `click` value (exact
    * cents) — "did purchases outweigh clicks day-by-day", the paired
    * complement of [[mannWhitney]]'s two-independent-samples rank sum.
    * Zero-difference days drop (the standard Wilcoxon convention);
    * |d| tie groups get average ranks via the same doubled-rank
    * identity as Mann–Whitney: 2·ΣR⁺ = Σ pos·(2·cumBefore + m + 1)
    * over |d| groups, exact in decimal(38,0) end to end, z with tie
    * correction via [[WsrZExpr]].
    *
    * Scale shape: one conditional-sum groupBy(day) pass reduces the
    * raw log to the calendar-bounded daily frame; the |d| tie-group
    * aggregate and its rank window run on ≤ that many rows. Nothing
    * row-sized survives the first shuffle.
    */
  def wilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val DayUs = 86400000000L
    val daily = Tables(spark, dir).events
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr(s"ts_us div $DayUs").as("day"))
      .agg((sum(when(col("event_type") === "purchase", money(col("value")))
          .otherwise(lit(0).cast("decimal(18,2)"))) * 100 -
        sum(when(col("event_type") === "click", money(col("value")))
          .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
        .cast("long").as("d"))
      .filter(col("d") =!= 0L)
    val grp = daily
      .groupBy(abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    val wPrev = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grp.withColumn("cum_before",
      coalesce(sum(col("m")).over(wPrev), lit(0L)))
    ranked.agg(
        sum(col("m")).as("n"),
        sum(col("pos").cast("decimal(38,0)") *
          (lit(2) * col("cum_before") + col("m") + 1)).as("w2_plus"),
        sum(col("m").cast("decimal(38,0)") * col("m") * col("m") - col("m"))
          .as("tsum"))
      .select(col("n").as("n_pairs"),
        expr("CAST(w2_plus AS DOUBLE) / CAST(2 AS DOUBLE)").as("w_plus"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * (n + 1) - w2_plus AS DOUBLE)" +
          " / CAST(2 AS DOUBLE)").as("w_minus"),
        expr(WsrZExpr).as("z_score"))
  }

  val wilcoxonSignedRankSql: String =
    s"""WITH daily AS (
       |  SELECT ts_us // 86400000000 AS day,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) * 100
       |       - sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS d
       |  FROM (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
       |        WHERE event_type IN ('click', 'purchase'))
       |  GROUP BY 1),
       |nz AS (SELECT * FROM daily WHERE d != 0),
       |grp AS (
       |  SELECT abs(d) AS ad, count(*) AS m,
       |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM nz GROUP BY 1),
       |r AS (
       |  SELECT *,
       |    coalesce(sum(m) OVER (ORDER BY ad
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM grp),
       |s AS (
       |  SELECT CAST(sum(m) AS BIGINT) AS n,
       |    sum(CAST(pos AS DECIMAL(38,0)) * (2 * cum_before + m + 1)) AS w2_plus,
       |    sum(CAST(m AS DECIMAL(38,0)) * m * m - m) AS tsum
       |  FROM r)
       |SELECT n AS n_pairs,
       |  CAST(w2_plus AS DOUBLE) / CAST(2 AS DOUBLE) AS w_plus,
       |  CAST(CAST(n AS DECIMAL(38,0)) * (n + 1) - w2_plus AS DOUBLE) / CAST(2 AS DOUBLE) AS w_minus,
       |  $WsrZExpr AS z_score
       |FROM s""".stripMargin

  // ------------------------------------------------------------- kuiper_test

  /** Kuiper V per pair: D⁺ + D⁻ over the shared ECDF grid — the
    * cyclic-shift/tail-sensitive complement of [[ksTest]]'s sup-norm
    * (KS is blind to a shift that moves mass symmetrically into both
    * tails; V = max(F−G) + max(G−F) is not). ONE string per component
    * for both engines: exact-long/exact-long divisions, max of
    * identical doubles.
    */
  private def kuiperUpExpr(a: String, b: String): String =
    s"max(CAST(f_$a AS DOUBLE)/CAST(n_$a AS DOUBLE)" +
      s" - CAST(f_$b AS DOUBLE)/CAST(n_$b AS DOUBLE))"
  private def kuiperDownExpr(a: String, b: String): String =
    s"max(CAST(f_$b AS DOUBLE)/CAST(n_$b AS DOUBLE)" +
      s" - CAST(f_$a AS DOUBLE)/CAST(n_$a AS DOUBLE))"

  /** Two-sample Kuiper test for every pair of event types over the
    * `value` distribution: V = D⁺ + D⁻, both one-sided sup-norms of
    * the ECDF difference. Same shared [[ecdfGrid]] as [[ksTest]] (two
    * sup-norms per pair group); the two maxima are exact doubles of
    * exact-integer ratios, and their sum is one IEEE add —
    * bit-identical across engines.
    *
    * Scale shape: identical to [[ksTest]] — the cumsum runs over the
    * bounded value grid (≤ ~50k rows at any corpus size), the raw
    * scan is one map-side conditional-count pass, the stacked grid is
    * 10× that, reduced by a 10-key aggregate.
    */
  def kuiperTest(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir,
      Seq(kuiperUpExpr("x", "y") -> "dp", kuiperDownExpr("x", "y") -> "dm"),
      "dp AS d_plus", "dm AS d_minus", "dp + dm AS v_stat")

  val kuiperTestSql: String = {
    val dMaxes = TypePairs
      .flatMap { case (a, b) => Seq(
        s"${kuiperUpExpr(a, b)} AS dp_${a}_$b",
        s"${kuiperDownExpr(a, b)} AS dm_${a}_$b") }
      .mkString(",\n    ")
    val unions = TypePairs
      .map { case (a, b) =>
        s"SELECT '$a' AS type_a, '$b' AS type_b, dp_${a}_$b AS d_plus, " +
          s"dm_${a}_$b AS d_minus, dp_${a}_$b + dm_${a}_$b AS v_stat FROM m" }
      .mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = false)},
       |m AS (
       |  SELECT
       |    $dMaxes
       |  FROM f, t)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // ----------------------------------------------------------- breusch_pagan

  /** Original Breusch–Pagan LM = ESS/2 of the auxiliary regression
    * h = g/σ̂² on x, which closed-forms to
    * LM = n·(n·sxg − sx·sg)² / (2·sg²·(n·sxx − sx²)) — deliberately
    * the ORIGINAL (not Koenker's n·R²) statistic because it needs no
    * Σg² moment: g ~ cents² makes g² overflow any exact decimal at
    * warehouse magnitudes, while sg/sxg stay comfortably inside
    * decimal(38,6). sx/sxx are long-exact, sg/sxg decimal-exact, so
    * every operand is exact before the DOUBLE casts — shared text.
    */
  private val BpNum =
    "(CAST(n AS DOUBLE) * CAST(sxg AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sg AS DOUBLE))"
  private val BpLmExpr: String =
    s"CAST(n AS DOUBLE) * ($BpNum * $BpNum)" +
      s" / (CAST(2 AS DOUBLE) * CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)" +
      s" * CAST(n * sxx - sx * sx AS DOUBLE))"

  /** Breusch–Pagan heteroscedasticity test on the daily-revenue trend
    * ([[regressionTrend]]'s fit): do the squared RELATIVE residuals
    * themselves trend with time? LM = ESS/2 of the auxiliary
    * regression g ~ x with g = (e/ŷ)², χ²(1) under homoscedasticity —
    * the diagnostic that says whether the trend's error bars can be
    * trusted or the variance itself is drifting. Residuals are
    * RELATIVE (e over the fitted value, floored at 1) on purpose:
    * g stays O(1) at ANY corpus magnitude, so the rounded-exact
    * auxiliary moments sg/sxg never approach the 2⁵³ ceiling where a
    * decimal→DOUBLE cast stops being correctly rounded in one engine
    * (the cupedAdjustment lesson) — cents² moments would cross it at
    * warehouse scale. The primary fit's slope/intercept come from the
    * same exact-moment formulation as regression_trend (bit-identical
    * doubles); each day's g is rounded to 6 decimals into
    * DECIMAL(18,6) (the rounded-parity convention — a per-day sum of
    * doubles has no canonical order), so the auxiliary moments are
    * exact and [[BpLmExpr]] reproduces bit for bit.
    *
    * Scale shape: one groupBy(date) pass reduces orders to the
    * calendar-bounded daily frame; the 1-row fit broadcasts back over
    * it; the auxiliary moments are a second single-row aggregate on
    * the same bounded frame.
    */
  def breuschPagan(spark: SparkSession, dir: String): DataFrame = {
    def s38(c: Column) = sum(c.cast("decimal(38,0)"))
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
      .select(datediff(col("dt"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("long").as("x"), col("y"))
    // x pre-cast BEFORE the product (its own oracle already does):
    // an int64 x*y throws under ANSI at extreme corpus magnitudes
    // where the decimal product stays exact — and the VALUE is
    // identical to regression_trend's long-multiplied moment, so the
    // bit-for-bit fit equality holds
    val fit = daily.agg(count(lit(1)).as("n"),
        s38(col("x")).as("sx"), s38(col("y")).as("sy"),
        s38(col("x") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      .withColumn("slope", expr(RegSlopeC))
      .withColumn("intercept", expr(RegInterceptC))
      .select("slope", "intercept")
    val resid = daily.crossJoin(broadcast(fit))
      .withColumn("fv", expr("intercept + slope * CAST(x AS DOUBLE)"))
      .withColumn("rel", expr(
        "(CAST(y AS DOUBLE) - fv) / (CASE WHEN fv < 1.0 AND fv > -1.0 THEN 1.0" +
          " WHEN fv < 0.0 THEN 0.0 - fv ELSE fv END)"))
      .withColumn("g", expr("CAST(round(rel * rel, 6) AS DECIMAL(18,6))"))
    // x narrowed to decimal(10,0) before the product: long×(18,6)
    // promotes past precision 38 and Spark silently sheds scale
    // digits to fit (allowPrecisionLoss) where DuckDB stays exact —
    // (10,0)×(18,6) keeps both engines exact at scale 6.
    resid.agg(count(lit(1)).as("n"),
        s38(col("x")).as("sx"),
        s38(col("x") * col("x")).as("sxx"),
        sum(col("g")).as("sg"),
        sum(col("x").cast("decimal(10,0)") * col("g")).as("sxg"),
        first(col("slope")).as("slope"),
        first(col("intercept")).as("intercept"))
      .select(col("n").as("n_days"), col("slope"), col("intercept"),
        expr(BpLmExpr).as("bp_stat"), lit(1).as("dof"))
  }

  val breuschPaganSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
       |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy
       |  FROM daily),
       |fit AS (SELECT $RegSlopeC AS slope, $RegInterceptC AS intercept FROM m),
       |fv AS (
       |  SELECT d.x, d.y, f.slope, f.intercept,
       |    f.intercept + f.slope * CAST(d.x AS DOUBLE) AS fv
       |  FROM daily d, fit f),
       |rel AS (
       |  SELECT *,
       |    (CAST(y AS DOUBLE) - fv) / (CASE WHEN fv < 1.0 AND fv > -1.0 THEN 1.0
       |      WHEN fv < 0.0 THEN 0.0 - fv ELSE fv END) AS rel
       |  FROM fv),
       |resid AS (
       |  SELECT x, CAST(round(rel * rel, 6) AS DECIMAL(18,6)) AS g, slope, intercept
       |  FROM rel),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
       |    sum(g) AS sg, sum(CAST(x AS DECIMAL(10,0)) * g) AS sxg,
       |    any_value(slope) AS slope, any_value(intercept) AS intercept
       |  FROM resid)
       |SELECT n AS n_days, slope, intercept, $BpLmExpr AS bp_stat, CAST(1 AS INTEGER) AS dof
       |FROM s""".stripMargin

  // ------------------------------------------------------- turning_point_test

  /** z from the one-row exact-integer summary: E[T] = 2(n−2)/3,
    * Var[T] = (16n−29)/90 under iid — both rationals of exact longs,
    * combined in one shared IEEE expression.
    */
  private val TpZExpr: String =
    "(CAST(t AS DOUBLE) - CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE) / CAST(3 AS DOUBLE))" +
      " / sqrt(CAST(16 AS DOUBLE) * CAST(n AS DOUBLE) - CAST(29 AS DOUBLE))" +
      " * sqrt(CAST(90 AS DOUBLE))"

  /** Turning-point test of randomness on the daily-revenue series: a
    * day is a turning point iff it is a STRICT local max or min of
    * its two calendar neighbors; under iid the count is
    * asymptotically normal with mean 2(n−2)/3 and variance
    * (16n−29)/90 — too FEW turning points means trend/persistence,
    * too MANY means negative autocorrelation (the cheap first look
    * before `ljung_box`/`runs_test`, on the VALUE series rather than
    * signs or residuals). Strictness is the documented tie
    * convention: exact-cent ties break neither < nor >, so they
    * simply do not turn. Everything is exact integers until the one
    * shared z expression.
    *
    * Scale shape: one groupBy(date) pass to the calendar-bounded
    * daily frame; lag/lead windows run on that bounded frame only.
    */
  def turningPointTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val w = Window.orderBy("dt")
    daily
      .withColumn("yp", lag(col("y"), 1).over(w))
      .withColumn("yn", lead(col("y"), 1).over(w))
      .agg(count(lit(1)).as("n"),
        sum(when(col("yp").isNotNull && col("yn").isNotNull &&
            ((col("y") > col("yp") && col("y") > col("yn")) ||
             (col("y") < col("yp") && col("y") < col("yn"))), 1L)
          .otherwise(0L)).as("t"))
      .select(col("n").as("n_days"), col("t").as("n_turning"),
        expr("CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE) / CAST(3 AS DOUBLE)")
          .as("expected"),
        expr(TpZExpr).as("z_score"))
  }

  val turningPointTestSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS dt,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |l AS (
       |  SELECT y,
       |    lag(y) OVER (ORDER BY dt) AS yp,
       |    lead(y) OVER (ORDER BY dt) AS yn
       |  FROM daily),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
       |      AND ((y > yp AND y > yn) OR (y < yp AND y < yn))
       |      THEN 1 ELSE 0 END) AS BIGINT) AS t
       |  FROM l)
       |SELECT n AS n_days, t AS n_turning,
       |  CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE) / CAST(3 AS DOUBLE) AS expected,
       |  $TpZExpr AS z_score
       |FROM s""".stripMargin

  // ------------------------------------------------------------ max_drawdown

  /** Maximum drawdown of the daily-revenue series: the largest
    * peak-to-trough fall relative to the running maximum — "how far
    * below its best day has revenue ever sunk", the risk statistic a
    * monitoring dashboard alerts on (a deep drawdown is a demand
    * shock even when the trend later recovers). Running peak via one
    * ordered window over the calendar-bounded daily frame (exact
    * cents); the trough is the FIRST day attaining the maximal
    * drawdown (min-date tiebreak — deterministic); share reported as
    * the exact-cent ratio cast once.
    *
    * Scale shape: groupBy(date) reduction first; the running-max
    * window and the argmin both run on the bounded daily frame.
    */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the trough's own revenue rides THROUGH the argmin struct, so
    // one aggregate answers everything — no second orders scan, no
    // join back (the SQL face's rn = 1 in one pass)
    daily
      .withColumn("peak", max(col("y")).over(w))
      .withColumn("dd", col("peak") - col("y"))
      .agg(min(struct(negate(col("dd")).as("ndd"), col("dt").as("dt"),
          col("y").as("y"))).as("m"),
        count(lit(1)).as("n"))
      .select(col("n").as("n_days"),
        negate(col("m").getField("ndd")).as("max_dd_cents"),
        (negate(col("m").getField("ndd")) + col("m").getField("y")).as("peak_cents"),
        col("m").getField("dt").cast("string").as("trough_date"),
        col("m").getField("y").as("trough_cents"))
      .select(col("n_days"), col("max_dd_cents"), col("peak_cents"),
        col("trough_date"),
        expr("CAST(max_dd_cents AS DOUBLE)" +
          " / CAST(peak_cents AS DOUBLE)").as("dd_share"))
  }

  val maxDrawdownSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS dt,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT dt, y,
       |    max(y) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM daily),
       |d AS (SELECT dt, y, peak - y AS dd FROM p),
       |r AS (SELECT *, row_number() OVER (ORDER BY dd DESC, dt) AS rn,
       |        count(*) OVER () AS n FROM d)
       |SELECT CAST(n AS BIGINT) AS n_days, dd AS max_dd_cents,
       |  dd + y AS peak_cents,
       |  CAST(dt AS VARCHAR) AS trough_date,
       |  CAST(dd AS DOUBLE) / CAST(dd + y AS DOUBLE) AS dd_share
       |FROM r WHERE rn = 1""".stripMargin

  // -------------------------------------------------------- record_highs_test

  /** Record-highs test on the daily-revenue series: the number of
    * record-breaking days (strictly above every earlier day, the
    * first day counting as record 1) against the iid law — E[T] =
    * H_n (harmonic) and Var[T] = H_n − H_n⁽²⁾, DISTRIBUTION-FREE
    * facts that need no moment assumptions at all. Too many records
    * = upward drift; the record-statistics complement of the
    * turning-point and runs tests. Records from one running-max
    * window on exact cents; the harmonic sums accumulate 12-dp
    * rounded-exact reciprocals over the same bounded frame (the
    * rounded-parity convention), so both engines agree bit for bit.
    *
    * Scale shape: everything after the groupBy(date) reduction runs
    * on the calendar-bounded daily frame.
    */
  def recordHighsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val wPrev = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, -1)
    val wIdx = Window.orderBy("dt")
    daily
      .withColumn("prevmax", max(col("y")).over(wPrev))
      .withColumn("k", row_number().over(wIdx).cast("long"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("prevmax").isNull || (col("y") > col("prevmax")), 1L)
          .otherwise(0L)).as("t"),
        sum(expr("CAST(round(CAST(1 AS DOUBLE) / CAST(k AS DOUBLE), 12)" +
          " AS DECIMAL(18,12))")).as("h1"),
        sum(expr("CAST(round(CAST(1 AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)), 12)" +
          " AS DECIMAL(18,12))")).as("h2"))
      .select(col("n").as("n_days"), col("t").as("n_records"),
        expr("CAST(h1 AS DOUBLE)").as("expected"),
        expr("(CAST(t AS DOUBLE) - CAST(h1 AS DOUBLE))" +
          " / sqrt(CAST(h1 - h2 AS DOUBLE))").as("z_score"))
  }

  val recordHighsTestSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS dt,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT dt, y,
       |    max(y) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax,
       |    CAST(row_number() OVER (ORDER BY dt) AS BIGINT) AS k
       |  FROM daily),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN prevmax IS NULL OR y > prevmax THEN 1 ELSE 0 END) AS BIGINT) AS t,
       |    sum(CAST(round(CAST(1 AS DOUBLE) / CAST(k AS DOUBLE), 12) AS DECIMAL(18,12))) AS h1,
       |    sum(CAST(round(CAST(1 AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)), 12) AS DECIMAL(18,12))) AS h2
       |  FROM p)
       |SELECT n AS n_days, t AS n_records,
       |  CAST(h1 AS DOUBLE) AS expected,
       |  (CAST(t AS DOUBLE) - CAST(h1 AS DOUBLE)) / sqrt(CAST(h1 - h2 AS DOUBLE)) AS z_score
       |FROM s""".stripMargin

  // ---------------------------------------------------------- hurst_exponent

  private val HurstSizes = Seq(8, 16, 32, 64)

  /** Hurst exponent of daily revenue by rescaled-range (R/S)
    * analysis: mean R/S per block size, log–log slope over the size
    * grid — H ≈ 0.5 is memoryless, H > 0.5 long-range persistence
    * (trends feed themselves), H < 0.5 mean reversion. The
    * long-memory diagnostic `autocorr_lag` (one lag) and `adf_test`
    * (unit root) bracket but don't measure.
    *
    * Exactness: the series is first made SCALE-FREE — yq =
    * ⌊10⁶·y/ȳ⌋, identical ints from one global-mean division — so
    * block moments are magnitude-invariant (the breusch_pagan lesson
    * applied to R/S); the yq² sums run in exact decimal and the
    * block variance casts to int64 LOUDLY on both engines, so
    * pathological skew (a day thousands of times the mean) fails the
    * same way everywhere instead of silently diverging. Within a block of
    * size s the cumulative deviation is kept in integers by scaling:
    * dev_k = s·prefix_k − k·syq (exact), so R = (max−min)/s and
    * S = √(s·syyq − syq²)/s give R/S = (max−min)/√(s·syyq − syq²) —
    * two int64→DOUBLE casts (correctly rounded on BOTH engines at
    * any magnitude, unlike decimal→double) and one IEEE division.
    * Per-size means and the 4-point log–log OLS use 9-dp
    * rounded-exact sums with [[graft.functions.ExactLn]].
    *
    * Scale shape: groupBy(date) reduction first; the ×4 size
    * explosion, block windows, and everything after run on the
    * calendar-bounded daily frame (4n rows, never data-sized).
    * Constant blocks (S = 0) are excluded on both faces.
    */
  def hurstExponent(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("dt"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val wIdx = Window.orderBy("dt")
    val idx = daily
      .withColumn("rn", row_number().over(wIdx).cast("long"))
      .withColumn("ybar", expr(
        "CAST(sum(y) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE)"))
      .withColumn("yq", expr("CAST(floor(CAST(1000000 AS DOUBLE) * (CAST(y AS DOUBLE) / ybar)) AS BIGINT)"))
      .select(col("rn"), col("yq"))
    val sized = idx.crossJoin(
        spark.range(1).select(explode(lit(HurstSizes.toArray)).as("s")))
      .withColumn("b", expr("(rn - 1) div s"))
    val wBlk = Window.partitionBy("s", "b").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCnt = Window.partitionBy("s", "b")
    val dev = sized
      .withColumn("k", count(lit(1)).over(wBlk))
      .withColumn("prefix", sum(col("yq")).over(wBlk))
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .withColumn("syq", sum(col("yq")).over(wCnt))
      .filter(col("cnt") === col("s"))
      .withColumn("dev", col("s") * col("prefix") - col("k") * col("syq"))
    // yq² summed in exact decimal, the s·Σyq² − (Σyq)² difference
    // computed in decimal, THEN cast to long: the cast is exact
    // whenever the block variance fits int64 and fails LOUDLY (ANSI
    // throw here, CAST error in DuckDB) on pathological skew —
    // never a silent per-row int64 wrap on one engine only
    val blocks = dev.groupBy(col("s"), col("b"))
      .agg((max(col("dev")) - min(col("dev"))).as("r_int"),
        (first(col("s")).cast("decimal(38,0)") *
            sum(col("yq").cast("decimal(38,0)") * col("yq")) -
          first(col("syq")).cast("decimal(38,0)") * first(col("syq")))
          .cast("long").as("s2_int"))
      .filter(col("s2_int") > 0)
      .withColumn("rs", expr("CAST(r_int AS DOUBLE) / sqrt(CAST(s2_int AS DOUBLE))"))
    val perSize = blocks.groupBy(col("s"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("CAST(round(rs, 9) AS DECIMAL(18,9))")).as("srs"))
      .withColumn("mean_rs", expr("CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE)"))
      .withColumn("ls0", expr("CAST(s AS DOUBLE)"))
      .withColumn("__ys", expr(ExactLn.yExpr("ls0")))
      .withColumn("__zs", expr(ExactLn.zExpr("__ys")))
      .withColumn("lx", expr(ExactLn.lnExpr("__zs")))
      .withColumn("__yr", expr(ExactLn.yExpr("mean_rs")))
      .withColumn("__zr", expr(ExactLn.zExpr("__yr")))
      .withColumn("ly", expr(ExactLn.lnExpr("__zr")))
    val wAll = Window.partitionBy()
    def rsum(c: String) =
      sum(expr(s"CAST(round($c, 9) AS DECIMAL(18,9))")).over(wAll)
    perSize
      .withColumn("m", count(lit(1)).over(wAll).cast("long"))
      .withColumn("sx", rsum("lx")).withColumn("sy2", rsum("ly"))
      .withColumn("sxx", rsum("lx * lx")).withColumn("sxy", rsum("lx * ly"))
      .withColumn("hurst", expr(
        "CAST(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy2 AS DOUBLE) AS DOUBLE)" +
          " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"))
      .select(col("s").cast("int").as("block_size"), col("n_blocks"),
        col("mean_rs"), col("hurst"))
      .orderBy("block_size")
  }

  val hurstExponentSql: String = {
    import graft.functions.ExactLn
    val sizes = HurstSizes.mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS dt,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |idx AS (
       |  SELECT CAST(row_number() OVER (ORDER BY dt) AS BIGINT) AS rn,
       |    CAST(floor(CAST(1000000 AS DOUBLE) * (CAST(y AS DOUBLE)
       |      / (CAST(sum(y) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE)))) AS BIGINT) AS yq
       |  FROM daily),
       |sized AS (
       |  SELECT rn, yq, CAST(s AS BIGINT) AS s, (rn - 1) // s AS b
       |  FROM idx, (SELECT unnest([$sizes]) AS s)),
       |dev0 AS (
       |  SELECT *,
       |    CAST(count(*) OVER wb AS BIGINT) AS k,
       |    sum(yq) OVER wb AS prefix,
       |    CAST(count(*) OVER wc AS BIGINT) AS cnt,
       |    sum(yq) OVER wc AS syq
       |  FROM sized
       |  WINDOW wb AS (PARTITION BY s, b ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         wc AS (PARTITION BY s, b)),
       |dev AS (
       |  SELECT *, s * prefix - k * syq AS dev FROM dev0 WHERE cnt = s),
       |blocks AS (
       |  SELECT s, b, CAST(max(dev) - min(dev) AS BIGINT) AS r_int,
       |    CAST(CAST(any_value(s) AS DECIMAL(38,0)) * sum(CAST(yq AS DECIMAL(38,0)) * yq)
       |      - CAST(any_value(syq) AS DECIMAL(38,0)) * any_value(syq) AS BIGINT) AS s2_int
       |  FROM dev GROUP BY 1, 2),
       |bl AS (
       |  SELECT *, CAST(r_int AS DOUBLE) / sqrt(CAST(s2_int AS DOUBLE)) AS rs
       |  FROM blocks WHERE s2_int > 0),
       |per_size AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
       |    sum(CAST(round(rs, 9) AS DECIMAL(18,9))) AS srs
       |  FROM bl GROUP BY 1),
       |ms AS (
       |  SELECT *, CAST(srs AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean_rs,
       |    CAST(s AS DOUBLE) AS ls0
       |  FROM per_size),
       |y1 AS (SELECT *, ${ExactLn.yExpr("ls0")} AS __ys, ${ExactLn.yExpr("mean_rs")} AS __yr FROM ms),
       |z1 AS (SELECT *, ${ExactLn.zExpr("__ys")} AS __zs, ${ExactLn.zExpr("__yr")} AS __zr FROM y1),
       |l1 AS (SELECT *, ${ExactLn.lnExpr("__zs")} AS lx, ${ExactLn.lnExpr("__zr")} AS ly FROM z1),
       |mo AS (
       |  SELECT *,
       |    CAST(count(*) OVER () AS BIGINT) AS m,
       |    sum(CAST(round(lx, 9) AS DECIMAL(18,9))) OVER () AS sx,
       |    sum(CAST(round(ly, 9) AS DECIMAL(18,9))) OVER () AS sy2,
       |    sum(CAST(round(lx * lx, 9) AS DECIMAL(18,9))) OVER () AS sxx,
       |    sum(CAST(round(lx * ly, 9) AS DECIMAL(18,9))) OVER () AS sxy
       |  FROM l1)
       |SELECT CAST(s AS INTEGER) AS block_size, n_blocks, mean_rs,
       |  CAST(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy2 AS DOUBLE) AS DOUBLE)
       |    / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS hurst
       |FROM mo ORDER BY block_size""".stripMargin
  }

  // ========================================================== round 17 batch

  /** The daily-revenue 2×midrank frame shared by [[pettittTest]] and
    * [[bartelsRankTest]]: each observed day joined with TWICE the
    * midrank of its revenue within the full series. Doubling keeps
    * tied midranks (k + 0.5 forms) exact integers — the
    * [[wilcoxonSignedRank]] trick applied to a value-grid ranking:
    * for a revenue value with m ties and cum_before smaller values,
    * every tied day carries 2·midrank = 2·cum_before + m + 1.
    */
  private def dailyRank2(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val grp = daily.groupBy(col("y")).agg(count(lit(1)).as("m"))
    val wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    val r2 = grp
      .withColumn("cb", coalesce(sum(col("m")).over(wv), lit(0L)))
      .select(col("y"), (lit(2L) * col("cb") + col("m") + 1L).as("r2"))
    daily.join(r2, "y").select(col("d"), col("y"), col("r2"))
  }

  /** [[dailyRank2]]'s SQL twin — `daily`/`grp`/`rr`/`dr` CTEs both
    * rank-based series tests splice in verbatim.
    */
  private val dailyRank2SqlCtes: String =
    """daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |grp AS (SELECT y, count(*) AS m FROM daily GROUP BY 1),
      |rr AS (
      |  SELECT y, 2 * coalesce(sum(m) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r2
      |  FROM grp),
      |dr AS (SELECT d, daily.y, r2 FROM daily JOIN rr ON rr.y = daily.y)""".stripMargin

  // ------------------------------------------------------------ pettitt_test

  /** x = −6K²/(n³+n²), clamped at the ExactExp domain floor: past −40
    * the true p is < 2e−18 and the clamp only keeps the shared
    * Taylor/squaring text inside its convergence contract.
    */
  private val PettittXExpr: String =
    "greatest(CAST(-6 AS DOUBLE) * (CAST(k2 AS DOUBLE) / CAST(nn AS DOUBLE))," +
      " CAST(-40 AS DOUBLE))"

  /** Pettitt rank-based change point on the daily-revenue series: the
    * day t maximizing |U_t|, U_t = 2·Σ_{i≤t} rank(y_i) − t·(n+1) —
    * the nonparametric complement of [[changepointDetect]] (that
    * query maximizes the SSE gain of a MEAN shift and is leverage-
    * sensitive; Pettitt tests a distribution shift on ranks and is
    * immune to single-day outliers). With the [[dailyRank2]] doubled
    * midranks U_t = S2_t − t·(n+1) stays exact-integer throughout —
    * |U| ≤ n(n+1)/2 and n is calendar-bounded, so nothing approaches
    * int64. The classic approximation p ≈ 2·exp(−6K²/(n³+n²)) is the
    * one shared ExactExp chain, clamped to the |x| ≤ 40 contract
    * ([[PettittXExpr]]).
    *
    * Scale shape: orders reduce to the calendar-bounded daily frame;
    * the value-grid ranking, the chronological cumsum, and the argmax
    * all run on that bounded frame (the [[changepointDetect]] shape).
    */
  def pettittTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactExp
    val dr = dailyRank2(spark, dir)
    val tot = dr.agg(count(lit(1)).as("n"))
    val wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = dr.crossJoin(broadcast(tot))
      .withColumn("t", count(lit(1)).over(wd))
      .withColumn("s2", sum(col("r2")).over(wd))
      .filter(col("t") < col("n"))
      .withColumn("u", col("s2") - col("t") * (col("n") + 1L))
      .withColumn("au", abs(col("u")))
    val wBest = Window.orderBy(col("au").desc, col("d"))
    u.withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
      .withColumn("k2", col("au") * col("au"))
      .withColumn("nn", col("n") * col("n") * (col("n") + 1L))
      .withColumn("__px", expr(PettittXExpr))
      .withColumn("__pu", expr(ExactExp.uExpr("__px")))
      .withColumn("__pp", expr(ExactExp.pExpr("__pu")))
      .select(col("n").as("n_days"), col("au").as("k_stat"),
        col("d").cast("string").as("change_day"),
        expr(s"CAST(2 AS DOUBLE) * ${ExactExp.expExpr("__pp")}").as("p_approx"))
  }

  lazy val pettittTestSql: String = {
    import graft.functions.ExactExp
    s"""WITH $dailyRank2SqlCtes,
       |tt AS (SELECT count(*) AS n FROM daily),
       |cum AS (
       |  SELECT d, tt.n,
       |    count(*) OVER w AS t,
       |    sum(r2) OVER w AS s2
       |  FROM dr, tt
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |uu AS (
       |  SELECT *, abs(s2 - t * (n + 1)) AS au FROM cum WHERE t < n),
       |best AS (SELECT *, row_number() OVER (ORDER BY au DESC, d) AS rk FROM uu),
       |b AS (SELECT *, au * au AS k2, n * n * (n + 1) AS nn FROM best WHERE rk = 1),
       |x1 AS (SELECT *, $PettittXExpr AS __px FROM b),
       |e1 AS (SELECT *, ${ExactExp.uExpr("__px")} AS __pu FROM x1),
       |e2 AS (SELECT *, ${ExactExp.pExpr("__pu")} AS __pp FROM e1)
       |SELECT CAST(n AS BIGINT) AS n_days, CAST(au AS BIGINT) AS k_stat,
       |  CAST(d AS VARCHAR) AS change_day,
       |  CAST(2 AS DOUBLE) * ${ExactExp.expExpr("__pp")} AS p_approx
       |FROM e2""".stripMargin
  }

  // ------------------------------------------------------- bartels_rank_test

  private val BartelsRvnExpr: String =
    "CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE)"
  private val BartelsZExpr: String =
    "(rvn - CAST(2 AS DOUBLE))" +
      " / sqrt(CAST(20 AS DOUBLE) / CAST(5 * n + 7 AS DOUBLE))"

  /** Bartels rank von Neumann randomness test on the daily-revenue
    * series: RVN = Σ(r_t − r_{t+1})² / Σ(r_t − r̄)² over chronological
    * midranks — the RANK-serial-correlation complement of
    * [[runsTest]] (sign-of-median runs) and [[turningPointTest]]
    * (local extrema): positive serial dependence drags RVN below 2,
    * alternation pushes it above. Doubled midranks keep both sums
    * exact integers (the 4s cancel in the ratio); Σ2r = n(n+1)
    * exactly, so the denominator closed-forms to Σ(2r)² − n(n+1)².
    * z uses the standard asymptotic var(RVN) ≈ 20/(5n+7).
    *
    * Scale shape: identical to [[pettittTest]] — everything after the
    * one orders scan runs on the calendar-bounded daily frame.
    */
  def bartelsRankTest(spark: SparkSession, dir: String): DataFrame = {
    val dr = dailyRank2(spark, dir)
    val wd = Window.orderBy("d")
    val diff = dr.withColumn("r2n", lead(col("r2"), 1).over(wd))
    diff.agg(
        count(lit(1)).as("n"),
        sum(when(col("r2n").isNotNull,
          (col("r2") - col("r2n")) * (col("r2") - col("r2n")))).as("num2"),
        sum(col("r2") * col("r2")).as("sr2q"))
      .withColumn("den2",
        col("sr2q") - col("n") * (col("n") + 1L) * (col("n") + 1L))
      .withColumn("rvn", expr(BartelsRvnExpr))
      .select(col("n").as("n_days"), col("rvn"), expr(BartelsZExpr).as("z_score"))
  }

  lazy val bartelsRankTestSql: String =
    s"""WITH $dailyRank2SqlCtes,
       |diff AS (
       |  SELECT r2, lead(r2) OVER (ORDER BY d) AS r2n FROM dr),
       |s AS (
       |  SELECT count(*) AS n,
       |    sum(CASE WHEN r2n IS NOT NULL THEN (r2 - r2n) * (r2 - r2n) END) AS num2,
       |    sum(r2 * r2) AS sr2q
       |  FROM diff),
       |dn AS (SELECT *, sr2q - n * (n + 1) * (n + 1) AS den2 FROM s),
       |rv AS (SELECT *, $BartelsRvnExpr AS rvn FROM dn)
       |SELECT CAST(n AS BIGINT) AS n_days, rvn, $BartelsZExpr AS z_score
       |FROM rv""".stripMargin

  // ------------------------------------------------------- cox_stuart_trend

  private val CoxStuartZExpr: String =
    "CAST(2 * pos - m AS DOUBLE) / sqrt(CAST(m AS DOUBLE))"

  /** Cox–Stuart trend test on daily revenue: pair day i with day
    * i + ⌈n/2⌉ and sign-test the paired differences — the
    * distribution-free "is the second half systematically above the
    * first" check (complement of [[regressionTrend]]'s parametric
    * slope and [[mannKendallTrend]]'s all-pairs S: Cox–Stuart is the
    * n/2-lag sign test, O(n) and immune to any monotone
    * transformation of the values). Ties (y equal across the half-
    * gap) drop from the effective m, per the classic definition.
    * Everything is exact integers except the one z expression.
    *
    * Scale shape: the half-gap self-join runs on the calendar-bounded
    * daily frame (row_number alignment, broadcast total), after the
    * single orders scan.
    */
  def coxStuartTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("n"))
    val wd = Window.orderBy("d")
    val idx = daily.crossJoin(broadcast(tot))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("c", expr("n div 2"))
      .withColumn("h", col("n") - expr("n div 2"))
    val a = idx.filter(col("t") <= col("c"))
      .select(col("t"), col("y").as("ya"), col("n"), col("h"))
    val b = idx.filter(col("t") > col("h"))
      .select((col("t") - col("h")).as("t"), col("y").as("yb"))
    a.join(b, "t")
      .agg(max(col("n")).as("n"),
        sum(when(col("yb") > col("ya"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("yb") < col("ya"), 1L).otherwise(0L)).as("neg"))
      .withColumn("m", col("pos") + col("neg"))
      .select(col("n").as("n_days"), col("m").as("n_pairs"),
        col("pos").as("n_rises"), col("neg").as("n_falls"),
        expr(CoxStuartZExpr).as("z_score"))
  }

  lazy val coxStuartTrendSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tt AS (SELECT count(*) AS n FROM daily),
       |idx AS (
       |  SELECT d, y, tt.n, row_number() OVER (ORDER BY d) AS t,
       |    tt.n // 2 AS c, tt.n - tt.n // 2 AS h
       |  FROM daily, tt),
       |pr AS (
       |  SELECT a.n, a.y AS ya, b.y AS yb
       |  FROM idx a JOIN idx b ON b.t = a.t + a.h
       |  WHERE a.t <= a.c),
       |s AS (
       |  SELECT max(n) AS n,
       |    CAST(sum(CASE WHEN yb > ya THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |    CAST(sum(CASE WHEN yb < ya THEN 1 ELSE 0 END) AS BIGINT) AS neg
       |  FROM pr),
       |sm AS (SELECT *, pos + neg AS m FROM s)
       |SELECT CAST(n AS BIGINT) AS n_days, CAST(m AS BIGINT) AS n_pairs,
       |  pos AS n_rises, neg AS n_falls,
       |  $CoxStuartZExpr AS z_score
       |FROM sm""".stripMargin

  // --------------------------------------------------- variance_ratio_test

  private val VrExpr: String =
    "(CAST(qs2 AS DOUBLE) / CAST(nq AS DOUBLE)" +
      " - (CAST(qs AS DOUBLE) / CAST(nq AS DOUBLE))" +
      " * (CAST(qs AS DOUBLE) / CAST(nq AS DOUBLE)))" +
      " / (CAST(5 AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)" +
      " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))" +
      " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))"
  private val VrZExpr: String =
    "(vr - CAST(1 AS DOUBLE))" +
      " * sqrt(CAST(15 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(72 AS DOUBLE))"

  /** Lo–MacKinlay variance-ratio test (q = 5) on daily log revenue
    * changes: VR(q) = Var(5-day overlapping log-change sums) /
    * (5·Var(1-day)) — 1 under a random walk, < 1 for mean reversion,
    * > 1 for momentum/trending. The econometric complement of
    * [[autocorrLag]] (VR aggregates the first q−1 autocorrelations
    * with Bartlett weights) and of [[hurstExponent]] (same question,
    * variance-scaling form, with an asymptotic z). Log changes come
    * from the shared ExactLn chain on exact-integer daily ratios, are
    * rounded to 9 decimals into DECIMAL (the rounded-parity
    * convention — both engines then sum identical exact decimals),
    * and the two variances plus the z are single shared expressions
    * over those exact moments. z uses the homoskedastic asymptotic
    * var 2(2q−1)(q−1)/(3qn) = 72/(15n) at q = 5.
    *
    * Scale shape: one orders scan reduces to the calendar-bounded
    * daily frame; the lag, the 5-row window sum, and the final
    * single-row aggregate all run on that bounded frame.
    */
  def varianceRatioTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
      .filter(col("y") > 0L)
    val wd = Window.orderBy("d")
    val ret = daily
      .withColumn("yp", lag(col("y"), 1).over(wd))
      .filter(col("yp").isNotNull)
      .withColumn("ratio", expr("CAST(y AS DOUBLE) / CAST(yp AS DOUBLE)"))
      .withColumn("__vy", expr(ExactLn.yExpr("ratio")))
      .withColumn("__vz", expr(ExactLn.zExpr("__vy")))
      .withColumn("r", expr(ExactLn.lnExpr("__vz")))
      .withColumn("r9", expr("CAST(round(r, 9) AS DECIMAL(18,9))"))
    val wq = Window.orderBy("d").rowsBetween(-4, 0)
    val withQ = ret
      .withColumn("cnt5", count(lit(1)).over(wq))
      .withColumn("sq", sum(col("r9")).over(wq))
      .withColumn("sqd", expr("CAST(sq AS DOUBLE)"))
    withQ.agg(
        count(lit(1)).as("n"),
        sum(col("r9")).as("s1"),
        sum(expr("CAST(round(CAST(r9 AS DOUBLE) * CAST(r9 AS DOUBLE), 9) AS DECIMAL(18,9))")).as("s2"),
        sum(when(col("cnt5") === 5, 1L).otherwise(0L)).as("nq"),
        sum(when(col("cnt5") === 5, col("sq"))).as("qs"),
        sum(when(col("cnt5") === 5,
          expr("CAST(round(sqd * sqd, 9) AS DECIMAL(18,9))"))).as("qs2"))
      .withColumn("vr", expr(VrExpr))
      .select(lit(5L).as("q"), col("n").as("n_returns"), col("vr"),
        expr(VrZExpr).as("z_score"))
  }

  lazy val varianceRatioTestSql: String = {
    import graft.functions.ExactLn
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1 HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) > 0),
       |lg AS (
       |  SELECT d, y, lag(y) OVER (ORDER BY d) AS yp FROM daily),
       |rt AS (
       |  SELECT d, CAST(y AS DOUBLE) / CAST(yp AS DOUBLE) AS ratio
       |  FROM lg WHERE yp IS NOT NULL),
       |y1 AS (SELECT *, ${ExactLn.yExpr("ratio")} AS __vy FROM rt),
       |z1 AS (SELECT *, ${ExactLn.zExpr("__vy")} AS __vz FROM y1),
       |l1 AS (SELECT *, ${ExactLn.lnExpr("__vz")} AS r FROM z1),
       |r9t AS (SELECT d, CAST(round(r, 9) AS DECIMAL(18,9)) AS r9 FROM l1),
       |wq AS (
       |  SELECT r9,
       |    count(*) OVER w AS cnt5,
       |    sum(r9) OVER w AS sq
       |  FROM r9t
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
       |wq2 AS (SELECT *, CAST(sq AS DOUBLE) AS sqd FROM wq),
       |s AS (
       |  SELECT count(*) AS n,
       |    sum(r9) AS s1,
       |    sum(CAST(round(CAST(r9 AS DOUBLE) * CAST(r9 AS DOUBLE), 9) AS DECIMAL(18,9))) AS s2,
       |    CAST(sum(CASE WHEN cnt5 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS nq,
       |    sum(CASE WHEN cnt5 = 5 THEN sq END) AS qs,
       |    sum(CASE WHEN cnt5 = 5 THEN CAST(round(sqd * sqd, 9) AS DECIMAL(18,9)) END) AS qs2
       |  FROM wq2),
       |v AS (SELECT *, $VrExpr AS vr FROM s)
       |SELECT CAST(5 AS BIGINT) AS q, CAST(n AS BIGINT) AS n_returns, vr,
       |  $VrZExpr AS z_score
       |FROM v""".stripMargin
  }

  // ---------------------------------------------------------------- chow_test

  /** Centered-moment SSR of the OLS line fit over the `$p`-suffixed
    * exact moment columns — one text, three splice points (pooled and
    * both regimes).
    */
  private def chowSsrExpr(p: String): String = {
    val sxyC = s"(CAST(sxy$p AS DOUBLE) - CAST(sx$p AS DOUBLE) * CAST(sy$p AS DOUBLE) / CAST(n$p AS DOUBLE))"
    s"(CAST(syy$p AS DOUBLE) - CAST(sy$p AS DOUBLE) * CAST(sy$p AS DOUBLE) / CAST(n$p AS DOUBLE))" +
      s" - $sxyC * $sxyC" +
      s" / (CAST(sxx$p AS DOUBLE) - CAST(sx$p AS DOUBLE) * CAST(sx$p AS DOUBLE) / CAST(n$p AS DOUBLE))"
  }
  private val ChowFExpr: String =
    "((ssr0 - ssr1 - ssr2) / CAST(2 AS DOUBLE))" +
      " / ((ssr1 + ssr2) / CAST(n0 - 4 AS DOUBLE))"

  /** Chow structural-break F-test on the daily-revenue trend, break
    * at the series midpoint: fit y = a + b·t pooled and separately on
    * each half; F = ((SSR_pooled − SSR₁ − SSR₂)/k) /
    * ((SSR₁+SSR₂)/(n−2k)) with k = 2 — the parametric complement of
    * [[pettittTest]] (does the LINE change, not just the level?) and
    * the significance test [[changepointDetect]]'s gain lacks. All
    * five moments per regime are exact decimals (pooled = regime
    * sums, exactness preserved); the three SSRs and F are shared
    * expressions over them ([[chowSsrExpr]] — the [[CpGainExpr]]
    * big-decimal-to-double convention).
    *
    * Scale shape: one orders scan → calendar-bounded daily frame →
    * one conditional-moment aggregate row. The row_number runs on the
    * bounded frame.
    */
  def chowTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("y"))
    val tot = daily.agg(count(lit(1)).as("nAll"))
    val wd = Window.orderBy("d")
    val idx = daily.crossJoin(broadcast(tot))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("rg", when(col("t") <= expr("nAll div 2"), 1).otherwise(2))
    def mom(g: Int): Seq[org.apache.spark.sql.Column] = {
      def s0(c: org.apache.spark.sql.Column) =
        sum(when(col("rg") === g, c.cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
      Seq(
        sum(when(col("rg") === g, 1L).otherwise(0L)).as(s"n$g"),
        s0(col("t")).as(s"sx$g"), s0(col("y")).as(s"sy$g"),
        s0(col("t") * col("t")).as(s"sxx$g"),
        sum(when(col("rg") === g, col("t").cast("decimal(38,0)") * col("y"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sxy$g"),
        sum(when(col("rg") === g, col("y").cast("decimal(38,0)") * col("y"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"syy$g"))
    }
    val cols = mom(1) ++ mom(2)
    idx.agg(cols.head, cols.tail: _*)
      .withColumn("n0", col("n1") + col("n2"))
      .withColumn("sx0", col("sx1") + col("sx2"))
      .withColumn("sy0", col("sy1") + col("sy2"))
      .withColumn("sxx0", col("sxx1") + col("sxx2"))
      .withColumn("sxy0", col("sxy1") + col("sxy2"))
      .withColumn("syy0", col("syy1") + col("syy2"))
      .withColumn("ssr0", expr(chowSsrExpr("0")))
      .withColumn("ssr1", expr(chowSsrExpr("1")))
      .withColumn("ssr2", expr(chowSsrExpr("2")))
      .select(col("n1").as("n_first"), col("n2").as("n_second"),
        expr("ssr0 / CAST(10000 AS DOUBLE)").as("ssr_pooled"),
        expr("(ssr1 + ssr2) / CAST(10000 AS DOUBLE)").as("ssr_split"),
        expr(ChowFExpr).as("f_stat"))
  }

  lazy val chowTestSql: String = {
    // Squared/cross moments use ONE (19,0)×int64 multiply — a
    // (38,0)×int product silently falls back to DOUBLE in DuckDB
    // (brunnerMunzelSql's width ledger), which would sum rounded
    // doubles against Spark's exact decimal(38,0) sums once y² (daily
    // revenue in cents, squared) crosses 2^53.
    def mom(g: Int): String =
      s"""CAST(sum(CASE WHEN rg = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g,
         |    sum(CASE WHEN rg = $g THEN CAST(t AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sx$g,
         |    sum(CASE WHEN rg = $g THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sy$g,
         |    sum(CASE WHEN rg = $g THEN CAST(CAST(t AS DECIMAL(19,0)) * t AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxx$g,
         |    sum(CASE WHEN rg = $g THEN CAST(CAST(t AS DECIMAL(19,0)) * y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS sxy$g,
         |    sum(CASE WHEN rg = $g THEN CAST(CAST(y AS DECIMAL(19,0)) * y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS syy$g""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tt AS (SELECT count(*) AS nall FROM daily),
       |idx AS (
       |  SELECT y, row_number() OVER (ORDER BY d) AS t,
       |    CASE WHEN row_number() OVER (ORDER BY d) <= tt.nall // 2 THEN 1 ELSE 2 END AS rg
       |  FROM daily, tt),
       |m AS (
       |  SELECT
       |    ${mom(1)},
       |    ${mom(2)}
       |  FROM idx),
       |p AS (
       |  SELECT *, n1 + n2 AS n0, sx1 + sx2 AS sx0, sy1 + sy2 AS sy0,
       |    sxx1 + sxx2 AS sxx0, sxy1 + sxy2 AS sxy0, syy1 + syy2 AS syy0
       |  FROM m),
       |r AS (
       |  SELECT *, ${chowSsrExpr("0")} AS ssr0, ${chowSsrExpr("1")} AS ssr1,
       |    ${chowSsrExpr("2")} AS ssr2
       |  FROM p)
       |SELECT n1 AS n_first, n2 AS n_second,
       |  ssr0 / CAST(10000 AS DOUBLE) AS ssr_pooled,
       |  (ssr1 + ssr2) / CAST(10000 AS DOUBLE) AS ssr_split,
       |  $ChowFExpr AS f_stat
       |FROM r""".stripMargin
  }

  // --------------------------------------------------------------- cliff_delta

  private def cliffDeltaExpr(a: String, b: String): String =
    s"(CAST(gt_${a}_$b AS DOUBLE) - CAST(lt_${a}_$b AS DOUBLE))" +
      s" / (CAST(n_$a AS DOUBLE) * CAST(n_$b AS DOUBLE))"

  /** Cliff's delta for every pair of event types over the `value`
    * distribution: δ = P(X > Y) − P(X < Y) — the ordinal effect size
    * that [[mannWhitney]]'s U rescales to (δ = 2U/(n₁n₂) − 1 with
    * ties counted half), reported directly so "how big is the shift"
    * rides next to [[ksTest]]'s "is there a shift". All 10 pairs come
    * out of the shared [[ecdfGrid]]: greater/less cross-mass sums
    * Σ_v c_a(v)·F_b(v⁻) and Σ_v c_a(v)·(n_b − F_b(v)) per pair group —
    * exact longs (≤ n_a·n_b), one shared double expression per pair.
    *
    * Scale shape: the [[ecdfGrid]] shape — raw scan → bounded value
    * grid → 10× stacked grid → one 10-key aggregate of 2 sums.
    */
  def cliffDelta(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir, cliffSums("x", "y"),
      "CAST(n_x AS BIGINT) AS n_a", "CAST(n_y AS BIGINT) AS n_b",
      s"${cliffDeltaExpr("x", "y")} AS delta")

  /** (sum text, column name) of the greater/less cross masses. */
  private def cliffSums(a: String, b: String): Seq[(String, String)] = Seq(
    s"sum(c_$a * (f_$b - c_$b))" -> s"gt_${a}_$b",
    s"sum(c_$a * (n_$b - f_$b))" -> s"lt_${a}_$b")

  lazy val cliffDeltaSql: String = {
    val pairSums = pairSumsSql(cliffSums)
    val unions = TypePairs
      .map { case (a, b) =>
        s"SELECT '$a' AS type_a, '$b' AS type_b, CAST(n_$a AS BIGINT) AS n_a," +
          s" CAST(n_$b AS BIGINT) AS n_b, ${cliffDeltaExpr(a, b)} AS delta FROM m, t" }
      .mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = true)},
       |m AS (
       |  SELECT
       |    $pairSums
       |  FROM f, t)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // ------------------------------------------------------------ brunner_munzel

  /** Per-pair Brunner–Munzel pieces over the doubled-rank sums: the
    * relative effect p̂ = P(X_b > X_a) + ½P(=), the rank-variance
    * terms, and the studentized statistic (the lawstat
    * `brunner.munzel.test` formulation) — one text per pair for both
    * engines.
    */
  private def bmExprs(a: String, b: String): (String, String) = {
    // the sum columns are keyed by the pair tag; the COUNT columns by
    // the bare type name (they come off the shared totals row)
    def mean(g: String) = {
      val tag = s"${g}_in_${a}_$b"
      s"(CAST(src_$tag AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_$g AS DOUBLE)))"
    }
    def v(g: String) = {
      val tag = s"${g}_in_${a}_$b"
      s"((CAST(sd2_$tag AS DOUBLE) - CAST(sd_$tag AS DOUBLE) * CAST(sd_$tag AS DOUBLE) / CAST(n_$g AS DOUBLE))" +
        s" / (CAST(4 AS DOUBLE) * CAST(n_$g - 1 AS DOUBLE)))"
    }
    val phat =
      s"((${mean(b)} - (CAST(n_$b AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE))" +
        s" / CAST(n_$a AS DOUBLE))"
    val stat =
      s"(CAST(n_$a AS DOUBLE) * CAST(n_$b AS DOUBLE)" +
        s" * (${mean(b)} - ${mean(a)})" +
        s" / ((CAST(n_$a AS DOUBLE) + CAST(n_$b AS DOUBLE))" +
        s" * sqrt(CAST(n_$a AS DOUBLE) * ${v(a)}" +
        s" + CAST(n_$b AS DOUBLE) * ${v(b)})))"
    (phat, stat)
  }

  /** Brunner–Munzel test for every event-type pair over the `value`
    * distribution — the heteroscedasticity-robust replacement for
    * [[mannWhitney]] (MW assumes equal shapes under H₀; BM
    * studentizes the rank means with per-group rank variances, the
    * recommended default when spreads differ). Everything reduces to
    * the shared [[ecdfGrid]]: for a member at value v, the COMBINED
    * doubled midrank 2R = 2(F_a⁻+F_b⁻) + c_a+c_b + 1 and the
    * WITHIN-group doubled midrank 2R_w = 2F_g⁻ + c_g + 1 come off the
    * same cumulative columns, so the group rank means and the
    * placement variances (of R − R_w, the standard BM device) are
    * exact-integer conditional sums (DECIMAL(38,0) — Σc·d² crosses
    * int64 past ~10⁶ rows per type) with one shared double expression
    * per output column. Reports the relative effect
    * p̂ = P(X_b > X_a) + ½P(X_b = X_a) and the studentized statistic.
    *
    * Scale shape: the [[ecdfGrid]] shape — raw scan → bounded value
    * grid → 10× stacked grid → one 10-key aggregate of 6 sums.
    */
  def brunnerMunzel(spark: SparkSession, dir: String): DataFrame = {
    val (phat, stat) = bmExprs("x", "y")
    pairStats(spark, dir, bmSums("x", "y"),
      "CAST(n_x AS BIGINT) AS n_a", "CAST(n_y AS BIGINT) AS n_b",
      s"$phat AS p_hat", s"$stat AS bm_stat")
  }

  /** (sum text, column name) of the per-pair doubled-midrank sums:
    * for each group g of the pair, Σc_g·2R, Σc_g·d and Σc_g·d² with
    * d = 2R − 2R_w (combined minus within-group doubled midrank).
    */
  private def bmSums(a: String, b: String): Seq[(String, String)] = {
    val r2c = s"(2 * ((f_$a - c_$a) + (f_$b - c_$b)) + c_$a + c_$b + 1)"
    def r2w(g: String) = s"(2 * (f_$g - c_$g) + c_$g + 1)"
    Seq(a, b).flatMap { g =>
      val d = s"($r2c - ${r2w(g)})"
      val tag = s"${g}_in_${a}_$b"
      Seq(
        s"sum(CAST(c_$g * $r2c AS DECIMAL(38,0)))" -> s"src_$tag",
        s"sum(CAST(c_$g * $d AS DECIMAL(38,0)))" -> s"sd_$tag",
        // c·d stays BIGINT, then ONE (19,0)×int multiply — width 37,
        // exact on BOTH engines (a (38,0)×int product silently falls
        // back to DOUBLE in DuckDB; see the round-11 width ledger)
        s"sum(CAST(c_$g * $d AS DECIMAL(19,0)) * $d)" -> s"sd2_$tag")
    }
  }

  lazy val brunnerMunzelSql: String = {
    val pairSums = pairSumsSql(bmSums)
    val unions = TypePairs.map { case (a, b) =>
      val (phat, stat) = bmExprs(a, b)
      s"SELECT '$a' AS type_a, '$b' AS type_b, CAST(n_$a AS BIGINT) AS n_a," +
        s" CAST(n_$b AS BIGINT) AS n_b, $phat AS p_hat, $stat AS bm_stat FROM m, t"
    }.mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = true)},
       |m AS (
       |  SELECT
       |    $pairSums
       |  FROM f)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // -------------------------------------------------------- ordinal_gamma_somers

  /** Ordinal association between order PRIORITY (1-URGENT … 5-LOW)
    * and order SIZE (lineitem count, capped at 7): Goodman–Kruskal
    * gamma, Somers' D (size dependent on priority), and Kendall's
    * τ_b — the concordance family for ORDERED categoricals that
    * [[spearmanCorr]]/[[kendallTau]] (numeric series) and
    * [[cramersV]] (nominal, order-blind) both miss: "do more-urgent
    * orders systematically run smaller". Everything reduces to the
    * 5×7 contingency grid: concordant/discordant pair masses are one
    * grid self-join (Σ n_ij·n_kl over strict orderings — each
    * unordered pair counted once), tie masses come off the row/col
    * marginals, all exact integers; the three coefficients are one
    * shared double expression each.
    *
    * Scale shape: one orders⋈lineitem count aggregate → a ≤35-row
    * grid → a 35²-row self-join. Nothing after the first aggregate
    * depends on corpus size.
    */
  def ordinalGammaSomers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val per = t.orders.select(col("o_orderkey"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("pr"))
      .join(t.lineitem.select(col("l_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("pr"))
      .agg(least(count(lit(1)), lit(7L)).as("b"))
    val grid = per.groupBy(col("pr"), col("b")).agg(count(lit(1)).as("n"))
    val g2 = grid.select(col("pr").as("pr2"), col("b").as("b2"), col("n").as("n2"))
    val pairs = grid.crossJoin(broadcast(g2))
      .filter(col("pr2") > col("pr"))
      .agg(
        sum(when(col("b2") > col("b"), expr("CAST(n * n2 AS DECIMAL(38,0))"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("conc"),
        sum(when(col("b2") < col("b"), expr("CAST(n * n2 AS DECIMAL(38,0))"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("disc"))
    val marg = grid.agg(sum(col("n")).as("nn"))
    val rows = grid.groupBy(col("pr")).agg(sum(col("n")).as("r"))
      .agg(sum(expr("CAST(r AS DECIMAL(19,0)) * r")).as("sr2"))
    val cols2 = grid.groupBy(col("b")).agg(sum(col("n")).as("c"))
      .agg(sum(expr("CAST(c AS DECIMAL(19,0)) * c")).as("sc2"))
    pairs.crossJoin(broadcast(marg)).crossJoin(broadcast(rows))
      .crossJoin(broadcast(cols2))
      .selectExpr("CAST(nn AS BIGINT) AS n_orders",
        "CAST(conc AS BIGINT) AS concordant", "CAST(disc AS BIGINT) AS discordant",
        OrdGamma, OrdSomersD, OrdTauB)
  }

  // pair masses: n0 = N(N−1)/2 total, nTx = pairs NOT tied on x
  // = (N² − Σr²)/2, nTy likewise — all from exact marginal moments,
  // combined as doubles in one shared text per coefficient
  private val OrdN0x =
    "((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(sr2 AS DOUBLE)) / CAST(2 AS DOUBLE))"
  private val OrdN0y =
    "((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(sc2 AS DOUBLE)) / CAST(2 AS DOUBLE))"
  private val OrdGamma: String =
    "CASE WHEN CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      "ELSE (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) / (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE)) END AS gamma"
  private val OrdSomersD: String =
    s"CASE WHEN $OrdN0x = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) / $OrdN0x END AS somers_d"
  private val OrdTauB: String =
    s"CASE WHEN $OrdN0x * $OrdN0y <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE)) / sqrt($OrdN0x * $OrdN0y) END AS tau_b"

  lazy val ordinalGammaSomersSql: String =
    s"""WITH per AS (
       |  SELECT o.o_orderkey, CAST(substring(o.o_orderpriority, 1, 1) AS INT) AS pr,
       |    least(count(*), 7) AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |grid AS (SELECT pr, b, CAST(count(*) AS BIGINT) AS n FROM per GROUP BY 1, 2),
       |p AS (
       |  SELECT
       |    sum(CASE WHEN g2.b > g1.b THEN CAST(g1.n * g2.n AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS conc,
       |    sum(CASE WHEN g2.b < g1.b THEN CAST(g1.n * g2.n AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS disc
       |  FROM grid g1 JOIN grid g2 ON g2.pr > g1.pr),
       |m AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM grid),
       |r AS (
       |  SELECT sum(CAST(r AS DECIMAL(19,0)) * r) AS sr2 FROM (
       |    SELECT CAST(sum(n) AS BIGINT) AS r FROM grid GROUP BY pr) z),
       |c AS (
       |  SELECT sum(CAST(c AS DECIMAL(19,0)) * c) AS sc2 FROM (
       |    SELECT CAST(sum(n) AS BIGINT) AS c FROM grid GROUP BY b) z)
       |SELECT CAST(nn AS BIGINT) AS n_orders,
       |  CAST(conc AS BIGINT) AS concordant, CAST(disc AS BIGINT) AS discordant,
       |  $OrdGamma, $OrdSomersD, $OrdTauB
       |FROM p, m, r, c""".stripMargin

  // --------------------------------------------------------------- lepage_test

  /** Lepage location–scale omnibus for every event-type pair:
    * L = z²_Wilcoxon + z²_Ansari-Bradley — "did the distribution move
    * OR change spread", the two-degree-of-freedom screen that catches
    * what a pure location test ([[mannWhitney]]/[[brunnerMunzel]])
    * and a pure dispersion read each miss alone. Both components ride
    * the shared [[ecdfGrid]] with DOUBLED midranks (the
    * [[brunnerMunzel]] device, exact integers under ties): Wilcoxon
    * scores are the combined doubled midranks 2R̄, Ansari–Bradley
    * scores their fold toward the extremes min(2R̄, 2(N+1)−2R̄); each z
    * standardizes by the CONDITIONAL (tie-exact) moments
    * E = n_a·ΣS/N, Var = n_a·n_b·(N·ΣS² − (ΣS)²)/(N²(N−1)) — every
    * sum an exact decimal (Σc·S² via the ONE (19,0)×int multiply of
    * the BM width ledger), one shared double expression per output.
    *
    * Scale shape: the [[ecdfGrid]] shape — raw scan → bounded value
    * grid → 10× stacked grid → one 10-key aggregate of 6 sums.
    */
  def lepageTest(spark: SparkSession, dir: String): DataFrame = {
    val (zw, za) = lepZ("x", "y")
    pairStats(spark, dir, lepSums("x", "y"),
      "CAST(n_x AS BIGINT) AS n_a", "CAST(n_y AS BIGINT) AS n_b",
      s"$zw AS z_wilcoxon", s"$za AS z_ansari",
      s"($zw) * ($zw) + ($za) * ($za) AS lepage_stat")
  }

  /** (sum text, column name) of the six exact per-pair sums: the
    * Wilcoxon and Ansari–Bradley score sums of group a, and the
    * pooled score sums and squared-score sums both z's standardize by.
    */
  private def lepSums(a: String, b: String): Seq[(String, String)] = {
    val (r2, s2) = lepScores(a, b)
    val tag = s"${a}_$b"
    Seq(
      s"sum(CAST(c_$a * $r2 AS DECIMAL(38,0)))" -> s"w_$tag",
      s"sum(CAST(c_$a * $s2 AS DECIMAL(38,0)))" -> s"aa_$tag",
      s"sum(CAST((c_$a + c_$b) * $r2 AS DECIMAL(38,0)))" -> s"tr1_$tag",
      s"sum(CAST((c_$a + c_$b) * $r2 AS DECIMAL(19,0)) * $r2)" -> s"tr2_$tag",
      s"sum(CAST((c_$a + c_$b) * $s2 AS DECIMAL(38,0)))" -> s"us1_$tag",
      s"sum(CAST((c_$a + c_$b) * $s2 AS DECIMAL(19,0)) * $s2)" -> s"us2_$tag")
  }

  /** (doubled combined midrank, doubled Ansari–Bradley score) for the
    * pair's value-grid row — shared text.
    */
  private def lepScores(a: String, b: String): (String, String) = {
    val r2 = s"(2 * ((f_$a - c_$a) + (f_$b - c_$b)) + c_$a + c_$b + 1)"
    (r2, s"least($r2, 2 * (n_$a + n_$b + 1) - $r2)")
  }

  /** (z_Wilcoxon, z_Ansari) — conditional-moment standardizations
    * over the exact pair sums, degenerate variances guarded to 0.
    */
  private def lepZ(a: String, b: String): (String, String) = {
    val tag = s"${a}_$b"
    val nD = s"(CAST(n_$a AS DOUBLE) + CAST(n_$b AS DOUBLE))"
    def z(sum1: String, scoreSum: String, scoreSq: String) = {
      val varr = s"(CAST(n_$a AS DOUBLE) * CAST(n_$b AS DOUBLE)" +
        s" * ($nD * CAST($scoreSq AS DOUBLE) - CAST($scoreSum AS DOUBLE) * CAST($scoreSum AS DOUBLE))" +
        s" / ($nD * $nD * ($nD - CAST(1 AS DOUBLE))))"
      s"(CASE WHEN $varr <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) ELSE " +
        s"(CAST($sum1 AS DOUBLE) - CAST(n_$a AS DOUBLE) * CAST($scoreSum AS DOUBLE) / $nD)" +
        s" / sqrt($varr) END)"
    }
    (z(s"w_$tag", s"tr1_$tag", s"tr2_$tag"),
      z(s"aa_$tag", s"us1_$tag", s"us2_$tag"))
  }

  lazy val lepageTestSql: String = {
    val pairSums = pairSumsSql(lepSums)
    val unions = TypePairs.map { case (a, b) =>
      val (zw, za) = lepZ(a, b)
      s"SELECT '$a' AS type_a, '$b' AS type_b, CAST(n_$a AS BIGINT) AS n_a," +
        s" CAST(n_$b AS BIGINT) AS n_b, $zw AS z_wilcoxon, $za AS z_ansari," +
        s" ($zw) * ($zw) + ($za) * ($za) AS lepage_stat FROM m, t"
    }.mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = true)},
       |m AS (
       |  SELECT
       |    $pairSums
       |  FROM f, t)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // --------------------------------------------------------------- dixon_q_test

  /** Dixon's Q ratios on the monthly revenue series: Q_low =
    * (y₍₂₎−y₍₁₎)/(y₍ₙ₎−y₍₁₎) and Q_high = (y₍ₙ₎−y₍ₙ₋₁₎)/(y₍ₙ₎−y₍₁₎)
    * — the small-sample gap-to-range outlier screen ([[grubbsTest]]
    * asks "how many σ from the mean"; Dixon asks "how detached is
    * the extreme from its NEAREST neighbor", which survives the
    * variance inflation the outlier itself causes). Order statistics
    * from one rank window on the month-bounded frame; ties broken by
    * month id (deterministic); both ratios one guarded double divide
    * over exact BIGINTs.
    *
    * Scale shape: the orders scan reduces to the month-bounded
    * frame before the window — the [[grubbsTest]] shape.
    */
  def dixonQTest(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val w = Window.orderBy(col("y"), col("m"))
    val tot = monthly.agg(count(lit(1)).as("n"))
    val ranked = monthly.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(tot))
    ranked.agg(
        max(col("n")).as("n_months"),
        max(when(col("rn") === 1, col("y"))).as("y1"),
        max(when(col("rn") === 2, col("y"))).as("y2"),
        max(when(col("rn") === col("n") - 1, col("y"))).as("yn1"),
        max(when(col("rn") === col("n"), col("y"))).as("yn"),
        max(when(col("rn") === 1, col("m"))).as("low_month"),
        max(when(col("rn") === col("n"), col("m"))).as("high_month"))
      .selectExpr("CAST(n_months AS BIGINT) AS n_months",
        "CAST(low_month AS BIGINT) AS low_month",
        "CAST(high_month AS BIGINT) AS high_month",
        "CAST(y1 AS BIGINT) AS y_min", "CAST(yn AS BIGINT) AS y_max",
        DixonQLow, DixonQHigh)
  }

  private val DixonRange = "(CAST(yn AS DOUBLE) - CAST(y1 AS DOUBLE))"
  private val DixonQLow: String =
    s"CASE WHEN $DixonRange <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(y2 AS DOUBLE) - CAST(y1 AS DOUBLE)) / $DixonRange END AS q_low"
  private val DixonQHigh: String =
    s"CASE WHEN $DixonRange <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE (CAST(yn AS DOUBLE) - CAST(yn1 AS DOUBLE)) / $DixonRange END AS q_high"

  // ------------------------------------------------------------- white_test

  /** White's heteroskedasticity test on the monthly revenue trend:
    * fit y = a + b·t (the [[durbinWatson]] integer-residual
    * convention), then the auxiliary regression of the squared
    * residuals on (1, t, t²); the statistic is n·R²_aux (χ²₂ under
    * homoskedasticity, 5% cut 5.99) — the quadratic generalization of
    * [[breuschPagan]] (BP sees only variance LINEAR in t; White also
    * catches the U-shaped "variance grows at both ends" pattern a
    * seasonal business produces). Squared residuals are floor-scaled
    * to /10⁴ units so EVERY decimal→double cast stays under the 2^53
    * ledger (documented semantics — the scaling is deterministic and
    * identical on both engines); the auxiliary R² comes closed-form
    * from centered exact moments via the 2×2 Cramer solve (the
    * [[adfTest]] determinant pattern), one shared text.
    *
    * Scale shape: orders → month-bounded frame, one moment pass for
    * the line, one for the auxiliary moments — two single-row
    * aggregates on a bounded frame.
    */
  def whiteTest(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val base = monthly
      .withColumn("m0", min(col("m")).over(Window.partitionBy()))
      .withColumn("x", expr("CAST(m - m0 AS BIGINT)"))
    val fit = base.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
    val resid = base.crossJoin(broadcast(fit))
      .withColumn("e", expr(DwResid))
      .withColumn("u", expr("(e * e) div 10000"))
    resid.agg(max(col("n")).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("wx"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("wxx"),
        sum(expr("CAST(x * x * x AS DECIMAL(38,0))")).as("wx3"),
        sum(expr("CAST(x * x * x * x AS DECIMAL(38,0))")).as("wx4"),
        sum(expr("CAST(u AS DECIMAL(38,0))")).as("su"),
        sum(expr("CAST(u * x AS DECIMAL(38,0))")).as("sux"),
        sum(expr("CAST(u * x * x AS DECIMAL(38,0))")).as("sux2"),
        sum(expr("CAST(u AS DECIMAL(19,0)) * u")).as("suu"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        s"$WhiteR2 AS r2_aux",
        s"CAST(n AS DOUBLE) * ($WhiteR2) AS white_stat",
        s"CASE WHEN CAST(n AS DOUBLE) * ($WhiteR2) > CAST(5.99 AS DOUBLE) THEN 1 ELSE 0 END AS heteroskedastic")
  }

  /** Auxiliary-regression R² from centered moments via the 2×2
    * Cramer solve — guarded to 0 on degenerate determinant/SST.
    */
  private lazy val WhiteR2: String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val nD = d("n")
    val s11 = s"(${d("wxx")} - ${d("wx")} * ${d("wx")} / $nD)"
    val s12 = s"(${d("wx3")} - ${d("wx")} * ${d("wxx")} / $nD)"
    val s22 = s"(${d("wx4")} - ${d("wxx")} * ${d("wxx")} / $nD)"
    val s1u = s"(${d("sux")} - ${d("wx")} * ${d("su")} / $nD)"
    val s2u = s"(${d("sux2")} - ${d("wxx")} * ${d("su")} / $nD)"
    val ssu = s"(${d("suu")} - ${d("su")} * ${d("su")} / $nD)"
    val det = s"($s11 * $s22 - $s12 * $s12)"
    val expl = s"((($s1u * $s22 - $s2u * $s12) * $s1u + ($s2u * $s11 - $s1u * $s12) * $s2u) / $det)"
    s"(CASE WHEN $det = CAST(0 AS DOUBLE) OR $ssu <= CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE $expl / $ssu END)"
  }

  lazy val whiteTestSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT m, y, CAST(m - min(m) OVER () AS BIGINT) AS x FROM monthly),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM base),
       |resid AS (
       |  SELECT base.*, fit.*, $DwResid AS e, (($DwResid) * ($DwResid)) // 10000 AS u
       |  FROM base, fit),
       |agg AS (
       |  SELECT max(n) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS wx,
       |    sum(CAST(x * x AS DECIMAL(38,0))) AS wxx,
       |    sum(CAST(x * x * x AS DECIMAL(38,0))) AS wx3,
       |    sum(CAST(x * x * x * x AS DECIMAL(38,0))) AS wx4,
       |    sum(CAST(u AS DECIMAL(38,0))) AS su,
       |    sum(CAST(u * x AS DECIMAL(38,0))) AS sux,
       |    sum(CAST(u * x * x AS DECIMAL(38,0))) AS sux2,
       |    sum(CAST(u AS DECIMAL(19,0)) * u) AS suu
       |  FROM resid)
       |SELECT CAST(n AS BIGINT) AS n_months,
       |  $WhiteR2 AS r2_aux,
       |  CAST(n AS DOUBLE) * ($WhiteR2) AS white_stat,
       |  CASE WHEN CAST(n AS DOUBLE) * ($WhiteR2) > CAST(5.99 AS DOUBLE) THEN 1 ELSE 0 END AS heteroskedastic
       |FROM agg""".stripMargin

  // -------------------------------------------------------- tost_equivalence

  /** TOST equivalence screen (two one-sided Welch tests) for every
    * event-type pair: the margin is 10% of the pair's pooled mean —
    * "are these two value distributions the SAME for practical
    * purposes", the question [[welchTTest]]'s difference test cannot
    * answer (failing to reject ≠ equivalent). t_lower tests
    * diff > −δ, t_upper tests diff < +δ; both must clear the large-n
    * 5% one-sided normal cut (1.645 — df is in the hundreds at every
    * SF, documented) to declare equivalence. Same exact cent-quantized
    * moment frame as Welch, two shared-text statistics per pair.
    *
    * Scale shape: ONE conditional-moment aggregate row over the
    * events scan ([[pairMoments]]), stacked to one row per pair.
    */
  def tostEquivalence(spark: SparkSession, dir: String): DataFrame = {
    val (diff, marg, tl, tu) = tostExprs("x", "y")
    pairMoments(spark, dir).selectExpr("type_a", "type_b",
        s"$diff AS mean_diff", s"$marg AS margin", s"$tl AS t_lower", s"$tu AS t_upper",
        s"CASE WHEN $tl > CAST(1.645 AS DOUBLE) AND $tu < CAST(-1.645 AS DOUBLE) THEN 1 ELSE 0 END" +
          " AS equivalent")
      .orderBy("type_a", "type_b")
  }

  /** (diff, margin, t_lower, t_upper) — shared text over the Welch
    * moment row; margin = 0.1·pooled mean of the two groups.
    */
  private def tostExprs(a: String, b: String): (String, String, String, String) = {
    val diff = s"(${meanExpr(a)} - ${meanExpr(b)})"
    val marg = s"(CAST(0.1 AS DOUBLE) * abs((CAST(s_$a AS DOUBLE) + CAST(s_$b AS DOUBLE)) / (CAST(n_$a AS DOUBLE) + CAST(n_$b AS DOUBLE))))"
    val se = s"sqrt(${varOverNExpr(a)} + ${varOverNExpr(b)})"
    (diff, marg, s"(($diff + $marg) / $se)", s"(($diff - $marg) / $se)")
  }

  lazy val tostEquivalenceSql: String = {
    val mSums = EventTypes.flatMap { t =>
      Seq(s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t",
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_$t",
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS ss_$t")
    }.mkString(",\n    ")
    val rows = TypePairs.map { case (a, b) =>
      val (diff, marg, tl, tu) = tostExprs(a, b)
      s"""SELECT '$a' AS type_a, '$b' AS type_b, $diff AS mean_diff,
         |  $marg AS margin, $tl AS t_lower, $tu AS t_upper,
         |  CASE WHEN $tl > CAST(1.645 AS DOUBLE) AND $tu < CAST(-1.645 AS DOUBLE) THEN 1 ELSE 0 END AS equivalent
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT
       |    $mSums
       |  FROM events)
       |$rows
       |ORDER BY type_a, type_b""".stripMargin
  }

  lazy val dixonQTestSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |r AS (
       |  SELECT m, y, row_number() OVER (ORDER BY y, m) AS rn,
       |    (SELECT count(*) FROM monthly) AS n
       |  FROM monthly),
       |s AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n_months,
       |    CAST(max(CASE WHEN rn = 1 THEN y END) AS BIGINT) AS y1,
       |    CAST(max(CASE WHEN rn = 2 THEN y END) AS BIGINT) AS y2,
       |    CAST(max(CASE WHEN rn = n - 1 THEN y END) AS BIGINT) AS yn1,
       |    CAST(max(CASE WHEN rn = n THEN y END) AS BIGINT) AS yn,
       |    CAST(max(CASE WHEN rn = 1 THEN m END) AS BIGINT) AS low_month,
       |    CAST(max(CASE WHEN rn = n THEN m END) AS BIGINT) AS high_month
       |  FROM r)
       |SELECT n_months, low_month, high_month, y1 AS y_min, yn AS y_max,
       |  $DixonQLow, $DixonQHigh
       |FROM s""".stripMargin

  // ------------------------------------------------------------------ sign_test

  private val SignZ: String =
    "(CASE WHEN np + nm = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(np - nm AS DOUBLE) / sqrt(CAST(np + nm AS DOUBLE)) END)"

  /** Paired sign test on per-customer order activity across the two
    * halves of the order-date range (the [[cupedAdjustment]] midpoint
    * split): did MORE customers grow their order count than shrink
    * it? The distribution-free paired companion to
    * [[wilcoxonSignedRank]] (which needs rankable magnitudes) and
    * [[mcnemarTest]] (binary response): only the SIGN of each
    * customer's second-half − first-half count enters, ties drop out,
    * z = (n⁺ − n⁻)/√(n⁺ + n⁻). Everything is exact integer counting;
    * z is one guarded expression.
    *
    * Scale shape: one conditional-count pass to the customer grain,
    * one 3-counter aggregate to a single row. No window, no join.
    */
  def signTest(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dated = t.orders.select(col("o_custkey"),
      col("o_orderdate").cast("date").as("od"))
    val mid = dated.agg(min(col("od")).as("lo"), max(col("od")).as("hi"))
      .select(expr("date_add(lo, CAST(datediff(hi, lo) / 2 AS INT))").as("mid"))
    val per = dated.crossJoin(broadcast(mid))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("od") < col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("od") >= col("mid"), 1L).otherwise(0L)).as("y"))
    per.agg(count(lit(1)).as("n"),
        sum(when(col("y") > col("x"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y") < col("x"), 1L).otherwise(0L)).as("nm"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        "CAST(np AS BIGINT) AS n_pos", "CAST(nm AS BIGINT) AS n_neg",
        "CAST(n - np - nm AS BIGINT) AS n_tie",
        s"$SignZ AS z_stat",
        s"CASE WHEN abs($SignZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  val signTestSql: String =
    s"""WITH dated AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders),
       |m AS (SELECT min(od) + CAST((max(od) - min(od)) // 2 AS INTEGER) AS mid FROM dated),
       |per AS (
       |  SELECT o_custkey,
       |    CAST(sum(CASE WHEN od < mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN od >= mid THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM dated, m GROUP BY 1),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT) AS nm
       |  FROM per)
       |SELECT n AS n_customers, np AS n_pos, nm AS n_neg,
       |  CAST(n - np - nm AS BIGINT) AS n_tie,
       |  $SignZ AS z_stat,
       |  CASE WHEN abs($SignZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ------------------------------------------------------------------ cochran_q

  /** Cochran's Q over k = 3 equal date terciles: "was customer i
    * active in tercile j" is a binary repeated measure, and Q tests
    * whether the three activity rates are homogeneous — the k-sample
    * extension of [[mcnemarTest]] (k = 2 reduces to it) that
    * [[friedmanTest]] gives for ORDINAL responses. Q = (k−1)·(k·ΣC_j²
    * − (ΣC_j)²)/(k·ΣR_i − ΣR_i²) from exact integer row/column sums
    * of the 0/1 incidence (C_j = tercile activity counts, R_i =
    * per-customer tercile counts); rows at R_i ∈ {0, k} cancel from
    * both numerator variance and denominator, so including every
    * ordering customer is the textbook form.
    *
    * Scale shape: tercile index is pure integer arithmetic on the
    * order day; one max-pivot to the customer grain, one 5-moment
    * aggregate to a single row. All moments < 2⁵³ through ~10⁹
    * customers (C_j² at 10⁹ rows is 10¹⁸ — hold C_j as the exact
    * (19,0)-decimal square and the cast splits stay per-moment).
    */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val days = t.orders.select(col("o_custkey"), expr(
      "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1990-01-01') AS BIGINT)").as("day"))
    val span = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val banded = days.crossJoin(broadcast(span))
      .withColumn("b", expr("CAST((day - lo) * 3 div (hi - lo + 1) AS INT)"))
    val per = banded.groupBy(col("o_custkey"))
      .agg(max(when(col("b") === 0, 1L).otherwise(0L)).as("x0"),
        max(when(col("b") === 1, 1L).otherwise(0L)).as("x1"),
        max(when(col("b") === 2, 1L).otherwise(0L)).as("x2"))
    per.agg(count(lit(1)).as("n"),
        sum(col("x0")).as("c0"), sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
        sum(col("x0") + col("x1") + col("x2")).as("sr"),
        sum((col("x0") + col("x1") + col("x2")) *
          (col("x0") + col("x1") + col("x2"))).as("sr2"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        "CAST(c0 AS BIGINT) AS n_active_t0", "CAST(c1 AS BIGINT) AS n_active_t1",
        "CAST(c2 AS BIGINT) AS n_active_t2",
        s"$CochranQExpr AS q_stat",
        "CAST(2 AS BIGINT) AS df",
        s"CASE WHEN $CochranQExpr > CAST(5.991 AS DOUBLE) THEN 1 ELSE 0 END AS significant")
  }

  private val CochranQExpr: String =
    "(CASE WHEN 3 * sr - sr2 = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      "CAST(2 AS DOUBLE) * (CAST(3 AS DOUBLE) * " +
      "(CAST(c0 AS DOUBLE) * CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)" +
      " + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE))" +
      " - (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE))" +
      " * (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE) + CAST(c2 AS DOUBLE)))" +
      " / CAST(3 * sr - sr2 AS DOUBLE) END)"

  val cochranQSql: String =
    s"""WITH days AS (
       |  SELECT o_custkey,
       |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
       |  FROM orders),
       |span AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
       |banded AS (
       |  SELECT o_custkey, CAST((day - lo) * 3 // (hi - lo + 1) AS INTEGER) AS b
       |  FROM days, span),
       |per AS (
       |  SELECT o_custkey,
       |    CAST(max(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x0,
       |    CAST(max(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
       |    CAST(max(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS x2
       |  FROM banded GROUP BY 1),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x0) AS BIGINT) AS c0, CAST(sum(x1) AS BIGINT) AS c1,
       |    CAST(sum(x2) AS BIGINT) AS c2,
       |    CAST(sum(x0 + x1 + x2) AS BIGINT) AS sr,
       |    CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS sr2
       |  FROM per)
       |SELECT n AS n_customers, c0 AS n_active_t0, c1 AS n_active_t1,
       |  c2 AS n_active_t2,
       |  $CochranQExpr AS q_stat,
       |  CAST(2 AS BIGINT) AS df,
       |  CASE WHEN $CochranQExpr > CAST(5.991 AS DOUBLE) THEN 1 ELSE 0 END AS significant
       |FROM agg""".stripMargin

  // ----------------------------------------------------------------- bowker_test

  private val BowkerPairs: Seq[(Int, Int)] =
    for { i <- 0 to 4; j <- (i + 1) to 4 } yield (i, j)

  private def bowkerTermExpr(i: Int, j: Int): String =
    s"(CASE WHEN n_${i}_$j + n_${j}_$i = 0 THEN CAST(0 AS DOUBLE) " +
      s"ELSE CAST((n_${i}_$j - n_${j}_$i) * (n_${i}_$j - n_${j}_$i) AS DOUBLE)" +
      s" / CAST(n_${i}_$j + n_${j}_$i AS DOUBLE) END)"

  private val BowkerStatExpr: String =
    BowkerPairs.map { case (i, j) => bowkerTermExpr(i, j) }.mkString("(", " + ", ")")

  /** Bowker's test of marginal homogeneity on the `segment_migration`
    * transition matrix (SAME segment definition — Reports shares the
    * frame builder): are up-moves between value quartiles mirrored by
    * down-moves, cell by cell? χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij +
    * n_ji) — the k×k generalization of [[mcnemarTest]] (k = 2 is
    * exactly it), detecting DIRECTED migration drift that the
    * matrix's row shares can't test. The 10 cell pairs fold in one
    * fixed-order expression (IEEE-identical both engines); df counts
    * the non-empty pairs.
    *
    * Scale shape: inherits segment_migration's distributed quartile
    * rank (two-level prefix sum, no unpartitioned window); the pair
    * fold is one 20-counter aggregate over the customer-grain frame.
    */
  def bowkerTest(spark: SparkSession, dir: String): DataFrame = {
    val seg = Reports.segmentPairFrame(spark, dir)
    val cellCols = BowkerPairs.flatMap { case (i, j) => Seq(
      sum(when(col("seg_a") === i && col("seg_b") === j, 1L).otherwise(0L))
        .as(s"n_${i}_$j"),
      sum(when(col("seg_a") === j && col("seg_b") === i, 1L).otherwise(0L))
        .as(s"n_${j}_$i")) }
    val dfExpr = BowkerPairs
      .map { case (i, j) => s"CASE WHEN n_${i}_$j + n_${j}_$i > 0 THEN 1 ELSE 0 END" }
      .mkString("(", " + ", ")")
    val aggCols = count(lit(1)).as("n") +: cellCols
    seg.agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        s"CAST($dfExpr AS BIGINT) AS df",
        s"$BowkerStatExpr AS bowker_stat")
  }

  lazy val bowkerTestSql: String = {
    val cellSums = BowkerPairs.flatMap { case (i, j) => Seq(
      s"CAST(sum(CASE WHEN seg_a = $i AND seg_b = $j THEN 1 ELSE 0 END) AS BIGINT) AS n_${i}_$j",
      s"CAST(sum(CASE WHEN seg_a = $j AND seg_b = $i THEN 1 ELSE 0 END) AS BIGINT) AS n_${j}_$i") }
      .mkString(",\n    ")
    val dfExpr = BowkerPairs
      .map { case (i, j) => s"CASE WHEN n_${i}_$j + n_${j}_$i > 0 THEN 1 ELSE 0 END" }
      .mkString("(", " + ", ")")
    s"""WITH ${Reports.segmentPairSqlCtes},
       |cells AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    $cellSums
       |  FROM seg)
       |SELECT n AS n_customers,
       |  CAST($dfExpr AS BIGINT) AS df,
       |  $BowkerStatExpr AS bowker_stat
       |FROM cells""".stripMargin
  }

  // ----------------------------------------------------------- cramer_von_mises

  /** The pair statistic from the three exact grid moments: with d_v =
    * n_b·F_a(v) − n_a·F_b(v), Σ w_v·d_v² expands to n_b²·A − 2n_a n_b
    * ·B + n_a²·C (A = Σw·F_a², B = Σw·F_a F_b, C = Σw·F_b²), and T =
    * that over n_a·n_b·N². Moments combine as INDIVIDUALLY-cast
    * doubles (the [[cupedAdjustment]] convention) in one shared text.
    */
  private def cvmExpr(a: String, b: String): String = {
    val nn = s"(CAST(n_$a AS DOUBLE) + CAST(n_$b AS DOUBLE))"
    s"((CAST(n_$b AS DOUBLE) * CAST(n_$b AS DOUBLE) * CAST(ma_${a}_$b AS DOUBLE)" +
      s" - CAST(2 AS DOUBLE) * CAST(n_$a AS DOUBLE) * CAST(n_$b AS DOUBLE) * CAST(mb_${a}_$b AS DOUBLE)" +
      s" + CAST(n_$a AS DOUBLE) * CAST(n_$a AS DOUBLE) * CAST(mc_${a}_$b AS DOUBLE))" +
      s" / (CAST(n_$a AS DOUBLE) * CAST(n_$b AS DOUBLE) * $nn * $nn))"
  }

  /** Two-sample Cramér–von Mises T for every event-type pair over the
    * `value` grid: T = n_a n_b/N² · Σ_v w_v·(F̂_a(v) − F̂_b(v))², the
    * INTEGRATED-squared companion to [[ksTest]]'s sup-norm D and
    * [[kuiperTest]]'s V (a distribution that drifts a little
    * everywhere moves T while barely moving D; pooled point mass w_v
    * weights the grid exactly as ranks would). Same shared
    * [[ecdfGrid]]; the squared-difference integral reduces to three
    * exact decimal moments per pair — see [[cvmExpr]] for the width
    * discipline.
    *
    * Scale shape: the [[ecdfGrid]] shape — raw scan → bounded grid →
    * 10× stacked grid → one 10-key aggregate of 3 moments. Per-row
    * products stay ≤ (19,0)×int (exact to ~10⁹ rows/type); the moment
    * sums are exact decimals at any scale.
    */
  def cramerVonMises(spark: SparkSession, dir: String): DataFrame =
    pairStats(spark, dir, cvmSums("x", "y"),
      "CAST(n_x AS BIGINT) AS n_a", "CAST(n_y AS BIGINT) AS n_b",
      s"${cvmExpr("x", "y")} AS cvm_stat")

  /** (sum text, column name) of the three exact grid moments A, B, C. */
  private def cvmSums(a: String, b: String): Seq[(String, String)] = Seq(
    s"sum(CAST((c_$a + c_$b) * f_$a AS DECIMAL(19,0)) * f_$a)" -> s"ma_${a}_$b",
    s"sum(CAST((c_$a + c_$b) * f_$a AS DECIMAL(19,0)) * f_$b)" -> s"mb_${a}_$b",
    s"sum(CAST((c_$a + c_$b) * f_$b AS DECIMAL(19,0)) * f_$b)" -> s"mc_${a}_$b")

  lazy val cramerVonMisesSql: String = {
    val momSums = pairSumsSql(cvmSums)
    val unions = TypePairs.map { case (a, b) =>
      s"SELECT '$a' AS type_a, '$b' AS type_b, CAST(n_$a AS BIGINT) AS n_a," +
        s" CAST(n_$b AS BIGINT) AS n_b, ${cvmExpr(a, b)} AS cvm_stat FROM m, t" }
      .mkString("\nUNION ALL ")
    s"""WITH ${ecdfGridSqlCtes(withCounts = true)},
       |m AS (
       |  SELECT
       |    $momSums
       |  FROM f)
       |$unions
       |ORDER BY type_a, type_b""".stripMargin
  }

  // --------------------------------------------------------------------- theil_u

  /** Theil's uncertainty coefficient between customer market segment
    * and order priority: U(R|C) = (H(R) + H(C) − H(R,C))/H(R) — the
    * DIRECTED, [0,1]-normalized association that [[cramersV]]
    * (symmetric, χ²-based) and the raw mutual information (unbounded)
    * both miss: "knowing the priority removes what share of the
    * segment's entropy", and the reverse need not match. All three
    * entropies ride the shannon_entropy_profile discipline: exact
    * cell counts, [[graft.functions.ExactLn]] for the engine-stable
    * ln, per-cell contributions rounded at 9 dp into an exact decimal
    * sum (order-independent on both engines).
    *
    * Scale shape: one orders⋈customer conditional-count pass to the
    * ≤25-cell contingency grid; everything after is grid-sized.
    */
  def theilU(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val t = Tables(spark, dir)
    val cells = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("r"), col("o_orderpriority").as("cc"))
      .agg(count(lit(1)).as("nc"))
    val cellsC = graft.core.OwnedCaches.own(cells.cache())
    def entropy(counts: DataFrame, out: String): DataFrame =
      counts.withColumn("n", sum(col("c")).over(Window.partitionBy()))
        .withColumn("p", expr("CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("__y", expr(ExactLn.yExpr("p")))
        .withColumn("__z", expr(ExactLn.zExpr("__y")))
        .withColumn("contrib", expr(s"-(p * ${ExactLn.lnExpr("__z")})"))
        .agg(sum(expr("CAST(round(contrib, 9) AS DECIMAL(18,9))")).as(out))
    val hj = entropy(cellsC.select(col("nc").as("c")), "hj")
    val hr = entropy(cellsC.groupBy(col("r")).agg(sum(col("nc")).as("c")), "hr")
    val hc = entropy(cellsC.groupBy(col("cc")).agg(sum(col("nc")).as("c")), "hc")
    val n = cellsC.agg(sum(col("nc")).as("n_orders"))
    n.crossJoin(broadcast(hr)).crossJoin(broadcast(hc)).crossJoin(broadcast(hj))
      .selectExpr("CAST(n_orders AS BIGINT) AS n_orders",
        "CAST(hr AS DOUBLE) AS h_segment", "CAST(hc AS DOUBLE) AS h_priority",
        "CAST(hj AS DOUBLE) AS h_joint",
        s"$TheilUSeg AS u_segment_given_priority",
        s"$TheilUPri AS u_priority_given_segment",
        s"$TheilUSym AS u_symmetric")
  }

  private val TheilMi =
    "(CAST(hr AS DOUBLE) + CAST(hc AS DOUBLE) - CAST(hj AS DOUBLE))"
  private val TheilUSeg: String =
    s"CASE WHEN CAST(hr AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE $TheilMi / CAST(hr AS DOUBLE) END"
  private val TheilUPri: String =
    s"CASE WHEN CAST(hc AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE $TheilMi / CAST(hc AS DOUBLE) END"
  private val TheilUSym: String =
    s"CASE WHEN CAST(hr AS DOUBLE) + CAST(hc AS DOUBLE) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
      s"ELSE CAST(2 AS DOUBLE) * $TheilMi / (CAST(hr AS DOUBLE) + CAST(hc AS DOUBLE)) END"

  lazy val theilUSql: String = {
    import graft.functions.ExactLn
    def ent(src: String, pre: String, out: String): String =
      s"""${pre}p AS (
         |  SELECT CAST(c AS DOUBLE) / CAST(sum(c) OVER () AS DOUBLE) AS p FROM $src),
         |${pre}z AS (SELECT p, ${ExactLn.zExpr(ExactLn.yExpr("p"))} AS __z FROM ${pre}p),
         |${pre}x AS (SELECT -(p * ${ExactLn.lnExpr("__z")}) AS contrib FROM ${pre}z),
         |${pre}h AS (SELECT sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) AS $out FROM ${pre}x)""".stripMargin
    s"""WITH cells AS (
       |  SELECT c_mktsegment AS r, o_orderpriority AS cc, CAST(count(*) AS BIGINT) AS nc
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |jc AS (SELECT nc AS c FROM cells),
       |rc AS (SELECT CAST(sum(nc) AS BIGINT) AS c FROM cells GROUP BY r),
       |ccx AS (SELECT CAST(sum(nc) AS BIGINT) AS c FROM cells GROUP BY cc),
       |${ent("jc", "j", "hj")},
       |${ent("rc", "r", "hr")},
       |${ent("ccx", "c", "hc")},
       |nt AS (SELECT CAST(sum(nc) AS BIGINT) AS n_orders FROM cells)
       |SELECT n_orders,
       |  CAST(hr AS DOUBLE) AS h_segment, CAST(hc AS DOUBLE) AS h_priority,
       |  CAST(hj AS DOUBLE) AS h_joint,
       |  $TheilUSeg AS u_segment_given_priority,
       |  $TheilUPri AS u_priority_given_segment,
       |  $TheilUSym AS u_symmetric
       |FROM nt, rh, ch, jh""".stripMargin
  }

  // ------------------------------------------------- goodman_kruskal_lambda

  /** Goodman–Kruskal λ on the same segment × priority grid as
    * [[theilU]]: the proportional-reduction-in-error of guessing one
    * margin's MODE once the other is known — λ(R|C) = (Σ_c max_r n_rc
    * − max_r n_r·)/(N − max_r n_r·), directional like Theil's U but
    * mode-based (a column that reshuffles probability WITHOUT moving
    * any cell past the modal row leaves λ at 0 while U moves — the
    * two disagreeing is itself the diagnostic). Pure integer maxima
    * and sums; two guarded divisions at the end.
    *
    * Scale shape: identical to [[theilU]] — one pass to the ≤25-cell
    * grid, then grid-sized maxima.
    */
  def goodmanKruskalLambda(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cells = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("r"), col("o_orderpriority").as("cc"))
      .agg(count(lit(1)).as("nc"))
    val cellsC = graft.core.OwnedCaches.own(cells.cache())
    val sMaxPerCol = cellsC.groupBy(col("cc")).agg(max(col("nc")).as("m"))
      .agg(sum(col("m")).as("smax_c"))
    val sMaxPerRow = cellsC.groupBy(col("r")).agg(max(col("nc")).as("m"))
      .agg(sum(col("m")).as("smax_r"))
    val maxRowMargin = cellsC.groupBy(col("r")).agg(sum(col("nc")).as("s"))
      .agg(max(col("s")).as("max_r"))
    val maxColMargin = cellsC.groupBy(col("cc")).agg(sum(col("nc")).as("s"))
      .agg(max(col("s")).as("max_c"))
    val n = cellsC.agg(sum(col("nc")).as("n_orders"))
    n.crossJoin(broadcast(sMaxPerCol)).crossJoin(broadcast(sMaxPerRow))
      .crossJoin(broadcast(maxRowMargin)).crossJoin(broadcast(maxColMargin))
      .selectExpr("CAST(n_orders AS BIGINT) AS n_orders",
        "CAST(smax_c AS BIGINT) AS sum_modal_by_priority",
        "CAST(smax_r AS BIGINT) AS sum_modal_by_segment",
        s"$GkLambdaSeg AS lambda_segment_given_priority",
        s"$GkLambdaPri AS lambda_priority_given_segment")
  }

  private val GkLambdaSeg: String =
    "CASE WHEN n_orders = max_r THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(smax_c - max_r AS DOUBLE) / CAST(n_orders - max_r AS DOUBLE) END"
  private val GkLambdaPri: String =
    "CASE WHEN n_orders = max_c THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(smax_r - max_c AS DOUBLE) / CAST(n_orders - max_c AS DOUBLE) END"

  lazy val goodmanKruskalLambdaSql: String =
    s"""WITH cells AS (
       |  SELECT c_mktsegment AS r, o_orderpriority AS cc, CAST(count(*) AS BIGINT) AS nc
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |a AS (SELECT CAST(sum(m) AS BIGINT) AS smax_c FROM (
       |  SELECT max(nc) AS m FROM cells GROUP BY cc) z),
       |b AS (SELECT CAST(sum(m) AS BIGINT) AS smax_r FROM (
       |  SELECT max(nc) AS m FROM cells GROUP BY r) z),
       |c AS (SELECT CAST(max(s) AS BIGINT) AS max_r FROM (
       |  SELECT sum(nc) AS s FROM cells GROUP BY r) z),
       |d AS (SELECT CAST(max(s) AS BIGINT) AS max_c FROM (
       |  SELECT sum(nc) AS s FROM cells GROUP BY cc) z),
       |nt AS (SELECT CAST(sum(nc) AS BIGINT) AS n_orders FROM cells)
       |SELECT n_orders, smax_c AS sum_modal_by_priority,
       |  smax_r AS sum_modal_by_segment,
       |  $GkLambdaSeg AS lambda_segment_given_priority,
       |  $GkLambdaPri AS lambda_priority_given_segment
       |FROM nt, a, b, c, d""".stripMargin

  // ------------------------------------------------- transition_reciprocity

  private val OrderedTypePairs: Seq[(String, String)] =
    for { a <- EventTypes; b <- EventTypes if a != b } yield (a, b)

  /** Weighted reciprocity of the [[markovTransitions]] digraph (SAME
    * transition definition — per-user lead over (ts, event_id)): of
    * the off-diagonal transition mass, what share is matched by the
    * REVERSE transition? ρ = Σ_{i≠j} min(n_ij, n_ji) / Σ_{i≠j} n_ij —
    * 1 for a fully bidirectional flow, → 0 for a one-way funnel. The
    * digraph-level summary the row-normalized transition matrix
    * hides (row shares can look symmetric while the raw masses are
    * wildly unbalanced). The 20 directed cells pivot into one
    * fixed-order conditional aggregate; min/sums are exact integers.
    *
    * Scale shape: one per-user lead window (the sessionize shape:
    * partitioned by user, never global), one 20-counter aggregate to
    * a single row.
    */
  def transitionReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val trans = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val cellCols = OrderedTypePairs.map { case (a, b) =>
      sum(when(col("event_type") === a && col("next_type") === b, 1L)
        .otherwise(0L)).as(s"n_${a}_$b") } ++ Seq(
      count(lit(1)).as("n_total"),
      sum(when(col("event_type") === col("next_type"), 1L).otherwise(0L)).as("n_self"))
    trans.agg(cellCols.head, cellCols.tail: _*)
      .selectExpr("CAST(n_total AS BIGINT) AS n_transitions",
        "CAST(n_self AS BIGINT) AS n_self",
        s"CAST($RecipOffdiag AS BIGINT) AS n_offdiag",
        s"CAST($RecipMatched AS BIGINT) AS n_matched",
        s"$RecipRho AS reciprocity")
  }

  private val RecipOffdiag: String =
    OrderedTypePairs.map { case (a, b) => s"n_${a}_$b" }.mkString("(", " + ", ")")
  // each unordered pair contributes min twice (once per direction)
  private val RecipMatched: String =
    TypePairs.map { case (a, b) => s"2 * least(n_${a}_$b, n_${b}_$a)" }
      .mkString("(", " + ", ")")
  private val RecipRho: String =
    s"(CASE WHEN $RecipOffdiag = 0 THEN CAST(0 AS DOUBLE) " +
      s"ELSE CAST($RecipMatched AS DOUBLE) / CAST($RecipOffdiag AS DOUBLE) END)"

  lazy val transitionReciprocitySql: String = {
    val cellSums = (OrderedTypePairs.map { case (a, b) =>
      s"CAST(sum(CASE WHEN event_type = '$a' AND next_type = '$b' THEN 1 ELSE 0 END) AS BIGINT) AS n_${a}_$b" } ++ Seq(
      "CAST(count(*) AS BIGINT) AS n_total",
      "CAST(sum(CASE WHEN event_type = next_type THEN 1 ELSE 0 END) AS BIGINT) AS n_self"))
      .mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |m AS (
       |  SELECT
       |    $cellSums
       |  FROM e WHERE next_type IS NOT NULL)
       |SELECT n_total AS n_transitions, n_self,
       |  CAST($RecipOffdiag AS BIGINT) AS n_offdiag,
       |  CAST($RecipMatched AS BIGINT) AS n_matched,
       |  $RecipRho AS reciprocity
       |FROM m""".stripMargin
  }

  // --------------------------------------------------- permutation_entropy

  /** ln(6) to 15 significant digits as a shared literal — the
    * [[BenfordExpr]] convention (both engines parse it to the same
    * double; no libm log in either plan).
    */
  private val Ln6Literal = "CAST(1.79175946922805 AS DOUBLE)"

  /** Permutation entropy (order m = 3) of the monthly revenue series:
    * the complexity measure that reads ONLY the ordinal pattern of
    * each 3-month window — a monotone series scores 0, white noise
    * ln 6 — complementing [[hurstExponent]] (memory) and
    * [[turningPointTest]] (count of local extrema) with a full
    * pattern DISTRIBUTION. Ranks use the earlier-wins tie rule
    * ((y,t) lexicographic, so every window maps to exactly one of
    * the 6 patterns by integer comparisons); pattern counts are
    * exact, H = Σ −p·ln p via [[graft.functions.ExactLn]] with the
    * 9-dp decimal contribution sums.
    *
    * Scale shape: the monthly aggregate is domain-bounded (≤ a few
    * hundred rows at any corpus size); the lead window and entropy
    * run on that bounded frame.
    */
  def permutationEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val wm = Window.orderBy("m")
    val tri = monthly
      .withColumn("y2", lead(col("y"), 1).over(wm))
      .withColumn("y3", lead(col("y"), 2).over(wm))
      .filter(col("y3").isNotNull)
    val pat = tri.selectExpr(s"($PermRank1 * 9 + $PermRank2 * 3 + $PermRank3) AS pattern")
      .groupBy(col("pattern")).agg(count(lit(1)).as("c"))
    val ent = pat
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("p", expr("CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("__y", expr(ExactLn.yExpr("p")))
      .withColumn("__z", expr(ExactLn.zExpr("__y")))
      .withColumn("contrib", expr(s"-(p * ${ExactLn.lnExpr("__z")})"))
      .agg(max(col("n")).as("n_windows"), count(lit(1)).as("n_patterns"),
        sum(expr("CAST(round(contrib, 9) AS DECIMAL(18,9))")).as("h"))
    ent.selectExpr("CAST(n_windows AS BIGINT) AS n_windows",
      "CAST(n_patterns AS BIGINT) AS n_patterns",
      "CAST(h AS DOUBLE) AS h_perm",
      s"CAST(h AS DOUBLE) / $Ln6Literal AS h_norm")
  }

  // rank of element k = count of elements ordinally below it under
  // the earlier-wins tie rule: for i<j, y_i "below" y_j iff y_i<=y_j
  private val PermRank1 =
    "(CASE WHEN y2 < y THEN 1 ELSE 0 END + CASE WHEN y3 < y THEN 1 ELSE 0 END)"
  private val PermRank2 =
    "(CASE WHEN y <= y2 THEN 1 ELSE 0 END + CASE WHEN y3 < y2 THEN 1 ELSE 0 END)"
  private val PermRank3 =
    "(CASE WHEN y <= y3 THEN 1 ELSE 0 END + CASE WHEN y2 <= y3 THEN 1 ELSE 0 END)"

  lazy val permutationEntropySql: String = {
    import graft.functions.ExactLn
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tri AS (
       |  SELECT y, lead(y, 1) OVER (ORDER BY m) AS y2,
       |    lead(y, 2) OVER (ORDER BY m) AS y3
       |  FROM monthly),
       |pat AS (
       |  SELECT ($PermRank1 * 9 + $PermRank2 * 3 + $PermRank3) AS pattern,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tri WHERE y3 IS NOT NULL GROUP BY 1),
       |t AS (SELECT *, CAST(sum(c) OVER () AS BIGINT) AS n FROM pat),
       |p AS (SELECT *, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM t),
       |z AS (SELECT *, ${ExactLn.zExpr(ExactLn.yExpr("p"))} AS __z FROM p),
       |x AS (SELECT *, -(p * ${ExactLn.lnExpr("__z")}) AS contrib FROM z),
       |agg AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n_windows,
       |    CAST(count(*) AS BIGINT) AS n_patterns,
       |    sum(CAST(round(contrib, 9) AS DECIMAL(18,9))) AS h
       |  FROM x)
       |SELECT n_windows, n_patterns, CAST(h AS DOUBLE) AS h_perm,
       |  CAST(h AS DOUBLE) / $Ln6Literal AS h_norm
       |FROM agg""".stripMargin
  }


  // --------------------------------------------------------- fleiss_kappa

  private val FleissPb =
    "(CAST(s2 - 3 * n AS DOUBLE) / (CAST(6 AS DOUBLE) * CAST(n AS DOUBLE)))"
  private val FleissPe =
    "((" + (0 to 4).map(j => s"CAST(c$j AS DOUBLE) * CAST(c$j AS DOUBLE)").mkString(" + ") +
      ") / (CAST(9 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
  private val FleissKappa =
    s"(CASE WHEN $FleissPe >= CAST(1 AS DOUBLE) THEN CAST(1 AS DOUBLE) " +
      s"ELSE ($FleissPb - $FleissPe) / (CAST(1 AS DOUBLE) - $FleissPe) END)"

  /** Fleiss' kappa treating each repeat customer's FIRST THREE orders
    * as three "raters" assigning a priority class (1..5): does order
    * priority behave like a stable customer trait (pinned far above
    * chance agreement) or is it per-order noise? The n-rater
    * generalization [[cohensKappa]] (two fixed raters) and
    * [[kendallsW]] (rank concordance) both miss. P̄ and P̄_e come off
    * three exact integer moments (S2 = ΣΣn_ij², category columns
    * C_j), each < 2⁵³ through ~10¹⁵ items; κ is one shared guarded
    * expression (the all-one-category corner returns 1 by
    * convention).
    *
    * Scale shape: one per-customer rank window (partitioned, the
    * sessionize discipline) over orders, a 5-way conditional pivot at
    * the customer grain, one 7-moment aggregate to a single row.
    */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val first3 = t.orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("pr"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("o_custkey")))
      .filter(col("cnt") >= 3 && col("rn") <= 3)
    val pivotCols = (1 to 5).map(c =>
      sum(when(col("pr") === c, 1L).otherwise(0L)).as(s"n$c"))
    val items = first3.groupBy(col("o_custkey"))
      .agg(pivotCols.head, pivotCols.tail: _*)
    val momentCols = Seq(count(lit(1)).as("n"),
      sum(expr((1 to 5).map(c => s"n$c * n$c").mkString(" + "))).as("s2")) ++
      (1 to 5).map(c => sum(col(s"n$c")).as(s"c${c - 1}"))
    val moments = items.agg(momentCols.head, momentCols.tail: _*)
    moments.selectExpr("CAST(n AS BIGINT) AS n_items",
      s"$FleissPb AS p_bar", s"$FleissPe AS p_e",
      s"$FleissKappa AS kappa")
  }

  lazy val fleissKappaSql: String = {
    val condSums = (1 to 5).map(c =>
      s"CAST(sum(CASE WHEN pr = $c THEN 1 ELSE 0 END) AS BIGINT) AS n$c").mkString(",\n    ")
    val catTotals = (1 to 5).map(c => s"CAST(sum(n$c) AS BIGINT) AS c${c - 1}").mkString(", ")
    s"""WITH ranked AS (
       |  SELECT o_custkey, CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS pr,
       |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
       |    count(*) OVER (PARTITION BY o_custkey) AS cnt
       |  FROM orders),
       |items AS (
       |  SELECT o_custkey,
       |    $condSums
       |  FROM ranked WHERE cnt >= 3 AND rn <= 3 GROUP BY 1),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(${(1 to 5).map(c => s"n$c * n$c").mkString(" + ")}) AS BIGINT) AS s2,
       |    $catTotals
       |  FROM items)
       |SELECT n AS n_items, $FleissPb AS p_bar, $FleissPe AS p_e,
       |  $FleissKappa AS kappa
       |FROM m""".stripMargin
  }

  // ----------------------------------------------- seasonal_mann_kendall

  private val SmkVar = "(CAST(v18 AS DOUBLE) / CAST(18 AS DOUBLE))"
  private val SmkZ =
    s"(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt($SmkVar) " +
      s"WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt($SmkVar) " +
      "ELSE CAST(0 AS DOUBLE) END)"

  /** Seasonal Mann–Kendall on monthly revenue: S sums the
    * [[mannKendallTrend]] pair signs WITHIN each calendar month
    * across years only — January compares to Januaries — so a strong
    * seasonal cycle (which inflates plain MK's variance and can
    * drown a real drift) cancels out entirely. Same exact-integer S,
    * per-season tie correction, pooled variance Σ_s [n_s(n_s−1)(2n_s
    * +5) − T_s]/18, continuity-corrected z in shared text.
    *
    * Scale shape: the monthly frame is domain-bounded; within-season
    * pair joins are (years-per-season)² on a ≤12-season grid.
    */
  def seasonalMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)").as("y"))
      .withColumn("season", expr("CAST(m % 12 AS INT)"))
    val monthlyC = graft.core.OwnedCaches.own(monthly.cache())
    val pairs = monthlyC.select(col("season").as("sa"), col("m").as("m1"), col("y").as("y1"))
      .join(monthlyC.select(col("season").as("sb"), col("m").as("m2"), col("y").as("y2")),
        col("sa") === col("sb") && col("m1") < col("m2"))
      .agg(coalesce(sum(expr("CAST(sign(y2 - y1) AS BIGINT)")), lit(0L)).as("s"))
    val varParts = monthlyC.groupBy(col("season"))
      .agg(count(lit(1)).as("ns"))
      .agg(coalesce(sum(expr("ns * (ns - 1) * (2 * ns + 5)")), lit(0L)).as("vraw"))
    val ties = monthlyC.groupBy(col("season"), col("y")).agg(count(lit(1)).as("tc"))
      .agg(coalesce(sum(expr("tc * (tc - 1) * (2 * tc + 5)")), lit(0L)).as("tsum"))
    val n = monthlyC.agg(count(lit(1)).as("n"), countDistinct(col("season")).as("n_seasons"))
    pairs.crossJoin(broadcast(varParts)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(n))
      .withColumn("v18", expr("vraw - tsum"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        "CAST(n_seasons AS BIGINT) AS n_seasons",
        "CAST(s AS BIGINT) AS s_stat", s"$SmkVar AS var_s", s"$SmkZ AS z_stat",
        s"CASE WHEN abs($SmkZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant",
        "CAST(sign(s) AS INTEGER) AS direction")
  }

  val seasonalMannKendallSql: String =
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |sm AS (SELECT m, y, CAST(m % 12 AS INTEGER) AS season FROM monthly),
       |p AS (
       |  SELECT CAST(coalesce(sum(CAST(sign(b.y - a.y) AS BIGINT)), 0) AS BIGINT) AS s
       |  FROM sm a JOIN sm b ON a.season = b.season AND a.m < b.m),
       |vp AS (
       |  SELECT CAST(coalesce(sum(ns * (ns - 1) * (2 * ns + 5)), 0) AS BIGINT) AS vraw
       |  FROM (SELECT season, CAST(count(*) AS BIGINT) AS ns FROM sm GROUP BY 1)),
       |tie AS (
       |  SELECT CAST(coalesce(sum(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT) AS tsum
       |  FROM (SELECT season, y, CAST(count(*) AS BIGINT) AS tc FROM sm GROUP BY 1, 2)),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT season) AS BIGINT) AS n_seasons FROM sm),
       |v AS (SELECT s, vraw - tsum AS v18, n, n_seasons FROM p, vp, tie, c)
       |SELECT n AS n_months, n_seasons, s AS s_stat, $SmkVar AS var_s, $SmkZ AS z_stat,
       |  CASE WHEN abs($SmkZ) > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS significant,
       |  CAST(sign(s) AS INTEGER) AS direction
       |FROM v""".stripMargin

  // --------------------------------------------------------- sample_entropy

  /** Sample entropy (m = 2, fixed-window variant) of the monthly
    * revenue series: −ln(A/B) where B counts window pairs matching on
    * 2 consecutive months and A those still matching on the 3rd —
    * low when the series repeats its own templates
    * ([[permutationEntropy]] reads pattern DIVERSITY; SampEn reads
    * template RECURRENCE; both windows are restricted to the N−2
    * complete triples so A's pairs are a strict subset of B's). The
    * tolerance is data-driven but INTEGER: the lower median of the
    * absolute successive differences (rank-picked exactly, the
    * runs_test convention) — every match comparison is therefore
    * exact integer arithmetic on both engines, and only the final
    * −ln(A/B) runs in ([[graft.functions.ExactLn]]) double space.
    *
    * Scale shape: domain-bounded monthly frame; the template join is
    * (months)² on that bounded frame.
    */
  def sampleEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactLn
    val monthly = Tables(spark, dir).orders
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr("CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT)").as("y"))
    val wm = Window.orderBy("m")
    val tri = monthly
      .withColumn("y2", lead(col("y"), 1).over(wm))
      .withColumn("y3", lead(col("y"), 2).over(wm))
      .filter(col("y3").isNotNull)
    val triC = graft.core.OwnedCaches.own(tri.cache())
    val diffs = monthly.withColumn("yn", lead(col("y"), 1).over(wm))
      .filter(col("yn").isNotNull)
      .select(expr("abs(yn - y)").as("d"))
    val rtol = diffs
      .withColumn("rn", row_number().over(Window.orderBy(col("d"))))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      .agg(min(when(col("rn") === expr("(nd + 1) div 2"), col("d"))).as("r"))
    val counts = triC.select(col("m").as("ma"), col("y").as("a1"),
        col("y2").as("a2"), col("y3").as("a3"))
      .join(triC.select(col("m").as("mb"), col("y").as("b1"),
        col("y2").as("b2"), col("y3").as("b3")), col("ma") < col("mb"))
      .crossJoin(broadcast(rtol))
      .agg(
        sum(expr("CASE WHEN abs(a1 - b1) <= r AND abs(a2 - b2) <= r THEN 1 ELSE 0 END")).as("b_count"),
        sum(expr("CASE WHEN abs(a1 - b1) <= r AND abs(a2 - b2) <= r AND abs(a3 - b3) <= r THEN 1 ELSE 0 END")).as("a_count"),
        max(col("r")).as("r_tol"),
        count(lit(1)).as("n_pairs"))
    counts
      .withColumn("p", expr(
        "CASE WHEN a_count > 0 AND b_count > 0 THEN CAST(a_count AS DOUBLE) / CAST(b_count AS DOUBLE) ELSE CAST(1 AS DOUBLE) END"))
      .withColumn("__z", expr(ExactLn.zExpr(ExactLn.yExpr("p"))))
      .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(r_tol AS BIGINT) AS r_tol",
        "CAST(b_count AS BIGINT) AS b_count", "CAST(a_count AS BIGINT) AS a_count",
        s"CASE WHEN a_count > 0 AND b_count > 0 THEN -(${ExactLn.lnExpr("__z")}) ELSE CAST(0 AS DOUBLE) END AS sampen")
  }

  lazy val sampleEntropySql: String = {
    import graft.functions.ExactLn
    s"""WITH monthly AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |    CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) / 1000) AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |tri AS (
       |  SELECT m, y, lead(y, 1) OVER (ORDER BY m) AS y2,
       |    lead(y, 2) OVER (ORDER BY m) AS y3
       |  FROM monthly),
       |tc AS (SELECT * FROM tri WHERE y3 IS NOT NULL),
       |df AS (
       |  SELECT abs(lead(y) OVER (ORDER BY m) - y) AS d FROM monthly
       |  QUALIFY lead(y) OVER (ORDER BY m) IS NOT NULL),
       |rt AS (
       |  SELECT CAST(min(CASE WHEN rn = (nd + 1) // 2 THEN d END) AS BIGINT) AS r
       |  FROM (SELECT d, row_number() OVER (ORDER BY d) AS rn,
       |    count(*) OVER () AS nd FROM df) z),
       |cnt AS (
       |  SELECT
       |    CAST(sum(CASE WHEN abs(a.y - b.y) <= r AND abs(a.y2 - b.y2) <= r THEN 1 ELSE 0 END) AS BIGINT) AS b_count,
       |    CAST(sum(CASE WHEN abs(a.y - b.y) <= r AND abs(a.y2 - b.y2) <= r AND abs(a.y3 - b.y3) <= r THEN 1 ELSE 0 END) AS BIGINT) AS a_count,
       |    CAST(max(r) AS BIGINT) AS r_tol,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM tc a JOIN tc b ON a.m < b.m CROSS JOIN rt),
       |pp AS (
       |  SELECT *, CASE WHEN a_count > 0 AND b_count > 0
       |    THEN CAST(a_count AS DOUBLE) / CAST(b_count AS DOUBLE) ELSE CAST(1 AS DOUBLE) END AS p
       |  FROM cnt),
       |zz AS (SELECT *, ${ExactLn.zExpr(ExactLn.yExpr("p"))} AS __z FROM pp)
       |SELECT n_pairs, r_tol, b_count, a_count,
       |  CASE WHEN a_count > 0 AND b_count > 0 THEN -(${ExactLn.lnExpr("__z")}) ELSE CAST(0 AS DOUBLE) END AS sampen
       |FROM zz""".stripMargin
  }


  // ----------------------------------------------------------- welch_anova

  // fixed-order pivoted group moments -> Welch's F: w_i = n_i/v_i,
  // center = sum(w m)/W, A = sum w (m-c)^2/(k-1), B the Welch
  // correction, df2 = (k^2-1)/(3 L) with L = sum (1-w/W)^2/(n-1)
  private val WaK = 5
  private def waMean(k: Int) = s"(CAST(s_$k AS DOUBLE) / CAST(n_$k AS DOUBLE))"
  private def waVar(k: Int) =
    s"((CAST(ss_$k AS DOUBLE) - ${waMean(k)} * CAST(s_$k AS DOUBLE)) / CAST(n_$k - 1 AS DOUBLE))"
  private def waW(k: Int) = s"(CAST(n_$k AS DOUBLE) / ${waVar(k)})"
  private val WaWSum = (0 until WaK).map(waW).mkString("(", " + ", ")")
  private val WaCenter =
    "(" + (0 until WaK).map(k => s"${waW(k)} * ${waMean(k)}").mkString(" + ") +
      s") / $WaWSum"
  private val WaA =
    "((" + (0 until WaK).map(k =>
      s"${waW(k)} * (${waMean(k)} - ctr) * (${waMean(k)} - ctr)").mkString(" + ") +
      s") / CAST(${WaK - 1} AS DOUBLE))"
  private val WaL =
    "(" + (0 until WaK).map(k =>
      s"(CAST(1 AS DOUBLE) - ${waW(k)} / $WaWSum) * (CAST(1 AS DOUBLE) - ${waW(k)} / $WaWSum) / CAST(n_$k - 1 AS DOUBLE)").mkString(" + ") + ")"
  private val WaB =
    s"(CAST(1 AS DOUBLE) + (CAST(${2 * (WaK - 2)} AS DOUBLE) / CAST(${WaK * WaK - 1} AS DOUBLE)) * $WaL)"
  private val WaGuard = (0 until WaK).map(k => s"${waVar(k)} <= CAST(0 AS DOUBLE)")
    .mkString("(", " OR ", ")")
  private val WaF = s"(CASE WHEN $WaGuard THEN CAST(0 AS DOUBLE) ELSE $WaA / $WaB END)"
  private val WaDf2 =
    s"(CASE WHEN $WaGuard THEN CAST(0 AS DOUBLE) " +
      s"ELSE CAST(${WaK * WaK - 1} AS DOUBLE) / (CAST(3 AS DOUBLE) * $WaL) END)"

  /** Welch's heteroscedastic one-way ANOVA across the five order
    * priorities on order value: [[anovaOneway]] assumes one pooled
    * variance — exactly what [[leveneTest]] exists to REJECT — and
    * Welch's F is the standard next move when it does (inverse-
    * variance weighted centers, Satterthwaite-style df2). Value
    * quantizes to $100 units (floor-div, the [[cupedAdjustment]]
    * convention) so ALL nine moments stay exact sub-2^53 integers
    * through sf1 and every cast is per-moment exact; the F/df2
    * algebra is one fixed-order shared text over the pivoted moments.
    *
    * Scale shape: one conditional-sum scan to 15 scalars; the rest is
    * a single-row expression.
    */
  def welchAnova(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000").as("x"))
    val mCols = (0 until WaK).flatMap { k =>
      val is = col("g") === PrioKeys(k)
      Seq(sum(when(is, 1L).otherwise(0L)).as(s"n_$k"),
        sum(when(is, col("x")).otherwise(0L)).as(s"s_$k"),
        sum(when(is, expr("x * x")).otherwise(0L)).as(s"ss_$k"))
    }
    o.agg(mCols.head, mCols.tail: _*)
      .withColumn("ctr", expr(WaCenter))
      .selectExpr(
        s"CAST($WaK AS INTEGER) AS k_groups",
        s"CAST(${(0 until WaK).map(k => s"n_$k").mkString(" + ")} AS BIGINT) AS n_orders",
        s"$WaF AS f_stat",
        s"CAST(${WaK - 1} AS INTEGER) AS df1",
        s"$WaDf2 AS df2_welch")
  }

  lazy val welchAnovaSql: String = {
    val mSums = (0 until WaK).flatMap { k =>
      val is = s"g = '${PrioKeys(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN 1 ELSE 0 END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN x ELSE 0 END) AS BIGINT) AS s_$k",
        s"CAST(sum(CASE WHEN $is THEN x * x ELSE 0 END) AS BIGINT) AS ss_$k")
    }.mkString(",\n    ")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS x
       |  FROM orders),
       |m AS (
       |  SELECT
       |    $mSums
       |  FROM o),
       |mc AS (SELECT *, $WaCenter AS ctr FROM m)
       |SELECT CAST($WaK AS INTEGER) AS k_groups,
       |  CAST(${(0 until WaK).map(k => s"n_$k").mkString(" + ")} AS BIGINT) AS n_orders,
       |  $WaF AS f_stat,
       |  CAST(${WaK - 1} AS INTEGER) AS df1,
       |  $WaDf2 AS df2_welch
       |FROM mc""".stripMargin
  }

  // ------------------------------------------------------------- dunn_test

  // Dunn pairwise z over the kruskal_wallis moments: z_ij =
  // (Rbar_i - Rbar_j) / sqrt(V * (1/n_i + 1/n_j)) with the
  // tie-corrected V = N(N+1)/12 - tt/(12(N-1))
  private def dunnRbar(k: Int) = s"(CAST(r2_$k AS DOUBLE) / (2.0 * CAST(n_$k AS DOUBLE)))"
  private val DunnV =
    "(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) / 12.0 " +
      "- CAST(tt AS DOUBLE) / (12.0 * (CAST(nn AS DOUBLE) - 1.0)))"
  private def dunnZ(i: Int, j: Int) =
    s"((${dunnRbar(i)} - ${dunnRbar(j)}) / " +
      s"sqrt($DunnV * (CAST(1 AS DOUBLE) / CAST(n_$i AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n_$j AS DOUBLE))))"

  /** Dunn's post-hoc pairwise test after [[kruskalWallis]]: WHICH
    * priority pairs differ once H rejects — mean-rank differences
    * standardized by the tie-corrected pooled rank variance, with a
    * Bonferroni-at-10-pairs significance flag (|z| > 2.807). Rides
    * the exact same distributed midrank machinery and moment pivot
    * as H itself (the two-level banded prefix sum; zero new scan
    * shapes), so every z is a fixed-order shared-text expression
    * over already-exact integers.
    *
    * Scale shape: identical to [[kruskalWallis]].
    */
  def dunnTest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderpriority").as("g"),
        (money(col("o_totalprice")) * 100).cast("long").as("c"))
    val perVG = o.groupBy(col("c"), col("g")).agg(count(lit(1)).as("n_vg"))
    val perV = perVG.groupBy(col("c")).agg(sum(col("n_vg")).as("n_v"))
    val ranked = Commerce.globalRankCumsum(perV,
        floor(col("c") / lit((Commerce.MonetaryBucketWidth * 100).toLong)),
        Seq(col("c")), col("n_v"), "rk", "cumv")
      .select(col("c"), col("n_v"), col("cumv"))
    val contrib = perVG.join(ranked, Seq("c"))
      .withColumn("w2", expr("2 * cumv - n_v + 1"))
    val mCols = PrioKeys.indices.flatMap { k =>
      val is = col("g") === PrioKeys(k)
      Seq(sum(when(is, col("n_vg"))).as(s"n_$k"),
        sum(when(is, expr("n_vg * w2"))).as(s"r2_$k"))
    } :+ sum(col("n_vg")).as("nn")
    val moments = contrib.agg(mCols.head, mCols.tail: _*)
    val ties = perV.agg(
      sum(expr("CAST(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) - n_v AS DECIMAL(38,0))")).as("tt"))
    val pairs = for { i <- PrioKeys.indices; j <- (i + 1) until PrioKeys.size } yield (i, j)
    val stackArgs = pairs.map { case (i, j) =>
      s"'${PrioKeys(i)}', '${PrioKeys(j)}', CAST(n_$i AS BIGINT), CAST(n_$j AS BIGINT), " +
        s"${dunnRbar(i)}, ${dunnRbar(j)}, ${dunnZ(i, j)}, " +
        s"CASE WHEN abs(${dunnZ(i, j)}) > CAST(2.807 AS DOUBLE) THEN 1 ELSE 0 END"
    }.mkString(", ")
    moments.crossJoin(broadcast(ties))
      .selectExpr(s"stack(${pairs.size}, $stackArgs)" +
        " AS (prio_a, prio_b, n_a, n_b, mean_rank_a, mean_rank_b, z_stat, significant)")
      .orderBy("prio_a", "prio_b")
  }

  lazy val dunnTestSql: String = {
    val mSums = PrioKeys.indices.flatMap { k =>
      val is = s"g = '${PrioKeys(k)}'"
      Seq(s"CAST(sum(CASE WHEN $is THEN n_vg END) AS BIGINT) AS n_$k",
        s"CAST(sum(CASE WHEN $is THEN n_vg * w2 END) AS BIGINT) AS r2_$k")
    } :+ "CAST(sum(n_vg) AS BIGINT) AS nn"
    val pairs = for { i <- PrioKeys.indices; j <- (i + 1) until PrioKeys.size } yield (i, j)
    val arms = pairs.map { case (i, j) =>
      s"SELECT '${PrioKeys(i)}' AS prio_a, '${PrioKeys(j)}' AS prio_b, " +
        s"CAST(n_$i AS BIGINT) AS n_a, CAST(n_$j AS BIGINT) AS n_b, " +
        s"${dunnRbar(i)} AS mean_rank_a, ${dunnRbar(j)} AS mean_rank_b, " +
        s"${dunnZ(i, j)} AS z_stat, " +
        s"CASE WHEN abs(${dunnZ(i, j)}) > CAST(2.807 AS DOUBLE) THEN 1 ELSE 0 END AS significant FROM one"
    }.mkString("\nUNION ALL ")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM orders),
       |per_vg AS (SELECT c, g, CAST(count(*) AS BIGINT) AS n_vg FROM o GROUP BY 1, 2),
       |per_v AS (SELECT c, CAST(sum(n_vg) AS BIGINT) AS n_v FROM per_vg GROUP BY 1),
       |r AS (
       |  SELECT c, n_v,
       |    CAST(sum(n_v) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumv
       |  FROM per_v),
       |w AS (
       |  SELECT per_vg.g, per_vg.n_vg, 2 * r.cumv - r.n_v + 1 AS w2
       |  FROM per_vg JOIN r USING (c)),
       |m AS (
       |  SELECT
       |    ${mSums.mkString(",\n    ")}
       |  FROM w),
       |tie AS (
       |  SELECT sum(CAST(CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) * CAST(n_v AS DECIMAL(12,0)) - n_v AS DECIMAL(38,0))) AS tt
       |  FROM per_v),
       |one AS (SELECT * FROM m, tie)
       |$arms
       |ORDER BY prio_a, prio_b""".stripMargin
  }

}
