package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Det._

/** Aggregation operators from SURVEY §2.4, exercised on the testdata star
  * schema. Query names carry the §2 operator id they cover.
  *
  * Scale notes apply to every query here: single groupBy = one shuffle with
  * map-side partial aggregation; no driver-side collection; all expressions
  * codegen'd (`functions._` only). At 100 TB the same plans hold — the agg
  * keys (returnflag/custkey/orderkey) are either low-cardinality (perfect
  * partial-agg reduction) or uniformly distributed (no skew).
  */
object AggQueries {

  /** Flagship: TPC-H-Q1-shaped pricing summary — exercises A1-style
    * grouped rollup with derived measures, deterministic decimal sums. */
  val q1PricingSummary: Q = Q.sql(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST((l_quantity) AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST((l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST((l_quantity) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A1 — order-level rollup: GROUP BY order with MAX of order attrs,
    * BOOL_OR flags, SUM of line amounts, COUNT(*)
    * (int_quickbooks__orders.sql:14-83). */
  val a1OrderRollup: Q = Q.sql(
    "a1_order_rollup",
    """SELECT l_orderkey,
      |  CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS last_ship_date,
      |  BOOL_OR(l_returnflag = 'R') AS any_returned,
      |  CAST(SUM(CAST((l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) AS order_amount,
      |  CAST(SUM(CAST((l_quantity) AS DECIMAL(38,6))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS line_count
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(
        max(col("l_shipdate").cast("date")).cast("string")
          .as("last_ship_date"),
        bool_or(col("l_returnflag") === "R").as("any_returned"),
        dsum(col("l_extendedprice")).as("order_amount"),
        dsum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("line_count"))
      .orderBy("l_orderkey")
  }

  /** A2 — customer lifetime revenue: SUM, COUNT DISTINCT, MIN/MAX dates,
    * COUNT DISTINCT date (int_quickbooks__customer_revenue.sql:11-24). */
  val a2CustomerRevenue: Q = Q.sql(
    "a2_customer_revenue",
    """SELECT o_custkey,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue,
      |  COUNT(DISTINCT o_orderkey) AS order_count,
      |  COUNT(*) AS row_count,
      |  CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_order_date,
      |  CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_order_date,
      |  COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS active_days
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        dsum(col("o_totalprice")).as("total_revenue"),
        countDistinct(col("o_orderkey")).as("order_count"),
        count(lit(1)).as("row_count"),
        min(col("o_orderdate").cast("date")).cast("string")
          .as("first_order_date"),
        max(col("o_orderdate").cast("date")).cast("string")
          .as("last_order_date"),
        countDistinct(col("o_orderdate").cast("date")).as("active_days"))
      .orderBy("o_custkey")
  }

  /** A3 — STRING_AGG(DISTINCT x, sep) with deterministic value ordering:
    * sort_array(collect_set) (int_quickbooks__company_consolidation.sql:95-119). */
  val a3StringAgg: Q = Q.sql(
    "a3_string_agg_distinct",
    """SELECT c_nationkey,
      |  COUNT(*) AS customer_count,
      |  CAST(SUM(CAST((c_acctbal) AS DECIMAL(38,6))) AS DOUBLE) AS total_balance,
      |  STRING_AGG(DISTINCT c_mktsegment, ' | ' ORDER BY c_mktsegment) AS all_segments
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("customer_count"),
        dsum(col("c_acctbal")).as("total_balance"),
        array_join(sort_array(collect_set(col("c_mktsegment"))), " | ")
          .as("all_segments"))
      .orderBy("c_nationkey")
  }

  /** A4 — MODE() WITHIN GROUP with deterministic tie-break (highest count,
    * then lowest value — SURVEY §2.4 A4 note): max_by over a pre-count.
    * Two-level aggregation keeps it fully distributed (no single-partition
    * sort): first shuffle on (nation, segment), second on nation. */
  val a4Mode: Q = Q.sql(
    "a4_mode_deterministic",
    """SELECT c_nationkey, mode_segment FROM (
      |  SELECT c_nationkey, c_mktsegment AS mode_segment,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |                       ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
      |  FROM customer GROUP BY c_nationkey, c_mktsegment
      |) WHERE rn = 1 ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    val counts = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment")).count()
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("count").desc, col("c_mktsegment"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"))
      .orderBy("c_nationkey")
  }

  /** A7/J12 — trailing-window conditional aggregation relative to a fixed
    * as-of date (mart_company_period_metrics.sql:34-135; decorrelated
    * J12 rewrite per SURVEY §2.3). One scan, one shuffle — the UNION-ALL-
    * of-subqueries form in the reference would scan 5×. */
  val a7PeriodMetrics: Q = Q.sql(
    "a7_period_conditional_agg",
    """SELECT o_custkey,
      |  CAST(SUM(CAST((CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-05-15' THEN o_totalprice ELSE 0 END) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_90d,
      |  CAST(SUM(CAST((CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1997-08-13' THEN o_totalprice ELSE 0 END) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_1y,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_all_time,
      |  CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-05-15' THEN 1 ELSE 0 END) AS BIGINT) AS orders_90d,
      |  COUNT(*) AS orders_all_time
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    // asOfDate injected (SURVEY §7.4 #5): 1998-08-11, TPC-H style.
    val od = col("o_orderdate").cast("date")
    val d90 = to_date(lit("1998-05-15"))
    val d1y = to_date(lit("1997-08-13"))
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        dsum(when(od >= d90, col("o_totalprice")).otherwise(0)).as("revenue_90d"),
        dsum(when(od >= d1y, col("o_totalprice")).otherwise(0)).as("revenue_1y"),
        dsum(col("o_totalprice")).as("revenue_all_time"),
        sum(when(od >= d90, 1).otherwise(0)).as("orders_90d"),
        count(lit(1)).as("orders_all_time"))
      .orderBy("o_custkey")
  }

  /** A12 — multi-grain DATE_TRUNC rollup (mart_product_unit_sales.sql:33-78). */
  val a12MultiGrain: Q = Q.sql(
    "a12_multigrain_rollup",
    """SELECT l_partkey,
      |  CAST(CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS VARCHAR) AS ship_month,
      |  CAST(CAST(DATE_TRUNC('quarter', l_shipdate) AS DATE) AS VARCHAR) AS ship_quarter,
      |  CAST(CAST(DATE_TRUNC('year', l_shipdate) AS DATE) AS VARCHAR) AS ship_year,
      |  CAST(SUM(CAST((l_quantity) AS DECIMAL(38,6))) AS DOUBLE) AS units,
      |  CAST(SUM(CAST((l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) AS amount,
      |  COUNT(DISTINCT l_orderkey) AS order_count
      |FROM lineitem
      |GROUP BY 1, 2, 3, 4
      |ORDER BY l_partkey, ship_month""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(
        col("l_partkey"),
        date_trunc("month", col("l_shipdate")).cast("date").cast("string")
          .as("ship_month"),
        date_trunc("quarter", col("l_shipdate")).cast("date").cast("string")
          .as("ship_quarter"),
        date_trunc("year", col("l_shipdate")).cast("date").cast("string")
          .as("ship_year"))
      .agg(
        dsum(col("l_quantity")).as("units"),
        dsum(col("l_extendedprice")).as("amount"),
        countDistinct(col("l_orderkey")).as("order_count"))
      .orderBy("l_partkey", "ship_month")
  }

  /** A13 — volume-weighted metrics at two grains UNION ALLed with a
    * time_period tag (mart_product_margin_analytics.sql:66-238). */
  val a13MarginGrains: Q = Q.sql(
    "a13_margin_two_grain",
    """WITH daily AS (
      |  SELECT 'daily' AS time_period, l_partkey,
      |    CAST(CAST(DATE_TRUNC('day', l_shipdate) AS DATE) AS VARCHAR) AS period_start,
      |    CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |    CAST(SUM(CAST((l_extendedprice * l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS discount_amount,
      |    COUNT(*) AS line_count
      |  FROM lineitem GROUP BY 1, 2, 3
      |), monthly AS (
      |  SELECT 'monthly' AS time_period, l_partkey,
      |    CAST(CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS VARCHAR) AS period_start,
      |    CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |    CAST(SUM(CAST((l_extendedprice * l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS discount_amount,
      |    COUNT(*) AS line_count
      |  FROM lineitem GROUP BY 1, 2, 3
      |)
      |SELECT * FROM daily UNION ALL SELECT * FROM monthly
      |ORDER BY time_period, l_partkey, period_start""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    def grain(g: String, tag: String) = li
      .groupBy(
        col("l_partkey"),
        date_trunc(g, col("l_shipdate")).cast("date").cast("string")
          .as("period_start"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        dsum(col("l_extendedprice") * col("l_discount")).as("discount_amount"),
        count(lit(1)).as("line_count"))
      .withColumn("time_period", lit(tag))
    grain("day", "daily").unionByName(grain("month", "monthly"))
      .select("time_period", "l_partkey", "period_start", "revenue",
        "discount_amount", "line_count")
      .orderBy("time_period", "l_partkey", "period_start")
  }

  /** A18 — data-quality aggregates: row count, completeness ratio,
    * duplicate-key detection (pipelines/shared/data_quality.py:17-216). */
  val a18Quality: Q = Q.sql(
    "a18_quality_checks",
    """SELECT 'orders' AS table_name,
      |  COUNT(*) AS row_count,
      |  CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS custkey_completeness,
      |  (SELECT COUNT(*) FROM (
      |     SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
      |  )) AS duplicate_key_count,
      |  CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS freshness_max_date
      |FROM orders""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val dupes = o.groupBy("o_orderkey").count()
      .filter(col("count") > 1)
      .agg(count(lit(1)).as("duplicate_key_count"))
    o.agg(
      count(lit(1)).as("row_count"),
      (count(col("o_custkey")).cast("double") / count(lit(1)))
        .as("custkey_completeness"),
      max(col("o_orderdate").cast("date")).cast("string")
        .as("freshness_max_date"))
      .crossJoin(dupes) // 1-row × 1-row
      .select(lit("orders").as("table_name"), col("row_count"),
        col("custkey_completeness"), col("duplicate_key_count"),
        col("freshness_max_date"))
  }

  /** A18b — dbt `relationships` referential-integrity audit through
    * the REAL `quality.Checks.relationships`: the star schema's three
    * FK edges (all intact — 0 orphans proves the check can PASS) plus
    * a deliberately-broken child (lineitems of every 9th order key re-pointed at an
    * order key that cannot exist) whose orphan count both engines must
    * agree on exactly — the check catching real breakage is the half a
    * green-only test never demonstrates. */
  val a18bRefIntegrity: Q = Q.sql(
    "a18b_ref_integrity",
    """SELECT 'lineitem->orders' AS rel, (
      |  SELECT COUNT(*) FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON o.o_orderkey = l.l_orderkey
      |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
      |) AS violations
      |UNION ALL
      |SELECT 'lineitem->part', (
      |  SELECT COUNT(*) FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT p_partkey FROM part) p
      |    ON p.p_partkey = l.l_partkey
      |  WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
      |)
      |UNION ALL
      |SELECT 'orders->customer', (
      |  SELECT COUNT(*) FROM orders o LEFT JOIN
      |    (SELECT DISTINCT c_custkey FROM customer) c
      |    ON c.c_custkey = o.o_custkey
      |  WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
      |)
      |UNION ALL
      |SELECT 'broken->orders', (
      |  SELECT COUNT(*) FROM (
      |    SELECT CASE WHEN l_orderkey % 9 = 0
      |                THEN -l_orderkey - 1 ELSE l_orderkey END AS fk
      |    FROM lineitem) b
      |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON o.o_orderkey = b.fk
      |  WHERE b.fk IS NOT NULL AND o.o_orderkey IS NULL
      |)
      |ORDER BY rel""".stripMargin) { (s, d) =>
    import graft.quality.Checks
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val broken = li.select(
      when(col("l_orderkey") % 9 === 0, -col("l_orderkey") - 1)
        .otherwise(col("l_orderkey")).as("fk"))
    val checks = Seq(
      "lineitem->orders" ->
        Checks.relationships(li, "lineitem", "l_orderkey", o, "o_orderkey"),
      "lineitem->part" ->
        Checks.relationships(li, "lineitem", "l_partkey",
          Tables.part(s, d), "p_partkey"),
      "orders->customer" ->
        Checks.relationships(o, "orders", "o_custkey",
          Tables.customer(s, d), "c_custkey"),
      "broken->orders" ->
        Checks.relationships(broken, "broken", "fk", o, "o_orderkey"))
    import s.implicits._
    checks.map { case (rel, r) => (rel, r.violations) }
      .toDF("rel", "violations")
      .orderBy("rel")
  }

  /** A18c — dbt SOURCE FRESHNESS through the REAL `Checks.freshness`:
    * events lag ≈ 30 days against the pinned as-of (2024-03-01), so the
    * 60-day budget passes and the 7-day budget fails — both the green
    * and the alarming arm are gate-checked. Lag arithmetic is exact
    * integer micros floor-divided to days in BOTH engines (see the
    * Checks.freshness scaladoc for why second-truncation would drift). */
  val a18cFreshness: Q = Q.sql(
    "a18c_freshness",
    """WITH mx AS (
      |  SELECT CAST(epoch_us(MAX(ts)) AS BIGINT) AS mx_us FROM events
      |), asof_t AS (
      |  SELECT CAST(epoch_us(TIMESTAMP '2024-03-01 00:00:00') AS BIGINT)
      |    AS asof_us
      |)
      |SELECT 'freshness(ts,60d)' AS check_name,
      |  CAST(CASE WHEN (asof_us - mx_us) // 86400000000 > 60
      |       THEN 1 ELSE 0 END AS BIGINT) AS violations
      |FROM mx, asof_t
      |UNION ALL
      |SELECT 'freshness(ts,7d)',
      |  CAST(CASE WHEN (asof_us - mx_us) // 86400000000 > 7
      |       THEN 1 ELSE 0 END AS BIGINT)
      |FROM mx, asof_t
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    import graft.quality.Checks
    val ev = Tables.events(s, d)
    val checks = Seq(
      Checks.freshness(ev, "events", "ts", "2024-03-01", 60),
      Checks.freshness(ev, "events", "ts", "2024-03-01", 7))
    import s.implicits._
    checks.map(r => (r.check, r.violations))
      .toDF("check_name", "violations")
      .orderBy("check_name")
  }

  /** dim_company_health (dim_company_health.sql:14-297) — the full
    * activity/archetype/health-score battery, driven through the actual
    * `Marts.dimCompanyHealth` model over company-orders synthesized from
    * the orders table (customer plays the consolidated company,
    * order priority plays the per-order product-diversity attr).
    * As-of date pinned to the corpus max order date. */
  val aCompanyHealth: Q = {
    val A = "DATE '2001-08-01'"
    def w(days: Int) = s"order_date >= $A - $days"
    def notW(days: Int) = s"order_date < $A - $days"
    val ratio = "(revenue_last_year / NULLIF(revenue_prior_year, 0) * 0.6" +
      " + orders_last_year / NULLIF(orders_prior_year, 0) * 0.4)"
    Q.sql(
      "a_company_health",
      s"""WITH co AS (
        |  SELECT o_custkey AS company, CAST(o_orderdate AS DATE) AS order_date,
        |         o_totalprice AS amt, o_orderpriority AS dp
        |  FROM orders
        |), activity AS (
        |  SELECT company,
        |    COUNT(*) AS total_orders,
        |    COUNT(DISTINCT EXTRACT(YEAR FROM order_date)) AS active_years,
        |    MAX(order_date) AS last_order_date,
        |    MIN(order_date) AS first_order_date,
        |    ${sqlDsum("amt")} AS total_revenue,
        |    ${sqlDavg("amt")} AS avg_order_value,
        |    CAST(SUM(CASE WHEN ${w(90)} THEN 1 ELSE 0 END) AS BIGINT) AS orders_last_90_days,
        |    ${sqlDsum(s"CASE WHEN ${w(90)} THEN amt ELSE 0 END")} AS revenue_last_90_days,
        |    CAST(SUM(CASE WHEN ${w(365)} THEN 1 ELSE 0 END) AS BIGINT) AS orders_last_year,
        |    CAST(SUM(CASE WHEN ${w(730)} AND ${notW(365)} THEN 1 ELSE 0 END) AS BIGINT) AS orders_prior_year,
        |    ${sqlDsum(s"CASE WHEN ${w(365)} THEN amt ELSE 0 END")} AS revenue_last_year,
        |    ${sqlDsum(s"CASE WHEN ${w(730)} AND ${notW(365)} THEN amt ELSE 0 END")} AS revenue_prior_year,
        |    COUNT(DISTINCT dp) AS product_diversity_score
        |  FROM co GROUP BY company
        |), arch AS (
        |  SELECT *,
        |    total_orders / GREATEST((last_order_date - first_order_date) / 365.0, 0.1) AS orders_per_year
        |  FROM activity
        |), arch2 AS (
        |  SELECT *,
        |    CASE WHEN avg_order_value >= 5000 AND orders_per_year < 8 THEN 'HVLF'
        |         WHEN orders_per_year >= 12 THEN 'HF' ELSE 'REG' END AS customer_archetype,
        |    PERCENT_RANK() OVER (ORDER BY total_revenue) AS revenue_percentile,
        |    CASE WHEN total_orders >= 3
        |         THEN (last_order_date - first_order_date) / NULLIF(total_orders - 1, 0)
        |         ELSE 90 END AS avg_order_interval_days,
        |    $A - last_order_date AS days_since_last_order
        |  FROM arch
        |), trend AS (
        |  SELECT *,
        |    CASE WHEN days_since_last_order <= 30 THEN 'Highly Active'
        |         WHEN days_since_last_order <= 90 THEN 'Active'
        |         WHEN days_since_last_order <= 180 THEN 'Moderately Active'
        |         WHEN days_since_last_order <= 365 THEN 'Dormant'
        |         ELSE 'Inactive' END AS activity_status,
        |    CASE WHEN orders_per_year >= 12 THEN 'Monthly+'
        |         WHEN orders_per_year >= 6 THEN 'Bi-Monthly'
        |         WHEN orders_per_year >= 4 THEN 'Quarterly'
        |         WHEN orders_per_year >= 2 THEN 'Bi-Annual'
        |         WHEN orders_per_year >= 1 THEN 'Annual'
        |         ELSE 'Sporadic' END AS order_frequency_category,
        |    CASE WHEN orders_prior_year = 0 AND orders_last_year > 0 THEN 'New Customer'
        |         WHEN orders_prior_year > 0 AND orders_last_year = 0 THEN 'Lost Customer'
        |         WHEN orders_last_year > orders_prior_year * 1.2 THEN 'Growing'
        |         WHEN orders_last_year < orders_prior_year * 0.8 THEN 'Declining'
        |         ELSE 'Stable' END AS growth_trend_direction,
        |    CASE WHEN orders_prior_year = 0 AND orders_last_year > 0 THEN 'New Customer'
        |         WHEN orders_prior_year > 0 AND orders_last_year = 0 THEN 'Lost Customer'
        |         WHEN revenue_prior_year > 0 THEN
        |           CASE WHEN $ratio >= 1.15 THEN 'Growing'
        |                WHEN $ratio <= 0.85 THEN 'Declining'
        |                ELSE 'Stable' END
        |         ELSE 'Stable' END AS combined_growth_trend,
        |    CASE WHEN revenue_last_90_days > avg_order_value * 2 THEN 'High Engagement'
        |         WHEN orders_last_90_days > 0 THEN 'Medium Engagement'
        |         WHEN days_since_last_order <= 180 THEN 'Low Engagement'
        |         ELSE 'No Recent Engagement' END AS engagement_level
        |  FROM arch2
        |), bits AS (
        |  SELECT *,
        |    CASE WHEN customer_archetype = 'HVLF' THEN
        |           CASE WHEN days_since_last_order <= avg_order_interval_days * 0.8 THEN 35
        |                WHEN days_since_last_order <= avg_order_interval_days * 1.1 THEN 30
        |                WHEN days_since_last_order <= avg_order_interval_days * 1.3 THEN 22
        |                WHEN days_since_last_order <= avg_order_interval_days * 1.6 THEN 15
        |                WHEN days_since_last_order <= 365 THEN 9
        |                ELSE 0 END
        |         ELSE
        |           CASE WHEN days_since_last_order <= 30 THEN 35
        |                WHEN days_since_last_order <= 90 THEN 26
        |                WHEN days_since_last_order <= 180 THEN 18
        |                WHEN days_since_last_order <= 365 THEN 9
        |                ELSE 0 END END AS rec_c,
        |    CASE WHEN customer_archetype = 'HVLF' THEN
        |           CASE WHEN orders_per_year >= 4 THEN 25
        |                WHEN orders_per_year >= 2 THEN 21
        |                WHEN orders_per_year >= 1 THEN 17 ELSE 8 END
        |         WHEN customer_archetype = 'HF' THEN
        |           CASE WHEN orders_per_year >= 12 THEN 25
        |                WHEN orders_per_year >= 8 THEN 21
        |                WHEN orders_per_year >= 6 THEN 17 ELSE 8 END
        |         ELSE
        |           CASE WHEN orders_per_year >= 12 THEN 25
        |                WHEN orders_per_year >= 6 THEN 21
        |                WHEN orders_per_year >= 4 THEN 17
        |                WHEN orders_per_year >= 2 THEN 13
        |                WHEN orders_per_year >= 1 THEN 8 ELSE 4 END END AS freq_c,
        |    CASE WHEN combined_growth_trend = 'Growing' THEN 20
        |         WHEN combined_growth_trend = 'New Customer' THEN 15
        |         WHEN combined_growth_trend = 'Stable' THEN 10
        |         WHEN combined_growth_trend = 'Declining' THEN 5
        |         ELSE 0 END AS g_c,
        |    CASE WHEN revenue_percentile >= 0.9 THEN 10
        |         WHEN revenue_percentile >= 0.75 THEN 8
        |         WHEN revenue_percentile >= 0.5 THEN 6
        |         WHEN revenue_percentile >= 0.25 THEN 4
        |         ELSE 2 END AS r_c,
        |    CASE WHEN engagement_level = 'High Engagement' THEN 10
        |         WHEN engagement_level = 'Medium Engagement' THEN 7
        |         WHEN engagement_level = 'Low Engagement' THEN 3
        |         ELSE 0 END AS e_c
        |  FROM trend
        |), scored AS (
        |  SELECT *,
        |    CAST(LEAST(100, rec_c + freq_c + g_c + r_c + e_c) AS INTEGER) AS health_score
        |  FROM bits
        |)
        |SELECT company, total_orders, active_years,
        |  CAST(last_order_date AS VARCHAR) AS last_order_date,
        |  CAST(first_order_date AS VARCHAR) AS first_order_date,
        |  total_revenue, avg_order_value, orders_last_90_days,
        |  revenue_last_90_days, orders_last_year, orders_prior_year,
        |  revenue_last_year, revenue_prior_year, product_diversity_score,
        |  orders_per_year, customer_archetype, revenue_percentile,
        |  avg_order_interval_days, days_since_last_order, activity_status,
        |  order_frequency_category, growth_trend_direction,
        |  combined_growth_trend, engagement_level, health_score,
        |  CASE WHEN health_score >= 80 THEN 'Excellent Health'
        |       WHEN health_score >= 60 THEN 'Good Health'
        |       WHEN health_score >= 40 THEN 'Fair Health'
        |       WHEN health_score >= 20 THEN 'Poor Health'
        |       ELSE 'Critical Health' END AS health_category,
        |  CASE WHEN days_since_last_order > 365 THEN TRUE
        |       WHEN growth_trend_direction = 'Lost Customer' THEN TRUE
        |       WHEN orders_last_year = 0 AND orders_prior_year > 0 THEN TRUE
        |       ELSE FALSE END AS at_risk_flag,
        |  CASE WHEN growth_trend_direction = 'Growing' AND health_score >= 70 THEN TRUE
        |       WHEN engagement_level = 'High Engagement' THEN TRUE
        |       WHEN orders_per_year >= 6 AND avg_order_value > 1000 THEN TRUE
        |       ELSE FALSE END AS growth_opportunity_flag
        |FROM scored
        |ORDER BY company""".stripMargin) { (s, d) =>
      import graft.ref.Marts
      val co = Tables.orders(s, d).select(
        col("o_custkey").as("company_domain_key"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_totalprice").as("order_amount"),
        col("o_orderpriority").as("distinct_products"))
      val fc = co.select(col("company_domain_key")).distinct()
        .withColumn("company_name",
          concat(lit("Company "), col("company_domain_key").cast("string")))
        .withColumn("domain_type", lit("corporate"))
        .withColumn("business_size_category", lit("Single Location"))
        .withColumn("revenue_category", lit("n/a"))
      Marts.dimCompanyHealth(co, fc, "2001-08-01")
        .select(
          col("company_domain_key").as("company"),
          col("total_orders"), col("active_years"),
          col("last_order_date").cast("string").as("last_order_date"),
          col("first_order_date").cast("string").as("first_order_date"),
          col("total_revenue"), col("avg_order_value"),
          col("orders_last_90_days"), col("revenue_last_90_days"),
          col("orders_last_year"), col("orders_prior_year"),
          col("revenue_last_year"), col("revenue_prior_year"),
          col("product_diversity_score"), col("orders_per_year"),
          col("customer_archetype"), col("revenue_percentile"),
          col("avg_order_interval_days"), col("days_since_last_order"),
          col("activity_status"), col("order_frequency_category"),
          col("growth_trend_direction"), col("combined_growth_trend"),
          col("engagement_level"), col("health_score"),
          col("health_category"), col("at_risk_flag"),
          col("growth_opportunity_flag"))
        .orderBy("company")
    }
  }

  /** A20 — native CUBE: all four grouping-set grains of
    * (status, priority) in ONE pass (Spark expands the sets into a
    * single Expand + aggregate — one shuffle, not four queries; the
    * a13 two-grain union is the hand-built special case). Rollup nulls
    * are COALESCEd to 'ALL' (neither column is nullable in the data,
    * so the marker is unambiguous). */
  val a20Cube: Q = Q.sql(
    "a20_cube_rollup",
    """SELECT
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")
  }

  /** A21 — native PIVOT: order counts per priority pivoted across the
    * three order statuses with Spark's `.pivot` (planned as one
    * conditional aggregate — exactly the SQL the oracle states, which
    * is also why the twin uses portable CASE aggregation rather than
    * DuckDB's PIVOT statement sugar). Missing cells coalesce to 0. */
  val a21Pivot: Q = Q.sql(
    "a21_pivot_status",
    """SELECT o_orderpriority AS priority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("priority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("priority")
  }

  /** A18d — SCHEMA drift through the REAL `Checks.schemaChanges` over
    * two committed `AtomicTable` versions: v2 drops a column, adds one
    * and retypes a third vs v1, and the check must report exactly those
    * three contract changes (pure parquet-footer metadata — no data
    * scan, so the alarm costs the same at 100 TB). The row count of the
    * surviving version keeps the output data-dependent so the gate
    * checks more than a constant table. Complements a18-family checks:
    * row-count drift (snapshotDrift) cannot see a column swap. */
  val a18dSchemaDrift: Q = Q.sql(
    "a18d_schema_drift",
    """WITH n AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_latest
      |  FROM orders WHERE o_orderkey % 3 <> 0
      |)
      |SELECT * FROM (
      |  SELECT 'o_orderpriority' AS column_name, 'added' AS change,
      |    CAST(NULL AS VARCHAR) AS old_type, 'STRING' AS new_type,
      |    n_rows_latest FROM n
      |  UNION ALL
      |  SELECT 'o_orderstatus', 'removed', 'STRING', NULL,
      |    n_rows_latest FROM n
      |  UNION ALL
      |  SELECT 'o_totalprice', 'type_changed', 'DOUBLE', 'STRING',
      |    n_rows_latest FROM n
      |)
      |ORDER BY column_name""".stripMargin) { (s, d) =>
    import graft.operators.AtomicTable
    import graft.quality.Checks
    val o = Tables.orders(s, d)
    val v1 = o.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderstatus"))
    val v2 = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("string").as("o_totalprice"),
        col("o_orderpriority"))
    val dir = Q.tempDir("graft_sdrift")
      .toString
    AtomicTable.commit(v1, dir, AtomicTable.nextVersion(s, dir))
    val latest = AtomicTable.nextVersion(s, dir)
    AtomicTable.commit(v2, dir, latest)
    val nLatest = AtomicTable.readVersion(s, dir, latest)
      .map(_.count()).getOrElse(0L)
    import s.implicits._
    Checks.schemaChanges(s, dir)
      .map(c => (c.columnName, c.change, c.oldType, c.newType, nLatest))
      .toDF("column_name", "change", "old_type", "new_type",
        "n_rows_latest")
      .orderBy("column_name")
  }

  /** A19 — ANALYZE-style table statistics through the REAL
    * `TableStats.compute`: row count, per-column non-null, exact NDV
    * and min/max (string-cast — integer/string columns only, double
    * formatting is not engine-portable) in ONE aggregate pass (Spark
    * plans the multi-distinct via a single Expand). These are the
    * numbers `graft.plans.StatsBroadcastRule` uses for stats-driven
    * broadcast decisions the file-size heuristic can't make. */
  val a19TableStats: Q = Q.sql(
    "a19_table_stats",
    """SELECT * FROM (
      |  SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
      |    CAST(COUNT(o_custkey) AS BIGINT) AS non_null,
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS max_val
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderkey', COUNT(*), CAST(COUNT(o_orderkey) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
      |    CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', COUNT(*),
      |    CAST(COUNT(o_orderpriority) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
      |    CAST(MIN(o_orderpriority) AS VARCHAR),
      |    CAST(MAX(o_orderpriority) AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', COUNT(*),
      |    CAST(COUNT(o_orderstatus) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
      |    CAST(MIN(o_orderstatus) AS VARCHAR),
      |    CAST(MAX(o_orderstatus) AS VARCHAR)
      |  FROM orders
      |)
      |ORDER BY column_name""".stripMargin) { (s, d) =>
    import graft.operators.TableStats
    val stats = TableStats.compute(Tables.orders(s, d),
      Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"))
    import s.implicits._
    stats.map(c => (c.column, c.nRows, c.nonNull, c.ndv,
        c.minS.orNull, c.maxS.orNull))
      .toDF("column_name", "n_rows", "non_null", "ndv", "min_val",
        "max_val")
      .orderBy("column_name")
  }

  /** A22 — native GROUPING SETS: exactly the three requested grains
    * (status×priority, status, priority) in ONE Expand + aggregate —
    * unlike CUBE (a20) there is no grand-total set, so the planner
    * expands each input row 3×, not 4×; the hand-built alternative is
    * three scans + a union. Same 'ALL' coalesce-marker convention as
    * a20 (neither key is nullable in the data). */
  val a22GroupingSets: Q = Q.sql(
    "a22_grouping_sets",
    """SELECT
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")
  }

  /** A23 — native UNPIVOT (melt): the three lineitem measures rotated
    * into (metric, val) rows with Spark's `Dataset.unpivot`, then
    * re-aggregated per (returnflag, metric). Spark plans the unpivot
    * as one Expand — a single scan emitting 3 rows per input, the
    * exact inverse of a21's pivot — where the naive form is three
    * scans unioned (what the portable oracle twin spells out). */
  val a23Unpivot: Q = Q.sql(
    "a23_unpivot_measures",
    """SELECT l_returnflag AS flag, metric,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST((val) AS DECIMAL(38,6))) AS DOUBLE) AS total_val
      |FROM (
      |  SELECT l_returnflag, 'l_discount' AS metric, l_discount AS val FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_quantity', l_quantity FROM lineitem
      |)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .groupBy(col("l_returnflag").as("flag"), col("metric"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("val")).as("total_val"))
      .orderBy("flag", "metric")
  }

  val all: Seq[Q] = Seq(q1PricingSummary, aCompanyHealth, a1OrderRollup,
    a2CustomerRevenue,
    a3StringAgg, a4Mode, a7PeriodMetrics, a12MultiGrain, a13MarginGrains,
    a18Quality, a18bRefIntegrity, a18cFreshness, a18dSchemaDrift, a19TableStats,
    a20Cube, a21Pivot, a22GroupingSets, a23Unpivot)
}
