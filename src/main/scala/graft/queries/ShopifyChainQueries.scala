package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.ref.Shopify

/** Oracle coverage for the Shopify intermediate chain that was
  * previously ScalaTest-only: the fulfillment staging → order-grain
  * collapse → enrichment joins (P15/A5/J9,
  * int_shopify__orders_enriched.sql:13-70) and the customer behavior
  * rollup (A6, int_shopify__customer_enrichment.sql). Inputs are
  * synthesized deterministically from the testdata star schema in BOTH
  * engines (the OrdersChainQueries pattern), and the Spark side runs
  * the REAL model functions (`ref.Shopify.orderFulfillments` →
  * `ordersEnriched`; `customerEnrichment`), so the gate proves the
  * production code path, not a re-implementation.
  *
  * Determinism notes (README rules): money flows through
  * DECIMAL(38,6) before any aggregate; timestamps are whole-second and
  * cast to string in the output; integer sums are BIGINT-cast on the
  * DuckDB side. `avg_order_value` is computed by the model but NOT
  * projected into the oracle output: Spark averages decimals in
  * decimal (HALF_UP at scale 10) while DuckDB averages in binary
  * doubles, so the two engines legitimately differ in the last ulps —
  * the same engine-portability class as ROUND(double, 2).
  */
object ShopifyChainQueries {

  /** `src`: the synthetic Shopify order attributes (source, discounts,
    * utm source, referrer) derived from each order key. */
  private val shopifySrcCte: String =
    """src AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'pos' END AS source_name,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 0.01 ELSE 0.0 END AS total_discounts,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'google_ads' END AS utm_source,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'https://www.google.com/search'
      |         WHEN o_orderkey % 5 = 1 THEN 'https://partner.example.com/link'
      |         END AS referrer
      |  FROM orders
      |)""".stripMargin

  /** P15/A5/J9 — raw fulfillments (child rows with `_dlt_parent_id`)
    * staged at row grain via the REAL `orderFulfillments` (optional
    * tracking columns included), collapsed to order grain and joined
    * back with attribution by the REAL `ordersEnriched`, exercising
    * every acquisition_channel branch plus the left-join miss arm
    * (orders with no fulfillment rows). */
  val a5FulfillmentChain: Q = Q.sql(
    "a5_fulfillment_collapse_chain",
    s"""WITH raw_f AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS id,
      |    l_orderkey,
      |    CASE WHEN l_linestatus = 'F' THEN 'success' ELSE 'pending' END AS status,
      |    CASE WHEN l_linenumber % 2 = 0 THEN
      |      CASE l_suppkey % 3 WHEN 0 THEN 'UPS' WHEN 1 THEN 'FedEx' ELSE 'USPS' END
      |      END AS tracking_company,
      |    CASE WHEN l_orderkey % 3 = 0
      |         THEN 'TRK' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)
      |         END AS tracking_number,
      |    CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS fulfilled_ts
      |  FROM lineitem
      |  WHERE l_linenumber <= 3 AND l_orderkey % 7 <> 0
      |), collapsed AS (
      |  SELECT l_orderkey,
      |    MAX(status) AS fulfillment_latest_status,
      |    MAX(tracking_number) AS tracking_number,
      |    MAX(tracking_company) AS tracking_company,
      |    MAX(fulfilled_ts) AS fulfilled_at
      |  FROM raw_f GROUP BY l_orderkey
      |), $shopifySrcCte
      |SELECT s.o_orderkey AS shopify_order_id,
      |  c.fulfillment_latest_status, c.tracking_number, c.tracking_company,
      |  CAST(c.fulfilled_at AS VARCHAR) AS fulfilled_at,
      |  CASE WHEN s.utm_source IS NOT NULL THEN 'Paid'
      |       WHEN LOWER(COALESCE(s.referrer, '')) LIKE '%google%'
      |            OR LOWER(COALESCE(s.referrer, '')) LIKE '%bing%'
      |            OR LOWER(COALESCE(s.referrer, '')) LIKE '%duckduckgo%'
      |            THEN 'Organic Search'
      |       WHEN s.referrer IS NOT NULL THEN 'Referral'
      |       WHEN s.source_name = 'web' THEN 'Direct'
      |       ELSE 'Unknown' END AS acquisition_channel,
      |  COALESCE(s.total_discounts, 0) > 0 AS has_discount,
      |  c.tracking_number IS NOT NULL AS has_tracking
      |FROM src s LEFT JOIN collapsed c ON s.o_orderkey = c.l_orderkey
      |ORDER BY shopify_order_id""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val rawFulfillments = li
      .filter(col("l_linenumber") <= 3 && col("l_orderkey") % 7 =!= 0)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        concat(lit("dlt"), col("l_orderkey").cast("string"))
          .as("_dlt_parent_id"),
        when(col("l_linestatus") === "F", "success").otherwise("pending")
          .as("status"),
        when(col("l_linenumber") % 2 === 0,
          when(col("l_suppkey") % 3 === 0, "UPS")
            .when(col("l_suppkey") % 3 === 1, "FedEx").otherwise("USPS"))
          .as("tracking_company"),
        when(col("l_orderkey") % 3 === 0,
          concat(lit("TRK"),
            (col("l_orderkey") * 10 + col("l_linenumber")).cast("string")))
          .as("tracking_number"),
        col("l_shipdate").cast("date").cast("string").as("created_at"),
        // exercises the optTs + nullifBlank guard: blank → null
        when(col("l_orderkey") % 5 === 0, lit(""))
          .otherwise(date_add(col("l_shipdate").cast("date"), 2)
            .cast("string"))
          .as("updated_at"))
    val rawOrders = o.select(
      col("o_orderkey").as("id"),
      concat(lit("dlt"), col("o_orderkey").cast("string")).as("_dlt_id"))
    val staged = Shopify.orderFulfillments(rawFulfillments, rawOrders)
    enrichedOrders(o, Some(staged))
  }

  /** A6 — the REAL `customerEnrichment` rollup over synthesized
    * enriched orders: per-customer counts, decimal-exact lifetime
    * value, discount counts, first/last order dates, channel
    * diversity, and the null-safe subscriber flags; customers with no
    * orders take the coalesced-zero arm, null customer_ids are
    * filtered by the model. */
  val a6CustomerBehavior: Q = Q.sql(
    "a6_customer_behavior_rollup",
    """WITH stg AS (
      |  SELECT c_custkey AS customer_id,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'subscribed'
      |         WHEN c_custkey % 3 = 1 THEN 'not_subscribed' END AS email_marketing_status,
      |    CASE WHEN c_custkey % 4 = 0 THEN 'subscribed'
      |         ELSE 'unsubscribed' END AS sms_marketing_status
      |  FROM customer
      |), oe AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS customer_id,
      |    CAST(o_totalprice AS DECIMAL(38,6)) AS total_price,
      |    o_orderkey % 3 = 0 AS has_discount,
      |    CAST(o_orderdate AS DATE) AS created_at,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'Paid'
      |         WHEN o_orderkey % 4 = 1 THEN 'Organic Search'
      |         WHEN o_orderkey % 4 = 2 THEN 'Referral'
      |         ELSE 'Direct' END AS acquisition_channel
      |  FROM orders
      |), agg AS (
      |  SELECT customer_id,
      |    COUNT(*) AS order_count,
      |    CAST(SUM(total_price) AS DOUBLE) AS ltv,
      |    CAST(SUM(CASE WHEN has_discount THEN 1 ELSE 0 END) AS BIGINT) AS disc_count,
      |    CAST(MIN(created_at) AS VARCHAR) AS first_order_date,
      |    CAST(MAX(created_at) AS VARCHAR) AS last_order_date,
      |    COUNT(DISTINCT acquisition_channel) AS channel_diversity
      |  FROM oe WHERE customer_id IS NOT NULL GROUP BY customer_id
      |)
      |SELECT s.customer_id,
      |  COALESCE(a.order_count, 0) AS shopify_order_count,
      |  COALESCE(a.ltv, 0.0) AS shopify_lifetime_value,
      |  COALESCE(a.disc_count, 0) AS discounted_order_count,
      |  a.first_order_date, a.last_order_date,
      |  COALESCE(a.channel_diversity, 0) AS channel_diversity,
      |  COALESCE(s.email_marketing_status = 'subscribed', FALSE) AS is_email_subscriber,
      |  COALESCE(s.sms_marketing_status = 'subscribed', FALSE) AS is_sms_subscriber
      |FROM stg s LEFT JOIN agg a ON s.customer_id = a.customer_id
      |ORDER BY s.customer_id""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val stgCustomers = c.select(
      col("c_custkey").as("customer_id"),
      when(col("c_custkey") % 3 === 0, "subscribed")
        .when(col("c_custkey") % 3 === 1, "not_subscribed")
        .as("email_marketing_status"),
      when(col("c_custkey") % 4 === 0, "subscribed")
        .otherwise("unsubscribed").as("sms_marketing_status"))
    val ordersEnriched = o.select(
      when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("customer_id"),
      col("o_totalprice").cast(DecimalType(38, 6)).as("total_price"),
      (col("o_orderkey") % 3 === 0).as("has_discount"),
      col("o_orderdate").cast("date").as("created_at"),
      when(col("o_orderkey") % 4 === 0, "Paid")
        .when(col("o_orderkey") % 4 === 1, "Organic Search")
        .when(col("o_orderkey") % 4 === 2, "Referral")
        .otherwise("Direct").as("acquisition_channel"))
    Shopify.customerEnrichment(stgCustomers, ordersEnriched)
      .select(
        col("customer_id"),
        col("shopify_order_count"),
        col("shopify_lifetime_value").cast("double")
          .as("shopify_lifetime_value"),
        col("discounted_order_count"),
        col("first_order_date").cast("string").as("first_order_date"),
        col("last_order_date").cast("string").as("last_order_date"),
        col("channel_diversity"),
        col("is_email_subscriber"), col("is_sms_subscriber"))
      .orderBy("customer_id")
  }

  /** J4 — the existence-guard MISSING arm of the same enrichment: the
    * fulfillment source is absent (`stagedFulfillments = None`, the
    * `adapter.get_relation` guard in fct_orders.sql:24-55 /
    * int_shopify__orders_enriched.sql), so the model degrades every
    * fulfillment column to typed nulls and `has_tracking` to false
    * while the rest of the enrichment still computes — proven against
    * an oracle that hard-codes the degraded columns. */
  val j4ExistenceGuard: Q = Q.sql(
    "j4_existence_guard",
    s"""WITH $shopifySrcCte
      |SELECT o_orderkey AS shopify_order_id,
      |  CAST(NULL AS VARCHAR) AS fulfillment_latest_status,
      |  CAST(NULL AS VARCHAR) AS tracking_number,
      |  CAST(NULL AS VARCHAR) AS tracking_company,
      |  CAST(NULL AS VARCHAR) AS fulfilled_at,
      |  CASE WHEN utm_source IS NOT NULL THEN 'Paid'
      |       WHEN LOWER(COALESCE(referrer, '')) LIKE '%google%'
      |            OR LOWER(COALESCE(referrer, '')) LIKE '%bing%'
      |            OR LOWER(COALESCE(referrer, '')) LIKE '%duckduckgo%'
      |            THEN 'Organic Search'
      |       WHEN referrer IS NOT NULL THEN 'Referral'
      |       WHEN source_name = 'web' THEN 'Direct'
      |       ELSE 'Unknown' END AS acquisition_channel,
      |  COALESCE(total_discounts, 0) > 0 AS has_discount,
      |  FALSE AS has_tracking
      |FROM src ORDER BY shopify_order_id""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    enrichedOrders(o, None)
  }

  /** `Shopify.ordersEnriched` over staged orders and attribution
    * synthesized from `orders` (the [[shopifySrcCte]] rules), with the
    * fulfillment source `staged` present or absent. */
  private def enrichedOrders(o: DataFrame,
                             staged: Option[DataFrame]): DataFrame = {
    val stagedOrders = o.select(
      col("o_orderkey").as("shopify_order_id"),
      when(col("o_orderkey") % 2 === 0, "web").otherwise("pos")
        .as("source_name"),
      when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 0.01)
        .otherwise(0.0).as("total_discounts"))
    val attribution = o.select(
      col("o_orderkey").as("shopify_order_id"),
      when(col("o_orderkey") % 4 === 0, "google_ads").as("utm_source"),
      lit(null).cast("string").as("utm_medium"),
      lit(null).cast("string").as("utm_campaign"),
      when(col("o_orderkey") % 5 === 0, "https://www.google.com/search")
        .when(col("o_orderkey") % 5 === 1,
          "https://partner.example.com/link").as("referrer"),
      lit(null).cast("string").as("landing_page"))
    Shopify.ordersEnriched(stagedOrders, staged, attribution)
      .select(
        col("shopify_order_id"),
        col("fulfillment_latest_status"),
        col("tracking_number"), col("tracking_company"),
        col("fulfilled_at").cast("string").as("fulfilled_at"),
        col("acquisition_channel"), col("has_discount"),
        col("has_tracking"))
      .orderBy("shopify_order_id")
  }

  /** A14 — the REAL `TradeShows.showPerformance` per-show rollup (the
    * conditional-sum battery of fct_trade_show_performance.sql:16-120)
    * over a synthesized fct_trade_show_leads frame: conversion counts
    * per attribution window, decimal-exact revenue sums, distinct
    * email/company counts, and integer-exact day averages. The two
    * ROUND(double, 2) rate columns the model also computes are NOT
    * projected (ROUND on doubles is engine-nonportable, README rules);
    * the optional show_location/show_rep grouping keys are absent,
    * exercising the schema-adaptive grouping branch. */
  val a14ShowPerformance: Q = {
    def cntSql(cond: String) =
      s"CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)"
    Q.sql(
      "a14_show_performance",
      s"""WITH leads AS (
        |  SELECT
        |    'Show ' || CAST(c_custkey % 4 AS VARCHAR) AS show_name,
        |    CAST(DATE '2024-03-01' + CAST(c_custkey % 4 AS INTEGER) * 30 AS VARCHAR) AS show_date,
        |    'u' || CAST(c_custkey % 500 AS VARCHAR) || '@x.com' AS email,
        |    c_custkey % 10 <> 1 AS has_valid_email,
        |    c_custkey % 3 <> 0 AS matched_to_company,
        |    'd' || CAST(c_custkey % 50 AS VARCHAR) AS company_domain_key,
        |    c_custkey % 5 = 0 AS is_personal_email,
        |    c_custkey % 7 = 0 AS lead_email_is_customer,
        |    c_custkey % 11 = 0 AS attributed_30d,
        |    c_custkey % 9 = 0 AS attributed_90d,
        |    c_custkey % 8 = 0 AS attributed_180d,
        |    c_custkey % 6 = 0 AS attributed_365d,
        |    c_custkey % 4 = 0 AS attributed_all_time,
        |    c_custkey % 13 = 0 AS is_new_customer_from_show,
        |    CAST(CASE WHEN c_custkey % 11 = 0 THEN c_acctbal ELSE 0 END AS DECIMAL(38,6)) AS revenue_30d,
        |    CAST(CASE WHEN c_custkey % 9 = 0 THEN c_acctbal * 2 ELSE 0 END AS DECIMAL(38,6)) AS revenue_90d,
        |    CAST(CASE WHEN c_custkey % 8 = 0 THEN c_acctbal * 3 ELSE 0 END AS DECIMAL(38,6)) AS revenue_180d,
        |    CAST(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal * 4 ELSE 0 END AS DECIMAL(38,6)) AS revenue_365d,
        |    CAST(CASE WHEN c_custkey % 4 = 0 THEN c_acctbal * 5 ELSE 0 END AS DECIMAL(38,6)) AS revenue_all_time,
        |    CAST(c_custkey % 3 AS INTEGER) AS orders_90d,
        |    CAST(c_custkey % 5 AS INTEGER) AS orders_365d,
        |    CAST(c_custkey % 6 AS INTEGER) AS orders_all_time,
        |    CAST(c_custkey % 4 AS INTEGER) AS distinct_purchasers_count,
        |    CAST(c_custkey % 40 AS INTEGER) AS days_from_show_to_first_order,
        |    CASE WHEN c_custkey % 4 = 0 THEN CAST(c_custkey % 30 AS INTEGER) END AS days_to_conversion
        |  FROM customer
        |)
        |SELECT show_name, show_date,
        |  COUNT(*) AS total_leads_collected,
        |  COUNT(DISTINCT email) AS unique_emails_collected,
        |  COUNT(DISTINCT CASE WHEN has_valid_email THEN email END) AS valid_emails,
        |  COUNT(DISTINCT CASE WHEN matched_to_company THEN company_domain_key END) AS companies_matched,
        |  ${cntSql("matched_to_company")} AS leads_matched_to_companies,
        |  ${cntSql("NOT matched_to_company")} AS leads_unmatched,
        |  ${cntSql("is_personal_email")} AS leads_individual_emails,
        |  ${cntSql("lead_email_is_customer")} AS leads_who_are_direct_customers,
        |  ${cntSql("NOT lead_email_is_customer AND attributed_all_time")} AS leads_attributed_via_company_colleagues,
        |  CAST(SUM(distinct_purchasers_count) AS BIGINT) AS total_distinct_purchasers,
        |  ${cntSql("is_new_customer_from_show")} AS new_customers_acquired,
        |  ${cntSql("attributed_30d")} AS conversions_30d,
        |  CAST(SUM(revenue_30d) AS DOUBLE) AS total_revenue_30d,
        |  ${cntSql("attributed_90d")} AS conversions_90d,
        |  CAST(SUM(revenue_90d) AS DOUBLE) AS total_revenue_90d,
        |  CAST(SUM(orders_90d) AS BIGINT) AS total_orders_90d,
        |  ${cntSql("attributed_180d")} AS conversions_180d,
        |  CAST(SUM(revenue_180d) AS DOUBLE) AS total_revenue_180d,
        |  ${cntSql("attributed_365d")} AS conversions_365d,
        |  CAST(SUM(revenue_365d) AS DOUBLE) AS total_revenue_365d,
        |  CAST(SUM(orders_365d) AS BIGINT) AS total_orders_365d,
        |  ${cntSql("attributed_all_time")} AS conversions_all_time,
        |  CAST(SUM(revenue_all_time) AS DOUBLE) AS total_revenue_all_time,
        |  CAST(SUM(orders_all_time) AS BIGINT) AS total_orders_all_time,
        |  AVG(CASE WHEN attributed_90d THEN days_from_show_to_first_order END) AS avg_days_to_conversion_90d,
        |  AVG(CASE WHEN attributed_365d THEN days_from_show_to_first_order END) AS avg_days_to_conversion_365d,
        |  AVG(CASE WHEN attributed_all_time THEN days_from_show_to_first_order END) AS avg_days_to_conversion_all_time,
        |  AVG(days_to_conversion) AS avg_days_to_conversion
        |FROM leads
        |GROUP BY show_name, show_date
        |ORDER BY show_name""".stripMargin) { (s, d) =>
      val k = col("c_custkey")
      val leads = Tables.customer(s, d).select(
        concat(lit("Show "), (k % 4).cast("string")).as("show_name"),
        date_add(lit("2024-03-01").cast("date"),
          ((k % 4) * 30).cast("int")).as("show_date"),
        concat(lit("u"), (k % 500).cast("string"), lit("@x.com"))
          .as("email"),
        (k % 10 =!= 1).as("has_valid_email"),
        (k % 3 =!= 0).as("matched_to_company"),
        concat(lit("d"), (k % 50).cast("string"))
          .as("company_domain_key"),
        (k % 5 === 0).as("is_personal_email"),
        (k % 7 === 0).as("lead_email_is_customer"),
        (k % 11 === 0).as("attributed_30d"),
        (k % 9 === 0).as("attributed_90d"),
        (k % 8 === 0).as("attributed_180d"),
        (k % 6 === 0).as("attributed_365d"),
        (k % 4 === 0).as("attributed_all_time"),
        (k % 13 === 0).as("is_new_customer_from_show"),
        when(k % 11 === 0, col("c_acctbal")).otherwise(0.0)
          .cast(DecimalType(38, 6)).as("revenue_30d"),
        when(k % 9 === 0, col("c_acctbal") * 2).otherwise(0.0)
          .cast(DecimalType(38, 6)).as("revenue_90d"),
        when(k % 8 === 0, col("c_acctbal") * 3).otherwise(0.0)
          .cast(DecimalType(38, 6)).as("revenue_180d"),
        when(k % 6 === 0, col("c_acctbal") * 4).otherwise(0.0)
          .cast(DecimalType(38, 6)).as("revenue_365d"),
        when(k % 4 === 0, col("c_acctbal") * 5).otherwise(0.0)
          .cast(DecimalType(38, 6)).as("revenue_all_time"),
        (k % 3).cast("int").as("orders_90d"),
        (k % 5).cast("int").as("orders_365d"),
        (k % 6).cast("int").as("orders_all_time"),
        (k % 4).cast("int").as("distinct_purchasers_count"),
        (k % 40).cast("int").as("days_from_show_to_first_order"),
        when(k % 4 === 0, (k % 30).cast("int")).as("days_to_conversion"))
      val perf = graft.ref.TradeShows.showPerformance(leads)
      perf.select(
        col("show_name"), col("show_date").cast("string").as("show_date"),
        col("total_leads_collected"), col("unique_emails_collected"),
        col("valid_emails"), col("companies_matched"),
        col("leads_matched_to_companies"), col("leads_unmatched"),
        col("leads_individual_emails"),
        col("leads_who_are_direct_customers"),
        col("leads_attributed_via_company_colleagues"),
        col("total_distinct_purchasers").cast("long")
          .as("total_distinct_purchasers"),
        col("new_customers_acquired"),
        col("conversions_30d"),
        col("total_revenue_30d").cast("double").as("total_revenue_30d"),
        col("conversions_90d"),
        col("total_revenue_90d").cast("double").as("total_revenue_90d"),
        col("total_orders_90d").cast("long").as("total_orders_90d"),
        col("conversions_180d"),
        col("total_revenue_180d").cast("double").as("total_revenue_180d"),
        col("conversions_365d"),
        col("total_revenue_365d").cast("double").as("total_revenue_365d"),
        col("total_orders_365d").cast("long").as("total_orders_365d"),
        col("conversions_all_time"),
        col("total_revenue_all_time").cast("double")
          .as("total_revenue_all_time"),
        col("total_orders_all_time").cast("long")
          .as("total_orders_all_time"),
        col("avg_days_to_conversion_90d"),
        col("avg_days_to_conversion_365d"),
        col("avg_days_to_conversion_all_time"),
        col("avg_days_to_conversion"))
        .orderBy("show_name")
    }
  }

  /** P11 — the REAL `Shopify.orders` staging transform: test-order
    * filter (null-safe), 'S-' order keys, dirty-string money through
    * the rlike-guarded safeNumeric, status normalization with blank→
    * UNFULFILLED default, and — the schema-tolerance half — total_tax /
    * shipping_amount / buyer_accepts_marketing / user_agent ABSENT
    * from the source, so every optional-column guard takes its
    * null-typed arm (macros/optional_columns.sql:6-22). */
  val p11ShopifyOrders: Q = Q.sql(
    "p11_shopify_orders_staging",
    """WITH raw AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
      |    CASE WHEN o_orderkey % 50 = 0 THEN TRUE
      |         WHEN o_orderkey % 50 = 1 THEN NULL ELSE FALSE END AS test,
      |    '$' || CAST(o_totalprice AS VARCHAR) AS total_price,
      |    CAST(o_totalprice AS VARCHAR) AS subtotal_price,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
      |         ELSE CAST(o_orderkey % 20 AS VARCHAR) END AS total_discounts,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'paid'
      |         WHEN o_orderkey % 3 = 1 THEN 'pending'
      |         ELSE 'refunded' END AS financial_status,
      |    CASE WHEN o_orderkey % 4 = 0 THEN ''
      |         WHEN o_orderkey % 4 = 1 THEN NULL
      |         ELSE 'fulfilled' END AS fulfillment_status,
      |    'u' || CAST(o_custkey AS VARCHAR) || '@x.com' AS email,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'pos' END AS source_name
      |  FROM orders
      |)
      |SELECT o_orderkey AS shopify_order_id,
      |  'S-' || CAST(o_orderkey AS VARCHAR) AS order_number,
      |  CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS created_at,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(total_price, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS total_price,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(subtotal_price, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS subtotal_price,
      |  COALESCE(TRY_CAST(REGEXP_REPLACE(total_discounts, '[,$%\s]', '', 'g') AS DOUBLE), 0.0) AS total_discounts,
      |  UPPER(financial_status) AS financial_status,
      |  COALESCE(NULLIF(fulfillment_status, ''), 'UNFULFILLED') AS fulfillment_status,
      |  email, source_name,
      |  o_custkey AS customer_id,
      |  CAST(NULL AS DOUBLE) AS total_tax,
      |  CAST(NULL AS DOUBLE) AS shipping_amount,
      |  CAST(NULL AS BOOLEAN) AS buyer_accepts_marketing,
      |  CAST(NULL AS VARCHAR) AS user_agent
      |FROM raw
      |WHERE NOT COALESCE(test, FALSE)
      |ORDER BY shopify_order_id""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val raw = o.select(
      col("o_orderkey").as("id"),
      col("o_orderkey").as("order_number"),
      col("o_orderdate").cast("date").cast("string").as("created_at"),
      when(col("o_orderkey") % 50 === 0, lit(true))
        .when(col("o_orderkey") % 50 === 1, lit(null).cast("boolean"))
        .otherwise(lit(false)).as("test"),
      concat(lit("$"), col("o_totalprice").cast("string"))
        .as("total_price"),
      col("o_totalprice").cast("string").as("subtotal_price"),
      when(col("o_orderkey") % 7 === 0, "N/A")
        .otherwise((col("o_orderkey") % 20).cast("string"))
        .as("total_discounts"),
      when(col("o_orderkey") % 3 === 0, "paid")
        .when(col("o_orderkey") % 3 === 1, "pending")
        .otherwise("refunded").as("financial_status"),
      when(col("o_orderkey") % 4 === 0, lit(""))
        .when(col("o_orderkey") % 4 === 1, lit(null).cast("string"))
        .otherwise(lit("fulfilled")).as("fulfillment_status"),
      concat(lit("u"), col("o_custkey").cast("string"), lit("@x.com"))
        .as("email"),
      lit(null).cast("string").as("landing_site"),
      lit(null).cast("string").as("referring_site"),
      when(col("o_orderkey") % 2 === 0, "web").otherwise("pos")
        .as("source_name"),
      concat(lit("dlt"), col("o_orderkey").cast("string")).as("_dlt_id"),
      col("o_custkey").as("customer_id"))
    Shopify.orders(raw)
      .select(
        col("shopify_order_id"), col("order_number"),
        col("created_at").cast("string").as("created_at"),
        col("total_price"), col("subtotal_price"), col("total_discounts"),
        col("financial_status"), col("fulfillment_status"),
        col("email"), col("source_name"), col("customer_id"),
        col("total_tax"), col("shipping_amount"),
        col("buyer_accepts_marketing"), col("user_agent"))
      .orderBy("shopify_order_id")
  }

  /** J10 — the REAL `TradeShows.leadsWithCompanyMatch` two-hop
    * broadcast chain: lead email domains → domain mapping (corporate
    * domains only produce a company key) → company facts, with the
    * derived matched/new-customer flags; unmatched domains and
    * corporate domains with no company row exercise both left-join
    * miss arms. */
  val j10LeadCompanyMatch: Q = Q.sql(
    "j10_lead_company_match",
    """WITH leads AS (
      |  SELECT c_custkey AS lead_id,
      |    'd' || CAST(c_custkey % 30 AS VARCHAR) || '.com' AS email_domain,
      |    DATE '2024-03-01' + CAST((c_custkey % 4) * 30 AS INTEGER) AS show_date
      |  FROM customer
      |), mapping AS (
      |  SELECT 'd' || CAST(n_nationkey AS VARCHAR) || '.com' AS email_domain,
      |    'corp' || CAST(n_nationkey AS VARCHAR) || '.com' AS normalized_domain,
      |    CASE WHEN n_nationkey % 3 = 0 THEN 'corporate' ELSE 'generic' END AS domain_type
      |  FROM nation
      |), companies AS (
      |  SELECT 'corp' || CAST(n_nationkey AS VARCHAR) || '.com' AS company_domain_key,
      |    'Co ' || n_name AS matched_company_name,
      |    CAST(n_nationkey AS DOUBLE) * 1000.5 AS company_lifetime_revenue,
      |    n_nationkey AS company_lifetime_orders,
      |    DATE '2024-01-01' + CAST(n_nationkey * 20 AS INTEGER) AS company_first_order_date,
      |    DATE '2024-01-01' + CAST(n_nationkey * 20 + 300 AS INTEGER) AS company_latest_order_date
      |  FROM nation WHERE n_nationkey % 2 = 0
      |), joined AS (
      |  SELECT l.lead_id, l.email_domain, l.show_date,
      |    m.normalized_domain, m.domain_type,
      |    CASE WHEN m.domain_type = 'corporate' THEN m.normalized_domain END AS company_domain_key
      |  FROM leads l LEFT JOIN mapping m ON l.email_domain = m.email_domain
      |)
      |SELECT j.lead_id, j.email_domain, j.normalized_domain, j.domain_type,
      |  j.company_domain_key, c.matched_company_name,
      |  c.company_lifetime_revenue, c.company_lifetime_orders,
      |  CAST(c.company_first_order_date AS VARCHAR) AS company_first_order_date,
      |  CAST(c.company_latest_order_date AS VARCHAR) AS company_latest_order_date,
      |  c.matched_company_name IS NOT NULL AS matched_to_company,
      |  COALESCE(c.company_first_order_date >= j.show_date, FALSE) AS is_new_customer_from_show
      |FROM joined j LEFT JOIN companies c
      |  ON j.company_domain_key = c.company_domain_key
      |ORDER BY j.lead_id""".stripMargin) { (s, d) =>
    val k = col("c_custkey")
    val leads = Tables.customer(s, d).select(
      k.as("lead_id"),
      concat(lit("d"), (k % 30).cast("string"), lit(".com"))
        .as("email_domain"),
      date_add(lit("2024-03-01").cast("date"),
        ((k % 4) * 30).cast("int")).as("show_date"))
    val nk = col("n_nationkey")
    val mapping = Tables.nation(s, d).select(
      concat(lit("d"), nk.cast("string"), lit(".com"))
        .as("original_domain"),
      concat(lit("corp"), nk.cast("string"), lit(".com"))
        .as("normalized_domain"),
      when(nk % 3 === 0, "corporate").otherwise("generic")
        .as("domain_type"))
    val companies = Tables.nation(s, d).filter(nk % 2 === 0).select(
      concat(lit("corp"), nk.cast("string"), lit(".com"))
        .as("company_domain_key"),
      concat(lit("Co "), col("n_name")).as("company_name"),
      (nk.cast("double") * 1000.5).as("total_revenue"),
      nk.as("total_orders"),
      date_add(lit("2024-01-01").cast("date"), (nk * 20).cast("int"))
        .as("first_order_date"),
      date_add(lit("2024-01-01").cast("date"),
        (nk * 20 + 300).cast("int")).as("latest_order_date"))
    graft.ref.TradeShows.leadsWithCompanyMatch(leads, mapping, companies)
      .select(
        col("lead_id"), col("email_domain"), col("normalized_domain"),
        col("domain_type"), col("company_domain_key"),
        col("matched_company_name"), col("company_lifetime_revenue"),
        col("company_lifetime_orders"),
        col("company_first_order_date").cast("string")
          .as("company_first_order_date"),
        col("company_latest_order_date").cast("string")
          .as("company_latest_order_date"),
        col("matched_to_company"), col("is_new_customer_from_show"))
      .orderBy("lead_id")
  }

  /** P12 — the REAL `Shopify.orderAttribution` UTM extraction:
    * /checkout landings excluded (null-safe), own-host and
    * pay.shopify.com referrers nulled, landing page split at '?', and
    * the utm_source/medium/campaign params regex-extracted with
    * '+'→space decoding and empty→null (stg_shopify__order_attribution
    * P12/UTM rules). Covers every landing/referrer branch including
    * null landing sites (where landing_page degrades to '' by the
    * splitPart contract). */
  val p12UtmExtraction: Q = Q.sql(
    "p12_utm_extraction",
    """WITH src AS (
      |  SELECT o_orderkey,
      |    'S-' || CAST(o_orderkey AS VARCHAR) AS order_number,
      |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS created_at,
      |    o_totalprice AS total_price,
      |    CASE WHEN o_orderkey % 7 = 0 THEN '/checkout/step1'
      |         WHEN o_orderkey % 7 = 1 THEN NULL
      |         WHEN o_orderkey % 7 = 2 THEN '/products/anchor?utm_source=google+ads&utm_medium=cpc&utm_campaign=spring+sale'
      |         WHEN o_orderkey % 7 = 3 THEN '/landing?utm_source=fb'
      |         ELSE '/home' END AS landing_site,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'https://www.myshop.com/x'
      |         WHEN o_orderkey % 5 = 1 THEN 'https://pay.shopify.com/y'
      |         WHEN o_orderkey % 5 = 2 THEN NULL
      |         ELSE 'https://ref.example.com/z' END AS referring_site
      |  FROM orders
      |)
      |SELECT o_orderkey AS shopify_order_id, order_number, created_at,
      |  total_price,
      |  COALESCE(SPLIT_PART(landing_site, '?', 1), '') AS landing_page,
      |  CASE WHEN referring_site LIKE '%myshop.com%'
      |         OR referring_site LIKE '%pay.shopify.com%' THEN NULL
      |       ELSE referring_site END AS referrer,
      |  NULLIF(REPLACE(REGEXP_EXTRACT(landing_site, 'utm_source=([^&]*)', 1), '+', ' '), '') AS utm_source,
      |  NULLIF(REPLACE(REGEXP_EXTRACT(landing_site, 'utm_medium=([^&]*)', 1), '+', ' '), '') AS utm_medium,
      |  NULLIF(REPLACE(REGEXP_EXTRACT(landing_site, 'utm_campaign=([^&]*)', 1), '+', ' '), '') AS utm_campaign
      |FROM src
      |WHERE landing_site IS NULL OR landing_site NOT LIKE '%/checkout%'
      |ORDER BY shopify_order_id""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val k = col("o_orderkey")
    val staged = o.select(
      k.as("shopify_order_id"),
      concat(lit("S-"), k.cast("string")).as("order_number"),
      col("o_orderdate").cast("date").cast("string").as("created_at"),
      col("o_totalprice").as("total_price"),
      when(k % 7 === 0, "/checkout/step1")
        .when(k % 7 === 1, lit(null).cast("string"))
        .when(k % 7 === 2,
          "/products/anchor?utm_source=google+ads&utm_medium=cpc&utm_campaign=spring+sale")
        .when(k % 7 === 3, "/landing?utm_source=fb")
        .otherwise("/home").as("landing_site"),
      when(k % 5 === 0, "https://www.myshop.com/x")
        .when(k % 5 === 1, "https://pay.shopify.com/y")
        .when(k % 5 === 2, lit(null).cast("string"))
        .otherwise("https://ref.example.com/z").as("referring_site"))
    Shopify.orderAttribution(staged, ownHost = "myshop.com")
      .orderBy("shopify_order_id")
  }

  val all: Seq[Q] = Seq(a5FulfillmentChain, a6CustomerBehavior,
    j4ExistenceGuard, a14ShowPerformance, p11ShopifyOrders,
    j10LeadCompanyMatch, p12UtmExtraction)
}
