package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Det._

/** Join operators from SURVEY §2.3 on the testdata star schema.
  *
  * Scale notes: dimension joins (region/nation/supplier/part at sf-scale
  * thousands of rows vs billions of lineitems) are explicitly
  * `broadcast()`-hinted — at 100 TB the fact side never shuffles for them.
  * Fact-fact joins (orders⋈lineitem) shuffle on the join key, which is the
  * natural co-partition key; with bucketed storage both sides would be
  * shuffle-free. The as-of join is the window rewrite SURVEY J11 calls
  * for: one shuffle + sort instead of a per-row correlated subquery.
  */
object JoinQueries {

  /** J1/J6-style — broadcast dimension joins two levels deep:
    * customer ⋈ nation ⋈ region (left, as in the reference's mapping
    * joins int_quickbooks__customer_company_mapping.sql:73-97). */
  val j1BroadcastDims: Q = Q.sql(
    "j1_broadcast_dim_join",
    """SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
      |       r.r_name AS region_name
      |FROM customer c
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    c.join(n, c("c_nationkey") === n("n_nationkey"), "left")
      .join(r, n("n_regionkey") === r("r_regionkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"))
      .orderBy("c_custkey")
  }

  /** J7-style — fact ⋈ bridge inner join + rollup: revenue per nation via
    * orders ⋈ customer (fct_company_orders.sql:42-44 shape). */
  val j7FactBridge: Q = Q.sql(
    "j7_fact_bridge_join",
    """SELECT c.c_nationkey,
      |  CAST(SUM(CAST((o.o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS nation_revenue,
      |  COUNT(*) AS order_count,
      |  COUNT(DISTINCT o.o_custkey) AS customer_count
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = broadcast(Tables.customer(s, d))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        dsum(col("o_totalprice")).as("nation_revenue"),
        count(lit(1)).as("order_count"),
        countDistinct(col("o_custkey")).as("customer_count"))
      .orderBy("c_nationkey")
  }

  /** J8 — FULL OUTER matching with COALESCEd key, match-status CASE and
    * amount delta (int_unified__order_matching.sql:25-56). Orders vs the
    * lineitem-derived order totals play the two systems. */
  val j8FullOuterMatch: Q = Q.sql(
    "j8_full_outer_match",
    """WITH li AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS li_amount
      |  FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT COALESCE(o.o_orderkey, li.l_orderkey) AS order_key,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'lineitem_only'
      |       WHEN li.l_orderkey IS NULL THEN 'orders_only'
      |       ELSE 'matched' END AS match_status,
      |  o.o_totalprice, li.li_amount,
      |  CASE WHEN o.o_orderkey IS NOT NULL AND li.l_orderkey IS NOT NULL
      |       THEN ABS(o.o_totalprice - li.li_amount) END AS amount_delta
      |FROM orders o
      |FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
      |ORDER BY order_key""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("li_amount"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("l_orderkey")).as("order_key"),
        when(col("o_orderkey").isNull, "lineitem_only")
          .when(col("l_orderkey").isNull, "orders_only")
          .otherwise("matched").as("match_status"),
        col("o_totalprice"), col("li_amount"),
        when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull,
          abs(col("o_totalprice") - col("li_amount"))).as("amount_delta"))
      .orderBy("order_key")
  }

  /** J11 — as-of join via the idiomatic window rewrite (SURVEY §2.3 J11):
    * for each event, the value of that user's most recent prior (or same-ts)
    * 'signup' event — `last(x, ignoreNulls)` over an unbounded-preceding
    * frame replaces the correlated MAX-date subquery
    * (fct_product_pricing_history.sql:300-306). */
  val j11AsOf: Q = Q.sql(
    "j11_asof_join",
    """SELECT event_id, user_id, event_type, value,
      |  LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING) AS asof_signup_value
      |FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("asof_signup_value",
        last(when(col("event_type") === "signup", col("value")),
          ignoreNulls = true).over(w))
      .select("event_id", "user_id", "event_type", "value",
        "asof_signup_value")
      .orderBy("event_id")
  }

  /** J12 — decorrelated attribution windows: one range-conditioned join +
    * conditional aggregation replaces 6 correlated subqueries
    * (fct_trade_show_leads.sql:107-170). Per customer: revenue within
    * 30/90/365 days after their first order. */
  val j12AttributionWindows: Q = Q.sql(
    "j12_attribution_windows",
    """WITH firsts AS (
      |  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_date
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT f.o_custkey, CAST(f.first_date AS VARCHAR) AS first_date,
      |  CAST(SUM(CAST((CASE WHEN CAST(o.o_orderdate AS DATE) <= f.first_date + 30 THEN o.o_totalprice ELSE 0 END) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_30d,
      |  CAST(SUM(CAST((CASE WHEN CAST(o.o_orderdate AS DATE) <= f.first_date + 90 THEN o.o_totalprice ELSE 0 END) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_90d,
      |  CAST(SUM(CAST((CASE WHEN CAST(o.o_orderdate AS DATE) <= f.first_date + 365 THEN o.o_totalprice ELSE 0 END) AS DECIMAL(38,6))) AS DOUBLE) AS revenue_365d,
      |  COUNT(*) AS total_orders
      |FROM firsts f
      |JOIN orders o ON o.o_custkey = f.o_custkey
      |GROUP BY f.o_custkey, f.first_date
      |ORDER BY f.o_custkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val firsts = o.groupBy(col("o_custkey").as("f_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("first_date"))
    val od = col("o_orderdate").cast("date")
    firsts.join(o, col("f_custkey") === col("o_custkey"))
      .groupBy(col("f_custkey").as("o_custkey"), col("first_date"))
      .agg(
        dsum(when(od <= date_add(col("first_date"), 30),
          col("o_totalprice")).otherwise(0)).as("revenue_30d"),
        dsum(when(od <= date_add(col("first_date"), 90),
          col("o_totalprice")).otherwise(0)).as("revenue_90d"),
        dsum(when(od <= date_add(col("first_date"), 365),
          col("o_totalprice")).otherwise(0)).as("revenue_365d"),
        count(lit(1)).as("total_orders"))
      .withColumn("first_date", col("first_date").cast("string"))
      .orderBy("o_custkey")
  }

  /** J5 — orders ⋈ primary company contacts (fct_orders.sql:75-86,206):
    * the contact dim is rank-1-filtered per company (here: nation plays
    * the consolidated company), then LEFT-joined into the order fact by
    * customer key and broadcast — order rows whose customer is not the
    * company's primary contact keep NULL contact fields, exactly like
    * the reference's fct_orders. */
  val j5OrderContact: Q = Q.sql(
    "j5_order_contact_join",
    """WITH contacts AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    unnest([lower(replace(c_name, ' ', '')) || '@corp.com',
      |            lower(c_mktsegment) || '.team@corp.com']) AS email,
      |    unnest(generate_series(1, 2)) AS email_position
      |  FROM customer
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal DESC, c_custkey, email_position) AS rn
      |  FROM contacts
      |), primary_contacts AS (
      |  SELECT c_custkey,
      |    email AS primary_contact_email,
      |    UPPER(LEFT(COALESCE(SPLIT_PART(SPLIT_PART(email, '@', 1), '.', 1), ''), 1))
      |      || LOWER(SUBSTR(COALESCE(SPLIT_PART(SPLIT_PART(email, '@', 1), '.', 1), ''), 2))
      |      AS primary_contact_name,
      |    MD5(CONCAT_WS('-',
      |      COALESCE(CAST(c_custkey AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
      |      COALESCE(CAST(email AS VARCHAR), '_dbt_utils_surrogate_key_null_')))
      |      AS primary_contact_id
      |  FROM ranked WHERE rn = 1
      |)
      |SELECT o.o_orderkey, o.o_custkey,
      |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
      |  o.o_totalprice AS total_amount,
      |  o.o_orderstatus = 'F' AS is_paid,
      |  p.primary_contact_id, p.primary_contact_name, p.primary_contact_email,
      |  p.primary_contact_email IS NOT NULL AS has_primary_contact
      |FROM orders o
      |LEFT JOIN primary_contacts p ON o.o_custkey = p.c_custkey
      |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
    import graft.functions.Fns
    val c = Tables.customer(s, d)
    val contacts = c.select(col("c_custkey"), col("c_nationkey"),
      col("c_acctbal"),
      posexplode(array(
        concat(lower(regexp_replace(col("c_name"), " ", "")),
          lit("@corp.com")),
        concat(lower(col("c_mktsegment")), lit(".team@corp.com"))))
        .as(Seq("pos0", "email")))
      .withColumn("email_position", col("pos0") + 1)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"),
        col("email_position"))
    val primary = contacts
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("c_custkey").as("pc_custkey"),
        col("email").as("primary_contact_email"),
        initcap(Fns.splitPart(Fns.splitPart(col("email"), "@", 1), ".", 1))
          .as("primary_contact_name"),
        Fns.surrogateKey(col("c_custkey"), col("email"))
          .as("primary_contact_id"))
    val o = Tables.orders(s, d)
    o.join(broadcast(primary), o("o_custkey") === col("pc_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").cast("string").as("order_date"),
        col("o_totalprice").as("total_amount"),
        (col("o_orderstatus") === "F").as("is_paid"),
        col("primary_contact_id"), col("primary_contact_name"),
        col("primary_contact_email"),
        col("primary_contact_email").isNotNull.as("has_primary_contact"))
      .orderBy("o_orderkey")
  }

  /** J13 — CROSS JOIN against a 1-row broadcast aggregate
    * (fct_dso_metrics.sql:58-70): each nation's share of global revenue. */
  val j13CrossAgg: Q = Q.sql(
    "j13_cross_join_agg",
    """WITH total AS (
      |  SELECT CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS global_revenue
      |  FROM orders
      |), per_cust AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST((o_totalprice) AS DECIMAL(38,6))) AS DOUBLE) AS cust_revenue
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT p.o_custkey, p.cust_revenue, t.global_revenue,
      |       p.cust_revenue / t.global_revenue AS revenue_share
      |FROM per_cust p CROSS JOIN total t
      |ORDER BY p.o_custkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val total = o.agg(dsum(col("o_totalprice")).as("global_revenue"))
    val perCust = o.groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("cust_revenue"))
    perCust.crossJoin(broadcast(total))
      .withColumn("revenue_share",
        col("cust_revenue") / col("global_revenue"))
      .orderBy("o_custkey")
  }

  /** J14 + extended J12 — the full trade-show attribution battery driven
    * through the actual `TradeShows.fctLeads` model: person-level
    * lead-email-is-customer flag (equi-join on (company, lower(email))),
    * first-order attribution windows (30/90/180/365/all), per-window
    * revenue/order conditional aggregates, and distinct-purchaser counts
    * — all decorrelated from the reference's scalar subqueries
    * (fct_trade_show_leads.sql:60-257). customer%500 plays the
    * consolidated company; every 10th customer is a lead. */
  val j14LeadEmailCustomer: Q = {
    import graft.functions.Det.sqlDsum
    def win(lo: String, hi: String) =
      s"co.order_date >= $lo AND co.order_date <= $hi"
    Q.sql(
      "j14_lead_email_customer",
      s"""WITH ce AS (
        |  SELECT DISTINCT c_custkey % 500 AS company,
        |    lower(replace(c_name, ' ', '')) || '@corp.com' AS customer_email
        |  FROM customer
        |), leads AS (
        |  SELECT c_custkey AS lead_id, c_custkey % 500 AS company,
        |    CASE WHEN c_custkey % 20 = 0
        |         THEN lower(replace(c_name, ' ', '')) || '@corp.com'
        |         ELSE 'prospect' || CAST(c_custkey AS VARCHAR) || '@ext.com'
        |         END AS email,
        |    DATE '1995-01-01' + CAST(c_custkey % 1000 AS INTEGER) AS show_date
        |  FROM customer WHERE c_custkey % 10 = 0
        |), co AS (
        |  SELECT c.c_custkey % 500 AS company,
        |    CAST(o.o_orderdate AS DATE) AS order_date,
        |    o.o_totalprice AS amt,
        |    lower(replace(c.c_name, ' ', '')) || '@corp.com' AS purchaser_email
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |), lifetime AS (
        |  SELECT company, ${sqlDsum("amt")} AS company_lifetime_revenue,
        |    COUNT(*) AS company_lifetime_orders,
        |    MIN(order_date) AS company_first_order_date,
        |    MAX(order_date) AS company_latest_order_date
        |  FROM co GROUP BY company
        |), agg AS (
        |  SELECT l.lead_id, l.company, l.email, l.show_date,
        |    ${sqlDsum(s"CASE WHEN ${win("l.show_date", "l.show_date + 30")} THEN amt ELSE 0 END")} AS revenue_30d,
        |    ${sqlDsum(s"CASE WHEN ${win("l.show_date", "l.show_date + 90")} THEN amt ELSE 0 END")} AS revenue_90d,
        |    ${sqlDsum(s"CASE WHEN ${win("l.show_date", "l.show_date + 180")} THEN amt ELSE 0 END")} AS revenue_180d,
        |    ${sqlDsum(s"CASE WHEN ${win("l.show_date", "l.show_date + 365")} THEN amt ELSE 0 END")} AS revenue_365d,
        |    ${sqlDsum("CASE WHEN co.order_date >= l.show_date THEN amt ELSE 0 END")} AS revenue_all_time,
        |    CAST(SUM(CASE WHEN ${win("l.show_date", "l.show_date + 90")} THEN 1 ELSE 0 END) AS BIGINT) AS orders_90d,
        |    CAST(SUM(CASE WHEN ${win("l.show_date", "l.show_date + 365")} THEN 1 ELSE 0 END) AS BIGINT) AS orders_365d,
        |    CAST(SUM(CASE WHEN co.order_date >= l.show_date THEN 1 ELSE 0 END) AS BIGINT) AS orders_all_time,
        |    COUNT(DISTINCT CASE WHEN co.order_date >= l.show_date THEN co.purchaser_email END) AS distinct_purchasers_count,
        |    MIN(CASE WHEN co.order_date >= l.show_date THEN co.order_date END) AS first_after
        |  FROM leads l LEFT JOIN co ON co.company = l.company
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT a.lead_id, a.company, a.email,
        |  CAST(a.show_date AS VARCHAR) AS show_date,
        |  m.customer_email IS NOT NULL AS lead_email_is_customer,
        |  CAST(lt.company_first_order_date AS VARCHAR) AS company_first_order_date,
        |  COALESCE(lt.company_first_order_date >= a.show_date AND
        |    lt.company_first_order_date <= a.show_date + 30, FALSE) AS attributed_30d,
        |  COALESCE(lt.company_first_order_date >= a.show_date AND
        |    lt.company_first_order_date <= a.show_date + 90, FALSE) AS attributed_90d,
        |  COALESCE(lt.company_first_order_date >= a.show_date AND
        |    lt.company_first_order_date <= a.show_date + 180, FALSE) AS attributed_180d,
        |  COALESCE(lt.company_first_order_date >= a.show_date AND
        |    lt.company_first_order_date <= a.show_date + 365, FALSE) AS attributed_365d,
        |  COALESCE(lt.company_first_order_date >= a.show_date, FALSE) AS attributed_all_time,
        |  a.revenue_30d, a.revenue_90d, a.revenue_180d, a.revenue_365d,
        |  a.revenue_all_time, a.orders_90d, a.orders_365d,
        |  a.orders_all_time, a.distinct_purchasers_count,
        |  lt.company_first_order_date - a.show_date AS days_from_show_to_first_order,
        |  a.first_after - a.show_date AS days_to_conversion
        |FROM agg a
        |LEFT JOIN lifetime lt ON lt.company = a.company
        |LEFT JOIN ce m ON m.company = a.company AND m.customer_email = lower(a.email)
        |ORDER BY a.lead_id""".stripMargin) { (s, d) =>
      import graft.ref.TradeShows
      import graft.functions.Det.dsum
      val c = Tables.customer(s, d)
      val email = concat(lower(regexp_replace(col("c_name"), " ", "")),
        lit("@corp.com"))
      val custEmails = c.select((col("c_custkey") % 500)
        .as("company_domain_key"), email.as("customer_email")).distinct()
      val leads = c.filter(col("c_custkey") % 10 === 0).select(
        col("c_custkey").as("lead_id"),
        (col("c_custkey") % 500).as("company_domain_key"),
        when(col("c_custkey") % 20 === 0, email)
          .otherwise(concat(lit("prospect"),
            col("c_custkey").cast("string"), lit("@ext.com"))).as("email"),
        date_add(to_date(lit("1995-01-01")),
          (col("c_custkey") % 1000).cast("int")).as("show_date"))
      val co = Tables.orders(s, d)
        .join(broadcast(c.select(col("c_custkey"),
          (col("c_custkey") % 500).as("company_domain_key"),
          email.as("purchaser_email"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("company_domain_key"),
          col("o_orderdate").cast("date").as("order_date"),
          col("o_totalprice").as("order_amount"), col("purchaser_email"))
      val lifetime = co.groupBy(col("company_domain_key"))
        .agg(dsum(col("order_amount")).as("company_lifetime_revenue"),
          count(lit(1)).as("company_lifetime_orders"),
          min(col("order_date")).as("company_first_order_date"),
          max(col("order_date")).as("company_latest_order_date"))
      val matched = leads
        .join(broadcast(lifetime), Seq("company_domain_key"), "left")
        .withColumn("show_name", lit("show"))
        .withColumn("full_name", col("email"))
        .withColumn("matched_to_company", lit(true))
        .withColumn("is_personal_email", lit(false))
        .withColumn("is_new_customer_from_show",
          coalesce(col("company_first_order_date") >= col("show_date"),
            lit(false)))
      TradeShows.fctLeads(matched, co, Some(custEmails))
        .select(
          col("lead_id"), col("company_domain_key").as("company"),
          col("email"),
          col("show_date").cast("string").as("show_date"),
          col("lead_email_is_customer"),
          col("company_first_order_date").cast("string")
            .as("company_first_order_date"),
          col("attributed_30d"), col("attributed_90d"),
          col("attributed_180d"), col("attributed_365d"),
          col("attributed_all_time"),
          col("revenue_30d"), col("revenue_90d"), col("revenue_180d"),
          col("revenue_365d"), col("revenue_all_time"),
          col("orders_90d"), col("orders_365d"), col("orders_all_time"),
          col("distinct_purchasers_count"),
          col("days_from_show_to_first_order"), col("days_to_conversion"))
        .orderBy("lead_id")
    }
  }

  /** S5-adjacent — left_anti (NOT EXISTS): customers with no orders; the
    * merge sink's key-subtraction primitive (SURVEY §2.3 closing note). */
  val jAntiSemi: Q = Q.sql(
    "j_anti_semi",
    """SELECT
      |  (SELECT COUNT(*) FROM customer c
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |  AS customers_without_orders,
      |  (SELECT COUNT(*) FROM customer c
      |     WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      |  AS customers_with_orders""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("customers_without_orders"))
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("customers_with_orders"))
    anti.crossJoin(semi)
  }

  /** SKEW-SALTED join + aggregation on the production path
    * ([[graft.operators.SaltedJoin]], SURVEY §2.3 scale note): lineitem ⋈
    * supplier on the (hot-key-prone at corpus scale) suppkey, revenue
    * rolled up per nation through the salted two-phase aggregate. Results
    * are row-identical to the plain join+groupBy — that equivalence IS
    * the oracle — while the hot key's rows spread over `salts` shuffle
    * partitions in both the join probe and the partial aggregate. This
    * is the manual counterpart to AQE skew-join for the cases AQE can't
    * rewrite (aggregation skew; pre-planned layouts). On this dim-sized
    * supplier side Spark may still broadcast the replicated dim — fine:
    * salting targets the medium-dim / aggregation-skew regime, and the
    * semantics are unchanged either way. Decimal-exact sums per Det
    * rules: the value column is cast to DECIMAL(38,6) BEFORE the salted
    * partial sum, so both aggregation phases are order-independent. */
  val jSaltedSkew: Q = Q.sql(
    "j_salted_skew_join",
    """SELECT s.s_nationkey,
      |  CAST(SUM(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS nation_revenue
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_nationkey
      |ORDER BY s.s_nationkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(38, 6)).as("rev"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val joined = graft.operators.SaltedJoin.saltedEquiJoin(
      li, sup, "l_suppkey", salts = 8, saltBy = col("l_orderkey"))
    graft.operators.SaltedJoin.saltedSumByKey(
      joined, "s_nationkey", col("rev"), salts = 8,
      saltBy = col("l_orderkey"), resultName = "nation_revenue")
      .select(col("s_nationkey"),
        col("nation_revenue").cast("double").as("nation_revenue"))
      .orderBy("s_nationkey")
  }

  /** Skew AUDIT — the measurement that justifies (or spares) the
    * salting above: top-20 heaviest event users with integer ppm share
    * and an is_heavy flag at the 0.1% threshold. TakeOrderedAndProject
    * top-k (per-partition heaps), 1-row broadcast total, total
    * (cnt DESC, key ASC) tie order. */
  val jSkewAudit: Q = Q.sql(
    "j_skew_audit",
    """WITH c AS (
      |  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c
      |)
      |SELECT key, cnt, n_total,
      |  cnt * 1000000 // n_total AS share_ppm,
      |  (cnt * 1000 >= n_total * 1) AS is_heavy
      |FROM c, t
      |ORDER BY cnt DESC, key LIMIT 20""".stripMargin) { (s, d) =>
    graft.operators.SkewAudit.topKeys(Tables.events(s, d),
      col("user_id"), k = 20, heavyNum = 1, heavyDen = 1000)
  }

  /** J16 — BLOCKED FUZZY JOIN (approximate string matching): dirty
    * names (a deterministic single-character deletion of part names,
    * synthesized identically in both engines — the r07 model-chain
    * pattern) matched back to the clean catalog by levenshtein ≤ 2,
    * with 4-char-prefix BLOCKING so the candidate set is block-local
    * instead of the full cross product — the standard
    * entity-resolution shape (the reference's domain consolidation
    * does the exact-key version; fuzzy is its recall upgrade). Best
    * match per dirty row by (distance, key). Blocking trades recall
    * for boundedness (a corruption inside the prefix escapes its
    * block) — both engines lose the SAME pairs, so the trade-off
    * itself is hash-gated. At 100 TB blocking is what keeps fuzzy
    * matching feasible: pairs ∝ Σ block² ≪ n². */
  val j16FuzzyMatch: Q = Q.sql(
    "j16_fuzzy_match",
    """WITH dirty AS (
      |  SELECT p_partkey AS dirty_key,
      |    substr(p_name, 1, 1 + p_partkey % length(p_name) - 1) ||
      |      substr(p_name, 1 + p_partkey % length(p_name) + 1)
      |      AS dirty_name
      |  FROM part WHERE p_partkey % 20 = 0
      |), cand AS (
      |  SELECT d.dirty_key, p.p_partkey AS cand_key,
      |    CAST(levenshtein(d.dirty_name, p.p_name) AS BIGINT) AS lev
      |  FROM dirty d JOIN part p
      |    ON substr(p.p_name, 1, 4) = substr(d.dirty_name, 1, 4)
      |  WHERE levenshtein(d.dirty_name, p.p_name) <= 2
      |), best AS (
      |  SELECT dirty_key, cand_key, lev, ROW_NUMBER() OVER (
      |    PARTITION BY dirty_key ORDER BY lev, cand_key) AS rn
      |  FROM cand
      |)
      |SELECT dirty_key, cand_key AS matched_key, lev
      |FROM best WHERE rn = 1
      |ORDER BY dirty_key""".stripMargin) { (s, d) =>
    val part = Tables.part(s, d)
    val dirty = part.filter(col("p_partkey") % 20 === 0)
      .select(col("p_partkey").as("dirty_key"),
        expr("concat(" +
          "substr(p_name, 1, 1 + p_partkey % length(p_name) - 1), " +
          "substr(p_name, 1 + p_partkey % length(p_name) + 1))")
          .as("dirty_name"))
    val cand = dirty
      .join(part.select(col("p_partkey"), col("p_name")),
        expr("substr(p_name, 1, 4) = substr(dirty_name, 1, 4)"))
      .filter(levenshtein(col("dirty_name"), col("p_name")) <= 2)
      .select(col("dirty_key"), col("p_partkey").as("cand_key"),
        levenshtein(col("dirty_name"), col("p_name")).cast("long")
          .as("lev"))
    cand
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("dirty_key"))
          .orderBy(col("lev"), col("cand_key"))))
      .filter(col("rn") === 1)
      .select(col("dirty_key"), col("cand_key").as("matched_key"),
        col("lev"))
      .orderBy("dirty_key")
  }

  /** J18 — BUCKETED RANGE JOIN ([[graft.operators.RangeJoin]]): ship
    * dates joined into per-order date intervals by pure containment
    * (`pd BETWEEN sd AND ed`, NO equi key), then rolled up per
    * interval. The DuckDB twin runs the naive range predicate — the
    * gate proves the bucket-explode + equi-join + residual-filter
    * rewrite is semantically exact — while the Spark side never plans
    * the BroadcastNestedLoopJoin a bare range predicate would get
    * (OperatorsSpec pins the plan). Intervals are ≤ 44 days, bucket
    * 32 days ⇒ ≤ 2-3 bucket rows per interval; empty intervals
    * survive via the post-aggregate left join (COUNT 0 / SUM 0).
    * Day arithmetic in exact integer epoch days on both sides. */
  val j18IntervalBucketJoin: Q = Q.sql(
    "j18_interval_bucket_join",
    """WITH iv AS (
      |  SELECT o_orderkey AS iv_id, CAST(o_orderdate AS DATE) AS sd,
      |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 AS INTEGER) AS ed
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), pt AS (
      |  SELECT CAST(l_shipdate AS DATE) AS pd,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |), j AS (
      |  SELECT iv_id, sd, ed,
      |    CAST(COUNT(pt.pd) AS BIGINT) AS point_count,
      |    CAST(COALESCE(SUM(qty), 0) AS BIGINT) AS total_qty
      |  FROM iv LEFT JOIN pt ON pt.pd BETWEEN iv.sd AND iv.ed
      |  GROUP BY 1, 2, 3
      |)
      |SELECT iv_id, CAST(sd AS VARCHAR) AS start_date,
      |  CAST(ed AS VARCHAR) AS end_date, point_count, total_qty
      |FROM j ORDER BY iv_id""".stripMargin) { (s, d) =>
    val epoch = lit("1970-01-01").cast("date")
    val iv = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("iv_id"),
        datediff(col("o_orderdate").cast("date"), epoch).cast("long")
          .as("start_day"))
      .withColumn("end_day",
        col("start_day") + (col("iv_id") % 45).cast("long"))
    val joined = graft.operators.RangeJoin.bucketedIntervalJoin(
      shipPoints(s, d), iv, "point_day", "start_day", "end_day",
      bucketSize = 32L)
    intervalRollup(iv, joined)
  }

  /** (point_day, qty[, extra]) per lineitem: the ship day in epoch days,
    * the points of the interval-join queries. */
  private def shipPoints(s: SparkSession, d: String,
                         extra: Column*): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    Tables.lineitem(s, d)
      .select(Seq(
        datediff(col("l_shipdate").cast("date"), epoch).cast("long")
          .as("point_day"),
        col("l_quantity").cast("long").as("qty")) ++ extra: _*)
  }

  /** Per interval of `iv` (iv_id, start_day, end_day), the count and
    * qty sum of its `joined` points, zero for an empty interval, with
    * ISO-date bounds and any `extra` columns, ordered by iv_id. */
  private def intervalRollup(iv: DataFrame, joined: DataFrame,
                             extra: Column*): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val agg = joined.groupBy(col("iv_id"))
      .agg(count(lit(1)).as("point_count"), sum(col("qty")).as("total_qty"))
    iv.join(agg, Seq("iv_id"), "left")
      .select(Seq(col("iv_id"),
        date_add(epoch, col("start_day").cast("int")).cast("string")
          .as("start_date"),
        date_add(epoch, col("end_day").cast("int")).cast("string")
          .as("end_date"),
        coalesce(col("point_count"), lit(0L)).as("point_count"),
        coalesce(col("total_qty"), lit(0L)).as("total_qty")) ++ extra: _*)
      .orderBy("iv_id")
  }

  /** J19 — KEYED range join ([[graft.operators.RangeJoin]] `equiKeys`):
    * each user's events contained in THAT user's onboarding window
    * [first event, first + (user%4+1) h] — the entity-keyed form whose
    * scale behavior ScaleBench's range_join_keyed arm measures (α≈0.33
    * vs 1.78 unkeyed at 100×: candidates = Σ_user points·intervals
    * instead of points·intervals per time bucket). Whole-second epoch
    * arithmetic via integer division (micros exceed 2^53 as doubles —
    * the r08 events trap); the DuckDB twin is the naive
    * user-AND-BETWEEN join, proving the composite (bucket, key)
    * equi-join + residual filter rewrite exact. */
  val j19KeyedIntervalJoin: Q = Q.sql(
    "j19_keyed_interval_join",
    """WITH pt AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events
      |), iv AS (
      |  SELECT user_id, MIN(sec) AS start_sec,
      |    MIN(sec) + (user_id % 4 + 1) * 3600 AS end_sec
      |  FROM pt GROUP BY user_id
      |)
      |SELECT iv.user_id, iv.start_sec, iv.end_sec,
      |  CAST(COUNT(*) AS BIGINT) AS n_in_window,
      |  CAST(MAX(pt.sec) AS BIGINT) AS last_sec
      |FROM iv JOIN pt ON pt.user_id = iv.user_id
      |  AND pt.sec BETWEEN iv.start_sec AND iv.end_sec
      |GROUP BY 1, 2, 3
      |ORDER BY iv.user_id""".stripMargin) { (s, d) =>
    val pt = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("sec"))
    val iv = pt.groupBy(col("user_id"))
      .agg(min(col("sec")).as("start_sec"))
      .withColumn("end_sec",
        col("start_sec") + (col("user_id") % 4 + 1) * 3600L)
    graft.operators.RangeJoin.bucketedIntervalJoin(pt, iv,
        "sec", "start_sec", "end_sec", bucketSize = 7200L,
        equiKeys = Seq("user_id"))
      .groupBy(col("user_id"), col("start_sec"), col("end_sec"))
      .agg(count(lit(1)).as("n_in_window"), max(col("sec")).as("last_sec"))
      .orderBy("user_id")
  }

  /** J20 — BUCKETED CO-LOCATED fact-fact join: both sides of the
    * orders ⋈ lineitem spine committed as bucketed tables on the join
    * key (`bucketBy(8) + sortBy`), then joined and rolled up — the
    * 100 TB storage answer for every orderkey equi-join in the
    * pipeline (SURVEY §2.3 scale note; OperatorsSpec "bucketed join:
    * co-bucketed tables join with zero Exchanges" pins the
    * ZERO-Exchange plan with broadcast disabled). The oracle twin reads
    * the PLAIN parquet — same rows through the shuffled join — so the
    * gate proves the bucketed layout is a pure physical change. The
    * query pays the one-time layout write in-body (the real pipeline
    * pays it at commit time and amortizes it over every downstream
    * join). */
  val j20BucketedColocated: Q = Q.sql(
    "j20_bucketed_colocated_join",
    """SELECT o.o_orderstatus,
      |  CAST(SUM(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS line_count,
      |  CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS order_count
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Q.tempDir("bucketed_j20")
    def commitBucketed(df: org.apache.spark.sql.DataFrame, key: String,
                       name: String, sub: String): Unit =
      df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
        .option("path", s"$dir/$sub").saveAsTable(name)
    commitBucketed(Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus"),
      "o_orderkey", "j20_orders_b", "orders")
    commitBucketed(Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev")),
      "l_orderkey", "j20_lineitem_b", "lineitem")
    s.table("j20_orders_b")
      .join(s.table("j20_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("rev")).as("revenue"),
        count(lit(1)).as("line_count"),
        countDistinct(col("o_orderkey")).as("order_count"))
      .orderBy("o_orderstatus")
  }

  /** J21 — SALTED range join ([[graft.operators.RangeJoin
    * .saltedBucketedIntervalJoin]]): a deliberately TIME-SKEWED
    * interval workload — ¾ of the order intervals compressed into one
    * hot week (bucketSize=8 ⇒ the hot week is ~3 bucket keys carrying
    * ~¾ of all interval rows, the straggler-partition shape) — run
    * through the salted variant (8 salts from the lineitem row id).
    * The DuckDB twin is the NAIVE containment join with no salt and no
    * buckets: the gate proves the salted rewrite is row-identical to
    * the plain semantics, which is the entire correctness contract of
    * salting. Empty intervals survive via the post-aggregate left join
    * (j18 pattern); day arithmetic in exact integer epoch days. */
  val j21SaltedRangeJoin: Q = Q.sql(
    "j21_salted_range_join",
    """WITH iv AS (
      |  SELECT o_orderkey AS iv_id,
      |    CASE WHEN o_orderkey % 4 < 3
      |         THEN DATE '1994-03-01' + CAST(o_orderkey % 7 AS INTEGER)
      |         ELSE CAST(o_orderdate AS DATE) END AS sd
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), iv2 AS (
      |  SELECT iv_id, sd, sd + CAST(iv_id % 10 AS INTEGER) AS ed FROM iv
      |), pt AS (
      |  SELECT CAST(l_shipdate AS DATE) AS pd,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |), j AS (
      |  SELECT iv_id, sd, ed,
      |    CAST(COUNT(pt.pd) AS BIGINT) AS point_count,
      |    CAST(COALESCE(SUM(qty), 0) AS BIGINT) AS total_qty
      |  FROM iv2 LEFT JOIN pt ON pt.pd BETWEEN iv2.sd AND iv2.ed
      |  GROUP BY 1, 2, 3
      |)
      |SELECT iv_id, CAST(sd AS VARCHAR) AS start_date,
      |  CAST(ed AS VARCHAR) AS end_date, point_count, total_qty,
      |  iv_id % 4 < 3 AS is_hot
      |FROM j ORDER BY iv_id""".stripMargin) { (s, d) =>
    val epoch = lit("1970-01-01").cast("date")
    val hot = datediff(lit("1994-03-01").cast("date"), epoch).cast("long")
    val iv = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("iv_id"),
        when(col("o_orderkey") % 4 < 3,
            hot + (col("o_orderkey") % 7).cast("long"))
          .otherwise(
            datediff(col("o_orderdate").cast("date"), epoch).cast("long"))
          .as("start_day"))
      .withColumn("end_day", col("start_day") + (col("iv_id") % 10))
    val pt = shipPoints(s, d,
      (col("l_orderkey") * 8 + col("l_linenumber")).as("pt_uid"))
    val joined = graft.operators.RangeJoin.saltedBucketedIntervalJoin(
      pt, iv, "point_day", "start_day", "end_day", bucketSize = 8L,
      salts = 8, saltBy = col("pt_uid"))
    intervalRollup(iv, joined, (col("iv_id") % 4 < 3).as("is_hot"))
  }

  val all: Seq[Q] = Seq(j1BroadcastDims, j5OrderContact, j7FactBridge,
    j8FullOuterMatch, j11AsOf, j12AttributionWindows,
    j14LeadEmailCustomer, j13CrossAgg, jAntiSemi, jSaltedSkew,
    jSkewAudit, j16FuzzyMatch, j18IntervalBucketJoin,
    j19KeyedIntervalJoin, j20BucketedColocated, j21SaltedRangeJoin)
}
