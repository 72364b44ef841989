package graft

import org.apache.spark.sql.functions._
import graft.ref._
import graft.quality.Checks

/** End-to-end reference-pipeline run on the FIXTURES.md-shaped raw
  * tables, asserting the reference's own test battery (SURVEY §5):
  * schema tests on the marts, the Webgility channel regression, domain
  * consolidation behavior, and percent-amount typing.
  */
class RefPipelineSpec extends SparkSpec {

  private lazy val warehouse: String =
    tempRoot("graft_wh_spec").toString

  private lazy val cat: Catalog = new Catalog(spark, warehouse)

  private lazy val out: Map[String, org.apache.spark.sql.DataFrame] =
    ModelDag.run(cat, RefFixtures.inputs(spark))

  test("schema tests: unique + not_null + accepted_values on marts") {
    val orders = out("mart.fct_orders")
    val results = Seq(
      Checks.unique(orders, "fct_orders", "order_number"),
      Checks.notNull(orders, "fct_orders", "order_number"),
      Checks.acceptedValues(orders, "fct_orders", "sales_channel",
        Seq("Amazon", "Website", "Invoice", "Other")),
      Checks.acceptedValues(orders, "fct_orders", "customer_segment",
        Seq("OEM", "Distributor", "Export", "Direct")),
      Checks.unique(out("mart.fct_products"), "fct_products",
        "product_name"),
      Checks.uniqueCombination(out("mart.fct_company_orders"),
        "fct_company_orders", Seq("company_domain_key", "order_number")),
      Checks.nonEmpty(out("mart.fct_companies"), "fct_companies"),
      // Round-2 marts (mart.yml battery analogues)
      Checks.unique(out("mart.dim_company_health"), "dim_company_health",
        "company_domain_key"),
      Checks.uniqueCombination(out("mart.fct_company_products"),
        "fct_company_products",
        Seq("company_domain_key", "product_service")),
      Checks.uniqueCombination(
        out("mart.mart_product_company_period_spending"),
        "mart_product_company_period_spending",
        Seq("company_domain_key", "product_service", "period_type")),
      Checks.unique(out("mart.dim_customer_contacts_fixed"),
        "dim_customer_contacts_fixed", "contact_id"),
      Checks.uniqueCombination(out("mart.mart_company_period_metrics"),
        "mart_company_period_metrics",
        Seq("company_domain_key", "period_type")),
      Checks.unique(out("mart.fct_customer_marketing"),
        "fct_customer_marketing", "customer_id"),
      Checks.unique(out("mart.fct_order_attribution"),
        "fct_order_attribution", "order_id"),
      Checks.uniqueCombination(out("mart.fct_inventory_history"),
        "fct_inventory_history", Seq("item_name", "inventory_date")),
      Checks.notNull(out("mart.fct_trade_show_leads"),
        "fct_trade_show_leads", "lead_id"))
    assert(Checks.runAll(results).forall(_.passed))
  }

  test("webgility regression: S- invoice with Credit Card terms → Website") {
    val ch = out("mart.fct_orders")
      .filter(col("order_number") === "S-2001")
      .select("sales_channel").head().getString(0)
    assert(ch == "Website")
  }

  test("amazon-classed order → Amazon channel") {
    val ch = out("mart.fct_orders")
      .filter(col("order_number") === "SR-3002")
      .select("sales_channel").head().getString(0)
    assert(ch == "Amazon")
  }

  test("domain consolidation: marketplace skipped, gmail individual, fastenal collapsed") {
    val dm = out("raw.domain_mapping").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(dm("marketplace.amazon.com") ==
      (("SKIP_AMAZON_MARKETPLACE", "skip")))
    assert(dm("gmail.com") == (("INDIVIDUAL_GMAIL.COM", "individual")))
    assert(dm("stores.fastenal.com") == (("fastenal.com", "corporate")))
    assert(dm("acme.com") == (("acme.com", "corporate")))
  }

  test("company consolidation merges same-domain customers") {
    val acme = out("mart.bridge_customer_company")
      .filter(col("company_domain_key") === "acme.com").count()
    assert(acme == 2, "both Acme customers should map to acme.com")
    val boltKey = out("intermediate.customer_company_mapping")
      .filter(col("customer_name").contains("Bolt Supply"))
      .select("company_domain_key").distinct().count()
    assert(boltKey == 1, "both Bolt Supply customers share one company key")
  }

  test("explicit name mapping takes precedence over automatic rules") {
    val m = out("raw.customer_name_mapping")
      .filter(col("original_name") === "Bolt Supply Customer")
      .select("normalized_name", "normalization_type").head()
    assert(m.getString(0) == "Bolt Supply House")
    assert(m.getString(1) == "explicit")
  }

  test("percent-string amount resolves against qty*rate base") {
    val amt = out("mart.fct_order_line_items")
      .filter(col("order_number") === "INV-1004")
      .select("line_amount").head().getDouble(0)
    assert(math.abs(amt - 0.12 * 20 * 14.50) < 1e-9)
  }

  test("multi-line order rolls to one row with summed amount") {
    val o = out("mart.fct_orders")
      .filter(col("order_number") === "INV-1001")
    assert(o.count() == 1)
    val r = o.select("line_count", "order_amount").head()
    assert(r.getLong(0) == 3)
    assert(math.abs(r.getDouble(1) - 231.0) < 1e-9)
  }

  test("items dedup to latest snapshot; enrichment parses carton count") {
    val anchors = out("mart.fct_products")
      .filter(col("product_name") === "01-6310.AK4")
    assert(anchors.count() == 1)
    val r = anchors
      .select("sales_price", "carton_count", "product_family",
        "is_master_pack").head()
    assert(r.getDouble(0) == 15.00, "latest snapshot wins")
    assert(r.getInt(1) == 72)
    assert(r.getString(2) == "01")
    val mst = out("mart.fct_products")
      .filter(col("product_name") === "01-6310.MST")
      .select("is_master_pack").head().getBoolean(0)
    assert(mst)
  }

  test("company products: metrics, MODE rep, material type, periods") {
    // acme.com × 01-6310.AK4 → INV-1001 (150.00), INV-1004 (12% of
    // 20×14.50 = 34.80), SR-3003 (90.00); all sales_rep RW.
    val cp = out("mart.fct_company_products")
      .filter(col("company_domain_key") === "acme.com" &&
        col("product_service") === "01-6310.AK4").head()
    assert(cp.getAs[Long]("total_transactions") == 3)
    assert(math.abs(cp.getAs[Double]("total_amount_spent") - 274.8) < 1e-9)
    assert(cp.getAs[String]("primary_sales_rep") == "RW")
    assert(cp.getAs[String]("material_type") == "Zinc Plated")
    assert(cp.getAs[Long]("recent_transactions") == 2,
      "INV-1004 (Jan) outside the 90d window of the 2024-06-30 as-of")
    assert(cp.getAs[String]("buyer_status") == "Active Buyer")
    val ps = out("mart.mart_product_company_period_spending")
      .filter(col("company_domain_key") === "acme.com" &&
        col("product_service") === "01-6310.AK4")
    val allTime = ps.filter(col("period_type") === "all_time").head()
    assert(math.abs(allTime.getAs[Double]("total_amount_spent") - 274.8)
      < 1e-9)
    val t30 = ps.filter(col("period_type") === "trailing_30d").head()
    assert(math.abs(t30.getAs[Double]("total_amount_spent") - 240.0) < 1e-9)
    // zero-spend periods are filtered (mart_...spending.sql:150-153)
    assert(out("mart.mart_product_company_period_spending")
      .filter(col("product_service") === "01-6310.MST" &&
        col("period_type") === "trailing_30d").count() == 0)
  }

  test("period metrics: row-per-period shape, corporate only") {
    val pm = out("mart.mart_company_period_metrics")
    val acme = pm.filter(col("company_domain_key") === "acme.com")
    val types = acme.select("period_type").collect()
      .map(_.getString(0)).toSet
    assert(types == Set("trailing_30d", "trailing_90d", "trailing_1y",
      "all_time"), "7d window has no activity → row filtered")
    val all = acme.filter(col("period_type") === "all_time").head()
    assert(math.abs(all.getAs[Double]("total_revenue") - 355.8) < 1e-9)
    assert(all.getAs[Long]("customer_count") == 2)
    val t30 = acme.filter(col("period_type") === "trailing_30d").head()
    assert(math.abs(t30.getAs[Double]("total_revenue") - 321.0) < 1e-9)
    assert(pm.filter(col("company_domain_key")
      .startsWith("INDIVIDUAL_")).count() == 0, "corporate filter")
  }

  test("margin analytics: daily + monthly grains, volume-weighted pct") {
    val ma = out("mart.mart_product_margin_analytics")
    assert(ma.select("time_period").distinct().count() == 2)
    val jun = ma.filter(col("time_period") === "monthly" &&
      col("sku") === "01-6310.AK4" &&
      col("order_month") === "2024-06-01").head()
    assert(jun.getAs[Long]("transaction_count") == 2)
    assert(math.abs(jun.getAs[Double]("total_revenue") - 240.0) < 1e-9)
    assert(math.abs(
      jun.getAs[Double]("volume_weighted_margin_percentage") - 57.33)
      < 1e-9)
    // r17 split-distinct rewrite: the COUNT(DISTINCT) pair is aggregated
    // apart from the decimal battery and joined back null-safely —
    // recompute both counts independently from the line items and prove
    // the join lost no grain row to a null dimension.
    val li = out("mart.fct_order_line_items")
      .filter(col("product_service") === "01-6310.AK4" &&
        date_trunc("month", col("order_date")).cast("date") ===
          to_date(lit("2024-06-01")) &&
        col("actual_unit_price") > 0)
    assert(jun.getAs[Long]("unique_customers") ==
      li.select("customer").distinct().count())
    assert(jun.getAs[Long]("unique_orders") ==
      li.select("order_number").distinct().count())
    assert(ma.filter(col("unique_customers").isNull ||
      col("unique_orders").isNull).count() == 0)
  }

  test("inventory history mart: lag change and valuations") {
    val ih = out("mart.fct_inventory_history")
    val ak4 = ih.filter(col("item_name") === "01-6310.AK4")
      .orderBy("inventory_date").collect()
    assert(ak4.length == 2)
    assert(ak4(0).isNullAt(ak4(0).fieldIndex("previous_quantity_on_hand")))
    assert(ak4(1).getAs[Double]("quantity_change") == -20.0)
    assert(math.abs(ak4(1).getAs[Double]("inventory_value_at_cost")
      - 480 * 6.40) < 1e-9)
    assert(out("mart.base_fct_orders_current").count() ==
      out("mart.fct_orders").count(), "no future-dated fixture orders")
  }

  test("item attribute models: branded family, kit patterns") {
    val pf = out("intermediate.product_family").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(pf("01-6310.AK4") == "SP10")
    assert(pf("01-6310.MST") == "SP10")
    assert(pf("02-8100.3SK") == "Adhesives",
      "description mentions EPX2 → description-based Adhesives match")
    assert(pf("EPX2-KIT") == "Uncategorized",
      "name alone doesn't match; only descriptions carry the EPX phrase")
    val kits = out("intermediate.item_kits").collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(kits("01-6310.AK4"), "AK4 pattern")
    assert(!kits("01-6310.MST"))
  }

  test("AR aging has three analysis levels and open orders only") {
    val aging = out("mart.dim_accounts_receivable_aging")
    val levels = aging.select("analysis_level").distinct()
      .collect().map(_.getString(0)).toSet
    assert(levels == Set("invoice", "customer", "bucket"))
  }

  test("DSO metrics: one row per trailing period with cross-joined AR") {
    val dso = out("mart.fct_dso_metrics")
    assert(dso.count() == 3)
    assert(dso.select("total_ar").distinct().count() == 1)
  }

  test("singular: no email appears twice per company in person mapping") {
    // tests/test_contact_email_deduplication.sql:8-13
    val dupes = out("intermediate.customer_person_mapping")
      .groupBy("company_domain_key", "email").count()
      .filter(col("count") > 1)
    assert(dupes.count() == 0)
  }

  test("singular: amazon-marketplace emails filtered from contacts") {
    // tests/test_contact_amazon_marketplace_filtering.sql:9-26
    Seq("intermediate.customer_contacts", "mart.dim_customer_contacts")
      .foreach { t =>
        assert(out(t).filter(col("email")
          .endsWith("@marketplace.amazon.com")).count() == 0, t)
      }
  }

  test("fixed contacts: pipeline integrity battery") {
    // tests/test_contact_pipeline_data_integrity.sql:7-67
    val scored = out("intermediate.contact_quality_scoring")
    assert(scored.filter(col("completeness_score") < 0 ||
      col("completeness_score") > 100).count() == 0, "score in [0,100]")
    val pm = out("intermediate.customer_person_mapping_fixed")
    // exactly one primary per company; primary == rank 1
    val primaries = pm.groupBy("company_domain_key")
      .agg(sum(when(col("is_primary_company_contact"), 1).otherwise(0))
        .as("n"))
    assert(primaries.filter(col("n") =!= 1).count() == 0)
    assert(pm.filter(col("is_primary_company_contact") =!=
      (col("company_contact_rank") === 1)).count() == 0)
    // cross-customer email dedup: every lower(email) appears once
    assert(pm.groupBy(lower(col("main_email"))).count()
      .filter(col("count") > 1).count() == 0)
    // C001's primary contact scores the full original-name battery:
    // 25 email + 20 name + 15 phone + 10 title + 10 complete-name + 0
    // addr + 0 addl + 0 name_title = 80 → complete / high_value / high
    val buyer = scored.filter(col("individual_email") === "buyer@acme.com")
      .head()
    assert(buyer.getAs[Int]("completeness_score") == 80)
    assert(buyer.getAs[String]("full_name") == "Pat Jones")
    assert(buyer.getAs[String]("name_quality") == "original_complete")
    assert(buyer.getAs[String]("contact_data_quality") == "complete")
    assert(buyer.getAs[String]("contact_tier") == "high_value_contact")
    assert(buyer.getAs[String]("engagement_potential") == "high_engagement")
    // backup@acme.com is additional_main → email-derived name
    val backup = scored
      .filter(col("individual_email") === "backup@acme.com").head()
    assert(backup.getAs[String]("contact_priority") == "additional_main")
    assert(backup.getAs[String]("full_name") == "Backup")
    assert(backup.getAs[String]("name_source") == "email_derived")
  }

  test("fixed contacts: surrogate keys are stable under email re-ordering") {
    // tests/test_contact_surrogate_key_stability.sql:8-36 — the fixed
    // ids hash (customer, email, source) WITHOUT position, so swapping
    // the main-email list order must not change any id.
    import graft.ref.{ContactsFixed, Staging}
    val swapped = RefFixtures.rawCustomers(spark)
      .withColumn("main_email",
        when(col("quick_books_internal_id") === "C001",
          "backup@acme.com;buyer@acme.com")
          .otherwise(col("main_email")))
    def ids(raw: org.apache.spark.sql.DataFrame): Set[String] =
      ContactsFixed.emailParsing(Staging.customerContactsClean(raw))
        .select("email_contact_id").collect().map(_.getString(0)).toSet
    assert(ids(RefFixtures.rawCustomers(spark)) == ids(swapped))
  }

  test("fixed contacts: dim joins company context with stable dim key") {
    val dim = out("mart.dim_customer_contacts_fixed")
    val buyer = dim.filter(col("primary_email") === "buyer@acme.com").head()
    assert(buyer.getAs[String]("company_name") == "Acme Industrial")
    assert(buyer.getAs[Boolean]("is_primary_company_contact"))
    assert(buyer.getAs[String]("contact_role") == "primary_contact")
    // JSON card emits null fields explicitly (ignoreNullFields=false)
    assert(buyer.getAs[String]("additional_contact_methods")
      .contains("\"alt_phone\":null"))
  }

  test("shopify: test orders excluded, guard join lands fulfillment on S-2001") {
    val o = out("mart.fct_orders").filter(col("order_number") === "S-2001")
      .select("fulfillment_status", "tracking_number").head()
    assert(o.getString(0) == "fulfilled")
    assert(o.getString(1) == "1Z999-2", "max tracking over 2 fulfillments")
  }

  test("shopify: fulfillments staged at row grain with resolved order key") {
    val f = out("staging.shopify_order_fulfillments")
    assert(f.count() == 2, "two fixture fulfillment rows, both kept")
    assert(f.columns.toSet == Set("order_id", "fulfillment_id",
      "fulfillment_status", "tracking_company", "tracking_number",
      "shipment_status", "fulfilled_at", "fulfillment_updated_at"))
    // Both child rows resolve to the same parent order via _dlt_parent_id.
    assert(f.select("order_id").distinct().count() == 1)
    assert(f.filter(col("tracking_company") === "UPS").count() == 2)
  }

  test("shopify: fulfillments source missing tracking_number degrades to null") {
    // Reference tolerance (macros/optional_columns.sql:6-22): optional
    // source columns land as NULL, never AnalysisException. r06 verdict:
    // tracking_number was the one unguarded read.
    val noTracking = RefFixtures.rawShopifyFulfillments(spark)
      .drop("tracking_number")
    val staged = graft.ref.Shopify.orderFulfillments(
      noTracking, RefFixtures.rawShopifyOrders(spark))
    assert(staged.columns.contains("tracking_number"))
    assert(staged.filter(col("tracking_number").isNotNull).count() == 0)
    assert(staged.count() == 2, "rows kept, column degraded to null")
  }

  test("J5: fct_orders carries primary-contact, flag and enrichment surface") {
    // Company acme.com's primary contact is buyer@acme.com (C001, main,
    // position 1) — so C001's order gets contact fields and C002's does
    // not, exactly like the reference join on source_customer_name.
    val o = out("mart.fct_orders")
      .filter(col("order_number") === "INV-1001").head()
    assert(o.getAs[String]("primary_contact_email") == "buyer@acme.com")
    assert(o.getAs[String]("primary_contact_name") == "Buyer")
    assert(!o.getAs[Boolean]("is_paid"))
    assert(!o.getAs[Boolean]("is_backdated"))
    assert(o.getAs[String]("shipping_method") == "UPS Ground")
    assert(o.getAs[String]("shipping_address") == "12 Dock St")
    assert(o.getAs[String]("primary_country") == "United States")
    assert(o.getAs[String]("region") == "North America")
    assert(math.abs(o.getAs[Double]("effective_tax_rate") - 10.0) < 1e-9)
    val o4 = out("mart.fct_orders")
      .filter(col("order_number") === "INV-1004").head()
    assert(o4.isNullAt(o4.fieldIndex("primary_contact_email")),
      "non-primary customer's order keeps NULL contact fields")
    assert(o4.getAs[Boolean]("is_backdated"))
    val s = out("mart.fct_orders")
      .filter(col("order_number") === "S-2001").head()
    assert(s.getAs[String]("acquisition_channel") == "Paid")
    assert(s.getAs[String]("tracking_company") == "UPS")
    assert(!s.getAs[Boolean]("shopify_has_discount"))
    assert(s.getAs[String]("sales_channel_source") == "Shopify")
    assert(s.getAs[Boolean]("is_paid"))
  }

  test("shopify attribution: UTM decode, checkout exclusion, referrer nulling") {
    out // force the DAG run so the staging table is materialized
    val attr = new Catalog(spark, warehouse)
      .load("staging", "shopify_order_attribution")
    val g = attr.filter(col("order_number") === "S-2001").head()
    assert(g.getAs[String]("utm_source") == "google ads")
    assert(g.getAs[String]("utm_campaign") == "spring sale")
    assert(g.getAs[String]("referrer") == "https://www.google.com/")
    assert(attr.filter(col("order_number") === "S-2002").count() == 0,
      "/checkout landing excluded")
    val pay = attr.filter(col("order_number") === "S-2003").head()
    assert(pay.getAs[String]("referrer") == null,
      "pay.shopify.com referrer nulled")
  }

  test("shopify marketing spine: products join, enrichment, marts") {
    val prod = out("staging.shopify_products")
    assert(prod.count() == 3,
      "blank-sku variant and inactive-parent variant both dropped")
    assert(prod.filter(col("sku") === "ZZZ-1").count() == 0)
    val jane = out("intermediate.shopify_customer_enrichment")
      .filter(col("customer_id") === 701).head()
    assert(jane.getAs[Long]("shopify_order_count") == 1)
    assert(jane.getAs[Boolean]("is_email_subscriber"))
    assert(!jane.getAs[Boolean]("is_sms_subscriber"))
    val janeM = out("mart.fct_customer_marketing")
      .filter(col("customer_id") === 701).head()
    assert(janeM.getAs[String]("full_name") == "Jane Smith")
    assert(janeM.getAs[String]("customer_segment") == "Low Value")
    val attr = out("mart.fct_order_attribution")
    assert(attr.count() == 3, "test order excluded")
    val paid = attr.filter(col("order_number") === "S-2001").head()
    assert(paid.getAs[String]("utm_source") == "google ads")
    assert(paid.getAs[String]("acquisition_channel") == "Paid")
    val mp = out("mart.mart_marketing_performance")
    assert(mp.count() == 2, "May/Paid + June/Direct-organic buckets")
    val direct = mp.filter(col("acquisition_channel") === "Direct").head()
    assert(direct.getAs[Long]("order_count") == 2)
    assert(direct.getAs[Double]("opt_in_rate") == 50.0)
  }

  test("unified matching: full outer with coalesced key and statuses") {
    val m = out("intermediate.order_matching")
    val statuses = m.groupBy("match_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses("matched") == 1) // S-2001 on both sides
    assert(statuses("shopify_only") == 2) // S-2002, S-2003 (test excluded)
    assert(statuses("quickbooks_only") == 7)
    val matched = m.filter(col("match_status") === "matched").head()
    assert(matched.getAs[Double]("amount_delta") == 0.0)
  }

  test("trade shows: dedup keeps earliest non-generated lead per email") {
    val leads = out("staging.trade_show_leads")
    assert(leads.count() == 3)
    val acme = leads.filter(col("email") === "buyer@acme.com").head()
    assert(acme.getAs[String]("lead_id") == "L001")
    assert(leads.filter(col("lead_id").startsWith("gen_")).count() == 2)
  }

  test("trade shows: J12 rewrite preserves rows and computes windows") {
    val fct = out("mart.fct_trade_show_leads")
    assert(fct.count() == 3, "unmatched leads keep their row (no drop)")
    val acme = fct.filter(col("email") === "buyer@acme.com").head()
    assert(math.abs(acme.getAs[Double]("revenue_30d") - 34.8) < 1e-9)
    assert(math.abs(acme.getAs[Double]("revenue_all_time") - 355.8) < 1e-9)
    assert(acme.getAs[Int]("days_to_conversion") == 10)
    val unmatched = fct.filter(col("email") === "ana@newprospect.io").head()
    assert(unmatched.getAs[Double]("revenue_all_time") == 0.0,
      "NULL-key lead keeps zero revenue, not dropped (SURVEY §7.4 #3)")
  }

  test("trade shows: J14 + attribution flags + distinct purchasers") {
    val fct = out("mart.fct_trade_show_leads")
    val acme = fct.filter(col("email") === "buyer@acme.com").head()
    assert(acme.getAs[Boolean]("lead_email_is_customer"),
      "buyer@acme.com is a person-level customer email (J14)")
    assert(acme.getAs[Boolean]("attributed_30d"),
      "acme's first-ever order (2024-01-25) within 30d of the show")
    assert(acme.getAs[Boolean]("attributed_all_time"))
    assert(acme.getAs[Boolean]("is_new_customer_from_show"))
    assert(acme.getAs[Long]("distinct_purchasers_count") == 2,
      "C001 and C002 main-email identities both bought after the show")
    assert(acme.getAs[Long]("orders_all_time") == 3)
    val unmatched = fct.filter(col("email") === "ana@newprospect.io").head()
    assert(!unmatched.getAs[Boolean]("lead_email_is_customer"))
    assert(unmatched.getAs[Long]("distinct_purchasers_count") == 0)
    assert(acme.getAs[String]("title") == "Purchasing Manager")
    assert(acme.getAs[String]("email_type") == "business_email")
    assert(acme.getAs[Boolean]("has_phone"))
    val perf = out("mart.fct_trade_show_performance")
      .filter(col("show_name") === "World of Asphalt").head()
    assert(perf.getAs[String]("show_location") == "Nashville, TN")
    assert(perf.getAs[Long]("valid_emails") == 2)
    assert(perf.getAs[Long]("total_leads_collected") == 2)
    assert(perf.getAs[Long]("leads_matched_to_companies") == 1)
    assert(perf.getAs[Long]("leads_individual_emails") == 1)
    assert(perf.getAs[Long]("leads_who_are_direct_customers") == 1)
    assert(perf.getAs[Long]("conversions_30d") == 1)
    assert(perf.getAs[Double]("match_rate_pct") == 50.0)
  }

  test("pricing history: as-of authoritative price, trend, discounts") {
    val ph = out("mart.fct_product_pricing_history")
      .filter(col("product_service") === "01-6310.AK4")
      .orderBy("order_date")
    val byDate = ph.select("order_date", "authoritative_price").collect()
      .map(r => r.getDate(0).toString -> Option(r.get(1))).toMap
    assert(byDate("2024-01-25").isEmpty, "no snapshot before first order")
    assert(byDate("2024-05-20").contains(14.50))
    assert(byDate("2024-06-10").contains(15.00))
    val jun10 = ph.filter(col("order_date") === "2024-06-10").head()
    assert(jun10.getAs[String]("retail_price_source") == "AUTHORITATIVE")
    assert(jun10.getAs[Double]("retail_price_at_date") == 15.00)
    assert(jun10.getAs[String]("price_trend") == "STABLE",
      "15.00 after 15.00 on 2024-05-20")
    val may20 = ph.filter(col("order_date") === "2024-05-20").head()
    assert(may20.getAs[String]("price_trend") == "DECREASING",
      "15.00 after the 16.00 Amazon sale on 2024-04-18")
    assert(jun10.getAs[Double]("current_list_price") == 15.00)
    val first = ph.filter(col("order_date") === "2024-01-25").head()
    assert(first.getAs[String]("price_trend") == "NEW")
    assert(first.getAs[Int]("days_since_last_sale") == 0)
    // services never get an inferred retail price
    val shipping = out("mart.fct_product_pricing_history")
      .filter(col("product_service") === "SHIPPING")
    assert(shipping.filter(col("inferred_retail_price").isNotNull)
      .count() == 0)
  }

  test("inventory history commits hive-partitioned; reads prune by snapshot") {
    out // run the DAG
    val dataDir = graft.operators.AtomicTable.latestDataPath(spark,
      s"$warehouse/intermediate/inventory_history").get
    assert(new java.io.File(s"$dataDir/snapshot_date=2024-05-01").exists())
    assert(new java.io.File(s"$dataDir/snapshot_date=2024-06-01").exists())
    // a date-ranged reader of the committed table opens ONLY the
    // selected snapshot directory
    val read = new Catalog(spark, warehouse)
      .load("intermediate", "inventory_history")
      .filter(col("snapshot_date") === "2024-06-01")
    assert(read.collect().length == 5)
    // the executed scan's metrics prove pruning: only the matching
    // snapshot directory's file was opened (inputFiles would list the
    // whole relation — it ignores partition filters)
    val scans = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PartitionFilters").contains("snapshot_date"))
    assert(scans.head.metrics("numFiles").value == 1,
      "one snapshot dir = one file opened")
    // the frame the DAG hands downstream keeps the declared order/types
    val inv = out("intermediate.inventory_history")
    assert(inv.columns.toSeq == Seq("item_name", "snapshot_date",
      "quantity_on_hand", "sales_price"))
    assert(inv.schema("snapshot_date").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("pricing mart commits z-ordered; 2-d probe skips files via manifest") {
    import graft.operators.{AtomicTable, DataSkipping}
    import graft.ref.TimeSeries
    out // run the DAG
    val tableDir = s"$warehouse/mart/fct_product_pricing_history"
    val dataDir = AtomicTable.latestDataPath(spark, tableDir).get
    // the z-ordered commit wrote the per-file stats manifest
    val stats = DataSkipping.readManifest(spark, dataDir).get
    assert(stats.nonEmpty && stats.head.dims.map(_.name).toSet ==
      Set("product_bucket", "month_bucket"))
    val full = AtomicTable.read(spark, tableDir).get
    // probe a real (product, month): bucket it EXACTLY like the writer
    val probe = full.orderBy("product_service", "order_date")
      .select(col("product_service"), col("order_date"),
        TimeSeries.pricingZDims(0)._2.as("pb"),
        TimeSeries.pricingZDims(1)._2.as("mb")).head()
    val (prod, pb, mb) = (probe.getString(0), probe.getLong(2),
      probe.getLong(3))
    val pruned = DataSkipping.readSkipping(spark, tableDir,
      Map("product_bucket" -> ((pb, pb)), "month_bucket" -> ((mb, mb))))
    // row-correct: the probe's rows survive file selection exactly
    // (month side re-uses the shared bucket expr — same mod-256 math)
    val pred = col("product_service") === prod &&
      TimeSeries.pricingZDims(1)._2 === mb
    val want = full.filter(pred).select("product_service", "order_date",
      "avg_unit_price").collect().map(_.toSeq).toSet
    val got = pruned.filter(pred).select("product_service", "order_date",
      "avg_unit_price").collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want)
    // and the executed scan opened a strict subset of the mart's files
    assert(pruned.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"no skipping: ${pruned.inputFiles.length} of " +
        s"${full.inputFiles.length} files")
    val scans = pruned.filter(pred).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    pruned.filter(pred).collect()
    assert(scans.nonEmpty)
  }

  test("inventory incremental appends only newer snapshots, fails on drift") {
    import graft.ref.TimeSeries
    val inv = out("intermediate.inventory_history")
    val existing = inv.filter(col("snapshot_date") < "2024-06-01")
    val fresh = TimeSeries.inventoryHistoryIncrement(existing, inv)
    assert(fresh.count() ==
      inv.filter(col("snapshot_date") > "2024-05-01").count())
    intercept[IllegalArgumentException] {
      TimeSeries.inventoryHistoryIncrement(
        existing.withColumnRenamed("sales_price", "price"), inv)
    }
  }

  test("enrichment JSONL lands on fct_companies with guarded casts") {
    val c = out("mart.fct_companies")
    val acme = c.filter(col("company_domain_key") === "acme.com").head()
    assert(acme.getAs[String]("industry") == "Construction")
    assert(acme.getAs[String]("description") ==
      "Asphalt anchoring products", "enriched description preferred")
    assert(acme.getAs[Int]("founded_year") == 1998)
    val bolt = c.filter(col("company_domain_key") === "boltsupply.ca").head()
    assert(bolt.isNullAt(bolt.fieldIndex("founded_year")),
      "'' founded_year stays NULL via guard")
    assert(bolt.getAs[String]("description") == "fasteners",
      "falls back to base description when enriched is ''")
  }

  test("time series: lag-based QoQ present once a company has 2 quarters") {
    val ts = out("mart.fct_company_orders_time_series")
    val acme = ts.filter(col("company_domain_key") === "acme.com")
      .orderBy("yr", "qtr").collect()
    assert(acme.length >= 2)
    assert(acme.head.getAs[Double]("prev_q_revenue") == null ||
      acme.head.isNullAt(acme.head.fieldIndex("prev_q_revenue")))
    assert(!acme(1).isNullAt(acme(1).fieldIndex("prev_q_revenue")))
  }

  test("DagLint: real DAG green; injected violations red; stale accepts red") {
    import graft.tools.DagLint
    out // force the DAG run so cat.lineage is populated
    val report = DagLint.check(cat.lineage)
    assert(report.ok, s"unaccepted: ${report.unaccepted.mkString("; ")}" +
      s" stale: ${report.stale.mkString("; ")}")
    // the register is exercised, not vacuously green
    assert(report.violations.nonEmpty)
    assert(report.violations.exists(v =>
      v.kind == "rejoin-upstream" &&
        v.model == "mart.mart_product_company_period_spending"),
      "the reference's documented accepted rejoin must be detected")
    // REAL injected violation through the extraction path: a mini
    // catalog whose mart scans a raw model directly
    val bad = new Catalog(spark,
      tempRoot("daglint_bad").toString)
    import spark.implicits._
    val rawT = bad.saveTable("raw", "src",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    bad.saveTable("mart", "bad_mart",
      rawT.groupBy("v").count())
    val red = DagLint.check(bad.lineage)
    assert(!red.ok)
    assert(red.unaccepted.exists(v =>
      v.kind == "reads-raw" && v.model == "mart.bad_mart"))
    // an accepted entry whose model is BUILT but whose violation no
    // longer occurs fails the check (the entry should be deleted) —
    // while an entry for a model absent from this DAG variant (e.g.
    // Shopify models in the cli's minimal mode) is NOT stale
    val stale = DagLint.check(cat.lineage,
      DagLint.accepted + (("reads-raw", "mart.fct_orders") -> "bogus"))
    assert(!stale.ok && stale.stale.contains(("reads-raw", "mart.fct_orders")))
    val variant = DagLint.check(cat.lineage,
      DagLint.accepted + (("reads-raw", "mart.not_in_this_variant") -> "x"))
    assert(variant.ok, "absent model must not read as stale")
  }
}
