package graft.ref

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.Par

/** Deterministic topological runner for the reference's model DAG
  * (SURVEY §3.2) — stages 1-3 of the orchestrator collapsed into one
  * SparkSession: consolidation job, staging views, intermediate
  * tables/views, marts (all marts materialized as tables, like
  * dbt_project.yml:20-33). The Shopify dependency is existence-guarded
  * at plan-construction time (fct_orders.sql:24-55); trade-show-style
  * mart-reads-mart edges are expressed by running marts in declared
  * order.
  *
  * SCHEDULING: independent sibling models materialize CONCURRENTLY
  * (bounded thread pool, [[graft.operators.Par]]; a failed model
  * cancels its siblings' jobs) — the dbt `--threads` discipline.
  * Waves are placed at the DAG's natural frontiers (post-`orders`
  * intermediates; the two contact chains; the mart fan-outs around the
  * `fct_order_line_items` → `fct_company_orders` pinch), so results are
  * byte-identical to the sequential order — only the wall clock
  * changes (measured on the fixture DAG: ~27 s → see BASELINE.md r08).
  */
object ModelDag {

  /** Raw inputs, reference-shaped (FIXTURES.md). */
  final case class RawInputs(
      customers: DataFrame,
      items: DataFrame,
      invoices: DataFrame,
      salesReceipts: DataFrame,
      shopifyOrders: Option[DataFrame] = None,
      shopifyFulfillments: Option[DataFrame] = None,
      shopifyCustomers: Option[DataFrame] = None,
      shopifyProducts: Option[DataFrame] = None,
      shopifyVariants: Option[DataFrame] = None,
      tradeShowLeads: Option[DataFrame] = None,
      enrichmentJsonlPath: Option[String] = None,
      individualDomains: Seq[String] = Seq("gmail.com", "yahoo.com",
        "hotmail.com", "outlook.com", "aol.com"),
      explicitNameMappings: Map[String, String] = Map.empty)

  final val AsOfDate = "2024-06-30"

  /** Runs the full DAG; returns every materialized model by name. */
  def run(cat: Catalog, raw: RawInputs): Map[String, DataFrame] = {
    // ---- consolidation job (python pre-transform, SURVEY §3.3) ----
    // The two mapping builders and their stagings are independent
    // chains — run raw→staging per chain, chains in parallel.
    val mappingChains = Par.run[(DataFrame, DataFrame)](cat.spark, Seq(
      () => {
        val r = cat.saveTable("raw", "domain_mapping",
          DomainConsolidation.buildDomainMapping(raw.customers,
            raw.individualDomains))
        (r, cat.saveTable("staging", "domain_mapping",
          Staging.domainMapping(r)))
      },
      () => {
        val r = cat.saveTable("raw", "customer_name_mapping",
          DomainConsolidation.buildCustomerNameMapping(raw.customers,
            raw.explicitNameMappings))
        (r, cat.saveTable("staging", "customer_name_mapping",
          Staging.customerNameMapping(r)))
      }))
    val (domainMappingRaw, stgDomainMapping) = mappingChains(0)
    val (nameMappingRaw, stgNameMapping) = mappingChains(1)

    // ---- staging (views; mapping stagings are tables per
    //      stg_quickbooks__domain_mapping.sql:4-7) ----
    val stgCustomers = cat.saveView("staging", "customers",
      Staging.customers(raw.customers))
    val stgItems = cat.saveView("staging", "items",
      Staging.items(raw.items))
    val base = cat.saveView("staging", "base_order_items",
      Staging.baseOrderItems(raw.invoices, raw.salesReceipts))
    val taxed = cat.saveView("staging", "order_items_tax_status",
      Staging.orderItemsTaxStatus(base))

    // ---- intermediate ----
    // order_items_typed stays a VIEW like the reference even though
    // three separately-executed models consume it: materializing it was
    // MEASURED AND REJECTED at data volume (refdemo_sf01_total min-of-3
    // 52.0 s → 55.3 s, r09) — the full-width 600k-row parquet
    // write+read-back costs more than recomputing the 3-way raw join
    // per consumer, the same verdict as the r07 Mat.temp experiment on
    // a9/minhash. Spark's scan+join is simply faster than 1×write+3×read
    // at this width.
    val typed = cat.saveView("intermediate", "order_items_typed",
      Staging.orderItemsTyped(taxed))
    val orders = cat.saveTable("intermediate", "orders",
      Intermediate.orders(typed))
    // Six siblings whose inputs (orders, stgItems, staged mappings) are
    // all materialized: one parallel wave.
    val wave = Par.run[DataFrame](cat.spark, Seq(
      () => cat.saveTable("intermediate", "customer_revenue",
        Intermediate.customerRevenue(orders)),
      () => cat.saveTable("intermediate", "items_enriched",
        Intermediate.itemsEnriched(stgItems)),
      () => cat.saveTable("intermediate", "material_type",
        Intermediate.materialType(stgItems)),
      () => cat.saveTable("intermediate", "item_kits",
        Intermediate.itemKits(stgItems)),
      () => cat.saveTable("intermediate", "product_family",
        Intermediate.productFamily(stgItems)),
      () => cat.saveTable("intermediate", "customer_company_mapping",
        Intermediate.customerCompanyMapping(stgCustomers, stgDomainMapping,
          stgNameMapping))))
    val (revenue, itemsEnriched, materialType) = (wave(0), wave(1), wave(2))
    val (itemKits, productFamily, mapping) = (wave(3), wave(4), wave(5))
    val consolidation = cat.saveTable("intermediate",
      "company_consolidation",
      Intermediate.companyConsolidation(mapping, revenue))

    // ---- contacts: the legacy path and the fixed path run ALONGSIDE
    //      each other (SURVEY §3.2 wrinkle #3) — two independent
    //      sequential chains, one parallel pair. The view registration
    //      stays outside the pool (views are lazy; only tables cost). ----
    val cleanContacts = cat.saveView("staging", "customer_contacts_clean",
      Staging.customerContactsClean(raw.customers))
    val contactChains = Par.run[Seq[DataFrame]](cat.spark, Seq(
      () => {
        val contacts = cat.saveTable("intermediate", "customer_contacts",
          Contacts.customerContacts(stgCustomers))
        val personMapping = cat.saveTable("intermediate",
          "customer_person_mapping",
          Contacts.personMapping(contacts,
            mapping.select("customer_id", "company_domain_key")))
        val dimContacts = cat.saveTable("mart", "dim_customer_contacts",
          Contacts.dimCustomerContacts(personMapping))
        Seq(contacts, personMapping, dimContacts)
      },
      () => {
        val emailParsed = cat.saveTable("intermediate",
          "contact_email_parsing", ContactsFixed.emailParsing(cleanContacts))
        val namesEnriched = cat.saveTable("intermediate",
          "contact_name_enrichment",
          ContactsFixed.nameEnrichment(emailParsed))
        val qualityScored = cat.saveTable("intermediate",
          "contact_quality_scoring",
          ContactsFixed.qualityScoring(namesEnriched))
        val personMappingFixed = cat.saveTable("intermediate",
          "customer_person_mapping_fixed",
          ContactsFixed.personMappingFixed(qualityScored, mapping))
        val dimContactsFixed = cat.saveTable("mart",
          "dim_customer_contacts_fixed",
          ContactsFixed.dimCustomerContactsFixed(personMappingFixed,
            consolidation))
        Seq(emailParsed, namesEnriched, qualityScored, personMappingFixed,
          dimContactsFixed)
      }))
    val Seq(contacts, personMapping, dimContacts) = contactChains(0)
    val Seq(emailParsed, namesEnriched, qualityScored, personMappingFixed,
      dimContactsFixed) = contactChains(1)

    // ---- shopify (optional source; writes the intermediate the
    //      fct_orders guard looks for) ----
    raw.shopifyOrders.foreach { rawSh =>
      val stg = cat.saveTable("staging", "shopify_orders",
        Shopify.orders(rawSh))
      val attr = cat.saveTable("staging", "shopify_order_attribution",
        Shopify.orderAttribution(stg, "asphaltanchors.com"))
      val stgFulfill = raw.shopifyFulfillments.map { f =>
        cat.saveTable("staging", "shopify_order_fulfillments",
          Shopify.orderFulfillments(f, rawSh))
      }
      val enriched = cat.saveTable("intermediate",
        "shopify_orders_enriched",
        Shopify.ordersEnriched(stg, stgFulfill, attr))
      // ---- marketing spine (P13/P14/A6 + attribution marts) ----
      raw.shopifyCustomers.foreach { rawCust =>
        val stgCust = cat.saveTable("staging", "shopify_customers",
          Shopify.customers(rawCust))
        val custEnrich = cat.saveTable("intermediate",
          "shopify_customer_enrichment",
          Shopify.customerEnrichment(stgCust, enriched))
        cat.saveTable("mart", "fct_customer_marketing",
          Shopify.fctCustomerMarketing(custEnrich, AsOfDate))
      }
      for { p <- raw.shopifyProducts; v <- raw.shopifyVariants }
        cat.saveTable("staging", "shopify_products",
          Shopify.products(p, v))
      val attribution = cat.saveTable("mart", "fct_order_attribution",
        Shopify.fctOrderAttribution(enriched))
      cat.saveTable("mart", "mart_marketing_performance",
        Shopify.martMarketingPerformance(attribution))
    }

    // ---- marts (tables) ----
    val shopify =
      if (cat.exists("intermediate", "shopify_orders_enriched"))
        Some(cat.load("intermediate", "shopify_orders_enriched"))
      else None
    // J5: primary-company-contact projection joined into fct_orders
    // (fct_orders.sql:75-86,206) — small dim, broadcast inside.
    val primaryContacts = dimContacts
      .filter(col("is_primary_company_contact"))
      .select(col("customer_name").as("customer"),
        col("contact_id").as("primary_contact_id"),
        col("full_name").as("primary_contact_name"),
        col("primary_email").as("primary_contact_email"),
        col("primary_phone").as("primary_contact_phone"),
        col("contact_role").as("primary_contact_role"))
    // Wave M1: four marts whose lineages are disjoint at this point.
    val m1 = Par.run[DataFrame](cat.spark, Seq(
      () => cat.saveTable("mart", "fct_orders",
        Marts.fctOrders(orders, shopify, Some(primaryContacts))),
      () => cat.saveTable("mart", "fct_products",
        Marts.fctProducts(itemsEnriched, Some(materialType))),
      () => cat.saveTable("mart", "fct_companies",
        raw.enrichmentJsonlPath match {
          case Some(path) =>
            val rawEnrich = cat.saveTable("raw", "company_enrichment",
              Enrichment.readJsonl(cat.spark, path))
            val stgEnrich = cat.saveTable("staging", "company_enrichment",
              Enrichment.staging(rawEnrich))
            Enrichment.enrichCompanies(Marts.fctCompanies(consolidation),
              stgEnrich)
          case None => Marts.fctCompanies(consolidation)
        }),
      () => cat.saveTable("mart", "bridge_customer_company",
        Marts.bridgeCustomerCompany(mapping))))
    val (fctOrders, fctProducts) = (m1(0), m1(1))
    val (fctCompanies, bridge) = (m1(2), m1(3))
    val fctLineItems = cat.saveTable("mart", "fct_order_line_items",
      Marts.fctOrderLineItems(typed, fctProducts))
    val companyOrders = cat.saveTable("mart", "fct_company_orders",
      Marts.fctCompanyOrders(fctLineItems, bridge))

    // Wave M2: everything downstream of the (companyOrders, fctOrders,
    // fctLineItems, fctProducts, fctCompanies) frontier — ten
    // independent lineages (two of them short chains), one wave.
    val m2 = Par.run[Seq[DataFrame]](cat.spark, Seq(
      () => Seq(cat.saveTable("mart", "dim_company_health",
        Marts.dimCompanyHealth(companyOrders, fctCompanies, AsOfDate))),
      () => {
        val cp = cat.saveTable("mart", "fct_company_products",
          Marts.fctCompanyProducts(fctLineItems, bridge, fctProducts,
            fctCompanies, AsOfDate))
        Seq(cp, cat.saveTable("mart",
          "mart_product_company_period_spending",
          Marts.productCompanyPeriodSpending(cp, fctLineItems,
            bridge, AsOfDate)))
      },
      () => Seq(cat.saveTable("mart", "dim_accounts_receivable_aging",
        Marts.arAging(fctOrders, AsOfDate))),
      () => Seq(cat.saveTable("mart", "fct_dso_metrics",
        Marts.dsoMetrics(fctOrders, AsOfDate))),
      () => Seq(cat.saveTable("mart", "mart_company_period_metrics",
        Marts.companyPeriodMetrics(companyOrders, fctCompanies, AsOfDate))),
      () => Seq(cat.saveTable("mart", "mart_product_margin_analytics",
        Marts.productMarginAnalytics(fctLineItems))),
      () => Seq(cat.saveTable("mart", "fct_company_orders_time_series",
        TimeSeries.companyOrdersTimeSeries(companyOrders))),
      () => Seq(cat.saveTable("mart", "mart_product_unit_sales",
        TimeSeries.productUnitSales(fctLineItems))),
      // Z-ordered commit (r11): pricing history is probed by product
      // AND by period — partitioning on either dimension leaves the
      // other unpruned, so the mart is laid out along the Morton curve
      // of (product-bucket, month-bucket) with a per-file stats
      // manifest; two-dimensional probes then open only the files whose
      // tile overlaps (RefPipelineSpec proves the pruned scan on the
      // committed table). Dims defined once in TimeSeries.pricingZDims
      // so writers and readers bucket identically.
      () => Seq(cat.saveTableZOrdered("mart", "fct_product_pricing_history",
        TimeSeries.pricingHistory(typed, stgItems, Some(fctProducts)),
        TimeSeries.pricingZDims, numRanges = 16)),
      () => {
        // The reference's ONE incremental model (int_quickbooks__
        // inventory_history.sql:7-12) — committed hive-partitioned on
        // snapshot_date so date-ranged readers of the table prune whole
        // snapshot directories instead of scanning history (daily
        // snapshot grain = low cardinality; OperatorsSpec proves the
        // pruned scan on the committed layout).
        val inv = cat.saveTablePartitioned("intermediate",
          "inventory_history",
          stgItems.select("item_name", "snapshot_date", "quantity_on_hand",
            "sales_price").distinct(), Seq("snapshot_date"))
        Seq(inv, cat.saveTable("mart", "fct_inventory_history",
          TimeSeries.fctInventoryHistory(inv, fctProducts)))
      }))
    val companyHealth = m2(0).head
    val Seq(companyProducts, periodSpending) = m2(1)
    val (aging, dso) = (m2(2).head, m2(3).head)
    val (periodMetrics, marginAnalytics) = (m2(4).head, m2(5).head)
    val (timeSeries, unitSales, pricing) = (m2(6).head, m2(7).head,
      m2(8).head)
    val Seq(inventory, fctInventory) = m2(9)
    val baseOrdersCurrent = cat.saveView("mart", "base_fct_orders_current",
      Marts.baseFctOrdersCurrent(fctOrders, AsOfDate))

    // ---- unified order matching (after shopify + orders) ----
    val matching = shopify.map { sh =>
      cat.saveTable("intermediate", "order_matching",
        Shopify.orderMatching(
          cat.load("staging", "shopify_orders"), orders))
    }

    // ---- trade shows (mart-reads-mart: after fct_companies +
    //      fct_company_orders, SURVEY §3.2 wrinkle #2) ----
    val tradeShowOut = raw.tradeShowLeads.map { rawLeads =>
      val stgLeads = cat.saveTable("staging", "trade_show_leads",
        TradeShows.leads(rawLeads, raw.individualDomains))
      val matched = cat.saveTable("intermediate",
        "leads_with_company_match",
        TradeShows.leadsWithCompanyMatch(stgLeads, stgDomainMapping,
          fctCompanies))
      // company orders with purchaser identity (fct_trade_show_leads
      // company_orders CTE) + the person-level customer-email dim (J14)
      val attributionOrders = orders
        .join(mapping.select(col("customer_name").as("customer"),
          col("company_domain_key"), col("main_email")), Seq("customer"))
        .select(col("company_domain_key"), col("order_date"),
          col("order_amount"), col("main_email").as("purchaser_email"))
      val customerEmails = personMapping
        .select(col("company_domain_key"),
          col("email").as("customer_email"))
        .filter(col("customer_email").isNotNull)
      val fctLeads = cat.saveTable("mart", "fct_trade_show_leads",
        TradeShows.fctLeads(matched, attributionOrders,
          Some(customerEmails)))
      val perf = cat.saveTable("mart", "fct_trade_show_performance",
        TradeShows.showPerformance(fctLeads))
      Map("staging.trade_show_leads" -> stgLeads,
        "intermediate.leads_with_company_match" -> matched,
        "mart.fct_trade_show_leads" -> fctLeads,
        "mart.fct_trade_show_performance" -> perf)
    }.getOrElse(Map.empty)

    tradeShowOut ++
      matching.map("intermediate.order_matching" -> _).toMap ++
      Seq(("intermediate", "shopify_orders_enriched"),
        ("staging", "shopify_order_fulfillments"),
        ("staging", "shopify_customers"), ("staging", "shopify_products"),
        ("intermediate", "shopify_customer_enrichment"),
        ("mart", "fct_customer_marketing"),
        ("mart", "fct_order_attribution"),
        ("mart", "mart_marketing_performance"))
        .filter { case (sch, n) => cat.exists(sch, n) }
        .map { case (sch, n) => s"$sch.$n" -> cat.load(sch, n) }
        .toMap ++
    Map(
      "intermediate.customer_contacts" -> contacts,
      "intermediate.customer_person_mapping" -> personMapping,
      "mart.dim_customer_contacts" -> dimContacts,
      "staging.customer_contacts_clean" -> cleanContacts,
      "intermediate.contact_email_parsing" -> emailParsed,
      "intermediate.contact_name_enrichment" -> namesEnriched,
      "intermediate.contact_quality_scoring" -> qualityScored,
      "intermediate.customer_person_mapping_fixed" -> personMappingFixed,
      "mart.dim_customer_contacts_fixed" -> dimContactsFixed,
      "mart.fct_company_orders_time_series" -> timeSeries,
      "mart.mart_product_unit_sales" -> unitSales,
      "mart.fct_product_pricing_history" -> pricing,
      "intermediate.inventory_history" -> inventory,
      "raw.domain_mapping" -> domainMappingRaw,
      "raw.customer_name_mapping" -> nameMappingRaw,
      "staging.customers" -> stgCustomers,
      "staging.items" -> stgItems,
      "staging.base_order_items" -> base,
      "intermediate.orders" -> orders,
      "intermediate.customer_revenue" -> revenue,
      "intermediate.items_enriched" -> itemsEnriched,
      "intermediate.customer_company_mapping" -> mapping,
      "intermediate.company_consolidation" -> consolidation,
      "mart.fct_orders" -> fctOrders,
      "mart.fct_products" -> fctProducts,
      "mart.fct_order_line_items" -> fctLineItems,
      "mart.fct_companies" -> fctCompanies,
      "mart.bridge_customer_company" -> bridge,
      "mart.fct_company_orders" -> companyOrders,
      "mart.dim_company_health" -> companyHealth,
      "intermediate.material_type" -> materialType,
      "intermediate.item_kits" -> itemKits,
      "intermediate.product_family" -> productFamily,
      "mart.fct_company_products" -> companyProducts,
      "mart.mart_product_company_period_spending" -> periodSpending,
      "mart.dim_accounts_receivable_aging" -> aging,
      "mart.fct_dso_metrics" -> dso,
      "mart.mart_company_period_metrics" -> periodMetrics,
      "mart.base_fct_orders_current" -> baseOrdersCurrent,
      "mart.mart_product_margin_analytics" -> marginAnalytics,
      "mart.fct_inventory_history" -> fctInventory)
  }
}
