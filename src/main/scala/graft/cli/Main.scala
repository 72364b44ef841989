package graft.cli

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.{CorpusDemoSource, CorpusPipeline}
import graft.functions.Fns
import graft.ingest.Ingest
import graft.operators.{MergeUpsert, SnapshotManifest}
import graft.quality.Checks
import graft.ref.{Catalog, ModelDag}
import graft.tools.DagLint

/** UNIFIED PIPELINE DRIVER — the one-command counterpart of the
  * reference's `orchestrator.py run_full_pipeline(mode)`
  * (orchestrator.py:506-573): sources in priority order with a
  * processed-file mtime skip (orchestrator.py:86-141) → raw-layer load
  * (DLT merge semantics) → the full transform DAG → non-fatal data-
  * quality checks, all inside ONE SparkSession and one governed
  * [[Pass]] (recovery, snapshot manifest, DagLint).
  *
  * {{{
  * runMain graft.cli.Main --seed        --data DIR [--warehouse DIR]
  * runMain graft.cli.Main --incremental --data DIR [--warehouse DIR]
  * runMain graft.cli.Main               # self-demo: seed → incremental → skip
  * }}}
  *
  * `--corpus` runs the same loop over [[graft.corpus.CorpusPipeline]]
  * instead; `--maintain` sweeps the warehouse after the passes and
  * `--strict` fails on any DagLint finding of any pass.
  *
  * Source layout (see [[DemoSource]] for a generated example):
  * `seed/` holds the historical workbooks (+ `company_enrichment
  * .jsonl`), `input/` the daily exports — both discovered via the
  * filename conventions of [[Ingest.discover]] (S4) — plus the
  * `trade_shows/` workbooks and the two flat-file configs under `config/`
  * (domain_consolidation.py:21-54). `--seed` replaces the raw tables
  * from `seed/`; `--incremental` requires a prior seed and merges each
  * newer `input/` file chronologically (DLT `write_disposition="merge"`,
  * pipelines/quickbooks/pipeline.py:301-306). Every raw table is an
  * [[graft.operators.AtomicTable]] commit, so a crashed run never
  * leaves a half-written raw layer and the transform always reads a
  * committed snapshot.
  *
  * Differences from the reference, both deliberate: Shopify extraction
  * is out-of-engine (docs/ADR-001), so the DAG's Shopify models engage
  * only when another loader has landed `raw.shopify_*`; and seed
  * workbooks are discovered by the dated-name convention rather than
  * the hardcoded `all_lists.xlsx` (the convention subsumes the fixed
  * name and keeps multi-file seeds ordered).
  */
object Main {

  final case class SourceRun(source: String, status: String,
                             files: Seq[String], tables: Map[String, Long])
  final case class Report(mode: String, sources: Seq[SourceRun],
                          models: Int, quality: Seq[Checks.Result],
                          overallStatus: String,
                          modelsSkipped: Seq[String] = Nil,
                          recovered: Seq[SnapshotManifest.Staged] = Nil,
                          manifestSeq: Long = -1L,
                          lint: Option[DagLint.Report] = None) {
    def source(name: String): SourceRun = sources.find(_.source == name).get
  }

  /** raw-layer table per sheet, with post-standardization renames for
    * DLT flattening artifacts `normalizeColumnName` cannot produce
    * (base_quickbooks__order_items.sql reads the double-underscore
    * amount; models/staging/raw_data/sources.yml names the tables). */
  private val sheetTables: Map[String, (String, Map[String, String])] = Map(
    "Customer" -> (("xlsx_customer", Map.empty)),
    "Item" -> (("xlsx_item", Map.empty)),
    "Invoice" -> (("xlsx_invoice",
      Map("product_service_amount" -> "product_service__amount"))),
    "Sales Receipt" -> (("xlsx_sales_receipt", Map.empty)))

  /** DLT primary keys (pipelines/quickbooks/pipeline.py:186-214): the
    * item grain is per snapshot; order lines are per product line. */
  private val mergeKeys: Map[String, Seq[String]] = Map(
    "xlsx_customer" -> Seq("quick_books_internal_id"),
    "xlsx_item" -> Seq("item_name", "snapshot_date"),
    "xlsx_invoice" -> Seq("invoice_no", "product_service"),
    "xlsx_sales_receipt" -> Seq("sales_receipt_no", "product_service"))

  def main(args: Array[String]): Unit = {
    // pipeline session: graft optimizer extensions attached, so every
    // model join benefits from committed ANALYZE stats (see Sessions)
    val spark = graft.Sessions.pipeline(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    val wh = optValue(args, "--warehouse").getOrElse(
      Files.createTempDirectory("graft_cli_wh").toString)
    val seed = args.contains("--seed")
    val inc = args.contains("--incremental")
    require(!(seed && inc), "--seed and --incremental are mutually exclusive")
    val corpus = args.contains("--corpus")
    // one printed pass of the selected driver; --strict turns a DagLint
    // finding into a non-zero exit
    def pass(mode: String, data: String): Unit = {
      val lint =
        if (corpus) printCorpus(CorpusPipeline.run(spark, mode, data, wh))
        else print(run(spark, mode, data, wh, optValue(args, "--source")))
      if (args.contains("--strict") && lint.exists(!_.ok)) {
        System.err.println("[cli] --strict: daglint violations — failing")
        spark.stop()
        sys.exit(1)
      }
    }
    optValue(args, "--data") match {
      case Some(data) =>
        require(seed || inc, "pass --seed or --incremental with --data")
        pass(if (seed) "seed" else "incremental", data)
      case None => // self-demo over a generated tree: seed → inc → skip
        val dir = Files.createTempDirectory("graft_cli_demo")
        if (corpus) CorpusDemoSource.write(spark, dir, upTo = 2)
        else DemoSource.write(spark, dir)
        println(s"[cli] demo source tree at $dir, warehouse at $wh")
        pass("seed", dir.toString)
        if (corpus) CorpusDemoSource.write(spark, dir, upTo = 3) // next drop
        pass("incremental", dir.toString)
        pass("incremental", dir.toString) // skip pass
    }
    if (args.contains("--maintain")) {
      val actions =
        if (corpus) CorpusPipeline.maintain(spark, wh) else maintain(spark, wh)
      if (actions.isEmpty) println("[cli] maintenance: steady state")
      else actions.foreach(a => println(
        s"[cli] maintenance: ${a.table} ${a.action} (${a.detail})"))
    }
    spark.stop()
  }

  /** The pass summary both drivers print after their model count;
    * `detail` is the driver's own part. */
  private def summary(quality: Seq[Checks.Result], skipped: Seq[String],
                      detail: String, manifestSeq: Long,
                      lint: Option[DagLint.Report],
                      status: String): String = {
    val lintNote = lint match {
      case Some(l) if !l.ok =>
        s", daglint RED (${l.unaccepted.size} unaccepted, " +
          s"${l.stale.size} stale, ${l.staleExposures.size} stale-exposure)"
      case Some(l) =>
        s", daglint ok (${l.violations.size} accepted)"
      case None => ""
    }
    (if (skipped.isEmpty) ""
     else s" (${skipped.size} unchanged, served from cache)") + detail +
      s", ${quality.size} quality checks " +
      s"(${quality.count(!_.passed)} failed), snapshot manifest seq " +
      s"$manifestSeq$lintNote → $status"
  }

  /** Prints `r`; returns its lint (for `--strict`). */
  private def printCorpus(r: CorpusPipeline.Report)
      : Option[DagLint.Report] = {
    r.batches.foreach(b => println(
      s"[cli] corpus batch ${b.batch} (ordinal ${b.ordinal}): " +
        s"${b.status}, ${b.rowsIn} in, ${b.keptCurated} curated, " +
        s"${b.keptExact} past exact dedup"))
    println(s"[cli] corpus ${r.mode}: ${r.models} models" +
      summary(r.quality, r.modelsSkipped, s", ${r.canonicalDocs} " +
        "canonical docs, export " +
        (if (r.exportRewritten) "rewritten" else "served"),
        r.manifestSeq, r.lint, r.overallStatus))
    r.lint
  }

  /** Post-run table services over the key marts and every index dir
    * ([[Pass.maintain]]). */
  def maintain(spark: SparkSession, warehouseRoot: String)
      : Seq[graft.operators.Maintenance.Action] =
    Pass.maintain(spark, warehouseRoot, Seq(
      "mart/fct_orders" -> Seq("order_number"),
      "mart/fct_companies" -> Seq("company_domain_key")))

  private def optValue(args: Array[String], flag: String): Option[String] =
    args.indexOf(flag) match {
      case -1 => None
      case i =>
        require(i + 1 < args.length, s"$flag needs a value")
        Some(args(i + 1))
    }

  /** Prints `r`; returns its lint (for `--strict`). */
  private def print(r: Report): Option[DagLint.Report] = {
    r.sources.foreach { s =>
      println(s"[cli] source ${s.source}: ${s.status}" +
        (if (s.tables.isEmpty) ""
         else s.tables.toSeq.sorted
           .map { case (t, n) => s"$t=$n" }.mkString(" (", ", ", ")")))
    }
    println(s"[cli] ${r.mode}: ${r.models} models materialized" +
      summary(r.quality, r.modelsSkipped, "", r.manifestSeq, r.lint,
        r.overallStatus))
    r.lint
  }

  /** One full pipeline pass, a [[Pass]] over the reference DAG.
    * Testable entry: everything `main` does minus session/arg
    * handling. `sourceFilter` mirrors the reference's `--source` flag
    * (orchestrator.py main): only the named source's pipeline runs;
    * others report `filtered` and the transform reads their previously
    * committed raw tables. */
  def run(spark: SparkSession, mode: String, dataDir: String,
          warehouseDir: String,
          sourceFilter: Option[String] = None): Report =
      Pass.run(spark, mode, warehouseDir, "cli") { cat =>
    val store = new Ingest.StateStore(
      s"$warehouseDir/_state/processed_files.json")
    // Operator-error guard, NOT a source failure — checked before any
    // source runs so it fails fast instead of being isolated below.
    if (mode == "incremental")
      require(cat.exists("raw", "xlsx_customer"),
        "incremental mode needs a seeded raw layer — run --seed first")

    // ---- 1. sources, priority order (config/sources.yml semantics).
    //      A source failure is ISOLATED (status 'failed', overall
    //      partial_failure) and the remaining sources + transform still
    //      run — orchestrator.py:561-566 ("failed, continuing with
    //      remaining sources"). The raw layer stays consistent because
    //      every landed table is an already-committed AtomicTable
    //      version. The unseeded-incremental precondition is NOT
    //      swallowed: that is an operator error, not a source error. ----
    def ifSelected(name: String)(body: => SourceRun): SourceRun =
      if (!sourceFilter.forall(_ == name))
        SourceRun(name, "filtered", Nil, Map.empty)
      else
        try body
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[cli] source $name failed: $e")
            SourceRun(name, "failed", Nil, Map.empty)
        }
    val qb = ifSelected("quickbooks")(
      runQuickbooks(spark, cat, store, mode, dataDir))
    val ts = ifSelected("trade_shows")(
      runTradeShows(spark, cat, store, dataDir))
    val sources = Seq(qb, ts)

    // ---- 2. transform DAG (dbt run_after_sources) ----
    require(cat.exists("raw", "xlsx_customer"),
      s"no raw layer under $warehouseDir — run --seed first")
    val raw = ModelDag.RawInputs(
      customers = cat.load("raw", "xlsx_customer"),
      items = cat.load("raw", "xlsx_item"),
      invoices = cat.load("raw", "xlsx_invoice"),
      salesReceipts = cat.load("raw", "xlsx_sales_receipt"),
      tradeShowLeads =
        if (cat.exists("raw", "trade_show_leads"))
          Some(cat.load("raw", "trade_show_leads"))
        else None,
      enrichmentJsonlPath = Some(s"$dataDir/seed/company_enrichment.jsonl")
        .filter(p => Files.exists(Paths.get(p))),
      individualDomains = domainsConfig(dataDir),
      explicitNameMappings = mappingsConfig(dataDir))
    val out = ModelDag.run(cat, raw)

    // ---- 3. the mart battery plus drift alarms on the two key marts
    //      (a seed passes the drift pair vacuously; every incremental
    //      run gets a real "did the refresh halve the table" alarm) ----
    Pass.Built(qualityBattery(out) ++
      Seq("fct_orders", "fct_companies").flatMap(Pass.drift(cat, "mart", _)),
      o => Report(mode, sources, out.size, o.quality, o.overallStatus,
        modelsSkipped = o.modelsSkipped, recovered = o.recovered,
        manifestSeq = o.manifestSeq,
        lint = Some(o.lint)),
      sourceFailed = sources.exists(_.status == "failed"))
  }

  /** QuickBooks XLSX source: discover per mode, mtime skip, land each
    * sheet into its raw table — replace on the first seed batch, DLT
    * merge afterwards. */
  private def runQuickbooks(spark: SparkSession, cat: Catalog,
                            store: Ingest.StateStore, mode: String,
                            dataDir: String): SourceRun = {
    val dir = if (mode == "seed") s"$dataDir/seed" else s"$dataDir/input"
    val files = Ingest.discover(dir)
    val jsonl = Seq(s"$dataDir/seed/company_enrichment.jsonl")
      .filter(p => Files.exists(Paths.get(p)))
    if (files.isEmpty)
      return SourceRun("quickbooks", "no_files", Nil, Map.empty)
    val watched = files.map(_.path) ++ (if (mode == "seed") jsonl else Nil)
    if (!store.changed(watched))
      return SourceRun("quickbooks", "skipped", watched, Map.empty)

    val replaced = mutable.Set[String]()
    val counts = mutable.Map[String, Long]()
    files.foreach { f => // chronological (discover sorts by date)
      graft.sources.Xlsx.readAll(spark, f.path).foreach {
        case (sheet, df) =>
          sheetTables.get(sheet).foreach { case (table, renames) =>
            val std = renames.foldLeft(Fns.standardizeColumns(df)) {
              case (d, (from, to)) => d.withColumnRenamed(from, to)
            }
            val stamped = Ingest.withLoadMetadata(std, f.date,
              isSeed = mode == "seed", sourceFile = f.path)
            // First seed batch per table replaces (a re-seed is a full
            // reload); later batches and all incrementals DLT-merge.
            val firstSeedBatch = mode == "seed" && replaced.add(table)
            val landed =
              if (!firstSeedBatch && cat.exists("raw", table))
                MergeUpsert.upsert(cat.load("raw", table), stamped,
                  mergeKeys(table))
              else stamped
            counts(table) = cat.saveTable("raw", table, landed).count()
          }
      }
    }
    store.markProcessed(watched)
    SourceRun("quickbooks", "loaded", watched, counts.toMap)
  }

  /** Trade-show source: each workbook is a cumulative export, so a
    * changed file set replaces the raw table (staging dedups per email;
    * pipelines/trade_shows/pipeline.py). */
  private def runTradeShows(spark: SparkSession, cat: Catalog,
                            store: Ingest.StateStore,
                            dataDir: String): SourceRun = {
    val dir = Paths.get(s"$dataDir/trade_shows")
    val files =
      if (!Files.isDirectory(dir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        Files.list(dir).iterator().asScala
          .map(_.toString).filter(_.endsWith(".xlsx")).toSeq.sorted
      }
    if (files.isEmpty)
      return SourceRun("trade_shows", "no_files", Nil, Map.empty)
    if (!store.changed(files))
      return SourceRun("trade_shows", "skipped", files, Map.empty)
    val frames = files.flatMap(p =>
      graft.sources.Xlsx.readAll(spark, p).get("Leads")
        .map(df => Fns.standardizeColumns(df)))
    val unioned = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val n = cat.saveTable("raw", "trade_show_leads", unioned).count()
    store.markProcessed(files)
    SourceRun("trade_shows", "loaded", files,
      Map("trade_show_leads" -> n))
  }

  /** `individual_email_domains.txt`: one domain per line, '#' comments
    * (domain_consolidation.py:21-54). Falls back to the RawInputs
    * defaults when absent. */
  private def domainsConfig(dataDir: String): Seq[String] = {
    val p = Paths.get(s"$dataDir/config/individual_email_domains.txt")
    if (!Files.exists(p)) ModelDag.RawInputs(null, null, null, null)
      .individualDomains
    else configLines(p)
  }

  /** `customer_name_mappings.txt`: `original -> normalized` lines
    * (domain_consolidation.py:134-168). */
  private def mappingsConfig(dataDir: String): Map[String, String] = {
    val p = Paths.get(s"$dataDir/config/customer_name_mappings.txt")
    if (!Files.exists(p)) Map.empty
    else configLines(p).flatMap { l =>
      l.split("->") match {
        case Array(a, b) => Some(a.trim -> b.trim)
        case _ => None
      }
    }.toMap
  }

  private def configLines(p: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** The reference's post-run test battery over whatever the DAG
    * produced (mart schema tests, SURVEY §5.1) — non-fatal, violations
    * reported in the [[Report]]. */
  private def qualityBattery(
      out: Map[String, DataFrame]): Seq[Checks.Result] = {
    def on(name: String)(
        checks: DataFrame => Seq[Checks.Result]): Seq[Checks.Result] =
      out.get(name).map(checks).getOrElse(Nil)
    // fct_orders' four tests and fct_companies' two run as ONE
    // aggregate job per table (Checks.singlePass, r21) — names and
    // violation counts identical to the individual checks
    on("mart.fct_orders") { o =>
      Checks.singlePass(o, "fct_orders",
        uniqueCols = Seq("order_number"),
        notNullCols = Seq("order_number"),
        accepted = Seq(
          "sales_channel" -> Seq("Amazon", "Website", "Invoice", "Other"),
          "customer_segment" -> Seq("OEM", "Distributor", "Export",
            "Direct"))).results
    } ++ on("mart.fct_products")(p =>
      Seq(Checks.unique(p, "fct_products", "product_name"))) ++
      on("mart.fct_company_orders")(c =>
        Seq(Checks.uniqueCombination(c, "fct_company_orders",
          Seq("company_domain_key", "order_number")))) ++
      on("mart.fct_companies")(c =>
        Checks.singlePass(c, "fct_companies",
          uniqueCols = Seq("company_domain_key"),
          checkNonEmpty = true).results) ++
      on("mart.dim_company_health")(h =>
        Seq(Checks.unique(h, "dim_company_health",
          "company_domain_key"))) ++
      on("mart.fct_inventory_history")(i =>
        Seq(Checks.uniqueCombination(i, "fct_inventory_history",
          Seq("item_name", "inventory_date")))) ++
      on("mart.fct_trade_show_leads")(l =>
        Seq(Checks.notNull(l, "fct_trade_show_leads", "lead_id")))
  }
}
