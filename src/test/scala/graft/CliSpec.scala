package graft

import org.apache.spark.sql.functions._
import graft.cli.{DemoSource, Main}

/** End-to-end drive of the unified pipeline driver (orchestrator.py:
  * 506-573 counterpart): seed run → incremental run → unchanged re-run,
  * over one generated source tree and one warehouse. Asserts the mode
  * semantics (replace vs DLT merge), the mtime skip, and that the
  * transform lands the reference-battery values at each stage.
  */
class CliSpec extends SparkSpec {

  private lazy val data = DemoSource.write(spark,
    tempRoot("cli_spec_src")).toString
  private lazy val wh =
    tempRoot("cli_spec_wh").toString

  // Sequential lazy pipeline runs shared across tests (ScalaTest runs
  // tests in declaration order within a suite).
  private lazy val seedRun = Main.run(spark, "seed", data, wh)
  // A warehouse reader opened BETWEEN runs: pins the seed-run manifest
  // so the snapshot-isolation test below can prove both-old reads
  // across marts AFTER the incremental run has advanced latest.
  private lazy val snapAfterSeed = {
    seedRun
    graft.operators.SnapshotManifest.snapshot(spark, s"$wh/_snapshots").get
  }
  private lazy val incRun = {
    snapAfterSeed
    Main.run(spark, "incremental", data, wh)
  }
  private lazy val rerun = Main.run(spark, "incremental", data, wh)

  private def cat = new graft.ref.Catalog(spark, wh)

  test("seed: replaces raw layer, runs DAG, quality green") {
    val qb = seedRun.source("quickbooks")
    assert(qb.status == "loaded")
    assert(qb.tables == Map("xlsx_customer" -> 7L, "xlsx_item" -> 5L,
      "xlsx_invoice" -> 7L, "xlsx_sales_receipt" -> 3L))
    assert(seedRun.source("trade_shows").status == "loaded")
    assert(seedRun.models > 30)
    assert(seedRun.overallStatus == "success", seedRun.quality.toString)
    // seed carries only the 2024-05-01 snapshot → pre-raise price
    val ak4 = cat.load("mart", "fct_products")
      .filter(col("product_name") === "01-6310.AK4").head()
    assert(ak4.getAs[Double]("sales_price") == 14.50)
  }

  test("incremental: merges daily files, marts pick up the new snapshot") {
    seedRun // order the pipeline passes
    val qb = incRun.source("quickbooks")
    assert(qb.status == "loaded")
    // items: 5 seed-snapshot rows + 5 daily-snapshot rows (merge keyed
    // on item_name+snapshot_date appends the new snapshot)
    assert(qb.tables("xlsx_item") == 10L)
    // customers: same 7 ids → replaced in place, not duplicated
    assert(qb.tables("xlsx_customer") == 7L)
    // invoices: 7 seed lines + 1 new INV-1005 line
    assert(qb.tables("xlsx_invoice") == 8L)
    assert(incRun.source("trade_shows").status == "skipped")
    assert(incRun.overallStatus == "success", incRun.quality.toString)
    // latest-snapshot dedup now flips the AK4 price
    val ak4 = cat.load("mart", "fct_products")
      .filter(col("product_name") === "01-6310.AK4").head()
    assert(ak4.getAs[Double]("sales_price") == 15.00)
    // the daily invoice reached fct_orders with the right rollup
    val o = cat.load("mart", "fct_orders")
      .filter(col("order_number") === "INV-1005")
    assert(o.count() == 1)
    assert(math.abs(o.head().getAs[Double]("order_amount") - 120.0) < 1e-9)
    // inventory history carries both snapshots for AK4
    assert(cat.load("mart", "fct_inventory_history")
      .filter(col("item_name") === "01-6310.AK4").count() == 2)
  }

  test("unchanged re-run: sources skipped, models served from cache, marts byte-identical") {
    seedRun; incRun
    import graft.operators.AtomicTable
    // capture committed versions BEFORE the re-run is forced
    val watched = Seq("mart/fct_orders", "mart/fct_companies",
      "mart/fct_company_orders", "mart/fct_product_pricing_history",
      "intermediate/inventory_history")
    val before = watched.map(t =>
      t -> AtomicTable.committedVersions(spark, s"$wh/$t")).toMap
    assert(rerun.source("quickbooks").status == "skipped")
    assert(rerun.source("trade_shows").status == "skipped")
    assert(rerun.models == incRun.models)
    assert(rerun.overallStatus == "success")
    // ResultCache fingerprints: unchanged inputs -> models SERVED, not
    // rebuilt (dbt skip-unchanged-model semantics)
    assert(rerun.modelsSkipped.size >= 30, rerun.modelsSkipped.toString)
    assert(rerun.modelsSkipped.contains("mart.fct_orders"))
    assert(rerun.modelsSkipped.contains("mart.fct_product_pricing_history"),
      "z-ordered save path skips too")
    assert(rerun.modelsSkipped.contains("intermediate.inventory_history"),
      "hive-partitioned save path skips too")
    // byte-identical marts: no new version dir was committed anywhere
    watched.foreach { t =>
      assert(AtomicTable.committedVersions(spark, s"$wh/$t") == before(t),
        s"$t grew a new version on an unchanged re-run")
    }
  }

  test("one snapshot manifest per run; cross-mart reader stays both-old through a publish") {
    seedRun; incRun; rerun
    import graft.operators.{AtomicTable, SnapshotManifest}
    // one manifest per pass, monotone seq (r13 VERDICT #2 wiring)
    assert(seedRun.manifestSeq == 0L, seedRun.toString)
    assert(incRun.manifestSeq == 1L)
    assert(rerun.manifestSeq == 2L)
    // the latest manifest resolves every committed mart at its latest
    // version — served (skip-unchanged) models are pinned too
    val snap = SnapshotManifest.snapshot(spark, s"$wh/_snapshots").get
    assert(snap.seq == 2L)
    Seq("mart/fct_orders", "mart/fct_companies", "mart/fct_products")
      .foreach { t =>
        val p = s"$wh/$t"
        assert(snap.pinned(p) ==
          AtomicTable.committedVersions(spark, p).last, t)
        assert(snap.read(p).count() ==
          AtomicTable.read(spark, p).get.count(), t)
      }
    // SNAPSHOT ISOLATION across marts: the reader opened after the seed
    // run still sees the seed state of EVERY mart even though the
    // incremental run has advanced latest — both-old, never mixed
    val ak4old = snapAfterSeed.read(s"$wh/mart/fct_products")
      .filter(col("product_name") === "01-6310.AK4").head()
    assert(ak4old.getAs[Double]("sales_price") == 14.50)
    assert(snapAfterSeed.read(s"$wh/mart/fct_orders")
      .filter(col("order_number") === "INV-1005").count() == 0L)
    // while a latest-reader (and the current snapshot) sees the new run
    assert(snap.read(s"$wh/mart/fct_orders")
      .filter(col("order_number") === "INV-1005").count() == 1L)
  }

  test("daglint runs inside the driver and is green on the real pipeline") {
    seedRun; incRun; rerun
    val lint = rerun.lint.getOrElse(fail("driver did not run daglint"))
    assert(lint.ok, s"unaccepted: ${lint.unaccepted.mkString("; ")} " +
      s"stale: ${lint.stale.mkString("; ")} " +
      s"staleExposures: ${lint.staleExposures.mkString("; ")}")
    // not vacuously green: the accepted register is exercised on the
    // real DAG (the reference's documented rejoin is present)
    assert(lint.violations.exists(v =>
      v.kind == "rejoin-upstream" &&
        v.model == "mart.mart_product_company_period_spending"))
    // an exposure that gains a model consumer goes RED (stale exposure)
    val consumedExposure = graft.tools.DagLint.check(
      rerun.lint.get.violations.headOption.map(_ => Map(
        "mart.x" -> Set("intermediate.item_kits"),
        "intermediate.item_kits" -> Set.empty[String])).get)
    assert(!consumedExposure.ok &&
      consumedExposure.staleExposures == Seq("intermediate.item_kits"))
  }

  test("touched daily file is picked up again (mtime skip is per file)") {
    seedRun; incRun; rerun
    val f = java.nio.file.Paths.get(
      s"$data/input/2024-06-21_transactions.xlsx")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val again = Main.run(spark, "incremental", data, wh)
    assert(again.source("quickbooks").status == "loaded")
    // merge is idempotent on the same lines
    assert(again.source("quickbooks").tables("xlsx_invoice") == 8L)
  }

  test("--source filter runs only the named source pipeline") {
    seedRun; incRun
    val only = Main.run(spark, "incremental", data, wh,
      sourceFilter = Some("trade_shows"))
    assert(only.source("quickbooks").status == "filtered")
    assert(only.source("trade_shows").status == "skipped",
      "selected source still honors the mtime skip")
    assert(only.overallStatus == "success",
      "transform reads the committed raw layer for filtered sources")
  }

  test("a failing source is isolated: others load, transform still runs") {
    val data2 = DemoSource.write(spark,
      tempRoot("cli_spec_src2")).toString
    // corrupt the trade-show workbook: not a zip at all
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$data2/trade_shows/trade_show_leads.xlsx"),
      "this is not a workbook".getBytes)
    val wh2 =
      tempRoot("cli_spec_wh3").toString
    val r = Main.run(spark, "seed", data2, wh2)
    assert(r.source("quickbooks").status == "loaded")
    assert(r.source("trade_shows").status == "failed")
    assert(r.overallStatus == "partial_failure")
    assert(r.models > 30, "transform ran without the failed source")
    val cat2 = new graft.ref.Catalog(spark, wh2)
    assert(!cat2.exists("raw", "trade_show_leads"))
    assert(cat2.exists("mart", "fct_orders"))
  }

  test("post-run maintenance: analyzes fresh marts, then steady state") {
    rerun // ensure the shared pipeline runs completed
    val first = Main.maintain(spark, wh)
    // fresh commits have no stats manifest yet -> analyze both marts
    assert(first.map(a => (a.table, a.action)).toSet ==
      Set("fct_orders" -> "analyze", "fct_companies" -> "analyze"))
    // the stats now feed the broadcast advisor
    assert(graft.operators.TableStats
      .committedRows(spark, s"$wh/mart/fct_orders").exists(_ > 0))
    // converged: a second pass plans nothing
    assert(Main.maintain(spark, wh).isEmpty)
  }

  test("maintenance sweeps committed index dirs: delta debt compacts to a base, reads byte-identical") {
    import graft.operators.AtomicTable
    import spark.implicits._
    incRun // forces seed → incremental, so the test runs standalone too
    // make the mart side steady first so only the index acts below
    Main.maintain(spark, wh)
    val idxDir = s"$wh/index/content_fp_idx"
    // a daily-crawl index: 10 delta commits, well past Policy.maxDeltas
    (0L until 10L).foreach(v => AtomicTable.commitDelta(
      Seq((v, s"fp$v")).toDF("day", "content_fp"), idxDir, v))
    val before = AtomicTable.readMerged(spark, idxDir).get
      .collect().map(_.toString).sorted.toSeq
    val acts = Main.maintain(spark, wh)
    assert(acts.map(_.action) == Seq("compact_to_base"),
      s"expected one index compaction, got $acts")
    assert(AtomicTable.committedBases(spark, idxDir) == Seq(9L))
    assert(AtomicTable.deltasSinceBase(spark, idxDir) == 0)
    val after = AtomicTable.readMerged(spark, idxDir).get
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "merged view must be byte-identical")
    // steady state: nothing further planned for the index either
    assert(Main.maintain(spark, wh).isEmpty)
  }

  test("maintenance sweeps NESTED index dirs; labels compact through the lab_v resolve") {
    import graft.operators.AtomicTable
    import spark.implicits._
    incRun
    Main.maintain(spark, wh) // make the marts + flat indexes steady
    // a ShardedNearDupIndex commits at <name>/{labels,bands}, not at
    // <name> itself (r18 ADVICE: the flat sweep planned Nil for these).
    // Simulate 10 shard folds: labels upsert-deltas relabel id 1 every
    // fold (9 dead row versions), bands append one row per fold.
    val nd = s"$wh/index/neardup_idx"
    (0L until 10L).foreach { v =>
      AtomicTable.commitDelta(
        Seq((1L, 100L - v, v), (100L + v, 100L + v, v))
          .toDF("id", "component", "lab_v"), s"$nd/labels", v)
      AtomicTable.commitDelta(
        Seq((v, v * 7, 0, s"k$v"))
          .toDF("doc_id", "h0", "band", "band_key"), s"$nd/bands", v)
    }
    val resolvedBefore = graft.llm.ShardedNearDupIndex
      .loadLabels(spark, nd).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolvedBefore(1L) == 91L, "lab_v 9 wins before compaction")
    val acts = Main.maintain(spark, wh)
    // nested actions are qualified <index>/<table> (r19 ADVICE: two
    // sharded indexes under warehouse/index must stay distinguishable)
    assert(acts.map(a => (a.table, a.action)).toSet ==
      Set("neardup_idx/labels" -> "compact_to_base",
        "neardup_idx/bands" -> "compact_to_base"),
      s"expected both nested dirs compacted, got $acts")
    // labels: dead row versions gone (11 live ids from 20 committed
    // rows), resolved view unchanged, lab_v preserved in the base
    assert(AtomicTable.readMerged(spark, s"$nd/labels").get.count() == 11)
    assert(graft.llm.ShardedNearDupIndex.loadLabels(spark, nd).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == resolvedBefore)
    // bands: generic fold, merged view intact
    assert(AtomicTable.readMerged(spark, s"$nd/bands").get.count() == 10)
    assert(Main.maintain(spark, wh).isEmpty, "steady after one sweep")
  }

  test("incremental without a seeded warehouse fails fast") {
    val freshWh =
      tempRoot("cli_spec_wh2").toString
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, "incremental", data, freshWh)
    }
    assert(e.getMessage.contains("--seed"))
  }

  test("schema drift in a daily file degrades to nulls, not a failure") {
    seedRun; incRun; rerun
    // stage a NEW daily lists file whose Item sheet carries an extra
    // column the raw table has never seen
    val extra = Seq("Quick Books Internal Id", "Item Name", "Item Type",
      "Sales Description", "Sales Price", "Purchase Cost",
      "Quantity On Hand", "U M", "Status", "Warehouse Bin")
    val row = Seq("I006", "NEW-SKU", "Inventory Part", "Drifted item",
      "9.99", "4.00", "10", "ea", "Active", "BIN-7")
    DemoSource.writeXlsx(java.nio.file.Paths.get(
      s"$data/input/All Lists_06_22_2024_drift.xlsx"),
      Seq("Item" -> Seq(extra, row)))
    val r = Main.run(spark, "incremental", data, wh)
    assert(r.source("quickbooks").status == "loaded")
    // merged: prior 10 item rows + the drifted one
    assert(r.source("quickbooks").tables("xlsx_item") == 11L)
    val items = cat.load("raw", "xlsx_item")
    assert(items.columns.contains("warehouse_bin"))
    val drifted = items.filter(col("item_name") === "NEW-SKU").head()
    assert(drifted.getAs[String]("warehouse_bin") == "BIN-7")
    // pre-drift rows carry NULL for the new column
    assert(items.filter(col("warehouse_bin").isNull).count() == 10L)
    assert(r.overallStatus == "success")
  }

  test("startup txn recovery: a crashed publish is rolled forward by the next run") {
    seedRun; incRun; rerun
    import graft.operators.{AtomicTable, SnapshotManifest}
    import spark.implicits._
    // simulate a publisher that crashed AFTER its manifest publish (the
    // commit point): data staged, manifest pins it, no markers yet
    val aux = s"$wh/mart/aux_recovered_table"
    val staged = SnapshotManifest.stage(spark,
      Seq(aux -> Seq((1L, "x")).toDF("k", "v")))
    SnapshotManifest.publish(spark, s"$wh/_snapshots", staged)
    assert(AtomicTable.read(spark, aux).isEmpty) // invisible pre-recovery
    val r = Main.run(spark, "incremental", data, wh)
    assert(r.recovered == staged, r.toString)
    assert(AtomicTable.read(spark, aux).get.count() == 1L)
    // steady state: nothing to repair on the next pass
    assert(Main.run(spark, "incremental", data, wh).recovered.isEmpty)
  }

  test("pipeline session: injected stats rule broadcasts an analyzed mart dim") {
    seedRun; incRun; rerun
    import org.apache.spark.sql.SparkSession
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the same extension wiring cli.Main.main uses (Sessions.pipeline),
    // with Spark's own size heuristic disabled so any broadcast below
    // was decided by the injected StatsBroadcastRule alone
    val ext = SparkSession.builder()
      .withExtensions(e => new graft.plans.GraftExtensions().apply(e))
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    try {
      // post-run maintenance ANALYZEs the current mart versions — the
      // stats the optimizer rule feeds on
      Main.maintain(ext, wh)
      val cat2 = new graft.ref.Catalog(ext, wh)
      val health = graft.ref.Marts.dimCompanyHealth(
        cat2.load("mart", "fct_company_orders"),
        cat2.load("mart", "fct_companies"),
        graft.ref.ModelDag.AsOfDate)
      health.collect()
      assert(health.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "mart build plan should broadcast the analyzed fct_companies dim")
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("governance tier in ONE pass: served snapshots + pruned z-order scan + advisor broadcast") {
    // r19 (VERDICT r18 stretch #7): the deployment knobs the gates prove
    // separately — ResultCache skip, DataSkipping file pruning, the
    // injected StatsBroadcastRule — exercised against the SAME warehouse
    // in the SAME production-wired session, executed-plan evidence each.
    seedRun; incRun; rerun
    import org.apache.spark.sql.SparkSession
    import graft.operators.{AtomicTable, DataSkipping}
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .withExtensions(e => new graft.plans.GraftExtensions().apply(e))
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    try {
      val pricingDir = s"$wh/mart/fct_product_pricing_history"
      val versionsBefore = AtomicTable.committedVersions(ext, pricingDir)
      // (1) unchanged re-run under the production session: every model
      // served from its committed snapshot, zero new pricing versions
      val r = Main.run(ext, "incremental", data, wh)
      assert(r.modelsSkipped.size > 30,
        s"expected an all-skip pass, got ${r.modelsSkipped.size} skips")
      assert(AtomicTable.committedVersions(ext, pricingDir)
        == versionsBefore, "skip pass must not commit new versions")
      // (2) the z-ordered pricing commit carries its per-file stats
      // manifest; a 2-dim probe reads back row-identical through the
      // skipping path and never opens MORE files than the full scan
      // (strict pruning is the volume-scale proof — RefPipelineSpec)
      val dataDir = AtomicTable.latestDataPath(ext, pricingDir).get
      assert(DataSkipping.readManifest(ext, dataDir).nonEmpty,
        "z-ordered mart must carry a stats manifest")
      import graft.ref.TimeSeries
      val full = ext.read.parquet(dataDir)
      val probe = full.orderBy("product_service", "order_date")
        .select(col("product_service"),
          TimeSeries.pricingZDims(0)._2.as("pb"),
          TimeSeries.pricingZDims(1)._2.as("mb")).head()
      val (prod, pb, mb) = (probe.getString(0), probe.getLong(1),
        probe.getLong(2))
      val pruned = DataSkipping.readSkipping(ext, pricingDir,
        Map("product_bucket" -> ((pb, pb)), "month_bucket" -> ((mb, mb))))
      val pred = col("product_service") === prod &&
        TimeSeries.pricingZDims(1)._2 === mb
      assert(full.filter(pred).count() > 0)
      assert(pruned.filter(pred).count() == full.filter(pred).count())
      assert(pruned.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
      // (3) the maintenance-analyzed dim broadcasts under the injected
      // rule in the same pass (Spark's own size heuristic is off)
      Main.maintain(ext, wh)
      val cat2 = new graft.ref.Catalog(ext, wh)
      val health = graft.ref.Marts.dimCompanyHealth(
        cat2.load("mart", "fct_company_orders"),
        cat2.load("mart", "fct_companies"),
        graft.ref.ModelDag.AsOfDate)
      health.collect()
      assert(health.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("config files parsed: explicit mapping + individual domains applied") {
    seedRun
    val nm = cat.load("raw", "customer_name_mapping")
      .filter(col("original_name") === "Bolt Supply Customer").head()
    assert(nm.getAs[String]("normalized_name") == "Bolt Supply House")
    assert(nm.getAs[String]("normalization_type") == "explicit")
    val dm = cat.load("raw", "domain_mapping")
      .filter(col("original_domain") === "gmail.com").head()
    assert(dm.getAs[String]("domain_type") == "individual")
  }
}
