package graft.corpus

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.Pass
import graft.llm.{BandIndex, CorpusIndex, Dedup, ShardedNearDupIndex,
  TextAnalysis}
import graft.operators.{MergeUpsert, SnapshotManifest}
import graft.quality.Checks
import graft.ref.Catalog

/** GOVERNED END-TO-END CORPUS PIPELINE (r19 VERDICT task #1): the
  * LLM-side counterpart of the reference DAG driver.
  * The ~95 individually-gated LLM operators compose here into ONE
  * production pass over a warehouse:
  *
  *   batch landing → curation gates (quality score, token floor, PII
  *   scrub, language id) → EXACT dedup against the committed
  *   [[CorpusIndex]] → near-dup fold into the committed
  *   [[ShardedNearDupIndex]] (batch = one shard) → cluster-grain
  *   [[TextAnalysis.leakageSafeSplit]] → [[graft.llm.Packing]] pack
  *   assignment → [[TextAnalysis.writeShards]] training-shard export
  *
  * inside the SAME governed frame as the reference DAG, [[Pass]]:
  * crash recovery ([[SnapshotManifest.recover]]),
  * atomic versioned commits, skip-unchanged plan+input fingerprints (an
  * unchanged re-run serves every committed snapshot and rebuilds
  * nothing), non-fatal quality checks, one cross-table snapshot
  * manifest per pass, DagLint over the observed lineage, and the
  * `warehouse/index/` maintenance sweep ([[Pass.maintain]] — the index
  * dirs this pipeline commits are maintained by the production sweep,
  * not test scaffolding).
  *
  * Batch model: `dataDir/batches/batch_*` parquet directories, sorted
  * by name, are immutable drops (a daily crawl's deliveries). `seed`
  * bulk-boots the corpus from every batch present (single-pass
  * [[ShardedNearDupIndex.seedShards]] — the cheaper one-CC form);
  * `incremental` folds each NEW batch as one shard
  * ([[ShardedNearDupIndex.addShard]]). Batch ordinals — the index
  * commit versions — are `#processed-batches-so-far` at fold time,
  * which is replay-deterministic because a batch is marked processed
  * only after its whole fold committed.
  *
  * CRASH-REPLAY CONTRACT: the exact-dedup keep/drop DECISIONS of each
  * batch are committed as a catalog model (`corpus.decisions_<batch>`)
  * BEFORE any index mutation. A replayed batch (crash before the
  * processed mark) reuses the committed decisions instead of
  * recomputing them — recomputing would read the crashed run's own
  * index delta and flag the batch as a duplicate of itself — and every
  * index commit is pinned to the batch ordinal, so replays are
  * idempotent already-committed no-ops ([[ShardedNearDupIndex]]'s
  * replay semantics are the r19-fixed delta remap; the exact index
  * gets the same `version =` pin here).
  *
  * SCALE SHAPE (the 100-TB audit, per stage): curation is one scan
  * (all gates are codegen'd column exprs; thresholds are FIXED, not
  * corpus quantiles, so a batch's verdicts never depend on corpus
  * growth and fingerprints stay stable); exact dedup is the
  * fingerprint-grain index join (∝ batch with the Bloom form); the
  * near-dup fold is the measured ScaleBench `sharded_incremental`
  * family (wall FLAT at 100× committed shards, labels write ∝ batch);
  * split/pack are label-grain projections; the shard export is the
  * only corpus-∝ rewrite and is SKIPPED unless an upstream model
  * actually recommitted. At deployment the export would itself shard
  * by partition — here it IS `writeShards`' one-file-per-shard
  * layout.
  */
object CorpusPipeline {

  /** Curation gates — deliberately FIXED constants (see scaladoc). */
  val MinTokens = 5
  val MinQuality = 0.3

  final case class BatchRun(batch: String, ordinal: Long, status: String,
                            rowsIn: Long, keptCurated: Long,
                            keptExact: Long)
  final case class Report(mode: String, batches: Seq[BatchRun],
                          models: Int, quality: Seq[Checks.Result],
                          overallStatus: String,
                          modelsSkipped: Seq[String],
                          manifestSeq: Long,
                          exportRewritten: Boolean,
                          canonicalDocs: Long,
                          lint: Option[graft.tools.DagLint.Report],
                          stageWalls: Seq[(String, Double)] = Nil,
                          recovered: Seq[SnapshotManifest.Staged] = Nil)

  private def exactDir(wh: String) = s"$wh/index/corpus_hashes"
  private def neardupDir(wh: String) = s"$wh/index/neardup"

  /** Sorted immutable batch drops under `dataDir/batches`. */
  def listBatches(dataDir: String): Seq[String] = {
    val d = Paths.get(s"$dataDir/batches")
    if (!Files.isDirectory(d)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(d).iterator().asScala.map(_.toString)
        .filter(p => Paths.get(p).getFileName.toString.startsWith("batch_"))
        .toSeq.sorted
    }
  }

  /** One scan of curation gates: quality features + composite score
    * ([[TextAnalysis.withQuality]]), PII scrub + audit counts, n-gram
    * language id; FIXED thresholds keep the batch's verdicts
    * independent of corpus growth. Emits the curated slim schema
    * (doc_id, text = scrubbed, lang_id, n_tokens, quality_score,
    * source) of the KEPT rows. */
  def curate(batch: DataFrame): DataFrame = {
    val scored = TextAnalysis.withPiiScrub(
      TextAnalysis.withQuality(batch, col("text")), col("text"))
      .withColumn("lang_id",
        TextAnalysis.langId(TextAnalysis.tokens(col("text"))))
    scored
      .filter(col("n_tokens") >= MinTokens &&
        col("quality_score") >= MinQuality)
      .select(col("doc_id"), col("scrubbed_text").as("text"),
        col("lang_id"), col("n_tokens"), col("quality_score"),
        col("source"))
  }

  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))

  /** One full governed pass ([[Pass]]); see the object
    * scaladoc. `mode` is "seed" (bulk-boot, fresh warehouse) or
    * "incremental" (fold each new batch; no new batches → a skip pass
    * that serves every committed snapshot). */
  def run(spark: SparkSession, mode: String, dataDir: String,
          warehouseDir: String,
          nSeedShards: Int = 4, valPct: Int = 5, testPct: Int = 5,
          packBudget: Long = 512L, nExportShards: Int = 8): Report =
      Pass.run(spark, mode, warehouseDir, "corpus") { cat =>
    val store = new graft.ingest.Ingest.StateStore(
      s"$warehouseDir/_state/corpus_batches.json")
    val nd = neardupDir(warehouseDir)
    val seeded = ShardedNearDupIndex.committedBits(spark, nd).isDefined
    if (mode == "seed")
      require(!seeded, s"$nd already seeded — run incremental")
    else
      require(seeded, "incremental mode needs a seeded corpus — " +
        "run seed first")

    val all = listBatches(dataDir)
    val newBatches = all.filterNot(store.isDone)

    // Per-section walls, returned in Report.stageWalls — the r20
    // optimization round's measurement hook (guide §1: attack the
    // measured term).
    val walls = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def staged[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      walls += name -> (System.nanoTime() - t0) / 1e9
      r
    }

    // ---- 1. batch landing + curation + dedup-index folds ----
    val batches: Seq[BatchRun] = staged("folds") {
      if (newBatches.isEmpty) Nil
      else if (mode == "seed") Seq(seedPass(spark, cat, store, newBatches,
        warehouseDir, nSeedShards))
      else newBatches.map { b =>
        // ordinal = processed count AT FOLD TIME: replay-deterministic
        // (the mark lands after the fold) and unique (batches fold
        // sequentially)
        val ordinal = store.load().size.toLong
        foldBatch(spark, cat, store, b, ordinal, warehouseDir)
      }
    }

    // ---- 2. transform models (rebuilt-or-served every pass) ----
    require(cat.exists("corpus", "curated_docs"),
      s"no curated corpus under $warehouseDir — run seed first")
    val curatedDocs = cat.load("corpus", "curated_docs")
    val docLabels = staged("doc_labels")(cat.saveTable("corpus",
      "doc_labels", ShardedNearDupIndex.loadLabels(spark, nd)))
    val split = staged("split")(cat.saveTable("corpus",
      "split_assignment",
      TextAnalysis.leakageSafeSplit(docLabels, "corpus-split-v1",
        valPct, testPct)))
    // near-dup cluster representative = the component label itself
    // (labels are min-ids), so canonical = docs whose id IS their
    // component — one broadcast-able semi join at label grain
    val canonical = staged("canonical")(cat.saveTable("corpus",
      "canonical_docs",
      curatedDocs.join(
        docLabels.filter(col("id") === col("component"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")))
    val trainDocs = canonical.join(
      split.filter(col("split") === "train").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val packed = staged("packed")(cat.saveTable("corpus", "packed_train",
      graft.llm.Packing.packSequences(trainDocs, col("doc_id"),
        col("n_tokens"), packBudget, nExportShards)))

    // ---- 3. training-shard export: the one corpus-∝ rewrite, gated
    //      on an actual upstream recommit (a skip pass rewrites
    //      nothing) ----
    val exportDir = s"$warehouseDir/export/train_shards"
    val upstreamFresh = Seq("corpus.canonical_docs",
      "corpus.split_assignment").exists(m => !cat.skipped.contains(m))
    val exportRewritten = upstreamFresh ||
      !Files.isDirectory(Paths.get(exportDir))
    if (exportRewritten) staged("export") {
      TextAnalysis.writeShards(
        TextAnalysis.corpusShuffle(trainDocs, col("doc_id"),
            "corpus-shuffle-v1", nExportShards)
          .join(trainDocs.select("doc_id", "text"), Seq("doc_id")),
        exportDir)
    }

    // ---- 4. quality battery (non-fatal), SINGLE-PASS per table (r21;
    //      VERDICT r20 task #6): the r20 form ran each check as its own
    //      aggregate scan of committed parquet (8 jobs + the report's
    //      final COUNT(*)); now canonical_docs' checks + the report
    //      count are ONE job, split_assignment's three checks are ONE
    //      two-level aggregate (per-component distinct-split counts and
    //      the per-row null/accepted sums fold in the same pass), and
    //      packed_train's uniqueness was already one job. Check names
    //      and violation counts are byte-identical to the individual
    //      Checks calls. ----
    val (quality, canonicalRows) = staged("quality") {
    val canon = Checks.singlePass(canonical, "canonical_docs",
      uniqueCols = Seq("doc_id"), checkNonEmpty = true)
    // the t_leakage_safe_split invariant as a standing production
    // check: no near-dup cluster straddles the train/test wall —
    // component-grain countDistinct rides the same job as the split
    // column's null/accepted-value sums
    val splitRow = split.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("_nsp"),
        sum(when(col("split").isNull, 1L).otherwise(0L)).as("_nulls"),
        sum(when(col("split").isNotNull &&
          !col("split").isin("train", "val", "test"), 1L)
          .otherwise(0L)).as("_bad"))
      .agg(coalesce(sum(col("_nulls")), lit(0L)).as("_nulls"),
        coalesce(sum(col("_bad")), lit(0L)).as("_bad"),
        count(when(col("_nsp") > 1, lit(1))).as("_leak"))
      .head()
    (canon.results ++ Seq(
      Checks.Result("not_null(split)", "split_assignment",
        splitRow.getAs[Long]("_nulls")),
      Checks.Result("accepted_values(split)", "split_assignment",
        splitRow.getAs[Long]("_bad")),
      Checks.Result("leakage_free_split", "split_assignment",
        splitRow.getAs[Long]("_leak")),
      Checks.uniqueCombination(packed, "packed_train", Seq("doc_id"))) ++
      Pass.drift(cat, "corpus", "canonical_docs"), canon.rows)
    }

    // packed_train and the decisions tables are TERMINAL products —
    // consumed by the training reader / replay recovery, not by a
    // downstream model — i.e. DagLint exposures, the dbt `exposure:`
    // declaration.
    Pass.Built(quality,
      o => Report(mode, batches, models = cat.commits.size, o.quality,
        o.overallStatus, modelsSkipped = o.modelsSkipped,
        manifestSeq = o.manifestSeq, exportRewritten = exportRewritten,
        // rode the quality pass's canonical_docs aggregate (r21) — the
        // r20 form paid a separate COUNT(*) job here
        canonicalDocs = canonicalRows,
        lint = Some(o.lint), stageWalls = walls.toSeq,
        recovered = o.recovered),
      exposed = Set("corpus.packed_train") ++
        cat.lineage.keys.filter(_.startsWith("corpus.decisions_")))
  }

  /** Bulk-boot: every present batch in ONE single-pass fold (ordinal
    * 0) — the [[ShardedNearDupIndex.seedShards]] migration path, with
    * shards assigned by doc-id hash so each is ≈ corpus/nSeedShards. */
  private def seedPass(spark: SparkSession, cat: Catalog,
                       store: graft.ingest.Ingest.StateStore,
                       files: Seq[String], wh: String,
                       nSeedShards: Int): BatchRun = {
    val raw = spark.read.parquet(files: _*)
    val rowsIn = raw.count()
    // ONE curation-battery pass per batch (r20): the committed
    // decisions model carries the curated payload, so every downstream
    // consumer — kept docs, the simhash fold, the curated_docs commit,
    // the report counts — reads committed parquet instead of re-running
    // the regex/quality battery (the r19 form re-evaluated it ~5× per
    // batch: decisions + upsert + simhash + two report counts).
    val decisions = decide(spark, cat, "seed", curate(raw), wh, 0L)
    // curated + kept counts in ONE aggregate job over the committed
    // decisions model (r21; the r20 form paid one COUNT(*) each)
    val cnt = decisions.agg(count(lit(1)).as("n"),
      count(when(col("keep"), lit(1))).as("k")).head()
    val (curatedN, keptN) = (cnt.getLong(0), cnt.getLong(1))
    val kept = keptDocs(decisions)
    // width policy from the SHARD doc count — the autoBandPolicy
    // discipline (shard size, not corpus size, bounds bucket fill)
    val bits = Dedup.autoBandPolicy(
      math.max(1L, keptN / math.max(1, nSeedShards)))
    val sharded = Dedup.simhashFromTokens(tokenRows(kept), bits)
      .withColumn("shard", pmod(col("doc_id"), lit(nSeedShards.toLong)))
    ShardedNearDupIndex.seedShards(spark, neardupDir(wh), sharded, bits)
    cat.saveTable("corpus", "curated_docs", kept)
    files.foreach(store.markDone)
    BatchRun(files.mkString(","), 0L, "seeded", rowsIn, curatedN, keptN)
  }

  /** One incremental batch = one shard fold at `ordinal`. */
  private def foldBatch(spark: SparkSession, cat: Catalog,
                        store: graft.ingest.Ingest.StateStore,
                        file: String, ordinal: Long,
                        wh: String): BatchRun = {
    val raw = spark.read.parquet(file)
    val rowsIn = raw.count()
    val tag = Paths.get(file).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    // ONE battery pass (see seedPass); replays skip it entirely — the
    // committed decisions model already holds the curated payload
    val decisions = decide(spark, cat, tag, curate(raw), wh, ordinal)
    val kept = keptDocs(decisions)
    val bits = ShardedNearDupIndex.committedBits(spark, neardupDir(wh)).get
    val newShard = Dedup.simhashFromTokens(tokenRows(kept), bits)
      .withColumn("shard", lit(ordinal))
    ShardedNearDupIndex.addShard(spark, neardupDir(wh), newShard, bits,
      version = Some(ordinal))
    cat.saveTable("corpus", "curated_docs",
      MergeUpsert.upsert(cat.load("corpus", "curated_docs"), kept,
        Seq("doc_id")))
    store.markDone(file)
    // one aggregate job for both report counts (r21), as in seedPass
    val cnt = decisions.agg(count(lit(1)).as("n"),
      count(when(col("keep"), lit(1))).as("k")).head()
    BatchRun(file, ordinal, "folded", rowsIn, cnt.getLong(0),
      cnt.getLong(1))
  }

  /** Exact-dedup decisions for one batch, committed BEFORE any index
    * mutation (crash-replay contract in the object scaladoc): compute
    * against the PRE-batch committed index, commit as a catalog model,
    * then pin the kept fingerprints as the index delta at `ordinal`.
    * A replay with the decisions model already committed reuses it
    * verbatim.
    *
    * The committed model carries the CURATED PAYLOAD alongside the
    * verdict columns (r20): the batch's curation battery — quality
    * features, PII regex scrub, langid — is the expensive per-row
    * term, and committing its output once means every downstream
    * consumer reads parquet instead of re-deriving it (the battery ran
    * ~5× per batch before). `curated` is eagerly checkpointed first so
    * the decisions plan's three references to it (the Bloom build's
    * scalar subquery, the fingerprint pass, the payload join) share
    * ONE battery evaluation; the checkpoint is batch-sized — the
    * operator's own premise — and unpinned by the context cleaner when
    * the fold returns. Storage cost: the batch text lands in the
    * decisions model as well as curated_docs, ∝ batch, the price of
    * replay-without-recompute. */
  private def decide(spark: SparkSession, cat: Catalog, tag: String,
                     curatedPlan: DataFrame, wh: String,
                     ordinal: Long): DataFrame = {
    val name = s"decisions_$tag"
    val decisions =
      if (cat.exists("corpus", name)) cat.load("corpus", name)
      else {
        val curated = curatedPlan.localCheckpoint(true)
        val ann = Dedup.incrementalExactBloom(
          CorpusIndex.load(spark, exactDir(wh)), curated,
          col("doc_id"), col("text"))
        cat.saveTable("corpus", name,
          ann.select(col("doc_id"), col(CorpusIndex.FpCol),
            col("in_index"), col("keep"))
            .join(curated, Seq("doc_id")))
      }
    BandIndex.commitKept(spark, exactDir(wh),
      decisions.filter(col("keep")).select(col(CorpusIndex.FpCol)),
      Some(ordinal))
    decisions
  }

  /** Kept docs in the curated slim schema, straight from the committed
    * decisions model — zero recompute, zero joins. */
  private def keptDocs(decisions: DataFrame): DataFrame =
    decisions.filter(col("keep"))
      .select(col("doc_id"), col("text"), col("lang_id"),
        col("n_tokens"), col("quality_score"), col("source"))

  /** Post-run table services over the corpus marts and every index
    * dir ([[Pass.maintain]] — the same production sweep the
    * reference DAG's `--maintain` runs). */
  def maintain(spark: SparkSession, warehouseRoot: String)
      : Seq[graft.operators.Maintenance.Action] =
    Pass.maintain(spark, warehouseRoot, Seq(
      "corpus/canonical_docs" -> Seq("doc_id"),
      "corpus/packed_train" -> Seq("doc_id")))
}
