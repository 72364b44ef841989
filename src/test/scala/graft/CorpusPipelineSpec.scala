package graft

import org.apache.spark.sql.functions._

import graft.corpus.{CorpusDemoSource, CorpusPipeline}

/** E2E arm for the governed corpus pipeline (r19 VERDICT task #1) —
  * the LLM-side sibling of CliSpec's reference-DAG runs: seed →
  * incremental batch fold → skip pass, over [[CorpusDemoSource]]'s
  * planted dedup structure, plus the crash-replay and maintenance
  * arms. Shares the suite-wide session; runs are sequential lazies. */
class CorpusPipelineSpec extends SparkSpec {

  private lazy val dataP =
    tempRoot("corpus_spec_src")
  private lazy val data = CorpusDemoSource.write(spark, dataP, upTo = 2)
  private lazy val wh =
    tempRoot("corpus_spec_wh").toString

  private lazy val seedRun = CorpusPipeline.run(spark, "seed", data, wh)
  private lazy val incRun = {
    seedRun
    CorpusDemoSource.write(spark, dataP, upTo = 3) // next drop lands
    CorpusPipeline.run(spark, "incremental", data, wh)
  }
  private lazy val skipRun = { incRun
    CorpusPipeline.run(spark, "incremental", data, wh) }

  private def cat = new graft.ref.Catalog(spark, wh)
  private def canonicalIds: Set[Long] =
    cat.load("corpus", "canonical_docs").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("seed: curation gates + exact dedup + near-dup clusters, all planted structure resolved") {
    val b = seedRun.batches.head
    assert(b.status == "seeded")
    assert(b.rowsIn == 300L)
    assert(b.keptCurated == 299L) // doc 190 ('too short') rejected
    // − 10 in-batch exacts (150–159) − 10 cross-file exacts (290–299)
    assert(b.keptExact == 279L)
    assert(seedRun.overallStatus == "success", seedRun.quality.toString)
    val ids = canonicalIds
    assert((150L to 159L).forall(!ids(_)), "in-batch exact dups kept")
    assert((290L to 299L).forall(!ids(_)), "cross-file exact dups kept")
    // double-spaced near-dups cluster with their base (Hamming 0) and
    // the min-id representative wins
    assert((280L to 289L).forall(!ids(_)), "planted near-dups kept")
    assert((20L to 29L).forall(ids(_)), "near-dup representatives lost")
    assert(!ids(190L), "curation reject kept")
    // a few accidental simhash merges beyond the 10 planted are fine;
    // wholesale collapse is not
    assert(ids.size >= 255 && ids.size <= 269, s"canonical ${ids.size}")
  }

  test("PII scrub: emails redacted before anything is committed") {
    val t = cat.load("corpus", "curated_docs")
      .filter(col("doc_id") === 191L).select("text").head().getString(0)
    assert(t.contains("<EMAIL>"))
    assert(!t.contains("alice@example.com"))
  }

  test("incremental: one batch = one shard fold; cross-shard near-dups merge into committed clusters") {
    val b = incRun.batches.head
    assert(b.status == "folded")
    assert(b.ordinal == 2L) // seed marked 2 batch drops
    assert(b.rowsIn == 80L && b.keptExact == 80L)
    val ids = canonicalIds
    // 370–379 are double-spaced copies of docs 200–209 (committed in
    // the seed shards): the addShard collision path must cluster them.
    // The invariant is COMPONENT equality per planted pair — the base
    // doc itself may be a non-representative if an accidental simhash
    // merge put it in a lower-id cluster.
    assert((370L to 379L).forall(!ids(_)), "cross-shard near-dups kept")
    val comp = cat.load("corpus", "doc_labels").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 10).foreach(i => assert(
      comp(370L + i) == comp(200L + i),
      s"planted pair (${370 + i}, ${200 + i}) not clustered"))
    val delta = incRun.canonicalDocs - seedRun.canonicalDocs
    assert(delta >= 60L && delta <= 70L, s"canonical delta $delta")
    assert(incRun.overallStatus == "success", incRun.quality.toString)
  }

  test("skip pass: sources drained, every model served from cache, export not rewritten") {
    assert(skipRun.batches.isEmpty)
    assert(skipRun.modelsSkipped.toSet ==
      Set("corpus.doc_labels", "corpus.split_assignment",
        "corpus.canonical_docs", "corpus.packed_train"))
    assert(!skipRun.exportRewritten)
    assert(skipRun.canonicalDocs == incRun.canonicalDocs)
    assert(skipRun.manifestSeq == incRun.manifestSeq + 1)
    assert(skipRun.lint.exists(_.ok), skipRun.lint.toString)
  }

  test("split is leakage-free at cluster grain and covers every doc") {
    skipRun
    val split = cat.load("corpus", "split_assignment")
    val straddling = split.groupBy("component")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1)
      .count()
    assert(straddling == 0L)
    assert(skipRun.quality.exists(q =>
      q.check == "leakage_free_split" && q.passed))
    // every label row got a split, and a planted cluster sits on ONE side
    assert(split.filter(col("split").isNull).count() == 0L)
    val c20 = split.filter(col("doc_id").isin(20L, 280L))
      .select("split").collect().map(_.getString(0)).toSet
    assert(c20.size == 1, s"cluster {20,280} straddles: $c20")
  }

  test("packing respects the token budget layout") {
    skipRun
    val packed = cat.load("corpus", "packed_train")
    assert(packed.filter(col("offset_in_pack") >= 512L).count() == 0L)
    assert(packed.filter(col("n_tokens") <= 0L).count() == 0L)
    // packs are per shard: pack_id embeds the shard ordinal
    assert(packed.filter(
      col("pack_id") =!= col("shard") * graft.llm.Packing.PackIdRadix +
        col("pack_in_shard")).count() == 0L)
  }

  test("crash replay: re-folding a processed batch is an idempotent no-op") {
    skipRun
    val statePath = java.nio.file.Paths.get(
      s"$wh/_state/corpus_batches.json")
    val labelsBefore = graft.llm.ShardedNearDupIndex
      .loadLabels(spark, s"$wh/index/neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bandsVersionsBefore = graft.operators.AtomicTable
      .committedVersions(spark, s"$wh/index/neardup/bands")
    // simulate a crash BEFORE the processed mark: forget batch_003
    val store = new graft.ingest.Ingest.StateStore(statePath.toString)
    store.save(store.load().filterNot(_._1.contains("batch_003")))
    val replay = CorpusPipeline.run(spark, "incremental", data, wh)
    assert(replay.batches.map(_.ordinal) == Seq(2L)) // same ordinal
    // decisions were REUSED (the committed model, not a recompute
    // against the crashed run's own index delta) and the index commits
    // no-opped: labels resolve identically, no new bands version
    val labelsAfter = graft.llm.ShardedNearDupIndex
      .loadLabels(spark, s"$wh/index/neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsAfter == labelsBefore)
    assert(graft.operators.AtomicTable.committedVersions(spark,
      s"$wh/index/neardup/bands") == bandsVersionsBefore)
    assert(replay.canonicalDocs == skipRun.canonicalDocs)
  }

  test("maintenance: corpus marts analyzed, index dirs swept by the production sweep") {
    skipRun
    val first = CorpusPipeline.maintain(spark, wh)
    // fresh marts get ANALYZE; the index dirs are under the same sweep
    // cli.Main --maintain runs (qualified '<index>/<labels|bands>'
    // names — r19 ADVICE)
    assert(first.exists(a =>
      a.table == "canonical_docs" && a.action == "analyze"))
    val again = CorpusPipeline.maintain(spark, wh)
    assert(again.filter(_.action == "analyze").isEmpty,
      s"maintenance did not converge: $again")
    assert(again.forall(a => !a.table.startsWith("labels") &&
      !a.table.startsWith("bands")), s"unqualified nested names: $again")
  }

  test("startup txn recovery: a crashed publish is rolled forward by the next corpus pass") {
    skipRun
    import graft.operators.{AtomicTable, SnapshotManifest}
    import spark.implicits._
    // simulate a publisher that crashed AFTER its manifest publish (the
    // commit point): data staged, manifest pins it, no markers yet
    val aux = s"$wh/corpus/aux_recovered_table"
    val staged = SnapshotManifest.stage(spark,
      Seq(aux -> Seq((1L, "x")).toDF("k", "v")))
    SnapshotManifest.publish(spark, s"$wh/_snapshots", staged)
    assert(AtomicTable.read(spark, aux).isEmpty) // invisible pre-recovery
    val r = CorpusPipeline.run(spark, "incremental", data, wh)
    assert(r.recovered == staged, r.toString)
    assert(AtomicTable.read(spark, aux).get.count() == 1L)
    // steady state: nothing to repair on the next pass
    assert(CorpusPipeline.run(spark, "incremental", data, wh)
      .recovered.isEmpty)
  }
}
