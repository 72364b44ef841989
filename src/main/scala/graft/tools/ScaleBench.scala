package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Sessions, Tables}
import graft.llm.{Clustering, CorpusIndex, Dedup, TextAnalysis => TA}
import graft.queries.Q
import graft.streaming.EventStream

/** MEASURED SCALING EXPONENTS for the heaviest operator families — the
  * empirical companion of SCALE.md's design arguments. Every other
  * claim of "survives 100×" in this repo rests on plan-shape reasoning;
  * this tool produces the data: it AMPLIFIES the sf inputs by
  * k ∈ {1, 3, 10, 30}, runs each family at every scale, and fits the
  * wall-time scaling exponent α (t ∝ k^α, least squares over log-log).
  * α ≈ 1 means the family's cost is linear in corpus size on a fixed
  * worker pool — the property that lets the same plan ride a
  * 1000-executor cluster by adding workers; α ≈ 2 is a design bug at
  * 100 TB no cluster can absorb.
  *
  * AMPLIFICATION preserves each family's work DISTRIBUTION instead of
  * inflating it artificially: the corpus is k salted replicas, each
  * shifted by a stride chosen as a multiple of every modulus the
  * operators key on, so per-replica structure (CC components, star/
  * chain edges, query sets) is exactly the 1× structure — cross-replica
  * interaction is driven to chance level by rotating the text alphabet
  * (near-dup families must NOT see k-fold duplicate clusters, which
  * would measure an amplification artifact, not the operator) and by
  * per-replica vector offsets. Amplified inputs are MATERIALIZED to
  * parquet before the clock starts, so measured time includes a real
  * scan and excludes amplification cost.
  *
  * Two IVF-PQ arms are measured deliberately (and the naive one is the
  * documented superlinear case): `ivfpq_fixed_stride` keeps the
  * codebook stride constant, so the centroid count grows ∝ n and Lloyd
  * assignment — every (vector, dim) row joined against every centroid
  * of that dim — costs O(n²·dims/stride): α ≈ 2 by construction, the
  * FAISS-scale mistake of training a coarse quantizer whose cell count
  * tracks corpus size. `ivfpq_sqrt_cells` (r15, replacing the
  * hand-scaled `ivfpq_scaled_stride` arm) runs the SHIPPED default:
  * coarse cells from [[Clustering.sqrtCellsStride]]'s cells-∝-√n rule
  * and a constant PQ codeword count (stride ∝ k — codebook size is a
  * model hyperparameter, not a corpus fraction). Both arms run the
  * full lifecycle (train, assign, probe, LUT, ADC, exact baseline)
  * via [[Clustering.ivfPqTopK]].
  *
  * Streaming (`session_timers`) replays the real two-pass
  * RocksDB-backed timer sessionization of `st_session_timers`
  * (initial stream + checkpoint resume with a watermark-advancing
  * sentinel); its state and timer count scale with distinct users,
  * which the amplification scales ∝ k.
  *
  * Methodology per CLAUDE.md's noise rules: min-of-2 at k ≤ 3 (where
  * per-sample noise is the largest fraction of the measurement); one
  * sample at k ≥ 10 (multi-minute runs, relative noise small, and
  * stateful families — kmeans memo, streaming checkpoints — must not
  * re-run against warm artifacts). A family whose sample exceeds the
  * cutoff (default 300 s) skips its remaining scales and reports the
  * exponent over the scales that ran. Output: a table on stdout plus
  * `bench/SCALE.json`; SCALE.md's "Measured scaling" section cites it.
  *
  * Usage: `sbt "runMain graft.tools.ScaleBench [family...]"` with
  * env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_SCALE_CUTOFF
  * / SPARK_GRAFT_SCALES (comma list, default 1,3,10,30).
  */
object ScaleBench {

  // Strides are multiples of every modulus the family queries key on:
  // documents: lcm(7,13,10)=910 (cc star/chain/day split); embeddings:
  // lcm(97,100)=9700 (queryMod, codebook stride); events: any (ids are
  // opaque). Large enough that replica id ranges never overlap.
  private val DocStride = 910L * 11000L     // 10,010,000
  private val EmbStride = 9700L * 1000L     // 9,700,000
  private val UserStride = 10000000L
  private val EventStride = 1000000000L

  private def rot(s: String, i: Int): String = {
    val r = ((i % s.length) + s.length) % s.length
    s.drop(r) + s.take(r)
  }

  /** Affine permutation of the alphabet: index ↦ s[(a·idx + b) mod n],
    * `a` coprime to n. a = 1 IS the plain rotation, so replicas < 26
    * stay BYTE-IDENTICAL to the r14/r15 amplifier (every committed
    * ≤30× row remains reproducible); each block of 26 replicas
    * advances `a` through 1, 3, 5, 7 (all coprime to 26), giving all
    * 100 replicas distinct letter mappings. Why this matters (r16,
    * found by the first 100× sweep): rotation alone wraps at 26, so a
    * 100× run held ~4 IDENTICAL corpora per rotation for every
    * pure-letter token — the minhash_lsh 100× point read 819k
    * verified pairs (vs 29.7k at 30×) of genuine cross-replica
    * duplicates, a harness artifact masquerading as band saturation.
    * Two distinct affine maps agree on at most TWO letters (their
    * slopes differ by an even number, which is never invertible mod
    * 26, so the agreement set is a coset of size 0 or 2 — never the
    * alphabet), so pure-letter tokens still share essentially nothing
    * across any two replicas below 104. */
  private def affine(s: String, a: Int, b: Int): String =
    s.indices.map(idx => s((a * idx + b) % s.length)).mkString

  /** k salted replicas of `documents`: ids shifted by DocStride; the
    * token alphabet permuted per replica by [[affine]] (letters; 26·4
    * distinct maps) + rotation (digits) so cross-replica texts share
    * no tokens and near-dup families see k independent 1× corpora. */
  private[tools] def amplifyDocs(spark: SparkSession, src: String, k: Int,
                                 out: String): Unit = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    val docs = Tables.documents(spark, src)
    require(k <= 104, s"amplifyDocs: $k replicas exceed the 104 distinct " +
      "letter mappings (4 affine blocks × 26 rotations)")
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i * DocStride)).as("doc_id"),
        translate(col("text"), lower + digits,
          affine(lower, 2 * (i / 26) + 1, i % 26) +
            rot(digits, i % 10)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** k replicas of `embeddings`: ids shifted by EmbStride (multiple of
    * queryMod=97 → query count scales ∝ k), vectors offset by an
    * exactly-representable per-replica constant so codebooks train on
    * k distinct shifted copies rather than exact duplicates. */
  private def amplifyEmb(spark: SparkSession, src: String, k: Int,
                         out: String): Unit = {
    val emb = Tables.embeddings(spark, src)
    (0 until k).map { i =>
      emb.select(
        (col("vec_id") + lit(i * EmbStride)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(i * 0.0078125f)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** k replicas of `events`: user and event ids shifted per replica,
    * timestamps unchanged — k× users, k× sessions, k× timers, same
    * per-user stream shape. Written as TIMESTAMP_MICROS (the session's
    * parquet output type), one of the flavors every events reader
    * already normalizes. */
  private def amplifyEvents(spark: SparkSession, src: String, k: Int,
                            out: String): Unit = {
    val ev = Tables.events(spark, src)
    (0 until k).map { i =>
      ev.select(
        (col("event_id") + lit(i * EventStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * UserStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** k salted replicas of the REFERENCE-MART raw inputs (r19; VERDICT
    * r18 task #4: the two models that dominate every refdemo_sf01 wave
    * had never been amplified). Identity is STRING-shaped here, so the
    * salt rewrites the identity strings per replica instead of shifting
    * numeric ids: item/product keys `P-<k>` → `P-r<i>-<k>` (consistent
    * across items and order lines — the join key), invoice/receipt
    * numbers and QuickBooks ids get an `r<i>` prefix, customer names an
    * `-r<i>` suffix (distinct-count grain must scale ∝ k, not collide
    * into 1×). All modular structure (price moves, tax split, status
    * mix, snapshot dates) is the 1× builder's verbatim — each replica
    * IS the 1× corpus. Customers aren't amplified: neither measured
    * model touches them. */
  private def amplifyRefMarts(spark: SparkSession, src: String, k: Int,
                              out: String): Unit = {
    import graft.ref.RefFixturesScale
    def saltProduct(c: org.apache.spark.sql.Column, i: Int) =
      regexp_replace(c, "^P-", s"P-r$i-")
    val items = RefFixturesScale.rawItems(spark, src)
    (0 until k).map { i =>
      items
        .withColumn("quick_books_internal_id",
          concat(lit(s"r$i"), col("quick_books_internal_id")))
        .withColumn("item_name", saltProduct(col("item_name"), i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/refm_items.parquet")
    val inv = RefFixturesScale.rawInvoices(spark, src)
    (0 until k).map { i =>
      inv
        .withColumn("invoice_no", concat(lit(s"r$i"), col("invoice_no")))
        .withColumn("customer", concat(col("customer"), lit(s"-r$i")))
        .withColumn("product_service",
          saltProduct(col("product_service"), i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/refm_invoices.parquet")
    val rec = RefFixturesScale.rawSalesReceipts(spark, src)
    (0 until k).map { i =>
      rec
        .withColumn("sales_receipt_no",
          concat(lit(s"r$i"), col("sales_receipt_no")))
        .withColumn("customer", concat(col("customer"), lit(s"-r$i")))
        .withColumn("product_service",
          saltProduct(col("product_service"), i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/refm_receipts.parquet")
  }

  // ---- families (each mirrors its registered oracle query's plan) ----

  private def docsOf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def ccFull(s: SparkSession, dir: String): Long = {
    val g = Q.docGraph(docsOf(s, dir))
    Dedup.connectedComponents(g.nodes, g.edges).count()
  }

  private def ccIncremental(s: SparkSession, dir: String): Long = {
    val g = Q.docGraph(docsOf(s, dir))
    Dedup.incrementalComponents(
      Dedup.connectedComponents(g.oldNodes, g.oldStar),
      g.newNodes, g.newEdges).count()
  }

  private def minhashLsh(s: SparkSession, dir: String): Long = {
    val shingled = TA.shingleRows(docsOf(s, dir),
      col("doc_id"), col("text"), 3).distinct()
    val bands = Dedup.minhashBands(shingled, bands = 4, rowsPerBand = 2)
    val candidates = Dedup.lshCandidates(bands, maxBucketSize = 64)
    Dedup.jaccardVerify(candidates, shingled)
      .filter(col("jaccard") >= 0.8).count()
  }

  /** DEPLOYMENT-GRAIN commit cost of the persisted corpus index (r16
    * VERDICT task #1's measurement): the daily batch is held FIXED at
    * one replica's docs while the NUMBER OF DAYS grows ∝ scale — the
    * axis the two-day `index_chain`/`phash_index_chain` families can't
    * see (their batches grow with scale, so a write ∝ index and a
    * write ∝ batch are both "linear"). Each day runs the full
    * incremental discipline: Bloom-pruned probe
    * ([[Dedup.incrementalExactBloom]] — probe shuffle ∝ batch) +
    * DELTA commit (write ∝ batch, the r17 base+delta layout). Expected
    * OUTPUT-bytes tail ≈ 1.0 (day-D writes a constant-size delta); the
    * pre-r17 index∪delta rewrite would read ≈ 2.0 on this family by
    * construction (Σ d·|batch| = O(D²)). Compaction deliberately OFF
    * in the measured loop — it is amortized schedulable maintenance
    * (∝ index per run, ∝ batch amortized per commit at any fixed
    * cadence), and folding it in would re-add the quadratic term the
    * per-commit claim is about. */
  private def indexCommitDays(s: SparkSession, dir: String,
                              k: Int): Long = {
    val idx = java.nio.file.Files.createTempDirectory("graft_scale_icd")
    try {
      val docs = docsOf(s, dir)
        .withColumn("day", expr(s"doc_id div $DocStride"))
      var kept = 0L
      (0 until k).foreach { d =>
        kept += CorpusIndex.processBatch(s, idx.toString,
          docs.filter(col("day") === d).drop("day"),
          col("doc_id"), col("text"), bloom = true)
          .filter(col("keep")).count()
      }
      kept
    } finally Q.deleteRecursively(idx)
  }

  /** Persisted-index daily-crawl chain: commit day 1 (even ids) into a
    * fresh CorpusIndex, then probe+commit day 2 (odd ids) against it —
    * the incremental exact-dedup discipline, index work ∝ batch. */
  private def indexChain(s: SparkSession, dir: String): Long = {
    val idx = java.nio.file.Files.createTempDirectory("graft_scale_idx")
    try {
      val docs = docsOf(s, dir)
      CorpusIndex.processBatch(s, idx.toString,
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text")).count()
      CorpusIndex.processBatch(s, idx.toString,
        docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text")).count()
    } finally Q.deleteRecursively(idx)
  }

  private def bpe(s: SparkSession, dir: String): Long =
    TA.bpeTrainApply(docsOf(s, dir), col("doc_id"), col("text"),
      rounds = 2).count()

  /** The disk-checkpointed BPE arm (r16 VERDICT stretch #9): identical
    * work to `bpe_train_apply` but per-round symbol state goes through
    * [[graft.operators.Ckpt.durable]] (parquet round-trip) instead of
    * the block store — the arm that must complete the 100× ladder at
    * SPARK_DRIVER_MEM=16g, where the localCheckpoint arm OOMs (state
    * concentration is a local[32] artifact; on a cluster the same
    * switch moves round state to shared storage). Round dirs live
    * under the amplified temp dir, so the sweep's cleanup removes
    * them with the inputs. */
  private def bpeDurable(s: SparkSession, dir: String): Long =
    TA.bpeTrainApply(docsOf(s, dir), col("doc_id"), col("text"),
      rounds = 2,
      checkpoint = graft.operators.Ckpt.durable(s"$dir/_bpe_ckpt"))
      .count()

  /** simhash → banded near-dup pairs → CC → representative (the
    * dd_cluster_canonical composition, heaviest committed chain).
    * r15: 64-bit/16-bit-band layout, matching the migrated consumer —
    * the r14 measurement of this family on the 32-bit layout (shuffle-
    * tail α≈1.54 from 256-key band saturation) is what motivated the
    * migration. r16: width now from `Dedup.autoBandPolicy`, matching
    * the policy-driven consumer — at 100× (500k docs) the policy
    * steps to 128-bit, which is exactly the measured fix for the r15
    * 100× row's 1.74 shuffle-tail (16-bit band saturation onset). */
  private def clusterCanonical(s: SparkSession, dir: String): Long = {
    // full corpus, mirroring the migrated consumer (sample dropped r15)
    val docs = docsOf(s, dir)
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    val bits = Dedup.autoBandPolicy(Tables.documentsCount(s, dir))
    val pairs = Dedup.simhashNearDups(
      Dedup.simhashFromTokens(tokenRows, bits), bits = bits)
    val cc = Dedup.nearDupLabels(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("text_len").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cc.select(col("id").as("doc_id"), col("component"))
      .join(docs.select(col("doc_id"),
        length(trim(col("text"))).cast("long").as("text_len")),
        Seq("doc_id"))
      .withColumn("representative_id", first(col("doc_id")).over(w))
      .count()
  }

  /** Band-width A/B: candidate+verify pair generation only (no CC), at
    * 32-bit/8-bit-band vs 64-bit/16-bit-band layouts — the measured
    * basis for the "band width is the corpus-scale knob" claim
    * (Dedup.simhashNearDups scaladoc / SCALE.md). */
  private def simhashPairs(s: SparkSession, dir: String,
                           bits: Int): Long = {
    val tokenRows = docsOf(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        explode(TA.tokens(col("text"))).as("token"))
    Dedup.simhashNearDups(Dedup.simhashFromTokens(tokenRows, bits),
      maxBucketSize = 512, bits = bits).count()
  }

  /** The dd_phash_index_chain composition at scale: day-1 images
    * synthesized + dHash'd + committed to a [[graft.llm.PhashIndex]]
    * AtomicTable at `bits`, day-2 probes (near-copies, re-crawls,
    * fresh) verified against the committed version. Payload synthesis
    * + JDK codec decode ∝ corpus (the codec boundary is mapPartitions —
    * expect α≈1); the open question this measures is the PER-COMMIT
    * overhead of the index AtomicTable versioning at growing batch
    * sizes. The 64-bit arm keeps its measured 1.43@100× shuffle tail as
    * the saturated contrast (16-bit band keys); the 128-bit arm's probe
    * candidates are |index|/2^32 per band, so its expected shuffle tail
    * is ≈ 1 at every measurable scale. Synthetic day-2 id offset sits
    * above every amplified id (30× tops out ~3·10⁸). */
  private def phashChain(s: SparkSession, dir: String, bits: Int): Long = {
    import graft.llm.{Multimodal, PhashIndex}
    val ids = docsOf(s, dir).select("doc_id")
    val day1 = ids.filter(col("doc_id") % 5 =!= 4)
    val day2 = ids.filter(col("doc_id") % 5 === 4 ||
        (col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4))
      .unionByName(ids.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") * 2 + 1000000000L).as("doc_id")))
    def images(day: DataFrame)(b: Int) =
      if (b == 64) Multimodal.asPhashImageTable(day)
      else Multimodal.asPhash128ImageTable(day)
    val idx = java.nio.file.Files.createTempDirectory(s"graft_scale_ph$bits")
    try {
      PhashIndex.processBatch(s, idx.toString, images(day1),
        bits = Some(bits)).count()
      PhashIndex.processBatch(s, idx.toString, images(day2),
        bits = Some(bits)).count()
    } finally Q.deleteRecursively(idx)
  }

  /** The t_leakage_safe_split composition at scale: 64-bit simhash →
    * banded pairs → CC → cluster-grain split. Composes two measured
    * families (simhash_band16 + cc_full) plus a projection — one row
    * confirming the composition inherits their exponents. */
  private def leakageSplit(s: SparkSession, dir: String): Long = {
    val docs = docsOf(s, dir)
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    // policy-driven width, mirroring the r16 consumer (128-bit at 100×)
    val bits = Dedup.autoBandPolicy(Tables.documentsCount(s, dir))
    val pairs = Dedup.simhashNearDups(
      Dedup.simhashFromTokens(tokenRows, bits), bits = bits)
    val cc = Dedup.nearDupLabels(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    TA.leakageSafeSplit(cc, seed = "split14", valPct = 10, testPct = 10)
      .count()
  }

  private def ivfpq(s: SparkSession, dir: String, k: Int,
                    scaledStride: Boolean): Long = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    if (scaledStride)
      // the SHIPPED policy arm (r15): coarse cells from the default
      // cells-∝-√n rule (Clustering.sqrtCellsStride — coarseStride
      // omitted), PQ codeword count held constant (stride ∝ k: a
      // model hyperparameter, not a corpus fraction)
      Clustering.ivfPqTopK(s, emb, stride = 100 * k).count()
    else
      Clustering.ivfPqTopK(s, emb,
        coarseStride = 100, stride = 100).count()
  }

  /** Fixed-query-workload serve arm (r15 VERDICT task #4): the shipped
    * `ivfpq_sqrt_cells` row reads shuffle-tail 1.47 only because the
    * EVAL convention grows queries ∝ corpus — the SERVED claim
    * (per-query cost ∝ √n at nlist ≈ √n) needs the workload held
    * constant. Here the index is built UN-TIMED in prep
    * (Clustering.ivfPqBuild, policy defaults) and persisted as
    * parquet; run serves the SAME 400-query batch (first-replica ids,
    * vec_id % 5 = 0) at every scale. The timed half still contains
    * one linear term — the codes/cells scans feeding the probed-cell
    * filter — so the expected wall tail is between 0.5 and 1 with
    * shuffle ≈ the candidate volume (q·nProbe·n/nlist ∝ √n). */
  private def ivfpqQueryFixedPrep(s: SparkSession, dir: String): Unit = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val idx = Clustering.ivfPqBuild(s, emb)
    idx.coarseCb.write.mode("overwrite").parquet(s"$dir/_ivfpq/coarse")
    idx.cells.write.mode("overwrite").parquet(s"$dir/_ivfpq/cells")
    idx.codes.write.mode("overwrite").parquet(s"$dir/_ivfpq/codes")
    idx.codebooks.zipWithIndex.foreach { case (cb, m) =>
      cb.write.mode("overwrite").parquet(s"$dir/_ivfpq/cb$m") }
  }

  private def ivfpqQueryFixed(s: SparkSession, dir: String): Long = {
    val idx = Clustering.IvfPqIndex(
      s.read.parquet(s"$dir/_ivfpq/coarse"),
      s.read.parquet(s"$dir/_ivfpq/cells"),
      (0 until 4).map(m => s.read.parquet(s"$dir/_ivfpq/cb$m")),
      s.read.parquet(s"$dir/_ivfpq/codes"), mSub = 4, subDim = 16)
    val queries = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < EmbStride)
    Clustering.ivfPqQueryTopK(idx, queries).count()
  }

  /** Cross-shard near-dup merge at scale (r15 VERDICT task #6): shard
    * = the amplification replica (doc_id div DocStride), so shard SIZE
    * is constant (one 1× corpus) while shard COUNT grows ∝ scale —
    * the deployment shape that defeats band saturation (within-shard
    * buckets key on (shard, band, band_key); the width policy sizes
    * from the SHARD's doc count and never widens as the corpus grows).
    * Expected: within-shard work ∝ k with flat per-shard cost ⇒ wall
    * tail ≈1; the cross-shard stage ships banded rows only. */
  private def shardedMerge(s: SparkSession, dir: String): Long = {
    val docs = docsOf(s, dir)
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    val bits = Dedup.autoBandPolicy(
      docs.filter(col("doc_id") < DocStride).count())
    val sharded = Dedup.simhashFromTokens(tokenRows, bits)
      .withColumn("shard", expr(s"doc_id div ${DocStride}"))
    Dedup.shardedNearDupLabels(sharded, bits = bits).count()
  }

  /** INCREMENTAL cross-shard merge at deployment grain (r16 VERDICT
    * task #2's measurement): committed state = ALL k amplification
    * replicas seeded as shards (un-timed prep —
    * [[graft.llm.ShardedNearDupIndex.seedShards]]); the timed run
    * folds ONE new fixed-size shard (the k-th affine replica, ids
    * above every committed id) through
    * [[graft.llm.ShardedNearDupIndex.addShard]]. The banded/CC work is
    * ∝ the new shard; the only corpus-scale terms are the committed
    * band-index SCAN feeding the cross probe and the label-snapshot
    * rewrite (the documented lakehouse-MERGE fallback) — so the
    * expected wall tail is well under 1, and the ACROSS stage's
    * all-shards-at-once 1.17 shuffle tail (the r16 weak mark,
    * `sharded_merge` family) should not appear here at all. */
  private def shardedIncPrep(s: SparkSession, dir: String,
                             k: Int,
                             state: String = "shardinc_state"): Unit = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    val docs = docsOf(s, dir)
    // the new shard: replica index k (amplifyDocs wrote 0..k-1), same
    // affine/rotation discipline so it shares no tokens with any
    // committed shard beyond chance
    docs.filter(col("doc_id") < DocStride).select(
        (col("doc_id") + lit(k * DocStride)).as("doc_id"),
        translate(col("text"), lower + digits,
          affine(lower, 2 * (k / 26) + 1, k % 26) +
            rot(digits, k % 10)).as("text"))
      .write.mode("overwrite").parquet(s"$dir/new_shard.parquet")
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    val sharded = Dedup.simhashFromTokens(tokenRows, 64)
      .withColumn("shard", expr(s"doc_id div ${DocStride}"))
    graft.llm.ShardedNearDupIndex.seedShards(s,
      s"$dir/$state", sharded, bits = 64)
    ()
  }

  private def shardedIncremental(s: SparkSession, dir: String): Long = {
    val newShard = s.read.parquet(s"$dir/new_shard.parquet")
    val tokenRows = newShard.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    graft.llm.ShardedNearDupIndex.addShard(s, s"$dir/shardinc_state",
      Dedup.simhashFromTokens(tokenRows, 64), bits = 64).count()
  }

  /** probeCap-ENABLED fold against a COMPACTED index (r19; VERDICT r18
    * task #2's done-criterion): prep compacts the seeded bands so
    * `probe_rk` is materialized, and the fold caps via the stored-rank
    * FILTER + delta-only window. The claim under measurement: the
    * capped fold's shuffle stays ∝ new shard as committed shards grow
    * (the r18 form re-windowed the ENTIRE committed index per fold —
    * shuffle ∝ index by construction). */
  private def shardedIncrementalCapped(s: SparkSession,
                                       dir: String): Long = {
    val newShard = s.read.parquet(s"$dir/new_shard.parquet")
    val tokenRows = newShard.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    graft.llm.ShardedNearDupIndex.addShard(s,
      s"$dir/shardinc_state_capped",
      Dedup.simhashFromTokens(tokenRows, 64), bits = 64,
      probeCap = Some(512)).count()
  }

  private def sessionTimers(s: SparkSession, dir: String): Long = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val landing = s"$dir/events.parquet"
    val scratch = java.nio.file.Files.createTempDirectory("graft_scale_st")
    val out = scratch.resolve("emissions").toString
    val ckpt = scratch.resolve("ckpt").toString
    try {
      def runPass(): Unit = {
        val q = EventStream.timerSessions(
            EventStream.readEvents(s, landing)).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.write.mode("append").parquet(out); ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      runPass()
      // watermark-advancing sentinel: close every remaining session on
      // the checkpoint-resumed pass (amplified events are TimestampType)
      val raw = s.read.parquet(landing)
      val sentinel = raw.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"),
          (col("mx") + expr("INTERVAL 2 DAYS")).as("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
      val stage = scratch.resolve("stage")
      sentinel.coalesce(1).write.mode("overwrite")
        .parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/z_sentinel.parquet"))
      runPass()
      s.read.parquet(out).filter(col("user_id") >= 0).count()
    } finally {
      Q.deleteRecursively(scratch)
      prev match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** Range-join A/B over amplified events ([[graft.operators.RangeJoin]]):
    * per-user intervals [first event, first + (user%4+1) h] joined back
    * to the raw event points by time containment, rolled up per
    * interval. Amplification grows BOTH sides ∝ k inside the FIXED
    * 30-day event window, so the UNKEYED arm's candidate pairs (and its
    * true output) grow ∝ k² — the measured design bug of range-joining
    * two co-growing fact tables on time alone; the KEYED arm passes
    * user_id as the natural equi key through `equiKeys` and the same
    * operator, same data, is linear (each user's points only ever meet
    * that user's intervals). The production rule this measures: a pure
    * range predicate between growing facts needs its entity key in the
    * join, or pre-aggregation — time bucketing alone only bounds
    * constants, not the exponent. */
  private def rangeJoin(s: SparkSession, dir: String,
                        keyed: Boolean): Long = {
    import graft.operators.RangeJoin
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts").cast("long").as("sec"))
    val iv = ev.groupBy(col("user_id"))
      .agg(min(col("sec")).as("start_sec"))
      .withColumn("end_sec",
        col("start_sec") + (col("user_id") % 4 + 1) * 3600L)
    val joined =
      if (keyed) RangeJoin.bucketedIntervalJoin(ev, iv,
        "sec", "start_sec", "end_sec", bucketSize = 7200L,
        equiKeys = Seq("user_id"))
      else RangeJoin.bucketedIntervalJoin(ev,
        iv.withColumnRenamed("user_id", "iv_user"),
        "sec", "start_sec", "end_sec", bucketSize = 7200L)
    val key = if (keyed) col("user_id") else col("iv_user")
    joined.groupBy(key).agg(count(lit(1)).as("n")).count()
  }

  /** LPA at a FIXED daily batch — the measurement behind
    * `incrementalLabelPropagation`'s "daily work ∝ ball, never the
    * corpus" claim. The corpus (and its committed community state)
    * grows ∝ k; the day's NEW edges are pinned to replica 0's chain
    * edges (constant count at every scale). The committed per-round
    * labels are prepared OUTSIDE the measured window ([[lpaPrep]], the
    * state a warehouse has on disk before the day starts), so the two
    * arms time exactly the day's work: `lpa_full` re-iterates the
    * whole union graph (α≈1 by construction); `lpa_incremental` folds
    * the batch — per-round recompute ∝ the batch's radius-t ball, plus
    * one scan-shaped committed-label overlay join per round (linear
    * BYTES with a small constant, zero corpus-scale iteration). */
  private def lpaEdgeSplit(docs: DataFrame): (DataFrame, DataFrame) = {
    val g = Q.docGraph(docs)
    (g.star.unionByName(g.chain.filter(col("src") >= DocStride)),
      g.chain.filter(col("src") < DocStride))
  }

  private def lpaPrep(s: SparkSession, dir: String): Unit = {
    // Stage the edge split itself (r20): `lpaEdgeSplit`'s chain⋉nodes
    // semi-join is harness PREP — the warehouse's edge tables exist on
    // disk before the day starts, exactly like the committed rounds —
    // and timing it inside the window let ITS broadcast→SMJ flip at
    // 100× (nodes ∝ corpus ≈ 12 MB) masquerade as the operator's
    // shuffle step: the r19 SCALE.md row blamed the overlay join, but
    // pinning the overlay broadcast (GraphOps r20) left the step
    // intact, and the step's bytes match the nodes side of this join.
    val (old, batch) = lpaEdgeSplit(docsOf(s, dir))
    old.write.mode("overwrite").parquet(s"$dir/lpa_old_edges.parquet")
    batch.write.mode("overwrite").parquet(s"$dir/lpa_batch_edges.parquet")
    graft.operators.GraphOps.labelPropagationRounds(
        s.read.parquet(s"$dir/lpa_old_edges.parquet"), iters = 3)
      .zipWithIndex.foreach { case (r, i) =>
        r.write.mode("overwrite").parquet(s"$dir/lpa_round$i.parquet")
      }
  }

  private def lpaIncremental(s: SparkSession, dir: String): Long = {
    val rounds = (0 to 3).map(i => s.read.parquet(s"$dir/lpa_round$i.parquet"))
    graft.operators.GraphOps
      .incrementalLabelPropagation(rounds,
        s.read.parquet(s"$dir/lpa_old_edges.parquet"),
        s.read.parquet(s"$dir/lpa_batch_edges.parquet")).count()
  }

  private def lpaFull(s: SparkSession, dir: String): Long = {
    graft.operators.GraphOps
      .labelPropagation(
        s.read.parquet(s"$dir/lpa_old_edges.parquet").unionByName(
          s.read.parquet(s"$dir/lpa_batch_edges.parquet")),
        iters = 3).count()
  }

  // ---- reference-mart spine (r19, VERDICT r18 task #4): the two
  //      heaviest refdemo models, measured at amplified data volume.
  //      Each family mirrors its IN-DAG input shapes exactly: upstream
  //      TABLES (fct_products, fct_order_line_items) are materialized
  //      to parquet in untimed prep; upstream VIEWS (staging items,
  //      order_items_typed) stay live plans over the amplified raw —
  //      so the timed window is the MODEL's own cost, as in the DAG. ----

  private def refTyped(s: SparkSession, dir: String): DataFrame =
    graft.ref.Staging.orderItemsTyped(
      graft.ref.Staging.orderItemsTaxStatus(
        graft.ref.Staging.baseOrderItems(
          s.read.parquet(s"$dir/refm_invoices.parquet"),
          s.read.parquet(s"$dir/refm_receipts.parquet"))))

  private def refStgItems(s: SparkSession, dir: String): DataFrame =
    graft.ref.Staging.items(s.read.parquet(s"$dir/refm_items.parquet"))

  private def refFctProducts(s: SparkSession, dir: String): DataFrame = {
    val stg = refStgItems(s, dir)
    graft.ref.Marts.fctProducts(
      graft.ref.Intermediate.itemsEnriched(stg),
      Some(graft.ref.Intermediate.materialType(stg)))
  }

  private def refPricingPrep(s: SparkSession, dir: String): Unit =
    refFctProducts(s, dir).write.mode("overwrite")
      .parquet(s"$dir/refm_fct_products.parquet")

  private def refPricing(s: SparkSession, dir: String): Long =
    graft.ref.TimeSeries.pricingHistory(
      refTyped(s, dir), refStgItems(s, dir),
      Some(s.read.parquet(s"$dir/refm_fct_products.parquet"))).count()

  private def refMarginPrep(s: SparkSession, dir: String): Unit =
    graft.ref.Marts.fctOrderLineItems(
        refTyped(s, dir), refFctProducts(s, dir))
      .write.mode("overwrite")
      .parquet(s"$dir/refm_fct_line_items.parquet")

  private def refMargin(s: SparkSession, dir: String): Long =
    graft.ref.Marts.productMarginAnalytics(
      s.read.parquet(s"$dir/refm_fct_line_items.parquet")).count()

  /** needs: which amplified tables the family reads; rep: whether a
    * second sample at small scales is meaningful (stateful families —
    * kmeans train memo, streaming checkpoints, sentinel-mutated landing
    * dirs — must measure the cold run only); prep: un-timed per-scale
    * state preparation (committed indexes/labels the day starts from). */
  private final case class Fam(name: String, needs: Set[String],
                               rep: Boolean,
                               run: (SparkSession, String, Int) => Long,
                               prep: Option[(SparkSession, String, Int) => Unit]
                                 = None)

  private val families: Seq[Fam] = Seq(
    Fam("cc_full", Set("documents"), rep = true,
      (s, d, _) => ccFull(s, d)),
    Fam("cc_incremental", Set("documents"), rep = true,
      (s, d, _) => ccIncremental(s, d)),
    Fam("minhash_lsh", Set("documents"), rep = true,
      (s, d, _) => minhashLsh(s, d)),
    Fam("index_chain", Set("documents"), rep = true,
      (s, d, _) => indexChain(s, d)),
    Fam("cluster_canonical", Set("documents"), rep = true,
      (s, d, _) => clusterCanonical(s, d)),
    Fam("simhash_band8", Set("documents"), rep = true,
      (s, d, _) => simhashPairs(s, d, bits = 32)),
    Fam("simhash_band16", Set("documents"), rep = true,
      (s, d, _) => simhashPairs(s, d, bits = 64)),
    Fam("simhash_band32", Set("documents"), rep = true,
      (s, d, _) => simhashPairs(s, d, bits = 128)),
    Fam("bpe_train_apply", Set("documents"), rep = true,
      (s, d, _) => bpe(s, d)),
    Fam("bpe_durable", Set("documents"), rep = true,
      (s, d, _) => bpeDurable(s, d)),
    Fam("ivfpq_fixed_stride", Set("embeddings"), rep = false,
      (s, d, k) => ivfpq(s, d, k, scaledStride = false)),
    Fam("ivfpq_sqrt_cells", Set("embeddings"), rep = false,
      (s, d, k) => ivfpq(s, d, k, scaledStride = true)),
    Fam("ivfpq_query_fixed", Set("embeddings"), rep = true,
      (s, d, _) => ivfpqQueryFixed(s, d),
      prep = Some((s, d, _) => ivfpqQueryFixedPrep(s, d))),
    Fam("sharded_merge", Set("documents"), rep = true,
      (s, d, _) => shardedMerge(s, d)),
    Fam("sharded_incremental", Set("documents"), rep = false,
      (s, d, _) => shardedIncremental(s, d),
      prep = Some((s, d, k) => shardedIncPrep(s, d, k))),
    Fam("sharded_incremental_capped", Set("documents"), rep = false,
      (s, d, _) => shardedIncrementalCapped(s, d),
      prep = Some((s, d, k) => {
        // own state dir: sharing the uncapped family's would make this
        // fold a replay of an already-merged shard, not a real fold
        shardedIncPrep(s, d, k, state = "shardinc_state_capped")
        graft.llm.ShardedNearDupIndex.compactBands(s,
          s"$d/shardinc_state_capped")
        ()
      })),
    Fam("index_commit_days", Set("documents"), rep = false,
      (s, d, k) => indexCommitDays(s, d, k)),
    Fam("session_timers", Set("events"), rep = false,
      (s, d, _) => sessionTimers(s, d)),
    Fam("range_join_unkeyed", Set("events"), rep = true,
      (s, d, _) => rangeJoin(s, d, keyed = false)),
    Fam("range_join_keyed", Set("events"), rep = true,
      (s, d, _) => rangeJoin(s, d, keyed = true)),
    Fam("lpa_full", Set("documents"), rep = true,
      (s, d, _) => lpaFull(s, d),
      prep = Some((s, d, _) => lpaPrep(s, d))),
    Fam("lpa_incremental", Set("documents"), rep = true,
      (s, d, _) => lpaIncremental(s, d),
      prep = Some((s, d, _) => lpaPrep(s, d))),
    Fam("phash_index_chain", Set("documents"), rep = true,
      (s, d, _) => phashChain(s, d, bits = 64)),
    Fam("phash128_index_chain", Set("documents"), rep = true,
      (s, d, _) => phashChain(s, d, bits = 128)),
    Fam("leakage_split", Set("documents"), rep = true,
      (s, d, _) => leakageSplit(s, d)),
    Fam("ref_pricing_history", Set("refmarts"), rep = true,
      (s, d, _) => refPricing(s, d),
      prep = Some((s, d, _) => refPricingPrep(s, d))),
    Fam("ref_margin", Set("refmarts"), rep = true,
      (s, d, _) => refMargin(s, d),
      prep = Some((s, d, _) => refMarginPrep(s, d))))

  // Per-sample stage metrics live in tools/Measure.scala (shared with
  // Bench since r20 — bytes are the steal-immune half of every
  // measurement here).

  /** Least-squares slope of ln(t) on ln(k). */
  private def alpha(pts: Seq[(Int, Double)]): Option[Double] = {
    val valid = pts.filter(_._2 > 0)
    if (valid.size < 2) return None
    val xs = valid.map(p => math.log(p._1.toDouble))
    val ys = valid.map(p => math.log(p._2))
    val n = xs.size
    val mx = xs.sum / n; val my = ys.sum / n
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) None
    else Some(xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val cutoff = sys.env.getOrElse("SPARK_GRAFT_SCALE_CUTOFF", "300").toDouble
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args.toSet) else None
    val fams = families.filter(f => only.forall(_.contains(f.name)))
    require(fams.nonEmpty, s"no family matches $only — " +
      s"known: ${families.map(_.name).mkString(", ")}")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    // absorb JIT/parquet/shuffle ramp outside the measured window
    Tables.documents(spark, sfDir).groupBy(col("lang")).count().collect()

    // listener events are async: drain the bus before a sample's reset
    // (prep stages stay out) and before its snapshot (late-completing
    // stages stay in), as Bench does
    def drain(): Unit = org.apache.spark.sql.graftinternal.ListenerBusDrain
      .waitUntilEmpty(spark, 30000L)
    def reclaim(): Unit = {
      spark.catalog.clearCache(); System.gc(); Thread.sleep(200); drain()
    }
    final case class Pt(k: Int, sec: Double, rows: Long,
                        shuffle: Long, spill: Long, peakMem: Long,
                        outBytes: Long, stealPct: Option[Double])
    val results = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[Pt]]
    val skipped = scala.collection.mutable.Set.empty[String]

    for (k <- scales.sorted) {
      val amp = java.nio.file.Files.createTempDirectory(s"graft_scale_${k}x")
      try {
        val needed = fams.filterNot(f => skipped(f.name))
          .flatMap(_.needs).toSet
        if (needed("documents")) amplifyDocs(spark, sfDir, k, amp.toString)
        if (needed("embeddings")) amplifyEmb(spark, sfDir, k, amp.toString)
        if (needed("events")) amplifyEvents(spark, sfDir, k, amp.toString)
        if (needed("refmarts")) amplifyRefMarts(spark, sfDir, k, amp.toString)
        for (f <- fams if !skipped(f.name)) {
          f.prep.foreach(p => p(spark, amp.toString, k))
          def sample(): Pt = {
            reclaim()
            metrics.reset()
            val st0 = Steal.sample()
            val t0 = System.nanoTime()
            val n = f.run(spark, amp.toString, k)
            val sec = (System.nanoTime() - t0) / 1e9
            val stealPct = Steal.pct(st0, Steal.sample())
            drain()
            val (sh, sp, pm, ob) = metrics.snap
            Pt(k, sec, n, sh, sp, pm, ob, stealPct)
          }
          val s1 = sample()
          val best =
            if (f.rep && k <= 3) { val s2 = sample(); if (s2.sec < s1.sec) s2 else s1 }
            else s1
          println(f"[scale] ${f.name}%-22s ${k}%2dx  ${best.sec}%8.2f s" +
            f"  ${best.shuffle / 1048576.0}%9.1f MB shuffle" +
            f"  ${best.spill / 1048576.0}%7.1f MB spill" +
            f"  (${best.rows}%d rows)" +
            best.stealPct.map(p => f"  st=$p%.1f%%").getOrElse(""))
          results.getOrElseUpdate(f.name,
            scala.collection.mutable.ArrayBuffer.empty) += best
          if (best.sec > cutoff) {
            skipped += f.name
            println(f"[scale] ${f.name}: ${best.sec}%.1f s > cutoff " +
              f"$cutoff%.0f s — skipping larger scales")
          }
        }
      } finally Q.deleteRecursively(amp)
    }
    spark.stop()

    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println()
    println(f"${"family"}%-22s ${"alpha"}%6s ${"tail"}%6s ${"shufA"}%6s ${"outA"}%6s  t(k) ...")
    val famJson = fams.filter(f => results.contains(f.name)).map { f =>
      val pts = results(f.name).toSeq
      val a = alpha(pts.map(p => (p.k, p.sec)))
      // Tail exponent over the two LARGEST scales: per-run fixed
      // overhead (JIT, session/stream init) deflates the full-range
      // fit — which would OVERSTATE scalability — while by the tail
      // the data term dominates. This is the asymptotic signal SCALE.md
      // cites; the full fit is kept as the overhead-inclusive view.
      def tailOf(sel: Pt => Double): Option[Double] =
        pts.takeRight(2) match {
          case Seq(p1, p2) if sel(p1) > 0 && sel(p2) > 0 && p1.k != p2.k =>
            Some(math.log(sel(p2) / sel(p1)) /
              math.log(p2.k.toDouble / p1.k))
          case _ => None
        }
      val tail = tailOf(_.sec)
      // shuffle-BYTES tail exponent: a linear-time family with
      // superlinear shuffle is still a scale bug
      val shufTail = tailOf(_.shuffle.toDouble)
      // output-BYTES tail: the commit-cost signal (write ∝ index vs
      // ∝ batch is invisible to both wall and shuffle at small scales)
      val outTail = tailOf(_.outBytes.toDouble)
      def fmt(o: Option[Double]) = o.map(x => f"$x%6.2f").getOrElse("   n/a")
      println(f"${f.name}%-22s ${fmt(a)} ${fmt(tail)} ${fmt(shufTail)}" +
        f" ${fmt(outTail)}  " +
        pts.map(p => s"${p.k}x=${sec(p.sec)}s").mkString("  "))
      val scalesJ = pts.map(_.k).mkString("[", ",", "]")
      val secsJ = pts.map(p => sec(p.sec)).mkString("[", ",", "]")
      val rowsJ = pts.map(_.rows).mkString("[", ",", "]")
      val shufJ = pts.map(_.shuffle).mkString("[", ",", "]")
      val spillJ = pts.map(_.spill).mkString("[", ",", "]")
      val peakJ = pts.map(_.peakMem).mkString("[", ",", "]")
      val outJ = pts.map(_.outBytes).mkString("[", ",", "]")
      // steal pct per point (quietness evidence — r19 task #6): a wall
      // tail cited from points with nonzero steal is suspect; -1 means
      // the sample was unavailable (off-Linux).
      val stealJ = pts.map(p => sec(p.stealPct.getOrElse(-1.0)))
        .mkString("[", ",", "]")
      // per-family measurement metadata (sf/cpus/cutoff): subset runs
      // merge into a committed artifact whose top-level fields describe
      // only the LAST run — each family must carry the settings it was
      // actually measured under (e.g. the range_join arms ran to 100×
      // while the sweep stops at 30×).
      s""""${f.name}":{"scales":$scalesJ,"secs":$secsJ,"rows":$rowsJ,""" +
        s""""shuffle_bytes":$shufJ,"spill_bytes":$spillJ,""" +
        s""""peak_exec_mem":$peakJ,"output_bytes":$outJ,""" +
        s""""steal_pct":$stealJ,""" +
        s""""sf":"$sfDir","cpus":"$cpus","cutoff":$cutoff,""" +
        s""""alpha":${a.map(sec).getOrElse("null")},""" +
        s""""alpha_tail":${tail.map(sec).getOrElse("null")},""" +
        s""""shuffle_tail":${shufTail.map(sec).getOrElse("null")},""" +
        s""""output_tail":${outTail.map(sec).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"sf":"$sfDir","cpus":"$cpus","cutoff":$cutoff,""" +
      s""""families":$famJson}"""
    if (scales.size >= 3) {
      val repoRoot = Iterator.iterate(
          java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
        .takeWhile(_ != null)
        .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        .getOrElse(sys.error("ScaleBench: no build.sbt above cwd"))
      val out = repoRoot.resolve("bench/SCALE.json")
      java.nio.file.Files.createDirectories(out.getParent)
      // Full sweeps replace the artifact; SUBSET runs (explicit family
      // args) merge their families into the committed file so a new or
      // re-measured family doesn't require re-running all the others
      // (Jackson is Spark's bundled JSON parser).
      // Guarded: a malformed or families-less committed artifact falls
      // back to replace instead of NPE/ClassCastException mid-merge.
      val payload =
        if (only.isEmpty || !java.nio.file.Files.exists(out)) json
        else try {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val prev = mapper.readTree(out.toFile)
          val pfRaw = if (prev != null && prev.isObject)
            prev.get("families") else null
          if (pfRaw == null || !pfRaw.isObject) {
            println(s"[scale] committed $out lacks a families object — " +
              "replacing instead of merging")
            json
          } else {
            val pf = pfRaw
              .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            val cur = mapper.readTree(json)
            cur.get("families").fields().forEachRemaining { e =>
              pf.set(e.getKey, e.getValue); ()
            }
            mapper.writeValueAsString(prev)
          }
        } catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            println(s"[scale] committed $out unparseable (${e.getMessage})" +
              " — replacing instead of merging")
            json
        }
      java.nio.file.Files.write(out,
        (payload + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(json)
  }
}
