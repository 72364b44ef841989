package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Sessions, SparkEntry, Tables}
import graft.llm.{Clustering, CorpusIndex, Dedup, ShardedNearDupIndex,
  TextAnalysis => TA}
import graft.queries.{LlmQueries, Q}
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
  * A family with a registry twin IS that query: its [[Fam]] names it
  * and runs `SparkEntry.queries(name)` over the amplified dir (same
  * table file names), so a new family with a twin is added by name.
  * The phash chains call the gates' chain builder. Every other family
  * calls operators and says in one line why it has no twin.
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
  * re-run against warm artifacts), each through Bench's [[Sampler]]. A
  * family whose sample exceeds the cutoff (default 300 s) skips its
  * remaining scales and reports the exponent over the scales that ran.
  * Output: a table on stdout plus `bench/SCALE.json`; SCALE.md's
  * "Measured scaling" section cites it.
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

  /** Replica `i` of a documents frame: ids shifted by i·DocStride, the
    * token alphabet permuted by [[affine]] (letters; 26·4 distinct
    * maps) + rotation (digits), so texts of two replicas share no
    * tokens and near-dup families see independent 1× corpora. */
  private def docReplica(docs: DataFrame, i: Int): DataFrame = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    docs
      .withColumn("doc_id", col("doc_id") + lit(i * DocStride))
      .withColumn("text", translate(col("text"), lower + digits,
        affine(lower, 2 * (i / 26) + 1, i % 26) + rot(digits, i % 10)))
  }

  /** k salted replicas ([[docReplica]] 0..k-1) of `documents`. */
  private[tools] def amplifyDocs(spark: SparkSession, src: String, k: Int,
                                 out: String): Unit = {
    val docs = Tables.documents(spark, src)
    require(k <= 104, s"amplifyDocs: $k replicas exceed the 104 distinct " +
      "letter mappings (4 affine blocks × 26 rotations)")
    (0 until k).map(docReplica(docs, _)).reduce(_ unionByName _)
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

  // ---- bodies of the families that are not a registry name ----

  private def docsOf(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

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

  /** The dd_phash_index_chain / dd_phash128_index_chain build at
    * scale: day-1 images synthesized + dHash'd + committed to a
    * [[graft.llm.PhashIndex]] AtomicTable at `bits`, day-2 probes
    * (near-copies, re-crawls, fresh) verified against the committed
    * version. Payload synthesis + JDK codec decode ∝ corpus (the codec
    * boundary is mapPartitions — expect α≈1); the open question this
    * measures is the PER-COMMIT overhead of the index AtomicTable
    * versioning at growing batch sizes. The 64-bit arm keeps its
    * measured 1.43@100× shuffle tail as the saturated contrast (16-bit
    * band keys); the 128-bit arm's probe candidates are |index|/2^32
    * per band, so its expected shuffle tail is ≈ 1 at every measurable
    * scale. Re-crawl copy ids start at [[PhashCopyBase]], above every
    * amplified id (100× tops out below 10⁹). */
  private def phashChain(s: SparkSession, dir: String, bits: Int): Long =
    LlmQueries.phashIndexChain(s, dir, bits, PhashCopyBase).count()

  private val PhashCopyBase = 1000000000L

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
  private def shardedIncPrep(s: SparkSession, dir: String, k: Int,
                             state: String): Unit = {
    val docs = docsOf(s, dir)
    // the new shard: replica k (amplifyDocs wrote 0..k-1), so it shares
    // no tokens with any committed shard beyond chance
    docReplica(docs.filter(col("doc_id") < DocStride), k)
      .select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/new_shard.parquet")
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    val sharded = Dedup.simhashFromTokens(tokenRows, 64)
      .withColumn("shard", expr(s"doc_id div ${DocStride}"))
    ShardedNearDupIndex.seedShards(s, s"$dir/$state", sharded, bits = 64)
    ()
  }

  /** Folds the new shard into the committed state at `dir/state`.
    * `probeCap` set is the r19 arm (VERDICT r18 task #2's
    * done-criterion): against a `compactBands`-compacted index, whose
    * `probe_rk` is materialized, the fold caps via the stored-rank
    * FILTER + delta-only window. The claim under measurement: the
    * capped fold's shuffle stays ∝ new shard as committed shards grow
    * (the r18 form re-windowed the ENTIRE committed index per fold —
    * shuffle ∝ index by construction). */
  private def shardedFold(s: SparkSession, dir: String, state: String,
                          probeCap: Option[Int]): Long = {
    val tokenRows = s.read.parquet(s"$dir/new_shard.parquet")
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
    ShardedNearDupIndex.addShard(s, s"$dir/$state",
      Dedup.simhashFromTokens(tokenRows, 64), bits = 64,
      probeCap = probeCap).count()
  }

  /** The st_session_timers composition over the amplified events dir:
    * a drain, a watermark-advancing sentinel, and a resumed drain that
    * closes every remaining session, under the gated query's state-store
    * scope. */
  private def sessionTimers(s: SparkSession, dir: String): Long = {
    val landing = s"$dir/events.parquet"
    val scratch = java.nio.file.Files.createTempDirectory("graft_scale_st")
    val out = scratch.resolve("emissions").toString
    val ckpt = scratch.resolve("ckpt").toString
    try EventStream.withStateStore(s) {
      def runPass(): Unit = EventStream.drainToParquet(
        EventStream.timerSessions(EventStream.readEvents(s, landing)).toDF(),
        ckpt, out)
      runPass()
      EventStream.stageSentinel(s, landing,
        java.nio.file.Paths.get(landing), scratch.resolve("stage"))
      runPass()
      s.read.parquet(out).filter(col("user_id") >= 0).count()
    } finally Q.deleteRecursively(scratch)
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
    * state preparation (committed indexes/labels the day starts from);
    * query: the registry query the family runs, when it has a twin. */
  private[graft] final case class Fam(
      name: String, needs: Set[String], rep: Boolean,
      run: (SparkSession, String, Int) => Long,
      prep: Option[(SparkSession, String, Int) => Unit] = None,
      query: Option[String] = None)

  private object Fam {
    /** A family that runs registry query `query` over the amplified
      * documents. */
    def twin(name: String, query: String): Fam =
      Fam(name, Set("documents"), rep = true,
        (s, d, _) => SparkEntry.queries(query)(s, d).count(),
        query = Some(query))
  }

  private[graft] val families: Seq[Fam] = Seq(
    Fam.twin("cc_full", "dd_cc_components"),
    Fam.twin("cc_incremental", "dd_cc_incremental"),
    Fam.twin("minhash_lsh", "dd_minhash_lsh_jaccard"),
    // no twin: an even/odd day split — dd_incremental_index_chain keys
    // on id % 3, which the DocStride shift does not keep
    Fam("index_chain", Set("documents"), rep = true,
      (s, d, _) => indexChain(s, d)),
    Fam.twin("cluster_canonical", "dd_cluster_canonical"),
    Fam.twin("simhash_band8", "dd_simhash_neardup"),
    Fam.twin("simhash_band16", "dd_simhash64_neardup"),
    Fam.twin("simhash_band32", "dd_simhash128_neardup"),
    Fam.twin("bpe_train_apply", "t_bpe_train_apply"),
    // no twin: no gated query checkpoints BPE rounds to disk
    Fam("bpe_durable", Set("documents"), rep = true,
      (s, d, _) => bpeDurable(s, d)),
    // no twin (both arms): the strides follow the scale, the ann_ivfpq
    // gate pins them
    Fam("ivfpq_fixed_stride", Set("embeddings"), rep = false,
      (s, d, k) => ivfpq(s, d, k, scaledStride = false)),
    Fam("ivfpq_sqrt_cells", Set("embeddings"), rep = false,
      (s, d, k) => ivfpq(s, d, k, scaledStride = true)),
    // no twin: serves a fixed query batch from an index built in prep
    Fam("ivfpq_query_fixed", Set("embeddings"), rep = true,
      (s, d, _) => ivfpqQueryFixed(s, d),
      prep = Some((s, d, _) => ivfpqQueryFixedPrep(s, d))),
    // no twin (all three sharded families): the shard is the
    // amplification replica, the gates shard on id % 3
    Fam("sharded_merge", Set("documents"), rep = true,
      (s, d, _) => shardedMerge(s, d)),
    Fam("sharded_incremental", Set("documents"), rep = false,
      (s, d, _) => shardedFold(s, d, "shardinc_state", probeCap = None),
      prep = Some((s, d, k) => shardedIncPrep(s, d, k, "shardinc_state"))),
    Fam("sharded_incremental_capped", Set("documents"), rep = false,
      (s, d, _) => shardedFold(s, d, "shardinc_state_capped",
        probeCap = Some(512)),
      prep = Some((s, d, k) => {
        // own state dir: sharing the uncapped family's would make this
        // fold a replay of an already-merged shard, not a real fold
        shardedIncPrep(s, d, k, "shardinc_state_capped")
        ShardedNearDupIndex.compactBands(s, s"$d/shardinc_state_capped")
        ()
      })),
    // no twin: one day per replica, the number of days grows with scale
    Fam("index_commit_days", Set("documents"), rep = false,
      (s, d, k) => indexCommitDays(s, d, k)),
    // st_session_timers' body drains into its own scratch dirs; the
    // family calls the same EventStream helpers on the amplified events
    Fam("session_timers", Set("events"), rep = false,
      (s, d, _) => sessionTimers(s, d)),
    // no twin (both arms): the A/B rolls up per interval owner, and the
    // unkeyed arm is the deliberate superlinear case no gate runs
    Fam("range_join_unkeyed", Set("events"), rep = true,
      (s, d, _) => rangeJoin(s, d, keyed = false)),
    Fam("range_join_keyed", Set("events"), rep = true,
      (s, d, _) => rangeJoin(s, d, keyed = true)),
    // no twin (both arms): the day's batch is replica 0's chain edges,
    // the gate splits by id % 10
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
    Fam.twin("leakage_split", "t_leakage_safe_split"),
    // no twin (both ref families): mart models run in the ModelDag,
    // not the registry
    Fam("ref_pricing_history", Set("refmarts"), rep = true,
      (s, d, _) => refPricing(s, d),
      prep = Some((s, d, _) => refPricingPrep(s, d))),
    Fam("ref_margin", Set("refmarts"), rep = true,
      (s, d, _) => refMargin(s, d),
      prep = Some((s, d, _) => refMarginPrep(s, d))))

  /** One family's measured point at scale `k`: the min-time sample. */
  private[graft] final case class Pt(k: Int, sample: Sample)

  /** Runs `fams` at each of `scales` over amplified copies of the sf
    * dir `sfDir` and returns each family's points in ascending scale.
    * A family whose best sample exceeds `cutoff` seconds skips the
    * larger scales; a failed sample throws. */
  private[graft] def sweep(spark: SparkSession, sfDir: String,
                           scales: Seq[Int], fams: Seq[Fam],
                           cutoff: Double): Seq[(Fam, Seq[Pt])] = {
    val sampler = new Sampler(spark)
    // absorb JIT/parquet/shuffle ramp outside the measured window
    Tables.documents(spark, sfDir).groupBy(col("lang")).count().collect()
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
          def sample(): Sample = {
            val s = sampler.sample(f.run(spark, amp.toString, k))
            s.error.foreach(e => throw new RuntimeException(
              s"ScaleBench: ${f.name} failed at ${k}x", e))
            s
          }
          val s1 = sample()
          val best =
            if (f.rep && k <= 3) { val s2 = sample(); if (s2.sec < s1.sec) s2 else s1 }
            else s1
          println(f"[scale] ${f.name}%-22s ${k}%2dx  ${best.sec}%8.2f s" +
            f"  ${best.stages.shuffleBytes / 1048576.0}%9.1f MB shuffle" +
            f"  ${best.stages.spill / 1048576.0}%7.1f MB spill" +
            f"  (${best.rows}%d rows)" +
            best.steal.map(p => f"  st=$p%.1f%%").getOrElse(""))
          results.getOrElseUpdate(f.name,
            scala.collection.mutable.ArrayBuffer.empty) += Pt(k, best)
          if (best.sec > cutoff) {
            skipped += f.name
            println(f"[scale] ${f.name}: ${best.sec}%.1f s > cutoff " +
              f"$cutoff%.0f s — skipping larger scales")
          }
        }
      } finally Q.deleteRecursively(amp)
    }
    sampler.reclaim() // the last sample's scratch dirs
    fams.flatMap(f => results.get(f.name).map(f -> _.toSeq))
  }

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

  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Prints one family's row of the stdout table and returns its
    * `"name":{...}` entry of `bench/SCALE.json`, with the measurement
    * settings it ran under (sf/cpus/cutoff): subset runs merge into a
    * committed artifact whose top-level fields describe only the LAST
    * run (e.g. the range_join arms ran to 100× while the sweep stops at
    * 30×). */
  private[graft] def familyReport(f: Fam, pts: Seq[Pt], sfDir: String,
                                cpus: String, cutoff: Double): String = {
    val a = alpha(pts.map(p => (p.k, p.sample.sec)))
    // Tail exponent over the two LARGEST scales: per-run fixed
    // overhead (JIT, session/stream init) deflates the full-range
    // fit — which would OVERSTATE scalability — while by the tail
    // the data term dominates. This is the asymptotic signal SCALE.md
    // cites; the full fit is kept as the overhead-inclusive view.
    def tailOf(sel: Sample => Double): Option[Double] =
      pts.takeRight(2) match {
        case Seq(p1, p2) if sel(p1.sample) > 0 && sel(p2.sample) > 0 &&
                            p1.k != p2.k =>
          Some(math.log(sel(p2.sample) / sel(p1.sample)) /
            math.log(p2.k.toDouble / p1.k))
        case _ => None
      }
    val tail = tailOf(_.sec)
    // shuffle-BYTES tail exponent: a linear-time family with
    // superlinear shuffle is still a scale bug
    val shufTail = tailOf(_.stages.shuffleBytes.toDouble)
    // output-BYTES tail: the commit-cost signal (write ∝ index vs
    // ∝ batch is invisible to both wall and shuffle at small scales)
    val outTail = tailOf(_.stages.outBytes.toDouble)
    def fmt(o: Option[Double]) = o.map(x => f"$x%6.2f").getOrElse("   n/a")
    println(f"${f.name}%-22s ${fmt(a)} ${fmt(tail)} ${fmt(shufTail)}" +
      f" ${fmt(outTail)}  " +
      pts.map(p => s"${p.k}x=${sec(p.sample.sec)}s").mkString("  "))
    def arr(v: Pt => Any): String = pts.map(v).mkString("[", ",", "]")
    def opt(o: Option[Double]): String = o.map(sec).getOrElse("null")
    // steal pct per point (quietness evidence — r19 task #6): a wall
    // tail cited from points with nonzero steal is suspect; -1 means
    // the sample was unavailable (off-Linux).
    s""""${f.name}":{"scales":${arr(_.k)},""" +
      s""""secs":${arr(p => sec(p.sample.sec))},"rows":${arr(_.sample.rows)},""" +
      s""""shuffle_bytes":${arr(_.sample.stages.shuffleBytes)},""" +
      s""""shuffle_records":${arr(_.sample.stages.shuffleRecords)},""" +
      s""""spill_bytes":${arr(_.sample.stages.spill)},""" +
      s""""peak_exec_mem":${arr(_.sample.stages.peakMem)},""" +
      s""""output_bytes":${arr(_.sample.stages.outBytes)},""" +
      s""""steal_pct":${arr(p => sec(p.sample.steal.getOrElse(-1.0)))},""" +
      s""""sf":"$sfDir","cpus":"$cpus","cutoff":$cutoff,""" +
      s""""alpha":${opt(a)},"alpha_tail":${opt(tail)},""" +
      s""""shuffle_tail":${opt(shufTail)},"output_tail":${opt(outTail)}}"""
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
    val results = sweep(spark, sfDir, scales, fams, cutoff)
    spark.stop()

    println()
    println(f"${"family"}%-22s ${"alpha"}%6s ${"tail"}%6s ${"shufA"}%6s ${"outA"}%6s  t(k) ...")
    val famJson = results.map { case (f, pts) =>
      familyReport(f, pts, sfDir, cpus, cutoff) }.mkString("{", ",", "}")
    val json = s"""{"sf":"$sfDir","cpus":"$cpus","cutoff":$cutoff,""" +
      s""""families":$famJson}"""
    if (scales.size >= 3) {
      val out = Measure.repoRoot().resolve("bench/SCALE.json")
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
