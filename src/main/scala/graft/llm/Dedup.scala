package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact, MinHash+LSH banding, SimHash, exact n-gram Jaccard
  * verification. All deterministic and engine-portable: the hash family
  * is `md5(seed || value)` (hex-string min), so an external SQL oracle
  * computes identical signatures.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - exact: one groupBy on the 128-bit digest — uniform keys, perfect
  *    map-side combine.
  *  - MinHash/LSH: per-doc signatures are a scan + explode + groupBy(doc)
  *    (shuffle ∝ shingle count); candidate generation is a groupBy on
  *    band keys — only docs sharing a band collide, so the pair blow-up
  *    is bounded by bucket sizes, never O(n²). A hot bucket (boilerplate
  *    docs) is the skew risk; cap bucket size or salt in production.
  *  - Jaccard verify runs only on LSH candidates.
  */
object Dedup {

  /** Exact dedup: canonical = min id per content digest. Returns
    * (id, content_fp, canonical_id, is_duplicate). */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame = {
    val fp = md5(lower(trim(text)))
    val w = Window.partitionBy(col("content_fp"))
    df.select(id.as("doc_id"), fp.as("content_fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("dup_group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
  }

  /** MinHash signature column k-seeded over a shingle array:
    * sig_k = MIN(md5(seed_k || shingle)). Deterministic, portable.
    * NOTE: array-expression form — higher-order functions are interpreted
    * (not codegen'd) and project-collapsing re-inlines the shingle
    * construction per seed; prefer [[minhashBands]]' row form on real
    * corpora. */
  def minhash(shingleCol: Column, seed: String): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(seed), s))))

  /** Per-doc banded MinHash signatures from exploded (doc_id, shingle)
    * rows: one codegen'd hash-aggregate computes all `bands×rowsPerBand`
    * min-hashes (min over the shingle SET == min over the multiset, so
    * distinct rows are fine), then each doc explodes into one row per
    * band with band_key = md5 of the band's concatenated min-hashes. */
  /** Per-doc MinHash signature columns (doc_id, sig0..sig{k-1}):
    * sig_i = min over the doc's shingles of md5("mh{i}|" ‖ shingle) —
    * one map-side-combined MIN aggregate for all k hashes at once.
    * P(sig_i(A) = sig_i(B)) = Jaccard(A, B), which is what makes both
    * the banding below and the match-fraction ESTIMATOR
    * (dd_minhash_estimate) work. */
  def minhashSignatures(shingleRows: DataFrame, k: Int): DataFrame = {
    val sigs = (0 until k).map(i =>
      min(md5(concat(lit(s"mh$i|"), col("shingle")))).as(s"sig$i"))
    shingleRows.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
  }

  def minhashBands(shingleRows: DataFrame,
                   bands: Int, rowsPerBand: Int): DataFrame = {
    val sigDf = minhashSignatures(shingleRows, bands * rowsPerBand)
    val bandKeys = (0 until bands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"sig$k"))
      struct(lit(b).as("band"), md5(concat_ws("|", slice: _*)).as("band_key"))
    }
    sigDf.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** LSH candidate pairs (a < b): docs sharing any band bucket.
    *
    * Skew protection (the 100 TB hot-bucket guard): a viral boilerplate
    * string puts millions of docs in ONE band bucket, and the all-pairs
    * self-join of that bucket is quadratic. With `maxBucketSize` set,
    * oversized buckets emit only CHAIN pairs (each doc with its
    * successor in deterministic doc_id order) — linear in bucket size,
    * and for dedup purposes lossless: if the bucket really is one
    * near-dup cluster, adjacent pairs already connect the component for
    * any downstream connected-components/canonical-id step. Normal-size
    * buckets keep exact all-pairs semantics, so results on healthy data
    * are unchanged. */
  def lshCandidates(bandsDf: DataFrame,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val allPairsOf = (df: DataFrame) => {
      val l = df.select(col("band"), col("band_key"),
        col("doc_id").as("doc_a"))
      val r = df.select(col("band"), col("band_key"),
        col("doc_id").as("doc_b"))
      l.join(r, Seq("band", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
    }
    val base =
      if (maxBucketSize == Int.MaxValue) allPairsOf(bandsDf)
      else {
        val bw = Window.partitionBy(col("band"), col("band_key"))
        val ow = bw.orderBy(col("doc_id"))
        val sized = bandsDf
          .withColumn("bucket_size", count(lit(1)).over(bw))
        val small = sized.filter(col("bucket_size") <= maxBucketSize)
          .drop("bucket_size")
        val bigChain = sized.filter(col("bucket_size") > maxBucketSize)
          .withColumn("doc_b", lead(col("doc_id"), 1).over(ow))
          .filter(col("doc_b").isNotNull)
          .select(col("doc_id").as("doc_a"), col("doc_b"))
        allPairsOf(small).unionByName(bigChain)
      }
    base.distinct()
  }

  /** MinHash ESTIMATOR ACCURACY for candidate pairs: the estimated
    * Jaccard (fraction of the k signature rows that agree — an unbiased
    * estimator, since each row agrees with probability exactly J) next
    * to the exact shingle-set Jaccard, plus the absolute error in
    * integer ppm. The sketch-quality measurement (the HLL/Count-Min
    * discipline) for the dedup family: it shows what k buys before
    * anyone trusts a banding threshold. All columns integer, so the
    * estimator's error itself sits inside the hash gate. */
  def minhashEstimate(candidates: DataFrame, sigDf: DataFrame,
                      shingled: DataFrame, k: Int): DataFrame = {
    val a = sigDf.toDF("doc_a" +: (0 until k).map(i => s"a$i"): _*)
    val b = sigDf.toDF("doc_b" +: (0 until k).map(i => s"b$i"): _*)
    val matches = (0 until k).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val est = candidates.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("est_matches"))
    jaccardVerify(candidates, shingled)
      .join(est, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_matches"),
        col("intersection_size").cast("long").as("intersection_size"),
        col("union_size").cast("long").as("union_size"),
        expr(s"est_matches * 1000000 div $k").as("est_jaccard_ppm"),
        expr("intersection_size * 1000000 div union_size")
          .as("exact_jaccard_ppm"),
        expr(s"abs(est_matches * union_size - intersection_size * $k)" +
          s" * 1000000 div ($k * union_size)").as("abs_err_ppm"))
  }

  /** Exact Jaccard similarity over distinct shingles for candidate
    * pairs. `shingled` must have (doc_id, shingle) distinct rows. */
  /** Measured-and-REJECTED (r16): pruning `shingled` to candidate
    * endpoints with a semi join before the two intersection joins —
    * motivated by the minhash_lsh 100× shuffle step (646 MB → 3.6 GB
    * over 30→100× while verified pairs stayed exactly linear). The
    * prune read WORSE at every scale ≤30× (shuffle +15–22%: the
    * candidate-endpoint distinct plus the candidates subplan's
    * re-execution cost more than the saved shingle rows) and saved
    * only 9% at 100× — on near-dup corpora most docs ARE candidate
    * endpoints, so there is little to prune. The 100× step itself is
    * a plan-shape/spill effect, not a quadratic (bytes resume slope
    * ~1 beyond it); revisit only if a corpus with sparse candidates
    * shows up, where the same semi-prune is the textbook fix.
    * (Historical: measured against the pre-r17 shingle-row form — the
    * packed rewrite below removed the joins the prune targeted.) */
  def jaccardVerify(candidates: DataFrame, shingled: DataFrame): DataFrame = {
    // PACKED two-stage verify (r17, closes the minhash_lsh 100× shuffle
    // step; a per-stage profile of the old shingle-row form, recorded
    // in SCALE.md's minhash_lsh row, named it): below
    // ~30× AQE BROADCAST the full distinct-shingled table into both
    // intersection joins (no spill, shuffle small); at 100× the
    // broadcast flipped to sort-merge, shuffling the whole shingle
    // table keyed (doc_b, shingle) (482 MB write + 59 MB spill) while
    // the two per-doc size aggregates re-read the 306 MB token exchange
    // and spilled 86 MB EACH — the committed 1.43 shuffle-tail / 344 MB
    // spill row, a plan flip + recompute cost, not a quadratic. The
    // packed form ships each doc's shingle set ONCE as one array row:
    //  - `packed` groups by doc_id, which is satisfied by the token
    //    exchange's existing hashpartitioning(doc_id) — no new exchange
    //    and no broadcast to flip;
    //  - both joins are equi-joins whose packed side is ALREADY
    //    partitioned on the join key (doc_a/doc_b == its doc_id), so
    //    only the candidate pairs (and pairs ⋈ A-arrays) move;
    //  - the intersection is size(array_intersect) — codegen'd, exact
    //    over the distinct sets, O(|A|+|B|) per pair — and set sizes
    //    ride along in the same row, removing the separate size
    //    aggregates entirely.
    // Per-doc shingle sets must fit a row — the same bound every
    // signature operator here already assumes (PPJoin-standard).
    // Contract preserved: candidate pairs with an EMPTY intersection
    // drop out (the old inner equi-join form never emitted them) and
    // duplicate/extra candidate columns are dropped via the same
    // (doc_a, doc_b) grain. Candidates must be distinct pairs, as
    // before. Re-measured at 100×: see SCALE.md minhash_lsh row.
    // packed is probed twice (doc_a side, doc_b side); each probe
    // recomputes the collect_set over the REUSED token exchange —
    // map-side CPU with no extra shuffle, the recompute-over-persist
    // discipline this repo measures everywhere. (An explicit
    // repartition(doc_id) "reuse seam" was tried and is a no-op: the
    // child already satisfies the distribution, so Spark removes the
    // user repartition and the plan is bit-identical.)
    val packed = shingled.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh"))
      .select(col("doc_id"), col("sh"),
        size(col("sh")).cast("long").as("set_size"))
    candidates.select("doc_a", "doc_b")
      .join(packed.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("set_size").as("size_a")), Seq("doc_a"))
      .join(packed.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("set_size").as("size_b")), Seq("doc_b"))
      .withColumn("intersection_size",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("intersection_size") > 0)
      .withColumn("union_size",
        col("size_a") + col("size_b") - col("intersection_size"))
      .withColumn("jaccard",
        col("intersection_size").cast("double") / col("union_size"))
      .select(col("doc_b"), col("doc_a"), col("intersection_size"),
        col("size_a"), col("size_b"), col("union_size"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING (the
    * PPJoin-family algorithm): order every doc's shingles by GLOBAL
    * rarity (df asc, shingle), keep each doc's prefix of length
    * ⌊(1−t)·|s|⌋+1, and generate candidates only from docs sharing a
    * PREFIX shingle — the classical lemma guarantees any pair with
    * Jaccard ≥ t shares one, so unlike MinHash/LSH this candidate set
    * has NO false negatives: the verified output is the exact
    * similarity join. Threshold is the rational simNum/simDen and the
    * final test is the integer cross-multiplication
    * `inter·simDen ≥ simNum·union` — no doubles anywhere.
    *
    * Scale shape: df ordering is one shingle-keyed aggregate; prefix
    * selection one (doc)-keyed window; candidates one equi-join on the
    * prefix shingle — rare shingles by construction, so buckets are
    * small exactly where the join would explode (the df-ascending
    * order IS the skew guard: a stopword-grade shingle is never in
    * anyone's prefix unless the doc is tiny); verification is the
    * bounded [[jaccardVerify]] equi-join. */
  def prefixFilterJoin(shingled: DataFrame, simNum: Int,
                       simDen: Int): DataFrame = {
    val dfq = shingled.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    val sizes = shingled.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("set_size"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefixes = shingled.join(dfq, Seq("shingle"))
      .withColumn("ord", row_number().over(wDoc))
      .join(sizes, Seq("doc_id"))
      .filter(col("ord") <=
        expr(s"(($simDen - $simNum) * set_size) div $simDen") + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = prefixes.toDF("doc_a", "shingle")
      .join(prefixes.toDF("doc_b", "shingle"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    jaccardVerify(cand, shingled)
      .filter(col("intersection_size") * simDen >=
        lit(simNum.toLong) * col("union_size"))
  }

  /** Default [[simhashNearDups]] hot-bucket cap — see its scaladoc
    * for the measured derivation (≈100–500× the ≤1-doc uniform load
    * [[autoBandPolicy]] holds buckets to). */
  final val DefaultBucketCap = 512

  /** SimHash BAND-WIDTH POLICY — the r15 VERDICT's missing knob: the
    * width ladder (32/64/128-bit signatures = 8/16/32-bit bands) all
    * shipped and gated, but every consumer inherited a FIXED width, so
    * corpus growth walked each rung into the measured saturation
    * regime (band8 shuffle α≈1.5; band16 shuffle-tail 1.74 at 500k
    * docs). This picks the smallest shipped width whose per-band
    * KEYSPACE covers the corpus — 2^(bits/4) ≥ nDocs, i.e. expected
    * uniform bucket load ≤ 1 doc — exactly the corpus-driven sizing
    * [[graft.llm.Clustering.autoCoarsePolicy]] applies to IVF cells:
    *
    *   32-bit (256-key bands)    for nDocs ≤ 256
    *   64-bit (65,536 keys)      for nDocs ≤ 65,536
    *   128-bit (4.29B keys)      beyond (covers ~4.3B docs per
    *                             near-dup pass — past that, shard the
    *                             corpus ([[shardedNearDupLabels]]) or
    *                             accept the [[DefaultBucketCap]]
    *                             chain fallback, the documented
    *                             last-resort defense past 128 bits)
    *
    * The ≤1 load rule widens BEFORE the measured onset: ScaleBench
    * mapped the 16-bit layout linear at 150k docs (2.3× keyspace,
    * shuffle-tail 1.16) and saturating at 500k (7.6×, tail 1.74), so
    * keyspace ≥ nDocs keeps ≥2.3× measured margin while costing only
    * 2 extra md5 streams per widening (all three rungs keep the
    * identical 4-band pigeonhole, so Hamming ≤ 3 recall stays EXACT
    * at every width — the trade is hash CPU for linear shuffle).
    * Oracle twins that pin a width in portable SQL pass it
    * explicitly; the two cluster-grain consumers call this with their
    * corpus count and gate the CHOICE via a `band_bits` column (both
    * gate SFs sit inside the 64-bit window: 500 and 5,000 docs vs
    * bounds 256/65,536). This is [[BandIndex.width]] over the text
    * ladder — the same rule sizes the image index. */
  def autoBandPolicy(nDocs: Long): Int =
    BandIndex.width(nDocs, BandIndex.TextLadder)

  /** SimHash NEAR-DUP pairS via PIGEONHOLE BANDING: split the 32-bit
    * signature into 4 exact-match bands of 8 bits — any pair within
    * Hamming distance 3 differs in at most 3 bands, so at least one
    * band matches exactly and the pair surfaces from a band-keyed
    * equi-join (the classic simhash index; recall is EXACT for
    * hamming ≤ bands-1, never probabilistic). Candidates are verified
    * with the full Hamming distance — xor + bit_count over the packed
    * signature halves, codegen'd, no UDF.
    *
    * Skew protection: each band has only 2^8 possible keys, so at
    * corpus scale EVERY bucket is hot — O(n²/256) candidate pairs with
    * no cap. `maxBucketSize` applies the same chain-pair fallback as
    * [[lshCandidates]]: oversized buckets emit each doc paired with its
    * successor in doc_id order (linear, still connects a genuine
    * near-dup cluster for canonical-id purposes); normal buckets keep
    * exact all-pairs recall. Chain pairs flow through the SAME Hamming
    * verify, so precision is never affected — only recall inside
    * pathological buckets degrades, and degrades gracefully.
    *
    * MEASURED (ScaleBench r14, SCALE.md): candidate shuffle grows at
    * exponent ~1.5 in the UNCAPPED regime (buckets below the cap grow
    * ∝ corpus because the key space is fixed at 2^8 per band) — the
    * 30× amplified run is already in it. At real corpus scale either
    * the cap engages (bounding the quadratic to chains) or the band
    * layout must widen: a 64-bit simhash with 4×16-bit bands keeps the
    * same Hamming-3 exact-recall guarantee with 65k keys per band,
    * pushing bucket saturation out by 256×. Band width, not the cap,
    * is the primary corpus-scale knob — [[autoBandPolicy]] picks it
    * from corpus size; the cap default below is the measured backstop
    * for the hot buckets the width math cannot see.
    *
    * `maxBucketSize` DEFAULT (r16, from the r15 band8 saturation
    * data): under [[autoBandPolicy]] the expected UNIFORM band-bucket
    * load is ≤ 1 doc, but band keys are majority-vote bits — a
    * per-stage profile of the near-dup chain measured hot buckets on
    * the homogeneous testdata corpus filling to ~100–170× the uniform
    * load long before uniform-hash math predicts. 512 ≈ 3–5× that measured
    * skew ceiling over the policy's load: every healthy bucket keeps
    * exact all-pairs recall (the cap is a measured no-op at both gate
    * SFs — the cluster-grain oracle twins REPLAY it, so a denser draw
    * fails loudly, not silently), while a pathological bucket is
    * bounded to 512·n chain pairs instead of n²/2. When the cap
    * engages on NON-identical signatures the right fix is widening
    * (the next [[autoBandPolicy]] rung), and past 128 bits the cap is
    * the only remaining defense — accept chain-degraded recall inside
    * those buckets (precision is never affected; the degradation path
    * itself is oracle-gated by `dd_simhash_hot_bucket_chain`). */
  def simhashNearDups(simhashes: DataFrame,
                      maxHamming: Int = 3,
                      maxBucketSize: Int = DefaultBucketCap,
                      bits: Int = 32,
                      keyCols: Seq[String] = Nil): DataFrame = {
    // The signature is PACKED into integer halves once per row, and
    // candidates verify with two xor+bit_count ops instead of `bits`
    // per-position substring compares. This matters because candidate
    // volume is the hot term: band keys are majority-vote bits, so a
    // homogeneous corpus biases many docs into the same buckets and
    // candidates dwarf verified pairs — per-candidate verify cost is
    // what the whole banded design amortizes. Measured (r15, sf0.1
    // full-corpus 64-bit chain): pair generation 20.8 → 1.7 s; the
    // packed longs also shuffle 8 bytes/side instead of a `bits`-char
    // string, and the pack runs once per (doc, band) row, insulated
    // from project-collapsing re-inlining of the signature concat.
    // `keyCols` join AS EQUI-KEYS alongside (band, band_key): a shard
    // (or any partition) column in the key bounds bucket fill by the
    // PARTITION's size, not the corpus's — the within-shard half of
    // [[shardedNearDupLabels]] — while staying one banded pass.
    val banded = bandRows(simhashes, bits, keyCols)
    verifiedPairs(banded, bits, maxHamming, maxBucketSize, keyCols)
  }

  /** Candidates + packed-Hamming verify over a prebuilt [[bandRows]]
    * frame — split out (r16) so [[shardedNearDupLabels]] can derive
    * BOTH its joins from one checkpointed banded leaf instead of
    * re-executing the signature aggregation per separately-executed
    * plan. */
  private def verifiedPairs(banded: DataFrame, bits: Int,
                            maxHamming: Int, maxBucketSize: Int,
                            keyCols: Seq[String]): DataFrame = {
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map(w => s"h$w")
    val joinKeys = keyCols ++ Seq("band", "band_key")
    val aCols = wordCols.map(w => s"${w}_a")
    val bCols = wordCols.map(w => s"${w}_b")
    val allPairsOf = (df: DataFrame) => {
      val l = df.select((joinKeys.map(col) :+
        col("doc_id").as("doc_a")) ++
        wordCols.map(w => col(w).as(s"${w}_a")): _*)
      val r = df.select((joinKeys.map(col) :+
        col("doc_id").as("doc_b")) ++
        wordCols.map(w => col(w).as(s"${w}_b")): _*)
      l.join(r, joinKeys)
        .filter(col("doc_a") < col("doc_b"))
        .select(("doc_a" +: "doc_b" +: (aCols ++ bCols)).map(col): _*)
    }
    val candidates =
      if (maxBucketSize == Int.MaxValue) allPairsOf(banded)
      else {
        val bw = Window.partitionBy(joinKeys.map(col): _*)
        val ow = bw.orderBy(col("doc_id"))
        val sized = banded.withColumn("bucket_size", count(lit(1)).over(bw))
        val small = sized.filter(col("bucket_size") <= maxBucketSize)
          .drop("bucket_size")
        val bigChain = bCols.zip(wordCols).foldLeft(
            sized.filter(col("bucket_size") > maxBucketSize)
              .withColumn("doc_b", lead(col("doc_id"), 1).over(ow))) {
            case (df, (bc, w)) => df.withColumn(bc, lead(col(w), 1).over(ow))
          }
          .filter(col("doc_b").isNotNull)
          .select((col("doc_id").as("doc_a") +: col("doc_b") +:
            (wordCols.map(w => col(w).as(s"${w}_a")) ++ bCols.map(col))): _*)
        allPairsOf(small).unionByName(bigChain)
      }
    val hamming = packedHamming(wordCols)
    // Hamming filter BEFORE the multi-band dedup: the filter is a
    // codegen'd per-row expression (re-evaluated per band collision —
    // cheap), while distinct() is a shuffle — dropping the >threshold
    // majority first keeps the shuffle proportional to true near-dups,
    // not to band-bucket collision volume.
    candidates
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .withColumn("canonical_id", least(col("doc_a"), col("doc_b")))
      .select("doc_a", "doc_b", "hamming", "canonical_id")
      .distinct() // a close pair can collide in several bands
  }

  /** Banded rows shared by [[simhashNearDups]] and the cross-shard
    * join of [[shardedNearDupLabels]]: one row per (doc, band) carrying
    * the packed signature words (the codegen'd xor+bit_count verify
    * operands) plus any pass-through `keyCols` from the input frame. */
  private[llm] def bandRows(simhashes: DataFrame, bits: Int,
                            keyCols: Seq[String]): DataFrame = {
    val bands = 4
    val width = bits / 4
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map(w => s"h$w")
    val wordExprs = (0 until nWords).map { w =>
      val len = math.min(32, bits - w * 32)
      expr(s"cast(conv(substring(simhash, ${w * 32 + 1}, $len), 2, 10) " +
        "as bigint)").as(s"h$w")
    }
    simhashes.select(
      ((col("doc_id") +: keyCols.map(col)) ++ wordExprs :+
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            substring(col("simhash"), b * width + 1, width)
              .as("band_key"))): _*)).as("bk")): _*)
      .select(((col("doc_id") +: keyCols.map(col)) ++ wordCols.map(col) :+
        col("bk.band").as("band") :+ col("bk.band_key").as("band_key")): _*)
  }

  /** Full Hamming distance over the packed signature words — two (or
    * four) codegen'd xor + bit_count ops, never a per-bit compare. */
  private def packedHamming(wordCols: Seq[String]): Column =
    wordCols.map(w =>
      bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b"))))
      .reduce(_ + _)

  /** CROSS-SHARD NEAR-DUP MERGE — the 100-TB deployment shape of the
    * simhash pipeline (r15 VERDICT task #6): at real scale the corpus
    * is SHARDED and each shard's banded pass is bounded by SHARD size
    * (the within-shard buckets key on (shard, band, band_key) —
    * [[autoBandPolicy]] then sizes the width from the SHARD's doc
    * count, which is what finally defeats band saturation: shard
    * size, not corpus size, bounds bucket fill). Input must carry a
    * `shard` column next to (doc_id, simhash). Three stages:
    *
    *   1. WITHIN: one keyed banded pass ([[simhashNearDups]] with
    *      keyCols = shard) → per-shard verified pairs → ONE
    *      [[connectedComponents]] call over their union (within-pairs
    *      never cross shards, so its labels ARE the per-shard
    *      components — min doc_id per shard-cluster).
    *   2. ACROSS: band-collision candidates between DIFFERENT shards
    *      ((band, band_key) equi-join, shard_a ≠ shard_b), verified by
    *      the same packed Hamming filter before the pair-dedup
    *      shuffle.
    *   3. MERGE: cross edges CONTRACTED to their endpoints' per-shard
    *      labels, closed with a second (label-grain — orders of
    *      magnitude smaller) [[connectedComponents]], and joined back.
    *
    * EXACTNESS: the single-pass pair set partitions into same-shard ∪
    * cross-shard collisions, both Hamming-verified identically, and
    * component labels are min-ids — min is associative over any
    * grouping, so the composed labels equal the single-pass labels
    * row-for-row (the `dd_sharded_cluster_merge` gate pins this
    * cross-engine at both SFs). Holds in the cap-no-op regime; an
    * ENGAGED `maxBucketSize` degrades the two passes' recall inside
    * oversized buckets differently (shard buckets are smaller), so
    * capped pathological corpora trade exact equivalence for the same
    * graceful chain fallback both arms share.
    *
    * Scale: stage 1 is k independent bounded problems (ScaleBench
    * `sharded_merge` holds SHARD size constant while shard count
    * grows); stage 2's buckets do grow with corpus, but ship only
    * banded rows (no signatures re-hashed) — and at deployment the
    * ACROSS stage runs as new-shard-vs-committed-index increments via
    * [[addShardNearDups]] (r17 — code, no longer prose: one shard at a
    * time against the committed band index, never
    * all-shards-at-once); stage 3 touches cluster labels only. */
  def shardedNearDupLabels(simhashes: DataFrame,
                           maxHamming: Int = 3,
                           maxBucketSize: Int = DefaultBucketCap,
                           bits: Int = 32): DataFrame = {
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map(w => s"h$w")
    // The banded frame (4 narrow rows per doc) is materialized ONCE:
    // its signature aggregation would otherwise re-execute for every
    // separately-executed consumer — the within-CC's edge
    // materialization AND the cross join's final plan (exchange reuse
    // only dedups subplans WITHIN one execution) — the same
    // between-plans checkpoint case as g_pagerank's once-before-the-
    // loop. Measured (r16): dd_sharded_cluster_merge 17.6 s first
    // committed → 8.5 s on the committed r16 floor (bench/BENCH.json).
    val banded = graft.operators.Ckpt.truncated(
      bandRows(simhashes, bits, Seq("shard")))
    val within = verifiedPairs(banded, bits, maxHamming, maxBucketSize,
      keyCols = Seq("shard"))
    // endpoint-grain closure + isolated-doc join (r18): the within-CC
    // previously iterated with corpus-covering labels — see
    // [[nearDupLabels]]. Node ids come from the CHECKPOINTED band rows
    // (r21), not from `simhashes` — the projection re-ran the simhash
    // aggregation once per evaluation of the label frame (the
    // cross-contraction references it twice, the final output once);
    // bandRows emits every doc, so the distinct is the same id set.
    val shardLabels = nearDupLabels(
      banded.select(col("doc_id").as("id")).distinct(),
      within.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val l = banded.select((col("band") +: col("band_key") +:
      col("shard").as("shard_a") +: col("doc_id").as("doc_a") +:
      wordCols.map(w => col(w).as(s"${w}_a"))): _*)
    val r = banded.select((col("band") +: col("band_key") +:
      col("shard").as("shard_b") +: col("doc_id").as("doc_b") +:
      wordCols.map(w => col(w).as(s"${w}_b"))): _*)
    val cross = l.join(r, Seq("band", "band_key"))
      .filter(col("shard_a") =!= col("shard_b") &&
        col("doc_a") < col("doc_b"))
      .filter(packedHamming(wordCols) <= maxHamming)
      .select("doc_a", "doc_b").distinct()
    // label-grain edge set, materialized once (r20): the endpoint
    // union reuses the distinct's exchange, but contractedClosure's
    // internal checkpoint re-ran the whole cross+verify lineage a
    // second time without this
    val contracted = cross
      .join(shardLabels.select(col("id").as("doc_a"),
        col("component").as("src")), Seq("doc_a"))
      .join(shardLabels.select(col("id").as("doc_b"),
        col("component").as("dst")), Seq("doc_b"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val merged = contractedClosure(contracted)
    shardLabels
      .join(merged.select(col("id").as("component"),
        col("component").as("merged")), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("merged"), col("component")).as("component"))
  }

  /** INCREMENTAL cross-shard merge — the deployment form of
    * [[shardedNearDupLabels]]'s ACROSS stage (r16 VERDICT task #2):
    * fold ONE new shard into COMMITTED state (the label table plus the
    * banded signature rows of every previously-processed shard)
    * without re-banding the committed corpus or ever joining all
    * shards' banded rows in one pass. Three steps, all ∝ the new
    * shard's work:
    *
    *   1. WITHIN: one banded pass over the new shard ALONE — bucket
    *      fill is bounded by the SHARD's size, so [[autoBandPolicy]]
    *      sized from the shard count never widens as the corpus grows.
    *   2. ACROSS: the new shard's banded rows equi-joined against the
    *      COMMITTED band index on (band, band_key), verified with the
    *      packed xor+bit_count Hamming filter — the committed side is
    *      SCANNED (never re-hashed, never self-joined), so candidate
    *      volume is ∝ the new shard's collisions, and the only
    *      corpus-scale term is the linear index scan.
    *   3. MERGE: [[incrementalComponents]] folds the within+across
    *      edges into the committed labels — contraction at label
    *      grain, iteration ∝ the batch, never the corpus.
    *
    * Returns (updatedLabels, newBandRows). The caller commits the
    * labels and APPENDS the band rows (they are append-only by
    * construction — shards are disjoint — so the
    * [[graft.operators.AtomicTable.commitDelta]] discipline applies;
    * [[ShardedNearDupIndex]] packages exactly that).
    *
    * EXACTNESS: every pair of the single-pass edge set is found
    * exactly once — same-shard pairs by step 1 when their shard
    * arrives, cross pairs (i, j), i<j by step 2 when shard j arrives —
    * and component labels are min-ids, associative over any merge
    * order, so the left-fold over shards equals the single-pass (and
    * the unsharded) labels row-for-row. The
    * `dd_sharded_incremental_merge` gate pins this cross-engine at
    * both SFs: seed → add-shard → add-shard against a DuckDB twin
    * computing the single-pass closure. Holds in the cap-no-op regime
    * (the cap argument of [[shardedNearDupLabels]], unchanged).
    *
    * `committedLabels`: (id, component); `committedBands`: the
    * accumulated newBandRows of prior calls; `newShard`:
    * (doc_id, simhash) of the new shard only.
    *
    * The result also carries `labelsDelta` — ONLY the label rows this
    * fold changed (old rows whose component merged to a new min, plus
    * the new shard's rows). A lakehouse caller MERGEs exactly that set;
    * [[graft.llm.ShardedNearDupIndex]] commits it as an upsert delta so
    * the per-shard labels WRITE is ∝ touched components, never ∝ corpus
    * (the r17 weak mark: the full-snapshot commit rewrote ~the corpus
    * per arriving shard — a ~TB write per shard at 10^11 docs).
    *
    * `probeCap` (optional) bounds the ACROSS probe against a
    * pathologically hot committed band key: index rows are ranked per
    * (band, band_key) by doc_id and only rank ≤ cap rows join the
    * probe — deterministic, engine-replayable (ROW_NUMBER in the
    * twin), same graceful-degradation contract as `maxBucketSize`
    * (recall inside an over-cap index bucket is sacrificed, exactness
    * vs the uncapped single pass holds only while the cap is a no-op).
    * The rank is read from the `probe_rk` column where
    * [[graft.llm.ShardedNearDupIndex.compactBands]] materialized it
    * (the compacted bulk caps via a pushed-down filter — no index-wide
    * window per fold); only post-compaction delta rows are windowed
    * live, rank-continued behind the capped base rows per key. */
  final case class ShardMerge(labels: DataFrame, labelsDelta: DataFrame,
                              newBandRows: DataFrame)

  def addShardNearDups(committedLabels: DataFrame,
                       committedBands: DataFrame,
                       newShard: DataFrame, bits: Int,
                       maxHamming: Int = 3,
                       maxBucketSize: Int = DefaultBucketCap,
                       probeCap: Option[Int] = None): ShardMerge = {
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map(w => s"h$w")
    // Plain localCheckpoint (NOT Ckpt.truncated): one-shot, outside any
    // loop, and the banded frame is NEW-SHARD-sized — the carried stats
    // keep it broadcastable into the cross join against the
    // corpus-scale committed index (the build-small/probe-big shape).
    val banded = bandRows(newShard, bits, Nil).localCheckpoint(true)
    val within = verifiedPairs(banded, bits, maxHamming, maxBucketSize,
      keyCols = Nil)
    val newSide = banded.select((Seq(col("band"), col("band_key"),
      col("doc_id").as("doc_b")) ++
      wordCols.map(w => col(w).as(s"${w}_b"))): _*)
    val idxRows = probeCap match {
      case Some(cap) if committedBands.columns.contains("probe_rk") =>
        // STORED-RANK path (r19; VERDICT r18 task #2): compaction
        // materialized `probe_rk` on base rows
        // ([[graft.llm.ShardedNearDupIndex.compactBands]]), so capping
        // the compacted bulk of the index is a SCAN + FILTER — no
        // corpus-wide window per fold. Only the post-compaction DELTA
        // rows (probe_rk null, ∝ recent shards) are ranked live, and
        // they rank AFTER the capped base rows per key ("first
        // committed wins probe slots" — deterministic, replayable, and
        // STABLE: a committed row's probe priority never reshuffles
        // when later deltas arrive, which the global per-fold window
        // could not guarantee). On a never-compacted dir every row is
        // a delta and this reduces exactly to the global window below.
        val baseCapped = committedBands
          .filter(col("probe_rk").isNotNull && col("probe_rk") <= cap)
        val baseCnt = baseCapped.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("_basec"))
        val w = Window.partitionBy(col("band"), col("band_key"))
          .orderBy(col("doc_id"))
        val deltaCapped = committedBands.filter(col("probe_rk").isNull)
          .withColumn("_rk", row_number().over(w))
          .join(baseCnt, Seq("band", "band_key"), "left")
          .filter(col("_rk") + coalesce(col("_basec"), lit(0L)) <= cap)
          .drop("_rk", "_basec")
        baseCapped.unionByName(deltaCapped)
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("band_key"))
          .orderBy(col("doc_id"))
        committedBands
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= cap).drop("_rk")
      case None => committedBands
    }
    val idxSide = idxRows.select((Seq(col("band"), col("band_key"),
      col("doc_id").as("doc_a")) ++
      wordCols.map(w => col(w).as(s"${w}_a"))): _*)
    val across = idxSide.join(newSide, Seq("band", "band_key"))
      .filter(packedHamming(wordCols) <= maxHamming)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .distinct()
    val edges = within
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(across)
    // incrementalComponents' merge, kept open so the contracted CC
    // result also derives the CHANGED-ROW delta (the full remap and the
    // delta must come from ONE cc frame — CC is iterative, rerunning it
    // for the delta would double the fold's dominant cost).
    // Node ids from the CHECKPOINTED band rows, not from `newShard`
    // (r21): `newShard` is typically the simhash aggregation over the
    // shard's exploded tokens — the fold's expensive per-row term —
    // and this projection re-ran it once per separately-executed
    // consumer of the label frames (allLabels feeds `updated`,
    // `labelsDelta`'s newRows, and the caller's commits). bandRows
    // emits every doc (4 band rows each, no filter), so the distinct
    // over the checkpoint is the same id set at the same doc grain.
    val newNodes = banded.select(col("doc_id").as("id")).distinct()
    val merge = contractMerge(committedLabels, newNodes, edges)
    val cc = merge.cc
    val updated = merge.updated
    // Delta: old rows whose label actually moved (their old component
    // is a contracted node that merged to a different min) ∪ the new
    // shard's rows at their final labels. Disjoint by shard-disjointness.
    val moved = cc.filter(col("id") =!= col("component"))
      .select(col("id").as("component"), col("component").as("merged"))
    val changedOld = committedLabels.join(moved, Seq("component"))
      .select(col("id"), col("merged").as("component"))
    // newRows must remap through cc on the PRE-fold COMPONENT, exactly
    // like `updated` (restricted to the shard): on a REPLAYED shard a
    // doc with a committed label != its own id contracts to its LABEL
    // node, so a cc lookup by doc id would miss and emit (id, id) —
    // committed as a higher-lab_v upsert it would overwrite the correct
    // label and silently split committed clusters (r18 ADVICE). For a
    // genuinely new doc allLabels carries (id, id), so this reduces to
    // the cc-by-id lookup in the non-replay case.
    val newRows = merge.remap(newNodes.join(merge.allLabels, Seq("id")))
    val labelsDelta = changedOld.unionByName(newRows)
    val newBandRows = banded.select(
      (col("doc_id") +: wordCols.map(col)) :+
        col("band") :+ col("band_key"): _*)
    ShardMerge(updated, labelsDelta, newBandRows)
  }

  /** SimHash signature as a 32-char '0'/'1' string: bit i is the sign of
    * the sum over tokens of ±1, where +1 iff hex digit i of md5(token)
    * has its high bit set (digit in 8..f). Portable to any engine with
    * md5 + substring. */
  def simhashBits(toks: Column): Column = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(lit(_))
    val bitCols = (1 to 32).map { i =>
      val votes = aggregate(
        transform(toks, t =>
          when(substring(md5(t), i, 1).isin(highHex: _*), 1).otherwise(-1)),
        lit(0), (acc, x) => acc + x)
      when(votes > 0, "1").otherwise("0")
    }
    concat(bitCols: _*)
  }

  /** Distributed SimHash: same signature as [[simhashBits]] (at the
    * default 32 bits) but computed from exploded (doc_id, token) rows —
    * md5 evaluated once per token and stream (the array form above
    * gets inlined 32× by project-collapsing), and the per-bit votes
    * become `bits` conditional sums in ONE groupBy(doc_id) aggregate.
    * This is the form to use on real corpora.
    *
    * WIDTH LADDER (32/64/128 bits = 8/16/32-bit bands under the
    * 4-band pigeonhole — Hamming ≤ 3 recall stays exact at every
    * width): bits 32(k-1)+1..32k vote on hash stream k, where stream 1
    * is md5(token) and stream k ≥ 2 is md5('s{k}|' ∥ token) —
    * independent streams, portable to the twin engine verbatim. So
    * bits 1–32 of a wider signature ARE the 32-bit signature and bits
    * 1–64 of the 128-bit ARE the 64-bit one. Wider bands push
    * band-bucket saturation out (256 keys per band at 32 bits — the
    * measured shuffle-exponent-1.5 regime; 65,536 at 64; 4.3B at 128)
    * at the price of one extra md5 stream per 32 bits;
    * [[autoBandPolicy]] picks the width. Pair with
    * `simhashNearDups(..., bits = b)`, which packs any width into
    * 32-bit words for the xor+bit_count verify. `bits` outside
    * {32, 64, 128} throws IllegalArgumentException.
    *
    * Measured-and-REJECTED (r15): pre-aggregating to (doc, token, cnt)
    * so md5 + the bit tests run once per DISTINCT pair (votes as
    * count-weighted sums — hash-identical). Wall time was flat at 30×
    * amplified input (56 vs 59 s, the hash work is map-side and
    * embarrassingly parallel) while shuffle bytes DOUBLED (533 MB →
    * 1.18 GB): the extra (doc, token) exchange ships distinct-pair
    * rows, whereas this form's single doc-grain exchange ships only
    * `bits` partial-sum longs per doc. At 100 TB shuffle dwarfs hash
    * CPU — keep the one-exchange form. */
  def simhashFromTokens(tokenRows: DataFrame, bits: Int = 32): DataFrame = {
    require(Seq(32, 64, 128).contains(bits),
      s"no simhash rung for $bits bits (shipped: 32, 64, 128)")
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(lit(_))
    val streams = md5(col("token")) +: (2 to bits / 32).map(k =>
      md5(concat(lit(s"s$k|"), col("token"))))
    val votes = (1 to bits).map { i =>
      val src = substring(streams((i - 1) / 32), (i - 1) % 32 + 1, 1)
      sum(when(src.isin(highHex: _*), 1).otherwise(-1)).as(s"v$i")
    }
    tokenRows.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((1 to bits).map(i =>
          when(col(s"v$i") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** INCREMENTAL exact dedup — the daily-crawl discipline: a new batch
    * is deduplicated within itself (min-id canonical per content
    * fingerprint) AND against the historical corpus index (a frame of
    * already-seen `content_fp`). `keep` marks the rows a pipeline
    * appends to the corpus; the kept rows' fingerprints are the index
    * delta for the next batch. One window + one fingerprint equi-join —
    * daily work scales with |batch| + |index|, never with corpus
    * re-reads (the same incremental discipline as MergeUpsert/I1). */
  def incrementalExact(indexFps: DataFrame, batch: DataFrame,
                       id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(col("content_fp"))
    batch.select(id.as("doc_id"), md5(lower(trim(text))).as("content_fp"))
      .withColumn("batch_canonical_id", min(col("doc_id")).over(w))
      .join(indexFps.select(col("content_fp")).distinct()
        .withColumn("in_index", lit(true)), Seq("content_fp"), "left")
      .withColumn("in_index", coalesce(col("in_index"), lit(false)))
      .withColumn("keep",
        col("doc_id") === col("batch_canonical_id") && !col("in_index"))
  }

  /** [[incrementalExact]] with a BLOOM-PRUNED index probe — the shape
    * that keeps the daily batch cheap once the corpus index dwarfs it.
    * Plain `incrementalExact` shuffles the WHOLE index into the
    * fingerprint join every day; at 100 TB the index is billions of
    * rows while the daily batch is millions, so almost all of that
    * shuffle is wasted motion. Here a Bloom filter is built over the
    * SMALL side (the batch's fingerprints — one distributed partial
    * aggregate, [[graft.plans.Bloom]]) and delivered to the index scan
    * through a scalar subquery; index rows failing `might_contain`
    * cannot match any batch row (Bloom filters have no false
    * negatives) and are dropped BEFORE the distinct+join shuffle. The
    * surviving index side is ≈ |matches| + fpp·|index| rows, and false
    * positives only cost shuffle bytes — the exact equi-join still
    * decides membership, so the output is bit-identical to
    * [[incrementalExact]] (the oracle gate proves it). This is
    * Catalyst's own `InjectRuntimeFilter` build-small/probe-big plan,
    * made explicit because the rewrite rule never fires on this join
    * shape (probe side under a distinct + outer join).
    *
    * Size `expectedFps` ≥ the daily batch's distinct-fingerprint count
    * and `numBits` ≈ 10–16 bits per expected item (fpp ≲ 1%); both are
    * capped by `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`
    * / `.maxNumBits` — raise those confs for billion-row batches. */
  def incrementalExactBloom(indexFps: DataFrame, batch: DataFrame,
                            id: Column, text: Column,
                            expectedFps: Long = 1L << 20,
                            numBits: Long = 1L << 23): DataFrame = {
    graft.plans.Bloom.register(batch.sparkSession)
    val fps =
      batch.select(id.as("doc_id"), md5(lower(trim(text))).as("content_fp"))
    val bloom = fps.agg(
      call_function(graft.plans.Bloom.aggName, xxhash64(col("content_fp")),
        lit(expectedFps), lit(numBits)).as("bf"))
    val prunedIdx = indexFps.select(col("content_fp"))
      .filter(call_function(graft.plans.Bloom.containsName,
        bloom.scalar(), xxhash64(col("content_fp"))))
      .distinct()
    val w = Window.partitionBy(col("content_fp"))
    fps.withColumn("batch_canonical_id", min(col("doc_id")).over(w))
      .join(prunedIdx.withColumn("in_index", lit(true)),
        Seq("content_fp"), "left")
      .withColumn("in_index", coalesce(col("in_index"), lit(false)))
      .withColumn("keep",
        col("doc_id") === col("batch_canonical_id") && !col("in_index"))
  }

  /** URL dedup for web corpora: group by
    * [[TextAnalysis.canonicalizeUrl]] (NOT by lowercased raw text —
    * paths are case-sensitive, so [[exact]]'s lowering would
    * over-merge), canonical = min id per canonical URL. Same
    * one-window scale shape as [[exact]]. */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame = {
    val w = Window.partitionBy(col("canonical_url"))
    df.select(id.as("doc_id"),
        TextAnalysis.canonicalizeUrl(url).as("canonical_url"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("dup_group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
  }

  /** CONNECTED COMPONENTS over a near-dup pair graph — the transitive
    * step every production dedup needs (A≈B and B≈C put all three in
    * ONE cluster even when A,C never pair): each node's component label
    * converges to the MIN doc id reachable from it.
    *
    * Algorithm: alternating HOOK (label := min(label, neighbors'
    * labels) — one shuffle on the edge key) and COMPRESS
    * (label := label(label), pointer jumping — one self-join) rounds,
    * so convergence is O(log diameter) rather than O(diameter); a
    * 1M-long chain converges in ~20 rounds. Per-round driver work is
    * one `count` (the convergence check) and a `localCheckpoint` that
    * truncates the iterative lineage (without it the plan tree doubles
    * every round). This is the DataFrame form of the classic
    * Shiloach-Vishkin / large-star contraction used by web-scale dedup.
    *
    * `nodes` needs column `id`; `edges` columns `src`,`dst`
    * (undirected — symmetrized internally). Returns (id, component). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 30): DataFrame = {
    // Materialized once: without the checkpoint every round's hook
    // recomputes the symmetrize+distinct shuffle from scratch.
    val sym = graft.operators.Ckpt.truncated(
      edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = graft.operators.Ckpt.truncated(nodes.select(col("id"),
      col("id").as("component")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("src"),
          col("component").as("src_comp")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_comp")).as("nmin"))
      // `old` rides along so the convergence check below is a plain
      // scan of the checkpointed round result — the previous shape
      // (re-joining compressed against labels) paid a full shuffle
      // join job per round just to count changed labels.
      val hooked = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          col("component").as("old"))
      // Two pointer jumps per round (label(label(label)) ≈ distance/4):
      // halves the number of rounds, and each jump is a cheap self-join
      // next to the hook's shuffle.
      def jump(l: org.apache.spark.sql.DataFrame) = l.as("h")
        .join(l.select(col("id").as("cid"),
          col("component").as("ccomp")).as("m"),
          col("h.component") === col("m.cid"))
        .select(col("h.id").as("id"), col("m.ccomp").as("component"),
          col("h.old").as("old"))
      // Exactly TWO jumps: each jump self-joins the round's
      // un-checkpointed frame, so plan size is 2^jumps × hooked —
      // 3 jumps (8×) was measured-and-REJECTED in r11 (the subset
      // bench went from ~2 min to >10 min per run: analysis/codegen
      // blow-up per round dwarfs the saved rounds). Deeper jumping
      // would need a checkpoint BETWEEN jumps, i.e. more jobs — the
      // thing the jump exists to avoid.
      // Ckpt.truncated, NOT plain localCheckpoint: the double-jump body
      // references this leaf 8x next round — carried stats would compound
      // geometrically across rounds (see operators.Ckpt scaladoc)
      val compressed = graft.operators.Ckpt.truncated(jump(jump(hooked)))
      val changed = compressed
        .filter(col("component") =!= col("old")).count()
      labels = compressed.select(col("id"), col("component"))
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** ADAPTIVE closure for CONTRACTED (label-grain) graphs — the small
    * second-stage closures of [[incrementalComponents]],
    * [[addShardNearDups]] and [[shardedNearDupLabels]]'s merge stage.
    * A contracted graph's size is ∝ the batch's touched components,
    * orders of magnitude under the corpus, and the iterative
    * [[connectedComponents]] loop pays 4–8 fixed-cost jobs (sym +
    * labels checkpoints, per-round checkpoint + convergence count)
    * regardless of size — the dominant cost of the sharded-merge gates
    * (r18 task #3: the per-fold work was job COUNT, not data volume).
    * Below `driverMaxEdges` the materialized edge set is collected and
    * closed with a min-representative union-find (microseconds; union
    * attaches the larger root under the smaller and `find`
    * path-compresses, so every root IS its component's min id —
    * bit-identical to the distributed min-label closure), and the
    * result returns as a local — hence broadcastable — frame for the
    * remap join. Above the threshold the distributed loop runs
    * unchanged, so a deployment folding a mega-batch (millions of
    * touched components) never sees a driver bottleneck: 500k edges ≈
    * 8 MB of longs is the same order as a default broadcast side.
    * This is the k-row-pull exception to the no-driver-loops rule, with
    * the same justification as the k-means centroid pulls: the data is
    * label-grain BY CONSTRUCTION, and the size check runs on the
    * materialized frame before a single row is collected.
    *
    * CONTRACT (r21): `edges` MUST already be materialized — its plan a
    * checkpoint or local-rows leaf, refused otherwise (all call sites
    * localCheckpoint the contracted frame they pass in) — and the
    * closed node set IS the edge-ENDPOINT set — both were previously
    * re-derived here (a redundant second checkpoint job plus, at every
    * call site, an endpoints distinct + collect job whose ids the small
    * path's own edge collect already carries). Isolated nodes are the
    * CALLERS' left-join/coalesce fallback, unchanged. */
  private[graft] def contractedClosure(edges: DataFrame,
                                       driverMaxEdges: Long = 500000L)
      : DataFrame = {
    // the size gate and the collect below are two jobs over `edges`:
    // only a materialized leaf guarantees both see the same rows
    // (checked on the plan, no job)
    require(edges.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _ => false
    }, "contractedClosure: `edges` must be materialized (a " +
      "localCheckpoint or local rows), got plan:\n" +
      edges.queryExecution.logical.treeString)
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    if (e.count() > driverMaxEdges) {
      val nodes = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      connectedComponents(nodes, e)
    } else {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      val nodeIds = new java.util.LinkedHashSet[java.lang.Long]()
      e.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        nodeIds.add(a); nodeIds.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      nodeIds.forEach(id => rows.add(Row(id.longValue, find(id.longValue))))
      spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType))))
    }
  }

  /** Component labels for a NEAR-DUP PAIR set over a (possibly
    * corpus-scale) node frame — the consumer-facing shape of the
    * clustering stage (r18): the closure runs at PAIR-ENDPOINT grain
    * (docs that appear in at least one verified pair — orders of
    * magnitude under the corpus, since near-dup pair volume ≪ corpus
    * by the whole point of dedup), and isolated docs label themselves
    * through ONE left join at the end. The previous shape iterated
    * [[connectedComponents]] with labels covering EVERY doc, so each
    * of its O(log d) rounds joined corpus-sized frames; here the
    * iteration (or the [[contractedClosure]] union-find below the
    * threshold) never touches a corpus-scale frame, and the final
    * remap is a broadcast-able join whenever the endpoint set is.
    * Results are bit-identical by the [[connectedComponents]] contract
    * (isolated nodes are their own min-label components).
    *
    * `nodes` needs column `id`; `edges` needs (src, dst). */
  def nearDupLabels(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // Materialize the PAIR CHAIN once (r20): `edges` is typically the
    // full banded+verified near-dup pipeline — the expensive term —
    // and deriving endpoints from the raw frame re-evaluated it twice
    // more (the union's two branches share no exchange, so reuse never
    // fired), plus once inside contractedClosure's own checkpoint.
    // Pair-grain frame, tiny by the premise of dedup. Measured r20
    // (min-of-3, identical subset harness, quiet): dd_cluster_canonical
    // 8.55→5.56 s, t_leakage_safe_split 8.97→4.40 s.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val cc = contractedClosure(e)
    nodes.join(cc.select(col("id"), col("component").as("_ndl_c")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_ndl_c"), col("id")).as("component"))
  }

  /** Near-duplicate component labels (id, component) of `docs`
    * (doc_id, text), with the width [[autoBandPolicy]] picks for `nDocs`
    * documents: tokens → [[simhashFromTokens]] → [[simhashNearDups]] →
    * [[nearDupLabels]]. Returns the labels and that width. */
  def autoNearDupLabels(docs: DataFrame, nDocs: Long): (DataFrame, Int) = {
    val tokenRows = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val bits = autoBandPolicy(nDocs)
    val pairs = simhashNearDups(simhashFromTokens(tokenRows, bits),
      bits = bits)
    (nearDupLabels(docs.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))), bits)
  }

  /** INCREMENTAL connected components — fold a batch of NEW nodes and
    * edges into committed component labels WITHOUT recomputing over the
    * corpus-scale graph. Near-dup discovery only ever ADDS edges
    * (nothing un-duplicates), so components can only merge — which
    * makes the update a CONTRACTION: map each new edge's endpoints to
    * their committed labels (unseen endpoints label themselves), run
    * [[connectedComponents]] on that contracted graph — its size is
    * ∝ the batch, never the corpus — and remap the committed label
    * table through the tiny result with ONE join. Daily work is
    * |new edges| + |touched components| + one label-table equi-join;
    * the O(log d) iteration never sees old intra-component edges,
    * which is the whole point at 100 TB (the companion of
    * [[CorpusIndex]]'s persisted-index incremental exact dedup).
    *
    * Label invariant: [[connectedComponents]] labels a component with
    * its MIN node id, and min is associative over merges — min(labels ∪
    * new ids) = min of the merged id set — so the incremental result is
    * BIT-IDENTICAL to a full recompute (the oracle gate proves it).
    *
    * `labels`: (id, component) committed table; `newNodes`: (id);
    * `newEdges`: (src, dst), may touch old or new ids. Returns the
    * updated (id, component) covering old ∪ new nodes. */
  def incrementalComponents(labels: DataFrame, newNodes: DataFrame,
                            newEdges: DataFrame): DataFrame =
    contractMerge(labels, newNodes, newEdges).updated

  /** The merge step shared by [[incrementalComponents]] and
    * [[addShardNearDups]]: `allLabels` is the committed (id, component)
    * table plus every unseen new node labelling itself, and `cc` the
    * closure of the new edges contracted through those labels. */
  private final case class ContractMerge(allLabels: DataFrame,
                                         cc: DataFrame) {
    /** (id, component) rows with each component remapped through `cc`. */
    def remap(labels: DataFrame): DataFrame = labels
      .join(cc.select(col("id").as("component"),
        col("component").as("merged")), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("merged"), col("component")).as("component"))
    def updated: DataFrame = remap(allLabels)
  }

  private def contractMerge(labels: DataFrame, newNodes: DataFrame,
                            newEdges: DataFrame): ContractMerge = {
    // contracted graph materialized once (r20) — the closure's internal
    // checkpoint re-ran the batch-edge + label-join lineage without it
    val contracted = newEdges
      .join(labels.select(col("id").as("src"),
        col("component").as("src_l")), Seq("src"), "left")
      .join(labels.select(col("id").as("dst"),
        col("component").as("dst_l")), Seq("dst"), "left")
      .select(coalesce(col("src_l"), col("src")).as("src"),
        coalesce(col("dst_l"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val cc = contractedClosure(contracted)
    ContractMerge(labels.unionByName(
      newNodes.join(labels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))), cc)
  }

  /** DUPLICATED-SUBSTRING SPAN COVERAGE — the exact-substring dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"): for each document, how many token
    * positions sit inside a `k`-gram that also occurs in ANOTHER
    * document. Their suffix-array finds exact spans ≥ k tokens; the
    * equivalent corpus-scale signal is k-gram fingerprints with
    * cross-doc frequency > 1, whose per-doc interval union is exactly
    * the union of duplicated spans (any duplicated run of length
    * L ≥ k is covered by its L−k+1 duplicated k-grams). Emits
    * (doc_id, n_tokens, n_dup_spans, covered_tokens) — integer-exact
    * counts; callers derive the coverage ratio and drop/trim docs
    * above threshold.
    *
    * Scale shape: posexplode (scan) → ONE lead window keyed by doc
    * (tie-free: pos is unique per doc) builds k-gram fingerprints →
    * ONE groupBy(fp) for cross-doc frequency (uniform 128-bit keys,
    * two-phase distinct-count) → fp equi-join of spans against the
    * shared set (never per-pair) → per-doc interval union as ONE
    * running-max window (classic merge: each span contributes
    * max(0, end − max(prev_max_end, start−1)) positions) → ONE
    * groupBy(doc_id). Every shuffle is keyed by doc or fingerprint;
    * nothing is quadratic in corpus size. */
  def dupSpanCoverage(docs: DataFrame, id: Column, text: Column,
                      k: Int): DataFrame = {
    val sh = kgramFingerprints(tokenPositions(docs, id, text), k)
    val shared = sh.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("fp")
    val spans = sh.join(shared, Seq("fp"))
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        (col("pos") + (k - 1)).cast("long").as("end"))
    val prev = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = spans
      .withColumn("prev_end", coalesce(max(col("end")).over(prev),
        lit(-1L)))
      .select(col("doc_id"),
        greatest(col("end") -
          greatest(col("prev_end"), col("start") - 1L), lit(0L))
          .as("covered"))
    val perDoc = contrib.groupBy(col("doc_id"))
      .agg(sum(col("covered")).cast("long").as("covered_tokens"),
        count(lit(1)).cast("long").as("n_dup_spans"))
    docs.select(id.as("doc_id"),
        size(TextAnalysis.tokens(text)).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
  }

  /** (doc_id, pos, token) for every token of `text`. */
  private def tokenPositions(docs: DataFrame, id: Column,
                             text: Column): DataFrame =
    docs.select(id.as("doc_id"),
      posexplode(TextAnalysis.tokens(text)).as(Seq("pos", "token")))

  /** (doc_id, pos, fp): md5 of the `k`-gram starting at each position of
    * [[tokenPositions]] rows, the fingerprint stage of
    * [[dupSpanCoverage]] and [[dupSpanRemoval]]. */
  private def kgramFingerprints(tok: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // concat (not concat_ws) null-propagates: trailing positions with
    // fewer than k-1 successors drop out via the isNotNull filter.
    val parts = col("token") +: (1 until k).flatMap(j =>
      Seq(lit(" "), lead(col("token"), j).over(w)))
    tok.select(col("doc_id"), col("pos"), md5(concat(parts: _*)).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** EXACT-SUBSTRING dedup — the DELETION half of the Lee et al.
    * discipline whose signal [[dupSpanCoverage]] measures: every k-gram
    * occurring in more than one document keeps its tokens only in the
    * CANONICAL occurrence (the smallest doc_id sharing the
    * fingerprint); all other occurrences' positions are deleted and the
    * survivors reassembled in original order. Returns
    * (doc_id, n_tokens, n_removed, cleaned_text) with whitespace
    * normalized to single spaces (the tokenizer's contract).
    *
    * Scale shape: the coverage plan's shuffles (doc- and fp-keyed) plus
    * ONE bounded ×k position explode for the removal marks, a
    * (doc, pos)-keyed anti join, and the r08 order-preserving
    * reassembly (`sort_array(collect_list(struct))` — no interpreted
    * HOF). Canonical-keeper choice is min(doc_id) — deterministic and
    * computed inside the same fp aggregate that finds shared grams. */
  def dupSpanRemoval(docs: DataFrame, id: Column, text: Column,
                     k: Int): DataFrame = {
    val tok = tokenPositions(docs, id, text)
    val sh = kgramFingerprints(tok, k)
    val owners = sh.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("owner"))
      .filter(col("nd") > 1)
      .select("fp", "owner")
    val marks = sh.join(owners, Seq("fp"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("pos"))
      .distinct()
    val kept = tok.join(marks, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        array_join(
          sort_array(collect_list(struct(col("pos"), col("token"))))
            .getField("token"), " ").as("cleaned_text"))
    docs.select(id.as("doc_id"),
        size(TextAnalysis.tokens(text)).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** LINE-LEVEL dedup, the CCNet/C4 boilerplate-removal pass: a line
    * whose normalized form (lower+trim) appears in MORE than `maxDocFreq`
    * distinct documents corpus-wide (nav menus, copyright footers,
    * cookie banners) is removed from every document; remaining lines are
    * reassembled in original order. Blank lines are layout, not content
    * — never counted, always kept.
    *
    * Returns (doc_id, n_lines, n_removed, cleaned_text).
    *
    * Scale shape: posexplode (scan), ONE groupBy on the 128-bit line
    * fingerprint (uniform keys, map-side combine collapses per-doc
    * repeats), a fingerprint equi-join of lines against the small
    * boilerplate set (≤ total_lines / maxDocFreq entries by pigeonhole
    * — the doc-frequency floor bounds it), and ONE groupBy(doc_id) for
    * reassembly. No per-pair work anywhere. Reassembly sorts the
    * collected (line_no, line) structs — codegen'd `sort_array` +
    * array-of-struct field extraction, no interpreted HOF. */
  def lineDedup(docs: DataFrame, id: Column, text: Column,
                maxDocFreq: Long): DataFrame = {
    val lines = docs.select(id.as("doc_id"),
      posexplode(split(text, "\n")).as(Seq("line_no", "line")))
    val norm = lower(trim(col("line")))
    val withFp = lines.withColumn("line_fp",
      when(norm =!= "", md5(norm)))
    val boilerplate = withFp.filter(col("line_fp").isNotNull)
      .groupBy("line_fp")
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
      .filter(col("doc_freq") > maxDocFreq)
      .select(col("line_fp"), lit(true).as("is_boilerplate"))
    withFp.join(boilerplate, Seq("line_fp"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_boilerplate"), 1).otherwise(0)).cast("bigint")
          .as("n_removed"),
        concat_ws("\n",
          sort_array(collect_list(
            when(!coalesce(col("is_boilerplate"), lit(false)),
              struct(col("line_no"), col("line")))))
            .getField("line")).as("cleaned_text"))
  }
}
