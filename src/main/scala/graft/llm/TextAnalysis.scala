package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID (marker-word heuristic), quality scoring,
  * and document fingerprinting. All pure Column expressions — codegen'd,
  * no UDFs, embarrassingly parallel (per-row map, zero shuffles), so the
  * plans are scan-shaped at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped (mirrors a BPE-ish pre-split). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** DETERMINISTIC QUOTA SAMPLING: keep at most `quota` documents per
    * group (source/domain/language), selected by a seeded md5 hash of
    * the doc id — the corpus-mixing primitive ("cap CommonCrawl at N
    * docs per domain", "downsample source X"). Hash ordering makes the
    * sample pseudo-random yet reproducible across engines, retries and
    * re-runs (no rand()); the tie-break on doc_id keeps the window
    * sort total. One `row_number` window per group key — the same
    * WindowGroupLimit (partial top-k before the shuffle) plan shape as
    * the dedup windows, so hot groups never materialize beyond the
    * quota per partition. */
  def quotaSample(docs: DataFrame, id: Column, group: Column,
                  quota: Int, seed: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sample_group"))
      .orderBy(col("sample_rank_key"), col("doc_id"))
    docs.select(id.as("doc_id"), group.as("sample_group"))
      .withColumn("sample_rank_key",
        md5(concat(lit(seed), lit("|"), col("doc_id").cast("string"))))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quota)
      .drop("sample_rank_key")
  }

  /** AGGRESSIVE DEDUP-KEY NORMALIZATION — the C4/RefinedWeb-style
    * canonical form: lowercase, every non-alphanumeric run collapsed to
    * one space, trimmed. Feeding this into [[Dedup.exact]] merges docs
    * that differ only in punctuation, casing or whitespace ("Hello,
    * world!" ≡ "hello world") — the standard step between byte-exact
    * and MinHash fuzzy dedup. Pure scan-shaped Column expression.
    *
    * Portability note: `\\s`/`\\W`-style classes differ between Java
    * regex (Spark) and RE2 (DuckDB) at the edges (\\x0B), so the
    * pattern uses an explicit character class; the DuckDB twin needs
    * the 'g' flag (its regexp_replace defaults to first-match-only). */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** TEMPERATURE-WEIGHTED CORPUS MIXING — the proportional sibling of
    * [[quotaSample]]: instead of one fixed cap, each group's quota is
    * `totalN · √n_g / Σ √n_g` (temperature T=2 sampling, α = 1/T = 0.5
    * — the standard multilingual-pretraining rebalance: big groups are
    * downweighted, small groups upweighted, relative order preserved).
    * Membership is the same seeded-md5 rank as [[quotaSample]], so the
    * mix is reproducible across engines/retries/re-runs.
    *
    * Determinism: √n is correctly rounded (IEEE) in every engine, but a
    * double SUM over groups is summation-order-dependent — the
    * denominator goes through [[graft.functions.Det.dsum]]'s exact
    * decimal sum so `quota` is bit-identical in the DuckDB twin.
    * General α would need `pow(n, α)` (NOT correctly rounded, engine-
    * dependent) — extend only with an engine-portable power.
    *
    * Scale shape: one tiny per-group count aggregate (broadcast both
    * ways), and the corpus-side window is filtered by the CONSTANT
    * bound `totalN` before the per-group quota join — `rank ≤ constant`
    * is what lets Spark plan WindowGroupLimit (partial top-k per
    * partition), so hot groups never materialize past totalN rows even
    * though the final quota is data-dependent. */
  def temperatureMix(docs: DataFrame, id: Column, group: Column,
                     totalN: Long, seed: String): DataFrame = {
    val base = docs.select(id.as("doc_id"), group.as("mix_group"))
    val counts = base.groupBy("mix_group")
      .agg(count(lit(1)).as("group_n"))
      .withColumn("w", sqrt(col("group_n").cast("double")))
    val denom = counts.agg(graft.functions.Det.dsum(col("w")).as("denom"))
    val quotas = counts.crossJoin(broadcast(denom))
      .withColumn("quota",
        floor(lit(totalN.toDouble) * col("w") / col("denom")).cast("long"))
      .select(col("mix_group"), col("group_n"), col("quota"))
    val w = Window.partitionBy(col("mix_group"))
      .orderBy(col("mix_rank_key"), col("doc_id"))
    base.withColumn("mix_rank_key",
        md5(concat(lit(seed), lit("|"), col("doc_id").cast("string"))))
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= totalN)
      .join(broadcast(quotas), Seq("mix_group"))
      .filter(col("mix_rank") <= col("quota"))
      .drop("mix_rank_key")
  }

  /** DETERMINISTIC CORPUS SHUFFLE + SHARDING — the data-ordering
    * primitive of a pretraining run: every doc gets a seeded
    * pseudo-random rank (md5 of seed|id — reproducible across engines,
    * retries, re-runs; no rand()), a shard = pmod(crc-like bucket of
    * the same hash), and a within-shard position. Downstream writers
    * emit shard files in position order and readers interleave shards —
    * a full corpus shuffle without any global sort: ONE row_number
    * window per shard (nShards = O(cluster cores) keeps every window
    * partition independent), exactly the [[Packing.packSequences]]
    * parallelism story. The tie-break on doc_id keeps the order total
    * even under (astronomically unlikely) hash collisions. */
  /** Engine-portable value of the first 6 hex chars of column `c`
    * (2^24 uniform values): instr-based digit lookup — `instr(haystack,
    * needle)` and `substr` have identical semantics in Spark SQL and
    * DuckDB, and the Spark side stays codegen'd (StringInstr). `conv()`
    * would be Spark-only. Non-negative, so plain `%` is portable too. */
  private[graft] def hex6Expr(c: String): String =
    (1 to 6).map(i =>
      // plain int literals: Spark-side products stay < 2^24 (no
      // overflow) and DuckDB has no 'L' suffix — the string must parse
      // in BOTH engines
      s"(instr('0123456789abcdef', substr($c, $i, 1)) - 1) * " +
        s"${1L << (4 * (6 - i))}")
      .mkString("(", " + ", ")")

  def corpusShuffle(docs: DataFrame, id: Column, seed: String,
                    nShards: Int): DataFrame = {
    val rank = md5(concat(lit(seed), lit("|"), id.cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_rank"), col("doc_id"))
    docs.select(id.as("doc_id"), rank.as("shuffle_rank"))
      .withColumn("shard",
        expr(s"${hex6Expr("shuffle_rank")} % ${nShards}L"))
      .withColumn("position", row_number().over(w).cast("long") - 1L)
  }

  /** Materialize a [[corpusShuffle]] ordering as ONE parquet file per
    * shard with rows in position order — the layout a pretraining
    * reader consumes (stream each shard file sequentially, interleave
    * across shards). `repartition(shard)` co-locates every shard in
    * exactly one task, `sortWithinPartitions` orders it, and the hive
    * `partitionBy` split writes each shard's single ordered file — no
    * global sort, no driver collect, at any scale; file count =
    * nShards = O(reader parallelism), never O(rows). */
  def writeShards(shuffled: DataFrame, outDir: String): Unit =
    shuffled
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("position"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** STRATIFIED TRAIN/VAL/TEST SPLIT: assignment by a seeded hash
    * bucket (0-99) of the doc id — pure per-row projection, NO shuffle,
    * no global state, so membership is stable under corpus growth (a
    * doc's split never changes when other docs arrive — the property
    * row_number-based splits lack). `valPct`+`testPct` bound the two
    * holdout slices; stratification comes free because the hash is
    * independent of any grouping column (each stratum gets ≈ the same
    * proportions). Emits (doc_id, stratum, sample_bucket, split). */
  def stratifiedSplit(docs: DataFrame, id: Column, stratum: Column,
                      seed: String, valPct: Int,
                      testPct: Int): DataFrame =
    hashSplit(docs, Seq(id.as("doc_id"), stratum.as("stratum")), id, seed,
      valPct, testPct)

  /** `cols` of `rows` plus sample_bucket, a seeded md5 bucket (0-99) of
    * `key`, and its split: the top `testPct` buckets are test, the
    * `valPct` below them val, the rest train. */
  private def hashSplit(rows: DataFrame, cols: Seq[Column], key: Column,
                        seed: String, valPct: Int,
                        testPct: Int): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct < 100,
      s"valPct ($valPct) and testPct ($testPct) must be non-negative " +
        "and sum below 100 — otherwise the train threshold underflows " +
        "and the split silently emits no train rows")
    rows.select(cols :+
        md5(concat(lit(seed), lit("|"), key.cast("string"))).as("split_hash"):
        _*)
      .withColumn("sample_bucket",
        expr(s"${hex6Expr("split_hash")} % 100L"))
      .withColumn("split",
        when(col("sample_bucket") < 100L - valPct - testPct, "train")
          .when(col("sample_bucket") < 100L - testPct, "val")
          .otherwise("test"))
      .drop("split_hash")
  }

  /** LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT: assignment hashed at the
    * dedup-CLUSTER grain, not the document grain. A doc-grain hash
    * split ([[stratifiedSplit]]) puts two near-duplicates on opposite
    * sides of the train/test wall with probability ≈ 2·p·(1-p) per
    * pair — test-set contamination that inflates every eval. Hashing
    * the connected-component label instead ([[Dedup.connectedComponents]]
    * over the near-dup pair graph) makes the split a FUNCTION of the
    * cluster: whole clusters move together, so no near-dup pair can
    * straddle splits, while membership stays stable under corpus
    * growth for unchanged clusters (a new member can merge two
    * clusters — the merged cluster re-hashes under its new min-id
    * label, the price of keeping the invariant).
    *
    * `labels`: (id, component) as produced by connectedComponents.
    * Emits (doc_id, component, sample_bucket, split) — one row per
    * doc, split ∈ train/val/test with val/test slice sizes `valPct`/
    * `testPct`. Pure projection over the label table: no extra
    * shuffle beyond what CC already paid, any scale. */
  def leakageSafeSplit(labels: DataFrame, seed: String, valPct: Int,
                       testPct: Int): DataFrame =
    hashSplit(labels, Seq(col("id").as("doc_id"), col("component")),
      col("component"), seed, valPct, testPct)

  /** SHARDED TOP-K HEAVY HITTERS with a VERIFIED exactness bound —
    * the distributed frequent-items shape that never sorts the global
    * token space (TPUT / candidate-and-verify; the deterministic
    * cousin of [[Sketches]]' Count-Min top-k, which trades exactness
    * for fixed memory). Three bounded steps:
    *
    *   1. per-shard exact counts + per-shard top-`perShard` candidates
    *      (WindowGroupLimit: a per-partition heap, never a shard sort);
    *   2. τ = Σ_shards (the `perShard`-th count): any token OUTSIDE
    *      the candidate union is < its shard's cutoff in EVERY shard,
    *      so its global count is < τ — the pruning certificate;
    *   3. exact global counts for candidates only (semi-join), final
    *      top-`k` ranked over the ≤ shards×perShard candidate set —
    *      the only global ordering, and it is O(candidates), not
    *      O(vocabulary).
    *
    * `above_threshold` (global_cnt ≥ τ) is emitted per row: no pruned
    * item can STRICTLY outrank a row that clears τ, so when the k-th
    * result clears it the top-k is provably exact (up to count ties
    * at exactly τ), not heuristic — the oracle gate pins both the
    * counts and the certificate. At 100
    * TB: shard = whatever partitioning the corpus already has; τ and
    * candidates are driver-free; rerun with larger `perShard` only if
    * the certificate fails.
    *
    * `tokens`: one row per token occurrence with a shard column.
    * Emits (rank, token, global_cnt, tau, above_threshold), rank 1..k
    * by (global_cnt DESC, token). */
  def shardedTopK(tokens: DataFrame, shard: Column, token: Column,
                  perShard: Int, k: Int): DataFrame = {
    val sc = tokens.select(shard.as("shard"), token.as("token"))
      .groupBy(col("shard"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = sc.withColumn("rn", row_number().over(
      Window.partitionBy(col("shard"))
        .orderBy(col("cnt").desc, col("token"))))
    val cand = ranked.filter(col("rn") <= perShard)
      .select(col("token")).distinct()
    val tau = ranked.filter(col("rn") === perShard)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("tau"))
    val global = sc.join(cand, Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(sum(col("cnt")).as("global_cnt"))
    // Unpartitioned window over the CANDIDATE set only (≤ shards ×
    // perShard rows) — bounded by construction, never corpus-scale.
    global
      .withColumn("rank", row_number().over(
          Window.orderBy(col("global_cnt").desc, col("token")))
        .cast("long"))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(tau))
      .select(col("rank"), col("token"), col("global_cnt"), col("tau"),
        (col("global_cnt") >= col("tau")).as("above_threshold"))
  }

  /** URL CANONICALIZATION for web-corpus dedup: fragment stripped,
    * userinfo (`user@` / `user:pw@`) dropped from the authority, scheme
    * + host lowercased (path case PRESERVED — paths are
    * case-sensitive), default ports (:80 http, :443 https) dropped,
    * tracking params (utm_* prefix; fbclid/gclid matched on the param
    * KEY, so bare `fbclid` without `=` is also stripped) removed with
    * remaining params kept in order, trailing path slash normalized.
    * Pure column-expression string ops, scan-shaped; every regex is
    * Java-regex/RE2-portable so the DuckDB oracle canonicalizes
    * byte-identically. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // greedy .*@ drops userinfo up to the LAST '@' (RFC 3986: '@' in
    // userinfo must be pct-encoded, so the last one is the delimiter)
    val hostPort = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), ".*@", "")
    val afterHost = regexp_replace(rest, "^[^/?]*", "")
    val host = when(scheme === "http",
        regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path = regexp_extract(afterHost, "^([^?]*)", 1)
    val query = when(afterHost.contains("?"),
      regexp_replace(afterHost, "^[^?]*\\?", "")).otherwise(lit(""))
    val kept = array_join(
      filter(split(query, "&"), p =>
        p =!= "" && !p.startsWith("utm_") &&
          !regexp_extract(p, "^([^=]*)", 1).isin("fbclid", "gclid")), "&")
    val pathNorm = when(path === "" || path === "/", lit(""))
      .otherwise(regexp_replace(path, "/$", ""))
    concat(scheme, lit("://"), host, pathNorm,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  /** BPE-ish sub-word token pattern: letter runs, digit runs, single
    * non-alphanumeric marks — the dialect-safe core of GPT-style
    * pre-tokenizers (same semantics in Java regex and RE2, so the
    * DuckDB oracle matches byte-for-byte). */
  final val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Count of BPE-ish tokens matching `pattern` (defaults to the full
    * pre-tokenizer pattern; pass a sub-pattern for class-specific
    * counts). Pure per-row regexp — scan-shaped, codegen'd. */
  def bpeishCount(text: Column,
                  pattern: String = BpeishPattern): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** BPE PAIR STATISTICS — the distributed core of tokenizer training.
    * Real BPE alternates (1) count adjacent-symbol pair frequencies over
    * the whole corpus and (2) pick the argmax pair as the next merge;
    * step 1 is the only corpus-scale work (step 2 runs driver-side on
    * the tiny top-k, exactly like published distributed BPE trainers).
    * This computes one round of step 1 over the BPE-ish pre-tokens
    * ([[BpeishPattern]]) and returns the deterministic top-`k` pairs
    * (count desc, then left/right asc — a total order, so the limit
    * boundary is engine-stable).
    *
    * SCALE SHAPE: posexplode (scan) → ONE lead window keyed by doc
    * (pos is unique per doc, so the sort is tie-free) → ONE
    * groupBy(left,right) with map-side combine — Zipf-hot pairs
    * collapse per partition before the shuffle — → top-k via
    * `orderBy.limit` (TakeOrderedAndProject: per-partition heaps, k
    * rows to one node, never a global sort). Work ∝ corpus tokens;
    * nothing materializes beyond the k survivors. The adjacent-pair
    * join is deliberately a window, not a self-join on pos+1: one
    * shuffle by doc instead of two plus a join. */
  def bpePairStats(docs: DataFrame, id: Column, text: Column,
                   k: Int): DataFrame = {
    val tok = docs.select(id.as("doc_id"),
      posexplode(regexp_extract_all(text, lit(BpeishPattern), lit(0)))
        .as(Seq("pos", "token")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok.select(col("token").as("left_tok"),
        lead(col("token"), 1).over(w).as("right_tok"))
      .filter(col("right_tok").isNotNull)
      .groupBy(col("left_tok"), col("right_tok"))
      .agg(count(lit(1)).cast("long").as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
      .limit(k)
  }

  /** Distributed BPE — train AND apply `rounds` merges end to end with
    * NO driver synchronization: each round (1) counts global adjacent
    * symbol pairs inside pre-token boundaries (GPT-2 style — merges
    * never cross the regex pre-tokens), (2) picks the single most
    * frequent pair IN-PLAN (count DESC, then binary pair order — a
    * total order, so both engines learn the identical merge) as a
    * 1-row broadcast, (3) applies it with greedy LEFTMOST
    * NON-OVERLAPPING semantics, renumbers, and repeats on the merged
    * symbols. Greedy-leftmost without a sequential scan: matches can
    * only overlap when left==right (runs like "aaaa"), and within a
    * maximal run of CONSECUTIVE match positions the sequential scan
    * applies exactly the 1st, 3rd, 5th … match — a gaps-and-islands
    * group (pos − row_number) plus a parity test reproduces it in two
    * windows. Right halves of applied matches drop via a lag, and
    * positions renumber with one more (doc, tok)-keyed window.
    * Scale shape: every sequence window is (doc_id, tok_idx)-keyed —
    * never wider than one pre-token; the learned merge is the only
    * global state per round (one map-side-combined count + top-1),
    * which is exactly how published distributed BPE trainers
    * synchronize rounds. Returns per-doc
    * (doc_id, n_syms_before, n_syms_after, merge_1 … merge_rounds). */
  /** Symbol rows for the BPE machinery: one row per (doc, pre-token,
    * position, single character), pre-tokens from [[BpeishPattern]]. */
  private def bpeSymbolRows(docs: DataFrame, id: Column,
                            text: Column): DataFrame =
    docs.select(id.as("doc_id"),
        posexplode(regexp_extract_all(text, lit(BpeishPattern), lit(0)))
          .as(Seq("tok_idx", "tok")))
      .select(col("doc_id"), col("tok_idx"), col("tok"),
        posexplode(sequence(lit(1), length(col("tok"))))
          .as(Seq("gen_idx", "i")))
      .select(col("doc_id"), col("tok_idx"), col("i").as("pos"),
        expr("substring(tok, i, 1)").as("sym"))

  /** One greedy-leftmost merge application over `j` = paired rows with
    * an `is_pair` flag: gaps-and-islands run parity picks the 1st, 3rd,
    * 5th … of consecutive matches, right halves drop via a lag, and
    * positions renumber — the shared apply step of [[bpeTrainApply]]
    * (learned pair) and [[bpeApplyMerges]] (fixed pair). One pass
    * suffices per pair: merging (l, r) cannot create a new (l, r)
    * adjacency (the merged symbol l+r differs from both halves). */
  private def bpeMergeFlagged(j: DataFrame,
      wSeq: WindowSpec): DataFrame = {
    val applyFlags = j.filter(col("is_pair"))
      .withColumn("grp", col("pos") - row_number().over(wSeq))
      .withColumn("do_merge",
        row_number().over(Window
          .partitionBy(col("doc_id"), col("tok_idx"), col("grp"))
          .orderBy(col("pos"))) % 2 === 1)
      .select(col("doc_id"), col("tok_idx"), col("pos"), col("do_merge"))
    j.join(applyFlags, Seq("doc_id", "tok_idx", "pos"), "left")
      .withColumn("dm", coalesce(col("do_merge"), lit(false)))
      .withColumn("prev_dm",
        coalesce(lag(col("dm"), 1).over(wSeq), lit(false)))
      .filter(!col("prev_dm"))
      .select(col("doc_id"), col("tok_idx"),
        row_number().over(wSeq).as("pos"),
        when(col("dm"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
  }

  /** The [[bpeSymbolRows]] of `docs`, their per-doc count
    * (doc_id, n_syms_before), and the symbol order within each
    * (doc, pre-token) that every merge round windows over. */
  private def bpeStart(docs: DataFrame, id: Column,
                       text: Column): (DataFrame, DataFrame, WindowSpec) = {
    val rows = bpeSymbolRows(docs, id, text)
    (rows, rows.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_syms_before")),
      Window.partitionBy(col("doc_id"), col("tok_idx")).orderBy(col("pos")))
  }

  /** `checkpoint` is the per-round lineage truncator: the default
    * [[graft.operators.Ckpt.truncated]] keeps round state in the block
    * store (fastest at oracle scale); pass
    * [[graft.operators.Ckpt.durable]] when corpus-sized round state
    * must live on disk instead of executor memory (the measured 100×
    * heap ladder — Ckpt scaladoc). */
  def bpeTrainApply(docs: DataFrame, id: Column, text: Column,
                    rounds: Int,
                    checkpoint: DataFrame => DataFrame =
                      graft.operators.Ckpt.truncated): DataFrame = {
    val (start, bef, wSeq) = bpeStart(docs, id, text)
    var rows = start
    var merges = Seq.empty[DataFrame]
    for (r <- 1 to rounds) {
      val paired = rows.withColumn("nxt", lead(col("sym"), 1).over(wSeq))
      val top = paired.filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt"))
        .agg(count(lit(1)).cast("long").as("pc"))
        .orderBy(col("pc").desc, col("sym"), col("nxt")).limit(1)
        .select(col("sym").as("m_l"), col("nxt").as("m_r"))
      merges = merges :+ top.select(
        concat(col("m_l"), lit("+"), col("m_r")).as(s"merge_$r"))
      val j = paired.crossJoin(broadcast(top))
        .withColumn("is_pair",
          col("sym") === col("m_l") && col("nxt") === col("m_r"))
      // Round-depth hardening (r11): truncate lineage per merge round,
      // exactly like Dedup.connectedComponents. Without this every
      // round stacks ~4 windows + 1 aggregate + 1 broadcast join onto
      // the plan, so analysis/codegen cost grows superlinearly with
      // rounds — fine at rounds=2, fatal at real tokenizer depth
      // (hundreds of merges). With it each round re-plans against a
      // materialized block-store scan: flat per-round wall time
      // (measured r11: rounds 2→16 scale ~linearly, see LlmSpec
      // round-depth test), values unchanged (checkpoint is
      // plan-transparent), so the rounds=2 oracle hash is untouched.
      rows = checkpoint(bpeMergeFlagged(j, wSeq))
    }
    val aft = rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_syms_after"))
    merges.foldLeft(bef.join(aft, Seq("doc_id"))) {
      (acc, m) => acc.crossJoin(broadcast(m))
    }
  }

  /** TOKENIZER APPLY — the production-serving half of distributed BPE:
    * tokenize the corpus with a FIXED, already-learned merge table
    * (train once with [[bpeTrainApply]]'s machinery, apply everywhere;
    * what an inference/data pipeline does with a published tokenizer's
    * merges.txt). Merges apply in RANK ORDER, each in one
    * greedy-leftmost pass — equivalent to the classic lowest-rank-first
    * reference algorithm because a merge's output symbol can only
    * participate in pairs learned LATER (each learned pair is built
    * from symbols that existed when it was learned), and one pass per
    * pair suffices (see [[bpeMergeFlagged]]).
    *
    * Scale shape: identical to training minus the count/top-1 — each
    * merge is a literal predicate (no aggregate, no broadcast at all),
    * (doc, tok)-keyed windows only, `localCheckpoint` per round keeps
    * plan depth flat, so wall time is linear in |merges| and the
    * corpus never re-shuffles wider than one pre-token.
    *
    * Returns per-doc (doc_id, n_syms_before, n_syms_after,
    * n_merge_1 … n_merge_k) where n_merge_i counts final symbols equal
    * to the i-th merge's output — the per-doc vocabulary histogram a
    * token-count accounting needs. */
  def bpeApplyMerges(docs: DataFrame, id: Column, text: Column,
                     merges: Seq[(String, String)],
                     checkpoint: DataFrame => DataFrame =
                       graft.operators.Ckpt.truncated): DataFrame = {
    val (start, bef, wSeq) = bpeStart(docs, id, text)
    var rows = start
    merges.foreach { case (l, r) =>
      val j = rows.withColumn("nxt", lead(col("sym"), 1).over(wSeq))
        .withColumn("is_pair",
          col("sym") === lit(l) && col("nxt") === lit(r))
      rows = checkpoint(bpeMergeFlagged(j, wSeq))
    }
    val counts = merges.zipWithIndex.map { case ((l, r), i) =>
      sum(when(col("sym") === lit(l + r), 1L).otherwise(0L))
        .cast("long").as(s"n_merge_${i + 1}")
    }
    val aft = rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_syms_after"), counts: _*)
    bef.join(aft, Seq("doc_id"))
  }

  /** INVERTED INDEX — the search-engine primitive over the corpus:
    * per token, document frequency, collection frequency, and the head
    * of the doc-ordered posting list as a compact string. Postings are
    * one (token, doc)-keyed aggregate (tf + first position, map-side
    * combined); the per-token assembly uses the order-preserving
    * reassembly pattern (`sort_array(collect_list(struct(...)))` —
    * README determinism rules) so the emitted head is deterministic;
    * the `transform` HOF runs on a ≤`headK`-element array per TOKEN
    * row (vocabulary grain, not corpus grain), which keeps the
    * interpreted-HOF cost off the hot path. At 100 TB the posting
    * lists themselves would be written doc-sharded (writeShards); the
    * head string here is the index METADATA a query planner reads.
    * Returns (token, df, cf, postings_head). */
  def invertedIndex(docs: DataFrame, id: Column, text: Column,
                    headK: Int): DataFrame = {
    val postings = docs
      .select(id.as("doc_id"), posexplode(tokens(text))
        .as(Seq("pos", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("tf"))
    postings.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("cf"),
        slice(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
          1, headK).as("head"))
      .select(col("token"), col("df"), col("cf"),
        array_join(transform(col("head"), p =>
          concat(p.getField("doc_id").cast("string"), lit(":"),
            p.getField("tf").cast("string"))), ",").as("postings_head"))
  }

  /** FEATURE-HASHING document embedding (the hashing trick): token →
    * bucket via the engine-portable hex6(md5) hash mod `dims`, vector
    * component = token count per bucket — a model-free text embedder
    * whose long form (doc_id, bucket, cnt) is exactly the exploded
    * (vec_id, pos, qv) row shape the clustering/ANN family consumes
    * ([[Clustering.quantRows]]), so hashed documents can feed k-means /
    * IVF / PQ directly. Scan + one map-side-combined count — no
    * vocabulary table, no driver state, collision behavior fully
    * deterministic. */
  def featureHashEmbed(docs: DataFrame, id: Column, text: Column,
                       dims: Int): DataFrame =
    docs.select(id.as("doc_id"), explode(tokens(text)).as("token"))
      .withColumn("bucket",
        expr(s"${hex6Expr("md5(concat('fh|', token))")} % $dims")
          .cast("long"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Count-based BIGRAM LANGUAGE-MODEL scoring — the deterministic
    * cousin of perplexity filtering (CCNet's LM-quality gate) without
    * log(), which is not bit-portable across engines: train conditional
    * counts on the doc_id % trainMod == 0 split, then score EVERY doc
    * with integer-ppm conditional probabilities
    * p_ppm(w2|w1) = c(w1w2)·10⁶ div c(w1·). Per doc: bigram count,
    * unseen-bigram count (absent from the train table — the
    * out-of-domain signal), the summed ppm score, and fluency_ppm =
    * score div n_bigrams. Scale shape: one lead-window pass for pairs
    * (the shingleRows discipline), two map-side-combined count
    * aggregates for the model, one (w1, w2)-keyed join to score — the
    * model is a table, never driver state. */
  def bigramLmScore(docs: DataFrame, id: Column, text: Column,
                    trainMod: Int = 2): DataFrame = {
    val tok = docs.select(id.as("doc_id"),
      posexplode(tokens(text)).as(Seq("pos", "w1")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = tok.withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2"))
    val train = pairs.filter(col("doc_id") % trainMod === 0)
    val big = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uni = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val probs = big.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"), expr("c2 * 1000000 div c1").as("p_ppm"))
    pairs.join(probs, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(when(col("p_ppm").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_unseen"),
        sum(coalesce(col("p_ppm"), lit(0L))).cast("long").as("score_sum"))
      .withColumn("fluency_ppm", expr("score_sum div n_bigrams"))
  }

  /** TF-IDF retrieval ranking — the query-serving half of the inverted
    * index: score(q, d) = Σ_{t∈q} tf(t, d) · idf_int(t) with an
    * engine-portable INTEGER idf (N·10⁶ div df — no ln(), which is not
    * bit-portable across engines), so the whole ranking is inside the
    * hash gate. Queries are data-derived df-rank bands of the
    * vocabulary (rank termRankLo … termRankLo+nQueries·termsPerQuery−1,
    * ties broken by token), making the pipeline deterministic without
    * any external query file.
    *
    * Scale shape: tf and df are map-side-combined aggregates keyed by
    * (doc, token) / token; term selection is a distributed top-k
    * (TakeOrderedAndProject — per-partition heaps, no global sort); the
    * tiny term set broadcasts into the tf join; the final per-query
    * top-k is one bounded window (WindowGroupLimit). The only global
    * window orders the ≤ hi pre-limited term rows. */
  def tfidfTopK(docs: DataFrame, id: Column, text: Column,
                termRankLo: Int = 5, termsPerQuery: Int = 3,
                nQueries: Int = 3, k: Int = 10): DataFrame = {
    val tf = docs
      .select(id.as("doc_id"), explode(tokens(text)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("df"))
    val nDocs = docs.select(count(lit(1)).cast("long").as("n_docs"))
    val hi = termRankLo + termsPerQuery * nQueries - 1
    val top = df.orderBy(col("df").desc, col("token")).limit(hi)
    val w = Window.orderBy(col("df").desc, col("token"))
    val terms = top
      .withColumn("trank", row_number().over(w).cast("long"))
      .filter(col("trank") >= termRankLo)
      .crossJoin(broadcast(nDocs))
      .select(col("token"),
        expr(s"(trank - $termRankLo) div $termsPerQuery").as("query_id"),
        expr("(n_docs * 1000000) div df").as("idf"))
    val scored = tf.join(broadcast(terms), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * col("idf")).cast("long").as("score"),
        count(lit(1)).cast("long").as("terms_matched"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score"), col("terms_matched"))
  }

  /** Exploded (doc_id, shingle) rows built with posexplode + lead
    * windows — fully codegen'd, unlike the array form below (Spark's
    * higher-order functions are interpreted per element; on a 5k-doc
    * sample the array form is ~10× slower). `concat` (not concat_ws)
    * null-propagates, so trailing positions without n-1 successors drop
    * out via the isNotNull filter. Row form of [[shingles]]. */
  def shingleRows(docs: DataFrame, id: Column, text: Column,
                  n: Int): DataFrame = {
    // The id filter is an EXCHANGE-REUSE unifier, not (just) hygiene: a
    // shingle row without a document identity is meaningless to every
    // consumer, but more importantly downstream equi-joins push
    // isnotnull(doc_id) into their side's scan while aggregate-only
    // consumers (minhash signatures, simhash votes) don't — so the same
    // token exchange canonicalized TWO ways and materialized twice per
    // query (r17 per-stage profile: two 305 MB shuffle writes at 100×
    // where one suffices). Filtering at the source makes every lineage carry
    // the filter, so all consumers reuse ONE exchange.
    val tok = docs.filter(id.isNotNull).select(id.as("doc_id"),
      posexplode(tokens(text)).as(Seq("pos", "token")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val parts = col("token") +: (1 until n).flatMap(k =>
      Seq(lit(" "), lead(col("token"), k).over(w)))
    tok.select(col("doc_id"), concat(parts: _*).as("shingle"))
      .filter(col("shingle").isNotNull)
  }

  /** Word-level n-gram shingles, 1-based positions, guarded for short
    * docs (ANSI-safe: sequence() is only built when size >= n). */
  def shingles(toks: Column, n: Int): Column = {
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(idx, i =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
  }

  private val stopwords =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Marker-word sets for the n-gram-heuristic language ID. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Count of tokens that appear in `words`. */
  def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Predicted language: arg-max marker hits, ties broken by language
    * code order, 'und' when nothing matches. */
  def langId(toks: Column): Column = {
    val hits = langMarkers.map { case (code, ws) => (code, markerHits(toks, ws)) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((code, h), acc) =>
      when(h === best && best > 0, code).otherwise(acc)
    }
  }

  /** Quality-scoring feature columns + composite score in [0,1]:
    * token volume, punctuation density, stopword ratio, lexical
    * diversity — the standard cheap pre-filters for web corpora. */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_chars_measured", length(text).cast("long"))
      .withColumn("avg_token_len",
        when(size(toks) > 0,
          length(regexp_replace(text, "\\s", "")).cast("double") / size(toks))
          .otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(length(text) > 0,
          (length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", "")))
            .cast("double") / length(text))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(size(toks) > 0,
          markerHits(toks, stopwords).cast("double") / size(toks))
          .otherwise(lit(0.0)))
      .withColumn("distinct_token_ratio",
        when(size(toks) > 0,
          size(array_distinct(toks)).cast("double") / size(toks))
          .otherwise(lit(0.0)))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 50.0) * 0.4
          + (lit(1.0) - col("punct_ratio")) * 0.2
          + col("stopword_ratio") * 0.2
          + col("distinct_token_ratio") * 0.2)
  }

  /** EXACT corpus-quantile threshold filter — "keep the top
    * keepNum/keepDen fraction of the corpus by score" — with no
    * row-level global sort: one map-side-combined groupBy builds the
    * VALUE HISTOGRAM of the integer score (the only corpus-scale
    * pass); the descending cumulative count is a window over DISTINCT
    * score values, bounded by the quantized domain (≤ 1e6+1 rows for a
    * [0,1] score at 1e-6 resolution) never by corpus size; the
    * threshold is the largest score whose from-the-top cumulative
    * reaches ceil(keepNum·n/keepDen), re-broadcast as one row. Ties AT
    * the threshold are kept (standard threshold semantics — the kept
    * count exceeds the target only by ties). The target test is the
    * cross-multiplied integer predicate `cum·keepDen ≥ n·keepNum`
    * (≡ cum ≥ ceil(keepNum·n/keepDen) for integer cum), so no
    * division — floor-vs-trunc and double rounding never enter.
    * Returns the input plus `threshold` and `is_kept`. */
  def quantileKeep(scored: DataFrame, scoreCol: String,
                   keepNum: Int, keepDen: Int): DataFrame = {
    val hist = scored.groupBy(col(scoreCol))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val w = Window.orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = cum.agg(max(col("cum")).as("n_total"))
    val thr = cum.crossJoin(broadcast(tot))
      .filter(col("cum") * keepDen >= col("n_total") * keepNum)
      .agg(max(col(scoreCol)).as("threshold"))
    scored.crossJoin(broadcast(thr))
      .withColumn("is_kept", col(scoreCol) >= col("threshold"))
  }

  /** Per-GROUP exact quantile threshold — [[quantileKeep]] partitioned
    * by a group key (language, domain, source): each group gets its own
    * histogram, cumulative and threshold (the CCNet per-language-bucket
    * discipline — a global threshold would drown low-resource
    * languages). Same scale shape: the histogram groupBy is the only
    * corpus-scale pass; the cumulative window and the per-group totals
    * run over (group × distinct score) rows; thresholds come back as a
    * broadcast group-keyed join. */
  def groupedQuantileKeep(scored: DataFrame, groupCol: String,
                          scoreCol: String, keepNum: Int,
                          keepDen: Int): DataFrame = {
    val hist = scored.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = cum.groupBy(col(groupCol)).agg(max(col("cum")).as("n_total"))
    val thr = cum.join(broadcast(tot), Seq(groupCol))
      .filter(col("cum") * keepDen >= col("n_total") * keepNum)
      .groupBy(col(groupCol)).agg(max(col(scoreCol)).as("threshold"))
    scored.join(broadcast(thr), Seq(groupCol))
      .withColumn("is_kept", col(scoreCol) >= col("threshold"))
  }

  /** EXACT multi-quantile summary from ONE histogram pass — the corpus
    * reporting companion of [[quantileKeep]]: p50/p90/p99 of an integer
    * metric (tokens per doc, bytes per doc) computed as the standard
    * lower quantile (smallest value whose ascending cumulative count
    * reaches ceil(p·n)), every requested quantile answered from the
    * same cumulative histogram via one broadcast of the tiny quantile
    * list — no per-quantile passes, no row-level sort, same
    * cross-multiplied integer predicate as quantileKeep. Returns one
    * row per requested (q_num, q_den) with the quantile `value`. */
  def exactQuantiles(scored: DataFrame, scoreCol: String,
                     quantiles: Seq[(Int, Int)]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val hist = scored.groupBy(col(scoreCol))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val w = Window.orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = cum.agg(max(col("cum")).as("n_total"))
    val quants = quantiles.toDF("q_num", "q_den")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(quants))
      .filter(col("cum") * col("q_den") >= col("n_total") * col("q_num"))
      .groupBy(col("q_num"), col("q_den"))
      .agg(min(col(scoreCol)).as("value"))
  }

  /** ROBUST OUTLIER FLAGGING via Median Absolute Deviation — the
    * anomaly rule that survives the anomalies themselves (mean/stddev
    * z-scores move with the outliers they hunt; medians don't). Over
    * an INTEGER metric: med = exact lower median, dev = |x − med|,
    * MAD = exact lower median of dev, outlier ⇔ dev > k·MAD — every
    * comparison integer, both medians from [[exactQuantiles]]'s
    * histogram-over-distinct-values plan (never a corpus row sort),
    * the two scalar medians broadcast. Emits per-row
    * (…, dev, med, mad, is_outlier). */
  def madOutliers(scored: DataFrame, scoreCol: String,
                  k: Int): DataFrame = {
    val med = exactQuantiles(scored, scoreCol, Seq((1, 2)))
      .select(col("value").as("med"))
    val withDev = scored.crossJoin(broadcast(med))
      .withColumn("dev", abs(col(scoreCol) - col("med")))
    val mad = exactQuantiles(withDev, "dev", Seq((1, 2)))
      .select(col("value").as("mad"))
    withDev.crossJoin(broadcast(mad))
      .withColumn("is_outlier", col("dev") > lit(k.toLong) * col("mad"))
  }

  /** Gopher-style REPETITION signals per document: the fraction of
    * n-gram occurrences taken by the single most frequent n-gram and
    * the fraction covered by n-grams occurring more than once — the
    * standard "repetitious document" pre-filters for web corpora
    * (boilerplate, keyword stuffing, decoding loops). Built on the
    * codegen'd row-form shingles: (doc, ngram) counts then a per-doc
    * rollup — two hash aggregates on the same doc-keyed partitioning,
    * no window, no interpreted HOF on the hot path. Documents with
    * fewer than `n` tokens have no n-grams and drop out (callers
    * treat absence as "no signal"). */
  def repetitionSignals(docs: DataFrame, id: Column, text: Column,
                       n: Int = 2): DataFrame = {
    val counts = shingleRows(docs, id, text, n)
      .groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_ngrams"),
        max(col("c")).cast("long").as("top_ngram_count"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("long")
          .as("dup_ngram_occurrences"))
      .withColumn("top_ngram_fraction",
        col("top_ngram_count").cast("double") /
          col("n_ngrams").cast("double"))
      .withColumn("dup_ngram_fraction",
        col("dup_ngram_occurrences").cast("double") /
          col("n_ngrams").cast("double"))
  }

  /** VOCABULARY building — the tokenizer-training precursor: global
    * token frequencies, deterministic top-k (freq desc, token asc),
    * and each token's share of the corpus. The top-k goes through
    * `orderBy(...).limit(k)` — Spark plans it as TakeOrderedAndProject
    * (per-partition heaps merged on one node, k rows only), NOT a
    * global sort or a single-partition rank window, so it scales to
    * any vocabulary size; the rank is then assigned over the k
    * survivors (tiny). */
  def vocabTopK(docs: DataFrame, text: Column, k: Int): DataFrame = {
    val counts = docs
      .select(explode(tokens(text)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).cast("long")
      .as("total_tokens"))
    val top = counts.orderBy(col("freq").desc, col("token")).limit(k)
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq").cast("long")
        .as("freq"),
        (col("freq").cast("double") / col("total_tokens"))
          .as("token_share"))
  }

  /** OOV-RATE scoring against a vocabulary — the tokenizer-coverage
    * signal (docs full of out-of-vocab tokens are noise, another
    * language, or domain drift; pipelines gate or reroute on it).
    * `vocab` is a one-column (`token`) frame, typically
    * [[vocabTopK]]'s survivors. Emits (doc_id, n_tokens, n_oov,
    * n_distinct_oov) — counts, not ratios, so the gate is
    * integer-exact; callers derive the rate.
    *
    * SCALE SHAPE: explode (scan) → BROADCAST left-semi-shaped mark
    * against the small vocab (top-k is k rows by construction — never
    * a shuffle join) → ONE groupBy(doc_id) with map-side combine.
    * Work ∝ corpus tokens. */
  def oovRate(docs: DataFrame, id: Column, text: Column,
              vocab: DataFrame): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(tokens(text)).as("token"))
    toks.join(broadcast(vocab.select(col("token"))
        .distinct().withColumn("in_vocab", lit(true))),
        Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("token")))
          .cast("long").as("n_distinct_oov"))
  }

  /** PII patterns for the scrub pass — deliberately restricted to the
    * regex subset with identical semantics in Java regex and RE2 (no
    * lookaround, no backrefs, greedy quantifiers only) so the DuckDB
    * oracle replays byte-for-byte. The phone pattern is the
    * illustrative 7-digit local form; a production scrub would carry a
    * locale-specific pattern battery through the same plan shape. */
  final val EmailPattern =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val PhonePattern = "[0-9]{3}-[0-9]{4}"

  /** PII SCRUBBING: emails then phone-like sequences replaced with
    * typed placeholders — the standard redaction pass before
    * pretraining. Pure per-row regexp_replace chain: codegen'd,
    * scan-shaped, zero shuffles at any scale. Email runs first so the
    * phone pass can't fire inside an already-redacted address. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Scrub + audit columns: redacted text plus per-type match counts
    * (the redaction-rate signal a corpus pipeline monitors). */
  def withPiiScrub(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails",
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(text, lit(PhonePattern), lit(0)))
          .cast("long"))
      .withColumn("scrubbed_text", scrubPii(text))

  /** DOMAIN POLICY FILTER — the crawl-compliance deny-list pass
    * (robots-style opt-outs, tracker/ad domains, licensing blocks): a
    * host matches a rule when it EQUALS the rule domain or is a
    * SUBDOMAIN of it, and when several rules match the MOST SPECIFIC
    * (most labels) wins — so an `allow` exception on a specific
    * subdomain overrides its apex's `block`, the public-suffix-list
    * longest-match semantics.
    *
    * Mechanics, scale-shaped: each host explodes into its ≤ #labels
    * suffix chain (`a.b.com` → a.b.com, b.com, com — the per-row
    * bounded explode, never a rule cross join), equi-joins the
    * broadcast rule table on the suffix, and the winner is the
    * map-side-combinable `max(struct(labels, action, domain))` argmax —
    * specificity ties are impossible (a host's suffixes have distinct
    * label counts and rule domains are unique). Unmatched hosts get the
    * `defaultAction`. At 100 TB this is one scan + a broadcast join;
    * the deny-list (thousands of rules) stays driver-small like every
    * policy config. Returns the input plus
    * (matched_rule, action, is_blocked). */
  def domainPolicyFilter(df: DataFrame, host: Column,
                         rules: Seq[(String, String)],
                         defaultAction: String = "allow"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ruleDf = broadcast(rules.toDF("rule_domain", "rule_action")
      .withColumn("rule_labels",
        size(split(col("rule_domain"), "\\."))))
    val withHost = df.withColumn("_host", host)
      .withColumn("_nlab", size(split(col("_host"), "\\.")))
    val suffixes = withHost
      .withColumn("_m", explode(expr("sequence(1, _nlab)")))
      .withColumn("_suffix", expr("substring_index(_host, '.', -_m)"))
    val matched = suffixes
      .join(ruleDf, col("_suffix") === col("rule_domain"))
      .groupBy(col("_host").as("_mhost"))
      .agg(max(struct(col("rule_labels"), col("rule_action"),
        col("rule_domain"))).as("_w"))
      .select(col("_mhost"), col("_w.rule_domain").as("matched_rule"),
        col("_w.rule_action").as("action"))
    withHost
      .join(matched, col("_host") === col("_mhost"), "left")
      .withColumn("action", coalesce(col("action"), lit(defaultAction)))
      .withColumn("is_blocked", col("action") === "block")
      .drop("_host", "_nlab", "_mhost")
  }

  /** Content fingerprints: exact (md5 of normalized text), bag (md5 of
    * sorted distinct tokens — word-order-insensitive), and min-shingle
    * (min md5 over 3-gram shingles — the 1-hash MinHash). */
  def withFingerprints(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val sh = shingles(toks, 3)
    df.withColumn("content_fp", md5(lower(trim(text))))
      .withColumn("bag_fp",
        md5(concat_ws(" ", sort_array(array_distinct(toks)))))
      .withColumn("minshingle_fp",
        array_min(transform(sh, s => md5(s))))
  }
}
