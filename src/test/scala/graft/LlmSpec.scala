package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("quantileKeep: exact top-fraction threshold, ties kept") {
    // 8 rows, keep 1/2 -> target ceil(4) = 4; descending cum reaches 4
    // at score 30 (counts: 40->1, 30->3 cum 4) -> threshold 30.
    val df = Seq(10L, 20L, 20L, 30L, 30L, 30L, 40L, 5L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "qscore")
    val got = TA.quantileKeep(df, "qscore", 1, 2)
    assert(got.select("threshold").distinct().as[Long].collect().toSeq
      == Seq(30L))
    assert(got.filter($"is_kept").count() == 4)
    // keep 1/4 -> target 2; cum: 40->1, 30->4 crosses 2 at score 30;
    // ties at the threshold are kept, so 4 rows survive a target of 2.
    val q = TA.quantileKeep(df, "qscore", 1, 4)
    assert(q.select("threshold").distinct().as[Long].collect().toSeq
      == Seq(30L))
    assert(q.filter($"is_kept").count() == 4)
    // keep all: threshold is the minimum score.
    assert(TA.quantileKeep(df, "qscore", 1, 1)
      .filter($"is_kept").count() == 8)
  }

  test("bpeTrainApply: greedy leftmost merges, overlap parity, rounds") {
    // "aaaa": pair (a,a) x3; greedy applies matches 1 and 3 -> "aa","aa"
    val d1 = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val r1 = TA.bpeTrainApply(d1, $"doc_id", $"text", rounds = 1)
      .select("n_syms_before", "n_syms_after", "merge_1")
      .as[(Long, Long, String)].head()
    assert(r1 == ((4L, 2L, "a+a")))
    // "aaa": matches at 1,2 -> only 1 applies -> "aa","a"
    val d2 = Seq((1L, "aaa")).toDF("doc_id", "text")
    assert(TA.bpeTrainApply(d2, $"doc_id", $"text", 1)
      .select("n_syms_after").as[Long].head() == 2L)
    // "abab ab": round 1 learns (a,b) -> 3 syms; round 2 learns
    // (ab,ab) inside the first pre-token -> 2 syms. Merges never
    // cross the whitespace pre-token boundary.
    val d3 = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val r3 = TA.bpeTrainApply(d3, $"doc_id", $"text", rounds = 2)
      .select("n_syms_before", "n_syms_after", "merge_1", "merge_2")
      .as[(Long, Long, String, String)].head()
    assert(r3 == ((6L, 2L, "a+b", "ab+ab")))
  }

  test("prefixFilterJoin == brute-force exact similarity join (no false negatives)") {
    import graft.llm.{Dedup, TextAnalysis => TAx}
    // small corpus with planted near-dups and decoys
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "totally different words everywhere nothing shared at all x y"))
      .toDF("doc_id", "text")
    val sh = TAx.shingleRows(docs, $"doc_id", $"text", 3).distinct()
    val got = Dedup.prefixFilterJoin(sh, 8, 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force: every pair, exact jaccard, same threshold
    val ids = docs.select("doc_id").as[Long].collect()
    val all = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSeq
      .toDF("doc_a", "doc_b")
    val want = Dedup.jaccardVerify(all, sh)
      .filter($"intersection_size" * 10 >= $"union_size" * 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.contains((1L, 3L))) // the identical pair is found
  }

  test("count-min: estimates dominate true counts; exact when w is ample") {
    import graft.llm.Sketches
    val tokens = (1 to 400).flatMap(i => Seq.fill(i % 7 + 1)(s"tok$i"))
      .toDF("token")
    val exact = tokens.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tight sketch: collisions certain (400 keys, 64 buckets) but every
    // estimate must still dominate its true count (the CM invariant)
    val sk = Sketches.countMinSketch(tokens, "token", d = 3, w = 64)
    val est = Sketches.countMinEstimate(sk, tokens.distinct(), "token",
      d = 3, w = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, c) =>
      assert(est(t) >= c, s"$t: ${est(t)} < $c")
    }
    // ample sketch: 2^20 buckets, 400 keys — collisions (p ~ 7%) may
    // nudge a few estimates up, but never below the true count, and
    // most must be exact
    val sk2 = Sketches.countMinSketch(tokens, "token", d = 3, w = 1 << 20)
    val est2 = Sketches.countMinEstimate(sk2, tokens.distinct(), "token",
      d = 3, w = 1 << 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.count { case (t, c) => est2(t) == c } >= 390)
    exact.foreach { case (t, c) => assert(est2(t) >= c) }
  }

  test("hll: duplicates are free; registers merge by max; sane estimate") {
    import graft.llm.Sketches
    val a = (1 to 3000).map(i => s"k$i").toDF("token")
    val b = (2000 to 5000).map(i => s"k$i").toDF("token")
    val dup = a.unionByName(a).unionByName(a)
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, "token", 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // idempotent under duplication
    assert(regs(a) == regs(dup))
    // union registers == per-partition registers merged by max — the
    // property that makes HLL a distributed partial aggregate
    val merged = (regs(a).keySet ++ regs(b).keySet).map { k =>
      k -> math.max(regs(a).getOrElse(k, 0L), regs(b).getOrElse(k, 0L))
    }.toMap
    assert(regs(a.unionByName(b)) == merged)
    // estimate lands within 4 sigma of the true 5000 (1.04/sqrt(64))
    val est = Sketches.hllEstimate(regs2df(a.unionByName(b)), 64)
      .select("estimate").as[Long].head()
    assert(math.abs(est - 5000.0) / 5000.0 < 4 * 1.04 / 8.0, s"est=$est")
  }

  private def regs2df(df: org.apache.spark.sql.DataFrame) =
    graft.llm.Sketches.hllRegisters(df, "token", 64)

  test("bpeApplyMerges: fixed merge table, rank order, chained merges") {
    // "erer ere" -> pre-tokens "erer","ere". Merge 1 (e,r): "erer" has
    // matches at pos 1 and 3 (non-overlapping) -> er,er; "ere" -> er,e.
    // Merge 2 (er,e): only "ere"'s er,e pair matches -> ere. Final
    // symbols: er,er,ere -> counts n_merge_1=2 (er), n_merge_2=1 (ere).
    val d = Seq((1L, "erer ere")).toDF("doc_id", "text")
    val r = TA.bpeApplyMerges(d, $"doc_id", $"text",
      Seq(("e", "r"), ("er", "e")))
      .select("n_syms_before", "n_syms_after", "n_merge_1", "n_merge_2")
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((7L, 3L, 2L, 1L)))
    // a merge pair absent from the corpus applies as a no-op
    val r2 = TA.bpeApplyMerges(d, $"doc_id", $"text", Seq(("x", "y")))
      .select("n_syms_after", "n_merge_1").as[(Long, Long)].head()
    assert(r2 == ((7L, 0L)))
  }

  test("bpeTrainApply: deep rounds (16) — checkpointed lineage stays sane") {
    // 17 distinct chars, every adjacent pair count 1: ties break on
    // binary pair order, so round 1 merges a+b, and each later round
    // merges (prefix, next char) — the prefix always sorts first. 16
    // rounds collapse the doc to ONE symbol with a fully predictable
    // merge table. Pre-r11 this plan stacked 16 rounds of windows and
    // took unboundedly long to analyze; per-round localCheckpoint keeps
    // each round's plan depth constant.
    val d = Seq((1L, "abcdefghijklmnopq")).toDF("doc_id", "text")
    val r = TA.bpeTrainApply(d, $"doc_id", $"text", rounds = 16)
    val row = r.select("n_syms_before", "n_syms_after",
      "merge_1", "merge_8", "merge_16").head()
    assert(row.getLong(0) == 17L && row.getLong(1) == 1L)
    assert(row.getString(2) == "a+b")
    assert(row.getString(3) == "abcdefgh+i")
    assert(row.getString(4) == "abcdefghijklmnop+q")
  }

  test("exactQuantiles: lower quantile from one histogram") {
    // values 1..10: p50 -> ceil(5) = 5, p90 -> 9, p99 -> ceil(9.9) = 10
    val df = (1L to 10L).toDF("v")
    val got = TA.exactQuantiles(df, "v", Seq((1, 2), (9, 10), (99, 100)))
      .select("q_num", "value").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 5L, 9 -> 9L, 99 -> 10L))
    // duplicates: 1,1,1,9 -> p50 at ceil(2) = rank 2 -> value 1
    val dup = Seq(1L, 1L, 1L, 9L).toDF("v")
    assert(TA.exactQuantiles(dup, "v", Seq((1, 2)))
      .select("value").as[Long].head() == 1L)
  }

  test("groupedQuantileKeep: each group gets its own threshold") {
    // group a: scores 1..4 keep 1/2 -> threshold 3 (cum desc: 4->1,
    // 3->2 = target 2); group b: all equal -> everything kept.
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 7L), ("b", 7L)).zipWithIndex
      .map { case ((g, s), i) => (i.toLong, g, s) }
      .toDF("doc_id", "grp", "qscore")
    val got = TA.groupedQuantileKeep(df, "grp", "qscore", 1, 2)
      .select("grp", "threshold").distinct()
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 7L))
    assert(TA.groupedQuantileKeep(df, "grp", "qscore", 1, 2)
      .filter($"is_kept").count() == 4) // a: {3,4}; b: both (ties)
  }

  test("tokens drops empties; shingles guard short docs (ANSI-safe)") {
    val df = Seq("a b  c", "x", "", "one two three four").toDF("text")
    val got = df.select(size(TA.tokens($"text")).as("n"),
      size(TA.shingles(TA.tokens($"text"), 3)).as("sh"))
      .as[(Int, Int)].collect()
    assert(got.toSeq == Seq((3, 1), (1, 0), (0, 0), (4, 2)))
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "Hello World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df, $"doc_id", $"text")
      .orderBy("doc_id")
      .select("doc_id", "canonical_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
    assert(got.toSeq == Seq((1L, 1L, false), (2L, 1L, true),
      (3L, 3L, false)))
  }

  test("normalizeForDedup merges casing/punctuation/whitespace variants") {
    val df = Seq((1L, "Hello,  World!"), (2L, "hello world"),
      (3L, "hello-world?"), (4L, "hell o world")).toDF("doc_id", "text")
    val got = Dedup.exact(df, $"doc_id", TA.normalizeForDedup($"text"))
      .orderBy("doc_id")
      .select("doc_id", "canonical_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
    assert(got.toSeq == Seq((1L, 1L, false), (2L, 1L, true),
      (3L, 1L, true), (4L, 4L, false)))
  }

  test("temperatureMix: quotas proportional to sqrt(count), capped by group size") {
    // group a: 9 docs (w=3), b: 1 doc (w=1) -> denom 4; totalN=8 -> quotas 6, 2
    val docs = ((1L to 9L).map(i => (i, "a")) :+ (10L, "b"))
      .toDF("doc_id", "src")
    val got = TA.temperatureMix(docs, $"doc_id", $"src", totalN = 8,
      seed = "s1")
    val quotas = got.select("mix_group", "quota").distinct()
      .as[(String, Long)].collect().toMap
    assert(quotas == Map("a" -> 6L, "b" -> 2L))
    val sizes = got.groupBy("mix_group").count()
      .as[(String, Long)].collect().toMap
    // b's quota exceeds its population -> all of b kept, a capped at 6
    assert(sizes == Map("a" -> 6L, "b" -> 1L))
  }

  test("NearDupIndex: day-2 re-crawl hits committed bands, fresh doc does not") {
    import graft.llm.NearDupIndex
    val dir = tempRoot("ndidx").toString
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words appear in this one here now"))
      .toDF("doc_id", "text")
    val out1 = NearDupIndex.processBatch(spark, dir, day1, $"doc_id",
      $"text")
    assert(out1.filter($"hit_index").count() == 0)
    val day2 = Seq(
      // same text as doc 1 -> every band collides
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "unrelated fresh content with nothing shared at all whatsoever"))
      .toDF("doc_id", "text")
    val out2 = NearDupIndex.processBatch(spark, dir, day2, $"doc_id",
      $"text")
    val flags = out2.select("doc_id", "hit_index")
      .as[(Long, Boolean)].collect().toMap
    assert(flags == Map(10L -> true, 11L -> false))
    // committed index grew: v2 holds day-1 bands plus doc 11's
    val idx = NearDupIndex.load(spark, dir)
    assert(idx.count() == 12) // 3 kept docs x 4 bands, all distinct
  }

  test("incrementalExactBloom is bit-identical to incrementalExact") {
    val batch = Seq((1L, "Alpha"), (2L, " alpha"), (3L, "beta"),
      (4L, "gamma"), (5L, "beta")).toDF("doc_id", "text")
    val idx = Seq("beta", "delta").toDF("t")
      .select(md5(lower(trim($"t"))).as("content_fp"))
    val plain = Dedup.incrementalExact(idx, batch, $"doc_id", $"text")
      .orderBy("doc_id").collect().toSeq
    val bloom = Dedup.incrementalExactBloom(idx, batch, $"doc_id", $"text",
      expectedFps = 1L << 10, numBits = 1L << 13)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == plain)
    // index hit (beta) suppressed even as batch-canonical; batch dup kept once
    val keep = bloom.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("keep")).toMap
    assert(keep == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true,
      5L -> false))
  }

  test("LSH candidates: identical docs collide in every band, disjoint docs never") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear in this one here now"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        explode(TA.shingles(TA.tokens($"text"), 3)).as("shingle"))
      .distinct()
    val bands = Dedup.minhashBands(docs, 4, 2)
    val cands = Dedup.lshCandidates(bands)
      .as[(Long, Long)].collect().toSet
    assert(cands == Set((1L, 2L)))
  }

  test("jaccardVerify computes exact set jaccard") {
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val shingled = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "b"), (2L, "c"), (2L, "d")).toDF("doc_id", "shingle")
    val got = Dedup.jaccardVerify(cand, shingled)
      .select("intersection_size", "union_size", "jaccard")
      .as[(Long, Long, Double)].head()
    assert(got == ((2L, 4L, 0.5)))
  }

  test("simhash: distributed form agrees with array-expression form") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val arrayForm = df.select($"doc_id",
      Dedup.simhashBits(TA.tokens($"text")).as("simhash"))
      .as[(Long, String)].collect().toMap
    val distForm = Dedup.simhashFromTokens(
      df.select($"doc_id", explode(TA.tokens($"text")).as("token")))
      .as[(Long, String)].collect().toMap
    assert(arrayForm == distForm)
    assert(arrayForm(1L).length == 32)
    assert(arrayForm(1L).forall(c => c == '0' || c == '1'))
    // the band-width ladder shares its hash streams: bits 1-32 of the
    // 64-bit signature ARE the 32-bit signature, bits 1-64 of the
    // 128-bit ARE the 64-bit — one token pass can serve any width
    val tok = df.select($"doc_id", explode(TA.tokens($"text")).as("token"))
    val s64 = Dedup.simhashFromTokens(tok, 64)
      .as[(Long, String)].collect().toMap
    val s128 = Dedup.simhashFromTokens(tok, 128)
      .as[(Long, String)].collect().toMap
    assert(s64.forall { case (id, s) => s.take(32) == distForm(id) })
    assert(s128.forall { case (id, s) =>
      s.length == 128 && s.take(64) == s64(id) })
  }

  test("bruteForceTopK ranks by cosine, excludes self, deterministic ties") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),   // query
      (2L, Seq(1.0f, 0.0f)),   // identical → cosine 1
      (3L, Seq(0.0f, 1.0f)),   // orthogonal → cosine 0
      (4L, Seq(-1.0f, 0.0f)))  // opposite → cosine -1
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 1), vecs, k = 3)
      .select("cand_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got == Seq((2L, 1), (3L, 2), (4L, 3)))
  }

  test("signLshTopK only pairs within a sign bucket") {
    val vecs = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(2.0f, 3.0f)),     // bucket '11'
      (3L, Seq(-1.0f, 1.0f)))                            // bucket '01'
      .toDF("vec_id", "embedding")
    val got = Similarity.signLshTopK(vecs, vecs.select("vec_id"),
      k = 5, bits = 2)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("LSH hot-bucket cap: pathological corpus stays linear, healthy unchanged") {
    // 200 identical docs — every band bucket is ONE hot bucket. Uncapped
    // candidate generation is quadratic; the cap must make it linear
    // (chain pairs) while still connecting the whole dup component.
    val boiler = (1L to 200L).map(i =>
      (i, "the same viral boilerplate sentence repeated across the web"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        explode(TA.shingles(TA.tokens($"text"), 3)).as("shingle"))
      .distinct()
    val bands = Dedup.minhashBands(boiler, 4, 2)
    assert(Dedup.lshCandidates(bands).count() == 199L * 200L / 2)
    val capped = Dedup.lshCandidates(bands, maxBucketSize = 10)
      .as[(Long, Long)].collect()
    assert(capped.length == 199, "chain pairs: linear in bucket size")
    // chain connects the component: union-find over pairs → 1 component
    val parent = collection.mutable.Map((1L to 200L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    capped.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((1L to 200L).map(find).toSet.size == 1)
    // healthy data: capped == uncapped when no bucket exceeds the cap
    val sf = "/root/testdata/sf0.001"
    val shingled = TA.shingleRows(Tables.documents(spark, sf),
      col("doc_id"), col("text"), 3).distinct()
    val healthyBands = Dedup.minhashBands(shingled, 4, 2).cache()
    val un = Dedup.lshCandidates(healthyBands)
      .as[(Long, Long)].collect().toSet
    val cp = Dedup.lshCandidates(healthyBands, maxBucketSize = 100)
      .as[(Long, Long)].collect().toSet
    assert(un == cp, "cap is a no-op when buckets are under the limit")
  }

  test("SimHash hot-bucket cap: pathological corpus stays linear, healthy unchanged") {
    // 200 identical docs — one simhash signature, so every 8-bit band
    // bucket is ONE hot bucket. Uncapped pairing is quadratic; the cap
    // must make it linear (chain pairs) while the Hamming verify still
    // passes (identical signatures → hamming 0) and the chain connects
    // the whole dup component.
    val boiler = (1L to 200L).map(i =>
      (i, "the same viral boilerplate sentence repeated across the web"))
      .toDF("doc_id", "text")
      .select($"doc_id", explode(TA.tokens($"text")).as("token"))
    val sh = Dedup.simhashFromTokens(boiler).cache()
    assert(Dedup.simhashNearDups(sh).count() == 199L * 200L / 2)
    val capped = Dedup.simhashNearDups(sh, maxBucketSize = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(capped.length == 199, "chain pairs: linear in bucket size")
    // chain connects the component: union-find over pairs → 1 component
    val parent = collection.mutable.Map((1L to 200L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    capped.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((1L to 200L).map(find).toSet.size == 1)
    // healthy data: capped == uncapped when no bucket exceeds the cap
    val sf = "/root/testdata/sf0.001"
    val tokenRows = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
    val healthy = Dedup.simhashFromTokens(tokenRows).cache()
    // explicit Int.MaxValue: the default is now DefaultBucketCap (r16),
    // so the uncapped arm must opt out to keep this a real A/B
    val un = Dedup.simhashNearDups(healthy, maxBucketSize = Int.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cp = Dedup.simhashNearDups(healthy, maxBucketSize = 512)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(un == cp, "cap is a no-op when buckets are under the limit")
  }

  test("autoBandPolicy: width rungs track corpus size, bounds exact") {
    // bound_b = 2^(b/4) (keyspace ≥ nDocs): 256 / 65,536
    assert(Dedup.autoBandPolicy(1) == 32)
    assert(Dedup.autoBandPolicy(256) == 32)
    assert(Dedup.autoBandPolicy(257) == 64)
    assert(Dedup.autoBandPolicy(65536) == 64)
    assert(Dedup.autoBandPolicy(65537) == 128)
    assert(Dedup.autoBandPolicy(100L * 1000 * 1000 * 1000) == 128)
    // both oracle gate SFs sit inside the 64-bit window with margin
    // (the dd_cluster_canonical / t_leakage_safe_split twins pin 64)
    assert(Dedup.autoBandPolicy(500) == 64)
    assert(Dedup.autoBandPolicy(5000) == 64)
    assert(Dedup.autoBandPolicy(Long.MaxValue) == 128)
    // the image ladder, same rule with 4 bands probed per row:
    // 2^16 / 4 = 16,384 rows is the 64-bit crossover
    import graft.llm.BandIndex
    assert(BandIndex.width(1, BandIndex.ImageLadder) == 64)
    assert(BandIndex.width(16384, BandIndex.ImageLadder) == 64)
    assert(BandIndex.width(16385, BandIndex.ImageLadder) == 128)
    assert(BandIndex.width(Long.MaxValue, BandIndex.ImageLadder) == 128)
    // simhashFromTokens emits a signature of the requested width
    val toks = Seq((1L, "alpha"), (1L, "beta"), (2L, "alpha"))
      .toDF("doc_id", "token")
    Seq(32, 64, 128).foreach { b =>
      val sig = Dedup.simhashFromTokens(toks, b).head().getString(1)
      assert(sig.length == b && sig.forall(c => c == '0' || c == '1'))
    }
    intercept[IllegalArgumentException](Dedup.simhashFromTokens(toks, 48))
  }

  test("contractedClosure refuses edges that are not materialized") {
    // the driverMaxEdges gate counts and the small path collects: on a
    // recomputed (possibly nondeterministic) plan the two jobs could
    // see different edge sets, so only a materialized leaf is accepted
    val lazyEdges = spark.range(4)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val e = intercept[IllegalArgumentException](
      Dedup.contractedClosure(lazyEdges))
    assert(e.getMessage.contains("materialized"), e.getMessage)
    val cc = Dedup.contractedClosure(lazyEdges.localCheckpoint(true))
    assert(cc.select("component").distinct().as[Long].collect().toSeq ==
      Seq(0L))
    assert(cc.count() == 5)
  }

  test("shardedNearDupLabels == single-pass labels (min-label assoc)") {
    // The dd_sharded_cluster_merge gate proves this cross-engine; the
    // spec pins it Spark-vs-Spark at sf0.001 where the corpus is small
    // enough for the single-pass arm to be the in-suite oracle, plus a
    // keyed-banding sanity: within-pairs never cross shards.
    val sf = "/root/testdata/sf0.001"
    val tokenRows = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("token"))
    val sh = Dedup.simhashFromTokens(tokenRows, 64).cache()
    val sharded = sh.withColumn("shard", col("doc_id") % 3)
    val within = Dedup.simhashNearDups(sharded, bits = 64,
      keyCols = Seq("shard"))
    assert(within.filter(col("doc_a") % 3 =!= col("doc_b") % 3)
      .count() == 0, "keyed banding must not emit cross-shard pairs")
    val singlePairs = Dedup.simhashNearDups(sh, bits = 64)
    val single = Dedup.connectedComponents(
        sh.select(col("doc_id").as("id")),
        singlePairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .as[(Long, Long)].collect().toMap
    val merged = Dedup.shardedNearDupLabels(sharded, bits = 64)
      .as[(Long, Long)].collect().toMap
    assert(merged == single)
    assert(single.exists { case (id, c) => id != c },
      "draw sanity: at least one non-singleton cluster")
    sh.unpersist()
  }

  test("ANN bucket cap bounds the candidate pool deterministically") {
    // Identical vectors → one rademacher bucket; cap 16 means only the
    // first 16 ids can ever appear as candidates, for every query.
    val vecs = (1L to 300L).map(i => (i, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.rademacherBuckets(vecs, bits = 4, seed = "1")
    assert(buckets.select("bucket").distinct().count() == 1)
    val res = Similarity.randomHyperplaneLshTopK(vecs,
      vecs.select("vec_id"), k = 5, bits = 4, seed = "1",
      maxBucketSize = 16)
    assert(res.agg(max($"cand_id")).head().getLong(0) <= 16)
    assert(res.groupBy("query_id").count()
      .filter($"count" > 5).count() == 0)
  }

  test("embedding near-dup finds perturbed copies, skips unrelated") {
    // 2 is a tiny perturbation of 1 (cosine ≈ 0.9996); 3 is orthogonal.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.25f)),
      (2L, Array(1.0f, 0.02f, 0.5f, 0.25f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dups = Similarity.embeddingNearDups(vecs, bits = 3, seed = "1",
      threshold = 0.99)
      .as[(Long, Long, Double, Long)].collect()
    assert(dups.map(d => (d._1, d._2)).toSet == Set((1L, 2L)))
    assert(dups.head._3 > 0.99 && dups.head._4 == 1L)
  }

  test("multimodal decode stub is deterministic and schema-stable") {
    val docs = Tables.documents(spark, sf).limit(50)
    val media = Multimodal.asMediaTable(docs)
    val f1 = Multimodal.decodeAndFeaturize(media).orderBy("doc_id").collect()
    val f2 = Multimodal.decodeAndFeaturize(media).orderBy("doc_id").collect()
    assert(f1.sameElements(f2))
    assert(f1.length == 50)
    assert(Multimodal.decodeAndFeaturize(media).schema ==
      Multimodal.featureSchema)
  }

  test("MOV demux: multi-chunk sample tables locate every frame") {
    import org.apache.spark.sql.types._
    // ids chosen for frame counts 2..5 (mjFrames = 2 + id % 4); chunks=2
    // forces multi-row stsc + two stco offsets — the sample-location
    // expansion the single-chunk oracle payloads never exercise
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 42L)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rows = ids.map(id => org.apache.spark.sql.Row(
      id, Multimodal.synthMovPayload(id, chunks = 2)))
    val mov = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val got = Multimodal.decodeMovMjpeg(mov).orderBy("doc_id").collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val n = 2 + (id % 4).toInt
      val g = (id % 200).toInt
      assert(r.getInt(1) == 16 + (id % 5).toInt * 8)   // width
      assert(r.getInt(2) == 16 + (id % 3).toInt * 8)   // height
      assert(r.getInt(3) == 2400)                       // timescale
      assert(r.getLong(4) == n * 100L)                  // duration_ts
      assert(r.getInt(5) == n && r.getLong(6) == n.toLong)
      assert(r.getInt(7) == g)                          // gray_first
      assert(r.getLong(8) == (0 until n).map(f => g + 7L * f).sum)
    }
  }

  test("connectedComponents: transitive chains, merged stars, singletons") {
    // 200-node chain 0-1-2-…-199 (diameter forces pointer jumping — a
    // neighbor-only propagation would need 200 rounds, maxIter is 30),
    // a triangle {500,501,502}, an edge {600,601}, singleton 700.
    val nodes = ((0L to 199L) ++ Seq(500L, 501L, 502L, 600L, 601L, 700L))
      .toDF("id")
    val chain = (0L until 199L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((500L, 501L), (501L, 502L), (502L, 500L),
      (601L, 600L))).toDF("src", "dst")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 199L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    assert(Seq(500L, 501L, 502L).forall(got(_) == 500L))
    assert(got(600L) == 600L && got(601L) == 600L)
    assert(got(700L) == 700L)
  }

  test("incrementalComponents: merges across committed labels, late singletons, no-op batches") {
    // committed: {1,2} labeled 1, {3,5} labeled 3, singleton 8
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 3L), (8L, 8L))
      .toDF("id", "component")
    // batch: new nodes 4 and 9; edges merge comp-1 with comp-3 through
    // NEW node 4 (1-4, 4-5 — a 3-way merge via contraction), plus a
    // no-op edge inside comp-3
    val merged = Dedup.incrementalComponents(labels,
        Seq(4L, 9L).toDF("id"),
        Seq((1L, 4L), (4L, 5L), (3L, 5L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 8L -> 8L, 9L -> 9L))
    // a batch with ONLY intra-component edges changes nothing
    val noop = Dedup.incrementalComponents(labels,
        spark.emptyDataset[Long].toDF("id"),
        Seq((3L, 5L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(noop == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 5L -> 3L, 8L -> 8L))
  }

  test("canonicalizeUrl normalizes scheme/host/port/params, preserves path case") {
    val in = Seq(
      "HTTP://WWW.Example.COM:80/Products/3/?utm_source=a&item=7&fbclid=x#frag",
      "https://www.example.com:443/Products/3?item=7",
      "https://example.com/",
      "https://example.com/CaseSensitive/Path?gclid=z",
      "ftp://Host.Example.com:80/file",
      "https://User:Pw@Example.com/x?fbclid&item=2", // userinfo + bare fbclid
      "https://a%40b@Example.com/y?gclid") // pct-encoded '@' inside userinfo
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val got = in.select(TA.canonicalizeUrl($"url").as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "http://www.example.com/Products/3?item=7",
      "https://www.example.com/Products/3?item=7",
      "https://example.com",
      "https://example.com/CaseSensitive/Path",
      "ftp://host.example.com:80/file", // :80 only default for http
      "https://example.com/x?item=2",
      "https://example.com/y"))
    val dd = Dedup.urlDedup(in, $"doc_id", $"url").orderBy("doc_id")
      .collect()
    // rows 0 and 1 differ only by scheme (http vs https) → NOT dups
    assert(dd.count(_.getAs[Boolean]("is_duplicate")) == 0)
  }

  test("packSequences: per-shard running sums, pack ids, boundary spans") {
    // shard 0: docs 0(4 tok),2(7),4(6) → cum 0,4,11; budget 10 →
    //   packs 0,0,1; doc 2 at offset 4 with 7 tokens spans the boundary.
    // shard 1: docs 1(10),3(2) → cum 0,10 → packs 0,1; doc 1 fills pack
    //   0 exactly (offset 0 + 10 tokens = budget, NOT a span).
    val docs = Seq((0L, 4), (1L, 10), (2L, 7), (3L, 2), (4L, 6))
      .toDF("doc_id", "n_tok")
    val got = graft.llm.Packing.packSequences(docs, $"doc_id", $"n_tok",
      budget = 10, nShards = 2)
      .orderBy("doc_id")
      .select("doc_id", "shard", "cum_before", "pack_in_shard", "pack_id",
        "offset_in_pack", "spans_boundary")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    val radix = graft.llm.Packing.PackIdRadix // 2^40: no cross-shard collision
    assert(got == Seq(
      (0L, 0L, 0L, 0L, 0L, 0L, false),
      (1L, 1L, 0L, 0L, radix, 0L, false),
      (2L, 0L, 4L, 0L, 0L, 4L, true),
      (3L, 1L, 10L, 1L, radix + 1L, 0L, false),
      (4L, 0L, 11L, 1L, 1L, 1L, false)))
  }

  test("chunkDocuments: sliding windows, short tail, empty doc dropped") {
    // doc 1: 10 tokens, size 4 / stride 3 → starts 0,3,6,9; tail = 1 tok
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, ""))
      .toDF("doc_id", "text")
    val got = graft.llm.Packing.chunkDocuments(docs, $"doc_id",
      TA.tokens($"text"), chunkSize = 4, stride = 3)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("chunk_tokens"), r.getAs[String]("chunk_text")))
    assert(got.toSeq == Seq(
      (0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 3L, 4L, "t3 t4 t5 t6"),
      (2L, 6L, 4L, "t6 t7 t8 t9"),
      (3L, 9L, 1L, "t9")))
  }

  test("corpusShuffle: dense per-shard positions, deterministic, seeded") {
    val docs = (0L until 200L).toDF("doc_id")
    val a = TA.corpusShuffle(docs, $"doc_id", "s1", nShards = 4).collect()
    assert(a.length == 200)
    // positions are dense 0..k per shard
    a.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("position")).sorted.toSeq ==
        (0L until rows.length.toLong))
    }
    // identical rerun, different seed reorders
    val b = TA.corpusShuffle(docs, $"doc_id", "s1", nShards = 4).collect()
    assert(a.map(r => (r.getLong(0), r.getAs[Long]("position"))).toSet ==
      b.map(r => (r.getLong(0), r.getAs[Long]("position"))).toSet)
    val c = TA.corpusShuffle(docs, $"doc_id", "s2", nShards = 4).collect()
    assert(a.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet !=
      c.map(r => (r.getLong(0), r.getAs[Long]("shard"))).toSet)
  }

  test("stratifiedSplit: stable membership, bounded buckets, ~90/5/5") {
    val docs = (0L until 1000L).toDF("doc_id")
      .withColumn("src", ($"doc_id" % 3).cast("string"))
    val s = TA.stratifiedSplit(docs, $"doc_id", $"src", "sp", 5, 5)
      .collect()
    assert(s.forall(r => (0L until 100L)
      .contains(r.getAs[Long]("sample_bucket"))))
    val bySplit = s.groupBy(_.getAs[String]("split")).view
      .mapValues(_.length).toMap
    assert(bySplit("train") > 800 && bySplit("val") > 20 &&
      bySplit("test") > 20)
    // growth stability: the same doc keeps its split in a larger corpus
    val bigger = TA.stratifiedSplit(
      (0L until 2000L).toDF("doc_id").withColumn("src", lit("x")),
      $"doc_id", $"src", "sp", 5, 5)
      .filter($"doc_id" < 1000).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(s.forall(r =>
      bigger(r.getAs[Long]("doc_id")) == r.getAs[String]("split")))
  }

  test("oovRate: counts in/out-of-vocab tokens per doc") {
    val docs = Seq((1L, "a b a zz"), (2L, "zz yy zz"), (3L, "a a a"))
      .toDF("doc_id", "text")
    val vocab = Seq("a", "b").toDF("token")
    val got = TA.oovRate(docs, $"doc_id", $"text", vocab)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 1L),  // zz oov once
      (2L, 3L, 3L, 2L),  // zz×2 + yy oov, 2 distinct
      (3L, 3L, 0L, 0L)))
  }

  test("CorpusIndex: committed versions accumulate fps across batches") {
    import graft.llm.CorpusIndex
    import graft.operators.AtomicTable
    val dir = tempRoot("fpidx_spec").toString
    val day1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val out1 = CorpusIndex.processBatch(spark, dir, day1, $"doc_id", $"text")
      .orderBy("doc_id").collect()
    assert(out1.map(_.getAs[Boolean]("keep")).toSeq ==
      Seq(true, true, false), "empty index: min-id per text kept")
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L))
    assert(CorpusIndex.load(spark, dir).count() == 2)
    // day 2: one re-crawl (alpha), one fresh (gamma), one batch dup
    val day2 = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val out2 = CorpusIndex.processBatch(spark, dir, day2, $"doc_id", $"text")
      .orderBy("doc_id").collect()
    assert(out2.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Boolean]("in_index"), r.getAs[Boolean]("keep"))).toSeq ==
      Seq((10L, true, false), (11L, false, true), (12L, false, false)))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L, 1L))
    assert(CorpusIndex.load(spark, dir).count() == 3, "alpha, beta, gamma")
  }

  test("lineDedup removes corpus-wide boilerplate, keeps order and blanks") {
    // 'footer' is in 3 of 4 docs (> maxDocFreq=2) → removed everywhere;
    // 'unique N' lines and the blank line survive in original order.
    val docs = Seq(
      (1L, "unique 1\nfooter\nalpha"),
      (2L, "footer\n\nunique 2"),
      (3L, "unique 3\nFOOTER  "), // normalization: case+trim
      (4L, "alpha\nbeta"))
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, $"doc_id", $"text", maxDocFreq = 2)
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3))).toSeq == Seq(
      (1L, 3L, 1L, "unique 1\nalpha"),
      (2L, 3L, 1L, "\nunique 2"),
      (3L, 2L, 1L, "unique 3"),
      (4L, 2L, 0L, "alpha\nbeta")))
    // 'alpha' appears in 2 docs = maxDocFreq, NOT strictly greater → kept
  }

  test("real WAV round trip: decoded PCM matches the sample spec") {
    val docs = Tables.documents(spark, sf).limit(30)
    val decoded = Multimodal.decodeAudio(Multimodal.asAudioTable(docs))
      .orderBy("doc_id").collect()
    assert(decoded.length == 30)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val n = Multimodal.wavFrames(id)
      assert(r.getInt(1) == Multimodal.wavSampleRate(id))
      assert(r.getInt(2) == Multimodal.wavChannels(id))
      assert(r.getLong(3) == n.toLong)
      assert(r.getInt(4) == Multimodal.wavSample(id, 0, 0))
      assert(r.getInt(5) == Multimodal.wavSample(id, n - 1, 0))
      val expSum = (0 until n).map(Multimodal.wavSample(id, _, 0).toLong).sum
      assert(r.getLong(6) == expSum)
      if (Multimodal.wavChannels(id) == 1) assert(r.isNullAt(7))
    }
  }

  test("dupSpanRemoval: canonical keeps, duplicate occurrences deleted in order") {
    val docs = Seq(
      (1L, "a b c d e x1 x2"),  // owner of the shared 5-gram
      (2L, "y0 a b c d e y1 y2"),
      (3L, "totally unrelated text without repeats ok")).toDF("doc_id", "text")
    val got = Dedup.dupSpanRemoval(docs, $"doc_id", $"text", k = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 7L, 0L, "a b c d e x1 x2"),
      (2L, 8L, 5L, "y0 y1 y2"),
      (3L, 6L, 0L, "totally unrelated text without repeats ok")))
  }

  test("bigramLmScore: ppm conditional probabilities match hand computation") {
    val docs = Seq(
      (0L, "a b a b"),   // train: pairs (a,b) (b,a) (a,b)
      (2L, "a c"),       // train: pair (a,c)
      (1L, "a b c"))     // score-only: (a,b) seen, (b,c) unseen
      .toDF("doc_id", "text")
    // train counts: c2(a,b)=2 c2(b,a)=1 c2(a,c)=1; c1(a)=3 c1(b)=1
    // p_ppm: (a,b)=666666, (b,a)=1000000, (a,c)=333333
    val got = TA.bigramLmScore(docs, $"doc_id", $"text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (0L, 3L, 0L, 2333332L, 777777L),
      (1L, 2L, 1L, 666666L, 333333L),
      (2L, 1L, 0L, 333333L, 333333L)))
  }

  test("minhashEstimate: identical docs estimate J=1 with zero error") {
    val docs = Seq(
      (1L, "x y z w v"), (2L, "x y z w v"),
      (3L, "completely different tokens over here now"))
      .toDF("doc_id", "text")
    val shingled = TA.shingleRows(docs, $"doc_id", $"text", 3).distinct()
    val sigs = Dedup.minhashSignatures(shingled, 8)
    val cand = Dedup.lshCandidates(Dedup.minhashBands(shingled, 4, 2))
    val got = Dedup.minhashEstimate(cand, sigs, shingled, 8).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 8L)                       // est_matches = k
    assert(r.getLong(3) == r.getLong(4))             // inter == union
    assert(r.getLong(5) == 1000000L && r.getLong(6) == 1000000L)
    assert(r.getLong(7) == 0L)                       // abs_err_ppm
  }

  test("tfidfTopK: integer idf scoring and per-query ranking match hand computation") {
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "apple banana banana date"),
      (3L, "banana cherry cherry date"),
      (4L, "date egg egg egg")).toDF("doc_id", "text")
    // df: banana 3, date 3, apple 2, cherry 2, egg 1 -> rank order
    // banana, date, apple, cherry, egg. Terms 1-2 = q0, 3-4 = q1.
    // idf: banana/date = 4e6//3 = 1333333; apple/cherry = 2000000.
    val got = TA.tfidfTopK(docs, $"doc_id", $"text",
      termRankLo = 1, termsPerQuery = 2, nQueries = 2, k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (0L, 1L, 2L, 3999999L, 2L),  // banana*2 + date*1
      (0L, 2L, 3L, 2666666L, 2L),
      (0L, 3L, 1L, 1333333L, 1L),  // ties with d4 broken by doc_id
      (1L, 1L, 1L, 6000000L, 2L),  // apple*2 + cherry*1
      (1L, 2L, 3L, 4000000L, 1L),
      (1L, 3L, 2L, 2000000L, 1L)))
  }

  test("dHash64 matches the pixel spec; banded pairing finds the planted near-copies") {
    val docs = Tables.documents(spark, sf).limit(50)
    val hashes = Multimodal.dHash64(Multimodal.asPhashImageTable(docs))
    val got = hashes.orderBy("doc_id").collect()
    assert(got.length == 50)
    got.foreach { r =>
      val id = r.getLong(0)
      var lo = 0L; var hi = 0L
      for (row <- 0 until 8; c <- 0 until 8)
        if (Multimodal.phGray(id, c + 1, row) > Multimodal.phGray(id, c, row)) {
          val pos = row * 8 + c
          if (pos < 32) lo |= 1L << pos else hi |= 1L << (pos - 32)
        }
      assert(r.getLong(1) == lo && r.getLong(2) == hi, s"doc $id")
    }
    val pairs = Multimodal.phashNearDups(hashes).orderBy("doc_a").collect()
    val expected = (0 until 50).filter(i => i % 5 == 4 && i >= 4)
      .map(i => (i - 3L, i.toLong))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == expected)
    assert(pairs.forall(_.getLong(2) <= 2), "one perturbed pixel flips <= 2 bits")
  }

  test("PhashIndex: committed index flags copies and re-crawls, keeps fresh images") {
    val dir = tempRoot("graft_phidx_spec")
      .toString
    def imgs(ids: Seq[Long]) =
      Multimodal.asPhashImageTable(ids.toDF("doc_id"))
    val out1 = graft.llm.PhashIndex
      .processBatch(spark, dir, _ => imgs(Seq(0L, 1L, 2L, 3L)), Some(64))
    assert(out1.filter($"keep").count() == 4) // empty index: all kept
    // 0 = exact re-crawl (hamming 0), 4 = near-copy of doc 1 (<= 2 bits),
    // 100 = fresh content (its own base)
    val out2 = graft.llm.PhashIndex
      .processBatch(spark, dir, _ => imgs(Seq(4L, 0L, 100L)), Some(64))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(out2 == Seq((0L, true, false), (4L, true, false),
      (100L, false, true)))
    // v2 index = batch-1 bands plus the kept fresh image's bands only
    val idx = graft.llm.PhashIndex.load(spark, dir)
    assert(idx.count() <= 20)
    assert(idx.select("hash_lo", "hash_hi").distinct().count() == 5)
  }

  test("dHash128 matches the 17x8 pixel spec; Phash128Index chain flags copies, keeps fresh") {
    val docs = Tables.documents(spark, sf).limit(50)
    val hashes = Multimodal.dHash128(Multimodal.asPhash128ImageTable(docs))
    val got = hashes.orderBy("doc_id").collect()
    assert(got.length == 50)
    got.foreach { r =>
      val id = r.getLong(0)
      val words = new Array[Long](4)
      for (row <- 0 until 8; c <- 0 until 16)
        if (Multimodal.ph128Gray(id, c + 1, row) >
          Multimodal.ph128Gray(id, c, row)) {
          val pos = row * 16 + c
          words(pos >> 5) |= 1L << (pos & 31)
        }
      assert((0 until 4).forall(w => r.getLong(1 + w) == words(w)),
        s"doc $id")
    }
    // planted near-copies stay within Hamming 2 of their base on the
    // wider grid too (one perturbed pixel, two adjacent diffs)
    val byId = got.map(r => r.getLong(0) ->
      (0 until 4).map(w => r.getLong(1 + w))).toMap
    (0 until 50).filter(i => i % 5 == 4 && i >= 4).foreach { i =>
      val a = byId(i.toLong); val b = byId(i - 3L)
      val ham = (0 until 4).map(w =>
        java.lang.Long.bitCount(a(w) ^ b(w))).sum
      assert(ham <= 2, s"near-copy $i hamming $ham")
    }
    // the persisted 128-bit chain: re-crawl + near-copy flagged, fresh kept
    val dir = tempRoot("graft_ph128_spec")
      .toString
    def imgs(ids: Seq[Long]) =
      Multimodal.asPhash128ImageTable(ids.toDF("doc_id"))
    val out1 = graft.llm.PhashIndex
      .processBatch(spark, dir, _ => imgs(Seq(0L, 1L, 2L, 3L)), Some(128))
    assert(out1.filter($"keep").count() == 4)
    val out2 = graft.llm.PhashIndex
      .processBatch(spark, dir, _ => imgs(Seq(4L, 0L, 100L)), Some(128))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(out2 == Seq((0L, true, false), (4L, true, false),
      (100L, false, true)))
    val idx = graft.llm.PhashIndex.load(spark, dir)
    assert(idx.select("h0", "h1", "h2", "h3").distinct().count() == 5)
    // the committed width is pinned: a batch pinned to the other width
    // is refused, and the error names the committed one
    val e = intercept[IllegalArgumentException](graft.llm.PhashIndex
      .processBatch(spark, dir, _ => imgs(Seq(7L)), Some(64)))
    assert(e.getMessage.contains("committed at 128 bits"), e.getMessage)
  }

  test("compactEvery: every index loads the same rows as its uncompacted twin") {
    import graft.llm.{CorpusIndex, NearDupIndex}
    import graft.operators.AtomicTable
    // three batches: a fresh one, one with a re-crawl (0) and a near
    // copy (4), one with fresh docs — compactEvery = 2 folds after the
    // second commit, so the third leaves one delta past the base
    val batches = Seq(Seq(0L, 1L, 2L, 3L), Seq(4L, 0L, 100L),
      Seq(5L, 101L, 1L))
    def docs(ids: Seq[Long]) = ids.map(i => (i,
      s"doc ${Multimodal.phBase(i)} says the quick brown fox jumps over")
    ).toDF("doc_id", "text")
    def check(name: String, load: String => org.apache.spark.sql.DataFrame)
             (run: (String, Seq[Long], Int) => Unit): Unit = {
      val dirs = Seq(2, 0).map { every =>
        val d = tempRoot(s"ce_$name")
          .toString
        batches.foreach(run(d, _, every))
        d
      }
      def rows(d: String) = load(d).collect().map(_.toString).sorted.toSeq
      assert(rows(dirs(0)) == rows(dirs(1)), name)
      assert(rows(dirs(0)).nonEmpty, name)
      assert(AtomicTable.committedBases(spark, dirs(0)).nonEmpty, name)
      assert(AtomicTable.deltasSinceBase(spark, dirs(0)) < 2, name)
    }
    check("exact", CorpusIndex.load(spark, _)) { (d, ids, every) =>
      CorpusIndex.processBatch(spark, d, docs(ids), $"doc_id", $"text",
        compactEvery = every); ()
    }
    check("neardup", NearDupIndex.load(spark, _)) { (d, ids, every) =>
      NearDupIndex.processBatch(spark, d, docs(ids), $"doc_id", $"text",
        compactEvery = every); ()
    }
    Seq(64, 128).foreach { bits =>
      check(s"phash$bits", graft.llm.PhashIndex.load(spark, _)) {
        (d, ids, every) =>
          graft.llm.PhashIndex.processBatch(spark, d, b =>
            if (b == 64) Multimodal.asPhashImageTable(ids.toDF("doc_id"))
            else Multimodal.asPhash128ImageTable(ids.toDF("doc_id")),
            Some(bits), compactEvery = every); ()
      }
    }
  }

  test("ShardedNearDupIndex upsert-delta: commits only changed label rows; compactLabels drops dead rows") {
    import graft.llm.ShardedNearDupIndex
    val zeros = "0" * 64
    val ones = "1" * 64
    def sig(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "simhash")
    val dir = tempRoot("graft_ups_spec")
      .resolve("idx").toString
    def resolved: Map[Long, Long] =
      ShardedNearDupIndex.loadLabels(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def deltaRows(v: Long): Long =
      graft.operators.AtomicTable
        .readVersion(spark, s"$dir/labels", v).get.count()
    // seed shard A: docs 1 (cluster) and 3 (loner, opposite signature)
    ShardedNearDupIndex.seedShards(spark, dir,
      sig(1L -> zeros, 3L -> ones).withColumn("shard", lit(0L)), bits = 64)
    assert(resolved == Map(1L -> 1L, 3L -> 3L))
    assert(deltaRows(0L) == 2)
    // fold shard B: doc 2 joins doc 1's cluster — the delta is ONE row
    // (the new doc at its merged label; no old label moved)
    ShardedNearDupIndex.addShard(spark, dir, sig(2L -> zeros), bits = 64)
    assert(resolved == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(deltaRows(1L) == 1)
    // fold shard C: doc 0 becomes the new min — old rows 1 and 2 MOVE,
    // so the delta is exactly {0, 1, 2}, never the untouched doc 3
    ShardedNearDupIndex.addShard(spark, dir, sig(0L -> zeros), bits = 64)
    assert(resolved ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
    assert(deltaRows(2L) == 3)
    // compactLabels: dead row versions (1->1, 2->1) disappear; the
    // resolved view is unchanged and the base carries one row per id
    ShardedNearDupIndex.compactLabels(spark, dir)
    assert(graft.operators.AtomicTable
      .readMerged(spark, s"$dir/labels").get.count() == 4)
    assert(resolved ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
    // a delta committed AFTER the fold still wins over the base
    ShardedNearDupIndex.addShard(spark, dir, sig(10L -> ones), bits = 64)
    assert(resolved(10L) == 3L)
    // REPLAY regression (r18 ADVICE, medium): re-fold a shard whose
    // labels are already committed. Doc 2's committed label is 0 (≠ its
    // id) — the re-committed delta must carry (2 -> 0) again, never
    // (2 -> 2), which as a higher-lab_v upsert would overwrite the
    // correct label and silently split the committed cluster.
    ShardedNearDupIndex.addShard(spark, dir, sig(2L -> zeros), bits = 64)
    assert(resolved ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 10L -> 3L))
    val vReplay = graft.operators.AtomicTable
      .committedVersions(spark, s"$dir/labels").max
    assert(graft.operators.AtomicTable
      .readVersion(spark, s"$dir/labels", vReplay).get
      .select("id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 0L)))
    // legacy snapshot layout (a pre-upsert-delta labels dir) stays
    // readable
    val dir2 = tempRoot("graft_ups_spec2")
      .resolve("idx").toString
    graft.operators.AtomicTable.commit(
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L).toDF("id", "component"),
      s"$dir2/labels", 0L)
    assert(ShardedNearDupIndex.loadLabels(spark, dir2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // layout guard (r18 ADVICE): mixing layouts is refused at the write
    // boundary — a delta fold onto a snapshot-seeded dir would flip the
    // dir and union lab_v-less snapshots as live deltas
    assertThrows[IllegalArgumentException] {
      ShardedNearDupIndex.addShard(spark, dir2, sig(5L -> zeros),
        bits = 64)
    }
    // a seed onto it is refused before its bands delta lands
    assertThrows[IllegalArgumentException] {
      ShardedNearDupIndex.seedShards(spark, dir2,
        sig(5L -> zeros).withColumn("shard", lit(0L)), bits = 64)
    }
    assert(graft.operators.AtomicTable
      .committedVersions(spark, s"$dir2/bands").isEmpty)
  }

  test("phash banding: Hamming<=3 always shares a band; 4 spread bits can evade") {
    val hashes = Seq(
      (1L, 0L, 0L),
      (2L, 1L | 65536L, 1L),           // bits in bands 0, 1, 2; band 3 empty
      (3L, 1L | 65536L, 1L | 65536L))  // one bit in every band
      .toDF("doc_id", "hash_lo", "hash_hi")
    val pairs = Multimodal.phashNearDups(hashes, maxHamming = 10)
      .select("doc_a", "doc_b", "hamming").orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (1,2): 3 bits across bands 0/1/2 but band 3 agrees -> found, hamming 3.
    // (1,3): 4 bits, one per band -> NO shared band: absent even at cap 10
    //        (the pigeonhole guarantee is exactly Hamming <= bands - 1).
    // (2,3): differ only inside band 3 -> found, hamming 1.
    assert(pairs == Seq((1L, 2L, 3L), (2L, 3L, 1L)))
  }

  test("audioEnergyFeatures: windowed energy matches direct recompute from the spec") {
    val docs = Tables.documents(spark, sf).limit(20)
    val got = Multimodal.audioEnergyFeatures(
      Multimodal.decodeAudioFrames(Multimodal.asAudioTable(docs)))
      .orderBy("doc_id").collect()
    assert(got.length == 20)
    got.foreach { r =>
      val id = r.getLong(0)
      val n = Multimodal.wavFrames(id)
      val stereo = Multimodal.wavChannels(id) == 2
      val energies = (0 until n).grouped(16).map(_.map { f =>
        val s = Multimodal.wavSample(id, f, 0).toLong; s * s
      }.sum).toSeq
      assert(r.getLong(1) == n.toLong)
      assert(r.getLong(2) == energies.length.toLong)
      assert(r.getLong(3) == energies.sum)
      val peakE = energies.max
      assert(r.getLong(4) == energies.indexOf(peakE).toLong)
      assert(r.getLong(5) == peakE)
      if (stereo) {
        val e1 = (0 until n).map { f =>
          val s = Multimodal.wavSample(id, f, 1).toLong; s * s
        }.sum
        assert(r.getLong(6) == e1)
      } else assert(r.isNullAt(6))
    }
  }

  test("decodeAudio: zero-frame WAV yields null endpoints, zero sums") {
    import javax.sound.sampled._
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(Array.emptyByteArray), fmt, 0L),
      AudioFileFormat.Type.WAVE, baos)
    val in = Seq((0L, baos.toByteArray)).toDF("doc_id", "payload")
    val r = Multimodal.decodeAudio(in).collect().head
    assert(r.getLong(3) == 0L)   // n_frames
    assert(r.isNullAt(4) && r.isNullAt(5)) // first/last sample
    assert(r.getLong(6) == 0L)   // sum_c0
  }

  test("real Y4M round trip: parsed container matches the plane spec") {
    val docs = Tables.documents(spark, sf).limit(25)
    val decoded = Multimodal.decodeVideo(Multimodal.asVideoTable(docs))
      .orderBy("doc_id").collect()
    assert(decoded.length == 25)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (w, h, n) = (Multimodal.vidWidth(id), Multimodal.vidHeight(id),
        Multimodal.vidFrames(id))
      assert(r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getInt(3) == Multimodal.vidFpsNum(id))
      assert(r.getLong(4) == n.toLong)
      assert(r.getInt(5) == Multimodal.vidLuma(id, 0, 0, 0))
      val expLuma = (for { f <- 0 until n; y <- 0 until h; x <- 0 until w }
        yield Multimodal.vidLuma(id, x, y, f).toLong).sum
      assert(r.getLong(6) == expLuma)
      assert(r.getLong(7) == n.toLong * 2 * (w / 2) * (h / 2) * 128)
    }
    // malformed container fails fast, not silently
    val bad = Seq((1L, "not a y4m".getBytes)).toDF("doc_id", "payload")
    intercept[Exception] { Multimodal.decodeVideo(bad).collect() }
  }

  test("real ImageIO round trip: decoded raster matches the pixel spec") {
    val docs = Tables.documents(spark, sf).limit(40)
    val decoded = Multimodal.decodeImages(Multimodal.asImageTable(docs))
      .orderBy("doc_id").collect()
    assert(decoded.length == 40)
    assert(decoded.map(_.getString(1)).toSet == Set("png", "bmp", "gif"))
    decoded.foreach { r =>
      val id = r.getLong(0)
      val gray = id % 8 == 1 // gif arm: grayscale identity-ramp palette
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      assert(r.getInt(2) == w && r.getInt(3) == h)
      assert(r.getInt(4) == 3) // channels (incl. decoded GIF palette)
      assert(r.getInt(5) == Multimodal.pixR(id, 0, 0))
      assert(r.getInt(8) == Multimodal.pixR(id, w - 1, h - 1))
      assert(r.getInt(10) == (if (gray) Multimodal.pixR(id, w - 1, h - 1)
                              else Multimodal.pixB(id, w - 1, h - 1)))
      def expSum(f: (Long, Int, Int) => Int) = (0 until h).map(y =>
        (0 until w).map(x => f(id, x, y).toLong).sum).sum
      assert(r.getLong(12) ==
        (if (gray) expSum(Multimodal.pixR) else expSum(Multimodal.pixG)))
    }
  }

  test("frameSample drops empty payloads instead of crashing the explode") {
    // n_frames=0 would make sequence(0,-1,stride) throw at runtime;
    // the empty row must be filtered, non-empty rows sampled normally.
    val media = Seq(
      (1L, "video", "abcdefghijklmnopqrstuvwxyz0123456789"), // 36 B → 3 frames
      (2L, "video", ""))                                      // empty payload
      .toDF("doc_id", "media_type", "text")
      .select($"doc_id", $"media_type", encode($"text", "UTF-8").as("payload"))
    val got = Multimodal.frameSample(media)
      .orderBy("doc_id", "frame_idx").collect()
    assert(got.map(_.getLong(0)).distinct.toSeq == Seq(1L))
    assert(got.map(r => r.getLong(r.fieldIndex("frame_idx"))).toSeq ==
      Seq(0L))  // 3 frames, stride 3 → only frame 0
    assert(got.head.getAs[Int]("frame_lead_byte") == 'a'.toInt)
  }

  test("repetition signals: top and duplicate bigram fractions") {
    // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] → 5 total,
    // top "a b"×3, all 5 occurrences are of duplicated bigrams.
    // "x y z": bigrams = [x y, y z] → all unique.
    val docs = Seq((1L, "a b a b a b"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TA.repetitionSignals(docs, $"doc_id", $"text", n = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_ngrams", "top_ngram_count",
        "dup_ngram_occurrences")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 5L, 3L, 5L), (2L, 2L, 1L, 0L)))
    // doc 3 has a single token → no bigrams → absent
  }

  test("contamination: benchmark n-gram collisions flag the leaked doc") {
    import graft.llm.Contamination
    val bench = Seq((100L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"), // shares 3-grams → flagged
      (2L, "totally unrelated text content here"))
      .toDF("doc_id", "text")
    val got = Contamination.contaminationScores(corpus, bench,
      $"doc_id", $"text", n = 3, threshold = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_contaminated", "is_contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
    // doc 1: 4 distinct trigrams, 3 collide ("the quick brown",
    // "quick brown fox", "brown fox jumps") → 0.75 ≥ 0.5;
    // doc 2: 5 tokens → 3 trigrams, none collide.
    assert(got.toSeq == Seq((1L, 4L, 3L, true), (2L, 3L, 0L, false)))
  }

  test("PII scrub redacts emails and phones, counts each type") {
    val docs = Seq(
      (1L, "write to a.b+c@sub.example.org or call 555-1234 now"),
      (2L, "no pii here, just 12-34 and almost@nothing"))
      .toDF("doc_id", "text")
    val got = TA.withPiiScrub(docs, $"text")
      .orderBy("doc_id")
      .select("n_emails", "n_phones", "scrubbed_text")
      .as[(Long, Long, String)].collect()
    assert(got(0) == ((1L, 1L, "write to <EMAIL> or call <PHONE> now")))
    assert(got(1) == ((0L, 0L,
      "no pii here, just 12-34 and almost@nothing")))
  }

  test("corpus curation chain tags each doc with its first failing gate") {
    val keptText = "the alpha and beta of gamma is delta for epsilon " +
      "on zeta with eta theta iota kappa"
    val docs = Seq(
      (1L, keptText),                           // kept
      (2L, keptText),                           // exact duplicate of 1
      (3L, "el perro de la casa y que"),        // language gate
      (4L, "the cat the cat the cat the cat"),  // short+repetitive → quality
      (5L, Seq.fill(20)("the cat sat").mkString(" "))) // repetition gate
      .toDF("doc_id", "text")
    // drive the operator composition directly (the registered
    // t_corpus_curation query wraps the same chain around
    // Tables.documents)
    import graft.llm.Dedup
    val toks = TA.tokens($"text")
    val rowSignals = TA.withQuality(docs, $"text")
      .withColumn("predicted_lang", TA.langId(toks))
      .select("doc_id", "predicted_lang", "quality_score")
    val dd = Dedup.exact(docs, $"doc_id", $"text")
      .select($"doc_id", $"is_duplicate")
    val rep = TA.repetitionSignals(docs, $"doc_id", $"text", n = 2)
      .select($"doc_id", $"top_ngram_fraction")
    val joined = rowSignals.join(dd, Seq("doc_id"))
      .join(rep, Seq("doc_id"), "left")
      .withColumn("rep_fraction",
        coalesce($"top_ngram_fraction", lit(0.0)))
      .withColumn("drop_reason",
        when($"predicted_lang" =!= "en", "language")
          .when($"quality_score" < 0.5, "quality")
          .when($"is_duplicate", "duplicate")
          .when($"rep_fraction" >= 0.2, "repetition")
          .otherwise("kept"))
    val got = joined.orderBy("doc_id")
      .select("doc_id", "drop_reason")
      .as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "kept"), (2L, "duplicate"),
      (3L, "language"), (4L, "quality"), (5L, "repetition")))
  }

  test("vocab top-k ranks by freq desc then token, shares sum to <= 1") {
    val docs = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    val got = TA.vocabTopK(docs, $"text", k = 3)
      .select("rank", "token", "freq", "token_share")
      .as[(Int, String, Long, Double)].collect().sortBy(_._1)
    // freq: a=3, b=3, c=1, d=1 → tie a/b broken by token asc; k=3 cuts
    // the c/d tie at c (token asc).
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1, "a", 3L), (2, "b", 3L), (3, "c", 1L)))
    assert(math.abs(got.map(_._4).sum - 7.0 / 8.0) < 1e-12)
  }

  test("langId picks marker-argmax with fixed tie order") {
    val df = Seq("the cat and the dog", "el perro de la casa y que",
      "zzz qqq").toDF("text")
    val got = df.select(TA.langId(TA.tokens($"text"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("leakageSafeSplit: whole clusters move together; doc-grain hash would not") {
    // Components: {1,2,3} labeled 1, {10,11} labeled 10, {20} singleton.
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("id", "component")
    val sp = TA.leakageSafeSplit(labels, seed = "s", valPct = 10,
      testPct = 10)
    assert(sp.columns.toSeq ==
      Seq("doc_id", "component", "sample_bucket", "split"))
    val rows = sp.select("doc_id", "component", "split")
      .as[(Long, Long, String)].collect()
    assert(rows.length == 6)
    // split is a FUNCTION of the component: one split per component.
    val perComp = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(perComp.values.forall(_.size == 1))
    // and membership only depends on the component label, so the same
    // label under a different doc set gets the same split (stability).
    val again = TA.leakageSafeSplit(
      Seq((99L, 1L)).toDF("id", "component"), "s", 10, 10)
      .select("split").as[String].head()
    assert(again == perComp(1L).head)
    // different seed may reassign (not pinned — just exercised)
    TA.leakageSafeSplit(labels, "other", 10, 10).collect()
  }

  test("shardedTopK: exact counts, TPUT certificate, and the pruning bound") {
    // 2 shards; token distribution crafted so 'z' is NOT in either
    // shard's top-2 though globally mid-sized — the pruned case the
    // tau bound covers: global('z') = 4 < tau = 3 + 3 = 6.
    val occ =
      Seq.fill(5)((0, "a")) ++ Seq.fill(3)((0, "b")) ++
        Seq.fill(2)((0, "z")) ++
        Seq.fill(6)((1, "c")) ++ Seq.fill(3)((1, "d")) ++
        Seq.fill(2)((1, "z"))
    val tok = occ.toDF("shard", "token")
    val got = TA.shardedTopK(tok, $"shard", $"token", perShard = 2, k = 3)
      .select("rank", "token", "global_cnt", "tau", "above_threshold")
      .as[(Long, String, Long, Long, Boolean)].collect().toSeq
    // candidates = {a,b} ∪ {c,d}; exact global counts; top-3 by
    // (cnt DESC, token): c=6, a=5, then b=3 vs d=3 -> 'b'.
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, "c", 6L), (2L, "a", 5L), (3L, "b", 3L)))
    // tau = 2nd count of shard0 (3) + 2nd count of shard1 (3) = 6:
    // ranks with global_cnt >= 6 are certified, the tail is not —
    // honest: 'z' (4) was pruned and could in principle outrank 'b'.
    assert(got.map(r => (r._4, r._5)) ==
      Seq((6L, true), (6L, false), (6L, false)))
    // A shard smaller than perShard contributes nothing to tau
    // (certificate trivially passes when nothing was pruned).
    val small = Seq((0, "x"), (0, "y"), (0, "x")).toDF("shard", "token")
    val s2 = TA.shardedTopK(small, $"shard", $"token", perShard = 5, k = 2)
      .select("tau", "above_threshold").as[(Long, Boolean)].collect()
    assert(s2.forall { case (tau, ok) => tau == 0L && ok })
  }
}
