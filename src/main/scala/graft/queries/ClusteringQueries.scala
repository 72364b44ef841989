package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.llm.{Clustering, Similarity}

/** Clustering family: distributed integer-exact k-means (Lloyd),
  * SemDeDup semantic pruning, and trained-centroid IVF ANN. The DuckDB
  * oracles replay the FULL Lloyd iteration chain
  * ([[Clustering.kmeansOracleCtes]]) — assignment argmin, floor-mean
  * centroid updates, final ranked assignment — in exact integer
  * arithmetic, so these are hash-gated end to end, iterations included.
  */
object ClusteringQueries {

  private val Stride = 50
  private val Iters  = 2
  // PQ and IVF-PQ twins: subspace and coarse codebook strides, probes
  private val PqStride = 100
  private val CoarseStride = 100
  private val NProbe = 2

  /** The exact baseline of the recall queries: `qe`/`ce` rows of the
    * first 100 vectors and of the corpus, `norms`, and `ex(query_id,
    * cand_id)`: each query's exact cosine top 5 (ties to the smaller
    * cand_id). */
  private val exactTop5Ctes: String = {
    val dims = Q.embeddingDimCtes("embeddings WHERE vec_id < 100",
      "embeddings")
    s"""$dims, ${Q.normsCte("embeddings")}, exact_dots AS (
       |  SELECT query_id, cand_id, ${Q.dotSql} AS dot
       |  FROM qe JOIN ce USING (pos)
       |  WHERE query_id <> cand_id
       |  GROUP BY query_id, cand_id
       |), ex AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT d.query_id, d.cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY d.query_id
       |      ORDER BY CAST(dot AS DOUBLE) / (qn.norm * cn.norm) DESC,
       |               d.cand_id) AS rank
       |    FROM exact_dots d
       |    JOIN norms qn ON qn.id = d.query_id
       |    JOIN norms cn ON cn.id = d.cand_id
       |  ) WHERE rank <= 5
       |)""".stripMargin
  }

  /** k-means — final assignment, exact integer distance, cluster size.
    * Two Lloyd rounds from the stride-sample init (stride=50 ⇒ k scales
    * with the corpus: 10 cells at sf0.01, 40 at sf0.1). */
  val cKmeans: Q = Q.sql(
    "c_kmeans",
    s"""WITH ${Clustering.kmeansOracleCtes("embeddings", Stride, Iters)}
      |SELECT vec_id, cid AS cluster_id, dist_sq,
      |  COUNT(*) OVER (PARTITION BY cid) AS cluster_size
      |FROM af WHERE rn = 1
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val (a, _) = Clustering.kmeans(s, Tables.embeddings(s, d),
      Stride, Iters)
    a.select(col("vec_id"), col("cid").as("cluster_id"), col("dist_sq"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy("vec_id")
  }

  /** SemDeDup — cluster, then prune any vector with a smaller-id
    * cluster-mate at cosine ≥ 0.999. The random corpus has no natural
    * near-dups (max pairwise cosine ≈ 0.5), so exact copies are planted
    * (vec_id+100000 for vec_id < 50): identical vectors have identical
    * integer distance profiles, land in the same cell, and must be the
    * exact set pruned. */
  val ddSemDeDup: Q = Q.sql(
    "dd_semdedup",
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id < 50
      |), ${Clustering.kmeansOracleCtes("corpus", Stride, Iters)}
      |, mem AS (
      |  SELECT vec_id, cid FROM af WHERE rn = 1
      |), prs AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      |  FROM mem a JOIN mem b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |), ${Q.embeddingDimCtes("corpus", "corpus", "doc_a", "doc_b")}, dots AS (
      |  SELECT prs.doc_a, prs.doc_b, ${Q.dotSql} AS dot
      |  FROM prs
      |  JOIN qe ON qe.doc_a = prs.doc_a
      |  JOIN ce ON ce.doc_b = prs.doc_b AND ce.pos = qe.pos
      |  GROUP BY prs.doc_a, prs.doc_b
      |), ${Q.normsCte("corpus")}, matches AS (
      |  SELECT doc_b AS vec_id, MIN(doc_a) AS pruned_by
      |  FROM dots
      |  JOIN norms qn ON qn.id = doc_a
      |  JOIN norms cn ON cn.id = doc_b
      |  WHERE CAST(dot AS DOUBLE) / (qn.norm * cn.norm) >= 0.999
      |  GROUP BY doc_b
      |)
      |SELECT mem.vec_id, mem.cid AS cluster_id,
      |  (pruned_by IS NOT NULL) AS is_pruned, pruned_by
      |FROM mem LEFT JOIN matches USING (vec_id)
      |ORDER BY mem.vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val corpus = emb.unionByName(
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Clustering.semDeDup(s, corpus, Stride, Iters, threshold = 0.999)
      .orderBy("vec_id")
  }

  /** Trained-IVF ANN — every vector queries its 2 nearest TRAINED cells
    * (same probe/assign shape as ann_ivf_topk, but the coarse quantizer
    * is the 2-round Lloyd result instead of a stride sample). */
  val annKmeansIvf: Q = Q.sql(
    "ann_kmeans_ivf",
    s"""WITH ${Clustering.kmeansOracleCtes("embeddings", Stride, Iters)}
      |, assign AS (
      |  SELECT vec_id AS cand_id, cid FROM af WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cid FROM af WHERE rn <= 2
      |), cand AS (
      |  SELECT query_id, cand_id
      |  FROM probes JOIN assign USING (cid)
      |  WHERE query_id <> cand_id
      |), ${Q.candCosineTop5Sql}""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val rows = Clustering.quantRows(emb)
    val cent = Clustering.train(s, rows, Stride, Iters)
    Clustering.ivfTopKTrained(s, emb, emb.select("vec_id"), k = 5,
      cent, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** ANN quality evaluation — recall of the trained-IVF path against
    * the EXACT brute-force top-5, measured in-engine for the first 100
    * query vectors: per query, how many of the true 5 nearest
    * neighbors the 2-probe IVF index returned. This is the operator a
    * production ANN deployment runs before trusting an index (recall
    * ≥ target at chosen nProbe); integer overlap counts, no division,
    * so the whole evaluation is hash-gated. Brute force stays bounded:
    * the query subset is broadcast against the corpus — the same
    * exact-baseline shape as `ann_cosine_topk`. On this synthetic
    * UNIFORM-random corpus the measured recall@5 is ~0.23 at sf0.1:
    * 2 probes of ~40 cells cover ~5% of a structureless corpus, and
    * reporting that honestly (rather than assuming the index works) is
    * precisely this operator's job — on real clustered embeddings the
    * same measurement drives the nProbe/recall trade-off. */
  val annRecallEval: Q = Q.sql(
    "ann_recall_eval",
    s"""WITH ${Clustering.kmeansOracleCtes("embeddings", Stride, Iters)}
      |, assign AS (
      |  SELECT vec_id AS cand_id, cid FROM af WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS query_id, cid FROM af
      |  WHERE rn <= 2 AND vec_id < 100
      |), $exactTop5Ctes, ivf_cand AS (
      |  SELECT probes.query_id, assign.cand_id
      |  FROM probes JOIN assign USING (cid)
      |  WHERE probes.query_id <> assign.cand_id
      |), ivf_dots AS (
      |  SELECT c.query_id, c.cand_id, ${Q.dotSql} AS dot
      |  FROM ivf_cand c
      |  JOIN qe ON qe.query_id = c.query_id
      |  JOIN ce ON ce.cand_id = c.cand_id AND ce.pos = qe.pos
      |  GROUP BY c.query_id, c.cand_id
      |), iv AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT d.query_id, d.cand_id, ROW_NUMBER() OVER (
      |      PARTITION BY d.query_id
      |      ORDER BY CAST(dot AS DOUBLE) / (qn.norm * cn.norm) DESC,
      |               d.cand_id) AS rank
      |    FROM ivf_dots d
      |    JOIN norms qn ON qn.id = d.query_id
      |    JOIN norms cn ON cn.id = d.cand_id
      |  ) WHERE rank <= 5
      |), exc AS (
      |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      |  FROM ex GROUP BY 1
      |), ivc AS (
      |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_ivf
      |  FROM iv GROUP BY 1
      |), ovc AS (
      |  SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      |  FROM ex JOIN iv ON iv.query_id = ex.query_id
      |               AND iv.cand_id = ex.cand_id
      |  GROUP BY ex.query_id
      |)
      |SELECT exc.query_id, n_exact,
      |  COALESCE(n_ivf, CAST(0 AS BIGINT)) AS n_ivf,
      |  COALESCE(n_overlap, CAST(0 AS BIGINT)) AS n_overlap
      |FROM exc
      |LEFT JOIN ivc ON ivc.query_id = exc.query_id
      |LEFT JOIN ovc ON ovc.query_id = exc.query_id
      |ORDER BY exc.query_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val qset = emb.filter(col("vec_id") < 100)
    val exact = Similarity.bruteForceTopK(qset, emb, k = 5)
      .select("query_id", "cand_id")
    val cent = Clustering.train(s, Clustering.quantRows(emb), Stride, Iters)
    val ivf = Clustering.ivfTopKTrained(s, emb, qset.select("vec_id"),
      k = 5, cent, nProbe = 2)
      .select("query_id", "cand_id")
    val exc = exact.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_exact"))
    val ivc = ivf.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_ivf"))
    val ovc = exact.join(ivf, Seq("query_id", "cand_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_overlap"))
    exc.join(ivc, Seq("query_id"), "left")
      .join(ovc, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_exact"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy("query_id")
  }

  /** ANN recall-vs-cost CURVE — recall@5 of the trained-IVF index at
    * nProbe ∈ {1,2,4,8} against the exact brute-force top-5, one row
    * per sweep point (integer overlap counts; recall = n_overlap /
    * n_exact). Monotone in nProbe by construction (a larger probe list
    * is a superset of candidates), so the curve MEASURES the
    * recall/cost trade-off `ann_recall_eval` reports a single point of
    * — the index-tuning decision a production deployment makes before
    * trusting an nProbe setting. One shared ranked-probe computation
    * serves the whole sweep ([[Clustering.ivfProbeSweep]]). */
  val annRecallCurve: Q = Q.sql(
    "ann_recall_curve",
    s"""WITH ${Clustering.kmeansOracleCtes("embeddings", Stride, Iters)}
      |, assign AS (
      |  SELECT vec_id AS cand_id, cid FROM af WHERE rn = 1
      |), pn AS (
      |  SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS n_probe
      |), probes AS (
      |  SELECT pn.n_probe, af.vec_id AS query_id, af.cid
      |  FROM af CROSS JOIN pn
      |  WHERE af.vec_id < 100 AND af.rn <= pn.n_probe
      |), $exactTop5Ctes, ivf_cand AS (
      |  SELECT p.n_probe, p.query_id, a.cand_id
      |  FROM probes p JOIN assign a USING (cid)
      |  WHERE p.query_id <> a.cand_id
      |), ivf_dots AS (
      |  SELECT c.n_probe, c.query_id, c.cand_id, ${Q.dotSql} AS dot
      |  FROM ivf_cand c
      |  JOIN qe ON qe.query_id = c.query_id
      |  JOIN ce ON ce.cand_id = c.cand_id AND ce.pos = qe.pos
      |  GROUP BY 1, 2, 3
      |), iv AS (
      |  SELECT n_probe, query_id, cand_id FROM (
      |    SELECT d.n_probe, d.query_id, d.cand_id, ROW_NUMBER() OVER (
      |      PARTITION BY d.n_probe, d.query_id
      |      ORDER BY CAST(dot AS DOUBLE) / (qn.norm * cn.norm) DESC,
      |               d.cand_id) AS rank
      |    FROM ivf_dots d
      |    JOIN norms qn ON qn.id = d.query_id
      |    JOIN norms cn ON cn.id = d.cand_id
      |  ) WHERE rank <= 5
      |), exc AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex
      |), ivc AS (
      |  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_ivf
      |  FROM iv GROUP BY 1
      |), ovc AS (
      |  SELECT iv.n_probe, CAST(COUNT(*) AS BIGINT) AS n_overlap
      |  FROM iv JOIN ex ON ex.query_id = iv.query_id
      |               AND ex.cand_id = iv.cand_id
      |  GROUP BY 1
      |)
      |SELECT ivc.n_probe, exc.n_exact, ivc.n_ivf,
      |  COALESCE(ovc.n_overlap, CAST(0 AS BIGINT)) AS n_overlap
      |FROM ivc CROSS JOIN exc
      |LEFT JOIN ovc ON ovc.n_probe = ivc.n_probe
      |ORDER BY ivc.n_probe""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val qset = emb.filter(col("vec_id") < 100)
    val exact = Similarity.bruteForceTopK(qset, emb, k = 5)
      .select("query_id", "cand_id")
    val cent = Clustering.train(s, Clustering.quantRows(emb), Stride, Iters)
    val ivf = Clustering.ivfProbeSweep(s, emb, qset.select("vec_id"),
      k = 5, cent, nProbes = Seq(1, 2, 4, 8))
      .select("n_probe", "query_id", "cand_id")
    val nEx = exact.agg(count(lit(1)).cast("long").as("n_exact"))
    val ivc = ivf.groupBy("n_probe")
      .agg(count(lit(1)).cast("long").as("n_ivf"))
    val ovc = ivf.join(exact, Seq("query_id", "cand_id"))
      .groupBy("n_probe")
      .agg(count(lit(1)).cast("long").as("n_overlap"))
    ivc.crossJoin(broadcast(nEx))
      .join(ovc, Seq("n_probe"), "left")
      .select(col("n_probe"), col("n_exact"), col("n_ivf"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .orderBy("n_probe")
  }

  /** PQ-ADC ANN ([[Clustering.pqTopK]]) — 4 independent 16-dim Lloyd
    * codebooks, per-vector codes, per-query exact integer distance LUTs,
    * approx_dist = Σ table lookups, top-5 per query flagged against the
    * exact full-dimension top-5. The oracle replays all four subspace
    * training chains (prefixed [[Clustering.kmeansOracleCtes]]), the
    * encode, the LUTs, the ADC ranking AND the exact baseline — the
    * entire index lifecycle is one hash gate. */
  val annPqAdc: Q = pqAdcQ("ann_pq_adc", "embeddings", "") { (s, d) =>
    Clustering.pqTopK(s, Tables.embeddings(s, d), mSub = 4, subDim = 16,
      stride = 100, iters = Iters, queryMod = 97, k = 5)
      .orderBy("query_id", "rank")
  }

  /** The OPQ rotation of `embeddings` as CTE `rot(vec_id, embedding)`
    * (via `opq1`): the two block-Givens stages of [[Clustering.opqRotate]]
    * as literal 64-element lists; to follow `WITH `. */
  private val opqPrelude: String = {
    val accIn = (j: Int) => s"CAST(embedding[${j + 1}] AS DOUBLE)"
    val accR1 = (j: Int) => s"r1e[${j + 1}]"
    val s1 = Clustering.opqStage1Exprs(64, accIn).mkString("[", ",\n    ", "]")
    val s2 = Clustering.opqStage2Exprs(64, accR1).mkString("[", ",\n    ", "]")
    s"""opq1 AS (
       |  SELECT vec_id, $s1 AS r1e FROM embeddings
       |), rot AS (
       |  SELECT vec_id, $s2 AS embedding FROM opq1
       |),
       |""".stripMargin
  }

  /** OPQ ARM ([[Clustering.opqRotate]] → [[Clustering.pqTopK]]) — the
    * seeded block-Givens orthogonal rotation applied BEFORE the PQ
    * subspace split, at IDENTICAL code budget to `ann_pq_adc` (same
    * mSub/subDim/stride/iters/queryMod/k), so the two dumped frames
    * compare raw-PQ vs OPQ recall directly (`hit_exact` flags against
    * each space's exact baseline; distances are rotation-invariant up
    * to quantization). The twin replays the rotation as two literal
    * 64-element list CTEs — elementwise double arithmetic both engines
    * evaluate bit-identically — then the full 4-subspace training/
    * encode/LUT/ADC/baseline chain over the rotated space. */
  val annOpq: Q = pqAdcQ("ann_opq", "rot", opqPrelude) { (s, d) =>
    Clustering.pqTopK(s,
      Clustering.opqRotate(Tables.embeddings(s, d)),
      mSub = 4, subDim = 16, stride = 100, iters = Iters,
      queryMod = 97, k = 5)
      .orderBy("query_id", "rank")
  }

  /** OPQ-vs-PQ RECALL A/B at equal code budget — the summary row
    * `ann_opq` doesn't gate: both full lifecycles (raw-space PQ and
    * rotated-space OPQ, identical mSub/subDim/stride/iters/queryMod/k)
    * in ONE query, reduced to per-method recall counts against each
    * space's exact baseline. This is the measurement that justifies
    * (or rejects) paying for the rotation on a given corpus — the
    * ANN-side analog of `dd_simhash_eval`'s two-layout confusion
    * matrix. On THIS corpus it rejects it: the testdata embeddings
    * have near-independent dimensions, so the seeded rotation has no
    * cross-dim energy to rebalance and quantization noise dominates
    * (measured draws: pq/opq hits 2/2 at sf0.01, 10/3 at sf0.1) —
    * exactly the decision data a curator needs before paying for OPQ;
    * rotations win on real encoder embeddings with correlated dims
    * (Ge et al. 2013, §1). Spark reuses the train memo from the
    * single-arm queries; the twin replays both chains with prefixed
    * CTEs ([[pqAdcArmCtes]]). */
  val annOpqVsPq: Q = Q.sql(
    "ann_opq_vs_pq",
    s"""WITH $opqPrelude${pqAdcArmCtes("embeddings", "a")},
      |${pqAdcArmCtes("rot", "b")}
      |SELECT method, n_results, n_hits FROM (
      |  SELECT 'pq' AS method, CAST(COUNT(*) AS BIGINT) AS n_results,
      |    CAST(SUM(CASE WHEN hit_exact THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hits
      |  FROM ares
      |  UNION ALL
      |  SELECT 'opq', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN hit_exact THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM bres
      |) ORDER BY method""".stripMargin) { (s, d) =>
    def arm(df: org.apache.spark.sql.DataFrame, m: String) =
      df.agg(count(lit(1)).cast("long").as("n_results"),
          sum(when(col("hit_exact"), 1).otherwise(0)).cast("long")
            .as("n_hits"))
        .select(lit(m).as("method"), col("n_results"), col("n_hits"))
    val pq = Clustering.pqTopK(s, Tables.embeddings(s, d),
      mSub = 4, subDim = 16, stride = 100, iters = Iters,
      queryMod = 97, k = 5)
    val opq = Clustering.pqTopK(s,
      Clustering.opqRotate(Tables.embeddings(s, d)),
      mSub = 4, subDim = 16, stride = 100, iters = Iters,
      queryMod = 97, k = 5)
    arm(pq, "pq").unionByName(arm(opq, "opq")).orderBy("method")
  }

  /** `<p>s0..<p>s3`: the four 16-dim subspace slices of `source`. */
  private def pqSlicesSql(source: String, p: String): String =
    (0 until 4).map(m =>
      s"${p}s$m AS (SELECT vec_id, embedding[${m * 16 + 1}:${(m + 1) * 16}]" +
        s" AS embedding FROM $source)").mkString(",\n")

  /** The Lloyd chains of the [[pqSlicesSql]] slices, prefixed
    * `<p>q0..<p>q3` ([[Clustering.kmeansOracleCtes]]). */
  private def pqChainsSql(p: String): String =
    (0 until 4).map(m =>
      Clustering.kmeansOracleCtes(s"${p}s$m", PqStride, Iters,
        prefix = s"${p}q$m")).mkString(",\n")

  /** CTE `cte(vec_id, sub, code)`: each vector's nearest final centroid
    * in the four subspace chains prefixed `<chain>0..<chain>3`. */
  private def pqCodesCte(cte: String, chain: String): String = {
    val arms = (0 until 4).map(m =>
      s"SELECT vec_id, $m AS sub, cid AS code FROM $chain${m}af WHERE rn = 1")
      .mkString("\n  UNION ALL ")
    s"""$cte AS (
       |  $arms
       |)""".stripMargin
  }

  /** CTE `<p>lut(query_id, sub, cid, d)`: the squared distance from each
    * query `<p>qids` slice to every final centroid of the chains
    * `<p>q0..<p>q3`. */
  private def pqLutCte(p: String): String = {
    val arms = (0 until 4).map(m =>
      s"""SELECT v.vec_id AS query_id, $m AS sub, c.cid,
        |    CAST(SUM((v.qv - c.cv) * (v.qv - c.cv)) AS BIGINT) AS d
        |  FROM ${p}q${m}ve v JOIN ${p}qids ON ${p}qids.query_id = v.vec_id
        |  JOIN ${p}q${m}c$Iters c ON c.pos = v.pos GROUP BY 1, 2, 3"""
        .stripMargin).mkString("\n  UNION ALL ")
    s"""${p}lut AS (
       |  $arms
       |)""".stripMargin
  }

  /** CTE `<p>ranked(query_id, vec_id, approx_dist, rank)`: each query's
    * candidates in `<p>approx` by approximate distance, ties to the
    * smaller vec_id. */
  private def pqRankedCte(p: String): String =
    s"""${p}ranked AS (
       |  SELECT query_id, vec_id, approx_dist, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY approx_dist, vec_id) AS BIGINT)
       |    AS rank
       |  FROM ${p}approx
       |)""".stripMargin

  /** The exact baseline over the quantized full-dimension rows
    * `<p>gve(vec_id, pos, qv)`: `<p>qrows` holds the queries' rows,
    * `<p>escored` every exact squared distance, and `<p>etop(query_id,
    * vec_id)` each query's exact top 5. */
  private def pqExactTopCtes(p: String): String =
    s"""${p}qrows AS (
       |  SELECT ${p}qids.query_id, g.pos, g.qv AS q_qv
       |  FROM ${p}gve g JOIN ${p}qids ON ${p}qids.query_id = g.vec_id
       |), ${p}escored AS (
       |  SELECT q.query_id, g.vec_id,
       |    CAST(SUM((q.q_qv - g.qv) * (q.q_qv - g.qv)) AS BIGINT)
       |      AS exact_dist
       |  FROM ${p}gve g JOIN ${p}qrows q ON q.pos = g.pos
       |  WHERE g.vec_id <> q.query_id
       |  GROUP BY 1, 2
       |), ${p}etop AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY exact_dist, vec_id) AS ern
       |    FROM ${p}escored) WHERE ern <= 5
       |)""".stripMargin

  /** Full PQ-ADC lifecycle as a CTE block over `source`, every CTE
    * name prefixed `p` so two arms can live in ONE query
    * (`ann_opq_vs_pq`). Ends with `${p}res` =
    * (query_id, rank, cand_id, approx_dist, hit_exact). */
  private def pqAdcArmCtes(source: String, p: String): String =
    s"""${pqSlicesSql(source, p)},
      |${pqChainsSql(p)},
      |${pqCodesCte(s"${p}codes", s"${p}q")}, ${p}qids AS (
      |  SELECT vec_id AS query_id FROM $source WHERE vec_id % 97 = 0
      |), ${pqLutCte(p)}, ${p}approx AS (
      |  SELECT l.query_id, ${p}codes.vec_id,
      |    CAST(SUM(l.d) AS BIGINT) AS approx_dist
      |  FROM ${p}codes JOIN ${p}lut l
      |    ON l.sub = ${p}codes.sub AND l.cid = ${p}codes.code
      |  WHERE ${p}codes.vec_id <> l.query_id
      |  GROUP BY 1, 2
      |), ${pqRankedCte(p)}, ${p}gve AS (
      |  SELECT vec_id, pos,
      |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT)
      |      + ${Clustering.Offset} AS qv
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |        unnest(generate_series(1, len(embedding))) AS pos
      |        FROM $source)
      |), ${pqExactTopCtes(p)}, ${p}res AS (
      |  SELECT r.query_id, r.rank, r.vec_id AS cand_id, r.approx_dist,
      |    e.vec_id IS NOT NULL AS hit_exact
      |  FROM ${p}ranked r LEFT JOIN ${p}etop e
      |    ON e.query_id = r.query_id AND e.vec_id = r.vec_id
      |  WHERE r.rank <= 5
      |)""".stripMargin

  /** Shared PQ-ADC twin builder: the full 4-subspace index lifecycle
    * over `source` (a raw table or a prelude-defined rotated CTE). */
  private def pqAdcQ(name: String, source: String, prelude: String)(
      build: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Q =
    Q.sql(
      name,
      s"""WITH $prelude${pqAdcArmCtes(source, "")}
        |SELECT query_id, rank, cand_id, approx_dist, hit_exact
        |FROM res ORDER BY query_id, rank""".stripMargin)(build)

  /** The IVF twins' coarse chain: full-dimension Lloyd over embeddings,
    * prefixed `g` ([[Clustering.kmeansOracleCtes]]). */
  private val coarseChain = Clustering.kmeansOracleCtes("embeddings",
    CoarseStride, Iters, prefix = "g")

  /** Probe routing over [[coarseChain]]: `gq(query_id, cid, dist_sq)`
    * from each query in `qids` to every coarse centroid, and
    * `gprob(query_id, cell)` its `NProbe` nearest cells. */
  private val coarseProbeCtes: String =
    s"""gq AS (
       |  SELECT v.vec_id AS query_id, c.cid,
       |    CAST(SUM((v.qv - c.cv) * (v.qv - c.cv)) AS BIGINT) AS dist_sq
       |  FROM gve v JOIN qids ON qids.query_id = v.vec_id
       |  JOIN gc$Iters c ON c.pos = v.pos
       |  GROUP BY 1, 2
       |), gprob AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT query_id, cid, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY dist_sq, cid) AS rn
       |    FROM gq) WHERE rn <= $NProbe
       |)""".stripMargin

  /** The IVF-PQ result over `approx(query_id, vec_id, approx_dist)`:
    * [[pqRankedCte]], [[pqExactTopCtes]], then each query's top 5,
    * flagged `hit_exact` when also in its exact top 5. */
  private val ivfPqResultSql: String =
    s"""${pqRankedCte("")}, ${pqExactTopCtes("")}
       |SELECT r.query_id, r.rank, r.vec_id AS cand_id, r.approx_dist,
       |  e.vec_id IS NOT NULL AS hit_exact
       |FROM ranked r LEFT JOIN etop e
       |  ON e.query_id = r.query_id AND e.vec_id = r.vec_id
       |WHERE r.rank <= 5
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** IVF-PQ COMPOSITE ([[Clustering.ivfPqTopK]]) — the FAISS IndexIVFPQ
    * architecture end to end: a coarse full-dimension Lloyd codebook
    * routes each query to its 2 nearest cells, PQ codes score only the
    * probed cells' members by asymmetric LUT distance, top-5 flagged
    * against the exact baseline. The twin replays FIVE training chains
    * (coarse + 4 subspaces), cell assignment, probe routing, the
    * restricted ADC and the baseline — one hash gate over the composed
    * index lifecycle. Output shape matches `ann_pq_adc`, so PQ-only vs
    * IVF-PQ recall is directly comparable in the dumped results. */
  val annIvfPq: Q = Q.sql(
    "ann_ivfpq",
    s"""WITH ${pqSlicesSql("embeddings", "")},
      |$coarseChain,
      |${pqChainsSql("")},
      |qids AS (
      |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 97 = 0
      |), ${pqCodesCte("codes", "q")}, ${pqLutCte("")}, cells AS (
      |  SELECT vec_id, cid AS cell FROM gaf WHERE rn = 1
      |), $coarseProbeCtes, approx AS (
      |  SELECT p.query_id, codes.vec_id,
      |    CAST(SUM(l.d) AS BIGINT) AS approx_dist
      |  FROM codes
      |  JOIN cells ON cells.vec_id = codes.vec_id
      |  JOIN gprob p ON p.cell = cells.cell
      |  JOIN lut l ON l.query_id = p.query_id AND l.sub = codes.sub
      |    AND l.cid = codes.code
      |  WHERE codes.vec_id <> p.query_id
      |  GROUP BY 1, 2
      |), $ivfPqResultSql""".stripMargin) { (s, d) =>
    Clustering.ivfPqTopK(s, Tables.embeddings(s, d),
      coarseStride = CoarseStride, mSub = 4, subDim = 16,
      stride = PqStride, iters = Iters, queryMod = 97, nProbe = NProbe,
      k = 5)
      .orderBy("query_id", "rank")
  }

  /** RESIDUAL IVF-PQ ([[Clustering.ivfPqResidualTopK]]) — the true
    * FAISS IndexIVFPQ encoding: PQ codebooks trained on RESIDUALS
    * (x − cell centroid, re-offset positive for floor-mean
    * portability), queries scored by per-probed-cell LUTs over
    * (q − cell centroid). The twin replays the coarse chain, the
    * residual derivation, FOUR residual-subspace training chains, the
    * per-cell LUTs, the restricted ADC and the exact baseline. Output
    * shape matches `ann_pq_adc`/`ann_ivfpq`, so raw-PQ vs residual-PQ
    * recall at identical code budget is directly comparable in the
    * dumped results. */
  val annIvfPqResidual: Q = {
    val chains = (0 until 4).map(m =>
      Clustering.kmeansOracleCtes("", PqStride, Iters, prefix = s"r$m",
        veSql = Some(s"SELECT vec_id, pos, qv FROM rve " +
          s"WHERE pos > ${m * 16} AND pos <= ${(m + 1) * 16}")))
      .mkString(",\n")
    val lutArms = (0 until 4).map(m =>
      s"""SELECT qr.query_id, qr.cell, $m AS sub, c.cid,
        |    CAST(SUM((qr.rqv - c.cv) * (qr.rqv - c.cv)) AS BIGINT) AS d
        |  FROM qresid qr JOIN r${m}c$Iters c ON c.pos = qr.pos
        |  GROUP BY qr.query_id, qr.cell, c.cid""".stripMargin)
      .mkString("\n  UNION ALL ")
    Q.sql(
      "ann_ivfpq_residual",
      s"""WITH $coarseChain,
        |qids AS (
        |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 97 = 0
        |), cells AS (
        |  SELECT vec_id, cid AS cell FROM gaf WHERE rn = 1
        |), rve AS (
        |  SELECT g.vec_id, g.pos,
        |    g.qv - c.cv + ${Clustering.Offset} AS qv
        |  FROM gve g
        |  JOIN cells ON cells.vec_id = g.vec_id
        |  JOIN gc$Iters c ON c.cid = cells.cell AND c.pos = g.pos
        |),
        |$chains,
        |${pqCodesCte("codes", "r")}, $coarseProbeCtes, qresid AS (
        |  SELECT q.query_id, p.cell, g.pos,
        |    g.qv - c.cv + ${Clustering.Offset} AS rqv
        |  FROM gve g JOIN qids q ON q.query_id = g.vec_id
        |  JOIN gprob p ON p.query_id = q.query_id
        |  JOIN gc$Iters c ON c.cid = p.cell AND c.pos = g.pos
        |), lut AS (
        |  $lutArms
        |), approx AS (
        |  SELECT p.query_id, codes.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS approx_dist
        |  FROM codes
        |  JOIN cells ON cells.vec_id = codes.vec_id
        |  JOIN gprob p ON p.cell = cells.cell
        |  JOIN lut l ON l.query_id = p.query_id AND l.cell = cells.cell
        |    AND l.sub = codes.sub AND l.cid = codes.code
        |  WHERE codes.vec_id <> p.query_id
        |  GROUP BY 1, 2
        |), $ivfPqResultSql""".stripMargin) { (s, d) =>
      Clustering.ivfPqResidualTopK(s, Tables.embeddings(s, d),
        coarseStride = CoarseStride, mSub = 4, subDim = 16,
        stride = PqStride, iters = Iters, queryMod = 97, nProbe = NProbe,
        k = 5)
        .orderBy("query_id", "rank")
    }
  }

  /** TEXT → VECTOR → CLUSTERS end to end: feature-hashed 64-dim count
    * vectors ([[graft.llm.TextAnalysis.featureHashEmbed]], densified
    * with zero-filled buckets) fed DIRECTLY into the integer-exact
    * Lloyd loop — no float quantization step, the counts ARE the qv
    * domain (the oracle's veSql override). Proves the embedder's
    * "feeds the clustering family" contract with a hash gate over the
    * full two-round chain. */
  val cKmeansText: Q = {
    val h6 = graft.llm.TextAnalysis.hex6Expr("md5('fh|' || token)")
    val ve = s"""SELECT d.doc_id AS vec_id, p.pos,
      |    CAST(COALESCE(h.cnt, 0) AS BIGINT) AS qv
      |  FROM (SELECT doc_id FROM documents) d
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
      |  LEFT JOIN hv h ON h.doc_id = d.doc_id AND h.bucket + 1 = p.pos"""
      .stripMargin
    Q.sql(
      "c_kmeans_text",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(${Q.toksSql}) AS token FROM documents
        |), hv AS (
        |  SELECT doc_id, CAST($h6 % 64 AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY doc_id, bucket
        |), ${Clustering.kmeansOracleCtes("", 100, Iters, veSql = Some(ve))}
        |SELECT vec_id, cid AS cluster_id, dist_sq,
        |  COUNT(*) OVER (PARTITION BY cid) AS cluster_size
        |FROM af WHERE rn = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val hashed = graft.llm.TextAnalysis.featureHashEmbed(
        docs, col("doc_id"), col("text"), dims = 64)
      val rows = docs.select(col("doc_id").as("vec_id"))
        .withColumn("pos", explode(expr("sequence(1, 64)")))
        .join(hashed.select(col("doc_id").as("vec_id"),
          (col("bucket") + 1).cast("int").as("pos"), col("cnt")),
          Seq("vec_id", "pos"), "left")
        .select(col("vec_id"), col("pos"),
          coalesce(col("cnt"), lit(0L)).cast("long").as("qv"))
      val cent = Clustering.train(s, rows, stride = 100, iters = Iters)
      Clustering.assign(rows, cent)
        .select(col("vec_id"), col("cid").as("cluster_id"), col("dist_sq"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy("vec_id")
    }
  }

  val all: Seq[Q] =
    Seq(cKmeans, ddSemDeDup, annKmeansIvf, annRecallEval, annRecallCurve,
      annPqAdc, annOpq, annOpqVsPq, annIvfPq, annIvfPqResidual,
      cKmeansText)
}
