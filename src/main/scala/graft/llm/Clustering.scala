package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed k-means (Lloyd's algorithm) over an embedding column,
  * in EXACT integer arithmetic so every iteration — assignment argmin,
  * centroid update, final distances — is bit-identical across engines
  * and cluster sizes (the DuckDB oracle replays the full iteration
  * chain in SQL).
  *
  * Determinism design (see README "Determinism rules"):
  *  - vectors are quantized per-dimension to `round(v*1e6) + 4_000_000`
  *    BIGINT. The +4e6 offset keeps every value, centroid sum and
  *    centroid quotient strictly positive, which makes Spark's `div`
  *    (truncate toward zero) and DuckDB's `//` (floor) agree — the two
  *    only differ on negatives. Squared distances are offset-invariant,
  *    so clustering geometry is unchanged. Requires |v| < 3.4 (testdata
  *    embeddings are unit-scale, |v| < 0.6).
  *  - assignment ties break on smaller centroid id; centroid update is
  *    `sum(qv) div count` per dimension (exact integer floor-mean);
  *    clusters that lose all members simply drop out — both engines
  *    drop them identically.
  *  - overflow headroom: |qv| ≤ 8e6 ⇒ dist² ≤ 64·(8e6)² ≈ 4.1e15 ≪ 2^63.
  *
  * Scale shape (the 100 TB story): this is the canonical MLlib-style
  * Lloyd loop. Centroids (k×dims longs) are collected to the driver
  * after each update and rebroadcast — k ≪ n always; the data side is
  * touched only by scans. Per iteration: one broadcast-join scoring
  * pass producing n×k partial-aggregated rows (map-side combined on
  * (vec_id, cid)), one argmin window partitioned by vec_id, and one
  * (cid, pos)-keyed update aggregate — no shuffle is ever keyed on
  * anything wider than the id. The exploded (vec_id, pos, qv) row form
  * keeps everything codegen'd (Spark array HOFs are interpreted).
  *
  * Reference scope: the reference engine has no clustering operator —
  * this belongs to the builder-prompt "training-data pipeline"
  * first-class set (SemDeDup pruning, trained-IVF ANN).
  */
object Clustering {

  /** Quantization offset; see class doc. */
  val Offset: Long = 4000000L

  // ---- OPQ rotation (Ge et al. 2013 "Optimized Product Quantization",
  // the FAISS OPQMatrix pre-transform): PQ quantizes each subspace
  // independently, so correlated dimensions split across subspaces
  // waste code budget; an ORTHOGONAL rotation applied before the split
  // redistributes variance while preserving every distance, buying
  // recall at IDENTICAL bytes per vector. Production OPQ learns R by
  // alternating minimization; the cross-engine-replayable counterpart
  // is a SEEDED block-Givens rotation — two stages of exact 2-D
  // rotations on disjoint dimension pairs, angles from Pythagorean
  // triples (3,4,5)/(5,12,13) so c²+s²=1 holds in rationals and the
  // matrix is exactly orthogonal up to one double rounding per entry.
  // Stage 1 pairs dim j with j+dims/2, stage 2 with j+dims/4: after
  // both, every PQ subspace mixes all four original quarter-blocks.
  // Determinism: each output element is TWO double multiplies and one
  // add/subtract of engine-identical literals — elementwise IEEE
  // arithmetic with no reassociation, so Spark and DuckDB produce
  // bit-identical doubles, which the existing round(v*1e6) quantization
  // then pins (ann_opq hash-gates the full rotated-PQ lifecycle).

  private val OpqC1 = "CAST(0.6 AS DOUBLE)"
  private val OpqS1 = "CAST(0.8 AS DOUBLE)"
  private val OpqC2 = "(CAST(5 AS DOUBLE)/13)"
  private val OpqS2 = "(CAST(12 AS DOUBLE)/13)"

  /** Stage-1 per-dimension expression strings; `acc(j)` renders the
    * engine's access to 0-based input dim j as a DOUBLE. */
  def opqStage1Exprs(dims: Int, acc: Int => String): Seq[String] = {
    val h = dims / 2
    (0 until dims).map { j =>
      if (j < h) s"$OpqC1*${acc(j)} - $OpqS1*${acc(j + h)}"
      else s"$OpqS1*${acc(j - h)} + $OpqC1*${acc(j)}"
    }
  }

  /** Stage-2 expressions over the stage-1 result (quarter-block pairs). */
  def opqStage2Exprs(dims: Int, acc: Int => String): Seq[String] = {
    val q = dims / 4
    (0 until dims).map { j =>
      if ((j / q) % 2 == 0) s"$OpqC2*${acc(j)} - $OpqS2*${acc(j + q)}"
      else s"$OpqS2*${acc(j - q)} + $OpqC2*${acc(j)}"
    }
  }

  /** Apply the seeded OPQ rotation to an embedding frame: returns
    * (vec_id, embedding ARRAY<DOUBLE>) with both Givens stages applied,
    * ready for [[pqTopK]].
    *
    * ROW FORM, not array literals: a 64-element array expression per
    * stage looks natural, but CollapseProject inlines the whole stage-1
    * array construction into EVERY stage-2 element reference — the
    * expression tree grows multiplicatively per stage and the first
    * attempt OOM'd the driver at sf0.01. Instead each stage is one
    * (vec_id, partner-pos) self-join over the exploded rows — the
    * 2-D Givens structure IS a pairing — and the rotated rows are
    * reassembled once with the order-preserving
    * `sort_array(collect_list(struct(pos, v)))` pattern (no interpreted
    * HOFs). Shuffles are keyed by vec_id only; per-row work is two
    * multiplies per stage — the scan-shaped cost a 100 TB corpus needs.
    * The arithmetic (constants, operand order) matches
    * [[opqStage1Exprs]]/[[opqStage2Exprs]] exactly, so the DuckDB twin
    * replays it bit-identically. */
  def opqRotate(emb: DataFrame, dims: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val rows0 = emb.select(col(idCol).as("vec_id"),
      posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("pos0", "v")))
    def stage(rows: DataFrame, off: Int, c: String, s: String)
        : DataFrame = {
      val a = rows.as("a")
      val b = rows.select(col("vec_id"), col("pos0").as("ppos"),
        col("v").as("pv")).as("b")
      a.join(b, col("a.vec_id") === col("b.vec_id") &&
          col("b.ppos") === expr(
            s"CASE WHEN (a.pos0 div $off) % 2 = 0 " +
              s"THEN a.pos0 + $off ELSE a.pos0 - $off END"))
        .select(col("a.vec_id").as("vec_id"), col("a.pos0").as("pos0"),
          expr(s"CASE WHEN (a.pos0 div $off) % 2 = 0 " +
            s"THEN ($c) * a.v - ($s) * b.pv " +
            s"ELSE ($s) * b.pv + ($c) * a.v END").as("v"))
    }
    val r2 = stage(stage(rows0, dims / 2, OpqC1, OpqS1),
      dims / 4, OpqC2, OpqS2)
    r2.groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("pos0"), col("v"))))
        .getField("v").as("embedding"))
  }

  /** Exploded quantized row form: (vec_id, pos, qv) with qv offset-
    * positive. One row per (vector, dimension). */
  def quantRows(emb: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        (round(col("v").cast("double") * 1e6).cast("long") + Offset)
          .as("qv"))

  /** IVF coarse-quantizer AUTO-SIZING policy — BOTH halves of the
    * FAISS rule, derived from one corpus cardinality (the same number
    * a production build reads from table stats):
    *
    *   1. cells ∝ √n (ScaleBench r14 / SCALE.md): at probe time a
    *      query scores ∝ nlist centroids to route plus ∝ n/nlist
    *      candidates per probed cell; n/nlist + nlist is minimized at
    *      nlist ≈ √n (FAISS's published nlist guidance — with a query
    *      SET ∝ n the ADC term is n²/nlist, same optimum).
    *   2. TRAINING SAMPLE capped at 256·nlist vectors (FAISS
    *      `max_points_per_centroid`): full-corpus Lloyd at √n cells
    *      costs n·√n — the cap bounds codebook training to
    *      O(256·nlist·nlist) = O(256·n) row-centroid pairs, linear,
    *      while 256 points per centroid keeps the estimate stable.
    *      Below 256·nlist vectors (n ≤ ~65k) the whole corpus trains.
    *
    * Returns (seedStride, trainSampleMod): seeds are every
    * `seedStride`-th id (≈ nlist of them; offset-robust under id-block
    * amplification), training rows every `trainSampleMod`-th id —
    * `trainSampleMod` divides `seedStride`, so seeds ⊆ sample.
    * Callers pass an explicit stride to override the policy entirely
    * (the oracle queries do, for twin-replayable cell layouts). */
  def autoCoarsePolicy(n: Long): (Int, Long) = {
    val nlist = math.max(1L, math.sqrt(n.toDouble).toLong)
    val sampleMod = math.max(1L, n / (256L * nlist))
    val seedStride = sampleMod * math.max(1L, n / (nlist * sampleMod))
    // seedStride ≈ √n: an Int overflow needs n ≳ 4.6e18 ids — guard
    // loudly instead of silently truncating to a wrong/negative stride
    // (r15 ADVICE).
    require(seedStride <= Int.MaxValue,
      s"autoCoarsePolicy: seed stride $seedStride overflows Int (n=$n)")
    (seedStride.toInt, sampleMod)
  }

  /** The policy's seed stride alone (cells ≈ √n) for callers that
    * train on the full corpus by choice. */
  def sqrtCellsStride(emb: DataFrame): Int =
    autoCoarsePolicy(emb.count())._1

  /** Stride-sampled initial centroids as (cid, pos, cv) rows:
    * every `stride`-th vec_id, renumbered cid = vec_id div stride. */
  def initCentroids(rows: DataFrame, stride: Int): DataFrame =
    rows.filter(col("vec_id") % stride === 0)
      .select(expr(s"vec_id div $stride").as("cid"), col("pos"),
        col("qv").as("cv"))

  /** Ranked nearest centroids per vector by exact integer squared
    * distance, ties to the smaller cid. Returns
    * (vec_id, cid, dist_sq, rn) with rn ≤ n. `cent` is (cid, pos, cv) —
    * always k×dims rows, broadcast. rn=1 is the Lloyd assignment; n>1
    * gives the IVF probe list. */
  def nearestCentroids(rows: DataFrame, cent: DataFrame,
                       n: Int): DataFrame = {
    val d = col("qv") - col("cv")
    val scored = rows.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(d * d).as("dist_sq"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist_sq"), col("cid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
  }

  /** One Lloyd assignment pass: (vec_id, cid, dist_sq). Argmin via
    * `min(struct(dist_sq, cid))` — lexicographic struct ordering IS the
    * (distance, smaller-cid) tie rule — which partial-aggregates
    * map-side instead of sort+window; [[nearestCentroids]]'s ranked
    * form is only needed when rn > 1 (IVF probes). */
  def assign(rows: DataFrame, cent: DataFrame): DataFrame = {
    val d = col("qv") - col("cv")
    rows.join(broadcast(cent), Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum(d * d).as("dist_sq"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist_sq"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        col("m.dist_sq").as("dist_sq"))
  }

  /** One Lloyd update pass: per-dimension exact floor-mean of members.
    * Returns (cid, pos, cv); empty clusters drop out. */
  def update(rows: DataFrame, assignment: DataFrame): DataFrame =
    rows.join(assignment.select("vec_id", "cid"), Seq("vec_id"))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("sum(qv) div count(1)").as("cv"))

  /** Train `iters` Lloyd rounds from the stride init and return the
    * final centroids (cid, pos, cv) as a driver-literal frame.
    * Centroids are collected to the driver each round (k×dims longs —
    * the classic Lloyd synchronization point) and re-entered as a
    * literal frame, which truncates the iteration lineage exactly like
    * a checkpoint and keeps every pass a one-broadcast-join scan.
    *
    * TRAINED-ARTIFACT REUSE: centroids are a model, not a query result
    * — a production IVF index trains its coarse quantizer once and
    * serves every probe from it. `train` therefore memoizes the
    * collected centroids per (input-plan semantic hash, stride, iters)
    * within the JVM: the k-means family queries (`c_kmeans`,
    * `ann_kmeans_ivf`, `ann_recall_eval`) share one training run
    * instead of re-running the identical driver-sync'd Lloyd loop.
    * Deterministic by construction (the memo stores the exact rows the
    * loop would re-produce), so results are bit-identical either way;
    * the oracle gate re-verifies that every run. */
  private val trainMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int),
      Seq[(Long, Int, Long)]]()

  def train(spark: SparkSession, rows: DataFrame, stride: Int,
            iters: Int): DataFrame = {
    import spark.implicits._
    val key = (rows.queryExecution.analyzed.semanticHash(), stride, iters)
    val collected = trainMemo.computeIfAbsent(key, _ => {
      var cent = initCentroids(rows, stride)
      for (_ <- 1 to iters) {
        val a = assign(rows, cent)
        cent = update(rows, a)
          .as[(Long, Int, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
          .toDF("cid", "pos", "cv")
      }
      cent.as[(Long, Int, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    })
    collected.toDF("cid", "pos", "cv")
  }

  /** Full Lloyd loop: train then one final assignment. Returns
    * (assignment = (vec_id, cid, dist_sq), centroids = (cid, pos, cv)). */
  def kmeans(spark: SparkSession, emb: DataFrame, stride: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    val rows = quantRows(emb, idCol, vecCol)
    val cent = train(spark, rows, stride, iters)
    (assign(rows, cent), cent)
  }

  /** SemDeDup (Abbas et al. 2023) semantic pruning: k-means-cluster the
    * embeddings, then within each cluster flag every vector that has a
    * SMALLER-id cluster-mate with cosine ≥ `threshold` (quantized-dot
    * cosine — the same scoring as the ANN family). Pair generation is
    * bounded by cluster sizes (never cross-cluster, never O(n²)) — the
    * whole point of clustering first; at 100 TB the pair join is keyed
    * on cid and each cluster is a small fraction of the corpus.
    * Returns (vec_id, cluster_id, is_pruned, pruned_by). */
  def semDeDup(spark: SparkSession, emb: DataFrame, stride: Int,
               iters: Int, threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    graft.plans.QuantDot.register(spark)
    val (a, _) = kmeans(spark, emb, stride, iters, idCol, vecCol)
    val assigned = a.select(col("vec_id"), col("cid"))
      .join(emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec")),
        Seq("vec_id"))
    val l = assigned.select(col("cid"), col("vec_id").as("doc_a"),
      col("vec").as("q_vec"))
    val r = assigned.select(col("cid"), col("vec_id").as("doc_b"),
      col("vec").as("c_vec"))
    val dot = expr("graft_quant_dot(q_vec, c_vec)")
    val qSq = expr("graft_quant_dot(q_vec, q_vec)")
    val cSq = expr("graft_quant_dot(c_vec, c_vec)")
    val matches = l.join(r, Seq("cid"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine",
        dot.cast("double") /
          (sqrt(qSq.cast("double")) * sqrt(cSq.cast("double"))))
      .filter(col("cosine") >= threshold)
      .groupBy(col("doc_b").as("vec_id"))
      .agg(min(col("doc_a")).as("pruned_by"))
    a.select(col("vec_id"), col("cid").as("cluster_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("pruned_by").isNotNull.as("is_pruned"), col("pruned_by"))
  }

  /** IVF ANN top-k over TRAINED centroids — the production upgrade of
    * [[Similarity.ivfTopK]]'s stride-sample coarse quantizer: cells come
    * from [[train]], so they follow the data distribution (tighter
    * cells ⇒ better recall at the same nProbe). Same plan shape:
    * broadcast centroids, scan-shaped assignment, cell-keyed candidate
    * join. */
  def ivfTopKTrained(spark: SparkSession, emb: DataFrame,
                     queryIds: DataFrame, k: Int, cent: DataFrame,
                     nProbe: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    graft.plans.QuantDot.register(spark)
    val rows = quantRows(emb, idCol, vecCol)
    val ranked = nearestCentroids(rows, cent, nProbe)
    val cand = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("cand_id"), col("cid"))
      .join(emb.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec")),
        Seq("cand_id"))
    val probes = ranked
      .join(broadcast(queryIds.select(col(idCol).as("vec_id"))),
        Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("cid"))
      .join(emb.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        Seq("query_id"))
    val pairs = probes.join(cand, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
    Similarity.scoreAndRank(pairs, k, Seq.empty)
  }

  /** Recall/cost sweep — IVF top-k at SEVERAL nProbe settings from ONE
    * shared computation: the ranked probe list is computed once at
    * max(nProbes) and each sweep point is a filter on `rn`, so the
    * expensive parts (centroid scoring shuffle, cell assignment, the
    * candidate join) are shared or exchange-reused across the whole
    * curve instead of re-run per setting. Returns
    * (n_probe, query_id, cand_id, cosine, rank) with the rank window
    * keyed by (n_probe, query_id). A candidate never repeats within one
    * (n_probe, query): cells partition the corpus (rn=1 assignment) and
    * the probe list is distinct cells. This is the measurement a
    * production ANN deployment runs to PICK nProbe — recall@k against
    * the exact baseline as a function of probe cost (`ann_recall_curve`
    * wires it against [[Similarity.bruteForceTopK]]). */
  def ivfProbeSweep(spark: SparkSession, emb: DataFrame,
                    queryIds: DataFrame, k: Int, cent: DataFrame,
                    nProbes: Seq[Int], idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    graft.plans.QuantDot.register(spark)
    import spark.implicits._
    val rows = quantRows(emb, idCol, vecCol)
    val ranked = nearestCentroids(rows, cent, nProbes.max)
    val cand = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("cand_id"), col("cid"))
      .join(emb.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec")),
        Seq("cand_id"))
    val pn = nProbes.map(_.toLong).toDF("n_probe")
    val probes = ranked
      .join(broadcast(queryIds.select(col(idCol).as("vec_id"))),
        Seq("vec_id"))
      .crossJoin(broadcast(pn))
      .filter(col("rn") <= col("n_probe"))
      .select(col("n_probe"), col("vec_id").as("query_id"), col("cid"))
      .join(emb.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        Seq("query_id"))
    val pairs = probes.join(cand, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
    val dot = expr("graft_quant_dot(q_vec, c_vec)")
    val qSq = expr("graft_quant_dot(q_vec, q_vec)")
    val cSq = expr("graft_quant_dot(c_vec, c_vec)")
    val w = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    pairs
      .withColumn("cosine",
        dot.cast("double") /
          (sqrt(qSq.cast("double")) * sqrt(cSq.cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("n_probe", "query_id", "cand_id", "cosine", "rank")
  }

  /** DuckDB twin of [[kmeans]]: the iteration chain as CTE text.
    * Emits CTEs `ve` (quantized rows), `c0` (init), per round
    * `a{t}`/`c{t}` (assignment / updated centroids), and a final RANKED
    * assignment CTE `af` (vec_id, cid, dist_sq, rn — unfiltered)
    * against `c{iters}`: rn=1 is the k-means assignment, rn ≤ p the
    * IVF probe list. Callers prepend `WITH `, may prepend their own
    * CTE as `table`, and append their SELECT. */
  def kmeansOracleCtes(table: String, stride: Int, iters: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       prefix: String = "",
                       veSql: Option[String] = None): String = {
    val p = prefix
    val qv = s"CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) + $Offset"
    // veSql overrides the quantized-row CTE body for callers whose
    // vectors are ALREADY integer rows (vec_id, pos, qv) — e.g. the
    // feature-hashed text vectors — where re-quantizing through the
    // float path would change floor-mean centroids.
    val veBody = veSql.getOrElse(
      s"""SELECT vec_id, pos, $qv AS qv FROM (
      |    SELECT $idCol AS vec_id, unnest($vecCol) AS v,
      |           unnest(generate_series(1, len($vecCol))) AS pos
      |    FROM $table)""".stripMargin)
    val sb = new StringBuilder
    sb ++= s"""${p}ve AS (
      |  $veBody
      |), ${p}c0 AS (
      |  SELECT vec_id // $stride AS cid, pos, qv AS cv
      |  FROM ${p}ve WHERE vec_id % $stride = 0
      |)""".stripMargin
    def rankedSql(centCte: String): String =
      s"""SELECT vec_id, cid, dist_sq, ROW_NUMBER() OVER (
      |      PARTITION BY vec_id ORDER BY dist_sq, cid) AS rn
      |    FROM (
      |      SELECT ve.vec_id, c.cid,
      |             CAST(SUM((ve.qv - c.cv) * (ve.qv - c.cv)) AS BIGINT) AS dist_sq
      |      FROM ${p}ve ve JOIN $centCte c ON c.pos = ve.pos
      |      GROUP BY 1, 2)""".stripMargin
    for (t <- 1 to iters) {
      sb ++=
        s""", ${p}a$t AS (
      |  SELECT vec_id, cid FROM (
      |    ${rankedSql(s"${p}c${t - 1}")})
      |  WHERE rn = 1
      |), ${p}c$t AS (
      |  SELECT a.cid, ve.pos, SUM(ve.qv) // COUNT(*) AS cv
      |  FROM ${p}ve ve JOIN ${p}a$t a ON a.vec_id = ve.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin
    }
    sb ++=
      s""", ${p}af AS (
      |  SELECT * FROM (
      |    ${rankedSql(s"${p}c$iters")})
      |)""".stripMargin
    sb.toString
  }

  /** PRODUCT QUANTIZATION (PQ) ANN — the memory-bound serving path of
    * billion-scale vector search (FAISS's IndexPQ): split each vector
    * into `mSub` subspaces of `subDim` dims, train an INDEPENDENT
    * integer-exact Lloyd codebook per subspace (same [[train]] loop —
    * stride init, floor-mean updates, smaller-cid ties), encode every
    * corpus vector as `mSub` small codes, and answer queries by
    * ASYMMETRIC DISTANCE COMPUTATION: one exact per-query lookup table
    * of integer subspace distances (query subvector ↔ every centroid),
    * then approx_dist(x) = Σ_m lut[m][code_m(x)] — a sum of `mSub`
    * table lookups per candidate, never a full-dimension scan.
    *
    * Scale shape: codebooks and LUTs are tiny and broadcast (k·mSub
    * centroids; |queries|·k·mSub LUT rows); the corpus side is touched
    * by exactly two scans (encode, ADC sum) — codes are mSub SMALL ints
    * per vector, the 64×-compressed representation that lets an index
    * hold billions of vectors in RAM. At production query volumes the
    * LUT join partitions by query batch; here the query set is the
    * bounded eval subset (vec_id % queryMod = 0), as in
    * [[ivfTopKTrained]]'s recall eval.
    *
    * Returns the top-`k` ADC candidates per query (self excluded, ties
    * by cand_id) flagged with membership in the EXACT integer top-k —
    * so the gate pins codebooks, codes, LUTs, ranking, and the measured
    * recall in one frame. */
  def pqTopK(spark: SparkSession, emb: DataFrame, mSub: Int = 4,
             subDim: Int = 16, stride: Int = 100, iters: Int = 2,
             queryMod: Int = 97, k: Int = 5,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    val subRows = subspaceRows(base, mSub, subDim)
    val (codebooks, codes) = trainEncode(spark, subRows, stride, iters)
    val qids = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"))
    val lut = subRows.lazyZip(codebooks).lazyZip(0 until mSub).map {
      (r, cb, m) =>
        r.join(broadcast(qids), col("vec_id") === col("query_id"))
          .select(col("query_id"), col("pos"), col("qv"))
          .join(broadcast(cb), Seq("pos"))
          .groupBy(col("query_id"), col("cid"))
          .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv")))
            .as("d"))
          .withColumn("sub", lit(m))
    }.reduce(_ unionByName _)
    val approx = codes
      .join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("approx_dist"))
    flagAgainstExact(rankTopK(approx, k), base, qids, k)
  }

  /** Quantized (vec_id, pos, qv) rows of each of the `mSub` `subDim`-wide
    * slices of `base`'s (vec_id, emb) vectors. */
  private def subspaceRows(base: DataFrame, mSub: Int,
                           subDim: Int): Seq[DataFrame] =
    (0 until mSub).map { m =>
      quantRows(base.select(col("vec_id"),
        slice(col("emb"), m * subDim + 1, subDim).as("emb")),
        idCol = "vec_id", vecCol = "emb")
    }

  /** One codebook per subspace row set in `subRows` (same [[train]]
    * loop) and every vector's codes (vec_id, sub, code) under them. */
  private def trainEncode(spark: SparkSession, subRows: Seq[DataFrame],
                          stride: Int,
                          iters: Int): (Seq[DataFrame], DataFrame) = {
    val codebooks = subRows.map(r => train(spark, r, stride, iters))
    val codes = subRows.lazyZip(codebooks).lazyZip(subRows.indices).map {
      (r, cb, m) =>
        assign(r, cb).select(col("vec_id"), lit(m).as("sub"),
          col("cid").as("code"))
    }.reduce(_ unionByName _)
    (codebooks, codes)
  }

  /** The `k` smallest `approx_dist` candidates per query (ties by
    * vec_id), numbered 1..k in `rank`. */
  private def rankTopK(approx: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("vec_id"))
    approx.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact full-dimension integer top-`k` per query, joined onto the
    * approx `ranked` frame as a `hit_exact` flag — the recall baseline
    * shared by the PQ and IVF-PQ paths. */
  private def flagAgainstExact(ranked: DataFrame, base: DataFrame,
                               qids: DataFrame, k: Int): DataFrame = {
    val gve = quantRows(base, idCol = "vec_id", vecCol = "emb")
    val qrows = gve.join(broadcast(qids), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("pos"), col("qv").as("q_qv"))
    val escored = gve.join(broadcast(qrows), Seq("pos"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum((col("q_qv") - col("qv")) * (col("q_qv") - col("qv")))
        .as("exact_dist"))
    val ew = Window.partitionBy(col("query_id"))
      .orderBy(col("exact_dist"), col("vec_id"))
    val etop = escored.withColumn("ern", row_number().over(ew))
      .filter(col("ern") <= k)
      .select(col("query_id"), col("vec_id"), lit(true).as("hit_exact"))
    ranked.join(etop, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank"), col("vec_id").as("cand_id"),
        col("approx_dist"),
        coalesce(col("hit_exact"), lit(false)).as("hit_exact"))
  }

  /** IVF-PQ COMPOSITE ANN — the FAISS IndexIVFPQ serving architecture,
    * combining the engine's two orthogonal scale levers: a COARSE
    * full-dimension codebook routes each query to its `nProbe` nearest
    * cells (IVF bounds WHICH vectors are touched — ≈ nProbe/k_cells of
    * the corpus on balanced cells), and candidates inside probed cells
    * are scored by PQ ASYMMETRIC DISTANCE (Σ of `mSub` LUT lookups —
    * PQ bounds the BYTES per touched vector, mSub small codes instead
    * of the full dims). Cells partition the corpus and the probe list
    * is distinct cells, so a candidate is scored exactly once per
    * query. Coarse codebook, cell assignment, per-subspace codebooks,
    * codes, LUTs, probe routing, ADC ranking and the exact baseline
    * are all integer-exact — `ann_ivfpq` hash-gates the entire
    * composed lifecycle. Same top-`k`+`hit_exact` frame as [[pqTopK]]
    * so recall of PQ-only vs IVF-PQ is directly comparable. It is the
    * serve lifecycle end to end: [[ivfPqBuild]] over `emb`,
    * [[ivfPqQueryTopK]] for the eval queries (vec_id % queryMod = 0),
    * then the exact baseline. */
  def ivfPqTopK(spark: SparkSession, emb: DataFrame,
                coarseStride: Int = 0, mSub: Int = 4, subDim: Int = 16,
                stride: Int = 100, iters: Int = 2, queryMod: Int = 97,
                nProbe: Int = 2, k: Int = 5,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                knownN: Long = -1L): DataFrame = {
    val index = ivfPqBuild(spark, emb, coarseStride, mSub, subDim, stride,
      iters, idCol, vecCol, knownN)
    val queries = emb.filter(col(idCol) % queryMod === 0)
    val ranked = ivfPqQueryTopK(index, queries, nProbe, k, idCol, vecCol)
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    val qids = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"))
    flagAgainstExact(ranked, base, qids, k)
  }

  /** Trained IVF-PQ index artifacts — the BUILD half of the serve
    * lifecycle [[ivfPqBuild]]/[[ivfPqQueryTopK]] split out of
    * [[ivfPqTopK]] (r15 VERDICT task #4): a production index trains
    * ONCE (linear in corpus: one coarse assignment scan + capped-
    * sample Lloyd) and then serves MANY query batches whose per-query
    * cost is ∝ √n (nlist centroid routes + nProbe·n/nlist ADC
    * candidates — the FAISS minimum at nlist ≈ √n). This pair is the
    * shape a serving deployment persists — all four frames are plain
    * columnar tables (parquet round-trip safe), `codebooks` k-row
    * broadcasts.
    * ScaleBench's `ivfpq_query_fixed` family measures the query half
    * alone: index built un-timed in prep, a FIXED query set served
    * per scale — the direct measurement of the served √n claim that
    * the corpus-proportional eval convention (queries ∝ n) hides
    * behind its n^1.5 total. */
  final case class IvfPqIndex(coarseCb: DataFrame, cells: DataFrame,
                              codebooks: Seq[DataFrame], codes: DataFrame,
                              mSub: Int, subDim: Int)

  /** The coarse half of an IVF-PQ build: `gRows` are the quantized
    * (vec_id, pos, qv) rows, `coarseCb` the trained router and `cells`
    * each vector's (vec_id, cell). */
  private final case class Coarse(gRows: DataFrame, coarseCb: DataFrame,
                                  cells: DataFrame)

  private def coarseBuild(spark: SparkSession, base: DataFrame,
                          coarseStride: Int, iters: Int,
                          knownN: Long): Coarse = {
    val gRows = quantRows(base, idCol = "vec_id", vecCol = "emb")
    // A caller-chosen CONSTANT cell count is the measured quadratic
    // (ScaleBench ivfpq_fixed_stride α_bytes 1.92), and full-corpus
    // training at √n cells would be n^1.5. The PQ `stride` stays a
    // hyperparameter (codewords per subspace are a model size, not a
    // corpus fraction — FAISS's 256). Sizing the policy costs one
    // eager count() per build (r15 ADVICE) unless `knownN` is passed.
    val (cs, trainRows) =
      if (coarseStride > 0) (coarseStride, gRows)
      else {
        val (stride0, sampleMod) = autoCoarsePolicy(
          if (knownN > 0) knownN else base.count())
        (stride0, gRows.filter(col("vec_id") % sampleMod === 0))
      }
    val coarseCb = train(spark, trainRows, cs, iters)
    Coarse(gRows, coarseCb, assign(gRows, coarseCb)
      .select(col("vec_id"), col("cid").as("cell")))
  }

  /** Train coarse router + per-subspace PQ codebooks and encode the
    * corpus: cells-∝-√n policy ([[autoCoarsePolicy]]) with
    * capped-sample training unless `coarseStride` overrides; pass
    * `knownN` to skip the sizing count(). */
  def ivfPqBuild(spark: SparkSession, emb: DataFrame,
                 coarseStride: Int = 0, mSub: Int = 4, subDim: Int = 16,
                 stride: Int = 100, iters: Int = 2,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 knownN: Long = -1L): IvfPqIndex = {
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    val Coarse(_, coarseCb, cells) =
      coarseBuild(spark, base, coarseStride, iters, knownN)
    val subRows = subspaceRows(base, mSub, subDim)
    val (codebooks, codes) = trainEncode(spark, subRows, stride, iters)
    IvfPqIndex(coarseCb, cells, codebooks, codes, mSub, subDim)
  }

  /** Serve a query batch against a built index: route each query to
    * its `nProbe` nearest cells, build the per-subspace LUT from the
    * query's own sub-vectors vs the (broadcast) codebooks, and
    * ADC-rank ONLY the probed cells' codes. Returns
    * (query_id, vec_id, approx_dist, rank ≤ k). Queries drawn from the
    * corpus id namespace have their self-match dropped (`excludeSelf`,
    * on by default to mirror [[ivfPqTopK]]); disable it for a disjoint
    * query id space. No exact-baseline eval here — that is the offline
    * [[ivfPqTopK]] gate's job, not the serve path's. */
  def ivfPqQueryTopK(index: IvfPqIndex, queries: DataFrame,
                     nProbe: Int = 2, k: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val qBase = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("emb"))
    val qRows = quantRows(qBase, idCol = "query_id", vecCol = "emb")
    val probes = nearestCentroids(qRows, index.coarseCb, nProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"))
    val lut = (0 until index.mSub).map { m =>
      quantRows(qBase.select(col("query_id"),
        slice(col("emb"), m * index.subDim + 1, index.subDim).as("emb")),
        idCol = "query_id", vecCol = "emb")
        .join(broadcast(index.codebooks(m)), Seq("pos"))
        .groupBy(col("vec_id").as("query_id"), col("cid"))
        .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv")))
          .as("d"))
        .withColumn("sub", lit(m))
    }.reduce(_ unionByName _)
    val scored = index.codes.join(index.cells, Seq("vec_id"))
      .join(probes, Seq("cell"))
    val filtered =
      if (excludeSelf) scored.filter(col("vec_id") =!= col("query_id"))
      else scored
    val approx = filtered
      .join(broadcast(lut.withColumnRenamed("cid", "code")),
        Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("approx_dist"))
    rankTopK(approx, k)
  }

  /** RESIDUAL IVF-PQ — what FAISS IndexIVFPQ actually encodes: the PQ
    * codebooks quantize the RESIDUAL (x − coarse_centroid(x)), not the
    * raw vector. Residuals of one cell are centered near the origin, so
    * the same code budget spends its resolution on within-cell
    * structure instead of re-describing cell position — the standard
    * recall upgrade over raw-vector PQ at identical bytes per vector
    * (Jégou et al. 2011, §IV-A). The price is per-CELL query LUTs:
    * asymmetric distances are between (q − centroid(cell)) and the
    * residual codebooks, so a query builds nProbe LUTs instead of one —
    * exactly FAISS's cost structure, and still tiny/broadcast here
    * (|queries|·nProbe·k·mSub integer rows).
    *
    * Determinism wrinkle: residuals can be NEGATIVE, and the Lloyd
    * floor-mean (`sum div count`) only matches DuckDB's `//` on
    * non-negative sums — so residual rows are RE-OFFSET by [[Offset]]
    * (qv − cv + Offset > 0 given |v| < 3.4). Squared distances are
    * offset-invariant, so the geometry (and the oracle replay) is
    * unchanged.
    *
    * Scale shape identical to [[ivfPqTopK]]: codebooks/LUTs broadcast,
    * corpus touched by scans only, candidates scored once per query
    * (cells partition, probe list distinct). Same output frame as
    * [[pqTopK]], so raw-PQ vs residual-PQ recall is directly comparable
    * in the dumped results. */
  def ivfPqResidualTopK(spark: SparkSession, emb: DataFrame,
                        coarseStride: Int = 0, mSub: Int = 4,
                        subDim: Int = 16, stride: Int = 100,
                        iters: Int = 2, queryMod: Int = 97,
                        nProbe: Int = 2, k: Int = 5,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        knownN: Long = -1L): DataFrame = {
    val base = emb.select(col(idCol).as("vec_id"), col(vecCol).as("emb"))
    val Coarse(gRows, coarseCb, cells) =
      coarseBuild(spark, base, coarseStride, iters, knownN)
    // residual rows, re-offset positive (see scaladoc)
    val cbByCell = coarseCb.select(col("cid").as("cell"), col("pos"),
      col("cv"))
    val rve = gRows.join(cells, Seq("vec_id"))
      .join(broadcast(cbByCell), Seq("cell", "pos"))
      .select(col("vec_id"), col("pos"),
        (col("qv") - col("cv") + Offset).as("qv"))
    // per-subspace residual codebooks + codes (raw pos kept: quantRows'
    // posexplode pos is 0-BASED, so subspace m owns
    // pos ∈ [m·subDim, (m+1)·subDim); centroids join by pos — the
    // DuckDB twin's pos is 1-based with the matching (lo, hi] bounds,
    // each engine internally consistent)
    val subRows = (0 until mSub).map { m =>
      rve.filter(col("pos") >= m * subDim && col("pos") < (m + 1) * subDim)
    }
    val (codebooks, codes) = trainEncode(spark, subRows, stride, iters)
    val qids = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"))
    // probe routing (raw-space, as in ivfPqTopK)
    val qRows = gRows
      .join(broadcast(qids), col("vec_id") === col("query_id"))
      .select(col("vec_id"), col("pos"), col("qv"))
    val probes = nearestCentroids(qRows, coarseCb, nProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"))
    // per-(query, probed-cell) residual rows, same re-offset
    val qResid = qRows.select(col("vec_id").as("query_id"), col("pos"),
        col("qv"))
      .join(broadcast(probes), Seq("query_id"))
      .join(broadcast(cbByCell), Seq("cell", "pos"))
      .select(col("query_id"), col("cell"), col("pos"),
        (col("qv") - col("cv") + Offset).as("rqv"))
    // per-cell LUTs: query residual subvector ↔ every residual centroid
    val lut = codebooks.lazyZip(0 until mSub).map { (cb, m) =>
      qResid.join(broadcast(cb), Seq("pos")) // cb pos ⊂ subspace m
        .groupBy(col("query_id"), col("cell"), col("cid"))
        .agg(sum((col("rqv") - col("cv")) * (col("rqv") - col("cv")))
          .as("d"))
        .withColumn("sub", lit(m))
    }.reduce(_ unionByName _)
    // ADC restricted to probed cells, LUT keyed by the candidate's cell
    val approx = codes.join(cells, Seq("vec_id"))
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut.withColumnRenamed("cid", "code")),
        Seq("query_id", "cell", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).cast("long").as("approx_dist"))
    flagAgainstExact(rankTopK(approx, k), base, qids, k)
  }
}
