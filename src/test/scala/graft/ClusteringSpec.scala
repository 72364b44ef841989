package graft

import org.apache.spark.sql.functions._
import graft.llm.Clustering

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  /** Two well-separated 2-d blobs: ids 0-2 near (0,0), ids 50-52 near
    * (0.4, 0.4). Stride-50 init picks ids 0 and 50 as seeds. */
  private def blobs = Seq(
    (0L, Seq(0.00f, 0.01f)), (1L, Seq(0.02f, 0.00f)),
    (2L, Seq(0.01f, 0.02f)),
    (50L, Seq(0.40f, 0.41f)), (51L, Seq(0.42f, 0.40f)),
    (52L, Seq(0.41f, 0.42f))).toDF("vec_id", "embedding")

  test("kmeans separates blobs and assigns each to its own seed cell") {
    val (a, cent) = Clustering.kmeans(spark, blobs, stride = 50, iters = 2)
    val got = a.select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      50L -> 1L, 51L -> 1L, 52L -> 1L))
    // centroid of cell 0 = floor-mean of quantized members per dim:
    // dim0 qvs (offset 4e6): 4000000, 4020000, 4010000 -> mean 4010000
    val c0 = cent.filter($"cid" === 0 && $"pos" === 0)
      .select("cv").as[Long].head()
    assert(c0 == 4010000L)
  }

  test("kmeans update drops emptied cells; assignment ties to smaller cid") {
    // identical vectors at ids 0 and 50: both seeds coincide, every
    // vector ties between cid 0 and 1 -> all assigned to 0, cell 1
    // survives only as long as it has members (it never does).
    val dup = Seq((0L, Seq(0.1f, 0.1f)), (1L, Seq(0.1f, 0.1f)),
      (50L, Seq(0.1f, 0.1f))).toDF("vec_id", "embedding")
    val (a, cent) = Clustering.kmeans(spark, dup, stride = 50, iters = 1)
    assert(a.select("cid").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(cent.select("cid").distinct().as[Long].collect().toSeq ==
      Seq(0L))
  }

  test("sqrtCellsStride applies the cells-∝-√n policy; ivfPqTopK defaults to it") {
    // 100 dense ids -> stride ⌊√100⌋ = 10 -> 10 sampled seed cells
    val emb = spark.range(0, 100).toDF("vec_id")
      .withColumn("embedding", array(
        (col("vec_id") % 7).cast("float") * 0.01f,
        (col("vec_id") % 5).cast("float") * 0.01f))
    assert(Clustering.sqrtCellsStride(emb) == 10)
    val seeds = Clustering.initCentroids(Clustering.quantRows(emb),
      Clustering.sqrtCellsStride(emb))
    assert(seeds.select("cid").distinct().count() == 10L)
    // the policy is offset-robust: id blocks at huge offsets (the
    // ScaleBench amplification shape) still sample ≈ n/stride seeds
    val blocks = spark.range(0, 50).toDF("vec_id").unionByName(
        spark.range(9700000L, 9700050L).toDF("vec_id"))
      .withColumn("embedding", array(lit(0.01f), lit(0.02f)))
    val s2 = Clustering.sqrtCellsStride(blocks) // ⌊√100⌋ = 10
    assert(s2 == 10)
    assert(Clustering.initCentroids(Clustering.quantRows(blocks), s2)
      .select("cid").distinct().count() == 10L)
    // defaulted builder runs end-to-end on the policy (coarseStride
    // omitted) and still emits a ranked frame
    val wide = spark.range(0, 97 * 3).toDF("vec_id")
      .withColumn("embedding", array((0 until 64).map(i =>
        ((col("vec_id") + i) % 9).cast("float") * 0.01f): _*))
    val out = Clustering.ivfPqTopK(spark, wide, nProbe = 2, k = 3)
    assert(out.count() > 0)
    // the second half of the rule: above 256·nlist vectors, training
    // samples down (sampleMod > 1) while seeds stay ⊆ sample and
    // nlist stays ≈ √n
    val (stride1M, mod1M) = Clustering.autoCoarsePolicy(1000000L)
    assert(mod1M == 3L && stride1M == 999 && stride1M % mod1M == 0)
    val (strideSmall, modSmall) = Clustering.autoCoarsePolicy(1000L)
    assert(modSmall == 1L && strideSmall == 32)
  }

  test("quantization offset keeps every qv and centroid positive") {
    val rows = Clustering.quantRows(blobs)
    assert(rows.filter($"qv" <= 0).count() == 0)
    val cent = Clustering.train(spark, rows, stride = 50, iters = 2)
    assert(cent.filter($"cv" <= 0).count() == 0)
  }

  test("semDeDup prunes the larger id of an identical pair, keeps rest") {
    val emb = blobs.unionByName(
      Seq((100L, Seq(0.00f, 0.01f))).toDF("vec_id", "embedding"))
    val got = Clustering.semDeDup(spark, emb, stride = 50, iters = 1,
      threshold = 0.999)
      .select("vec_id", "is_pruned").as[(Long, Boolean)].collect().toMap
    assert(got(100L))
    assert(!got(0L))
    // near-but-not-identical blob mates stay (cosine of (0,.01) vs
    // (.02,0) is 0)
    assert(!got(1L) && !got(2L))
  }

  test("ivfProbeSweep: per-point results match ivfTopKTrained; recall monotone") {
    val emb = Tables.embeddings(spark, sf)
    val qset = emb.filter($"vec_id" < 20)
    val cent = Clustering.train(spark, Clustering.quantRows(emb),
      stride = 50, iters = 2)
    val sweep = Clustering.ivfProbeSweep(spark, emb, qset.select("vec_id"),
      k = 5, cent, nProbes = Seq(1, 2, 4))
      .select("n_probe", "query_id", "cand_id")
      .as[(Long, Long, Long)].collect().toSet
    // each sweep point == the single-setting operator at that nProbe
    Seq(1, 2, 4).foreach { np =>
      val single = Clustering.ivfTopKTrained(spark, emb,
        qset.select("vec_id"), k = 5, cent, nProbe = np)
        .select("query_id", "cand_id")
        .as[(Long, Long)].collect().toSet
      assert(sweep.filter(_._1 == np).map(t => (t._2, t._3)) == single,
        s"nProbe=$np")
    }
    // recall (overlap with exact top-5) is monotone in nProbe
    val exact = graft.llm.Similarity.bruteForceTopK(qset, emb, k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val overlaps = Seq(1, 2, 4).map(np =>
      sweep.filter(_._1 == np).map(t => (t._2, t._3)).count(exact))
    assert(overlaps == overlaps.sorted, s"not monotone: $overlaps")
  }

  test("ivfTopKTrained finds the true blob-mates as top neighbors") {
    val rows = Clustering.quantRows(blobs)
    val cent = Clustering.train(spark, rows, stride = 50, iters = 2)
    val got = Clustering.ivfTopKTrained(spark, blobs,
      blobs.select("vec_id"), k = 2, cent, nProbe = 1)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect()
    // with one probe, candidates stay within the query's own cell
    val byQuery = got.groupBy(_._1)
    assert(byQuery(50L).map(_._2).toSet.subsetOf(Set(51L, 52L)))
    assert(byQuery(0L).map(_._2).toSet.subsetOf(Set(1L, 2L)))
  }

  test("pqTopK with a k=n codebook (stride 1, iters 0) IS exact search") {
    // Classic PQ sanity: when every vector is its own centroid in every
    // subspace, codes are lossless and ADC distance == exact distance,
    // so the approximate top-k must coincide with the exact baseline.
    val emb = Tables.embeddings(spark, sf).limit(40)
    val got = Clustering.pqTopK(spark, emb, mSub = 4, subDim = 16,
      stride = 1, iters = 0, queryMod = 13, k = 3).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getBoolean(4)), "every ADC hit is an exact hit")
  }

  test("ivfPqBuild + ivfPqQueryTopK == ivfPqTopK ranked results, through parquet") {
    // The serve-path split (r16) must reproduce the gated lifecycle's
    // ranking exactly: same corpus, same explicit strides, queries =
    // the same corpus subset ivfPqTopK uses. The index round-trips
    // through parquet first — the IvfPqIndex scaladoc's durability
    // claim, exercised.
    val emb = Tables.embeddings(spark, sf)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val full = tuples(Clustering.ivfPqTopK(spark, emb,
        coarseStride = 100, stride = 100)
      .select(col("query_id"), col("cand_id"), col("approx_dist"),
        col("rank")))
    val idx = Clustering.ivfPqBuild(spark, emb,
      coarseStride = 100, stride = 100)
    val dir = tempRoot("ivfpq_idx")
    val roundTripped = try {
      idx.coarseCb.write.parquet(s"$dir/coarse")
      idx.cells.write.parquet(s"$dir/cells")
      idx.codes.write.parquet(s"$dir/codes")
      idx.codebooks.zipWithIndex.foreach { case (cb, m) =>
        cb.write.parquet(s"$dir/cb$m") }
      Clustering.IvfPqIndex(
        spark.read.parquet(s"$dir/coarse"),
        spark.read.parquet(s"$dir/cells"),
        idx.codebooks.indices.map(m => spark.read.parquet(s"$dir/cb$m")),
        spark.read.parquet(s"$dir/codes"), idx.mSub, idx.subDim)
    } finally ()
    val queries = emb.filter(col("vec_id") % 97 === 0)
    val served = tuples(Clustering.ivfPqQueryTopK(roundTripped, queries)
      .select(col("query_id"), col("vec_id"), col("approx_dist"),
        col("rank")))
    assert(served == full)
    assert(served.nonEmpty)
    graft.queries.Q.deleteRecursively(dir)
  }

  test("pqTopK recall degrades but ranking stays deterministic at coarse k") {
    val emb = Tables.embeddings(spark, sf).limit(60)
    val a = Clustering.pqTopK(spark, emb, mSub = 4, subDim = 16,
      stride = 20, iters = 1, queryMod = 29, k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b = Clustering.pqTopK(spark, emb, mSub = 4, subDim = 16,
      stride = 20, iters = 1, queryMod = 29, k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.toSeq == b.toSeq) // bit-identical across runs
    assert(a.groupBy(_._1).forall(_._2.length == 3))
  }
}
