package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Repetitions per query; the reported figure is the MIN. Default 2:
    // r03 showed that one sequential pass accumulates in-JVM pressure
    // (judge-isolated reruns measured 7.4s for a query the single-pass
    // harness reported at 32.0s), so a single sample is not a plan
    // signal. min-of-2 + GC between queries keeps the number anchored
    // to the plan, not to the JVM's history.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Resolved before the run starts so a bad launch dir fails in ms.
    val repoRoot = tools.Measure.repoRoot()
    // Provenance stamp (r12 VERDICT nit #2): who produced the committed
    // artifact, plus a timestamp-free run id, so BASELINE.md's round
    // table and bench/BENCH.json can't diverge silently.
    val runner = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNNER", "driver")
    val runId = f"pid${ProcessHandle.current().pid()}%d"
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Steal-immune per-query byte totals + /proc/stat steal sampling
    // (r19 VERDICT tasks #2/#6): bytes detect plan regressions on noisy
    // days; the steal pct of each MIN-achieving sample is the quietness
    // evidence a committed floor needs. See tools/Measure.scala.
    val sampler = new tools.Sampler(spark)
    val stealMaxPct = sys.env.get("SPARK_GRAFT_STEAL_MAX_PCT")
      .map(_.toDouble).getOrElse(tools.Steal.DefaultMaxPct)
    // Warm the session (codegen, parquet footer reads, shuffle machinery)
    // so the first measured query doesn't absorb JVM init.
    SparkEntry.entry(spark).count()
    // Heavy warmup: one representative expensive plan AT THE BENCHED SF
    // (wide lineitem scan + multi-join + agg). The tiny entry() warmup
    // left the alphabetically-first a*/ann/dd block absorbing the JIT/
    // parquet/shuffle ramp — BENCH_r08's driver single-run read as a
    // 46% regression that judge min-of-3 disproved. One a9-shaped run
    // moves that ramp out of the measured window.
    SparkEntry.queries.get("a9_period_spending").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // Optional args (local iteration only; the driver passes none):
    // query names to time instead of the full registry.
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args.toSet) else None
    // A query whose sample throws is FAILED: its time runs only to the
    // throw, so it takes no more samples and refuses the floor below.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map {
      case (name, fn) =>
        def sample(): tools.Sample = sampler.sample(fn(spark, sfDir).count())
        var samples = (1 to reps).map(_ => sample())
        // Multi-second queries carry the most headline weight and the
        // most per-sample noise: take a third sample for them (judge
        // min-of-3 methodology) so one GC pause or compilation stall
        // cannot inflate the reported min.
        while (samples.map(_.sec).min > 1.5 && samples.size < 3 &&
               !samples.exists(_.failed))
          samples = samples :+ sample()
        name -> samples.find(_.failed).getOrElse(samples.minBy(_.sec))
    }
    // Mart-layer throughput, not just per-query latency: wall time of the
    // full reference ModelDag (every model materialized through the
    // ATOMIC versioned catalog + read-back counts, exactly what RefDemo
    // drives). Skipped when a local iteration names specific queries.
    // Reported as its OWN top-level key, outside `queries` and the
    // headline total, so the per-query total stays comparable with the
    // r01–r07 rows in BASELINE.md.
    // Each refdemo key is MIN-OF-2 (fresh temp warehouse per rep): two
    // r10 driver runs of byte-identical code reported 408 vs 133 s for
    // refdemo_sf01_total — single-sample DAG wall time tracks VM noise,
    // not plans. A second in-harness rep bounds that the same way the
    // per-query rows got reps + adaptive third samples.
    def minOf2(body: () => Double): (Double, Option[Double]) = {
      def rep(): (Double, Option[Double]) = {
        sampler.reclaim()
        val st0 = tools.Steal.sample()
        val w = body()
        (w, tools.Steal.pct(st0, tools.Steal.sample()))
      }
      Seq(rep(), rep()).minBy(_._1)
    }
    // Returns (wall, per-model timings + _readback pseudo-model): the
    // refdemo_sf01 pass is BIMODAL under driver conditions (r15
    // VERDICT watch item — 135.0/171.9 s driver vs 71.0/65.9 s
    // builder on identical trees, per-query blocks within 1%), so
    // every run now emits per-model walls for BOTH reps under
    // `refdemo_sf01_models`; the next slow draw names its model
    // instead of being VM-noise folklore.
    def dagRun(inputs: ref.ModelDag.RawInputs)
        : (Double, Map[String, Double]) = {
      val wh = java.nio.file.Files.createTempDirectory("graft_bench_wh")
      try {
        // GC + peak-heap telemetry per rep (r21): the r20 driver drew
        // refdemo_sf01 at 181 s / 32 cores vs 68.5 s / 8 cores the same
        // morning, unreproducible on quiet same-tree runs (58–67 s at
        // 32c, three runs) — so a slow draw must name its MECHANISM
        // (GC thrash vs steal vs scheduling), not just its model.
        import scala.jdk.CollectionConverters._
        val pools = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
        pools.foreach(_.resetPeakUsage())
        def gcMs: Long = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        val gc0 = gcMs
        val t0 = System.nanoTime()
        val cat = new ref.Catalog(spark, wh.toString)
        val out = ref.ModelDag.run(cat, inputs)
        val tDag = System.nanoTime()
        out.values.foreach(_.count())
        val tEnd = System.nanoTime()
        val peakMb = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        ((tEnd - t0) / 1e9,
          cat.timings + ("_readback" -> (tEnd - tDag) / 1e9) +
            ("_gc_sec" -> (gcMs - gc0) / 1000.0) +
            ("_peak_heap_mb" -> peakMb))
      } finally queries.Q.deleteRecursively(wh)
    }
    val refdemo: Option[(Double, Option[Double])] =
      if (only.forall(_.contains("refdemo_total")))
        Some(minOf2(() => dagRun(ref.RefFixtures.inputs(spark))._1))
      else None
    // Same DAG at testdata volume (RefFixturesScale): refdemo_total
    // tracks the sink/commit path, this key tracks model-plan
    // throughput (sf0.1: 600k order lines through every mart).
    val refdemoSfRuns
        : Option[Seq[(Double, Map[String, Double], Option[Double])]] =
      if (only.forall(_.contains("refdemo_sf01_total")))
        Some(Seq.fill(2) {
          sampler.reclaim()
          val st0 = tools.Steal.sample()
          val (w, times) = dagRun(ref.RefFixturesScale.inputs(spark, sfDir))
          (w, times, tools.Steal.pct(st0, tools.Steal.sample()))
        })
      else None
    val refdemoSf: Option[(Double, Option[Double])] =
      refdemoSfRuns.map(_.map(r => (r._1, r._3)).minBy(_._1))
    // LLM-side end-to-end throughput (r19 VERDICT task #1): the
    // governed corpus pipeline — curation → committed exact + sharded
    // near-dup indexes → leakage-safe split → packing → shard export,
    // through AtomicTable commits, manifests and fingerprints — run as
    // seed (2/3 of documents) → one incremental batch fold (the last
    // third) → one skip pass, against a fresh temp warehouse per rep.
    // min-of-2 like the refdemo keys; per-phase walls reported from
    // the min rep. Batch prep (writing the batch drops) is untimed.
    final case class CorpusRep(total: Double, seed: Double, inc: Double,
                               skip: Double, steal: Option[Double])
    val corpusRuns: Option[Seq[CorpusRep]] =
      if (only.forall(_.contains("corpus_total"))) Some {
        val dataDir =
          java.nio.file.Files.createTempDirectory("graft_bench_corpus")
        val staged = dataDir.resolve("staged_batch_003")
        val live = dataDir.resolve("batches/batch_003")
        val docs = Tables.documents(spark, sfDir)
          .selectExpr("doc_id", "text", "lang", "source")
        (0 to 2).foreach { k =>
          val target = if (k == 2) staged.toString
                       else s"$dataDir/batches/batch_00${k + 1}"
          docs.filter(s"pmod(doc_id, 3) = $k")
            .write.mode("overwrite").parquet(target)
        }
        val out = Seq.fill(2) {
          sampler.reclaim()
          val wh = java.nio.file.Files
            .createTempDirectory("graft_bench_corpus_wh")
          try {
            val st0 = tools.Steal.sample()
            val t0 = System.nanoTime()
            corpus.CorpusPipeline.run(spark, "seed", dataDir.toString,
              wh.toString)
            val t1 = System.nanoTime()
            java.nio.file.Files.move(staged, live)
            corpus.CorpusPipeline.run(spark, "incremental",
              dataDir.toString, wh.toString)
            val t2 = System.nanoTime()
            corpus.CorpusPipeline.run(spark, "incremental",
              dataDir.toString, wh.toString)
            val t3 = System.nanoTime()
            CorpusRep((t3 - t0) / 1e9, (t1 - t0) / 1e9,
              (t2 - t1) / 1e9, (t3 - t2) / 1e9,
              tools.Steal.pct(st0, tools.Steal.sample()))
          } finally {
            if (java.nio.file.Files.exists(live))
              java.nio.file.Files.move(live, staged)
            queries.Q.deleteRecursively(wh)
          }
        }
        queries.Q.deleteRecursively(dataDir)
        out
      }
      else None
    val corpusMin: Option[CorpusRep] = corpusRuns.map(_.minBy(_.total))
    val total = results.map(_._2.sec).sum
    // Floor verdict over the MIN-achieving samples of every reported
    // number (queries + both refdemo keys + corpus): the committed floor
    // is refused when any query failed or any reported min was taken
    // under steal.
    val floor = tools.Measure.floor(results,
      refdemo.map(_._2).toSeq ++ refdemoSf.map(_._2) ++
        corpusMin.map(_.steal), stealMaxPct)
    // Locale.ROOT: a comma decimal separator would corrupt the JSON.
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + sec(v.sec) }
      .mkString("{", ",", "}")
    // Steal-immune per-query plan signals (r19 task #2): shuffle and
    // output MB of the min-achieving sample, plus that sample's steal
    // pct — bytes are host-invariant for a fixed plan, so a
    // round-over-round byte jump is a plan regression even when wall
    // is noise.
    def qmap(f: tools.Sample => Double): String =
      results.map { case (k, v) => s"\"" + k + "\":" + sec(f(v)) }
        .mkString("{", ",", "}")
    val qShuffle = qmap(_.stages.shuffleBytes / 1048576.0)
    val qOut = qmap(_.stages.outBytes / 1048576.0)
    val qSteal = qmap(_.steal.getOrElse(-1.0))
    // Slowest 10 models (plus wall + read-back) of EACH sf01 rep — the
    // per-model instrumentation the bimodality hunt needs (see dagRun).
    val refdemoSfModels = refdemoSfRuns.map { runs =>
      runs.zipWithIndex.map { case ((wall, times, _), i) =>
        // telemetry keys (_-prefixed: readback, gc, peak heap) always
        // ride along; the top-10 slots stay model walls
        val (telemetry, models) = times.toSeq.partition(_._1.startsWith("_"))
        val top = (telemetry.sortBy(_._1) ++ models.sortBy(-_._2).take(10))
          .map { case (m, v) => s"\"$m\":${sec(v)}" }
        s"\"rep${i + 1}\":{" +
          ((s"\"_total\":${sec(wall)}" +: top).mkString(",")) + "}"
      }.mkString("{", ",", "}")
    }
    val refdemoJson =
      refdemo.map(v => s""""refdemo_total":${sec(v._1)},""").getOrElse("") +
        refdemoSf.map(v => s""""refdemo_sf01_total":${sec(v._1)},""")
          .getOrElse("") +
        refdemoSfModels.map(m => s""""refdemo_sf01_models":$m,""")
          .getOrElse("") +
        corpusMin.map(c =>
          s""""corpus_total":${sec(c.total)},""" +
            s""""corpus_phases":{"seed":${sec(c.seed)},""" +
            s""""incremental":${sec(c.inc)},"skip":${sec(c.skip)}},""")
          .getOrElse("")
    // Stop Spark BEFORE printing so no executor-shutdown log line can land
    // after the JSON, and keep "metric"/"value" as the LAST keys: the
    // driver's tail capture keeps the END of stdout, so even if the
    // per-query map outgrows the window the headline total stays visible
    // (BENCH_r02's total was truncated away with the old key order).
    queries.Q.cleanupScratch() // last sample / refdemo fixtures
    spark.stop()
    val failedJson = floor.failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val json =
      s"""{"sf":"$sfDir","reps":$reps,"runner":"$runner","run_id":"$runId","steal_quiet":${floor.stealQuiet},"steal_worst_pct":${sec(floor.stealWorst)},"steal_threshold_pct":${sec(stealMaxPct)},"queries":$qs,"query_shuffle_mb":$qShuffle,"query_output_mb":$qOut,"query_steal_pct":$qSteal,$refdemoJson"failed_queries":$failedJson,"unit":"sec","metric":"total","value":${sec(total)}}"""
    // Self-contained artifact (judge r11 task #1): the driver keeps only
    // the last 2,000 chars of stdout, which truncates the per-query head
    // block out of BENCH_r{N}.json. Persist the FULL JSON in-repo so
    // round-over-round per-query comparison survives by artifact alone.
    // Full runs only — local subset iterations must not clobber the
    // round's committed numbers. A run with a failed query, or whose
    // min-achieving samples were NOT quiet (steal over threshold), is
    // refused the floor file and lands in BENCH_REJECTED.json instead
    // (r19 task #6) — the r19 committed floor carried 60–81 s of steal
    // excess precisely because nothing enforced this.
    if (only.isEmpty) {
      val name = if (floor.accepted) "bench/BENCH.json"
                 else "bench/BENCH_REJECTED.json"
      val out = repoRoot.resolve(name)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (floor.failed.nonEmpty) System.err.println(
        s"[bench] FAILURE REFUSAL: ${floor.failed.mkString(", ")} failed " +
          s"— floor NOT updated; wrote $name")
      if (!floor.stealQuiet) System.err.println(
        f"[bench] STEAL REFUSAL: worst min-sample steal ${floor.stealWorst}%.2f%% " +
          f"> $stealMaxPct%.2f%% — floor NOT updated; wrote $name")
    }
    println(json)
  }
}
