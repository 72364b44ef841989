package graft

import graft.tools.{Measure, Sampler, ScaleBench}

/** The shared sampler's failure and record accounting, and a 1× sweep
  * of every ScaleBench family over sf0.001. */
class ScaleBenchSpec extends SparkSpec {

  test("a throwing body gives a failed sample, and the floor verdict refuses it") {
    val sampler = new Sampler(spark)
    val boom = sampler.sample(throw new IllegalStateException("boom"))
    assert(boom.failed)
    assert(boom.error.exists(_.getMessage == "boom"))
    val ok = sampler.sample(spark.range(0, 1000, 1, 4).repartition(4).count())
    assert(!ok.failed)
    assert(ok.rows == 1000L)
    // 1,000 rows written and read by the repartition, 4 partial counts
    // written and read by the count
    assert(ok.stages.shuffleRecords == 2008L)
    // steal = None: the verdict must not depend on this host's steal
    val quiet = Seq("q_ok" -> ok.copy(steal = None))
    assert(Measure.floor(quiet, Nil, thresholdPct = 2.0).accepted)
    val floor = Measure.floor(quiet :+ ("q_boom" -> boom.copy(steal = None)),
      Nil, thresholdPct = 2.0)
    assert(floor.stealQuiet)
    assert(floor.failed == Seq("q_boom"))
    assert(!floor.accepted)
  }

  test("a 1x sweep gives every family a point with every SCALE.json field") {
    val fams = ScaleBench.families
    val results = ScaleBench.sweep(spark, sf, Seq(1), fams, cutoff = 1e9)
    assert(results.map(_._1.name) == fams.map(_.name))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fields = Seq("scales", "secs", "rows", "shuffle_bytes",
      "shuffle_records", "spill_bytes", "peak_exec_mem", "output_bytes",
      "steal_pct", "sf", "cpus", "cutoff", "alpha", "alpha_tail",
      "shuffle_tail", "output_tail")
    for ((f, pts) <- results) {
      assert(pts.map(_.k) == Seq(1), f.name)
      val json = mapper.readTree(
        "{" + ScaleBench.familyReport(f, pts, sf, "4", 1e9) + "}").get(f.name)
      val missing = fields.filterNot(json.has)
      assert(missing.isEmpty, s"${f.name} lacks $missing")
      for (a <- Seq("scales", "secs", "rows", "shuffle_bytes",
                    "shuffle_records", "output_bytes"))
        assert(json.get(a).size == 1, s"${f.name}.$a")
      assert(json.get("rows").get(0).asLong >= 0L, f.name)
    }
  }
}
