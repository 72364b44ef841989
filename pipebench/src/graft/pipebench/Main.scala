package graft.pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Pipeline benchmark harness: one workload per process, closed loop,
  * one caller.
  *
  * {{{
  * java -cp <classes>:<spark jars> graft.pipebench.Main \
  *   --workload NAME --seed N --seconds S --trace 0|1 --work DIR \
  *   --digests DIR --reference FILE [--scale bench|tiny|large] [--tamper]
  * }}}
  *
  * Set-up (JVM and session start plus the median of three seeded input
  * generations) is reported as `setup_s`. There is no warm-up pass: a
  * pass of each workload costs most of a run, so each run measures the
  * cold first pass, the cost a cron-started process pays on every tick.
  * `wall_s` and `cpu_s` cover the pipeline calls of a pass, not the
  * harness's input landing and output checks. `live_heap_mb` is the
  * heap a full collection leaves at the end of the pass (after the last
  * micro-batch for event_stream); the post-GC peak over the pass, which
  * depends on when collections run, is the traced run's
  * `run.peak_heap_mb`. Every pass must commit the same content as the
  * run's first pass, and the first pass the content recorded for its
  * (workload, scale, seed): in the committed `--reference` file if it
  * lists the seed, else in the `--digests` log of earlier runs in this
  * checkout, whatever build made them. A mismatch counts the pass's
  * operations as failed. With `--trace 0` passes repeat until
  * `--seconds` have elapsed (at least one) and the end-to-end metrics
  * are medians over passes. With `--trace 1` the same set-up is
  * followed by exactly one pass with the span listener on; it reports
  * the per-layer metrics and its wall time (`trace.wall_s`), whose
  * excess over the untraced runs' `wall_s` is the tracing overhead.
  * `--tamper` alters the reference digest, so every operation must then
  * be flagged: the self-test uses it to prove the output check bites.
  *
  * The last stdout line is the result object:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}`.
  */
object Main {
  /** One measured pass: what it committed, and its pipeline wall and
    * CPU seconds and Spark job count. */
  final case class Pass(cycle: Cycle, wall: Double, cpu: Double, jobs: Long)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, digests: Path,
                        reference: Path, scale: String, tamper: Boolean)

  def parse(a: Seq[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => None
      case i => a.lift(i + 1)
    }
    def need(k: String) = opt(k).getOrElse(
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      Paths.get(need("--work")).toAbsolutePath,
      Paths.get(need("--digests")).toAbsolutePath,
      Paths.get(need("--reference")).toAbsolutePath,
      opt("--scale").getOrElse("bench"), a.contains("--tamper"))
  }

  private val GenReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val w = Workloads.byName(a.workload)
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = graft.tools.Steal.sample()

    val spark =
      if (w.pipelineSession) graft.Sessions.pipeline(cpus.toString)
      else graft.Sessions.local(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    def mark(what: String): Unit =
      System.err.println(f"[pipebench] at $sinceStart%.2f s: $what")
    val sessionS = sinceStart
    val c0 = new Ctx(spark, a.work, a.seed, Inputs.Scales(a.scale), None)
    Files.createDirectories(a.work)

    try {
      val genS = Stats.median((1 to GenReps).map { _ =>
        val t0 = System.nanoTime()
        w.generate(c0)
        Workloads.secs(t0)
      })
      w.prepare(c0)
      val setupS = sessionS + genS
      mark("set-up done")

      val passes = ArrayBuffer.empty[Pass]
      def measure(c: Ctx): Pass = {
        val j0 = jobs.jobs.get
        c.resetTimers()
        val cy = w.cycle(c)
        Pass(cy, c.wallS, c.cpuS, jobs.jobs.get - j0)
      }
      // the measured pass starts on a heap without the generator's
      // garbage, so neither its GC work nor its peak depends on when
      // that garbage happens to be collected
      Meters.collect()
      val steal1 = graft.tools.Steal.sample()
      Meters.resetPeak()
      var traceOut = Seq.empty[(String, Double)]
      if (!a.trace) {
        val t0 = System.nanoTime()
        while (passes.isEmpty || Workloads.secs(t0) < a.seconds)
          passes += measure(c0)
      } else {
        // exactly one pass, in the same state an untraced run measures
        // its first, so its wall time against the untraced runs' wall_s
        // is the tracing overhead
        val tracer = new SpanTracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(tracer)
        val ct = new Ctx(spark, a.work, a.seed, c0.scale, Some(tracer))
        val traced = measure(ct)
        passes += traced
        w.traceExtra(ct)
        org.apache.spark.sql.graftinternal.ListenerBusDrain
          .waitUntilEmpty(spark, 30000L)
        traceOut = tracer.counters(Metrics.spanLayers) ++
          tracer.siteCounters(Metrics.siteModules) ++
          Metrics.layerDefaults.map { case (k, v) =>
            k -> traced.cycle.layers.getOrElse(k, v) } ++
          Seq("trace.wall_s" -> traced.wall, "run.jobs" -> traced.jobs.toDouble)
      }
      mark("passes done")
      val peak = Meters.peakHeapMb
      val live = Meters.liveHeapMb
      val stealPct = graft.tools.Steal.pct(steal1,
        graft.tools.Steal.sample()).getOrElse(0.0)

      // every measured operation is checked: its own check and the
      // digest of what its pass committed, against the run's first pass
      // and against the recorded content of the same seed
      val first = passes.head.cycle.digest
      val recorded = DigestLog.check(a.reference, a.digests,
        s"${w.name}-${a.scale}-${a.seed}", first)
      val reference = if (a.tamper) "tampered:" + first else first
      val ops = passes.toSeq.flatMap { p =>
        val why = recorded.toSeq ++ (if (p.cycle.digest == reference) Nil
          else Seq("digest differs from the run's first pass"))
        p.cycle.ops.map(o => if (why.isEmpty) o else o.copy(ok = false,
          why = (o.why +: why).filter(_.nonEmpty).mkString("; ")))
      }
      val failed = ops.filterNot(_.ok)
      failed.map(o => s"${o.phase}: ${o.why}").distinct
        .foreach(m => System.err.println(s"[pipebench] check failed: $m"))

      val e2e = Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(passes.map(_.wall).toSeq),
        "cpu_s" -> Stats.median(passes.map(_.cpu).toSeq),
        "live_heap_mb" -> live)

      val stamp = Map(
        "workload" -> s"\"${w.name}\"", "seed" -> a.seed.toString,
        "cores" -> cpus.toString, "max_heap_mb" -> Meters.maxHeapMb.toString,
        "steal_pct_setup" -> f"${graft.tools.Steal.pct(steal0, steal1)
          .getOrElse(0.0)}%.2f",
        "steal_pct" -> f"$stealPct%.2f",
        "passes" -> passes.size.toString,
        "jobs_per_pass" -> passes.map(_.jobs).mkString("[", ",", "]"),
        "setup_parts_s" -> f"[$sessionS%.3f,$genS%.3f]",
        "digest" -> s"\"$reference\"")
      println("[pipebench] stamp " + stamp.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}"))
      println("[pipebench] e2e " + Metrics.json(e2e))
      mark("checks done")
      val metrics =
        if (a.trace) (traceOut ++ Seq("run.steal_pct" -> stealPct,
          "run.peak_heap_mb" -> peak)).toMap
        else e2e
      println(s"""{"correct": ${failed.isEmpty}, "attempted": ${ops.size}, """ +
        s""""failed": ${failed.size}, "metrics": ${Metrics.json(metrics)}}""")
    } finally spark.stop()
  }
}

/** The recorded output digest of each `<workload>-<scale>-<seed>` key.
  * `reference` is the committed file (`key<TAB>digest` lines, `#`
  * comments); a key it lacks is looked up in, or else recorded to, the
  * `log` directory of earlier runs. Neither is tied to a build, so a
  * changed program is checked against what earlier programs committed. */
object DigestLog {
  def read(reference: Path): Map[String, String] =
    if (!Files.exists(reference)) Map.empty
    else Files.readAllLines(reference).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map { l => val Array(k, d) = l.split("\t", 2); k -> d }.toMap

  /** None when `digest` matches the record of `key`, else why not. */
  def check(reference: Path, log: Path, key: String,
            digest: String): Option[String] =
    read(reference).get(key) match {
      case Some(d) =>
        if (d == digest) None
        else Some(s"digest differs from the reference for $key")
      case None =>
        val f = log.resolve(key)
        if (!Files.exists(f)) {
          Files.createDirectories(log)
          Files.writeString(f, digest)
          None
        } else if (Files.readString(f) == digest) None
        else Some(s"digest differs from an earlier run of $key")
    }
}

/** Names and units of everything the harness reports. */
object Metrics {
  val spanLayers = Seq("cli", "corpus", "streaming", "sources")
  val siteModules = Seq("cli", "ref", "corpus", "streaming", "sources",
    "operators", "llm", "quality", "ingest", "tools", "plans", "functions",
    "unattributed")
  /** Layer timings a workload reports; 0 where the layer is idle. */
  val layerDefaults: Seq[(String, Double)] =
    (Seq("cli.seed_s", "cli.skip_s", "cli.skip_ratio", "corpus.seed_s",
      "corpus.incremental_s", "corpus.skip_s", "corpus.skip_ratio") ++
      CorpusFold.stages.map(s => s"corpus.stage_s.$s") ++
      Seq("streaming.first_batch_s", "streaming.batch_s",
        "streaming.idle_batch_s", "streaming.add_batch_ms",
        "streaming.planning_ms", "streaming.wal_commit_ms",
        "streaming.state_commit_ms", "streaming.state_rows"))
      .map(_ -> 0.0)

  def unit(name: String): String = {
    val leaf = name.split('.').last
    if (leaf.endsWith("_ms")) "ms"
    else if (leaf.endsWith("_s") || name.startsWith("corpus.stage_s.")) "s"
    else if (leaf.endsWith("_mb")) "MB"
    else if (leaf.endsWith("_ratio")) "ratio"
    else if (leaf.endsWith("_pct")) "%"
    else if (leaf == "tasks_per_job") "tasks/job"
    else "count"
  }

  def json(m: Map[String, Double]): String = m.toSeq.sortBy(_._1).map {
    case (k, v) => s""""$k": {"value": ${BigDecimal(v).bigDecimal
      .toPlainString}, "unit": "${unit(k)}"}"""
  }.mkString("{", ", ", "}")
}
