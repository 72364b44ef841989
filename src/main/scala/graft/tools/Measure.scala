package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared measurement plumbing for [[graft.Bench]] and [[ScaleBench]]:
  * the one sampling loop, per-sample stage totals (the steal-immune plan
  * signal) and hypervisor-steal sampling from `/proc/stat` (the
  * quietness evidence). */

/** Per-sample stage-metric accumulator: total shuffle bytes and records
  * (read + written), disk spill, summed per-task peak execution memory,
  * and sink-output bytes. Register ONCE per session; `reset()` before a
  * sample, drain the listener bus, then `snap`. Bytes are host- and
  * steal-INVARIANT for a fixed plan, so round-over-round plan
  * regressions stay detectable even when wall time is noise (SCALE.md
  * doctrine). Records are exact where compressed bytes are not: block
  * size depends on the row order inside a partition. */
final class StageMetrics extends org.apache.spark.scheduler.SparkListener {
  private var shuffleBytes = 0L
  private var shuffleRecords = 0L
  private var spill = 0L
  private var peakMem = 0L
  private var outBytes = 0L
  override def onStageCompleted(
      sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
      : Unit = synchronized {
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleReadMetrics.recordsRead +
        m.shuffleWriteMetrics.recordsWritten
      spill += m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      // sink-output bytes (parquet/commit writes): the COMMIT-COST
      // signal the index families measure — a write ∝ index instead
      // of ∝ batch is invisible to shuffle bytes (r17)
      outBytes += m.outputMetrics.bytesWritten
    }
  }
  def reset(): Unit = synchronized {
    shuffleBytes = 0; shuffleRecords = 0; spill = 0; peakMem = 0
    outBytes = 0
  }
  def snap: StageTotals = synchronized(
    StageTotals(shuffleBytes, shuffleRecords, spill, peakMem, outBytes))
}

final case class StageTotals(shuffleBytes: Long, shuffleRecords: Long,
                             spill: Long, peakMem: Long, outBytes: Long)

/** One measured sample: wall seconds, the body's row count, the stage
  * totals and the steal pct of its window. `error` is what the body
  * threw; a failed sample's time runs only to the throw, so it is no
  * measurement of the body. */
final case class Sample(sec: Double, rows: Long, stages: StageTotals,
                        steal: Option[Double], error: Option[Throwable]) {
  def failed: Boolean = error.isDefined
}

/** The sampling loop of Bench and ScaleBench. Each sample first
  * reclaims the previous one's state, then times the body alone and
  * snaps the stage totals of exactly its stages. */
final class Sampler(spark: SparkSession) {
  private val metrics = new StageMetrics
  spark.sparkContext.addSparkListener(metrics)

  /** Listener events are async: drain before a sample's reset (earlier
    * stages stay out) and before its snap (late stages stay in). */
  private def drain(): Unit = org.apache.spark.sql.graftinternal.ListenerBusDrain
    .waitUntilEmpty(spark, Measure.DrainTimeoutMs)

  /** Spark's ContextCleaner frees shuffle files and broadcasts only after
    * a GC, so back-to-back samples inflate each other (the r03
    * "regressions"): uncache, delete scratch dirs, GC, let it drain. */
  def reclaim(): Unit = {
    spark.catalog.clearCache()
    graft.queries.Q.cleanupScratch()
    System.gc()
    Thread.sleep(200)
    drain()
  }

  def sample(body: => Long): Sample = {
    reclaim()
    metrics.reset()
    val st0 = Steal.sample()
    val t0 = System.nanoTime()
    val (rows, error) =
      try (body, None) catch { case e: Throwable => (-1L, Some(e)) }
    val sec = (System.nanoTime() - t0) / 1e9
    val stealPct = Steal.pct(st0, Steal.sample())
    drain()
    Sample(sec, rows, metrics.snap, stealPct, error)
  }
}

object Measure {

  /** Listener-bus drain bound; it only matters when the bus is stuck. */
  val DrainTimeoutMs = 30000L

  /** Repo root for the committed `bench/` artifacts: the
    * SPARK_GRAFT_REPO_ROOT deployment path, else the nearest build.sbt
    * above the working directory, never the JVM cwd itself (r12 ADVICE). */
  def repoRoot(): java.nio.file.Path =
    sys.env.get("SPARK_GRAFT_REPO_ROOT").map(java.nio.file.Paths.get(_))
      .orElse {
        Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(
            _.getParent)
          .takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      }
      .getOrElse(sys.error(
        "no build.sbt above cwd and SPARK_GRAFT_REPO_ROOT unset"))

  /** Floor-commit verdict of a Bench run: its failed queries and
    * [[Steal.verdict]] over the reported samples' and other reps' steal
    * pcts. The committed floor is refused on either. */
  final case class Floor(failed: Seq[String], stealQuiet: Boolean,
                         stealWorst: Double) {
    def accepted: Boolean = failed.isEmpty && stealQuiet
  }

  def floor(queries: Seq[(String, Sample)],
            otherStealPcts: Seq[Option[Double]],
            thresholdPct: Double): Floor = {
    val (quiet, worst) = Steal.verdict(
      queries.map(_._2.steal) ++ otherStealPcts, thresholdPct)
    Floor(queries.collect { case (n, s) if s.failed => n }, quiet, worst)
  }
}

/** Hypervisor-steal sampling from `/proc/stat`. Two same-day r19
  * ScaleBench ladders read tail exponents 1.93/1.55 at IDENTICAL
  * shuffle bytes purely from 9–28% steal bursts, and the committed
  * r19 bench floor carries 60–81 s of documented steal excess — wall
  * numbers taken without quietness evidence are not floors. Bench and
  * ScaleBench sample steal around every measured rep and persist it in
  * their JSON artifacts; Bench additionally REFUSES to overwrite the
  * committed `bench/BENCH.json` floor when the min-achieving samples
  * were not quiet (writing `BENCH_REJECTED.json` instead).
  */
object Steal {

  /** Parse one aggregate-cpu `/proc/stat` line → (stealTicks,
    * totalTicks). Fields after "cpu": user nice system idle iowait
    * irq softirq steal [guest guest_nice] — guest columns are already
    * included in user/nice, so total sums only the first 8. */
  def parseStatLine(line: String): Option[(Long, Long)] = {
    val f = line.trim.split("\\s+")
    if (f.length < 5 || f(0) != "cpu") None
    else {
      val ticks = f.drop(1).take(8).map(s => try s.toLong catch {
        case _: NumberFormatException => return None
      })
      val steal = if (ticks.length > 7) ticks(7) else 0L
      Some((steal, ticks.sum))
    }
  }

  /** (stealTicks, totalTicks) now, or None off-Linux / unreadable. */
  def sample(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .flatMap(parseStatLine)
      finally src.close()
    } catch { case _: Throwable => None }

  /** Steal percentage over the window [before, after]; None when
    * either sample is missing or the window is empty. */
  def pct(before: Option[(Long, Long)],
          after: Option[(Long, Long)]): Option[Double] =
    for {
      (s0, t0) <- before
      (s1, t1) <- after
      if t1 > t0
    } yield 100.0 * (s1 - s0).toDouble / (t1 - t0).toDouble

  /** Default floor-commit threshold: quiet sessions on this host read
    * 0–1% st; discard-worthy bursts read 3–28% (r17/r19). */
  val DefaultMaxPct = 2.0

  /** Floor-commit verdict over the steal pcts of the MIN-achieving
    * samples (one per query; a noisy discarded sample is irrelevant if
    * the reported min was taken quietly). Missing samples (None) count
    * as quiet — off-Linux hosts have no steal. Returns
    * (quiet, worst observed pct). Exercised by BenchInfraSpec. */
  def verdict(minSamplePcts: Seq[Option[Double]],
              thresholdPct: Double = DefaultMaxPct): (Boolean, Double) = {
    val observed = minSamplePcts.flatten
    val worst = if (observed.isEmpty) 0.0 else observed.max
    (worst <= thresholdPct, worst)
  }
}
