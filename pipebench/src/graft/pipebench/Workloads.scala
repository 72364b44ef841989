package graft.pipebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One public call the harness made (a phase call or a micro-batch)
  * and whether its output check held. */
final case class Op(phase: String, seconds: Double, ok: Boolean,
                    why: String = "")

/** What one pass over a workload produced: its operations, a content
  * digest of everything it committed (all passes over one seed must
  * agree), and its per-layer timings: the wall of each phase call and
  * the timings the program exposes publicly. */
final case class Cycle(ops: Seq[Op], digest: String,
                       layers: Map[String, Double])

/** Per-run state shared by set-up and the measured passes. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val scale: Inputs.Scale, val tracer: Option[SpanTracer]) {
  def span[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  /** Wall and process-CPU seconds spent inside [[timed]] since
    * [[resetTimers]]: the pipeline's own work, without the harness's
    * input landing and output checks. */
  var wallS = 0.0
  var cpuS = 0.0
  def resetTimers(): Unit = { wallS = 0.0; cpuS = 0.0 }

  /** Called once a pass has run its last phase (before the query
    * stops, for a stream), outside the timed calls. The listener bus is
    * drained first, so events it has yet to deliver do not count as
    * live. */
  def sampleLive(): Unit = {
    org.apache.spark.sql.graftinternal.ListenerBusDrain
      .waitUntilEmpty(spark, 30000L)
    Meters.sampleLive()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val c0 = Meters.cpuS
    val r = body
    val wall = Workloads.secs(t0)
    wallS += wall
    cpuS += Meters.cpuS - c0
    (r, wall)
  }

  /** An empty directory under the run's work dir. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Fs.rm(p)
    Files.createDirectories(p)
  }
}

/** File helpers for the run's work dir. */
object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally all.close()
    }

  /** Copy a directory tree (the generated inputs a pass starts from). */
  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally all.close()
  }

  /** The single parquet part file of a one-partition directory. */
  def part(dir: Path): Path = {
    val s = Files.list(dir)
    try s.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    finally s.close()
  }

  def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }
}

trait Workload {
  def name: String
  /** `cli.Main` and `CorpusPipeline` run on the pipeline session (the
    * graft optimizer extensions attached), as their own mains do. */
  def pipelineSession: Boolean
  /** Writes this seed's inputs under the work dir. */
  def generate(c: Ctx): Unit
  /** Anything derived from the generated inputs once per run. */
  def prepare(c: Ctx): Unit = ()
  def cycle(c: Ctx): Cycle
  /** Traced run only: extra spans outside the timed cycle. */
  def traceExtra(c: Ctx): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(RefreshCycle, CorpusFold, EventStreamDrain)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (${all.map(_.name).mkString(", ")})"))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The build-fingerprint record (`<version>|<key>`) of every table
    * of a warehouse that has one, by `layer.name`. */
  def fingerprints(warehouse: String): Map[String, String] = {
    val wh = java.nio.file.Paths.get(warehouse)
    Fs.children(wh).filter(_.getFileName.toString == "_model_fingerprint")
      .map(f => wh.relativize(f.getParent).toString.replace('/', '.') ->
        Files.readString(f)).toMap
  }

  /** Why a skip pass over unchanged inputs failed, or "". `before` and
    * `after` are the warehouse's fingerprints around the pass. It must
    * serve some models, each one a table an earlier pass fingerprinted,
    * and rebuild none: every record is left as it was. */
  def skipWhy(served: Seq[String], before: Map[String, String],
              after: Map[String, String]): String = {
    val rebuilt = after.keys.filter(k => before.get(k) != after.get(k))
    val unknown = served.filterNot(before.contains)
    Seq(if (served.isEmpty) "skip pass served no model" else "",
      if (rebuilt.isEmpty) "" else
        s"skip pass rebuilt ${rebuilt.toSeq.sorted.mkString(", ")}",
      if (unknown.isEmpty) "" else
        s"skip pass served unfingerprinted ${unknown.mkString(", ")}")
      .filter(_.nonEmpty).mkString("; ")
  }

  /** Digest of every committed table directly under `dir`. */
  def dirDigest(spark: SparkSession, cat: graft.ref.Catalog,
                layer: String): String = {
    val d = java.nio.file.Paths.get(s"${cat.root}/$layer")
    val names = Fs.children(d).filter(p => p.getParent == d &&
      Files.isDirectory(p)).map(_.getFileName.toString)
    val d2 = Digest.ofAll(names.map(n => n -> cat.load(layer, n)))
    names.map(n => s"$n=${d2(n)}").mkString(";")
  }
}

import Workloads._

/** The cron cycle through `cli.Main.run`: a seed pass over a dated
  * workbook backlog (replace, then merge the seeded daily drop), then
  * an incremental pass with nothing new. */
object RefreshCycle extends Workload {
  val name = "refresh_cycle"
  val pipelineSession = true
  private def data(c: Ctx) = c.work.resolve("source")

  def generate(c: Ctx): Unit = {
    val tpch = c.fresh("tpch")
    Inputs.tpch(c.spark, tpch, c.scale, c.seed)
    Inputs.workbookTree(c.spark, tpch, c.fresh("source"), c.seed)
  }

  def cycle(c: Ctx): Cycle = {
    import graft.cli.Main
    val wh = c.fresh("wh").toString
    val d = data(c).toString
    def pass(mode: String) =
      c.timed(c.span("cli")(Main.run(c.spark, mode, d, wh)))
    val (seed, seedS) = pass("seed")
    val fp = fingerprints(wh)
    val (skip, skipS) = pass("incremental")
    c.sampleLive()
    def status(r: Main.Report) =
      if (r.overallStatus == "success") "" else s"status ${r.overallStatus}"
    val served = skip.modelsSkipped.size
    val why = Seq(status(skip),
      Workloads.skipWhy(skip.modelsSkipped, fp, fingerprints(wh)),
      if (skip.sources.forall(_.status != "loaded")) "" else
        "skip pass reloaded a source").filter(_.nonEmpty).mkString("; ")
    val digest = dirDigest(c.spark, new graft.ref.Catalog(c.spark, wh), "mart")
    // the served count is recorded with the marts, so a later build
    // that serves a different count fails the digest check
    Cycle(Seq(
      Op("seed", seedS, status(seed).isEmpty, status(seed)),
      Op("skip", skipS, why.isEmpty, why)),
      s"served=$served;$digest",
      Map("cli.seed_s" -> seedS, "cli.skip_s" -> skipS,
        "cli.skip_ratio" -> served.toDouble / math.max(1, skip.models)))
  }

  /** The source layer on its own: every generated workbook decoded. */
  override def traceExtra(c: Ctx): Unit = {
    val paths = Fs.children(data(c)).map(_.toString)
      .filter(_.endsWith(".xlsx"))
    c.span("sources")(paths.foreach(p =>
      graft.sources.Xlsx.readAll(c.spark, p).values.foreach(_.count())))
  }
}

/** The corpus pipeline: seed from two thirds of the documents, fold the
  * seeded remaining third, then a pass with no new batch. */
object CorpusFold extends Workload {
  val name = "corpus_fold"
  val pipelineSession = true
  val stages = Seq("folds", "doc_labels", "split", "canonical", "packed",
    "export", "quality")
  private var originals = 0L

  def generate(c: Ctx): Unit = {
    val src = c.fresh("corpus_src")
    originals = Inputs.corpus(c.spark, src.resolve("batch_001"),
      src.resolve("batch_002"), c.scale.docs, c.seed)
  }

  def cycle(c: Ctx): Cycle = {
    import graft.corpus.CorpusPipeline
    val wh = c.fresh("wh").toString
    val data = c.fresh("corpus_data")
    val batches = data.resolve("batches")
    val src = c.work.resolve("corpus_src")
    Fs.copyTree(src.resolve("batch_001"), batches.resolve("batch_001"))
    def pass(mode: String) = c.timed(c.span("corpus")(
      CorpusPipeline.run(c.spark, mode, data.toString, wh)))
    val (seed, seedS) = pass("seed")
    Fs.copyTree(src.resolve("batch_002"), batches.resolve("batch_002"))
    val (inc, incS) = pass("incremental")
    val fp = fingerprints(wh)
    val (skip, skipS) = pass("incremental")
    c.sampleLive()
    // every planted duplicate must be gone: at most one canonical doc
    // per original text (generated texts share stopwords, so simhash
    // also clusters some distinct originals), and the skip pass serves
    // the canonical docs and the models the fold established
    def why(r: CorpusPipeline.Report, canonical: Boolean) = Seq(
      if (r.overallStatus == "success") "" else s"status ${r.overallStatus}",
      if (!canonical || (r.canonicalDocs <= originals &&
          r.canonicalDocs >= originals / 2)) ""
      else s"${r.canonicalDocs} canonical docs for $originals originals")
      .filter(_.nonEmpty).mkString("; ")
    val skipWhy = Seq(why(skip, true),
      Workloads.skipWhy(skip.modelsSkipped, fp, fingerprints(wh)),
      if (skip.canonicalDocs == inc.canonicalDocs) "" else
        s"skip pass serves ${skip.canonicalDocs} canonical docs, " +
          s"incremental ${inc.canonicalDocs}",
      if (skip.batches.isEmpty && !skip.exportRewritten) "" else
        "skip pass folded or rewrote").filter(_.nonEmpty).mkString("; ")
    val exportDir = s"$wh/export/train_shards"
    val digest = Digest.ofAll(Seq(
      "canonical" -> new graft.ref.Catalog(c.spark, wh)
        .load("corpus", "canonical_docs"),
      "export" -> c.spark.read.parquet(exportDir)))
      .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")
    val walls = Seq(seed, inc, skip).flatMap(_.stageWalls)
    Cycle(Seq(
      Op("seed", seedS, why(seed, false).isEmpty, why(seed, false)),
      Op("incremental", incS, why(inc, true).isEmpty, why(inc, true)),
      Op("skip", skipS, skipWhy.isEmpty, skipWhy)),
      s"served=${skip.modelsSkipped.size};$digest",
      stages.map(s => s"corpus.stage_s.$s" ->
        walls.collect { case (`s`, w) => w }.sum).toMap ++
        Map("corpus.seed_s" -> seedS, "corpus.incremental_s" -> incS,
          "corpus.skip_s" -> skipS, "corpus.skip_ratio" ->
            skip.modelsSkipped.size.toDouble / math.max(1, skip.models)))
  }
}

/** Event files drained one per micro-batch through
  * `EventStream.timerSessions` (RocksDB state, event-time timers) into
  * a parquet sink. */
object EventStreamDrain extends Workload {
  val name = "event_stream"
  val pipelineSession = false
  private var expected = (0L, 0L)

  def generate(c: Ctx): Unit =
    expected = Inputs.events(c.spark, c.fresh("events_src"), c.scale, c.seed)

  override def prepare(c: Ctx): Unit = {
    c.spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    c.spark.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.EventStream.statePartitions(c.spark).toString)
  }

  def cycle(c: Ctx): Cycle = {
    import graft.streaming.EventStream
    val landing = c.fresh("landing")
    val staging = c.fresh("landing_tmp")
    val out = c.fresh("sessions").resolve("data").toString
    val ckpt = c.fresh("ckpt").toString
    val files = (0 to c.scale.eventFiles).map(f =>
      Fs.part(c.work.resolve(f"events_src/f=$f")))
    def land(f: Int): Unit = {
      val tmp = staging.resolve(f"f$f%03d.parquet")
      Files.copy(files(f), tmp)
      Files.move(tmp, landing.resolve(tmp.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // only the query's own calls are timed, not the landing copies;
    // the span opens before start() so the first batch's jobs are in it
    land(0)
    val q = c.span("streaming") {
      val (q, _) = c.timed(EventStream.timerSessions(
          EventStream.readEvents(c.spark, landing.toString),
          delay = Inputs.LateSlack).toDF()
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ckpt)
        .start())
      try {
        c.timed(q.processAllAvailable())
        (1 until files.size).foreach { f =>
          land(f)
          c.timed(q.processAllAvailable())
        }
        c.sampleLive()
      } finally c.timed(q.stop())
      q
    }
    val all = q.recentProgress.toSeq
    val progress = all.filter(_.numInputRows > 0)
    val idle = all.filter(_.numInputRows == 0)
    val sessions = c.spark.read.parquet(out).filter(col("user_id") >= 0)
    val tot = sessions.agg(coalesce(sum("n_events"), lit(0L)),
      coalesce(sum("value_cents"), lit(0L))).head()
    val got = (tot.getLong(0), tot.getLong(1))
    val conserved = got == expected
    def ms(k: String) = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def trigger(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      p.durationMs.get("triggerExecution").doubleValue / 1e3
    val why = if (conserved) "" else
      s"sessions hold $got events/cents, expected $expected"
    // the first batch starts the query and creates the state store;
    // idle batches only advance the watermark and fire timers
    val ops = progress.zipWithIndex.map { case (p, i) =>
      Op(if (i == 0) "first" else "batch", trigger(p), conserved, why)
    } ++ idle.map(p => Op("idle", trigger(p), conserved, why))
    def mean(phase: String) = {
      val xs = ops.filter(_.phase == phase).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Cycle(if (progress.size == files.size) ops
      else ops :+ Op("batch", c.wallS, ok = false,
        s"${progress.size} data batches for ${files.size} files"),
      Digest.of(sessions),
      Map("streaming.first_batch_s" -> mean("first"),
        "streaming.batch_s" -> mean("batch"),
        "streaming.idle_batch_s" -> mean("idle"),
        "streaming.add_batch_ms" -> ms("addBatch"),
        "streaming.planning_ms" -> ms("queryPlanning"),
        "streaming.wal_commit_ms" -> ms("walCommit"),
        "streaming.state_commit_ms" -> Stats.median(progress.map(p =>
          p.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        "streaming.state_rows" -> progress.lastOption.fold(0.0)(p =>
          p.stateOperators.map(_.numRowsTotal).sum.toDouble)))
  }
}

object Stats {
  /** Median (0 for no samples). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
