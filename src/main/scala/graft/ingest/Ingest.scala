package graft.ingest

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side ingestion mechanics from SURVEY §2.1: dated-file
  * discovery (S4), processed-file state tracking (S12), load-metadata
  * stamping (S3), and the append-only export (S7). These are
  * deliberately driver-side (file listing + a small JSON state file) —
  * the reference does the same with os.listdir + logs/processed_files
  * .json (orchestrator.py:34-141); only the per-file *reads* are
  * distributed.
  */
object Ingest {

  /** Parsed discovery result: path + extracted snapshot date + kind. */
  final case class DatedFile(path: String, date: String, kind: String)

  private val txnRe = "^(\\d{4}-\\d{2}-\\d{2})_transactions\\..*$".r
  private val listsRe = "^All Lists_(\\d{2})_(\\d{2})_(\\d{4}).*$".r

  /** S4 — regex-extract dates from `{DATE}_transactions.*` and
    * `All Lists_MM_DD_YYYY*` names, sorted chronologically
    * (pipelines/quickbooks/pipeline.py:63-149). */
  def discover(dir: String): Seq[DatedFile] = {
    val entries =
      if (!Files.isDirectory(Paths.get(dir))) Seq.empty[Path]
      else Files.list(Paths.get(dir)).iterator().asScala.toSeq
    entries.flatMap { p =>
      p.getFileName.toString match {
        case txnRe(d) => Some(DatedFile(p.toString, d, "transactions"))
        case listsRe(mm, dd, yyyy) =>
          Some(DatedFile(p.toString, s"$yyyy-$mm-$dd", "lists"))
        case _ => None
      }
    }.sortBy(f => (f.date, f.path))
  }

  /** Latest file per kind (the `latest_only` incremental mode,
    * orchestrator.py:119-141). */
  def latestOnly(files: Seq[DatedFile]): Map[String, DatedFile] =
    files.groupBy(_.kind).view.mapValues(_.maxBy(f => (f.date, f.path)))
      .toMap

  /** S3 — stamp load metadata onto every row
    * (pipelines/quickbooks/pipeline.py:185-198). */
  def withLoadMetadata(df: DataFrame, snapshotDate: String,
                       isSeed: Boolean, sourceFile: String): DataFrame =
    df.withColumn("load_date", current_date().cast("string"))
      .withColumn("snapshot_date", lit(snapshotDate))
      .withColumn("is_seed", lit(isSeed))
      .withColumn("source_file", lit(sourceFile))

  /** S7 — append-only export of rows newer than the last exported
    * watermark (pipelines/quickbooks/pipeline.py:459-558): returns the
    * slice and the new watermark. */
  def appendExport(df: DataFrame, watermarkCol: String,
                   lastExported: Option[String]): (DataFrame, Option[String]) = {
    val slice = lastExported match {
      case Some(w) => df.filter(col(watermarkCol) > lit(w))
      case None => df
    }
    val newMax = slice.agg(max(col(watermarkCol)).cast("string")).head()
    ((slice), Option(newMax.getString(0)).orElse(lastExported))
  }

  /** S12 — processed-file state: path → mtime, persisted as a tiny JSON
    * file; a source is skipped when no tracked file changed
    * (orchestrator.py:86-141). Minimal hand-rolled JSON (flat string→
    * long map) to stay dependency-free. Keys are escaped (`\` and `"`),
    * a save goes to a tmp file renamed into place, and a load accepts
    * only a file its own encoder reproduces byte for byte — a torn or
    * foreign file fails loudly instead of reading as fewer entries
    * (the corpus pass numbers its folds by the entry count). */
  final class StateStore(statePath: String) {
    private def encode(state: Map[String, Long]): String =
      state.toSeq.sorted.map { case (k, v) =>
        s""""${k.replace("\\", "\\\\").replace("\"", "\\\"")}": $v"""
      }.mkString("{", ", ", "}")

    private def decode(s: String): Map[String, Long] = {
      val state = "\"((?:[^\"\\\\]|\\\\.)*)\": (\\d+)".r
        .findAllMatchIn(s)
        .map(m => m.group(1).replaceAll("\\\\(.)", "$1") ->
          m.group(2).toLong).toMap
      if (encode(state) != s) throw new IllegalStateException(
        s"$statePath is not a state file this store wrote (torn?)")
      state
    }

    def load(): Map[String, Long] = {
      val p = Paths.get(statePath)
      if (Files.exists(p)) decode(Files.readString(p)) else Map.empty
    }

    def save(state: Map[String, Long]): Unit = {
      val p = Paths.get(statePath)
      Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
      Files.writeString(tmp, encode(state))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    /** True when any of `paths` is new or has a changed mtime. */
    def changed(paths: Seq[String]): Boolean = {
      val state = load()
      paths.exists { p =>
        val m = Files.getLastModifiedTime(Paths.get(p)).toMillis
        !state.get(p).contains(m)
      }
    }

    def markProcessed(paths: Seq[String]): Unit =
      save(load() ++ paths.map(p =>
        p -> Files.getLastModifiedTime(Paths.get(p)).toMillis))

    /** Generic completion markers (mtime-free) — backfill chunk keys. */
    def isDone(key: String): Boolean = load().contains(key)
    def markDone(key: String): Unit = save(load() + (key -> 1L))
  }

  /** DEAD-LETTER ROUTING for dirty feeds: evaluate named validation
    * rules (name → passes-predicate, in PRECEDENCE order) and tag each
    * row with `_quarantine_reason` = the FIRST failing rule, NULL when
    * all pass. One scan, one codegen'd coalesce-of-whens — no UDFs, no
    * second pass per rule. The batch neither fails NOR silently drops
    * bad rows: callers split on the tag and commit BOTH halves
    * ([[quarantineSplit]]), so quarantined rows survive for inspection
    * and replay — the DLQ discipline a 100 TB feed needs, where one
    * malformed row must not kill a multi-hour load (ANSI mode throws
    * on dirty casts: rules should use `try_cast`/`try_*` forms).
    * Precedence is part of the contract: a row failing several rules
    * reports the first. */
  def withQuarantineReason(df: DataFrame,
                           rules: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame = {
    import org.apache.spark.sql.functions._
    // NULL-safe: a rule predicate that evaluates to NULL (e.g.
    // `col("x") > 0` with x NULL) must QUARANTINE, not silently pass —
    // `when(!ok, ...)` alone never fires on NULL (r11 ADVICE).
    val reason = coalesce(rules.map { case (name, ok) =>
      when(!coalesce(ok, lit(false)), lit(name))
    } :+ lit(null).cast("string"): _*)
    df.withColumn("_quarantine_reason", reason)
  }

  /** [[withQuarantineReason]] split into (good, quarantined) — good
    * rows drop the tag, quarantined keep it as `quarantine_reason`. */
  def quarantineSplit(df: DataFrame,
                      rules: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val tagged = withQuarantineReason(df, rules)
    (tagged.filter(col("_quarantine_reason").isNull)
        .drop("_quarantine_reason"),
      tagged.filter(col("_quarantine_reason").isNotNull)
        .withColumnRenamed("_quarantine_reason", "quarantine_reason"))
  }

  final case class BackfillChunk(start: String, end: String,
                                 status: String, rows: Long)

  /** RESTARTABLE CHUNKED BACKFILL — reprocess a long history window in
    * bounded chunks, each an idempotent keyed MergeUpsert commit into
    * an AtomicTable, with completed chunks recorded in the
    * [[StateStore]] so a crashed backfill RESUMES where it stopped:
    * already-committed chunks are skipped (never redone, never lost) —
    * the reference orchestrator's rerun discipline (per-source failure
    * isolation, state-file skip) applied to history rebuilds. At scale
    * one monolithic backfill job runs for days and loses everything on
    * the first failure; day/week chunks bound both the blast radius
    * and the shuffle working set, and the upsert keys make re-running
    * a chunk a no-op rather than a duplication.
    *
    * Per-chunk row counts come from an `observe` node
    * ([[graft.quality.Observed]]) riding the commit's own write job —
    * the backfill report costs no extra scans. */
  def chunkedBackfill(spark: org.apache.spark.sql.SparkSession,
                      targetDir: String, store: StateStore,
                      chunks: Seq[(String, String)], keys: Seq[String])(
                      build: (String, String) => DataFrame)
      : Seq[BackfillChunk] = {
    import graft.operators.{AtomicTable, MergeUpsert}
    chunks.map { case (start, end) =>
      val key = s"backfill|$targetDir|$start|$end"
      if (store.isDone(key)) BackfillChunk(start, end, "skipped", 0L)
      else {
        val pending = graft.quality.Observed.instrument(
          build(start, end), s"backfill_$start", Nil)
        val merged = AtomicTable.read(spark, targetDir) match {
          case Some(t) => MergeUpsert.upsert(t, pending.df, keys)
          case None => pending.df
        }
        AtomicTable.commit(merged, targetDir,
          AtomicTable.nextVersion(spark, targetDir))
        store.markDone(key)
        val rows = pending.obs.get("rows") match {
          case l: Long => l
          case x => x.toString.toLong
        }
        BackfillChunk(start, end, "processed", rows)
      }
    }
  }
}
