package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE MULTI-TABLE COMMIT RECORD over [[AtomicTable]]s — the
  * cross-model half of the reference's transactional swap (its
  * Postgres `CREATE TABLE` swaps run inside one transaction, so a
  * failed run never leaves SOME marts refreshed and others stale, and
  * MVCC gives every statement one consistent view; ADR-002). A
  * lakehouse has no cross-directory transaction, so both guarantees are
  * rebuilt from ONE single-file record, as a Delta log entry is both
  * the commit point and what readers and recovery consult:
  *
  *   - `manifest_<seq>.json` = the previous manifest's {table dir →
  *     version} map overlaid with newly committed versions, written
  *     through [[MetaFile.writeOnce]] (tmp + rename).
  *   - [[commitAll]] stages every table's `v_<n>`, publishes the
  *     manifest — the COMMIT POINT — then creates the per-table markers
  *     and prunes ([[AtomicTable.commitStaged]] sequences the steps).
  *   - A snapshot READER opens a [[Snapshot]]: one listing resolves the
  *     latest manifest, and every table it touches is served at the
  *     PINNED version, marker or not — a publish completing mid-query
  *     moves the next snapshot, never this one. A reader spanning any
  *     number of tables sees all of them at one manifest: both-old or
  *     both-new, never mixed.
  *   - A LATEST reader resolves markers only, so it never sees a version
  *     before its manifest is published.
  *   - [[recover]] rolls forward a crash after the manifest: each pin
  *     whose data exists but whose marker is missing (and is above the
  *     dir's latest marker) gets its marker. A crash BEFORE the manifest
  *     needs no repair: unmarked, unpinned version dirs are invisible
  *     orphans the next writer of that version overwrites.
  *
  * Scale shape: the manifest is O(#tables) driver-side metadata (tens
  * of KB for a thousand-model warehouse), written once per DAG run and
  * read once per reader session — no per-row or per-file cost at any
  * data volume. Retention interplay: AtomicTable keeps the previous
  * version as a grace window (retainVersions=2 default), so a snapshot
  * taken just before a publish stays readable through the NEXT publish;
  * readers older than the retention window fail loudly on the pruned
  * version rather than silently reading mixed state.
  */
object SnapshotManifest {

  /** One pin: table `dir` at `version`. A manifest is
    * `[{"dir":"<d>","version":<n>},...]`. */
  final case class Staged(dir: String, version: Long)

  private def seqOf(name: String): Option[Long] =
    if (name.startsWith("manifest_") && name.endsWith(".json"))
      name.stripPrefix("manifest_").stripSuffix(".json").toLongOption
    else None

  private def manifestPath(dir: String, seq: Long) =
    new Path(f"$dir/manifest_$seq%012d.json")

  private def decode(text: String): Option[Seq[Staged]] =
    MetaFile.decode[Seq[Staged]](text)

  /** Latest VALID (seq, {table dir → pinned version}), if any
    * published. A manifest that fails the strict [[MetaFile]] parse (a
    * torn or zero-byte file) is skipped and the previous seq serves —
    * readers and [[recover]] degrade to an older consistent snapshot,
    * never to a partial pin set. */
  def latest(spark: SparkSession,
             manifestDir: String): Option[(Long, Map[String, Long])] = {
    val f = AtomicTable.fs(spark, manifestDir)
    if (!f.exists(new Path(manifestDir))) return None
    val seqs = f.listStatus(new Path(manifestDir)).toSeq
      .flatMap(st => seqOf(st.getPath.getName))
      .sorted(Ordering[Long].reverse)
    seqs.iterator.flatMap { s =>
      MetaFile.readText(spark, manifestPath(manifestDir, s)).flatMap(decode)
        .map(pins => (s, pins.map(p => p.dir -> p.version).toMap))
    }.nextOption()
  }

  /** Write manifest `seq` once: a torn occupant (a crashed same-seq
    * writer's file, which [[latest]] skips — that is how `seq` landed on
    * it) is reclaimed; a valid one means a concurrent publisher won the
    * seq, and it fails loudly with the occupant's pins kept. On `file:`
    * the occupant is checked before the rename, so a publisher landing
    * between that check and the rename still replaces the seq; stores
    * whose rename refuses an existing target close that window. */
  private[operators] def write(spark: SparkSession, manifestDir: String,
                               seq: Long, pins: Seq[Staged]): Unit =
    MetaFile.writeOnce(spark, manifestPath(manifestDir, seq),
      MetaFile.encode(pins), decode(_).isDefined)

  /** Publish a new snapshot: previous manifest overlaid with `staged`.
    * Every pinned version's data must already be written — the new
    * manifest is the commit point of those versions. Returns its seq. */
  def publish(spark: SparkSession, manifestDir: String,
              staged: Seq[Staged]): Long = {
    val prev = latest(spark, manifestDir)
    val seq = prev.map(_._1 + 1L).getOrElse(0L)
    val merged = prev.map(_._2).getOrElse(Map.empty) ++
      staged.map(s => s.dir -> s.version)
    write(spark, manifestDir, seq,
      merged.toSeq.sortBy(_._1).map { case (d, v) => Staged(d, v) })
    seq
  }

  /** One [[AtomicTable.Write]] per table at its next version. Committed
    * tables keep every version, so an uncrashed and a recovered commit
    * leave the same history. */
  private def writes(spark: SparkSession,
                     tables: Seq[(String, DataFrame)]): Seq[AtomicTable.Write] =
    tables.map { case (dir, df) =>
      AtomicTable.Write(df, dir, AtomicTable.nextVersion(spark, dir),
        retainVersions = Int.MaxValue)
    }

  /** Stage-only (test seam): write every table's next version dir and
    * return the staged set — no manifest, no markers. */
  private[graft] def stage(spark: SparkSession,
                           tables: Seq[(String, DataFrame)]): Seq[Staged] = {
    val ws = writes(spark, tables)
    AtomicTable.stageWrites(spark, ws)
    ws.map(w => Staged(w.dir, w.version))
  }

  /** Atomically publish new versions of several tables with one manifest
    * in `manifestDir` as the commit point. [[recover]] runs first, so a
    * crashed commit's pinned versions are marked before this one picks
    * its version numbers and never reused. */
  def commitAll(spark: SparkSession, manifestDir: String,
                tables: Seq[(String, DataFrame)]): Seq[Staged] = {
    recover(spark, manifestDir)
    val ws = writes(spark, tables)
    AtomicTable.commitStaged(spark, ws, manifestDir = Some(manifestDir))
    ws.map(w => Staged(w.dir, w.version))
  }

  /** Repair after a crash between the manifest and the last marker:
    * every pin of the latest valid manifest whose data dir exists, whose
    * marker is missing and whose version is above the dir's latest
    * marker gets its marker. A pin at or below the latest marker is left
    * alone — its marker was pruned, and a crash inside the prune must
    * never bring the version back. Returns the pins it marked. */
  def recover(spark: SparkSession, manifestDir: String): Seq[Staged] = {
    val pins = latest(spark, manifestDir).toSeq.flatMap(_._2)
      .collect { case (d, v)
        if !AtomicTable.isCommitted(spark, d, v) &&
          AtomicTable.hasData(spark, d, v) &&
          AtomicTable.committedVersions(spark, d).lastOption
            .forall(_ < v) => Staged(d, v)
      }.sortBy(_.dir)
    AtomicTable.markers(spark, pins)
    pins
  }

  /** A pinned multi-table view: every [[read]] resolves through the
    * manifest captured at construction. */
  final class Snapshot(spark: SparkSession, val seq: Long,
                       val pinned: Map[String, Long]) {
    /** Read `dir` at its pinned version, whose data the manifest
      * committed. Fails loudly when the table is not in the snapshot or
      * its pinned version has been pruned past the retention window —
      * never silently falls through to latest (that would reintroduce
      * the mixed-read anomaly). */
    def read(dir: String): DataFrame = {
      val v = pinned.getOrElse(dir, sys.error(
        s"SnapshotManifest: $dir is not in snapshot $seq"))
      AtomicTable.readData(spark, dir, v).getOrElse(sys.error(
        s"SnapshotManifest: $dir v_$v pruned past retention " +
          s"(snapshot $seq is older than the grace window)"))
    }
  }

  /** Open the latest published snapshot. */
  def snapshot(spark: SparkSession,
               manifestDir: String): Option[Snapshot] =
    latest(spark, manifestDir).map { case (s, m) =>
      new Snapshot(spark, s, m)
    }
}
