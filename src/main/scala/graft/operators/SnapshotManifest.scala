package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CROSS-TABLE SNAPSHOT ISOLATION over [[AtomicTable]]s — closes the
  * honest-scope gap [[TxnCommit]] documents: its journal makes a
  * multi-table publish crash-ATOMIC, but a reader racing the marker
  * loop could still see table A new + table B old for the milliseconds
  * the loop takes. The reference gets per-statement consistency for
  * free from Postgres MVCC; a lakehouse rebuilds it from one more
  * single-file commit point:
  *
  *   - PUBLISH writes `manifest_<seq>.json` = previous manifest's
  *     {table dir → version} map overlaid with the newly committed
  *     versions. The manifest file's creation is the SNAPSHOT commit
  *     point (the same single-file-visibility primitive AtomicTable's
  *     markers and TxnCommit's journal rely on).
  *   - A READER opens a [[Snapshot]]: one listing resolves the latest
  *     manifest, and every table the reader touches is served through
  *     `AtomicTable.readVersion` at the PINNED version — a publish
  *     completing mid-query moves the next snapshot, never this one.
  *
  * Guarantee: a reader spanning any number of tables sees ALL of them
  * at one manifest — both-old or both-new, never mixed (OperatorsSpec
  * races a snapshot against a two-table publish to pin exactly this).
  * A crash between the marker loop and the manifest write leaves
  * snapshot readers on the previous manifest — still consistent
  * (all-old); the next successful publish advances them.
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

  private def seqOf(name: String): Option[Long] =
    if (name.startsWith("manifest_") && name.endsWith(".json"))
      name.stripPrefix("manifest_").stripSuffix(".json").toLongOption
    else None

  private def manifestPath(dir: String, seq: Long) =
    new Path(f"$dir/manifest_$seq%012d.json")

  /** Latest VALID (seq, {table dir → pinned version}), if any
    * published. A manifest that fails the strict [[VersionRecord]]
    * parse (a torn or zero-byte file) is skipped and the previous seq
    * serves — readers degrade to an older consistent snapshot, never to
    * a partial pin set (a partial map would fail reads spuriously with
    * "not in snapshot" instead of the previous-manifest fallback). */
  def latest(spark: SparkSession,
             manifestDir: String): Option[(Long, Map[String, Long])] = {
    val f = AtomicTable.fs(spark, manifestDir)
    if (!f.exists(new Path(manifestDir))) return None
    val seqs = f.listStatus(new Path(manifestDir)).toSeq
      .flatMap(st => seqOf(st.getPath.getName))
      .sorted(Ordering[Long].reverse)
    seqs.iterator.flatMap { s =>
      VersionRecord.read(spark, manifestPath(manifestDir, s)).collect {
        case (pins, None) => (s, pins.map(p => p.dir -> p.version).toMap)
      }
    }.nextOption()
  }

  /** Publish a new snapshot: previous manifest overlaid with `staged`
    * (freshly committed (dir, version) pairs). Call AFTER the tables'
    * markers exist — [[AtomicTable.commitStaged]] sequences this. The
    * write is [[MetaFile.writeOnce]]'s tmp + rename, so a reader
    * listing mid-write sees no `manifest_<seq>` or the complete one; a
    * torn file from a crashed same-seq writer ([[latest]] skips it —
    * that is how `seq` landed on it) is reclaimed, and a valid occupant
    * (a concurrent publisher won the seq) fails loudly, its pins kept.
    * On `file:` the occupant is checked before the rename, so a
    * publisher landing between that check and the rename still
    * replaces the seq; stores whose rename refuses an existing target
    * close that window. Returns the new manifest seq. */
  def publish(spark: SparkSession, manifestDir: String,
              staged: Seq[TxnCommit.Staged]): Long = {
    val prev = latest(spark, manifestDir)
    val seq = prev.map(_._1 + 1L).getOrElse(0L)
    val merged = prev.map(_._2).getOrElse(Map.empty) ++
      staged.map(s => s.dir -> s.version)
    VersionRecord.write(spark, manifestPath(manifestDir, seq).toString,
      merged.toSeq.sortBy(_._1).map { case (d, v) => TxnCommit.Staged(d, v) })
    seq
  }

  /** A pinned multi-table view: every [[read]] resolves through the
    * manifest captured at construction. */
  final class Snapshot(spark: SparkSession, val seq: Long,
                       val pinned: Map[String, Long]) {
    /** Read `dir` at its pinned version. Fails loudly when the table is
      * not in the snapshot or its pinned version has been pruned past
      * the retention window — never silently falls through to latest
      * (that would reintroduce the mixed-read anomaly). */
    def read(dir: String): DataFrame = {
      val v = pinned.getOrElse(dir, sys.error(
        s"SnapshotManifest: $dir is not in snapshot $seq"))
      AtomicTable.readVersion(spark, dir, v).getOrElse(sys.error(
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
