package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CRASH-ATOMIC MULTI-TABLE PUBLISH over [[AtomicTable]]s — the
  * cross-model half of the reference's transactional swap (its
  * Postgres `CREATE TABLE` swaps run inside one transaction, so a
  * failed run never leaves SOME marts refreshed and others stale;
  * ADR-002's rationale). A lakehouse has no cross-directory
  * transaction, so the guarantee is rebuilt from a write-ahead
  * journal:
  *
  *   1. STAGE: every table's new version dir is fully written — no
  *      markers yet, so readers still resolve the old versions.
  *   2. JOURNAL: one `txn_<id>.json` records every (dir, version)
  *      pair. Its creation is the transaction's commit point.
  *   3. PUBLISH: per-table commit markers are created (each one an
  *      O(1) metadata op), then the journal is deleted.
  *
  * A crash anywhere is repaired by [[recover]]: a journal whose staged
  * data dirs ALL exist rolls FORWARD (create the missing markers — the
  * transaction had committed); a journal with missing data rolls BACK
  * (staged dirs deleted — the transaction never committed). A crash
  * BEFORE the journal write needs no repair at all: unmarked version
  * dirs are invisible to readers and the next writer of that version
  * number overwrites them. After recovery, either every table shows
  * its new version or none does.
  *
  * Honest scope: this is crash-atomicity of the PUBLISH, not snapshot
  * isolation across tables — a reader racing the marker loop can see
  * table A's new version before table B's for the milliseconds the
  * loop takes (the same window a multi-statement warehouse commit has
  * between lock release and the last cache invalidation). Work is
  * driver-side O(#tables) metadata on top of the fully-distributed
  * data writes, so the protocol costs the same at 100 TB. */
object TxnCommit {

  final case class Staged(dir: String, version: Long)

  private def journalPath(journalDir: String, id: String) =
    s"$journalDir/txn_$id.json"

  /** Journal seam (tests build crash states with it). A snapshot
    * transaction records its `manifestDir`, which [[recover]]
    * republishes when it rolls the transaction forward. */
  private[graft] def writeJournal(spark: SparkSession, journalDir: String,
                           id: String, staged: Seq[Staged],
                           manifestDir: Option[String] = None): Unit =
    VersionRecord.write(spark, journalPath(journalDir, id), staged,
      manifestDir)

  private def journals(spark: SparkSession, journalDir: String): Seq[Path] = {
    val jf = AtomicTable.fs(spark, journalDir)
    if (!jf.exists(new Path(journalDir))) Nil
    else jf.listStatus(new Path(journalDir)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("txn_") && p.getName.endsWith(".json"))
  }

  /** Versions already claimed by OUTSTANDING journals (crashed-but-
    * committed transactions awaiting [[recover]]), per table dir.
    * `AtomicTable.nextVersion` counts only markers, so without this a
    * new commit racing an un-recovered crash would reuse the crashed
    * transaction's version number, overwrite its staged dir, and let a
    * later recover() publish the wrong transaction's data (r11 ADVICE). */
  private def journalReserved(spark: SparkSession,
                              journalDir: String): Map[String, Long] = {
    journals(spark, journalDir)
      .flatMap(VersionRecord.read(spark, _).toSeq.flatMap(_._1))
      .groupBy(_.dir).view.mapValues(_.map(_.version).max).toMap
  }

  /** One [[AtomicTable.Write]] per table at its next version, past any
    * version an outstanding journal reserves. Journaled tables keep
    * every version (as they always have), so an uncrashed and a
    * recovered transaction leave the same history. */
  private def writes(spark: SparkSession, tables: Seq[(String, DataFrame)],
                     journalDir: Option[String]): Seq[AtomicTable.Write] = {
    val reserved = journalDir.map(journalReserved(spark, _))
      .getOrElse(Map.empty)
    tables.map { case (dir, df) =>
      AtomicTable.Write(df, dir,
        math.max(AtomicTable.nextVersion(spark, dir),
          reserved.get(dir).map(_ + 1L).getOrElse(0L)),
        retainVersions = Int.MaxValue)
    }
  }

  /** Stage-only (test seam): write every table's next version dir and
    * return the staged set — no journal, no markers. */
  private[graft] def stage(spark: SparkSession,
                           tables: Seq[(String, DataFrame)],
                           journalDir: Option[String] = None)
      : Seq[Staged] = {
    val ws = writes(spark, tables, journalDir)
    AtomicTable.stageWrites(spark, ws)
    ws.map(w => Staged(w.dir, w.version))
  }

  /** Atomically publish new versions of several tables through
    * [[AtomicTable.commitStaged]] with the journal as commit point, then
    * drop the journal. `id` must be unique per transaction (a batch id /
    * run id).
    *
    * `manifestDir` adds cross-table SNAPSHOT publication: after the
    * markers land, one manifest pinning every table's new version is
    * written there ([[SnapshotManifest]]). Readers that resolve through
    * `SnapshotManifest.snapshot` get both-old or both-new across the
    * whole published set — the marker-loop race window documented above
    * no longer reaches them. The journal records `manifestDir` and
    * outlives the manifest publish, so [[recover]] rolls a crash
    * anywhere after the journal write forward INCLUDING the manifest; a
    * crash between the manifest publish and the journal delete makes
    * recovery republish an extra manifest seq with an identical pin map
    * — benign by idempotence of the pins. */
  def commitAll(spark: SparkSession, journalDir: String, id: String,
                tables: Seq[(String, DataFrame)],
                manifestDir: Option[String] = None): Seq[Staged] = {
    val ws = writes(spark, tables, Some(journalDir))
    AtomicTable.commitStaged(spark, ws,
      journal = Some(journalPath(journalDir, id)), manifestDir = manifestDir)
    AtomicTable.fs(spark, journalDir)
      .delete(new Path(journalPath(journalDir, id)), false)
    ws.map(w => Staged(w.dir, w.version))
  }

  /** Repair after a crash: roll committed-but-unpublished transactions
    * FORWARD (every staged data dir exists: create the missing markers,
    * republish a recorded manifest), roll everything else BACK (staged
    * versions dropped). A journal that fails the strict parse (torn) is
    * never rolled forward — its writer crashed before the commit point
    * completed, so it is dropped and its unmarked data dirs stay
    * invisible orphans. Returns (rolledForward, rolledBack) ids. */
  def recover(spark: SparkSession, journalDir: String)
      : (Seq[String], Seq[String]) = {
    val jf = AtomicTable.fs(spark, journalDir)
    val records = journals(spark, journalDir)
      .map(p => p -> VersionRecord.read(spark, p))
    val (fwd, back) = records.partition { case (_, r) =>
      r.exists(_._1.forall(s => AtomicTable.hasData(spark, s.dir, s.version)))
    }
    fwd.foreach { case (p, r) =>
      val (staged, manifest) = r.get
      AtomicTable.markers(spark, staged)
      manifest.foreach(SnapshotManifest.publish(spark, _, staged))
      jf.delete(p, false)
    }
    back.foreach { case (p, r) =>
      r.toSeq.flatMap(_._1)
        .foreach(s => AtomicTable.dropVersion(spark, s.dir, s.version))
      jf.delete(p, false)
    }
    def id(p: Path) =
      p.getName.stripPrefix("txn_").stripSuffix(".json")
    (fwd.map(r => id(r._1)), back.map(r => id(r._1)))
  }
}
