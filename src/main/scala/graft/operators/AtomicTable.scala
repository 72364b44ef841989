package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Connector-free ATOMIC-COMMIT parquet table: versioned data
  * directories plus commit markers, so a reader NEVER observes a
  * half-written or momentarily-deleted table and a crashed writer never
  * loses committed history. This is the honest parquet-only equivalent
  * of a transactional table format's commit protocol (the reference
  * targets a warehouse MERGE, BASELINE names Delta/Iceberg; no
  * connector jar ships in this environment, so the protocol is
  * implemented directly — same idea as an Iceberg snapshot pointer,
  * minus manifests, since partition/file pruning still comes from
  * parquet itself).
  *
  * Layout under `dir/`:
  *   - `v_<n>/`        parquet data for version n (written FIRST, fully)
  *   - `_commit_<n>`   empty marker file, created ONLY after `v_<n>` is
  *                     completely written — marker creation is the
  *                     single atomic visibility point (an O(1) file
  *                     create on HDFS/S3A/local, never a rename of the
  *                     data itself)
  *
  * Invariants (the crash-safety argument):
  *   1. Readers resolve MAX committed n, then read `v_<n>` — a version
  *      is either invisible (no marker) or complete; there is no state
  *      in which the table path is empty between swaps (the r03 ADVICE
  *      crash window: delete-then-rename lost the target if the job
  *      died between the two).
  *   2. A version's data is pruned only AFTER a newer marker exists, so
  *      committed history never lives solely in a deleted path.
  *   3. `commit` is IDEMPOTENT per version: if the marker exists the
  *      call is a no-op, so a replayed streaming batch (version =
  *      batch id) re-merges exactly once; a crash after data-write but
  *      before marker leaves an orphan `v_<n>` that the replay simply
  *      overwrites.
  *
  * Scale: all driver-side operations here are O(1) metadata calls
  * (list markers, create one file, delete one dir); data writes/reads
  * are fully distributed plans. The one-previous-version retention
  * gives in-flight readers a grace window; a production deployment
  * would retain more and vacuum by age.
  */
object AtomicTable {

  private val MarkerPrefix = "_commit_"
  private val WriterFile = "_writer"

  private[operators] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataPath(dir: String, version: Long) = new Path(s"$dir/v_$version")
  private def markerPath(dir: String, version: Long) =
    new Path(s"$dir/$MarkerPrefix$version")
  private def writerPath(dir: String) = new Path(s"$dir/$WriterFile")

  private def listMarkers(spark: SparkSession, dir: String,
                          prefix: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) Seq.empty
    else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).sorted
  }

  /** All committed versions, ascending (empty if the table never
    * committed). */
  def committedVersions(spark: SparkSession, dir: String): Seq[Long] =
    listMarkers(spark, dir, MarkerPrefix)

  def isCommitted(spark: SparkSession, dir: String, version: Long): Boolean =
    fs(spark, dir).exists(markerPath(dir, version))

  /** Latest committed snapshot, if any. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    committedVersions(spark, dir).lastOption
      .map(v => spark.read.parquet(dataPath(dir, v).toString))

  /** TIME TRAVEL within the retention window: read a specific committed
    * version (None if that version was never committed or has been
    * pruned). With the keep-two retention this reaches the current and
    * immediately-previous snapshots — the Delta `versionAsOf` shape; a
    * deployment retaining more versions gets deeper history for free. */
  def readVersion(spark: SparkSession, dir: String,
                  version: Long): Option[DataFrame] =
    if (isCommitted(spark, dir, version)) readData(spark, dir, version)
    else None

  /** Version `version`'s data, marker or not (None when its data dir is
    * absent) — [[SnapshotManifest.Snapshot]] reads a pinned version
    * through this: the manifest, not the marker, committed it. */
  private[operators] def readData(spark: SparkSession, dir: String,
                                  version: Long): Option[DataFrame] =
    if (hasData(spark, dir, version))
      Some(spark.read.parquet(dataPath(dir, version).toString))
    else None

  /** Filesystem path of the latest committed version's data — for
    * tooling/tests that inspect the physical layout (e.g. hive
    * partition directories under a partitioned commit). */
  def latestDataPath(spark: SparkSession, dir: String): Option[String] =
    committedVersions(spark, dir).lastOption
      .map(v => dataPath(dir, v).toString)

  /** Write `df` as version `version` and commit it ([[commitStaged]]
    * with one write). Idempotent: a version that already has a marker
    * is not rewritten, but the replay still prunes, so a crash between
    * marker and prune converges on the next call. Retains the
    * `retainVersions` highest committed versions (pruned BY POSITION,
    * not by value, so a non-contiguous version jump still leaves the
    * immediately previous committed snapshot for reader grace); prunes
    * the rest (marker first — new readers stop resolving it — then
    * data). Longer-window retention policies belong to [[vacuum]].
    *
    * `writerId`, when supplied, binds the target directory to ONE
    * writer lineage: the first commit records it in `_writer`, and any
    * later commit under a different id FAILS FAST instead of silently
    * no-op'ing. This closes the idempotency-collision hazard of
    * version-only keying: a NEW streaming query (fresh checkpoint,
    * batch ids restarting at 0) pointed at an EXISTING target would
    * otherwise find markers for its early batch ids already present and
    * drop those batches' data without any error. Delta/Iceberg key
    * streaming txn idempotency on (query id, batch id) for the same
    * reason; here the id is the checkpoint path — the identity that
    * decides whether batch ids continue or restart.
    *
    * Binding rules when `writerId` is present:
    *   - `_writer` exists with a DIFFERENT id → fail.
    *   - `_writer` absent but committed versions EXIST (a batch-written
    *     or pre-guard table) → fail unless `adoptExisting = true`: the
    *     dir's markers were minted by some other lineage, so this
    *     query's early batch ids would silently no-op — exactly the
    *     hazard the guard closes. `adoptExisting` is the operator's
    *     explicit "I know these versions are mine/compatible".
    *   - `_writer` creation uses create-no-overwrite, so two first
    *     writers racing produce one winner and one reader-of-the-file —
    *     never a silent split lineage. This is the one metadata file not
    *     written through [[MetaFile]]'s tmp + rename: first-writer-wins
    *     must be atomic, and only create-no-overwrite makes it so; its
    *     read goes through [[MetaFile.readText]]. */
  private def bindWriter(spark: SparkSession, dir: String,
                         writerId: Option[String],
                         adoptExisting: Boolean): Unit = {
    writerId.foreach { id =>
      val wp = writerPath(dir)
      val bound = MetaFile.readText(spark, wp) match {
        case Some(existing) => Some(existing)
        case None =>
          if (committedVersions(spark, dir).nonEmpty && !adoptExisting)
            throw new IllegalStateException(
              s"AtomicTable at $dir has committed versions but no " +
                s"_writer lineage; writer '$id' would adopt markers it " +
                "never minted and silently no-op colliding batch ids. " +
                "Target a fresh directory, or pass adoptExisting=true " +
                "to bind this lineage explicitly.")
          // create-no-overwrite: concurrent first writers race to one
          // winner; the loser re-reads and validates below.
          try {
            val out = fs(spark, dir).create(wp, false)
            try out.write(
              id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            None
          } catch {
            case e: java.io.IOException =>
              // Only a LOST RACE leaves the file present; a transient IO
              // failure must surface, not silently skip lineage binding.
              MetaFile.readText(spark, wp) match {
                case some @ Some(_) => some
                case None => throw e
              }
          }
      }
      bound.filter(_ != id).foreach { existing =>
        throw new IllegalStateException(
          s"AtomicTable at $dir is bound to writer '$existing' but this " +
            s"commit comes from '$id'. Version numbers are only " +
            "idempotency keys within one writer lineage (one streaming " +
            "checkpoint); a new query must target a fresh directory or " +
            "reuse the original checkpoint.")
      }
    }
  }

  def commit(df: DataFrame, dir: String, version: Long,
             writerId: Option[String] = None,
             partitionCols: Seq[String] = Nil,
             retainVersions: Int = 2,
             adoptExisting: Boolean = false): Unit =
    commitStaged(df.sparkSession, Seq(Write(df, dir, version,
      retainVersions = retainVersions, partitionCols = partitionCols,
      writerId = writerId, adoptExisting = adoptExisting)))

  /** One write of [[commitStaged]]: [[commit]]'s and [[commitDelta]]'s
    * parameters. `delta` appends a base+delta delta (never pruned). */
  final case class Write(df: DataFrame, dir: String, version: Long,
                         delta: Boolean = false,
                         retainVersions: Int = 2,
                         partitionCols: Seq[String] = Nil,
                         writerId: Option[String] = None,
                         adoptExisting: Boolean = false)

  /** THE commit path: every publish ([[commit]], [[commitDelta]], the
    * sharded fold, [[SnapshotManifest.commitAll]]) runs these steps in
    * order — one protocol for batch, streaming and compaction writers,
    * as in Delta Lake:
    *   1. refuse, before any side effect, a duplicate (dir, version)
    *      pair (two writes of one pair would overwrite the same data
    *      path concurrently) and any write whose kind disagrees with its
    *      dir's layout: a snapshot commit onto a base+delta dir would
    *      prune live deltas, a delta commit onto a snapshot dir would
    *      union its retained snapshots in as deltas;
    *   2. bind each write's lineage, write the layout marker for deltas
    *      (before the marker check, so the snapshot-only guards see a
    *      base+delta dir even across a replay's no-op), and skip
    *      versions already committed;
    *   3. stage the pending data — one write inline, several
    *      concurrently (overlapping jobs back-fill task slots);
    *   4. publish a [[SnapshotManifest]] to `manifestDir`, if given: the
    *      multi-table commit point;
    *   5. create the markers in caller order — the per-table
    *      visibility point, so ordering contracts ("bands before
    *      labels") hold as under sequential commits, and a crash before
    *      a marker leaves only invisible `v_<n>` orphans a replay
    *      overwrites (or, past step 4, pins [[SnapshotManifest.recover]]
    *      marks);
    *   6. prune each snapshot write to its `retainVersions`. */
  def commitStaged(spark: SparkSession, writes: Seq[Write],
                   manifestDir: Option[String] = None): Unit = {
    val all = writes.map(w => SnapshotManifest.Staged(w.dir, w.version))
    require(all.distinct.size == all.size,
      s"commitStaged: duplicate (dir, version) in ${all.mkString(", ")}")
    writes.foreach { w =>
      val deltaDir = isDeltaLayout(spark, w.dir)
      require(if (w.delta) deltaDir ||
          committedVersions(spark, w.dir).isEmpty else !deltaDir,
        s"commitStaged: a ${if (w.delta) "delta" else "snapshot"} commit " +
          s"onto ${w.dir}, committed in the " +
          s"${if (deltaDir) "base+delta" else "snapshot"} layout, would " +
          "lose committed rows; mixed layouts are unsupported")
    }
    val pending = writes.filter { w =>
      bindWriter(spark, w.dir, w.writerId, w.adoptExisting)
      if (w.delta) fs(spark, w.dir).create(layoutMarkerPath(w.dir), true).close()
      !isCommitted(spark, w.dir, w.version)
    }
    stageWrites(spark, pending)
    manifestDir.foreach(SnapshotManifest.publish(spark, _, all))
    markers(spark, pending.map(w => SnapshotManifest.Staged(w.dir, w.version)))
    writes.filterNot(_.delta).foreach(w => prune(spark, w.dir, w.retainVersions))
  }

  private def writeData(w: Write): Unit = {
    val out = w.df.write.mode("overwrite")
    (if (w.partitionCols.nonEmpty) out.partitionBy(w.partitionCols: _*)
    else out).parquet(dataPath(w.dir, w.version).toString)
  }

  /** Step 3 of [[commitStaged]], through [[Par]]: a failed write
    * cancels its siblings before the failure propagates. */
  private[operators] def stageWrites(spark: SparkSession,
                                     writes: Seq[Write]): Unit =
    Par.run(spark, writes.map(w => () => writeData(w)))

  /** Step 5 of [[commitStaged]] — the ONE place `_commit_<n>` markers
    * are created, in the given order. An existing marker is left as is
    * (its mtime is the commit time [[vacuum]] ages by). */
  private[operators] def markers(spark: SparkSession,
                                 staged: Seq[SnapshotManifest.Staged]): Unit =
    staged.foreach(s =>
      fs(spark, s.dir).createNewFile(markerPath(s.dir, s.version)))

  /** Remove one version: marker first (new readers stop resolving it),
    * then data. */
  private[operators] def dropVersion(spark: SparkSession, dir: String,
                                     version: Long): Unit = {
    val f = fs(spark, dir)
    f.delete(markerPath(dir, version), false)
    f.delete(dataPath(dir, version), true)
  }

  /** Step 6 of [[commitStaged]]: keep the `retainVersions` highest
    * committed versions BY POSITION (a non-contiguous version jump
    * still leaves the immediately previous snapshot for reader grace). */
  private def prune(spark: SparkSession, dir: String,
                    retainVersions: Int): Unit =
    committedVersions(spark, dir).dropRight(math.max(retainVersions, 1))
      .foreach(dropVersion(spark, dir, _))

  /** True when version `version`'s data dir exists, committed or not —
    * [[SnapshotManifest.recover]]'s roll-forward test. */
  private[operators] def hasData(spark: SparkSession, dir: String,
                                 version: Long): Boolean =
    fs(spark, dir).exists(dataPath(dir, version))

  final case class DeleteReport(version: Long, filesTotal: Int,
                                filesRewritten: Int, filesCopied: Int,
                                rowsDeleted: Long)

  /** TARGETED DELETE (the right-to-be-forgotten / GDPR-erasure shape):
    * commit a new version in which rows matching `keys` on `keyCol`
    * are gone — rewriting ONLY the part-files that actually contain a
    * matching key (located with one pushdown-filtered
    * `input_file_name()` scan); every untouched file is byte-copied,
    * never decoded or shuffled. This is Delta/Iceberg's
    * deletion-rewrite discipline on the plain-parquet protocol: with a
    * key-clustered layout ([[graft.operators.ZOrder]], range
    * partitioning) an erasure request touches O(keys) files of a
    * 100 TB table, not the table. The previous version stays readable
    * inside the retention window (`readVersion` time travel), so the
    * erasure is auditable before the old snapshot ages out — delete
    * with `retainVersions = 1` (or vacuum) when the point is to make
    * the data GONE. Matching no rows commits nothing and reports a
    * no-op. Plain (non-hive-partitioned) layout only. */
  def deleteWhere(spark: SparkSession, dir: String, keyCol: String,
                  keys: Seq[Long],
                  retainVersions: Int = 2): DeleteReport = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    requireSnapshotLayout(spark, dir, "deleteWhere",
      "compactToBase first, then delete against the folded snapshot")
    val src = latestDataPath(spark, dir).getOrElse(
      sys.error(s"deleteWhere: no committed version under $dir"))
    val f = fs(spark, dir)
    val all = f.listStatus(new Path(src)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val keyVals = keys.map(Long.box)
    val matching = spark.read.parquet(src)
      .filter(col(keyCol).isin(keyVals: _*))
    val affected = matching.select(input_file_name().as("f"))
      .distinct().collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    if (affected.isEmpty)
      return DeleteReport(committedVersions(spark, dir).last,
        all.size, 0, 0, 0L)
    val affectedPaths = all.filter(p => affected.contains(p.getName))
    val rowsDeleted = spark.read
      .parquet(affectedPaths.map(_.toString): _*)
      .filter(col(keyCol).isin(keyVals: _*)).count()
    val version = nextVersion(spark, dir)
    val dst = dataPath(dir, version)
    // Null-safe keep predicate: `!isin` evaluates to NULL for NULL keys,
    // and filter drops NULL — which would silently erase every NULL-key
    // row co-located in a rewritten file, beyond the requested keys.
    // Delta/Iceberg DELETE semantics keep rows whose predicate is NULL.
    spark.read.parquet(affectedPaths.map(_.toString): _*)
      .filter(col(keyCol).isNull || !col(keyCol).isin(keyVals: _*))
      .write.mode("overwrite").parquet(dst.toString)
    val untouched = all.filterNot(p => affected.contains(p.getName))
    untouched.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(f, p, f,
        new Path(dst, p.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
    markers(spark, Seq(SnapshotManifest.Staged(dir, version)))
    prune(spark, dir, retainVersions)
    DeleteReport(version, all.size, affectedPaths.size, untouched.size,
      rowsDeleted)
  }

  /** AGE/COUNT-BASED RETENTION for long-running tables (the Delta
    * `VACUUM` shape): deletes committed versions that are BOTH beyond
    * the `retainLast` highest AND — when `olderThanMillis` is set —
    * whose commit marker is older than that age. The latest version is
    * always kept. Returns the versions actually deleted. Driver-side
    * O(#versions) metadata calls; safe to run concurrently with
    * readers of retained versions (marker is deleted first, so new
    * readers stop resolving a version before its data disappears).
    *
    * REFUSES base+delta dirs ([[isDeltaLayout]]): there every `v_<n>`
    * is a live DELTA, not a superseded snapshot — retain-last-2 would
    * silently delete uncovered deltas (committed fingerprints
    * forgotten, duplicates re-admitted with no error). Delta epochs
    * are pruned by [[compactToBase]], which knows what a base covers. */
  def vacuum(spark: SparkSession, dir: String, retainLast: Int = 2,
             olderThanMillis: Option[Long] = None): Seq[Long] = {
    requireSnapshotLayout(spark, dir, "vacuum",
      "deltas are pruned by compactToBase once a base covers them")
    val f = fs(spark, dir)
    val now = System.currentTimeMillis()
    val candidates = committedVersions(spark, dir)
      .dropRight(math.max(retainLast, 1))
      .filter { v =>
        olderThanMillis.forall { age =>
          now - f.getFileStatus(markerPath(dir, v)).getModificationTime >= age
        }
      }
    candidates.foreach(dropVersion(spark, dir, _))
    candidates
  }

  /** SMALL-FILES COMPACTION (the Delta/Iceberg `OPTIMIZE` shape): a
    * long-lived merge/streaming target accumulates one small parquet
    * file per shuffle partition per commit; thousands of tiny files
    * turn every downstream scan into an open-file storm. `compact`
    * rewrites the LATEST committed snapshot as a new version with
    * ⌈bytes / targetFileBytes⌉ output files (coalesce — a NARROW
    * repartitioning: no shuffle, executors just concatenate input
    * splits) and commits it through the normal marker protocol, so
    * concurrent readers see either the fragmented or the compacted
    * snapshot, never a mix, and a crash mid-compaction changes
    * nothing. Hive-partitioned tables compact per partition directory
    * via the same write path when `partitionCols` is passed. Returns
    * the new version, or None when the table is empty/uncommitted.
    * Row content is identical by construction — only the file layout
    * changes. Pair with [[vacuum]] to reclaim the fragmented history.
    *
    * On a base+delta dir ([[isDeltaLayout]]) this DELEGATES to
    * [[compactToBase]]: the latest `v_<n>` there is one delta, not the
    * table — snapshot-compacting it would commit a version that
    * silently dropped every other delta and the base. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil): Option[Long] =
    if (isDeltaLayout(spark, dir)) compactToBase(spark, dir)
    else committedVersions(spark, dir).lastOption.map { v =>
      val f = fs(spark, dir)
      val bytes = f.getContentSummary(dataPath(dir, v)).getLength
      val files = math.max(1, math.ceil(
        bytes.toDouble / targetFileBytes).toInt)
      val df = spark.read.parquet(dataPath(dir, v).toString)
        .coalesce(files)
      val next = v + 1
      commit(df, dir, next, partitionCols = partitionCols)
      next
    }

  /** CDC-style DIFF of two COMMITTED versions keyed by `keys`: one row
    * per key whose presence or payload changed between `oldVersion` and
    * `newVersion`, tagged `insert` (key only in new), `delete` (only in
    * old) or `update` (both, any common non-key column differs
    * null-safely); unchanged keys drop out inside the join, so the
    * result is ∝ the change set, not the table. This is the audit/CDC
    * primitive the versioned layout makes cheap — downstream consumers
    * (cache invalidation, incremental reprocessing, replication) read
    * the delta instead of re-scanning snapshots.
    *
    * Scale shape: ONE full-outer equi-join on the key across the two
    * snapshot scans — shuffle keyed by the table key (uniform whenever
    * the table key is), payloads compared as a single null-safe struct
    * equality inside codegen. Columns present in only one version
    * (schema drift between commits) are ignored by the comparison —
    * presence changes still surface as insert/delete. */
  def diff(spark: SparkSession, dir: String, oldVersion: Long,
           newVersion: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    def snap(v: Long): DataFrame = readVersion(spark, dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v is not committed at $dir"))
    val o = snap(oldVersion)
    val n = snap(newVersion)
    val common = o.columns.toSeq.intersect(n.columns.toSeq)
      .filterNot(keys.contains)
    def payload(df: DataFrame, as: String): DataFrame = {
      val p = if (common.isEmpty) lit(0) else struct(common.map(col): _*)
      df.select(keys.map(col) :+ p.as(as): _*)
        .withColumn(s"_in$as", lit(true))
    }
    payload(o, "_old").join(payload(n, "_new"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(!(col("_old") <=> col("_new")), "update"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  // ------------------------------------------------------------------
  // BASE + DELTA merge-on-read layout (r17) — for APPEND-ONLY committed
  // tables whose per-commit change is tiny relative to the accumulated
  // table: the persisted dedup indexes (CorpusIndex / NearDupIndex /
  // PhashIndex). The snapshot protocol above rewrites the FULL table
  // per version, so at deployment grain (a year of daily commits, or a
  // streaming sink committing per micro-batch) day-N's WRITE cost is
  // ∝ index size, not ∝ batch — the measured r16 weak mark
  // (phash_index_chain shuffle-bytes-tail 1.30 @100×, SCALE.md). Here a
  // commit writes ONLY the delta:
  //
  //   v_<n>/ + _commit_<n>      delta for version n (same markers and
  //                             idempotency as `commit`; NEVER pruned
  //                             by the committing writer)
  //   base_<n>/ + _basecommit_<n>  full snapshot covering every delta
  //                             with version ≤ n, written by
  //                             [[compactToBase]]
  //
  // Readers ([[readMerged]]) resolve MAX committed base b and scan
  // base_<b> ∪ { v_<n> : n > b } — ONE multi-path parquet scan, same
  // bytes as a single-version snapshot of equal size. Bases live in
  // their OWN namespace keyed by the highest delta version they cover,
  // so compaction never mints a version number a streaming writer
  // (version = batch id) could later collide with — a base appearing
  // between micro-batches must not make batch N+1's marker check
  // silently no-op. The hive-partitioned alternative (rewrite only
  // touched partitions) was considered and REJECTED for the index
  // workloads: their keys are uniform hashes, so any batch touches
  // essentially every partition — partition-grain rewrite degenerates
  // to the full rewrite it was meant to avoid. Merge-on-read is the
  // layout that actually makes the write ∝ batch; Delta/Iceberg reach
  // the same conclusion with their deletion-vector / delta-file designs.
  //
  // This layout intentionally supports ONLY append deltas (no keyed
  // upsert): the index workloads' deltas are provably disjoint from the
  // committed table (a kept doc by definition missed the index), so
  // union == upsert there. Tables needing keyed merges keep `commit`.
  // ------------------------------------------------------------------

  private val BaseMarkerPrefix = "_basecommit_"
  private def layoutMarkerPath(dir: String) = new Path(s"$dir/_layout_delta")

  private def baseDataPath(dir: String, version: Long) =
    new Path(s"$dir/base_$version")
  private def baseMarkerPath(dir: String, version: Long) =
    new Path(s"$dir/$BaseMarkerPrefix$version")

  /** True when `dir` uses the base+delta merge-on-read layout — every
    * `v_<n>` is then a live DELTA, and snapshot-layout maintenance
    * ([[vacuum]], snapshot [[compact]], [[deleteWhere]],
    * [[Maintenance]]'s small-files rule) must not treat the latest one
    * as "the table". Detected from the layout marker [[commitDelta]]
    * writes, with committed bases as the fallback signal (a dir
    * compacted before the marker existed). */
  def isDeltaLayout(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    f.exists(layoutMarkerPath(dir)) ||
      committedBases(spark, dir).nonEmpty
  }

  private def requireSnapshotLayout(spark: SparkSession, dir: String,
                                    op: String, remedy: String): Unit =
    if (isDeltaLayout(spark, dir))
      throw new IllegalStateException(
        s"AtomicTable.$op on $dir: this is a base+delta dir whose " +
          s"v_<n> entries are live deltas, not snapshots — $op would " +
          s"silently lose committed data; $remedy.")

  /** Committed base snapshots, ascending by the delta version they
    * cover. */
  def committedBases(spark: SparkSession, dir: String): Seq[Long] =
    listMarkers(spark, dir, BaseMarkerPrefix)

  /** Append `df` as the DELTA for `version` and commit it. Same
    * idempotency (marker per version) and writer-lineage binding as
    * [[commit]]; unlike `commit`, NOTHING is pruned — deltas stay live
    * until a [[compactToBase]] supersedes them. A crash after
    * data-write but before marker leaves an invisible orphan the
    * replayed batch overwrites. */
  def commitDelta(df: DataFrame, dir: String, version: Long,
                  writerId: Option[String] = None,
                  adoptExisting: Boolean = false): Unit =
    commitStaged(df.sparkSession, Seq(Write(df, dir, version, delta = true,
      writerId = writerId, adoptExisting = adoptExisting)))

  private def hasDataFiles(f: FileSystem, p: Path): Boolean =
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

  /** MERGE-ON-READ view of a base+delta table: latest committed base ∪
    * all committed deltas after it, as one multi-path parquet scan.
    * None when nothing committed (or every committed piece is
    * zero-row — an all-duplicates day writes an empty delta, which
    * parquet cannot self-describe; callers supply their typed empty
    * frame, exactly as for an uncommitted table). */
  def readMerged(spark: SparkSession, dir: String): Option[DataFrame] = {
    val f = fs(spark, dir)
    val base = committedBases(spark, dir).lastOption
    val paths = (base.map(b => baseDataPath(dir, b)).toSeq ++
      committedVersions(spark, dir)
        .filter(v => base.forall(_ < v)).map(v => dataPath(dir, v)))
      .filter(hasDataFiles(f, _))
    if (paths.isEmpty) None
    else Some(spark.read.parquet(paths.map(_.toString): _*))
  }

  /** Schema of ONE committed piece (latest base if present, else the
    * first committed delta with data files) — for callers that only
    * need to sniff committed column names (e.g. the phash width
    * policy): one directory listing + one footer read instead of
    * [[readMerged]]'s multi-path scan over base + every delta per call
    * (r19 ADVICE: that inference was paid per micro-batch in
    * `phashDedupSink`). All pieces of one table share a schema by
    * construction — commits go through the same writer. */
  def sampleCommittedSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, dir)
    val one = (committedBases(spark, dir).lastOption
        .map(b => baseDataPath(dir, b)).toSeq ++
      committedVersions(spark, dir).map(v => dataPath(dir, v)))
      .find(hasDataFiles(f, _))
    one.map(p => spark.read.parquet(p.toString).schema)
  }

  /** COMPACTION for the base+delta layout: fold the current merged view
    * into a new base covering every committed delta so far, then prune
    * the epoch BEFORE the previous base (retain-2 at epoch granularity —
    * the same reader-grace rule as `commit`'s keep-two versions: a
    * reader must be two full compaction cycles stale before a path it
    * resolved disappears). Base data is written fully FIRST and the
    * `_basecommit` flag is the single atomic visibility point, so a
    * concurrent [[readMerged]] resolves either the old base+deltas or
    * the new base — never a mix; a crash mid-compaction leaves an
    * invisible orphan `base_<n>` the next compaction overwrites.
    * Returns the covered version, or None when there are no committed
    * deltas or the latest is already covered.
    *
    * `resolve` (default identity) rewrites the merged view before it
    * becomes the base — the row-grain compaction hook for UPSERT-delta
    * tables (drop superseded row versions, e.g. last-writer-wins per
    * key). It must be a pure row-set reduction whose output under
    * later merges resolves identically (keep the version column!);
    * append-only tables never need it. */
  def compactToBase(spark: SparkSession, dir: String,
                    resolve: DataFrame => DataFrame = identity)
      : Option[Long] = {
    val versions = committedVersions(spark, dir)
    val bases = committedBases(spark, dir)
    versions.lastOption.filter(v => !bases.lastOption.contains(v))
      .flatMap { cover =>
        readMerged(spark, dir).map { raw =>
          val df = resolve(raw)
          val f = fs(spark, dir)
          df.write.mode("overwrite")
            .parquet(baseDataPath(dir, cover).toString)
          f.create(baseMarkerPath(dir, cover), true).close()
          val retained = (bases :+ cover).takeRight(2)
          bases.filterNot(retained.contains).foreach { b =>
            f.delete(baseMarkerPath(dir, b), false)
            f.delete(baseDataPath(dir, b), true)
          }
          // deltas covered by the retained PREVIOUS base have had a
          // full epoch of grace — superseded twice over; prune them.
          retained.headOption.filter(_ != cover).foreach { pb =>
            versions.filter(_ <= pb).foreach(dropVersion(spark, dir, _))
          }
          cover
        }
      }
  }

  /** Committed delta versions NOT yet covered by a base — the
    * compaction-debt count an auto-compaction policy triggers on. */
  def deltasSinceBase(spark: SparkSession, dir: String): Int = {
    val base = committedBases(spark, dir).lastOption
    committedVersions(spark, dir).count(v => base.forall(_ < v))
  }

  /** True when `dir` holds data OUTSIDE the atomic layout (files that
    * are neither `v_<n>`/`base_<n>` dirs nor `_`-prefixed protocol
    * markers) — a legacy plain-parquet table. Resolved through the same
    * Hadoop FileSystem as the commit protocol, so the answer is correct
    * on HDFS/S3A, not just the local filesystem. */
  def hasLegacyFiles(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    f.exists(new Path(dir)) && f.listStatus(new Path(dir)).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("v_") && !n.startsWith("base_") && !n.startsWith("_")
    }
  }

  /** Next version number a batch writer should commit as. */
  def nextVersion(spark: SparkSession, dir: String): Long =
    committedVersions(spark, dir).lastOption.map(_ + 1).getOrElse(0L)
}
