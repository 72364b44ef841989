package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** AUTO-MAINTENANCE policy loop for committed [[AtomicTable]]s — the
  * "table services" a lakehouse runs between loads (Delta's
  * auto-OPTIMIZE / auto-VACUUM / auto-ANALYZE), decided from COMMITTED
  * METADATA only, so planning a table's maintenance costs O(#files)
  * driver-side listing whether the table is 100 MB or 100 TB:
  *
  *   - COMPACT when the latest version is fragmented (more than
  *     `maxFiles` files AND mean file size under `smallFileBytes`) —
  *     the small-files problem a streaming upsert sink accretes.
  *   - ANALYZE when the latest version has no readable stats
  *     ([[TableStats.stored]]) — every fresh commit invalidates stats, a
  *     torn or older-layout stats file reads as none, and the stats
  *     feed the injected [[graft.plans.StatsBroadcastRule]].
  *   - VACUUM when more versions are retained than `retainVersions`.
  *   - COMPACT_TO_BASE when a base+delta dir ([[AtomicTable.isDeltaLayout]])
  *     has accumulated more than `maxDeltas` uncovered deltas — the
  *     ONLY rule applied there (the snapshot rules would misread live
  *     deltas as superseded history).
  *
  * [[plan]] is pure inspection (safe to run anywhere, returns the
  * decisions with their evidence); [[run]] executes the plan through
  * the real operators. A steady-state table plans ZERO actions, so
  * running maintenance in a loop converges instead of churning. */
object Maintenance {

  final case class Action(table: String, action: String, detail: String)

  final case class Policy(smallFileBytes: Long = 32L * 1024 * 1024,
                          maxFiles: Int = 16,
                          targetFileBytes: Long = 128L * 1024 * 1024,
                          retainVersions: Int = 2,
                          statsCols: Seq[String] = Nil,
                          maxDeltas: Int = 8)

  def plan(spark: SparkSession, dir: String,
           policy: Policy = Policy()): Seq[Action] = {
    val table = new Path(dir).getName
    // Base+delta dirs get exactly one maintenance rule — COMPACTION
    // DEBT (fold deltas into a new base via compactToBase once more
    // than `maxDeltas` accumulate). The snapshot rules below would
    // misread the layout: `latestDataPath` is one delta, not the
    // table, and vacuum would delete live uncovered deltas (it
    // refuses — see AtomicTable.vacuum).
    if (AtomicTable.isDeltaLayout(spark, dir)) {
      val debt = AtomicTable.deltasSinceBase(spark, dir)
      return if (debt > policy.maxDeltas)
        Seq(Action(table, "compact_to_base",
          s"$debt uncovered deltas > ${policy.maxDeltas}"))
      else Nil
    }
    AtomicTable.latestDataPath(spark, dir) match {
      case None => Nil
      case Some(dataPath) =>
        val fs = new Path(dataPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val parts = fs.listStatus(new Path(dataPath)).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
        val nFiles = parts.size
        val meanBytes =
          if (nFiles == 0) Long.MaxValue
          else parts.map(_.getLen).sum / nFiles
        val compact =
          if (nFiles > policy.maxFiles && meanBytes < policy.smallFileBytes)
            Seq(Action(table, "compact",
              s"$nFiles files, mean ${meanBytes}B < ${policy.smallFileBytes}B"))
          else Nil
        val analyze =
          if (policy.statsCols.nonEmpty &&
            TableStats.stored(spark, dataPath).isEmpty)
            Seq(Action(table, "analyze", "no readable stats on latest version"))
          else Nil
        val versions = AtomicTable.committedVersions(spark, dir)
        val vacuum =
          if (versions.size > policy.retainVersions)
            Seq(Action(table, "vacuum",
              s"${versions.size} versions > ${policy.retainVersions}"))
          else Nil
        compact ++ analyze ++ vacuum
    }
  }

  /** Execute [[plan]] through the real operators. Compaction commits a
    * new (unanalyzed) version, so analyze runs AFTER compact — one
    * pass leaves the table compacted, analyzed and pruned. */
  def run(spark: SparkSession, dir: String,
          policy: Policy = Policy()): Seq[Action] = {
    val actions = plan(spark, dir, policy)
    if (actions.exists(_.action == "compact_to_base"))
      AtomicTable.compactToBase(spark, dir)
    if (actions.exists(_.action == "compact"))
      AtomicTable.compact(spark, dir,
        targetFileBytes = policy.targetFileBytes)
    if (actions.exists(a => a.action == "compact" || a.action == "analyze")
      && policy.statsCols.nonEmpty)
      TableStats.analyze(spark, dir, policy.statsCols)
    if (actions.exists(_.action == "vacuum") ||
      actions.exists(_.action == "compact"))
      AtomicTable.vacuum(spark, dir, retainLast = policy.retainVersions)
    actions
  }
}
