package graft.cli

import org.apache.spark.sql.SparkSession
import graft.operators.{AtomicTable, Maintenance, SnapshotManifest}
import graft.quality.Checks
import graft.ref.Catalog
import graft.tools.DagLint

/** ONE GOVERNED PASS — the frame both pipeline drivers run their
  * models in ([[Main.run]] over the reference DAG,
  * [[graft.corpus.CorpusPipeline.run]] over the LLM corpus), the
  * counterpart of the state checks the reference's orchestrator runs
  * every cycle (orchestrator.py:506-573). A driver brings its sources,
  * models and quality battery; the frame owns the order of the steps:
  *
  *   1. recover: [[SnapshotManifest.recover]] marks every version the
  *      latest `_snapshots` manifest committed that a crashed run left
  *      unmarked. The skip-unchanged [[Catalog]] is built only after
  *      it, so nothing a body commits can reuse a committed version;
  *   2. build: the body lands its sources, builds its models (a model
  *      whose plan and inputs match its latest committed version is
  *      served, not rebuilt) and hands back its quality results;
  *   3. check: the results go through [[Checks.runAll]], non-fatal
  *      (orchestrator.py:466-504);
  *   4. publish: ONE [[SnapshotManifest]] pins every table the pass
  *      committed or served, so a reader spanning several tables
  *      resolves them all at one commit point — a reader opened
  *      mid-pass stays on the previous manifest;
  *   5. lint: [[DagLint.check]] over the lineage the catalog observed
  *      (the dbt_project_evaluator slot, packages.yml:4-5), every
  *      finding logged; non-fatal here, `Main --strict` fails on it.
  */
object Pass {

  /** What the frame hands back: the body's checks after the run, the
    * overall status, and the pass's governance record. */
  final case class Outcome(quality: Seq[Checks.Result],
                           overallStatus: String,
                           modelsSkipped: Seq[String],
                           recovered: Seq[SnapshotManifest.Staged],
                           manifestSeq: Long,
                           lint: DagLint.Report)

  /** What a body hands back: its quality results, its report built
    * from the [[Outcome]], the models it exposes as terminal products
    * beyond [[DagLint.exposures]], and whether one of its sources
    * failed (isolated, so the pass still runs to the end). */
  final case class Built[A](checks: Seq[Checks.Result], report: Outcome => A,
                            exposed: Set[String] = Set.empty,
                            sourceFailed: Boolean = false)

  /** One pass of `body` over `warehouseDir`; `tag` prefixes its log
    * lines. `mode` is "seed" or "incremental". */
  def run[A](spark: SparkSession, mode: String, warehouseDir: String,
             tag: String)(body: Catalog => Built[A]): A = {
    require(mode == "seed" || mode == "incremental", s"bad mode $mode")
    def log(msg: String): Unit = System.err.println(s"[$tag] $msg")
    val manifestDir = s"$warehouseDir/_snapshots"
    val recovered = SnapshotManifest.recover(spark, manifestDir)
    recovered.foreach(p =>
      log(s"recovery: marked ${p.dir} v_${p.version}, committed by the manifest"))
    val cat = new Catalog(spark, warehouseDir, skipUnchanged = true)
    val built = body(cat)
    val quality = Checks.runAll(built.checks)
    val manifestSeq = SnapshotManifest.publish(spark, manifestDir,
      cat.commits.toSeq.sortBy(_._1).map { case (d, v) =>
        SnapshotManifest.Staged(d, v) })
    val lint = DagLint.check(cat.lineage,
      exposed = DagLint.exposures ++ built.exposed)
    lint.unaccepted.foreach(v => log(s"daglint violation: $v"))
    lint.stale.foreach { case (k, m) => log(s"daglint stale accept: $k $m") }
    lint.staleExposures.foreach(m =>
      log(s"daglint stale exposure (now consumed): $m"))
    val status =
      if (built.sourceFailed) "partial_failure"
      else if (quality.exists(!_.passed)) "quality_issues"
      else "success"
    built.report(Outcome(quality, status, cat.skipped, recovered,
      manifestSeq, lint))
  }

  /** Refresh alarms on one committed table, for a body's battery:
    * row-count drift between its two latest versions beyond half ("did
    * the refresh halve the table") and the column-contract check a
    * row count cannot see (metadata only). A seed passes both
    * vacuously. */
  def drift(cat: Catalog, layer: String, name: String): Seq[Checks.Result] =
    Seq(Checks.snapshotDrift(cat.spark, cat.tablePath(layer, name), name,
        maxRelDrift = 0.5),
      Checks.schemaDrift(cat.spark, cat.tablePath(layer, name), name))

  /** POST-RUN TABLE SERVICES (dbt's post-hook / auto-OPTIMIZE slot):
    * each of `marts` (dir under the warehouse → stats columns) is
    * compacted when fragmented, (re)ANALYZEd after a fresh commit so
    * the stats-driven broadcast advisor has numbers, and vacuumed
    * beyond retention — all decided from committed metadata
    * ([[Maintenance]]); a steady-state warehouse runs zero actions.
    *
    * Every base+delta INDEX dir under `warehouse/index/` (the persisted
    * dedup indexes a daily crawl accretes) is swept by the same policy:
    * delta debt plans `compact_to_base` and nothing else, so the
    * merged view is byte-identical before and after. A dir with
    * committed versions at its own level is one table; any other is an
    * index of nested tables (a ShardedNearDupIndex commits at
    * <name>/{labels,bands}, never at <name> itself), swept and reported
    * as "<index>/<table>" by the index itself. */
  def maintain(spark: SparkSession, warehouseRoot: String,
               marts: Seq[(String, Seq[String])]): Seq[Maintenance.Action] = {
    val idxRoot = new org.apache.hadoop.fs.Path(s"$warehouseRoot/index")
    val fs = idxRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexes =
      if (!fs.exists(idxRoot)) Nil
      else fs.listStatus(idxRoot).toSeq.filter(_.isDirectory)
        .map(_.getPath.toString).sorted
    marts.flatMap { case (t, keys) =>
      Maintenance.run(spark, s"$warehouseRoot/$t",
        Maintenance.Policy(statsCols = keys))
    } ++ indexes.flatMap(p =>
      if (AtomicTable.committedVersions(spark, p).nonEmpty)
        Maintenance.run(spark, p, Maintenance.Policy())
      else graft.llm.ShardedNearDupIndex.maintain(spark, p))
  }
}
