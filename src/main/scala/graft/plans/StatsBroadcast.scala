package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo,
  Join, JoinHint, LogicalPlan, Project, Filter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** STATS-DRIVEN AUTO-BROADCAST as an injected Catalyst optimizer rule —
  * [[graft.operators.TableStats]]' committed row counts read INSIDE the
  * planner, so every join in the session benefits without call-site
  * changes (the `SparkSessionExtensions` form — the (c) tier of the
  * extension ladder: a real `Rule[LogicalPlan]`, not an expression).
  *
  * Mechanics: a join side that scans a committed AtomicTable version
  * whose ANALYZEd manifest (`_table_stats.json`, written by
  * `TableStats.analyze`) records ≤ `spark.graft.statsBroadcastMaxRows`
  * rows gets a BROADCAST [[JoinHint]]; `JoinSelection` then plans a
  * broadcast-hash join regardless of what the file-size heuristic
  * thinks. Projections/filters above the scan keep eligibility — the
  * committed row count is an UPPER bound under them. Joins that
  * already carry an explicit hint on that side are left alone (user
  * intent wins), and un-analyzed tables never match (the rule cannot
  * guess small).
  *
  * Scale note: the rule's cost is one manifest read per scan node
  * (`TableStats.rowsAt`; a missing or undecodable manifest is no
  * hint), memoized per data path for the rule instance's lifetime —
  * driver-side metadata, no scans. This is exactly the gap it closes
  * at 100 TB: Spark's `autoBroadcastJoinThreshold` sees on-disk BYTES
  * at plan time, so a dim behind a selective filter (or a view) plans
  * as a shuffle join; committed row stats are the number the optimizer
  * actually needs. */
class StatsBroadcastRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val cache =
    scala.collection.mutable.HashMap.empty[String, Option[Long]]

  /** Positive results memoize for the rule instance's lifetime (a
    * committed version dir's manifest is immutable); MISSES are NOT
    * cached — a `_table_stats.json` written after the first probe (the
    * Maintenance analyze-after-commit flow) must be picked up on the
    * next plan, or eligible dims silently keep planning as shuffle
    * joins in a long-lived session (r11 ADVICE). */
  private def manifestRows(dataPath: String): Option[Long] =
    cache.get(dataPath).getOrElse {
      val probed = graft.operators.TableStats.rowsAt(spark, dataPath)
      if (probed.isDefined) cache(dataPath) = probed
      probed
    }

  private def maxRows: Long =
    spark.conf.get("spark.graft.statsBroadcastMaxRows", "1000000").toLong

  /** Analyzed-and-small scan, possibly under projections/filters. */
  private def committedSmall(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => committedSmall(child)
    case Filter(_, child) => committedSmall(child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.toList match {
          case single :: Nil =>
            manifestRows(single.toString).exists(_ <= maxRows)
          case _ => false
        }
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, right, _, _, hint)
        if hint.rightHint.isEmpty && committedSmall(right) =>
      j.copy(hint = hint.copy(
        rightHint = Some(HintInfo(Some(BROADCAST)))))
    case j @ Join(left, _, _, _, hint)
        if hint.leftHint.isEmpty && committedSmall(left) =>
      j.copy(hint = hint.copy(
        leftHint = Some(HintInfo(Some(BROADCAST)))))
  }
}

/** `spark.sql.extensions` entry point: registers
  * [[StatsBroadcastRule]] as an operator-optimization rule. The conf
  * route (`--conf spark.sql.extensions=graft.plans.GraftExtensions`)
  * is read when the SparkCONTEXT is created; to attach to an existing
  * context use `SparkSession.builder.withExtensions(new
  * GraftExtensions().apply _)` (what the spec does). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(s => new StatsBroadcastRule(s))
}
