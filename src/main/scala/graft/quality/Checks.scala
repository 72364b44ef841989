package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic data-quality checks — the dbt schema-test surface (`unique`,
  * `not_null`, `accepted_values`, `unique_combination_of_columns`,
  * SURVEY §5.1) plus the Python framework's row-count/completeness/
  * freshness checks (pipelines/shared/data_quality.py:17-233). Each
  * check returns the violating row count (0 = pass) so callers can
  * collect results without throwing mid-run, like the reference's
  * non-fatal post-run checks (orchestrator.py:466-504).
  */
object Checks {

  final case class Result(check: String, table: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  def unique(df: DataFrame, table: String, column: String): Result =
    Result(s"unique($column)", table,
      df.groupBy(col(column)).count().filter(col("count") > 1).count())

  def uniqueCombination(df: DataFrame, table: String,
                        columns: Seq[String]): Result =
    Result(s"unique_combination(${columns.mkString(",")})", table,
      df.groupBy(columns.map(col): _*).count()
        .filter(col("count") > 1).count())

  def notNull(df: DataFrame, table: String, column: String): Result =
    Result(s"not_null($column)", table,
      df.filter(col(column).isNull).count())

  def acceptedValues(df: DataFrame, table: String, column: String,
                     values: Seq[String]): Result =
    Result(s"accepted_values($column)", table,
      df.filter(col(column).isNotNull &&
        !col(column).isin(values.map(lit(_)): _*)).count())

  def nonEmpty(df: DataFrame, table: String): Result =
    Result("non_empty", table, if (df.isEmpty) 1L else 0L)

  /** dbt `relationships` — referential integrity: every NON-NULL value
    * of `column` must exist in `parent.refColumn`; violations = orphan
    * CHILD ROWS (dbt counts rows, not distinct keys). One left-anti
    * join against the deduplicated parent keys — at scale the parent
    * key set broadcasts when dimension-sized, and the anti join stops
    * probing a row at its first match. */
  def relationships(child: DataFrame, table: String, column: String,
                    parent: DataFrame, refColumn: String): Result =
    Result(s"relationships($column->$refColumn)", table,
      child.filter(col(column).isNotNull)
        .join(parent.select(col(refColumn).as(column)).distinct(),
          Seq(column), "left_anti")
        .count())

  /** dbt SOURCE FRESHNESS against a DATA-PROVIDED `asOf` instant —
    * never wall clock, so the check is replayable and oracle-gatable
    * (the reference's freshness check reads the run date the same way a
    * backfill must: as an input, data_quality.py:176-233). Lag is
    * computed in exact integer MICROS floor-divided to whole days
    * (`unix_micros` ↔ DuckDB `epoch_us` — second-truncation would
    * disagree between engines on sub-second timestamps). An empty/
    * all-NULL column is stale by definition. */
  def freshness(df: DataFrame, table: String, column: String,
                asOfIso: String, maxLagDays: Int): Result = {
    val r = df.agg(
      max(unix_micros(col(column).cast("timestamp"))).as("mx")).head()
    val stale =
      if (r.isNullAt(0)) 1L
      else {
        val asOfMicros = java.time.LocalDate.parse(asOfIso)
          .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
        val lagDays = (asOfMicros - r.getLong(0)) / 86400000000L
        if (lagDays > maxLagDays) 1L else 0L
      }
    Result(s"freshness($column,${maxLagDays}d)", table, stale)
  }

  /** Column completeness must be >= threshold (data_quality.py:96-130). */
  def completeness(df: DataFrame, table: String, column: String,
                   threshold: Double): Result = {
    val row = df.agg(
      count(col(column)).cast("double").as("present"),
      count(lit(1)).cast("double").as("total")).head()
    val ratio = if (row.getDouble(1) == 0) 1.0
      else row.getDouble(0) / row.getDouble(1)
    Result(f"completeness($column>=$threshold%.2f)", table,
      if (ratio >= threshold) 0L else 1L)
  }

  /** SNAPSHOT DRIFT between the two most recent committed versions of
    * an [[graft.operators.AtomicTable]]: fails when the row count moved
    * by more than `maxRelDrift` (e.g. 0.5 = ±50%) — the "did a refresh
    * silently drop half the table" alarm a replace-sink pipeline needs
    * before consumers read the new version. Tables with fewer than two
    * versions pass vacuously (nothing to compare). Two count-only scans;
    * composes with [[graft.operators.AtomicTable.diff]] when the alarm
    * fires and the investigator needs WHICH keys moved. */
  def snapshotDrift(spark: org.apache.spark.sql.SparkSession, dir: String,
                    table: String, maxRelDrift: Double): Result = {
    import graft.operators.AtomicTable
    val versions = AtomicTable.committedVersions(spark, dir)
    val violations = versions.takeRight(2) match {
      case Seq(prev, latest) if versions.size >= 2 =>
        val before = AtomicTable.readVersion(spark, dir, prev)
          .map(_.count()).getOrElse(0L)
        val after = AtomicTable.readVersion(spark, dir, latest)
          .map(_.count()).getOrElse(0L)
        val drift =
          if (before == 0L) { if (after == 0L) 0.0 else 1.0 }
          else math.abs(after - before).toDouble / before
        if (drift <= maxRelDrift) 0L else 1L
      case _ => 0L
    }
    Result(f"snapshot_drift(<=$maxRelDrift%.2f)", table, violations)
  }

  /** One column-level difference between two committed schema versions. */
  final case class SchemaChange(columnName: String, change: String,
                                oldType: Option[String],
                                newType: Option[String])

  /** SCHEMA DRIFT between the two most recent committed versions of an
    * [[graft.operators.AtomicTable]] — the data-CONTRACT alarm the
    * row-count [[snapshotDrift]] cannot raise: a refresh that silently
    * drops a column, adds one, or changes a type breaks every
    * downstream reader even when the row count is steady (exactly the
    * drift that broke this repo's own events readers in round 10 —
    * see Tables.normalizeEventTs). Pure METADATA work: two parquet
    * footer reads, zero data scanned, so the check costs the same at
    * 100 TB as at 100 MB. Fewer than two versions ⇒ no changes. */
  def schemaChanges(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Seq[SchemaChange] = {
    import graft.operators.AtomicTable
    val versions = AtomicTable.committedVersions(spark, dir)
    versions.takeRight(2) match {
      case Seq(prev, latest) if versions.size >= 2 =>
        def fields(v: Long): Seq[(String, String)] =
          AtomicTable.readVersion(spark, dir, v)
            .map(_.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
            .getOrElse(Nil)
        val before = fields(prev)
        val after = fields(latest)
        val bm = before.toMap
        val am = after.toMap
        val removed = before.collect { case (n, t) if !am.contains(n) =>
          SchemaChange(n, "removed", Some(t), None) }
        val added = after.collect { case (n, t) if !bm.contains(n) =>
          SchemaChange(n, "added", None, Some(t)) }
        val retyped = after.collect {
          case (n, t) if bm.get(n).exists(_ != t) =>
            SchemaChange(n, "type_changed", Some(bm(n)), Some(t)) }
        (removed ++ added ++ retyped).sortBy(_.columnName)
      case _ => Nil
    }
  }

  /** [[schemaChanges]] as a pass/fail check: violations = number of
    * column-level contract changes between the latest two versions. */
  def schemaDrift(spark: org.apache.spark.sql.SparkSession, dir: String,
                  table: String): Result =
    Result("schema_drift", table, schemaChanges(spark, dir).size.toLong)

  /** ONE-SCAN check battery over a single table (r21; guide §6 "one
    * scan"): the dbt schema tests that each pay a full aggregate scan —
    * [[unique]]/[[uniqueCombination]], [[notNull]], [[acceptedValues]],
    * [[nonEmpty]] — computed together in ONE job: a two-level aggregate
    * when a uniqueness key is present (per-key counts + per-row
    * violation sums, then one global fold), a single global aggregate
    * otherwise. Result rows are byte-identical (names and violation
    * counts) to the individual checks', in the order: non_empty,
    * unique, not_null (given order), accepted_values (given order).
    * `rows` is the table's exact row count — free from the same pass —
    * so callers drop their separate COUNT(*) jobs too. At warehouse
    * scale this is the difference between one full-table scan per CHECK
    * and one per TABLE per run. */
  final case class SinglePass(results: Seq[Result], rows: Long)

  def singlePass(df: DataFrame, table: String,
                 uniqueCols: Seq[String] = Nil,
                 combination: Boolean = false,
                 checkNonEmpty: Boolean = false,
                 notNullCols: Seq[String] = Nil,
                 accepted: Seq[(String, Seq[String])] = Nil): SinglePass = {
    // one unique column per call: several without `combination` would
    // report only the first while grouping by all of them
    require(combination || uniqueCols.size <= 1,
      s"singlePass($table): unique(${uniqueCols.mkString(",")}) needs " +
        "combination = true, or one call per column")
    val rowAggs: Seq[(String, org.apache.spark.sql.Column)] =
      notNullCols.map(c => s"_nn_$c" ->
        sum(when(col(c).isNull, 1L).otherwise(0L))) ++
      accepted.map { case (c, vs) => s"_av_$c" ->
        sum(when(col(c).isNotNull &&
          !col(c).isin(vs.map(lit(_)): _*), 1L).otherwise(0L)) }
    val row =
      if (uniqueCols.nonEmpty) {
        val aggs1 = count(lit(1)).as("_c") +:
          rowAggs.map { case (n, a) => a.as(n) }
        val grouped = df.groupBy(uniqueCols.map(col): _*)
          .agg(aggs1.head, aggs1.tail: _*)
        val aggs2 = coalesce(sum(col("_c")), lit(0L)).as("_rows") +:
          count(when(col("_c") > 1, lit(1))).as("_dups") +:
          rowAggs.map { case (n, _) =>
            coalesce(sum(col(n)), lit(0L)).as(n) }
        grouped.agg(aggs2.head, aggs2.tail: _*).head()
      } else {
        val aggs = count(lit(1)).as("_rows") +:
          rowAggs.map { case (n, a) => coalesce(a, lit(0L)).as(n) }
        df.agg(aggs.head, aggs.tail: _*).head()
      }
    val rows = row.getAs[Long]("_rows")
    val uniqueRes = uniqueCols match {
      case Nil => Nil
      case cols =>
        val name = if (combination)
          s"unique_combination(${cols.mkString(",")})"
        else s"unique(${cols.head})"
        Seq(Result(name, table, row.getAs[Long]("_dups")))
    }
    val results =
      (if (checkNonEmpty)
        Seq(Result("non_empty", table, if (rows == 0) 1L else 0L))
      else Nil) ++ uniqueRes ++
      notNullCols.map(c =>
        Result(s"not_null($c)", table, row.getAs[Long](s"_nn_$c"))) ++
      accepted.map { case (c, _) =>
        Result(s"accepted_values($c)", table, row.getAs[Long](s"_av_$c")) }
    SinglePass(results, rows)
  }

  def runAll(results: Seq[Result]): Seq[Result] = {
    results.filterNot(_.passed).foreach(r =>
      System.err.println(s"[quality] FAIL ${r.table}.${r.check}: " +
        s"${r.violations} violations"))
    results
  }
}
