package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style TABLE STATISTICS for committed [[AtomicTable]]s — the
  * catalog half of cost-based planning: row count plus per-column
  * non-null count, exact NDV and min/max, persisted as a
  * `_table_stats.json` manifest inside the committed version dir (the
  * same underscore-file convention as [[DataSkipping]]'s per-file
  * stats, so the manifest travels and dies with its version).
  *
  * Why it matters at 100 TB: Spark's own `autoBroadcastJoinThreshold`
  * sees only FILE SIZES at plan time — a 10 GB-on-disk dim that
  * filters to 1k rows, or a table behind a view, defeats it. Committed
  * row-count stats let the planner decide
  * ([[graft.plans.StatsBroadcastRule]]): hint `broadcast()` when the
  * committed stats say the dim is small, let sort-merge + AQE handle it
  * otherwise — dbt's "analyze after load" discipline feeding Catalyst
  * the numbers it can't infer.
  *
  * Stats collection is ONE aggregate pass over the table (count +
  * count_distinct + min/max per column — Spark plans the multi-distinct
  * via one Expand, a single shuffle); the result is #columns rows of
  * driver-held JSON, written through [[MetaFile]]. min/max are stored
  * as strings of the column's own cast — collect stats on
  * integer/string/date columns (double formatting is not
  * engine-portable, README determinism rules).
  */
object TableStats {

  val ManifestName = "_table_stats.json"

  final case class ColStat(column: String, nRows: Long, nonNull: Long,
                           ndv: Long, minS: Option[String],
                           maxS: Option[String])

  /** One-pass exact stats for `cols` of `df`. */
  def compute(df: DataFrame, cols: Seq[String]): Seq[ColStat] = {
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      count_distinct(col(c)).as(s"ndv_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c"))) :+
      count(lit(1)).as("rows")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(r.fieldIndex("rows"))
    cols.map { c =>
      def str(f: String): Option[String] = {
        val i = r.fieldIndex(f)
        if (r.isNullAt(i)) None else Some(r.getString(i))
      }
      ColStat(c, rows, r.getLong(r.fieldIndex(s"nn_$c")),
        r.getLong(r.fieldIndex(s"ndv_$c")), str(s"min_$c"), str(s"max_$c"))
    }
  }

  /** Compute stats over the LATEST committed version of the table at
    * `tableDir` and write the manifest into that version's dir. */
  def analyze(spark: SparkSession, tableDir: String,
              cols: Seq[String]): Seq[ColStat] = {
    val dataPath = AtomicTable.latestDataPath(spark, tableDir).getOrElse(
      sys.error(s"analyze: no committed version under $tableDir"))
    val stats = compute(spark.read.parquet(dataPath), cols)
    MetaFile.write(spark, new Path(dataPath, ManifestName), stats)
    stats
  }

  /** The stats stored in the committed version dir `dataPath` — O(1)
    * metadata, no scan. None when never analyzed, or when the manifest
    * does not decode (torn, or an older layout): re-ANALYZE. */
  def stored(spark: SparkSession, dataPath: String): Option[Seq[ColStat]] =
    MetaFile.read[Seq[ColStat]](spark, new Path(dataPath, ManifestName))

  /** Analyzed row count of the version at `dataPath`. */
  def rowsAt(spark: SparkSession, dataPath: String): Option[Long] =
    stored(spark, dataPath).flatMap(_.headOption).map(_.nRows)

  /** Committed row count of the table's latest version (see [[rowsAt]]). */
  def committedRows(spark: SparkSession, tableDir: String): Option[Long] =
    AtomicTable.latestDataPath(spark, tableDir).flatMap(rowsAt(spark, _))
}
