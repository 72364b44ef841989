package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** PLAN + INPUT FINGERPRINT — the key of the skip-unchanged model
  * cache ([[graft.ref.Catalog]] with `skipUnchanged`): a model whose
  * build plan and inputs fingerprint identical to its latest committed
  * version is served, not rebuilt (dbt's "skip unchanged model").
  *
  * The key couples WHAT is computed with WHAT it reads:
  *   - the canonicalized plan's `semanticHash` — alias names,
  *     attribute ids and cosmetic differences hash equal, semantic
  *     changes don't;
  *   - per input relation (every `HadoopFsRelation` scan in the plan):
  *     root paths + file count + a hash of each file's path, length
  *     and modification time, over the files Spark will read — any
  *     upstream rewrite, append or recommit changes the key.
  *
  * Re-validation is driver-side metadata (the file listing each
  * input's scan already holds), so staleness is exactly 'inputs
  * changed', never a TTL guess. */
object ResultCache {

  /** Cache key: semantic plan hash + input signatures.
    *
    * The plan hash is over the canonicalized ANALYZED plan, not the
    * optimized one: optimizer rewrites are not all run-deterministic —
    * `RewriteDistinctAggregates` (any plan with 2+ DISTINCT aggregates)
    * orders its Expand projections by a HashMap iteration over exprIds,
    * which differ across JVM runs, so byte-identical code re-planned in
    * a new run hashes differently and the cache never hits (found via
    * fct_trade_show_performance rebuilding on every unchanged re-run).
    * Analyzer rules are deterministic transformations; canonicalization
    * still normalizes exprIds and alias names, so alias renames and
    * pass-through projections hash equal (OperatorsSpec pins both). */
  def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val planHash = plan.canonicalized.semanticHash()
    val inputs = plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          // Sign the files Spark will read: the relation's own listing,
          // already made when the DataFrame was built, with no filters.
          // It holds data files under partition subdirectories too (a
          // top-level-only listing would sign them as `0|0|0` and
          // changes inside partitions would never invalidate the entry,
          // r11 nit #1), and leaves out what Spark skips: `.crc`
          // sidecars and `_table_stats.json`, which ANALYZE writes into
          // a committed version dir and must not force rebuilds
          // downstream (OperatorsSpec pins it).
          //
          // Hash the SORTED per-file (path, len, mtime) tuples rather
          // than aggregating to count|sumBytes|maxMtime: an in-place
          // rewrite with unchanged length and a non-advancing mtime
          // (clock rewind, restored backup, rsync -t, object-store copy
          // preserving timestamps) must still perturb the signature —
          // under skipUnchanged a collision there silently serves a
          // stale committed mart (r12 ADVICE).
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
          val fmd = java.security.MessageDigest.getInstance("MD5")
          files.sorted.foreach(s => fmd.update(s.getBytes("UTF-8")))
          val fileHash = fmd.digest().map("%02x".format(_)).mkString
          s"${fs.location.rootPaths.mkString(",")}|${files.size}|$fileHash"
        case _ => "other"
      }
    }.sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(planHash.toString.getBytes("UTF-8"))
    md.update(inputs.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
}
