package graft

import org.apache.spark.sql.SparkSession

/** One place for session wiring so Verify, Bench, and tests agree.
  *
  * Knobs and why (local[32] now; the same settings are the right defaults
  * on a 1000-executor cluster, where only shuffle.partitions would be
  * raised to ~2-3× total cores):
  *  - shuffle.partitions = cores, not 200: avoids tiny-task overhead at
  *    test scale; AQE coalesces anyway.
  *  - AQE on: runtime join-strategy switches + skew-join splitting.
  *  - nanosAsLong: the events table is parquet TIMESTAMP(NANOS), which the
  *    vectorized reader otherwise rejects (normalized in [[Tables.events]]).
  *  - UTC session timezone: date/timestamp semantics match the DuckDB
  *    oracle and are cluster-location-independent.
  *  - Shuffle codec and scheduler mode stay at Spark's defaults (lz4,
  *    FIFO): zstd and FAIR were measured and lost on local[32]
  *    (OPTIMIZATION_r21.md).
  *  - `file:` is [[LocalFs]], under both Hadoop keys (FileSystem and
  *    FileContext): without libhadoop the stock local filesystem forks
  *    `chmod` per mkdir and create and `readlink` per FileContext
  *    rename; [[LocalFs]] makes those calls through java.nio.
  *    An event_stream run launched ~2,000 processes before, ~120 after
  *    (Spark's own `rm -rf`). Set here, before the context exists, so
  *    the first cached `file:` instance is already the in-process one.
  */
object Sessions {
  private def builder(cpus: String) =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.confs)

  def local(cpus: String): SparkSession = builder(cpus).getOrCreate()

  /** The PIPELINE DRIVER's session ([[graft.cli.Main]]): [[local]] plus
    * the injected [[graft.plans.GraftExtensions]] optimizer rules, so
    * every join planned during a pipeline run benefits from committed
    * ANALYZE stats (stats-driven broadcast) without call-site changes.
    * `withExtensions` — NOT the `spark.sql.extensions` conf, which is
    * only read when the SparkCONTEXT is created and silently no-ops on
    * a live context. Verify/Bench keep the plain [[local]] session: the
    * oracle gate measures the query plans as written. */
  def pipeline(cpus: String): SparkSession =
    builder(cpus)
      .withExtensions(e => new graft.plans.GraftExtensions().apply(e))
      .getOrCreate()
}
