package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Det._

/** Batch twins of the streaming windowing operators (tumbling windows,
  * gap-based sessionization) — same logical semantics the
  * [[graft.streaming.EventStream]] module runs incrementally; expressed
  * in batch form here so the DuckDB oracle can check them.
  */
object StreamingQueries {

  /** Tumbling 1-hour windows per event type (epoch-aligned, the same
    * alignment Spark's window() uses). */
  val stTumbling: Q = Q.sql(
    "st_tumbling_window",
    """SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
      |       event_type,
      |       COUNT(*) AS event_count,
      |  CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    windowTotals(s, d, window(col("ts"), "1 hour"))
  }

  /** Event count and decimal-exact value sum per (window start, event
    * type) of the events' `win` window column. */
  private def windowTotals(s: SparkSession, d: String,
                           win: Column): DataFrame =
    Tables.events(s, d)
      .groupBy(win("start").cast("string").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        dsum(col("value")).as("total_value"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes per event type — the
    * overlapping twin of `st_tumbling_window` (each event in exactly 2
    * windows). The DuckDB side replays Spark's epoch-aligned window
    * assignment with integer-micros arithmetic (`//` floor-div on
    * `epoch_us`; no double division — 2^53 discipline) and the
    * unnest(generate_series) row-doubling idiom; window_start rendered
    * via make_timestamp (tz-free, matching Spark's UTC session). */
  val stSliding: Q = Q.sql(
    "st_sliding_window",
    """WITH e AS (
      |  SELECT event_type, value,
      |    (epoch_us(ts) // 1800000000) * 1800000000 AS b_us,
      |    unnest(generate_series(0, 1)) AS k
      |  FROM events
      |)
      |SELECT CAST(make_timestamp(b_us - k * 1800000000) AS VARCHAR)
      |    AS window_start,
      |  event_type, COUNT(*) AS event_count,
      |  CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    windowTotals(s, d, window(col("ts"), "1 hour", "30 minutes"))
  }

  /** Gap-based sessionization (30-min inactivity): lag → new-session
    * flag → running session index → per-session rollup. Identical
    * lag/cumsum formulation on both engines (the streaming module uses
    * native session_window; this is the deterministic batch twin). */
  val stSessions: Q = Q.sql(
    "st_session_windows",
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
      |         WHEN FLOOR(EPOCH(ts)) - FLOOR(EPOCH(LAG(ts) OVER w)) >= 1800 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS event_count,
      |  CAST(DATE_TRUNC('second', MIN(ts)) AS VARCHAR) AS session_start,
      |  CAST(DATE_TRUNC('second', MAX(ts)) AS VARCHAR) AS session_end,
      |  CAST(FLOOR(EPOCH(MAX(ts))) - FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS duration_sec,
      |  CAST(SUM(CAST((value) AS DECIMAL(38,6))) AS DOUBLE) AS session_value
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull, 1)
          .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            >= 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
      .agg(
        count(lit(1)).as("event_count"),
        date_trunc("second", min(col("ts"))).cast("string")
          .as("session_start"),
        date_trunc("second", max(col("ts"))).cast("string")
          .as("session_end"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .cast("long").as("duration_sec"),
        dsum(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Batch twin of the flatMapGroupsWithState first-seen operator
    * (EventStream.firstSeenByUser): first occurrence of each event_type
    * per user, deterministically min-by-event_id. */
  val stFirstSeen: Q = Q.sql(
    "st_stateful_first_seen",
    """SELECT user_id, event_type,
      |  MIN(event_id) AS first_event_id,
      |  arg_min(value, event_id) AS first_value
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        min(col("event_id")).as("first_event_id"),
        min_by(col("value"), col("event_id")).as("first_value"))
      .orderBy("user_id", "event_type")
  }

  /** Batch twin of the streaming exact dedup
    * (EventStream.dedupEvents / dropDuplicatesWithinWatermark): an
    * at-least-once redelivery is simulated by doubling the events table;
    * full-row dedup (all four columns, matching the oracle's SELECT
    * DISTINCT) collapses it back to one row per event. */
  val stStreamDedup: Q = Q.sql(
    "st_stream_dedup",
    """WITH delivered AS (
      |  SELECT event_id, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, user_id, event_type, value FROM events
      |)
      |SELECT DISTINCT event_id, user_id, event_type, value
      |FROM delivered
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "value")
    // Dedup on ALL four columns — the oracle is SELECT DISTINCT over the
    // full row, and key-only dedup would only coincidentally agree (it
    // would pick an arbitrary survivor if two deliveries of the same
    // event_id ever differed in payload). StreamingSpec has the
    // same-id/different-payload perturbation test.
    e.unionAll(e)
      .dropDuplicates(Seq("event_id", "user_id", "event_type", "value"))
      .orderBy("event_id")
  }

  /** Batch twin of the stream-static enrichment join
    * (EventStream.enrichWithDim): events ⋈ broadcast user-tier dim,
    * rolled up per tier. The dim derives deterministically from the
    * key space (user_id % 5). */
  val stStaticEnrich: Q = Q.sql(
    "st_static_enrich",
    """WITH dim AS (
      |  SELECT DISTINCT user_id, user_id % 5 AS user_tier FROM events
      |)
      |SELECT d.user_tier,
      |  COUNT(*) AS event_count,
      |  COUNT(DISTINCT e.user_id) AS user_count,
      |  CAST(SUM(CAST((e.value) AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d USING (user_id)
      |GROUP BY d.user_tier
      |ORDER BY d.user_tier""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    val e = Tables.events(s, d)
    val dim = e.select(col("user_id")).distinct()
      .withColumn("user_tier", col("user_id") % 5)
    EventStream.enrichWithDim(e, dim)
      .groupBy(col("user_tier"))
      .agg(count(lit(1)).as("event_count"),
        countDistinct(col("user_id")).as("user_count"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_tier")
  }

  /** The two sides of the interval joins: `clicks` and `purchases`
    * from `events`. */
  private val clickPurchaseCtes: String =
    """clicks AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
      |), purchases AS (
      |  SELECT user_id, event_id, ts, value FROM events
      |  WHERE event_type = 'purchase'
      |)""".stripMargin

  /** Batch twin of the STREAM-STREAM interval join
    * (EventStream.intervalJoin, run here on batch frames where
    * withWatermark is a no-op — the REAL function under the gate):
    * clicks matched to same-user purchases within 30 minutes.
    * Timestamps in this corpus are whole microseconds, so the Spark
    * (micros) and DuckDB (nanos) range comparisons agree exactly;
    * outputs follow the determinism rules (trunc-second ISO strings,
    * integer-micros lag). */
  val stIntervalJoin: Q = Q.sql(
    "st_interval_join",
    s"""WITH $clickPurchaseCtes
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(DATE_TRUNC('second', c.ts) AS VARCHAR) AS click_ts,
      |  CAST(DATE_TRUNC('second', p.ts) AS VARCHAR) AS purchase_ts,
      |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us,
      |  p.value AS purchase_value
      |FROM clicks c JOIN purchases p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    val e = Tables.events(s, d)
    val joined = EventStream.intervalJoin(
      e.filter(col("event_type") === "click"),
      e.filter(col("event_type") === "purchase"))
    joined.select(
      col("user_id"),
      col("left_id").as("click_id"),
      col("right_id").as("purchase_id"),
      date_trunc("second", col("left_ts")).cast("string").as("click_ts"),
      date_trunc("second", col("right_ts")).cast("string")
        .as("purchase_ts"),
      (unix_micros(col("right_ts")) - unix_micros(col("left_ts")))
        .as("lag_us"),
      col("right_value").as("purchase_value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** LEFT OUTER stream-stream interval join — the funnel "clicks that
    * never converted" shape: unmatched clicks survive with NULL
    * purchase columns (streaming emits them once the watermark passes
    * the match window; batch twin is a plain left join — same rows).
    * NULL-sensitive projections (`lag_us`, timestamps) go through
    * null-propagating expressions on both engines; the match flag is
    * emitted so the hash gate pins exactly WHICH clicks converted. */
  val stIntervalJoinOuter: Q = Q.sql(
    "st_interval_join_outer",
    s"""WITH $clickPurchaseCtes
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(DATE_TRUNC('second', c.ts) AS VARCHAR) AS click_ts,
      |  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us,
      |  p.value AS purchase_value,
      |  p.event_id IS NOT NULL AS converted
      |FROM clicks c LEFT JOIN purchases p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    val e = Tables.events(s, d)
    val joined = EventStream.intervalJoinLeftOuter(
      e.filter(col("event_type") === "click"),
      e.filter(col("event_type") === "purchase"))
    joined.select(
      col("user_id"),
      col("left_id").as("click_id"),
      col("right_id").as("purchase_id"),
      date_trunc("second", col("left_ts")).cast("string").as("click_ts"),
      (unix_micros(col("right_ts")) - unix_micros(col("left_ts")))
        .as("lag_us"),
      col("right_value").as("purchase_value"),
      col("right_id").isNotNull.as("converted"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** The REAL transformWithState VALUE-STATE processor under the batch
    * oracle gate: [[graft.streaming.EventStream.runningTotals]] runs as
    * an actual streaming query over the sf dir's events table (file
    * source, RocksDB state store, foreachBatch parquet sink — the
    * resumable-sink shape), and the query returns the FINAL emission
    * per user (cumulative n_events is strictly increasing, so max-by is
    * the last state). That must equal the batch per-user rollup the
    * oracle computes: COUNT(*) events and exact integer CENTS
    * (round(value·100) on the corpus's 2dp values — portable because
    * the identical IEEE double product rounds to the same integer on
    * both engines; the processor's state discipline is that money never
    * carries float error). Emissions flow through an executor-side
    * parquet append, never a driver collect — state-table-sized output
    * at any SF. */
  val stRunningTotals: Q = Q.sql(
    "st_running_totals",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    // RocksDB provider and the statePartitions policy scoped to this
    // run: one RocksDB instance per partition per batch is the fixed
    // cost, and the emitted rows are partition-count-invariant (keyed
    // state).
    val out = Q.tempDir("st_rt_out")
      .resolve("emissions").toString
    val ckpt = Q.tempDir("st_rt_ckpt")
      .toString
    EventStream.withStateStore(s) {
      val landing = landEvents(d, "st_rt_land")
      EventStream.drainToParquet(EventStream.runningTotals(
        EventStream.readEvents(s, landing.toString)).toDF(), ckpt, out)
    }
    // one cumulative emission per (user, batch-touched): keep the last
    s.read.parquet(out)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("value_cents"), col("n_events")).as("value_cents"))
      .orderBy("user_id")
  }

  /** A scratch landing dir holding the sf dir `d`'s events file: the
    * file stream source needs a DIRECTORY (the landing-dir shape real
    * streaming ingest has) and testdata ships events as one file, so
    * it is staged by hard link (copy fallback), O(1) metadata. */
  private def landEvents(d: String, prefix: String): java.nio.file.Path = {
    val landing = Q.tempDir(prefix)
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    val dst = landing.resolve("events.parquet")
    try java.nio.file.Files.createLink(dst, src)
    catch { case _: Exception =>
      java.nio.file.Files.copy(src, dst); () }
    landing
  }

  /** Sessionized `events` in integer micros: `flagged` marks each
    * user's first event and every event 30 minutes or more after the
    * previous one, `sess` numbers the sessions per user (`session_id`). */
  private val sessionCtes: String =
    """flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
      |              >= 1800000000 THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)""".stripMargin

  /** The REAL transformWithState EVENT-TIME-TIMER processor under the
    * batch oracle gate ([[graft.streaming.EventStream.timerSessions]]):
    * gap sessionization where session CLOSE is watermark-driven — one
    * timer per user at `end + gap`, fired when the watermark passes.
    * Two-phase replay: phase 1 streams the events table (closing
    * whatever the in-corpus watermark already covers), phase 2 resumes
    * from the checkpoint with a staged SENTINEL file 2 days past max
    * event time — the watermark sweep that closes every remaining open
    * session (the sentinel user's own session stays open by
    * construction and is filtered). The collected emissions must equal
    * the batch lag/cumsum sessionization with exact integer micros
    * bounds and integer-cents sums. Sessions are emitted exactly once:
    * inline on an in-batch gap split, or by the armed timer — never
    * both (state clears on close). */
  val stSessionTimers: Q = Q.sql(
    "st_session_timers",
    s"""WITH $sessionCtes
      |SELECT user_id,
      |  CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
      |  CAST(MAX(epoch_us(ts)) AS BIGINT) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    // provider + state-partition policy scoped as in st_running_totals
    val out = Q.tempDir("st_stm_out")
      .resolve("emissions").toString
    val ckpt = Q.tempDir("st_stm_ckpt")
      .toString
    EventStream.withStateStore(s) {
      val landing = landEvents(d, "st_stm_land")
      def runPass(): Unit = EventStream.drainToParquet(
        EventStream.timerSessions(
          EventStream.readEvents(s, landing.toString)).toDF(), ckpt, out)
      runPass()
      EventStream.stageSentinel(s, s"$d/events.parquet", landing,
        Q.tempDir("st_stm_stage"))
      runPass()
    }
    s.read.parquet(out).filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
  }

  /** Spark's NATIVE `session_window` operator in batch mode — the
    * third member of the sessionization family (`st_session_windows` =
    * the manual lag/cumsum batch twin, `st_session_timers` = the
    * typed-state timer processor, this = the built-in operator the
    * first two re-derive). Native session windows merge overlapping
    * [t, t+gap) intervals per key — identical semantics to the
    * `diff >= gap ⇒ split` rule, with `end = last event + gap` — so the
    * oracle is the same CTE chain with the gap added to the end bound.
    * One partial-merging aggregate, no window function, no state ops:
    * the plan Spark picks is what the streaming variant's state store
    * implements incrementally. */
  val w12NativeSession: Q = Q.sql(
    "w12_native_session",
    s"""WITH $sessionCtes
      |SELECT user_id,
      |  CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
      |  CAST(MAX(epoch_us(ts)) + 1800000000 AS BIGINT) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100) AS BIGINT)"))
          .cast("long").as("value_cents"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("value_cents"))
      .orderBy("user_id", "session_start_us")
  }

  val all: Seq[Q] = Seq(stTumbling, stSliding, stSessions, stFirstSeen,
    stStreamDedup, stStaticEnrich, stIntervalJoin, stIntervalJoinOuter,
    stRunningTotals, stSessionTimers, w12NativeSession)
}
