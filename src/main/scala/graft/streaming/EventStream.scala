package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Structured Streaming over the events table shape. The reference is
  * pure nightly batch (SURVEY §2.9: no watermarks/windows exist there),
  * so this module is the forward-looking streaming surface: file-source
  * ingestion, watermarked tumbling windows, and session windows — the
  * three primitives a streaming variant of the pipeline needs.
  *
  * Scale: file-source streaming partitions work by file; tumbling/session
  * aggregation state is keyed by (window, key) and bounded by the
  * watermark — at cluster scale state lives in the state store per
  * shuffle partition; nothing here is driver-resident.
  */
object EventStream {

  /** STATE-STORE partition policy for streaming passes (r21; VERDICT
    * r20 task #8): a stateful micro-batch instantiates one state-store
    * instance PER shuffle partition per stateful operator, and each one
    * commits every batch — with the RocksDB provider a native checkpoint
    * plus its upload through the checkpoint file manager (a temp-file
    * create and a FileContext rename per file), a FIXED cost ∝ partition
    * count, not data. Measured on event_stream (4-core VM, 4 partitions,
    * traced seed 3, median of 3): ~150 ms per partition per batch while
    * Hadoop's local filesystem forked `chmod`/`readlink` per file, ~40 ms
    * with [[graft.LocalFs]] (`state_commit_ms` 593 → 162 per batch).
    * Cheaper, still per partition, so the count below still matters.
    * Leaving the count at the session default (= cores) therefore makes
    * a toy-volume pass SLOWER with more cores — the driver's r20 bench
    * measured st_session_timers at 8c/32c ratio 0.53 (8 cores beat 32).
    * Production sizing is state-VOLUME-driven (target state bytes per
    * partition: keys × bytes/key / ~1 GB per store instance) and pinned
    * in the checkpoint by the first pass — by nature independent of how
    * wide the submitting driver happens to be. Here: min(cores, 8) —
    * full parallelism below 8 cores, flat instance count above, so
    * per-core bench comparisons measure the plan. */
  def statePartitions(spark: SparkSession): Int =
    math.min(spark.sparkContext.defaultParallelism, 8)

  /** Runs `body` with the RocksDB state-store provider (which
    * transformWithState requires) and [[statePartitions]] shuffle
    * partitions set on `spark`, then restores both confs as they were —
    * a conf that was unset is unset again — also when `body` throws.
    * Harnesses run queries one at a time, so the scoping races with no
    * other query. A resumed pass reads the partition count pinned in its
    * checkpoint either way. */
  def withStateStore[T](spark: SparkSession)(body: => T): T = {
    val scoped = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      "spark.sql.shuffle.partitions" -> statePartitions(spark).toString)
    val set = spark.conf.getAll
    val prev = scoped.map { case (k, _) => k -> set.get(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Starts `stream` with each micro-batch appended to parquet at `out`
    * through `foreachBatch` (checkpoint at `ckpt`), processes every
    * input available, then stops it. */
  def drainToParquet(stream: DataFrame, ckpt: String, out: String): Unit = {
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Moves into `landing`, as `z_sentinel.parquet`, one event in the raw
    * file shape of the events at `eventsPath`: ts 2 days past their max
    * (epoch NANOS when the raw `ts` is a long — its flavor drifts
    * across testdata generations), event_id and user_id -1, event_type
    * "sentinel", value 0, every other column null. A resumed pass over
    * `landing` then moves the watermark past every real event, so every
    * open session closes; the sentinel user's own stays open. `stage`
    * is an empty scratch dir for the write. */
  def stageSentinel(spark: SparkSession, eventsPath: String,
                    landing: java.nio.file.Path,
                    stage: java.nio.file.Path): Unit = {
    val raw = spark.read.parquet(eventsPath)
    val bumped =
      if (raw.schema("ts").dataType == LongType)
        col("ts") + lit(2L * 86400L * 1000000000L) // epoch NANOS
      else col("ts") + expr("INTERVAL 2 DAYS")
    val overrides = Map[String, org.apache.spark.sql.Column](
      "event_id" -> lit(-1L), "user_id" -> lit(-1L),
      "event_type" -> lit("sentinel"), "value" -> lit(0.0),
      "ts" -> bumped)
    raw.agg(max(col("ts")).as("ts"))
      .select(raw.schema.fields.toSeq.map(f =>
        overrides.getOrElse(f.name, lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      landing.resolve("z_sentinel.parquet"))
  }

  /** File-source stream of events with normalized timestamp. The
    * physical flavor of `ts` drifts across testdata generations
    * (INT64-nanos, TIMESTAMP_MICROS utc, TIMESTAMP_NTZ), so the stream
    * schema is taken from the files already present (a driver-side
    * footer read — file-source streams require an upfront schema
    * anyway) and the SAME normalizer the batch reader uses
    * ([[graft.Tables.normalizeEventTs]]) smooths it to TimestampType
    * micros. One shared normalization point = batch and stream can
    * never diverge again when the data contract drifts. */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val fileSchema = spark.read.parquet(path).schema
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(path))
  }

  /** Watermarked tumbling-window counts/sums per event type. */
  def tumblingAgg(events: DataFrame, window: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    slidingAgg(events, window, window, watermark)

  /** Watermarked SLIDING-window counts/sums per event type — the
    * overlapping-window sibling of [[tumblingAgg]] (duration a multiple
    * of slide ⇒ every event lands in exactly duration/slide windows).
    * State is keyed by (window, event_type) and bounded by the
    * watermark exactly like the tumbling case — the overlap multiplies
    * state rows by duration/slide, not by event volume. */
  def slidingAgg(events: DataFrame, winDur: String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), winDur, slide),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("event_count"), col("total_value"))

  /** Native session windows (30-minute inactivity gap) per user. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("event_count"),
        sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("event_count"), col("session_value"))

  /** Memory-sink writer for tests/demos. */
  def toMemorySink(df: DataFrame, name: String,
                   complete: Boolean): DataStreamWriter[Row] = {
    val w = df.writeStream.format("memory").queryName(name)
    if (complete) w.outputMode("complete") else w.outputMode("append")
  }

  /** STREAMING EXACT DEDUP — the incremental twin of
    * [[graft.llm.Dedup.exact]]: first arrival of each `event_id` is
    * emitted, later duplicates (retries, at-least-once re-deliveries)
    * are dropped. `dropDuplicatesWithinWatermark` keys the state store
    * by event_id and EVICTS entries older than the watermark, so state
    * is bounded by (arrival rate × watermark horizon) instead of
    * growing forever — the property that makes this viable on an
    * unbounded 100 TB-scale stream where a plain dropDuplicates would
    * OOM the state store. */
  def dedupEvents(events: DataFrame,
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** STREAM-STATIC ENRICHMENT JOIN: each micro-batch of events joins a
    * static dimension (re-read per batch, broadcast when small) — the
    * canonical streaming-enrichment shape (user → tier/segment lookup
    * before aggregation). No state: stream-static inner joins need no
    * watermark, and the dim side never shuffles the stream. */
  def enrichWithDim(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"))

  /** STREAM-STREAM INTERVAL JOIN: left events matched to right events
    * of the SAME user whose event time falls in
    * `[left.ts, left.ts + horizon)` — the attribution-window shape
    * (click → purchase within 30 minutes) run incrementally. Both
    * sides are watermarked and the join condition is a RANGE on the two
    * event-time columns, which is exactly what lets Spark bound the
    * buffered state on both sides (left rows evict once the right
    * watermark passes left.ts + horizon; right rows once the left
    * watermark passes right.ts) — without the range bound a
    * stream-stream join buffers forever. Works identically on batch
    * frames (withWatermark is a no-op there), which is how the oracle
    * twin `st_interval_join` checks the REAL function. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String = "30 minutes",
                   watermark: String = "2 hours",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("left_id"),
        col("ts").as("left_ts"), col("value").as("left_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("right_user_id"),
        col("event_id").as("right_id"), col("ts").as("right_ts"),
        col("value").as("right_value"))
    l.join(r,
      col("user_id") === col("right_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") < col("left_ts") + expr(s"interval $horizon"),
      joinType)
      .drop("right_user_id")
  }

  /** LEFT OUTER stream-stream interval join — [[intervalJoin]] with the
    * unmatched-left semantics a funnel analysis needs ("clicks that
    * never converted"): a left row with no right match inside the
    * horizon emits with NULL right columns once the watermark passes
    * the end of its match window (Spark holds it in state exactly that
    * long — the same watermark bound that sizes the inner join's
    * state, so the outer variant adds latency, not unbounded state).
    * On batch frames `withWatermark` is a no-op and this is a plain
    * left join — the oracle-gate equivalence. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            horizon: String = "30 minutes",
                            watermark: String = "2 hours"): DataFrame =
    intervalJoin(left, right, horizon, watermark, "left_outer")

  /** STREAMING MERGE SINK — foreachBatch bridging to the batch
    * [[graft.operators.MergeUpsert]] discipline (SURVEY S5/I2): each
    * micro-batch upserts into the target by key, so re-delivered keys
    * update in place and new keys append. The target is an
    * [[graft.operators.AtomicTable]] (versioned dirs + commit markers,
    * version = batch id), which closes the two failure windows a raw
    * directory swap has:
    *
    *   - CRASH SAFETY: the merged batch is written to `v_<batchId>`
    *     first and becomes visible only when its marker is created; a
    *     crash at any point leaves the last committed version intact
    *     (the old delete-then-rename lost the whole table if the job
    *     died between the two, and a restarted query then silently
    *     rebuilt from one batch).
    *   - EFFECTIVELY-ONCE REPLAY: `AtomicTable.commit` is idempotent
    *     per version, so a batch replayed from the checkpoint after a
    *     post-commit crash is a no-op, and one replayed after a
    *     pre-marker crash re-merges against the last COMMITTED snapshot
    *     and simply overwrites its own orphan — the streaming batch id
    *     is exactly the commit protocol's version number.
    *   - LINEAGE BINDING: the target is bound to this query's
    *     checkpoint path (`AtomicTable.commit(writerId)`): pointing a
    *     NEW query (fresh checkpoint, batch ids restarting at 0) at an
    *     existing target fails fast instead of silently treating the
    *     restarted batch ids as already-committed replays and dropping
    *     their data — same reason Delta/Iceberg key streaming txn
    *     idempotency on (query id, batch id), not batch id alone.
    *
    * The merged plan reads the committed version's path while writing
    * the next version's path, so there is no read-own-input hazard and
    * no staging swap. All driver-side work is O(1) metadata; the merge
    * itself is a fully distributed plan. This is the parquet-native
    * equivalent of MERGE INTO a transactional table (Delta/Iceberg)
    * with the streaming batch id as the idempotent txn version.
    * Read the result with `AtomicTable.read(spark, targetPath)`.
    *
    * RETENTION for long-running streams: `retainVersions` is the
    * per-commit positional retention (default 2 = current + reader
    * grace, the batch default). A deployment retaining MORE versions
    * for time travel sets it higher and bounds the history by AGE
    * instead: every `vacuumEvery` batches the sink calls
    * [[graft.operators.AtomicTable.vacuum]] with `vacuumOlderThanMillis`
    * — O(#versions) driver metadata work amortized across batches,
    * safe against concurrent readers of retained versions (marker
    * deleted before data). With the defaults the vacuum is a no-op
    * (commit's own retention already keeps 2). Layout health: every
    * `compactEvery` batches the merged snapshot is coalesced to
    * ⌈bytes/`compactTargetFileBytes`⌉ files INSIDE the batch commit
    * (see the body comment for why a standalone compact commit is
    * forbidden under a streaming target). */
  def upsertSink(stream: DataFrame, targetPath: String,
                 keys: Seq[String],
                 checkpoint: String,
                 retainVersions: Int = 2,
                 vacuumEvery: Int = 0,
                 vacuumRetainLast: Int = 2,
                 vacuumOlderThanMillis: Option[Long] = None,
                 compactEvery: Int = 0,
                 compactTargetFileBytes: Long = 128L * 1024 * 1024)
      : DataStreamWriter[Row] = {
    import graft.operators.{AtomicTable, MergeUpsert}
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val target = AtomicTable.read(spark, targetPath)
          .getOrElse(batch.limit(0))
        val merged = MergeUpsert.upsert(target, batch, keys)
        // Layout health (OPTIMIZE): each merge commit otherwise lands
        // one file per shuffle partition. Because the merge output IS a
        // full snapshot rewrite, compaction here is just size-targeted
        // coalescing of THAT output inside the normal batch commit —
        // never a separate commit. (A standalone AtomicTable.compact
        // call between batches would claim version batchId+1, and the
        // next micro-batch's commit of the same version would be
        // treated as an already-committed replay and silently dropped —
        // the exact idempotency collision the writer-lineage guard
        // documents. Version numbers under a streaming target belong
        // to batch ids ALONE.) Size comes from the previous committed
        // version — a stable estimate one batch behind.
        val toCommit =
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
            AtomicTable.latestDataPath(spark, targetPath).map { p =>
              val bytes = new org.apache.hadoop.fs.Path(p)
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(new org.apache.hadoop.fs.Path(p))
                .getLength
              merged.coalesce(math.max(1, math.ceil(
                bytes.toDouble / compactTargetFileBytes).toInt))
            }.getOrElse(merged)
          else merged
        AtomicTable.commit(toCommit, targetPath, batchId,
          writerId = Some(checkpoint), retainVersions = retainVersions)
        if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1) {
          AtomicTable.vacuum(spark, targetPath, vacuumRetainLast,
            vacuumOlderThanMillis)
        }
        ()
      }
  }

  /** Streaming CRAWL IMAGE DEDUP sink — the multimodal twin of
    * [[upsertSink]]: each micro-batch of images (doc_id + binary
    * payload; `toImages(batch, bits)` is the codec/fetch boundary
    * mapping the raw micro-batch to that shape at the grid the chosen
    * width needs — 9×8 for 64-bit, 17×8 for 128-bit) is deduped
    * against the COMMITTED perceptual-hash index — band join for
    * candidates, indexed-hash Hamming verify for the decision — and
    * the kept images' band+hash rows are committed as version = batch
    * id under the checkpoint's writer lineage. A replayed batch after
    * a crash is therefore an idempotent already-committed no-op, and
    * committed index history is never lost; the per-batch plan is the
    * batch operator's own, fully distributed. Commits are DELTAS
    * (write ∝ micro-batch, never ∝ accumulated index — r17; this sink
    * commits every micro-batch, so it hit the full-rewrite cost
    * hardest), folded into a base every `compactEvery` deltas so
    * merged-read file counts stay bounded.
    *
    * WIDTH comes from [[graft.llm.PhashIndex]]'s width rules (r19; the
    * r18 weak mark: this sink hard-wired the 64-bit layout, whose
    * 16-bit band keys saturate at the measured 1.43@100× tail): an
    * existing index keeps its committed width; a fresh one takes the
    * image-ladder policy from `expectedIndexRows` — and the DEFAULT is the
    * scale-safe 128-bit layout, so a daily-crawl pipeline built on
    * defaults gets the non-saturating index. Pass the expected corpus
    * size to opt down to 64-bit below the 16,384-row crossover.
    *
    * PAYLOAD-GRID CONTRACT (r19 ADVICE): `toImages(batch, bits)` MUST
    * emit `(doc_id, payload)` rows whose payloads decode at the grid
    * the CHOSEN width hashes — 9×8 for 64-bit, 17×8 for 128-bit; the
    * default identity only suits payloads pre-sized for the width the
    * policy will pick (which on a FRESH dir is 128-bit — the old
    * "pre-sized 9×8 + defaults" contract now needs
    * `expectedIndexRows` ≤ the crossover to pin 64-bit). The FIRST
    * micro-batch of each run validates one decoded payload against
    * the chosen grid and fails with the policy decision named
    * ([[graft.llm.PhashIndex.validatePayloadGrid]]) instead of
    * dHash's executor-side `require`. */
  def phashDedupSink(stream: DataFrame, indexDir: String,
                     checkpoint: String,
                     toImages: (DataFrame, Int) => DataFrame = (b, _) => b,
                     expectedIndexRows: Long = Long.MaxValue,
                     compactEvery: Int = 16)
      : DataStreamWriter[Row] = {
    val validated = new java.util.concurrent.atomic.AtomicBoolean(false)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.llm.PhashIndex.processBatch(batch.sparkSession, indexDir,
          bits => {
            val imgs = toImages(batch, bits)
            if (validated.compareAndSet(false, true))
              graft.llm.PhashIndex.validatePayloadGrid(imgs, bits)
            imgs
          },
          expectedIndexRows = expectedIndexRows,
          version = Some(batchId),
          writerId = Some(checkpoint), compactEvery = compactEvery)
        ()
      }
  }

  /** TEXT sibling of [[phashDedupSink]] (r15 VERDICT stretch #8): each
    * micro-batch of (doc_id, text) rows runs the REAL
    * [[graft.llm.NearDupIndex.processBatch]] — MinHash-band the batch,
    * flag docs colliding with the committed index, append kept docs'
    * bands as a delta — committing at `version = batch id` under this
    * checkpoint's writer lineage, so a crash-replayed micro-batch is
    * an idempotent already-committed no-op and the committed index
    * after N micro-batches is BYTE-IDENTICAL to N sequential batch
    * calls (StreamingSpec pins both, plus restart-no-op). */
  def nearDupDedupSink(stream: DataFrame, indexDir: String,
                       checkpoint: String,
                       compactEvery: Int = 16): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.llm.NearDupIndex.processBatch(batch.sparkSession, indexDir,
          batch, col("doc_id"), col("text"),
          version = Some(batchId), writerId = Some(checkpoint),
          compactEvery = compactEvery)
        ()
      }

  /** Money → integer cents with SQL ROUND semantics (half away from
    * zero: -2.5 → -3), NOT Scala `math.round` (half toward +∞:
    * -2.5 → -2). The st_session_timers / w12_native_session oracles
    * round with SQL ROUND, so a negative-valued or wider-precision
    * events regeneration must not diverge on tie rows (r12 ADVICE). */
  private[streaming] def centsOf(v: Double): Long =
    math.signum(v).toLong * math.round(math.abs(v) * 100)

  final case class EventRow(event_id: Long, user_id: Long,
                            event_type: String, value: Double)
  final case class FirstSeen(user_id: Long, event_type: String,
                             first_event_id: Long, first_value: Double)
  final case class UserTotals(user_id: Long, n_events: Long,
                              value_cents: Long)

  /** Per-user RUNNING TOTALS via the Spark-4 `transformWithState` API
    * (the typed-state successor of flatMapGroupsWithState: named state
    * variables, TTL, timers): one `ValueState[UserTotals]` per user is
    * folded over each batch's rows and the new cumulative row re-emitted,
    * so an upsert sink always holds the latest (n_events, value_cents)
    * per user. Money accumulates in exact integer CENTS
    * (round(value·100) on 2dp inputs) — unbounded-stream state must
    * never carry float error. The fold is order-independent (count +
    * sum), so emitted rows don't depend on within-batch row order.
    *
    * Runtime contract: transformWithState requires the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`); state lives per shuffle
    * partition in the store — nothing driver-resident, and a 100 TB
    * keyspace shards with `spark.sql.shuffle.partitions` exactly like
    * the flatMapGroupsWithState path. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, UserTotals] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig,
      TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val prev =
        if (totals.exists()) totals.get() else UserTotals(user, 0L, 0L)
      var n = prev.n_events
      var cents = prev.value_cents
      rows.foreach { r => n += 1; cents += centsOf(r.value) }
      val cur = UserTotals(user, n, cents)
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** [[RunningTotalsProcessor]] wired over the events shape. */
  def runningTotals(events: DataFrame)
      : org.apache.spark.sql.Dataset[UserTotals] =
    perUserState(events, new RunningTotalsProcessor)

  /** `processor` over the events shape (event_id, user_id, event_type,
    * value), keyed by user, with no timers. */
  private def perUserState[T <: Product :
      scala.reflect.runtime.universe.TypeTag](events: DataFrame,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, T]): org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_id", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-(user, event_type) RUNNING COUNTS via transformWithState
    * MAP state — the composite-keyed variant of
    * [[RunningTotalsProcessor]]: one `MapState[String, Long]` per user
    * holds a tally per event type, so the per-user state is a real
    * keyed collection in the store (point lookups/updates on the
    * touched types only — the store never materializes a user's whole
    * map to update one entry, which is the reason MapState exists over
    * a ValueState[Map]). Emits the UPDATED tallies for exactly the
    * types the batch touched, in sorted-type order (deterministic
    * output independent of within-batch row order). */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode,
      TTLConfig, TimeMode, TimerValues}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val batch = rows.foldLeft(Map.empty[String, Long]) { (m, r) =>
        m + (r.event_type -> (m.getOrElse(r.event_type, 0L) + 1L))
      }
      batch.toSeq.sortBy(_._1).iterator.map { case (t, d) =>
        val n = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
        counts.updateValue(t, n)
        TypeCount(user, t, n)
      }
    }
  }

  /** [[TypeCountsProcessor]] wired over the events shape. */
  def typeCounts(events: DataFrame)
      : org.apache.spark.sql.Dataset[TypeCount] =
    perUserState(events, new TypeCountsProcessor)

  final case class RecentEvents(user_id: Long, recent_ids: Seq[Long])

  /** LAST-K events per user via transformWithState LIST state — the
    * third typed-state shape (ValueState: [[RunningTotalsProcessor]],
    * MapState: [[TypeCountsProcessor]]): a bounded recency buffer, the
    * "recent activity" feature a serving layer reads per user. The
    * buffer is truncated to `n` on every update, so per-user state is
    * O(n) forever — the property that keeps an unbounded stream's
    * store bounded without a watermark. Within-batch arrivals fold in
    * event_id order (order-independent under shuffled input). */
  class RecentEventsProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, RecentEvents] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode,
      TTLConfig, TimeMode, TimerValues}
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[RecentEvents] = {
      val incoming = rows.map(_.event_id).toSeq.sorted
      val cur = (recent.get().toSeq ++ incoming).takeRight(n)
      recent.put(cur.toArray)
      Iterator.single(RecentEvents(user, cur))
    }
  }

  /** [[RecentEventsProcessor]] wired over the events shape. */
  def recentEvents(events: DataFrame, n: Int = 3)
      : org.apache.spark.sql.Dataset[RecentEvents] =
    perUserState(events, new RecentEventsProcessor(n))

  final case class TimedEvent(event_id: Long, user_id: Long,
                              ts_us: Long, value: Double)
  final case class OpenSession(start_us: Long, end_us: Long,
                               n: Long, cents: Long)
  final case class ClosedSession(user_id: Long, session_start_us: Long,
                                 session_end_us: Long, n_events: Long,
                                 value_cents: Long)

  /** GAP SESSIONIZATION via transformWithState EVENT-TIME TIMERS — the
    * fourth and last piece of the typed-state API surface (ValueState:
    * [[RunningTotalsProcessor]], MapState: [[TypeCountsProcessor]],
    * ListState: [[RecentEventsProcessor]], timers: here). The open
    * session per user is a fixed-size ValueState aggregate
    * (start/end/count/cents — never the event list), and session CLOSE
    * is driven by the watermark: every batch (re)registers ONE timer at
    * `session_end + gap`; when the event-time watermark passes it,
    * [[handleExpiredTimer]] emits the closed session and clears state.
    * A session split INSIDE a batch (next event ≥ gap after the open
    * end) closes inline. This is how native `session_window` works
    * under the hood, re-built on the public typed-state API where the
    * session payload can be arbitrary (here: exact integer cents).
    *
    * Determinism: within-batch rows fold in (ts_us, event_id) order;
    * gap tests are exact integer MICROS (`ts_us` from `unix_micros`,
    * never ms-truncated Timestamps); money folds in integer cents.
    * Timer times are ms (the API's unit) — derived from `end_us` by the
    * same truncating division at registration and expiry, so the
    * stale-timer guard is exact. State per user is O(1); timers are one
    * per user; at 100 TB keyspace both shard with shuffle partitions in
    * the store like every other typed-state operator.
    *
    * Cross-batch caveat (same honesty as [[firstSeenByUser]]): an
    * out-of-order event arriving AFTER its session's timer fired starts
    * a new session rather than reopening the closed one — standard
    * watermark semantics; the watermark delay is the knob. */
  class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedEvent, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var open: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)
    private def timerMsOf(o: OpenSession): Long =
      o.end_us / 1000L + gapUs / 1000L
    private def closed(user: Long, o: OpenSession) =
      ClosedSession(user, o.start_us, o.end_us, o.n, o.cents)
    override def handleInputRows(user: Long, rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val sorted = rows.toSeq.sortBy(r => (r.ts_us, r.event_id))
      var cur = if (open.exists()) Some(open.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      sorted.foreach { r =>
        val cents = centsOf(r.value)
        cur match {
          case Some(o) if r.ts_us - o.end_us < gapUs =>
            cur = Some(OpenSession(o.start_us,
              math.max(o.end_us, r.ts_us), o.n + 1, o.cents + cents))
          case Some(o) => // gap inside the batch: close inline
            out += closed(user, o)
            cur = Some(OpenSession(r.ts_us, r.ts_us, 1L, cents))
          case None =>
            cur = Some(OpenSession(r.ts_us, r.ts_us, 1L, cents))
        }
      }
      cur.foreach { o =>
        open.update(o)
        // exactly one live timer per key: drop stale, arm end + gap
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerMsOf(o))
      }
      out.iterator
    }
    override def handleExpiredTimer(user: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      if (!open.exists()) return Iterator.empty
      val o = open.get()
      // stale-timer guard: only the timer armed for the CURRENT open
      // session may close it (same ms formula as registration)
      if (expiredTimerInfo.getExpiryTimeInMs < timerMsOf(o))
        return Iterator.empty
      open.clear()
      Iterator.single(closed(user, o))
    }
  }

  /** [[SessionTimerProcessor]] wired over the events shape: watermarked
    * event time, exact-micros fold input (`ts` itself stays in the
    * frame as the watermark column; `as[TimedEvent]` binds by name and
    * ignores it). `delay` is the out-of-order tolerance (watermark
    * lag); sessions close `gapUs` micros after their last event once
    * the watermark passes. */
  def timerSessions(events: DataFrame, gapUs: Long = 1800000000L,
                    delay: String = "0 seconds")
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withWatermark("ts", delay)
      .selectExpr("event_id", "user_id", "unix_micros(ts) AS ts_us",
        "value", "ts")
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** CUSTOM keyed state via flatMapGroupsWithState: the first
    * occurrence of each event_type per user (stateful streaming
    * distinct). Per-batch candidates are min-by-event_id folds — an
    * order-independent reduction, so the emitted rows don't depend on
    * iterator order within a micro-batch; state is the per-user map of
    * already-seen types. Batch twin: groupBy(user, type) min/min_by
    * (`st_stateful_first_seen`). State size is |users|×|types| —
    * bounded, store-resident, never driver-side.
    *
    * Cross-batch caveat (honest semantics): append emission means a
    * type first seen in batch N is final even if batch N+1 delivers an
    * out-of-order row with a smaller event_id — i.e. first-ARRIVAL
    * semantics. The single-batch file replay in tests matches the batch
    * twin exactly; a real deployment wanting first-EVENT-TIME would add
    * a watermark + event-time ordering before the state op. */
  def firstSeenByUser(events: DataFrame)
      : org.apache.spark.sql.Dataset[FirstSeen] = {
    import org.apache.spark.sql.streaming.{GroupState,
      GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_id", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Map[String, (Long, Double)], FirstSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EventRow],
         state: GroupState[Map[String, (Long, Double)]]) =>
          val seen = state.getOption.getOrElse(Map.empty)
          val batchMins = rows.foldLeft(
            Map.empty[String, (Long, Double)]) { (m, r) =>
            m.get(r.event_type) match {
              case Some((id, _)) if id <= r.event_id => m
              case _ => m + (r.event_type -> ((r.event_id, r.value)))
            }
          }
          val fresh = batchMins.filterNot { case (t, _) => seen.contains(t) }
          if (fresh.nonEmpty) state.update(seen ++ fresh)
          fresh.iterator.map { case (t, (id, v)) =>
            FirstSeen(user, t, id, v)
          }
      }
  }
}
