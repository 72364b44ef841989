package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  /** File-source streams need a directory; stage the single events file
    * into a temp dir once. */
  private lazy val eventsDir: String = {
    val dir = tempRoot("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("file-source stream: tumbling agg matches batch aggregation") {
    val stream = EventStream.readEvents(spark, eventsDir)
    assert(stream.isStreaming)
    val q = EventStream.toMemorySink(
      EventStream.tumblingAgg(stream), "tumbling_test", complete = true)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("tumbling_test")
      .select(sum("event_count")).head().getLong(0)
    val batch = Tables.events(spark, sf).count()
    assert(streamed == batch)
  }

  test("file-source stream: sliding agg matches batch windows, 2x overlap") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.toMemorySink(
      EventStream.slidingAgg(stream), "sliding_test", complete = true)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sliding_test")
      .select("window_start", "event_type", "event_count").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "30 minutes")("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    // duration/slide = 2: every event lands in exactly two windows
    val total = spark.table("sliding_test")
      .select(sum("event_count")).head().getLong(0)
    assert(total == 2 * Tables.events(spark, sf).count())
  }

  test("flatMapGroupsWithState first-seen matches the batch twin") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.firstSeenByUser(stream)
      .writeStream.format("memory").queryName("first_seen_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("first_seen_test")
      .select("user_id", "event_type", "first_event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == batch)
  }

  test("stream-stream interval join matches the batch twin") {
    val clicks = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
    val purchases = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
    val q = EventStream.intervalJoin(clicks, purchases)
      .writeStream.format("memory").queryName("interval_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("interval_test")
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.events(spark, sf)
    val batch = EventStream.intervalJoin(
      e.filter(col("event_type") === "click"),
      e.filter(col("event_type") === "purchase"))
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("left-outer interval join: matches = inner join, null-rights emit past watermark") {
    val clicks = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
    val purchases = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
    val q = EventStream.intervalJoinLeftOuter(clicks, purchases)
      .writeStream.format("memory").queryName("interval_outer_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("interval_outer_test")
      .select(col("left_id"), col("right_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val e = Tables.events(spark, sf)
    val batchOuter = EventStream.intervalJoinLeftOuter(
      e.filter(col("event_type") === "click"),
      e.filter(col("event_type") === "purchase"))
      .select(col("left_id"), col("right_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // matched rows identical to the batch twin; unmatched (None) rows
    // are the batch's unmatched set MINUS clicks the final watermark
    // hasn't released (max event ts - 2h) — so subset, and non-empty
    // because the corpus spans far more than the watermark delay.
    val sm = streamed.filter(_._2.isDefined).toSet
    val bm = batchOuter.filter(_._2.isDefined).toSet
    assert(sm == bm)
    val sNull = streamed.filter(_._2.isEmpty).map(_._1).toSet
    val bNull = batchOuter.filter(_._2.isEmpty).map(_._1).toSet
    assert(sNull.nonEmpty)
    assert(sNull.subsetOf(bNull))
  }

  test("writeShards: one ordered file per shard, lossless round trip") {
    import graft.llm.{TextAnalysis => TA}
    import spark.implicits._
    val docs = (1L to 500L).toList.toDF("doc_id")
    val shuffled = TA.corpusShuffle(docs, col("doc_id"), "sh1", nShards = 4)
    val out = tempRoot("shards").toString
    TA.writeShards(shuffled, out)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 4)
    shardDirs.foreach { sd =>
      assert(sd.listFiles().count(_.getName.endsWith(".parquet")) == 1)
      val pos = spark.read.parquet(sd.toString)
        .select("position").collect().map(_.getLong(0)).toSeq
      assert(pos == pos.sorted && pos.head == 0L) // file order = positions
    }
    val roundTrip = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(roundTrip == (1L to 500L).toSet)
  }

  test("streaming dedup collapses redelivered events to one row each") {
    // Simulate at-least-once redelivery: the same events file staged
    // twice in the source dir; dropDuplicatesWithinWatermark must emit
    // each event_id exactly once.
    val dir = tempRoot("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_b.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.toMemorySink(
      EventStream.dedupEvents(stream), "dedup_test", complete = false)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_test")
    assert(streamed.count() == Tables.events(spark, sf).count())
    assert(streamed.select("event_id").distinct().count() ==
      streamed.count())
  }

  test("batch-twin dedup keeps both payloads of a same-id redelivery") {
    // The st_stream_dedup oracle is SELECT DISTINCT over the full row —
    // a same-event_id redelivery with a DIFFERENT payload is two
    // distinct rows and both must survive. Key-only dedup would drop
    // one arbitrarily (the bug fixed in r07): run the REGISTERED query
    // on a perturbed source and check full-row semantics.
    import spark.implicits._
    val dir = tempRoot("events_perturb")
    Seq(
      (1L, 10L, "click", 1.5, 1700000000000000L),
      (1L, 10L, "click", 9.9, 1700000000000000L), // same id, new payload
      (2L, 11L, "view", 2.0, 1700000001000000L))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.queries.StreamingQueries.stStreamDedup
      .build(spark, dir.toString)
      .select("event_id", "value").as[(Long, Double)]
      .collect().toSeq.sorted // sort-key ties (same id) break arbitrarily
    assert(got == Seq((1L, 1.5), (1L, 9.9), (2L, 2.0)),
      "both payload variants of event 1 must survive full-row dedup")
  }

  test("stream-static enrichment join matches the batch rollup") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val batchEvents = Tables.events(spark, sf)
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("user_tier", col("user_id") % 5)
    val agg = EventStream.enrichWithDim(stream, dim)
      .groupBy(col("user_tier"))
      .agg(count(lit(1)).as("event_count"))
    val q = EventStream.toMemorySink(agg, "enrich_test", complete = true)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_test")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = batchEvents.join(dim, Seq("user_id"))
      .groupBy(col("user_tier")).agg(count(lit(1)).as("event_count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("foreachBatch upsert sink: incoming wins, strays survive, resumable") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", TimestampType), StructField("v", StringType)))
    val srcDir = tempRoot("upsert_src")
    val target = tempRoot("upsert_tgt")
      .resolve("t").toString
    val ckpt = tempRoot("upsert_ckpt")
      .toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempRoot("upsert_stage")
      import spark.implicits._
      rows.toDF("k", "v")
        .select(col("k"), current_timestamp().as("ts"), col("v"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .parquet(srcDir.toString)
      val q = EventStream.upsertSink(stream.select("k", "v"), target,
        Seq("k"), ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("f1.parquet", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    runOnce()
    stage("f2.parquet", Seq((2L, "B2"), (4L, "d")))
    runOnce() // resumes from checkpoint: only f2 is a new file
    val got = graft.operators.AtomicTable.read(spark, target).get
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
  }

  test("transformWithState running totals: typed state accumulates across restarts") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val srcDir = tempRoot("tws_src")
    val ckpt = tempRoot("tws_ckpt").toString
    def stage(name: String,
              rows: Seq[(Long, Long, String, Double)]): Unit = {
      val tmp = tempRoot("tws_stage")
      import spark.implicits._
      rows.toDF("event_id", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    // transformWithState requires the RocksDB provider; scope it to
    // this test so the rest of the suite keeps the default store.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      // memory sinks can't recover from a checkpoint; collect each
      // run's emissions through a foreachBatch driver-side buffer
      // (the resumable-sink shape upsertSink uses)
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      def runOnce(): Map[Long, (Long, Long)] = {
        got.clear()
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir.toString)
        val q = EventStream.runningTotals(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        // latest emission per user (one per batch the user appeared in)
        got.groupBy(_._1).map { case (u, rs) =>
          u -> rs.map(t => (t._2, t._3)).maxBy(_._1) }.toMap
      }
      stage("f1.parquet", Seq((1L, 10L, "view", 1.25),
        (2L, 10L, "click", 2.50), (3L, 20L, "view", 3.00)))
      assert(runOnce() == Map(10L -> ((2L, 375L)), 20L -> ((1L, 300L))))
      stage("f2.parquet", Seq((4L, 10L, "purchase", 0.75),
        (5L, 30L, "view", 1.00)))
      // resumed from checkpoint: only f2 is new; user 10's state carries
      assert(runOnce() == Map(10L -> ((3L, 450L)), 30L -> ((1L, 100L))))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("contract evolution across checkpoints: state survives an INT->BIGINT widening") {
    import org.apache.spark.sql.types._
    import graft.quality.SchemaContract
    // the consumer contract the typed processor needs (EventRow shape)
    val contract = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val srcDir = tempRoot("twse_src")
    val ckpt = tempRoot("twse_ckpt").toString
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = tempRoot("twse_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      // v1 producer: NARROWER physical types (event_id/user_id INT,
      // value FLOAT) — a legal pre-widening producer under the contract
      val v1 = Seq((1, 10, "view", 1.25f), (2, 10, "click", 2.50f),
        (3, 20, "view", 3.00f))
        .toDF("event_id", "user_id", "event_type", "value")
      stage("f1.parquet", v1)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      // Each run reads with ITS producer's physical schema and ALIGNS to
      // the contract before the typed processor — so the post-align
      // schema (and the processor's state encoding) is identical across
      // producer versions, and the checkpointed state carries through
      // the widening. The pre-resume gate is SchemaContract.check.
      def runOnce(fileSchema: StructType): Map[Long, (Long, Long)] = {
        assert(SchemaContract.check(contract, fileSchema).isEmpty,
          "gate must pass before resuming")
        got.clear()
        val stream = SchemaContract.align(
          spark.readStream.schema(fileSchema).parquet(srcDir.toString),
          contract)
        val q = EventStream.runningTotals(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        got.groupBy(_._1).map { case (u, rs) =>
          u -> rs.map(t => (t._2, t._3)).maxBy(_._1) }.toMap
      }
      assert(runOnce(v1.schema) ==
        Map(10L -> ((2L, 375L)), 20L -> ((1L, 300L))))
      // v2 producer WIDENS to the contract types and ADDS a column —
      // compatible evolution; resume from the same checkpoint
      val v2 = Seq((4L, 10L, "purchase", 0.75, "eu"),
        (5L, 30L, "view", 1.00, "us"))
        .toDF("event_id", "user_id", "event_type", "value", "region")
      stage("f2.parquet", v2)
      // user 10's state carries across the widening: 2 events + cents
      // from the v1 run fold into the v2 totals
      assert(runOnce(v2.schema) ==
        Map(10L -> ((3L, 450L)), 30L -> ((1L, 100L))))
      // v3 producer RETYPES value to STRING — incompatible: the gate
      // refuses before the query resumes (state is never touched)
      val v3 = Seq((6L, 10L, "view", "oops"))
        .toDF("event_id", "user_id", "event_type", "value")
      val vios = SchemaContract.check(contract, v3.schema)
      assert(vios.exists(v => v.column == "value" &&
        v.kind == "incompatible"))
      assert(intercept[IllegalArgumentException](
        SchemaContract.align(v3, contract))
        .getMessage.contains("value"))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("transformWithState MapState: per-type tallies accumulate, only touched types emit") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val srcDir = tempRoot("twsm_src")
    val ckpt = tempRoot("twsm_ckpt").toString
    def stage(name: String,
              rows: Seq[(Long, Long, String, Double)]): Unit = {
      val tmp = tempRoot("twsm_stage")
      import spark.implicits._
      rows.toDF("event_id", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Long)]
      def runOnce(): Set[(Long, String, Long)] = {
        got.clear()
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir.toString)
        val q = EventStream.typeCounts(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect()
                .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        got.toSet
      }
      stage("f1.parquet", Seq((1L, 10L, "view", 0.0),
        (2L, 10L, "view", 0.0), (3L, 10L, "click", 0.0),
        (4L, 20L, "view", 0.0)))
      assert(runOnce() == Set((10L, "click", 1L), (10L, "view", 2L),
        (20L, "view", 1L)))
      // second batch: user 10's view tally carries; click untouched -> no emit
      stage("f2.parquet", Seq((5L, 10L, "view", 0.0),
        (6L, 20L, "purchase", 0.0)))
      assert(runOnce() == Set((10L, "view", 3L), (20L, "purchase", 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("transformWithState ListState: last-k buffer stays bounded across batches") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val srcDir = tempRoot("twsl_src")
    val ckpt = tempRoot("twsl_ckpt").toString
    def stage(name: String,
              rows: Seq[(Long, Long, String, Double)]): Unit = {
      val tmp = tempRoot("twsl_stage")
      import spark.implicits._
      rows.toDF("event_id", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Seq[Long])]
      def runOnce(): Map[Long, Seq[Long]] = {
        got.clear()
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir.toString)
        val q = EventStream.recentEvents(stream, n = 3).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect()
                .map(r => (r.getLong(0), r.getSeq[Long](1)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        got.toMap
      }
      stage("f1.parquet", Seq((3L, 10L, "view", 0.0),
        (1L, 10L, "view", 0.0), (2L, 10L, "click", 0.0),
        (4L, 10L, "view", 0.0), (7L, 20L, "view", 0.0)))
      // 4 arrivals fold in id order, buffer keeps the newest 3
      assert(runOnce() == Map(10L -> Seq(2L, 3L, 4L), 20L -> Seq(7L)))
      stage("f2.parquet", Seq((5L, 10L, "view", 0.0)))
      assert(runOnce() == Map(10L -> Seq(3L, 4L, 5L)))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("transformWithState timers: sessions close on watermark, split inline on gap") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val srcDir = tempRoot("twst_src")
    val ckpt = tempRoot("twst_ckpt").toString
    val t0us = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    def ts(offsetUs: Long) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        (t0us + offsetUs) / 1000000L, ((t0us + offsetUs) % 1000000L) * 1000L))
    def stage(name: String,
              rows: Seq[(Long, Long, java.sql.Timestamp, Double)]): Unit = {
      val tmp = tempRoot("twst_stage")
      import spark.implicits._
      rows.toDF("event_id", "user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)]
      def runOnce(): Set[(Long, Long, Long, Long, Long)] = {
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir.toString)
        val q = EventStream.timerSessions(stream).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized {
              got ++= df.collect().map(r => (r.getLong(0), r.getLong(1),
                r.getLong(2), r.getLong(3), r.getLong(4)))
            }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        got.toSet
      }
      val min = 60000000L // one minute in micros
      stage("f1.parquet", Seq(
        (1L, 10L, ts(0), 1.25), (2L, 10L, ts(10 * min), 2.50),
        (3L, 20L, ts(0), 3.00)))
      // watermark after batch 1 = t0+10min; both timers (end+30min) are
      // still ahead of it — nothing closes yet
      assert(runOnce() == Set.empty)
      // e4 is 35min after user 10's open end -> inline split; the
      // sentinel user advances the watermark 2 days -> remaining timers
      // fire; the sentinel's own session stays open (timer beyond wm)
      stage("f2.parquet", Seq(
        (4L, 10L, ts(45 * min), 0.75),
        (5L, 99L, ts(2L * 86400L * 1000000L), 0.0)))
      assert(runOnce() == Set(
        (10L, t0us, t0us + 10 * min, 2L, 375L),
        (10L, t0us + 45 * min, t0us + 45 * min, 1L, 75L),
        (20L, t0us, t0us, 1L, 300L)))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("streaming image dedup sink: committed phash index matches the batch chain") {
    import org.apache.spark.sql.types._
    import graft.llm.{Multimodal, PhashIndex}
    val schema = StructType(Seq(StructField("doc_id", LongType)))
    val srcDir = tempRoot("ph_src")
    val sIdx = tempRoot("ph_sidx")
      .resolve("t").toString
    val bIdx = tempRoot("ph_bidx")
      .resolve("t").toString
    val ckpt = tempRoot("ph_ckpt").toString
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = tempRoot("ph_stage")
      import spark.implicits._
      ids.toDF("doc_id").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    // the codec boundary resizes to whichever grid the POLICY width
    // needs — the sink passes the chosen bits through
    val toImages = (b: org.apache.spark.sql.DataFrame, bits: Int) =>
      if (bits == 64) Multimodal.asPhashImageTable(b)
      else Multimodal.asPhash128ImageTable(b)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      // expectedIndexRows below the 16,384 crossover -> policy picks 64
      val q = EventStream.phashDedupSink(stream, sIdx, ckpt,
        toImages = toImages, expectedIndexRows = 100L).start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("b1.parquet", Seq(0L, 1L, 2L, 3L))
    runOnce()
    stage("b2.parquet", Seq(4L, 0L, 100L)) // copy-of-1, re-crawl, fresh
    runOnce() // resumes from checkpoint: only b2 is new
    // batch twin over the same two batches
    def imgs(ids: Seq[Long]) = {
      import spark.implicits._
      Multimodal.asPhashImageTable(ids.toDF("doc_id"))
    }
    PhashIndex.processBatch(spark, bIdx, _ => imgs(Seq(0L, 1L, 2L, 3L)),
      Some(64))
    PhashIndex.processBatch(spark, bIdx, _ => imgs(Seq(4L, 0L, 100L)),
      Some(64))
    def snap(dir: String) = PhashIndex.load(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(snap(sIdx) == snap(bIdx))
    assert(snap(sIdx).nonEmpty)
    // restart with no new data: replay is a no-op, index unchanged
    val before = snap(sIdx)
    runOnce()
    assert(snap(sIdx) == before)
    // DEFAULT-width arm (r19, the weak-mark closure): a fresh sink with
    // no expected size commits the scale-safe 128-bit layout and
    // matches the 128-bit PhashIndex batch twin
    val sIdx2 = tempRoot("ph_sidx2")
      .resolve("t").toString
    val bIdx2 = tempRoot("ph_bidx2")
      .resolve("t").toString
    val ckpt2 = tempRoot("ph_ckpt2").toString
    def runOnce2(): Unit = {
      val stream2 = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q2 = EventStream.phashDedupSink(stream2, sIdx2, ckpt2,
        toImages = toImages).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    runOnce2() // fresh checkpoint reads b1 ∪ b2 as its opening batch(es)
    def imgs128(ids: Seq[Long]) = {
      import spark.implicits._
      Multimodal.asPhash128ImageTable(ids.toDF("doc_id"))
    }
    // twin replays the SAME batch split the source produced (one file
    // per micro-batch or one combined batch both commit through the
    // idempotent chain; replay the actual committed versions)
    val nVersions = graft.operators.AtomicTable
      .committedVersions(spark, sIdx2).size
    if (nVersions == 1)
      PhashIndex.processBatch(spark, bIdx2,
        _ => imgs128(Seq(0L, 1L, 2L, 3L, 4L, 100L)), Some(128))
    else {
      PhashIndex.processBatch(spark, bIdx2,
        _ => imgs128(Seq(0L, 1L, 2L, 3L)), Some(128))
      PhashIndex.processBatch(spark, bIdx2,
        _ => imgs128(Seq(4L, 0L, 100L)), Some(128))
    }
    assert(PhashIndex.committedWidth(spark, sIdx2).contains(128))
    def snap128(dir: String) = PhashIndex.load(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(snap128(sIdx2) == snap128(bIdx2))
    assert(snap128(sIdx2).nonEmpty)
  }

  test("streaming text dedup sink: committed near-dup index matches the batch chain") {
    import org.apache.spark.sql.types._
    import graft.llm.NearDupIndex
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val srcDir = tempRoot("nd_src")
    val sIdx = tempRoot("nd_sidx")
      .resolve("t").toString
    val bIdx = tempRoot("nd_bidx")
      .resolve("t").toString
    val ckpt = tempRoot("nd_ckpt").toString
    def doc(i: Long): (Long, String) =
      (i, s"alpha beta gamma delta epsilon zeta variant$i tail words")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempRoot("nd_stage")
      import spark.implicits._
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = EventStream.nearDupDedupSink(stream, sIdx, ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    val b1 = Seq(doc(1), doc(2), doc(3))
    val b2 = Seq(doc(1), doc(4)) // near-dup of batch-1 doc + fresh
    stage("b1.parquet", b1)
    runOnce()
    stage("b2.parquet", b2)
    runOnce() // resumes from checkpoint: only b2 is new
    // batch twin over the same two batches
    def run(rows: Seq[(Long, String)]): Unit = {
      import spark.implicits._
      NearDupIndex.processBatch(spark, bIdx, rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      ()
    }
    run(b1); run(b2)
    def snap(dir: String) = NearDupIndex.load(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(snap(sIdx) == snap(bIdx))
    assert(snap(sIdx).nonEmpty)
    // restart with no new data: replay is a no-op, index unchanged
    val before = snap(sIdx)
    runOnce()
    assert(snap(sIdx) == before)
  }

  test("upsert sink crash window: orphan uncommitted version loses no history") {
    import graft.operators.AtomicTable
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val srcDir = tempRoot("crash_src")
    val target = tempRoot("crash_tgt")
      .resolve("t").toString
    val ckpt = tempRoot("crash_ckpt")
      .toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempRoot("crash_stage")
      import spark.implicits._
      rows.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      val q = EventStream.upsertSink(stream, target, Seq("k"), ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // Batch 0 commits v_0 = {1,2,3}.
    stage("f1.parquet", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    runOnce()
    // Simulate the crash window for batch 1: data written to v_1, job
    // dies BEFORE the marker (the exact window where the old
    // delete-then-rename sink lost the table). The checkpoint has not
    // recorded batch 1 either, so on restart batch 1 replays.
    import spark.implicits._
    Seq((99L, "torn-write-garbage")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$target/v_1")
    // Readers between crash and restart still see the committed v_0.
    assert(AtomicTable.read(spark, target).get.count() == 3)
    assert(AtomicTable.committedVersions(spark, target) == Seq(0L))
    // Restart: batch 1 replays f2, merges against committed v_0, and
    // overwrites the orphan. Previously merged keys MUST survive.
    stage("f2.parquet", Seq((2L, "B2"), (4L, "d")))
    runOnce()
    val got = AtomicTable.read(spark, target).get.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // The garbage orphan never leaked into the committed result.
    assert(!got.exists(_._1 == 99L))
  }

  test("upsert sink with deep retention: periodic age vacuum bounds history") {
    import graft.operators.AtomicTable
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val srcDir = tempRoot("vac_src")
    val target = tempRoot("vac_tgt")
      .resolve("t").toString
    val ckpt = tempRoot("vac_ckpt").toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempRoot("vac_stage")
      import spark.implicits._
      rows.toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      // time-travel-deep positional retention; history bounded by AGE
      // (0 ms = everything beyond vacuumRetainLast) every 2nd batch
      val q = EventStream.upsertSink(stream, target, Seq("k"), ckpt,
        retainVersions = 10, vacuumEvery = 2, vacuumRetainLast = 2,
        vacuumOlderThanMillis = Some(0L),
        compactEvery = 2, compactTargetFileBytes = 1L << 30).start()
      try q.processAllAvailable() finally q.stop()
    }
    (0 until 4).foreach { i =>
      stage(s"f$i.parquet", Seq((i.toLong, s"v$i")))
      runOnce()
    }
    // batches 0-3 committed; vacuums after batches 1 and 3 pruned the
    // aged-out history down to the retained pair
    assert(AtomicTable.committedVersions(spark, target) == Seq(2L, 3L))
    // in-commit compaction (compactEvery=2): the size-targeted batches
    // landed exactly one file — and version numbers stayed == batch ids
    // (a standalone compact commit would have collided with batch ids)
    assert(new java.io.File(s"$target/v_3").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // merged data is complete across all batches
    val got = AtomicTable.read(spark, target).get.orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L, 3L))
    // the previous version remains readable (reader grace / time travel)
    assert(AtomicTable.readVersion(spark, target, 2L).get.count() == 3)
  }

  test("session windows produce bounded per-user sessions") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.toMemorySink(
      EventStream.sessionAgg(stream), "session_test", complete = true)
      .start()
    try q.processAllAvailable() finally q.stop()
    val sessions = spark.table("session_test")
    val total = sessions.select(sum("event_count")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
    // session bounds ordered, no zero-length user ids lost
    assert(sessions.filter(col("session_end") < col("session_start"))
      .count() == 0)
  }

  test("withStateStore restores provider and shuffle partitions after a throwing body") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val partKey = "spark.sql.shuffle.partitions"
    def explicit(k: String) = spark.conf.getAll.get(k)
    val before = (explicit(provKey), explicit(partKey))
    def throwing(): Unit = intercept[IllegalStateException] {
      EventStream.withStateStore(spark) {
        assert(explicit(provKey).exists(_.endsWith("RocksDBStateStoreProvider")))
        assert(explicit(partKey) ==
          Some(EventStream.statePartitions(spark).toString))
        throw new IllegalStateException("body failed")
      }
    }
    try {
      // provider unset before: unset again, not pinned to its default
      spark.conf.unset(provKey)
      spark.conf.set(partKey, "3")
      throwing()
      assert(explicit(provKey) == None)
      assert(explicit(partKey) == Some("3"))
      // provider set before: that value comes back
      spark.conf.set(provKey, "custom.Provider")
      throwing()
      assert(explicit(provKey) == Some("custom.Provider"))
      assert(explicit(partKey) == Some("3"))
    } finally {
      before._1.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
      before._2.fold(spark.conf.unset(partKey))(spark.conf.set(partKey, _))
    }
  }
}
