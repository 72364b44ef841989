package graft

import org.apache.spark.sql.functions._
import graft.operators.{MergeUpsert, SaltedJoin}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join and salted aggregate match their unsalted twins") {
    import org.apache.spark.sql.functions._
    // 90% of fact rows carry one hot key
    val fact = (1L to 10000L)
      .map(i => (i, if (i % 10 == 0) s"k${i % 50}" else "HOT", i * 1.5))
      .toDF("row_id", "k", "v")
    val dim = (Seq("HOT") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, s"dim$i") }.toDF("k", "dv")
    val plain = fact.join(dim, Seq("k")).select("row_id", "k", "dv")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    val salted = SaltedJoin
      .saltedEquiJoin(fact, dim, "k", salts = 8, saltBy = col("row_id"))
      .select("row_id", "k", "dv")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(salted == plain)
    val plainAgg = fact.groupBy("k").agg(sum("v").as("total"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedAgg = SaltedJoin
      .saltedSumByKey(fact, "k", col("v"), salts = 8,
        saltBy = col("row_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(saltedAgg.keySet == plainAgg.keySet)
    saltedAgg.foreach { case (k, v) =>
      assert(math.abs(v - plainAgg(k)) < 1e-6, k)
    }
  }

  test("skew audit flags heavy keys with exact ppm shares") {
    import org.apache.spark.sql.functions._
    // 100 rows: 60 HOT, 30 warm, 10 spread over k0..k9
    val df = ((1 to 60).map(_ => "HOT") ++ (1 to 30).map(_ => "warm") ++
      (0 until 10).map(i => s"k$i")).toDF("k")
    val got = graft.operators.SkewAudit
      .topKeys(df, col("k"), k = 3, heavyNum = 1, heavyDen = 4)
      .select("key", "cnt", "share_ppm", "is_heavy")
      .as[(String, Long, Long, Boolean)].collect()
    assert(got(0) == ("HOT", 60L, 600000L, true))
    assert(got(1) == ("warm", 30L, 300000L, true))
    assert(got(2)._2 == 1L && !got(2)._4) // a k* singleton, 1% < 25%
    assert(got(2)._1 == "k0")             // count-tie broken by key asc
  }

  test("salted join: left outer preserves unmatched fact rows exactly once") {
    val fact = Seq((1L, "HOT"), (2L, "HOT"), (3L, "orphan"))
      .toDF("row_id", "k")
    val dim = Seq(("HOT", "d0")).toDF("k", "dv")
    val got = SaltedJoin
      .saltedEquiJoin(fact, dim, "k", salts = 4, saltBy = col("row_id"),
        joinType = "left")
      .select("row_id", "k", "dv")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, "HOT", "d0"), (2L, "HOT", "d0"),
      (3L, "orphan", null)))
  }

  test("salted join rejects dim-preserving join types") {
    val fact = Seq((1L, "a")).toDF("row_id", "k")
    val dim = Seq(("a", "d")).toDF("k", "dv")
    for (jt <- Seq("right", "full", "full_outer", "right_outer")) {
      val e = intercept[IllegalArgumentException] {
        SaltedJoin.saltedEquiJoin(fact, dim, "k", salts = 4,
          saltBy = col("row_id"), joinType = jt)
      }
      assert(e.getMessage.contains("fact-preserving"), jt)
    }
  }

  test("partitioned table write: month filter lands in PartitionFilters") {
    val root = tempRoot("cat_part").toString
    val cat = new graft.ref.Catalog(spark, root)
    val df = Seq(
      (1L, "2024-01", 10.0), (2L, "2024-01", 20.0), (3L, "2024-02", 30.0))
      .toDF("id", "order_month", "amount")
    cat.saveTablePartitioned("mart", "part_demo", df, Seq("order_month"))
    // a second commit of the same frame: two version dirs on disk, so a
    // read of the table root would double-count
    cat.saveTablePartitioned("mart", "part_demo", df, Seq("order_month"))
    val read = cat.load("mart", "part_demo")
      .filter(col("order_month") === "2024-01")
    assert(read.count() == 2)
    val scan = read.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("order_month"),
      s"expected partition pruning on order_month, plan line: $pf")
    // the partition dir layout is the hive convention, under the
    // committed version dir of the atomic table
    val dataDir = graft.operators.AtomicTable
      .latestDataPath(spark, s"$root/mart/part_demo").get
    assert(new java.io.File(s"$dataDir/order_month=2024-02").exists())
  }

  test("bucketed join: co-bucketed tables join with zero Exchanges") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = tempRoot("bucket_join")
    val orders = (1L to 400L).map(k => (k, s"s${k % 3}"))
      .toDF("o_orderkey", "o_orderstatus")
    val lineitem = (1L to 1200L).map(i => (i % 400 + 1, i * 0.5))
      .toDF("l_orderkey", "rev")
    // the j20 layout: bucketBy + sortBy on the join key
    def commitBucketed(df: DataFrame, key: String, name: String): Unit =
      df.write.mode("overwrite").bucketBy(4, key).sortBy(key)
        .option("path", s"$dir/$name").saveAsTable(name)
    commitBucketed(orders, "o_orderkey", "spec_orders_b")
    commitBucketed(lineitem, "l_orderkey", "spec_lineitem_b")
    orders.write.parquet(s"$dir/orders_plain")
    lineitem.write.parquet(s"$dir/lineitem_plain")
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(l: DataFrame, r: DataFrame): Int = {
      val joined = l.join(r, col("o_orderkey") === col("l_orderkey"))
      assert(joined.collect().length == 1200)
      helper.collect(joined.queryExecution.executedPlan) {
        case e: Exchange => e }.size
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // a broadcast join needs no Exchange either
    try {
      val bucketed = exchanges(spark.table("spec_orders_b"),
        spark.table("spec_lineitem_b"))
      val plain = exchanges(spark.read.parquet(s"$dir/orders_plain"),
        spark.read.parquet(s"$dir/lineitem_plain"))
      assert(bucketed == 0 && bucketed < plain,
        s"bucketed join exchanges=$bucketed, plain parquet=$plain")
    } finally {
      spark.conf.set(key, prev)
      spark.sql("DROP TABLE IF EXISTS spec_orders_b")
      spark.sql("DROP TABLE IF EXISTS spec_lineitem_b")
      graft.queries.Q.deleteRecursively(dir)
    }
  }

  test("compact: rewrites the latest snapshot with fewer files, same rows") {
    import graft.operators.AtomicTable
    val dir = tempRoot("compact_spec")
      .resolve("t").toString
    val df = (0L until 1000L).toDF("v").repartition(16)
    AtomicTable.commit(df, dir, 0L)
    def parquetFiles(version: Long): Int =
      new java.io.File(s"$dir/v_$version").listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(0L) == 16, "fragmented starting layout")
    val newV = AtomicTable.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(newV.contains(1L))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L, 1L),
      "previous snapshot retained as the reader grace window")
    assert(parquetFiles(1L) == 1, "one file at a huge byte target")
    val got = AtomicTable.read(spark, dir).get.orderBy("v")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 1000L))
    // empty/uncommitted table → no-op
    assert(AtomicTable.compact(spark, s"$dir-nope").isEmpty)
  }

  test("upsert: incoming wins on key collision, both sides' strays survive") {
    val existing = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val incoming = Seq((2, "new2"), (4, "new4")).toDF("k", "v")
    val got = MergeUpsert.upsert(existing, incoming, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "old1"), (2, "new2"), (3, "old3"),
      (4, "new4")))
  }

  test("incrementalNewRows: strictly newer than target watermark") {
    val target = Seq(("2024-01-01"), ("2024-01-05")).toDF("d")
      .select($"d".cast("date"))
    val incoming = Seq("2024-01-05", "2024-01-06", "2024-01-07").toDF("d")
      .select($"d".cast("date"))
    val got = MergeUpsert.incrementalNewRows(target, "d", incoming)
      .orderBy("d").collect().map(_.getDate(0).toString)
    assert(got.toSeq == Seq("2024-01-06", "2024-01-07"))
  }

  test("assertSameSchema fails on drift, passes on match") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((2, "y")).toDF("k", "v")
    MergeUpsert.assertSameSchema(a, b)
    val c = Seq((1, 2.0)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      MergeUpsert.assertSameSchema(a, c)
    }
  }

  test("Catalog.saveTable is atomic: a reader mid-overwrite sees the old version, never a torn table") {
    import graft.operators.AtomicTable
    val root = tempRoot("cat_atomic").toString
    val cat = new graft.ref.Catalog(spark, root)
    cat.saveTable("mart", "t", Seq((1L, "night-1")).toDF("k", "v"))
    // An in-flight dashboard reader resolves the committed version BEFORE
    // the nightly rebuild starts...
    val inFlight = cat.load("mart", "t")
    // ...the rebuild commits the next version...
    cat.saveTable("mart", "t", Seq((1L, "night-2"), (2L, "new")).toDF("k", "v"))
    // ...and the in-flight plan still reads its own (retained) version —
    // the old overwrite-in-place deleted the files under it.
    assert(inFlight.collect().map(_.getString(1)).toSeq == Seq("night-1"))
    // New readers resolve the new version.
    assert(cat.load("mart", "t").count() == 2)
    assert(AtomicTable.committedVersions(spark, s"$root/mart/t")
      == Seq(0L, 1L))
    // A third rebuild prunes the grace version; the two newest remain.
    cat.saveTable("mart", "t", Seq((3L, "night-3")).toDF("k", "v"))
    assert(AtomicTable.committedVersions(spark, s"$root/mart/t")
      == Seq(1L, 2L))
    assert(cat.exists("mart", "t"))
    assert(!cat.exists("mart", "never_written"))
  }

  test("Catalog: legacy plain-parquet dirs load and exist; orphan version dirs do neither") {
    val root = tempRoot("cat_legacy").toString
    val cat = new graft.ref.Catalog(spark, root)
    // pre-atomic layout: parquet files directly under the table path
    Seq((1L, "legacy")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/mart/old_table")
    assert(cat.exists("mart", "old_table"))
    assert(cat.load("mart", "old_table").collect()
      .map(_.getString(1)).toSeq == Seq("legacy"))
    // a crashed writer's orphan version dir (data, no commit marker)
    // is neither loadable-as-committed nor "existing"
    Seq((9L, "orphan")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/mart/torn/v_0")
    assert(!cat.exists("mart", "torn"))
  }

  test("AtomicTable: a second writer lineage fails fast, never silently drops") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_writer")
      .resolve("t").toString
    val df = Seq((1L, "a")).toDF("k", "v")
    AtomicTable.commit(df, dir, 0L, writerId = Some("ckpt-A"))
    // Same lineage replaying its batch id: idempotent no-op, no error.
    AtomicTable.commit(Seq((9L, "z")).toDF("k", "v"), dir, 0L,
      writerId = Some("ckpt-A"))
    assert(AtomicTable.read(spark, dir).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    // A NEW query (fresh checkpoint, batch ids restart at 0) must not
    // have its batch treated as an already-committed replay.
    intercept[IllegalStateException] {
      AtomicTable.commit(Seq((2L, "b")).toDF("k", "v"), dir, 0L,
        writerId = Some("ckpt-B"))
    }
    // The original lineage continues normally.
    AtomicTable.commit(Seq((2L, "b")).toDF("k", "v"), dir, 1L,
      writerId = Some("ckpt-A"))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L, 1L))
  }

  test("AtomicTable: pruning keeps the two highest committed versions by position") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_prune")
      .resolve("t").toString
    def df(n: Long) = Seq((n, s"v$n")).toDF("k", "v")
    AtomicTable.commit(df(0), dir, 0L)
    // Non-contiguous jump (e.g. manual commits interleaved with
    // nextVersion): v_0 is still the immediately-previous committed
    // snapshot and must survive as the reader grace window.
    AtomicTable.commit(df(5), dir, 5L)
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L, 5L))
    AtomicTable.commit(df(6), dir, 6L)
    assert(AtomicTable.committedVersions(spark, dir) == Seq(5L, 6L))
    assert(AtomicTable.read(spark, dir).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((6L, "v6")))
    // Time travel inside the retention window; pruned/never-committed
    // versions resolve to None rather than a missing-path error.
    assert(AtomicTable.readVersion(spark, dir, 5L).get.collect()
      .map(_.getString(1)).toSeq == Seq("v5"))
    assert(AtomicTable.readVersion(spark, dir, 0L).isEmpty)
    assert(AtomicTable.readVersion(spark, dir, 3L).isEmpty)
  }

  test("AtomicTable: writer adoption of a pre-existing unbound table is explicit") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_adopt")
      .resolve("t").toString
    // Batch path (no writerId) mints versions but no _writer file.
    AtomicTable.commit(Seq((1L, "a")).toDF("k", "v"), dir, 0L)
    // A fresh streaming query pointed here would silently no-op its
    // batch 0 against the batch-minted marker — must fail fast instead.
    val e = intercept[IllegalStateException] {
      AtomicTable.commit(Seq((2L, "b")).toDF("k", "v"), dir, 0L,
        writerId = Some("ckpt-new"))
    }
    assert(e.getMessage.contains("adopt"))
    // Explicit adoption binds the lineage; the colliding batch id is
    // then (by operator's declaration) a legitimate replay no-op.
    AtomicTable.commit(Seq((2L, "b")).toDF("k", "v"), dir, 0L,
      writerId = Some("ckpt-new"), adoptExisting = true)
    AtomicTable.commit(Seq((3L, "c")).toDF("k", "v"), dir, 1L,
      writerId = Some("ckpt-new"))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(0L, 1L))
    // And a different lineage still fails against the now-bound dir.
    intercept[IllegalStateException] {
      AtomicTable.commit(Seq((4L, "d")).toDF("k", "v"), dir, 2L,
        writerId = Some("ckpt-other"))
    }
  }

  test("AtomicTable.diff tags insert/delete/update, drops unchanged, rejects uncommitted") {
    import graft.operators.AtomicTable
    val dir = tempRoot("at_diff").toString
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "s", "n")
    val v2 = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 40))
      .toDF("k", "s", "n") // 1 unchanged, 2 updated, 3 deleted, 4 inserted
    AtomicTable.commit(v1, dir, 0L)
    AtomicTable.commit(v2, dir, 1L)
    val got = AtomicTable.diff(spark, dir, 0L, 1L, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
    intercept[IllegalArgumentException] {
      AtomicTable.diff(spark, dir, 0L, 9L, Seq("k"))
    }
  }

  test("AtomicTable: vacuum applies count and age retention, keeps latest") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_vacuum")
      .resolve("t").toString
    def df(n: Long) = Seq((n, s"v$n")).toDF("k", "v")
    // retainVersions=10 keeps deep history for vacuum to manage.
    (0L to 4L).foreach(v =>
      AtomicTable.commit(df(v), dir, v, retainVersions = 10))
    assert(AtomicTable.committedVersions(spark, dir) == (0L to 4L))
    // Age window nothing is older than: no deletions.
    assert(AtomicTable.vacuum(spark, dir, retainLast = 2,
      olderThanMillis = Some(60 * 60 * 1000L)).isEmpty)
    assert(AtomicTable.committedVersions(spark, dir) == (0L to 4L))
    // Zero age: everything beyond the two highest goes.
    assert(AtomicTable.vacuum(spark, dir, retainLast = 2,
      olderThanMillis = Some(0L)) == Seq(0L, 1L, 2L))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(3L, 4L))
    // Count-only vacuum down to one version; latest always survives.
    assert(AtomicTable.vacuum(spark, dir, retainLast = 1) == Seq(3L))
    assert(AtomicTable.read(spark, dir).get.collect()
      .map(_.getString(1)).toSeq == Seq("v4"))
  }

  test("AtomicTable base+delta: merged read, idempotent deltas, compaction epochs") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_delta")
      .resolve("t").toString
    def df(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    def merged: Set[Long] = AtomicTable.readMerged(spark, dir)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(AtomicTable.readMerged(spark, dir).isEmpty)
    AtomicTable.commitDelta(df(1L, 2L), dir, 0L)
    AtomicTable.commitDelta(df(3L), dir, 1L)
    assert(merged == Set(1L, 2L, 3L))
    // replayed delta is an idempotent no-op (marker already present)
    AtomicTable.commitDelta(df(99L), dir, 1L)
    assert(merged == Set(1L, 2L, 3L))
    assert(AtomicTable.deltasSinceBase(spark, dir) == 2)
    // compaction covers both deltas; read resolves the base
    assert(AtomicTable.compactToBase(spark, dir) == Some(1L))
    assert(AtomicTable.committedBases(spark, dir) == Seq(1L))
    assert(AtomicTable.deltasSinceBase(spark, dir) == 0)
    assert(merged == Set(1L, 2L, 3L))
    // re-compacting with no new deltas is a no-op
    assert(AtomicTable.compactToBase(spark, dir).isEmpty)
    // new deltas after the base are merged on read
    AtomicTable.commitDelta(df(4L), dir, 2L)
    assert(merged == Set(1L, 2L, 3L, 4L))
    assert(AtomicTable.deltasSinceBase(spark, dir) == 1)
    // second compaction prunes the first epoch (retain-2 bases): the
    // deltas covered by base 1 go; base 1 itself is kept for grace
    assert(AtomicTable.compactToBase(spark, dir) == Some(2L))
    assert(AtomicTable.committedBases(spark, dir) == Seq(1L, 2L))
    assert(AtomicTable.committedVersions(spark, dir) == Seq(2L))
    assert(merged == Set(1L, 2L, 3L, 4L))
    // third epoch: base 1 and its covered deltas are pruned
    AtomicTable.commitDelta(df(5L), dir, 3L)
    assert(AtomicTable.compactToBase(spark, dir) == Some(3L))
    assert(AtomicTable.committedBases(spark, dir) == Seq(2L, 3L))
    assert(merged == Set(1L, 2L, 3L, 4L, 5L))
    // an all-empty table (only zero-row deltas) reads as None
    val dir2 = tempRoot("atomic_delta2")
      .resolve("t").toString
    AtomicTable.commitDelta(df().limit(0), dir2, 0L)
    assert(AtomicTable.committedVersions(spark, dir2) == Seq(0L))
    assert(AtomicTable.readMerged(spark, dir2).forall(_.count() == 0L))
  }

  test("commitStaged: parallel delta writes, markers in order, idempotent") {
    import graft.operators.AtomicTable
    val root = tempRoot("atomic_staged")
    val bandsDir = root.resolve("bands").toString
    val labelsDir = root.resolve("labels").toString
    def df(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    def merged(dir: String): Set[Long] = AtomicTable.readMerged(spark, dir)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    AtomicTable.commitStaged(spark, Seq(
      AtomicTable.Write(df(1L, 2L), bandsDir, 0L, delta = true),
      AtomicTable.Write(df(10L), labelsDir, 0L, delta = true)))
    assert(merged(bandsDir) == Set(1L, 2L))
    assert(merged(labelsDir) == Set(10L))
    assert(AtomicTable.isDeltaLayout(spark, bandsDir))
    assert(AtomicTable.isDeltaLayout(spark, labelsDir))
    // mixed replay: an already-committed entry no-ops (its replayed
    // frame is discarded), a fresh entry commits
    AtomicTable.commitStaged(spark, Seq(
      AtomicTable.Write(df(99L), bandsDir, 0L, delta = true),
      AtomicTable.Write(df(11L), labelsDir, 1L, delta = true)))
    assert(merged(bandsDir) == Set(1L, 2L))
    assert(merged(labelsDir) == Set(10L, 11L))
    // equivalent to sequential commitDelta for a downstream reader
    AtomicTable.commitStaged(spark, Seq(
      AtomicTable.Write(df(3L), bandsDir, 1L, delta = true)))
    assert(merged(bandsDir) == Set(1L, 2L, 3L))
    assert(AtomicTable.committedVersions(spark, bandsDir) == Seq(0L, 1L))
  }

  test("commitStaged: a failed write cancels its sibling and commits nothing") {
    import graft.operators.AtomicTable
    import scala.jdk.CollectionConverters._
    val root = tempRoot("atomic_fail")
    val (ta, tb) = (root.resolve("a").toString, root.resolve("b").toString)
    val boom = udf((k: Long) =>
      if (k >= 0L) throw new IllegalStateException("boom") else k)
    val slow = udf((k: Long) => { Thread.sleep(30000L); k })
    val failing = spark.range(1).select(boom(col("id")).as("k"))
    val sleeping = spark.range(0, 2, 1, 2).select(slow(col("id")).as("k"))
    val t0 = System.nanoTime()
    intercept[Exception] {
      AtomicTable.commitStaged(spark, Seq(
        AtomicTable.Write(failing, ta, 0L),
        AtomicTable.Write(sleeping, tb, 0L)))
    }
    assert((System.nanoTime() - t0) / 1e9 < 25.0)
    assert(AtomicTable.committedVersions(spark, ta).isEmpty)
    assert(AtomicTable.committedVersions(spark, tb).isEmpty)
    // no staging thread outlives the call ...
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == graft.operators.Par.ThreadName && t.isAlive))
    // ... and the sibling's Spark job was cancelled, not left writing
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100L)
    assert(tracker.getActiveJobIds.isEmpty)
  }

  test("Par: a failed model wave cancels its siblings' jobs and leaves no runner behind") {
    import graft.operators.Par
    import scala.jdk.CollectionConverters._
    val slow = udf((k: Long) => { Thread.sleep(30000L); k })
    val tracker = spark.sparkContext.statusTracker
    // one model fails while its sibling's job is running
    def failOnceSiblingRuns(): Int = {
      val until = System.nanoTime() + 10L * 1000000000L
      while (tracker.getActiveJobIds.isEmpty && System.nanoTime() < until)
        Thread.sleep(50L)
      throw new IllegalStateException("model failed")
    }
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Par.run(spark, Seq(
        () => failOnceSiblingRuns(),
        () => spark.range(0, 2, 1, 2).select(slow(col("id")))
          .collect().length))
    }
    assert((System.nanoTime() - t0) / 1e9 < 25.0)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == Par.ThreadName && t.isAlive))
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100L)
    assert(tracker.getActiveJobIds.isEmpty)
  }

  test("commitStaged: a duplicate (dir, version) pair is rejected before any write") {
    import graft.operators.AtomicTable
    val dir = tempRoot("atomic_dup")
      .resolve("t").toString
    def df(k: Long) = Seq(k).toDF("k")
    intercept[IllegalArgumentException] {
      AtomicTable.commitStaged(spark, Seq(
        AtomicTable.Write(df(1L), dir, 0L, delta = true),
        AtomicTable.Write(df(2L), dir, 0L, delta = true)))
    }
    assert(!new java.io.File(dir).exists())
  }

  test("commitStaged: a write whose kind disagrees with its dir's layout is refused before any write") {
    import graft.operators.AtomicTable
    val root = tempRoot("atomic_mixed")
    val (deltas, snaps) = (root.resolve("d").toString,
      root.resolve("s").toString)
    def df(from: Long, n: Long) = spark.range(from, from + n).toDF("k")
    (0L until 3L).foreach(v => AtomicTable.commitDelta(df(v * 10L, 10L),
      deltas, v))
    // a snapshot commit would keep the two highest versions by position
    // and drop deltas v_0 and v_1
    intercept[IllegalArgumentException](
      AtomicTable.commit(df(100L, 5L), deltas, 3L))
    assert(AtomicTable.readMerged(spark, deltas).get.count() == 30L)
    assert(AtomicTable.committedVersions(spark, deltas) == Seq(0L, 1L, 2L))
    assert(!new java.io.File(s"$deltas/v_3").exists())
    // a delta commit would flip the dir and union the retained
    // snapshots in as live deltas
    AtomicTable.commit(df(0L, 10L), snaps, 0L)
    AtomicTable.commit(df(10L, 10L), snaps, 1L)
    intercept[IllegalArgumentException](
      AtomicTable.commitDelta(df(20L, 5L), snaps, 2L))
    assert(!AtomicTable.isDeltaLayout(spark, snaps))
    assert(AtomicTable.read(spark, snaps).get.count() == 10L)
    assert(!new java.io.File(s"$snaps/v_2").exists())
  }

  test("base+delta guards: vacuum/deleteWhere refuse, compact delegates, Maintenance plans debt") {
    import graft.operators.{AtomicTable, Maintenance}
    val dir = tempRoot("atomic_guard")
      .resolve("t").toString
    def df(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    def merged: Set[Long] = AtomicTable.readMerged(spark, dir)
      .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    (0L to 9L).foreach(v => AtomicTable.commitDelta(df(v), dir, v))
    assert(AtomicTable.isDeltaLayout(spark, dir))
    // vacuum would have deleted live uncovered deltas 0..7 — it must
    // refuse loudly, and every delta must survive the attempt
    val e = intercept[IllegalStateException](
      AtomicTable.vacuum(spark, dir, retainLast = 2))
    assert(e.getMessage.contains("base+delta"))
    assert(merged == (0L to 9L).toSet)
    // deleteWhere reads "the latest version" — same hazard, same guard
    intercept[IllegalStateException](
      AtomicTable.deleteWhere(spark, dir, "k", Seq(1L)))
    // compact on a delta dir is compactToBase, not a snapshot rewrite
    assert(AtomicTable.compact(spark, dir) == Some(9L))
    assert(AtomicTable.committedBases(spark, dir) == Seq(9L))
    assert(merged == (0L to 9L).toSet)
    // Maintenance: fresh deltas over the base accumulate compaction
    // debt; the plan is compact_to_base ONLY (no snapshot rules), and
    // running it converges to a zero-action steady state
    (10L to 14L).foreach(v => AtomicTable.commitDelta(df(v), dir, v))
    val policy = Maintenance.Policy(maxDeltas = 3)
    val planned = Maintenance.plan(spark, dir, policy)
    assert(planned.map(_.action) == Seq("compact_to_base"))
    Maintenance.run(spark, dir, policy)
    assert(AtomicTable.deltasSinceBase(spark, dir) == 0)
    assert(merged == (0L to 14L).toSet)
    assert(Maintenance.plan(spark, dir, policy).isEmpty)
    // a snapshot dir is untouched by the guard: vacuum still works
    val dir2 = tempRoot("atomic_guard2")
      .resolve("t").toString
    (0L to 3L).foreach(v =>
      AtomicTable.commit(df(v), dir2, v, retainVersions = 10))
    assert(!AtomicTable.isDeltaLayout(spark, dir2))
    assert(AtomicTable.vacuum(spark, dir2, retainLast = 2) == Seq(0L, 1L))
  }

  test("ZOrder: tiles prune on BOTH dims; clusterBy yields disjoint key ranges") {
    import graft.operators.ZOrder
    // Known spread values: dense bits map to alternating bits.
    val sp = spark.range(1).select(
      ZOrder.spread8(lit(255L)).as("all"),
      ZOrder.spread8(lit(0L)).as("none"),
      ZOrder.zKey8(lit(255L), lit(255L)).as("full")).head()
    assert(sp.getLong(0) == 0x5555L && sp.getLong(1) == 0L &&
      sp.getLong(2) == 0xFFFFL)

    // 64x64 grid; 12-bit Morton key; 16 tiles = key >> 8 (16x16 squares).
    val grid = spark.range(64L * 64L).select(
      shiftright(col("id"), 6).as("a"),
      col("id").bitwiseAND(lit(63L)).as("b"))
    def touched(slab: org.apache.spark.sql.Column,
                tile: org.apache.spark.sql.Column): Long =
      grid.filter(slab).select(tile.as("t")).distinct().count()
    val zTile = shiftright(ZOrder.zKey8(col("a"), col("b")), 8)
    val linTile = shiftright(col("a") * 64L + col("b"), 8) // a-major sort
    // b-slab: a-major linear layout cannot prune (16/16 tiles); Z
    // touches 4. a-slab: linear is perfect (1), Z again 4 — the
    // balanced-pruning trade the scaladoc documents.
    assert(touched(col("b") <= 3, zTile) == 4L)
    assert(touched(col("b") <= 3, linTile) == 16L)
    assert(touched(col("a") <= 3, zTile) == 4L)
    assert(touched(col("a") <= 3, linTile) == 1L)

    // clusterBy: every output slice owns a contiguous, disjoint curve
    // segment (what turns file min/max stats into tile bounding boxes).
    val ranges = ZOrder.clusterBy(grid, col("a"), col("b"), 16)
      .select(col("a"), col("b"), spark_partition_id().as("pid"))
      .withColumn("z", ZOrder.zKey8(col("a"), col("b")))
      .groupBy("pid").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.size >= 8, s"too few non-empty ranges: ${ranges.size}")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "overlapping ranges")
      case _ =>
    }
  }

  test("DataSkipping: manifest round-trips; 2-d probe reads a strict file subset") {
    import graft.operators.{AtomicTable, DataSkipping, ZOrder}
    val dir = tempRoot("skip_tbl")
      .resolve("t").toString
    // 64x64 grid of (a, b) dims with a payload; z-clustered into 16
    // files, stats manifest per file.
    val grid = spark.range(64L * 64L).select(
      shiftright(col("id"), 6).as("a"),
      col("id").bitwiseAND(lit(63L)).as("b"),
      (col("id") * 7L).as("payload"))
    val dims = Seq("a" -> col("a"), "b" -> col("b"))
    val clustered = ZOrder.clusterBy(grid, col("a"), col("b"), 16)
    AtomicTable.commit(clustered, dir, 0L)
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    val written = DataSkipping.writeManifest(spark, dataPath, dims)
    assert(DataSkipping.readManifest(spark, dataPath).get == written)
    assert(written.size >= 8) // one stats row per non-empty file

    // Probe a small (a, b) box: the skipping read must return exactly
    // the full-scan rows for the box while OPENING fewer files.
    val full = AtomicTable.read(spark, dir).get
    val pred = col("a").between(10, 13) && col("b").between(20, 23)
    val pruned = DataSkipping.readSkipping(spark, dir,
      Map("a" -> ((10L, 13L)), "b" -> ((20L, 23L))))
    val want = full.filter(pred).select("a", "b", "payload")
      .collect().map(_.toSeq).toSet
    val got = pruned.filter(pred).select("a", "b", "payload")
      .collect().map(_.toSeq).toSet
    assert(got == want && want.size == 16)
    assert(pruned.inputFiles.toSet.subsetOf(full.inputFiles.toSet))
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"no skipping: ${pruned.inputFiles.length}/${full.inputFiles.length}")

    // Out-of-domain probe: empty selection falls back to an empty frame
    // with the full schema (plans stay resolvable).
    val none = DataSkipping.readSkipping(spark, dir,
      Map("a" -> ((1000L, 2000L))))
    assert(none.columns.toSeq == full.columns.toSeq && none.count() == 0)
    // Unknown dim name cannot prune: full file set.
    assert(DataSkipping.readSkipping(spark, dir,
      Map("nope" -> ((0L, 0L))).toMap).inputFiles.length ==
      full.inputFiles.length)
  }

  test("Scd2: close-and-reopen, retention, pass-through, idempotent re-apply") {
    import graft.operators.Scd2
    val current = Seq(
      (1L, "a", "2024-01-01", null: String),  // will change
      (2L, "b", "2024-01-01", null: String),  // arrives unchanged
      (3L, "c", "2024-01-01", null: String),  // absent from batch
      (1L, "z", "2023-01-01", "2024-01-01"))  // closed history
      .toDF("k", "v", "valid_from", "valid_to")
    val batch = Seq((1L, "A"), (2L, "b"), (9L, "n")).toDF("k", "v")
    val next = Scd2.apply(current, batch, Seq("k"), Seq("v"), "2024-06-01")
    val got = next.select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(got == Set(
      (1L, "z", "2023-01-01", Some("2024-01-01")), // history untouched
      (1L, "a", "2024-01-01", Some("2024-06-01")), // closed at change
      (1L, "A", "2024-06-01", None),               // reopened
      (2L, "b", "2024-01-01", None),               // unchanged stays
      (3L, "c", "2024-01-01", None),               // absent key retained
      (9L, "n", "2024-06-01", None)))              // first open
    // re-applying the SAME batch is a no-op (every arrival equal now)
    val again = Scd2.apply(next, batch, Seq("k"), Seq("v"), "2024-07-01")
    assert(again.select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, Option[String])].collect().toSet == got)
  }

  test("GraphOps: co-occurrence support filter; K4 has 4 triangles") {
    import graft.operators.GraphOps
    // groups: (1,2) together twice, (1,3) once -> only edge (1,2)
    // survives minSupport=2
    val facts = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L)).toDF("g", "item")
    val e = GraphOps.coOccurrenceEdges(facts, "g", "item", 2L)
      .select("src", "dst", "support").as[(Long, Long, Long)]
      .collect().toSet
    assert(e == Set((1L, 2L, 2L)))
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles, each counted exactly once
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst")
    val tris = GraphOps.triangles(k4)
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(tris == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L),
      (2L, 3L, 4L)))
    // square + one diagonal: exactly the two diagonal triangles
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    assert(GraphOps.triangles(sq).select("a", "b", "c")
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 2L, 3L), (1L, 3L, 4L)))
  }

  test("Funnel: stage windows anchor at the previous stage's first event") {
    import graft.operators.Funnel
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val events = Seq(
      // user 1 converts fully: view@0, click@30, purchase@60
      (1L, "view", ts(0)), (1L, "click", ts(30)), (1L, "purchase", ts(60)),
      // user 2: click BEFORE the first view never counts; the next
      // click lands outside the 1h horizon -> stuck at stage 1
      (2L, "click", ts(5)), (2L, "view", ts(10)), (2L, "click", ts(80)),
      // user 3: view + click, purchase outside horizon of the click
      (3L, "view", ts(0)), (3L, "click", ts(10)),
      (3L, "purchase", ts(200)),
      // user 4: never views -> not a funnel member
      (4L, "click", ts(0)), (4L, "purchase", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.funnel(events, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), "1 hour")
      .select("user_id", "reached_stage").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 2L))
  }

  test("Checks.snapshotDrift flags a large version-over-version count swing") {
    import graft.operators.AtomicTable
    import graft.quality.Checks
    val dir = tempRoot("atomic_drift")
      .resolve("t").toString
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    // Fewer than two versions: vacuously passes (incl. missing table).
    assert(Checks.snapshotDrift(spark, s"$dir-nope", "t", 0.5).passed)
    AtomicTable.commit(df(10), dir, 0L, retainVersions = 10)
    assert(Checks.snapshotDrift(spark, dir, "t", 0.5).passed)
    // 10 -> 9 rows = 10% drift: inside a 50% tolerance.
    AtomicTable.commit(df(9), dir, 1L, retainVersions = 10)
    assert(Checks.snapshotDrift(spark, dir, "t", 0.5).passed)
    // 9 -> 2 rows = 78% drift: alarm fires.
    AtomicTable.commit(df(2), dir, 2L, retainVersions = 10)
    val r = Checks.snapshotDrift(spark, dir, "t", 0.5)
    assert(!r.passed && r.violations == 1L)
    // Only the two MOST RECENT versions are compared: 2 -> 2 is flat.
    AtomicTable.commit(df(2), dir, 3L, retainVersions = 10)
    assert(Checks.snapshotDrift(spark, dir, "t", 0.5).passed)
  }

  test("Checks.schemaChanges reports added/removed/retyped columns, latest two versions only") {
    import graft.operators.AtomicTable
    import graft.quality.Checks
    val dir = tempRoot("atomic_sdrift")
      .resolve("t").toString
    // Fewer than two versions (incl. missing table): no changes.
    assert(Checks.schemaChanges(spark, s"$dir-nope").isEmpty)
    AtomicTable.commit(Seq((1L, "a", 1.0)).toDF("k", "v", "x"),
      dir, 0L, retainVersions = 10)
    assert(Checks.schemaChanges(spark, dir).isEmpty)
    assert(Checks.schemaDrift(spark, dir, "t").passed)
    // v1: drop x, add w, retype v STRING->BIGINT.
    AtomicTable.commit(Seq((1L, 2L, false)).toDF("k", "v", "w"),
      dir, 1L, retainVersions = 10)
    val changes = Checks.schemaChanges(spark, dir)
    assert(changes.map(c => (c.columnName, c.change)) ==
      Seq(("v", "type_changed"), ("w", "added"), ("x", "removed")))
    assert(changes.find(_.columnName == "v").get.oldType.contains("STRING"))
    assert(changes.find(_.columnName == "v").get.newType.contains("BIGINT"))
    assert(Checks.schemaDrift(spark, dir, "t").violations == 3L)
    // Identical schema re-commit: only the latest two are compared.
    AtomicTable.commit(Seq((2L, 3L, true)).toDF("k", "v", "w"),
      dir, 2L, retainVersions = 10)
    assert(Checks.schemaDrift(spark, dir, "t").passed)
  }

  test("TableStats: analyze persists exact stats; advisor broadcasts only analyzed-small dims") {
    import graft.operators.{AtomicTable, TableStats}
    val base = tempRoot("tstats")
    val dimDir = base.resolve("dim").toString
    val dim = Seq((1L, "a"), (2L, "b"), (2L, null), (3L, "c"))
      .toDF("k", "v")
    AtomicTable.commit(dim, dimDir, 0L)
    // exact one-pass stats
    val stats = TableStats.analyze(spark, dimDir, Seq("k", "v"))
      .map(s => s.column -> s).toMap
    assert(stats("k").nRows == 4 && stats("k").nonNull == 4 &&
      stats("k").ndv == 3 && stats("k").minS.contains("1") &&
      stats("k").maxS.contains("3"))
    assert(stats("v").nonNull == 3 && stats("v").ndv == 3 &&
      stats("v").minS.contains("a") && stats("v").maxS.contains("c"))
    assert(TableStats.committedRows(spark, dimDir).contains(4L))
  }

  test("ResultCache: same query + same inputs hit; changed inputs or semantics miss") {
    import graft.ref.Catalog
    val base = tempRoot("rcache")
    val inDir = base.resolve("in").toString
    val wh = base.resolve("wh").toString
    (1L to 100L).map(i => (i, i % 7)).toDF("k", "g")
      .write.parquet(inDir)
    def q() = spark.read.parquet(inDir).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
    // one skip-unchanged pass saving `df` as model mart.q:
    // (committed snapshot, served from the previous version?)
    def save(df: org.apache.spark.sql.DataFrame) = {
      val cat = new Catalog(spark, wh, skipUnchanged = true)
      val out = cat.saveTable("mart", "q", df)
      (out, cat.skipped == Seq("mart.q"))
    }
    val (r1, hit1) = save(q())
    assert(!hit1)
    val (r2, hit2) = save(q())
    assert(hit2)
    assert(r2.orderBy("g").collect().toSeq ==
      r1.orderBy("g").collect().toSeq)
    // cosmetic differences hash equal (canonicalized semantic hash)
    val cosmetic = spark.read.parquet(inDir)
      .select(col("k").as("kk"), col("g"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum(col("kk")).as("s"))
    assert(save(cosmetic)._2)
    // a semantic change misses (and commits); the original misses back
    val semantic = spark.read.parquet(inDir).filter(col("k") > 10)
      .groupBy("g").agg(count(lit(1)).as("n"), sum(col("k")).as("s"))
    assert(!save(semantic)._2)
    assert(!save(q())._2)
    assert(save(q())._2)
    // appending input data invalidates the entry
    Seq((101L, 3L)).toDF("k", "g")
      .write.mode("append").parquet(inDir)
    val (r3, hit3) = save(q())
    assert(!hit3)
    assert(r3.agg(sum(col("n"))).head().getLong(0) == 101L)
  }

  test("SchemaContract: additions and widening pass, removal/narrowing/incompatible fail") {
    import graft.quality.SchemaContract
    import org.apache.spark.sql.types._
    val contract = StructType(Seq(
      StructField("k", LongType), StructField("amt", DoubleType),
      StructField("tag", StringType)))
    // producer still narrower + an extra column: allowed evolution
    val evolved = Seq((1, 1.5f, "a", true)).toDF("k", "amt", "tag", "extra")
    assert(SchemaContract.check(contract, evolved.schema).isEmpty)
    val aligned = SchemaContract.align(evolved, contract)
    assert(aligned.columns.toSeq == Seq("k", "amt", "tag"))
    assert(aligned.schema("k").dataType == LongType)
    assert(aligned.schema("amt").dataType == DoubleType)
    // removal
    val removed = Seq((1L, 1.5)).toDF("k", "amt")
    assert(SchemaContract.check(contract, removed.schema)
      .map(v => (v.column, v.kind)) == Seq(("tag", "removed")))
    // producer widened beyond the contract = narrowing for consumers
    val contractInt = StructType(Seq(StructField("k", IntegerType)))
    val wide = Seq(Tuple1(1L)).toDF("k")
    assert(SchemaContract.check(contractInt, wide.schema)
      .map(_.kind) == Seq("narrowing"))
    // incompatible
    val stringK = Seq((Tuple1("x"))).toDF("k")
    assert(SchemaContract.check(contractInt, stringK.schema)
      .map(_.kind) == Seq("incompatible"))
    intercept[IllegalArgumentException] {
      SchemaContract.align(stringK, contractInt)
    }
  }

  test("Maintenance: fragmented table converges to compacted+analyzed+pruned in one pass") {
    import graft.operators.{AtomicTable, Maintenance, TableStats}
    val dir = tempRoot("maint")
      .resolve("t").toString
    // fragment: 32 tiny files
    val df = (0L until 2048L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(32)
    AtomicTable.commit(df, dir, 0L, retainVersions = 10)
    AtomicTable.commit(df, dir, 1L, retainVersions = 10)
    AtomicTable.commit(df, dir, 2L, retainVersions = 10)
    val policy = Maintenance.Policy(maxFiles = 8, retainVersions = 2,
      statsCols = Seq("k"))
    val planned = Maintenance.plan(spark, dir, policy)
    assert(planned.map(_.action).toSet == Set("compact", "analyze", "vacuum"))
    Maintenance.run(spark, dir, policy)
    // converged: compacted file count, stats present, versions pruned
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    val fs = new org.apache.hadoop.fs.Path(dataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dataPath))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(nFiles <= 8)
    assert(TableStats.committedRows(spark, dir).contains(2048L))
    assert(AtomicTable.committedVersions(spark, dir).size <= 2)
    assert(AtomicTable.read(spark, dir).get.count() == 2048L)
    // steady state: a second planning pass is empty
    assert(Maintenance.plan(spark, dir, policy).isEmpty)
  }

  test("TxnCommit: all-or-nothing multi-table publish across crash points") {
    import graft.operators.{AtomicTable, SnapshotManifest}
    val base = tempRoot("txn")
    val (ta, tb) = (base.resolve("a").toString, base.resolve("b").toString)
    val manifests = base.resolve("_snapshots").toString
    def rows(dir: String): Option[Long] =
      AtomicTable.read(spark, dir).map(_.count())
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    // happy path: both tables appear together
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(3), tb -> df(5)))
    assert(rows(ta).contains(3L) && rows(tb).contains(5L))
    // crash AFTER the manifest (commit point) but before the markers:
    // latest readers still see v0 everywhere; recover rolls FORWARD
    val staged = SnapshotManifest.stage(spark, Seq(ta -> df(4), tb -> df(6)))
    SnapshotManifest.publish(spark, manifests, staged)
    assert(rows(ta).contains(3L) && rows(tb).contains(5L))
    assert(SnapshotManifest.recover(spark, manifests) == staged)
    assert(rows(ta).contains(4L) && rows(tb).contains(6L))
    // crash BEFORE the manifest (staged, one data dir lost): nothing to
    // repair — neither table advances, and the next commit overwrites
    // the orphan at the same version
    val staged2 = SnapshotManifest.stage(spark, Seq(ta -> df(7), tb -> df(8)))
    val lost = new org.apache.hadoop.fs.Path(s"$tb/v_${staged2(1).version}")
    lost.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lost, true)
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
    assert(rows(ta).contains(4L) && rows(tb).contains(6L))
    assert(SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(2), tb -> df(1))) == staged2)
    assert(rows(ta).contains(2L) && rows(tb).contains(1L))
    // recovery is idempotent / quiet when there is nothing to repair
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
  }

  test("SnapshotManifest: cross-table readers see both-old or both-new, never mixed") {
    import graft.operators.{AtomicTable, SnapshotManifest}
    val base = tempRoot("snap")
    val (ta, tb) = (base.resolve("a").toString, base.resolve("b").toString)
    val manifests = base.resolve("_snapshots").toString
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(3), tb -> df(3)))
    val snap0 = SnapshotManifest.snapshot(spark, manifests).get
    assert(snap0.read(ta).count() == 3L && snap0.read(tb).count() == 3L)
    // a reader opened BEFORE a publish stays on both-old after it lands
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(5), tb -> df(7)))
    assert(snap0.read(ta).count() == 3L && snap0.read(tb).count() == 3L)
    val snap1 = SnapshotManifest.snapshot(spark, manifests).get
    assert(snap1.read(ta).count() == 5L && snap1.read(tb).count() == 7L)
    // MID-PUBLISH: table A's marker landed, manifest not yet written
    // (simulated by a manifest-less commit of A alone). A
    // latest-resolving reader sees the mixed state; a snapshot reader
    // opened at this instant still sees the LAST manifest — both-old.
    AtomicTable.commit(df(9), ta, AtomicTable.nextVersion(spark, ta),
      retainVersions = Int.MaxValue)
    assert(AtomicTable.read(spark, ta).get.count() == 9L) // mixed, if unpinned
    val snapMid = SnapshotManifest.snapshot(spark, manifests).get
    assert(snapMid.seq == snap1.seq)
    assert(snapMid.read(ta).count() == 5L && snapMid.read(tb).count() == 7L)
    // the next snapshot publish re-converges
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(2), tb -> df(2)))
    val snap2 = SnapshotManifest.snapshot(spark, manifests).get
    assert(snap2.read(ta).count() == 2L && snap2.read(tb).count() == 2L)
    // a snapshot older than the retention window fails LOUDLY on its
    // pruned version (never silently falls through to latest)
    AtomicTable.commit(df(11), ta, AtomicTable.nextVersion(spark, ta))
    AtomicTable.commit(df(12), ta, AtomicTable.nextVersion(spark, ta))
    assert(intercept[RuntimeException](snap0.read(ta))
      .getMessage.contains("pruned"))
    // and an unknown table is an error, not a latest read
    assert(intercept[RuntimeException](
      snap0.read(base.resolve("zz").toString))
      .getMessage.contains("not in snapshot"))
    graft.queries.Q.deleteRecursively(base)
  }

  test("SnapshotManifest: torn manifest rejected with fallback; recover republishes a crashed snapshot txn") {
    import graft.operators.{AtomicTable, SnapshotManifest}
    val base = tempRoot("snaptorn")
    val (ta, tb) = (base.resolve("a").toString, base.resolve("b").toString)
    val manifests = base.resolve("_snapshots").toString
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(3), tb -> df(3)))
    // TORN manifest at the next seq (crashed writer without atomic
    // rename): strict parsing must reject it and serve seq 0 — not a
    // partial pin map that fails reads spuriously (r13 ADVICE)
    val torn = java.nio.file.Paths.get(manifests,
      "manifest_000000000001.json")
    java.nio.file.Files.write(torn,
      s"""[{"dir":"$ta","version":1},{"dir":"$tb","ver""".getBytes)
    val snap = SnapshotManifest.snapshot(spark, manifests).get
    assert(snap.seq == 0L)
    assert(snap.read(ta).count() == 3L && snap.read(tb).count() == 3L)
    // zero-byte file (create-then-crash) is equally rejected
    java.nio.file.Files.write(torn, Array.emptyByteArray)
    assert(SnapshotManifest.snapshot(spark, manifests).get.seq == 0L)
    // CRASH between the manifest publish and the markers: the publish
    // reclaims the torn seq-1 slot, so snapshot readers see the commit
    // at once; latest readers wait for recover() to create the markers.
    val staged = SnapshotManifest.stage(spark, Seq(ta -> df(5), tb -> df(7)))
    assert(SnapshotManifest.publish(spark, manifests, staged) == 1L)
    val snap2 = SnapshotManifest.snapshot(spark, manifests).get
    assert(snap2.seq == 1L)
    assert(snap2.read(ta).count() == 5L && snap2.read(tb).count() == 7L)
    assert(AtomicTable.read(spark, ta).get.count() == 3L)
    assert(SnapshotManifest.recover(spark, manifests) == staged)
    assert(AtomicTable.read(spark, ta).get.count() == 5L &&
      AtomicTable.read(spark, tb).get.count() == 7L)
    assert(SnapshotManifest.snapshot(spark, manifests).get.seq == 1L)
    graft.queries.Q.deleteRecursively(base)
  }

  test("deleteWhere: rewrites only files containing victims, byte-copies the rest") {
    import graft.operators.AtomicTable
    val dir = tempRoot("tdel")
      .resolve("t").toString
    // 8 range-clustered files: each key lives in exactly one file
    val df = (0L until 4096L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    AtomicTable.commit(df, dir, 0L, retainVersions = 10)
    val before = AtomicTable.read(spark, dir).get
      .withColumn("f", input_file_name())
    val fileOf = before.filter(col("k").isin(10L, 20L))
      .select("f").distinct().collect().map(_.getString(0))
    assert(fileOf.length == 1) // both victims in ONE range file
    val r = AtomicTable.deleteWhere(spark, dir, "k", Seq(10L, 20L),
      retainVersions = 10)
    assert(r.filesRewritten == 1 && r.filesCopied == r.filesTotal - 1 &&
      r.rowsDeleted == 2L)
    val after = AtomicTable.read(spark, dir).get
    assert(after.count() == 4094L)
    assert(after.filter(col("k").isin(10L, 20L)).isEmpty)
    assert(after.filter(col("k") === 11L).head().getString(1) == "v11")
    // untouched files are the SAME bytes (copied, not re-encoded)
    val copiedNames = after.withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0))
      .map(p => new java.io.File(new java.net.URI(p)).getName).toSet
    val beforeNames = before.select("f").distinct().collect()
      .map(_.getString(0))
      .map(p => new java.io.File(new java.net.URI(p)).getName).toSet
    assert((copiedNames & beforeNames).size == r.filesCopied)
    // the pre-delete snapshot is still time-travel readable
    assert(AtomicTable.readVersion(spark, dir, 0L).get.count() == 4096L)
    // deleting absent keys is a no-op: no new version
    val versions = AtomicTable.committedVersions(spark, dir)
    val noop = AtomicTable.deleteWhere(spark, dir, "k", Seq(999999L))
    assert(noop.filesRewritten == 0 && noop.rowsDeleted == 0L)
    assert(AtomicTable.committedVersions(spark, dir) == versions)
  }

  test("deleteWhere: NULL-key rows in rewritten files survive the erasure") {
    import graft.operators.AtomicTable
    val dir = tempRoot("tdelnull")
      .resolve("t").toString
    // one file: every NULL-key row is co-located with the victim, the
    // worst case for a non-null-safe keep predicate (`!isin` is NULL
    // for NULL keys and filter would drop them — r11 ADVICE)
    val df = Seq(Some(1L) -> "a", Some(2L) -> "b", None -> "n1",
      None -> "n2").toDF("k", "v").coalesce(1)
    AtomicTable.commit(df, dir, 0L)
    val r = AtomicTable.deleteWhere(spark, dir, "k", Seq(1L))
    assert(r.rowsDeleted == 1L && r.filesRewritten == 1)
    val after = AtomicTable.read(spark, dir).get
    assert(after.count() == 3L)
    assert(after.filter(col("k").isNull).count() == 2L) // NULLs kept
    assert(after.filter(col("k") === 2L).count() == 1L)
  }

  test("TxnCommit: outstanding journal versions are reserved by new commits") {
    import graft.operators.{AtomicTable, SnapshotManifest}
    val base = tempRoot("txnres")
    val ta = base.resolve("a").toString
    val manifests = base.resolve("_snapshots").toString
    def df(n: Int) = (1 to n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    SnapshotManifest.commitAll(spark, manifests, Seq(ta -> df(3)))
    // t2 crashes after its manifest publish (commit point reached)
    val staged = SnapshotManifest.stage(spark, Seq(ta -> df(4)))
    SnapshotManifest.publish(spark, manifests, staged)
    // the next commitAll must not reuse t2's version number —
    // nextVersion counts only markers, so without recovering first t3
    // would overwrite the data t2's manifest committed (r11 ADVICE)
    val s3 = SnapshotManifest.commitAll(spark, manifests, Seq(ta -> df(9)))
    assert(s3.head.version > staged.head.version)
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
    // latest = t3 (higher version); t2's snapshot intact at its version
    assert(AtomicTable.read(spark, ta).get.count() == 9L)
    assert(AtomicTable.readVersion(spark, ta, staged.head.version)
      .get.count() == 4L)
  }

  test("ResultCache: changes inside a hive-partitioned input invalidate") {
    import graft.ref.Catalog
    val base = tempRoot("rcache_part")
    val inDir = base.resolve("in").toString
    val wh = base.resolve("wh").toString
    (1L to 100L).map(i => (i, i % 4)).toDF("k", "p")
      .write.partitionBy("p").parquet(inDir)
    def q() = spark.read.parquet(inDir)
      .agg(sum(col("k")).as("s"), count(lit(1)).as("n"))
    def save() = {
      val cat = new Catalog(spark, wh, skipUnchanged = true)
      val out = cat.saveTable("mart", "q", q())
      (out, cat.skipped == Seq("mart.q"))
    }
    assert(!save()._2)
    assert(save()._2)
    // data files live under partition SUBDIRS — a top-level-only
    // fingerprint walk signs them 0|0|0 and this append would serve a
    // stale aggregate (r11 nit #1)
    Seq((1000L, 2L)).toDF("k", "p")
      .write.mode("append").partitionBy("p").parquet(inDir)
    val (r, hit) = save()
    assert(!hit)
    assert(r.head().getLong(0) == 5050L + 1000L)
  }

  test("ResultCache: ANALYZE of an input leaves its fingerprint unchanged") {
    import graft.operators.{AtomicTable, ResultCache, TableStats}
    val dir = tempRoot("rcache_stats")
      .resolve("t").toString
    AtomicTable.commit((1L to 50L).map(i => (i, i % 3)).toDF("k", "g"),
      dir, 0L)
    def q() = AtomicTable.read(spark, dir).get
      .groupBy("g").agg(count(lit(1)).as("n"))
    val before = ResultCache.fingerprint(q())
    // the stats manifest lands in the committed version dir; Spark never
    // reads it, so a maintenance sweep must not force downstream rebuilds
    TableStats.analyze(spark, dir, Seq("k", "g"))
    assert(TableStats.committedRows(spark, dir).contains(50L))
    assert(ResultCache.fingerprint(q()) == before)
  }

  test("runtime bloom-filter join: injected filter reaches the fact scan, output invariant") {
    // Spark's InjectRuntimeFilter: a selective filter on the build side
    // of a shuffle join grows a bloom-filter subquery that pre-filters
    // the probe side's SCAN — the built-in runtime semi-join reduction
    // that matters at 100 TB (probe rows that can't match never leave
    // the scan). Demonstrated with broadcast off (a broadcast join
    // needs no runtime filter) and the application-side size gate
    // lowered to test scale; correctness pinned against the
    // filter-disabled run.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def joined() = {
      val li = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
    }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = joined()
      val withFilter = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter") ||
        plan.contains("BloomFilter"),
        s"expected an injected bloom runtime filter in:\n$plan")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = joined().collect()
      assert(withFilter.map(_.toString).sorted.toSeq ==
        without.map(_.toString).sorted.toSeq)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Lineage: column sources tracked through join, window, aggregate, union") {
    import graft.tools.Lineage
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("l_extendedprice"))))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("net"), max(col("rk")).as("max_rk"))
      .select(col("o_custkey").as("cust"), col("net"), col("max_rk"))
    val lin = Lineage.columnLineage(joined)
    assert(lin("cust") == Set("orders.o_custkey"))
    assert(lin("net") ==
      Set("lineitem.l_extendedprice", "lineitem.l_discount"))
    // window column: rank over (o_custkey order by l_extendedprice)
    assert(lin("max_rk") ==
      Set("orders.o_custkey", "lineitem.l_extendedprice"))
    // union merges positionally
    val u = li.select(col("l_orderkey").as("k"))
      .unionByName(o.select(col("o_orderkey").as("k")))
    assert(Lineage.columnLineage(u)("k") ==
      Set("lineitem.l_orderkey", "orders.o_orderkey"))
  }

  test("StatsBroadcastRule: injected extension broadcasts analyzed-small committed dims") {
    import graft.operators.{AtomicTable, TableStats}
    import org.apache.spark.sql.SparkSession
    val base = tempRoot("sbr")
    val dimDir = base.resolve("dim").toString
    val rawDir = base.resolve("raw").toString
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    AtomicTable.commit(dim, dimDir, 0L)
    TableStats.analyze(spark, dimDir, Seq("k"))
    AtomicTable.commit(dim, rawDir, 0L) // committed but never analyzed
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // fresh session on the same context, with the extension installed
    // and Spark's own size heuristic disabled — any broadcast seen
    // below was decided by the injected rule alone. (withExtensions,
    // not the spark.sql.extensions conf: the static conf is only read
    // when the CONTEXT is created, and the suite's already exists.)
    val ext = SparkSession.builder()
      .withExtensions(e => new graft.plans.GraftExtensions().apply(e))
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    try {
      val fact = ext.range(0, 100).selectExpr("id % 3 + 1 as k", "id as x")
      def planOf(dir: String): String = {
        val j = fact.join(AtomicTable.read(ext, dir).get, Seq("k"))
        j.collect()
        j.queryExecution.executedPlan.toString
      }
      assert(planOf(dimDir).contains("BroadcastHashJoin"))
      // never-analyzed table: the rule cannot guess small
      assert(!planOf(rawDir).contains("BroadcastHashJoin"))
      // a manifest written AFTER the first probe is picked up — misses
      // must not be negatively cached for the rule's lifetime, or the
      // Maintenance analyze-after-commit flow never takes effect in a
      // long-lived session (r11 ADVICE)
      TableStats.analyze(ext, rawDir, Seq("k"))
      assert(planOf(rawDir).contains("BroadcastHashJoin"))
      // stats above the cap: no hint either
      ext.conf.set("spark.graft.statsBroadcastMaxRows", "2")
      assert(!planOf(dimDir).contains("BroadcastHashJoin"))
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("Bloom skipping: point lookup opens a strict file subset, no false negatives") {
    import graft.operators.{AtomicTable, DataSkipping}
    val dir = tempRoot("bloom_tbl")
      .resolve("t").toString
    // 4096 unique keys range-partitioned into 8 files: each key lives
    // in exactly one file, the point-lookup worst case for min/max
    // stats (every file overlaps a wide range) but the best case for
    // per-file blooms.
    val rows = spark.range(4096L).select(
      (col("id") * 2654435761L % 4096L).as("k"), // scatter key order
      (col("id") * 3L).as("payload"))
    AtomicTable.commit(rows.repartitionByRange(8, col("k")), dir, 0L)
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    val written = DataSkipping.writeBloomManifest(spark, dataPath, "k",
      expectedItems = 10000L, numBits = 1L << 17)
    assert(written.size == 8)
    val DataSkipping.BloomManifest(c, files) =
      DataSkipping.readBloomManifest(spark, dataPath).get
    assert(c == "k" && files.map(_.file) == written.map(_.file))
    val full = AtomicTable.read(spark, dir).get

    // present key: exactly its row, from (almost certainly) one file
    val probe = DataSkipping.readBloomSkipping(spark, dir, "k", Seq(77L))
    assert(probe.inputFiles.length < full.inputFiles.length)
    assert(probe.filter(col("k") === 77L).collect().map(_.getLong(1)).toSeq
      == full.filter(col("k") === 77L).collect().map(_.getLong(1)).toSeq)

    // absent key: no file is OBLIGED to match (false positives allowed,
    // false negatives not) — the row predicate still yields empty
    val absent = DataSkipping.readBloomSkipping(spark, dir, "k",
      Seq(999999L))
    assert(absent.filter(col("k") === 999999L).count() == 0)

    // multi-value probe unions the matching files
    val multi = DataSkipping.readBloomSkipping(spark, dir, "k",
      Seq(77L, 4000L))
    assert(multi.filter(col("k").isin(77L, 4000L)).count() ==
      full.filter(col("k").isin(77L, 4000L)).count())

    // different-column request falls back to the full snapshot
    assert(DataSkipping.readBloomSkipping(spark, dir, "payload", Seq(0L))
      .inputFiles.length == full.inputFiles.length)
  }

  test("bfsHops: path-graph distances, min over multi-source, bounded depth") {
    import graft.operators.GraphOps
    // path 1-2-3-4-5-6 plus a shortcut 6-2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 2L)).toDF("src", "dst")
    val got = GraphOps.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 6 comes in at hop 2 via the 2-6 shortcut, which then reaches 5 at
    // hop 3 (shorter than the 4-hop path route)
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L),
      (5L, 3L), (6L, 2L)))
    // multi-source: seeds at both ends meet in the middle with MIN hops
    val two = GraphOps.bfsHops(edges,
      Seq(1L, 5L).toDF("node"), maxHops = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(two.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 1L),
      (5L, 0L), (6L, 1L)))
  }

  test("DateSpine.spineFill: zero-fill, LOCF, leading nulls, day counter") {
    import graft.operators.DateSpine
    val keys = Seq("a", "b").toDF("k")
    val daily = Seq(
      ("a", "2020-01-02", 5L, 10.0),
      ("a", "2020-01-04", 7L, 20.0))
      .toDF("k", "day", "qty", "price")
      .withColumn("day", to_date($"day"))
    val got = DateSpine.spineFill(keys, daily, "k", "day",
        "2020-01-01", "2020-01-05",
        flowCols = Seq("qty"), stockCols = Seq("price"))
      .orderBy("k", "day").collect()
    assert(got.length == 10)
    // columns: k, day, qty, price, has_obs, days_since_obs
    val a = got.take(5).map(r => (r.getBoolean(4), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)),
      if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(a.toSeq == Seq(
      (false, 0L, None, None),             // before first obs: all null
      (true, 5L, Some(10.0), Some(0L)),
      (false, 0L, Some(10.0), Some(1L)),   // carried forward
      (true, 7L, Some(20.0), Some(0L)),
      (false, 0L, Some(20.0), Some(1L))))
    // key b never observes anything: dense rows, zero qty, all-null stock
    val b = got.drop(5)
    assert(b.forall(r => !r.getBoolean(4) && r.getLong(2) == 0L &&
      r.isNullAt(3) && r.isNullAt(5)))
    // zero-fill preserves the flow column's type (LongType here)
    assert(DateSpine.spineFill(keys, daily, "k", "day",
      "2020-01-01", "2020-01-02", Seq("qty"), Seq("price"))
      .schema("qty").dataType.typeName == "long")
  }

  test("Ckpt.truncated: values intact through the internal-RDD leaf; stats stay flat across self-joining rounds") {
    import graft.operators.Ckpt
    // Mixed types exercise the internal-row path (no external Row
    // round trip): string, array, decimal, timestamp.
    val src = spark.range(0, 50).toDF("id")
      .withColumn("s", concat(lit("v"), col("id")))
      .withColumn("arr", array(col("id"), col("id") * 2))
      .withColumn("dec", col("id").cast("decimal(20,2)"))
      .withColumn("ts", to_timestamp(lit("2024-03-01 10:00:00")))
    val ck = Ckpt.truncated(src)
    assert(ck.schema == src.schema)
    assert(ck.collect().map(_.toString).sorted.toSeq ==
      src.collect().map(_.toString).sorted.toSeq)
    // Iterative shape: each round self-joins the previous leaf — with
    // plain localCheckpoint the carried sizeInBytes estimate compounds
    // geometrically (the 30x cluster_canonical planning stall);
    // truncated leaves keep constant default stats at any depth.
    var cur = Ckpt.truncated(spark.range(0, 100).toDF("id"))
    for (_ <- 1 to 6) {
      val joined = cur.as("a")
        .join(cur.as("b").withColumnRenamed("id", "id2"),
          col("id") === col("id2"))
        .select(col("id"))
      cur = Ckpt.truncated(joined)
    }
    assert(cur.count() == 100)
    val bits = cur.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 64, s"carried stats compounded to $bits bits")
  }

  test("Ckpt.durable: disk round-trip keeps values, flat stats, earlier rounds stay readable") {
    import graft.operators.Ckpt
    val dir = tempRoot("ckpt_durable")
    val ck = Ckpt.durable(dir.toString)
    val src = spark.range(0, 50).toDF("id")
      .withColumn("s", concat(lit("v"), col("id")))
    val r1 = ck(src)
    val r2 = ck(r1.withColumn("id", col("id") + 1))
    // BPE-train shape: a consumer built from round 1 is evaluated AFTER
    // round 2 checkpoints — round dirs must persist for the run.
    assert(r1.count() == 50 && r2.count() == 50)
    // parquet read-back widens nullability (Ckpt.durable scaladoc);
    // names and types survive exactly
    assert(r2.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(r2.agg(min(col("id"))).head.getLong(0) == 1L)
    val bits = r2.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 64, s"durable leaf stats unexpectedly wide: $bits bits")
    // one-loop/one-thread contract is ENFORCED (r19): a second thread
    // calling the same instance fails fast instead of interleaving
    // round numbering with the owner loop
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try { ck(src); () } catch { case e: Throwable => err.set(e) })
    t.start(); t.join()
    assert(err.get().isInstanceOf[IllegalArgumentException],
      s"expected the cross-thread guard, got ${err.get()}")
    graft.queries.Q.deleteRecursively(dir)
  }

  test("RangeJoin: bucketed interval join matches naive containment, no nested-loop join") {
    import graft.operators.RangeJoin
    // Intervals spanning 1..3 buckets at bucketSize=10, incl. a
    // zero-length interval and one that matches nothing.
    val iv = Seq((1L, 5L, 12L), (2L, 20L, 20L), (3L, 8L, 31L),
      (4L, 100L, 105L))
      .toDF("iv_id", "start_day", "end_day")
    val pt = Seq((10L, 5L), (11L, 20L), (12L, 25L), (13L, 9L), (14L, 31L),
      (15L, 32L), (16L, 19L))
      .toDF("pt_id", "point_day")
    val got = RangeJoin.bucketedIntervalJoin(pt, iv,
        "point_day", "start_day", "end_day", bucketSize = 10L)
      .select("iv_id", "pt_id").as[(Long, Long)].collect().toSet
    // Naive containment over the cross product:
    val naive = (for {
      (ivId, s, e) <- Seq((1L, 5L, 12L), (2L, 20L, 20L), (3L, 8L, 31L),
        (4L, 100L, 105L))
      (ptId, p) <- Seq((10L, 5L), (11L, 20L), (12L, 25L), (13L, 9L),
        (14L, 31L), (15L, 32L), (16L, 19L))
      if p >= s && p <= e
    } yield (ivId, ptId)).toSet
    assert(got == naive)
    assert(naive.exists(_._1 == 3L) && !naive.exists(_._1 == 4L))
    // A point on a bucket boundary joins intervals in BOTH adjacent
    // buckets exactly once (no dup from the interval's multi-bucket
    // explode): (3, 20) must appear once, not twice.
    val rows = RangeJoin.bucketedIntervalJoin(pt, iv,
        "point_day", "start_day", "end_day", bucketSize = 10L)
      .select("iv_id", "pt_id").collect()
    assert(rows.length == rows.distinct.length)
    // The plan is an equi-join on the bucket key — never the
    // BroadcastNestedLoopJoin a bare range predicate would plan.
    val planned = RangeJoin.bucketedIntervalJoin(pt, iv,
      "point_day", "start_day", "end_day", bucketSize = 10L)
    planned.collect()
    val plan = planned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // equiKeys narrows containment to same-key pairs: the keyed
    // result is exactly the unkeyed pairs whose sides share the key.
    val ivK = Seq((1L, 5L, 12L, 7L), (2L, 20L, 20L, 8L), (3L, 8L, 31L, 7L))
      .toDF("iv_id", "start_day", "end_day", "user_id")
    val ptK = Seq((10L, 5L, 7L), (11L, 20L, 8L), (12L, 25L, 7L),
      (13L, 9L, 9L)).toDF("pt_id", "point_day", "user_id")
    val keyed = RangeJoin.bucketedIntervalJoin(ptK, ivK,
        "point_day", "start_day", "end_day", bucketSize = 10L,
        equiKeys = Seq("user_id"))
      .select("iv_id", "pt_id").as[(Long, Long)].collect().toSet
    assert(keyed == Set((1L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("RangeJoin: violated interval preconditions fail loudly, not silently") {
    import graft.operators.RangeJoin
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString(" | ")
    val pt = Seq((10L, 5L)).toDF("pt_id", "point_day")
    // Inverted interval (start > end): without the guard, sequence()
    // silently steps BACKWARDS and the pair joins a descending bucket
    // list; with it the documented contract is in the error.
    val inverted = Seq((1L, 12L, 5L)).toDF("iv_id", "start_day", "end_day")
    val e1 = intercept[Exception] {
      RangeJoin.bucketedIntervalJoin(pt, inverted,
        "point_day", "start_day", "end_day", bucketSize = 10L).collect()
    }
    assert(chain(e1).contains("inverted interval"), chain(e1))
    // Unbounded interval: sequence()'s max-array-length failure is
    // opaque; the guard names the bounded-interval precondition.
    val huge = Seq((1L, 0L, 5000000L)).toDF("iv_id", "start_day", "end_day")
    val e2 = intercept[Exception] {
      RangeJoin.bucketedIntervalJoin(pt, huge,
        "point_day", "start_day", "end_day", bucketSize = 10L).collect()
    }
    assert(chain(e2).contains("100000 buckets"), chain(e2))
    // Valid intervals still pass through the guarded expression.
    val ok = Seq((1L, 5L, 12L)).toDF("iv_id", "start_day", "end_day")
    assert(RangeJoin.bucketedIntervalJoin(pt, ok,
      "point_day", "start_day", "end_day", bucketSize = 10L).count() == 1L)
  }

  test("TextAnalysis.leakageSafeSplit: invalid pct split fails at entry") {
    import graft.llm.TextAnalysis
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.leakageSafeSplit(labels, "s", valPct = 60, testPct = 50)
    }
    assert(e.getMessage.contains("sum below 100"))
    intercept[IllegalArgumentException] {
      TextAnalysis.leakageSafeSplit(labels, "s", valPct = -1, testPct = 10)
    }
    assert(TextAnalysis.leakageSafeSplit(labels, "s", 10, 10)
      .select("split").distinct().count() >= 1L)
  }

  test("TextAnalysis.stratifiedSplit: invalid pct split fails at entry") {
    import graft.llm.TextAnalysis
    val docs = (1L to 50L).map(i => (i, "a")).toDF("doc_id", "src")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.stratifiedSplit(docs, $"doc_id", $"src", "s",
        valPct = 60, testPct = 50)
    }
    assert(e.getMessage.contains("sum below 100"))
    assert(TextAnalysis.stratifiedSplit(docs, $"doc_id", $"src", "s", 10, 10)
      .filter($"split" === "train").count() >= 1L)
  }
}
