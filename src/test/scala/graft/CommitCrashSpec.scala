package graft

import graft.operators.{AtomicTable, SnapshotManifest}

/** Crash-phase matrix for the commit path. Each case is stopped after
  * every step it reaches — data staged, manifest published, each
  * marker — with the crash state built through the stage/publish seams
  * and plain per-table commits. Before recovery a latest reader
  * resolves only marked versions and a snapshot reader sees all-old or
  * all-new; after `SnapshotManifest.recover` plus a replay of the same
  * call, committed versions and row sets equal an uncrashed run. */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  private def df(ks: Long*) = ks.toDF("k")
  private def rows(d: org.apache.spark.sql.DataFrame): Set[Long] =
    d.collect().map(_.getLong(0)).toSet

  private def newRoot(name: String): String = tempRoot(name).toString

  /** Committed versions and each version's rows, per table name. */
  private def tableState(root: String, names: Seq[String])
      : Map[String, Seq[(Long, Set[Long])]] =
    names.map { n =>
      val d = s"$root/$n"
      n -> AtomicTable.committedVersions(spark, d).map(v =>
        v -> AtomicTable.readVersion(spark, d, v).map(rows)
          .getOrElse(Set.empty))
    }.toMap

  /** Latest manifest pins, keyed by table name. */
  private def pins(root: String): Option[Map[String, Long]] =
    SnapshotManifest.latest(spark, s"$root/_snapshots").map(_._2.map {
      case (d, v) => d.stripPrefix(s"$root/") -> v
    })

  /** Runs `crash` (build one crash state) then the checks; `before`
    * asserts the pre-recovery reader view, then the call is replayed
    * unless the crash passed its commit point (`committed`, judged
    * before recovery): that commit has happened, and a replay would be
    * a second one. */
  private def crashCase(label: String, names: Seq[String],
                        prior: String => Unit, call: String => Unit,
                        crashes: Seq[(String, String => Unit)],
                        before: String => Unit,
                        committed: String => Boolean = _ => false): Unit = {
    val clean = newRoot(s"crash_${label}_clean")
    prior(clean); call(clean)
    val want = (tableState(clean, names), pins(clean))
    crashes.foreach { case (point, crash) =>
      val root = newRoot(s"crash_${label}_$point")
      prior(root)
      crash(root)
      withClue(s"$label, crash after $point, before recovery: ")(before(root))
      val done = committed(root)
      SnapshotManifest.recover(spark, s"$root/_snapshots")
      if (!done) call(root)
      withClue(s"$label, crash after $point, recovered + replayed: ") {
        assert((tableState(root, names), pins(root)) == want)
      }
    }
  }

  test("crash phases: one snapshot write") {
    val (old, neu) = (Set(2L), Set(3L, 4L))
    crashCase("snapshot", Seq("t"),
      prior = root => {
        AtomicTable.commit(df(1L), s"$root/t", 0L)
        AtomicTable.commit(df(2L), s"$root/t", 1L)
      },
      call = root => AtomicTable.commit(df(3L, 4L), s"$root/t", 2L),
      crashes = Seq(
        "staged" -> (root =>
          SnapshotManifest.stage(spark, Seq(s"$root/t" -> df(3L, 4L)))),
        // marker created, retention not yet applied
        "marker" -> (root => AtomicTable.commit(df(3L, 4L), s"$root/t",
          2L, retainVersions = 3))),
      before = root => {
        val d = s"$root/t"
        val marked = AtomicTable.isCommitted(spark, d, 2L)
        assert(rows(AtomicTable.read(spark, d).get) ==
          (if (marked) neu else old))
      })
  }

  test("crash phases: two ordered delta writes (bands, then labels)") {
    def merged(root: String, n: String) =
      AtomicTable.readMerged(spark, s"$root/$n").map(rows)
        .getOrElse(Set.empty)
    crashCase("deltas", Seq("bands", "labels"),
      prior = root => {
        AtomicTable.commitDelta(df(1L), s"$root/bands", 0L)
        AtomicTable.commitDelta(df(10L), s"$root/labels", 0L)
      },
      call = root => AtomicTable.commitStaged(spark, Seq(
        AtomicTable.Write(df(2L), s"$root/bands", 1L, delta = true),
        AtomicTable.Write(df(20L), s"$root/labels", 1L, delta = true))),
      crashes = Seq(
        "staged" -> (root => SnapshotManifest.stage(spark, Seq(
          s"$root/bands" -> df(2L), s"$root/labels" -> df(20L)))),
        "marker_bands" -> (root => {
          SnapshotManifest.stage(spark, Seq(s"$root/labels" -> df(20L)))
          AtomicTable.commitDelta(df(2L), s"$root/bands", 1L)
        }),
        "marker_labels" -> (root => {
          AtomicTable.commitDelta(df(2L), s"$root/bands", 1L)
          AtomicTable.commitDelta(df(20L), s"$root/labels", 1L)
        })),
      before = root => {
        val bandsNew = AtomicTable.isCommitted(spark, s"$root/bands", 1L)
        val labelsNew = AtomicTable.isCommitted(spark, s"$root/labels", 1L)
        assert(merged(root, "bands") ==
          (if (bandsNew) Set(1L, 2L) else Set(1L)))
        assert(merged(root, "labels") ==
          (if (labelsNew) Set(10L, 20L) else Set(10L)))
        // labels never become visible before bands
        assert(!labelsNew || bandsNew)
      })
  }

  test("crash phases: journaled two-table commit with a manifest") {
    def tables(root: String, a: Long, b: Long) =
      Seq(s"$root/a" -> df(a), s"$root/b" -> df(b))
    def manifests(root: String) = s"$root/_snapshots"
    // the commit point: both versions staged, the manifest pinning them
    def published(root: String): Seq[SnapshotManifest.Staged] = {
      val staged = SnapshotManifest.stage(spark, tables(root, 3L, 4L))
      SnapshotManifest.publish(spark, manifests(root), staged)
      staged
    }
    def mark(root: String, staged: Seq[SnapshotManifest.Staged],
             n: Int): Unit =
      staged.zip(tables(root, 3L, 4L)).take(n).foreach {
        case (s, (d, frame)) => AtomicTable.commit(frame, d, s.version,
          retainVersions = Int.MaxValue)
      }
    crashCase("journaled", Seq("a", "b"),
      prior = root => SnapshotManifest.commitAll(spark, manifests(root),
        tables(root, 1L, 2L)),
      call = root => SnapshotManifest.commitAll(spark, manifests(root),
        tables(root, 3L, 4L)),
      crashes = Seq(
        "staged" -> (root =>
          SnapshotManifest.stage(spark, tables(root, 3L, 4L))),
        "manifest" -> (root => published(root)),
        "marker_a" -> (root => mark(root, published(root), 1)),
        "marker_b" -> (root => mark(root, published(root), 2))),
      before = root => {
        val aNew = AtomicTable.isCommitted(spark, s"$root/a", 1L)
        val bNew = AtomicTable.isCommitted(spark, s"$root/b", 1L)
        assert(rows(AtomicTable.read(spark, s"$root/a").get) ==
          (if (aNew) Set(3L) else Set(1L)))
        assert(rows(AtomicTable.read(spark, s"$root/b").get) ==
          (if (bNew) Set(4L) else Set(2L)))
        val snap = SnapshotManifest.snapshot(spark, manifests(root)).get
        val seen = (rows(snap.read(s"$root/a")), rows(snap.read(s"$root/b")))
        assert(seen == ((Set(1L), Set(2L))) || seen == ((Set(3L), Set(4L))))
      },
      committed = root => pins(root).contains(Map("a" -> 1L, "b" -> 1L)))
  }

  test("torn journal: a truncated two-table journal never rolls one table forward") {
    // the manifest is the commit record: a torn one commits nothing
    val root = newRoot("crash_torn")
    val (ta, tb) = (s"$root/a", s"$root/b")
    val manifests = s"$root/_snapshots"
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> df(1L), tb -> df(2L)))
    val staged = SnapshotManifest.stage(spark,
      Seq(ta -> df(3L), tb -> df(4L)))
    assert(staged.map(_.version) == Seq(1L, 1L))
    // the manifest was cut after its first entry: both data dirs exist,
    // so a lenient parse would see a complete one-table commit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(manifests, "manifest_000000000001.json"),
      s"""[{"dir":"$ta","version":1},{"dir":"$tb","ver""".getBytes("UTF-8"))
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
    assert(rows(AtomicTable.read(spark, ta).get) == Set(1L))
    assert(rows(AtomicTable.read(spark, tb).get) == Set(2L))
    assert(SnapshotManifest.snapshot(spark, manifests).get.seq == 0L)
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
  }

  test("recover: a pinned version whose marker was pruned is not marked again") {
    val root = newRoot("crash_pruned")
    val ta = s"$root/a"
    val manifests = s"$root/_snapshots"
    SnapshotManifest.commitAll(spark, manifests, Seq(ta -> df(1L)))
    AtomicTable.commit(df(2L), ta, 1L)
    // a crash inside the prune of v_0: marker deleted, data dir left
    java.nio.file.Files.delete(java.nio.file.Paths.get(ta, "_commit_0"))
    assert(new java.io.File(s"$ta/v_0").isDirectory)
    assert(SnapshotManifest.latest(spark, manifests).get._2 == Map(ta -> 0L))
    assert(SnapshotManifest.recover(spark, manifests).isEmpty)
    assert(AtomicTable.committedVersions(spark, ta) == Seq(1L))
    assert(rows(AtomicTable.read(spark, ta).get) == Set(2L))
  }
}
