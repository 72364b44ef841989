package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[MetaFile]] and every metadata record written through it: a whole
  * file reads back equal, every proper prefix of it (a torn write) reads
  * as absent, and each reader's fallback for an absent record holds end
  * to end. Prefixes are written through the Hadoop FileSystem, so each
  * carries a fresh `.crc` sidecar and the case tests the decoder, not
  * the checksum. */
class MetaFileSpec extends graft.SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = tempRoot(name).toString

  private def bytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  private def put(p: String, b: Array[Byte]): Unit = {
    val hp = new Path(p)
    val out = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(hp, true)
    try out.write(b) finally out.close()
  }

  /** `read` gives `whole` on the written file and None on every proper
    * prefix of its bytes; the written bytes are restored afterwards. */
  private def sweep[T](file: String, whole: T)(read: => Option[T]): Unit = {
    val b = bytes(file)
    assert(read.contains(whole))
    (0 until b.length).foreach { n =>
      put(file, b.take(n))
      assert(read.isEmpty, s"$file cut at $n/${b.length} bytes decoded")
    }
    put(file, b)
    assert(read.contains(whole))
  }

  /** Text of `file` cut right after its first `{"file":...}` entry. */
  private def cutAfterFirstEntry(file: String): Unit = {
    val text = new String(bytes(file), UTF_8)
    val end = text.indexOf("},{\"file\"")
    assert(end > 0, s"$file lists a single entry")
    put(file, text.take(end + 1).getBytes(UTF_8))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("MetaFile: strict decode rejects torn, empty, trailing and missing-field input") {
    val good = SnapshotManifest.Staged("d", 1234567890123L)
    val text = MetaFile.encode(Seq(good))
    assert(text == """[{"dir":"d","version":1234567890123}]""")
    assert(MetaFile.decode[Seq[SnapshotManifest.Staged]](text).contains(Seq(good)))
    Seq(text.dropRight(1), "", text + "]", text + "x",
      """[{"dir":"d"}]""", """[{"dir":"d","version":null}]""",
      """[{"dir":"d","version":1,"extra":2}]""").foreach { bad =>
      assert(MetaFile.decode[Seq[SnapshotManifest.Staged]](bad).isEmpty, bad)
    }
    val bloom = DataSkipping.FileBloom("f", Array[Byte](0, -1, 7))
    val back = MetaFile.decode[DataSkipping.FileBloom](MetaFile.encode(bloom))
    assert(back.map(_.bloom.toSeq).contains(bloom.bloom.toSeq))
  }

  test("MetaFile prefix sweep: journal and manifest") {
    val root = tmp("meta_txn")
    val (ta, tb) = (s"$root/a", s"$root/b")
    val manifests = s"$root/_snapshots"
    SnapshotManifest.commitAll(spark, manifests,
      Seq(ta -> Seq(1L).toDF("k"), tb -> Seq(2L).toDF("k")))
    val manifest = s"$manifests/manifest_000000000000.json"
    sweep(manifest, (0L, Map(ta -> 0L, tb -> 0L)))(
      SnapshotManifest.latest(spark, manifests))
  }

  /** A two-file committed table (64 rows); returns (dir, data path). */
  private def statsTable(): (String, String) = {
    val dir = s"${tmp("meta_stats")}/t"
    AtomicTable.commit(spark.range(64L).select(
      (col("id") % 8L).as("a"), (col("id") / 8L).as("b"))
      .repartitionByRange(2, col("b")), dir, 0L)
    (dir, AtomicTable.latestDataPath(spark, dir).get)
  }

  test("MetaFile prefix sweep: table stats") {
    val (dir, dataPath) = statsTable()
    val stats = TableStats.analyze(spark, dir, Seq("a", "b"))
    sweep(s"$dataPath/${TableStats.ManifestName}", stats)(
      TableStats.stored(spark, dataPath))
    assert(TableStats.committedRows(spark, dir).contains(64L))
  }

  test("MetaFile prefix sweep: file stats manifest") {
    val (_, dataPath) = statsTable()
    val fileStats = DataSkipping.writeManifest(spark, dataPath,
      Seq("a" -> col("a"), "b" -> col("b")))
    assert(fileStats.size == 2)
    sweep(s"$dataPath/${DataSkipping.ManifestName}", fileStats)(
      DataSkipping.readManifest(spark, dataPath))
  }

  test("MetaFile prefix sweep: Bloom manifest") {
    val (_, dataPath) = statsTable()
    val blooms = DataSkipping.writeBloomManifest(spark, dataPath, "b",
      expectedItems = 64L, numBits = 256L)
    def flat(m: DataSkipping.BloomManifest) =
      (m.column, m.files.map(f => (f.file, f.bloom.toSeq)))
    sweep(s"$dataPath/${DataSkipping.BloomManifestName}",
      flat(DataSkipping.BloomManifest("b", blooms)))(
      DataSkipping.readBloomManifest(spark, dataPath).map(flat))
  }

  test("readSkipping over a manifest cut after its first entry returns the full snapshot's rows") {
    val dir = s"${tmp("meta_skip")}/t"
    val grid = spark.range(64L * 64L).select(shiftright(col("id"), 6).as("a"),
      col("id").bitwiseAND(lit(63L)).as("b"), (col("id") * 7L).as("payload"))
    AtomicTable.commit(ZOrder.clusterBy(grid, col("a"), col("b"), 16),
      dir, 0L)
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    val written = DataSkipping.writeManifest(spark, dataPath,
      Seq("a" -> col("a"), "b" -> col("b")))
    // probe the LAST file's box: the first entry does not hold its rows
    val box = written.last.dims.map(d => d.name -> ((d.lo, d.hi))).toMap
    val pred = box.map { case (n, (lo, hi)) => col(n).between(lo, hi) }
      .reduce(_ && _)
    cutAfterFirstEntry(s"$dataPath/${DataSkipping.ManifestName}")
    val want = rows(AtomicTable.read(spark, dir).get.filter(pred))
    assert(want.nonEmpty)
    assert(rows(DataSkipping.readSkipping(spark, dir, box).filter(pred))
      == want)
  }

  test("readBloomSkipping over a manifest cut after its first entry returns the full snapshot's rows") {
    val dir = s"${tmp("meta_bloom")}/t"
    AtomicTable.commit(spark.range(4096L)
      .select(col("id").as("k"), (col("id") * 3L).as("payload"))
      .repartitionByRange(8, col("k")), dir, 0L)
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    DataSkipping.writeBloomManifest(spark, dataPath, "k",
      expectedItems = 1024L, numBits = 1L << 14)
    cutAfterFirstEntry(s"$dataPath/${DataSkipping.BloomManifestName}")
    // key 4095 lives in the last range partition, not the first file
    val pred = col("k") === 4095L
    val want = rows(AtomicTable.read(spark, dir).get.filter(pred))
    assert(want.size == 1)
    assert(rows(DataSkipping.readBloomSkipping(spark, dir, "k", Seq(4095L))
      .filter(pred)) == want)
  }

  test("write-once: a journal or manifest written over a valid one fails and keeps the occupant") {
    val root = tmp("meta_once")
    val first = Seq(SnapshotManifest.Staged(s"$root/a", 1L))
    val second = Seq(SnapshotManifest.Staged(s"$root/b", 2L))
    val manifests = s"$root/_snapshots"
    assert(SnapshotManifest.publish(spark, manifests, first) == 0L)
    val manifest = s"$manifests/manifest_000000000000.json"
    val pins = bytes(manifest).toSeq
    // a second publisher that resolved the same seq
    intercept[IllegalStateException](
      SnapshotManifest.write(spark, manifests, 0L, second))
    assert(bytes(manifest).toSeq == pins)
    assert(SnapshotManifest.latest(spark, manifests)
      .contains((0L, Map(s"$root/a" -> 1L))))
    // a torn occupant is reclaimed
    put(manifest, pins.take(5).toArray)
    SnapshotManifest.write(spark, manifests, 0L, second)
    assert(SnapshotManifest.latest(spark, manifests)
      .contains((0L, Map(s"$root/b" -> 2L))))
  }

  test("Maintenance plans analyze when the latest version's stats do not decode") {
    val dir = s"${tmp("meta_maint")}/t"
    AtomicTable.commit((1L to 20L).toDF("k"), dir, 0L)
    val policy = Maintenance.Policy(statsCols = Seq("k"))
    TableStats.analyze(spark, dir, Seq("k"))
    assert(Maintenance.plan(spark, dir, policy).isEmpty)
    val dataPath = AtomicTable.latestDataPath(spark, dir).get
    put(s"$dataPath/${TableStats.ManifestName}", "garbage".getBytes(UTF_8))
    assert(Maintenance.plan(spark, dir, policy).map(_.action) == Seq("analyze"))
    Maintenance.run(spark, dir, policy)
    assert(TableStats.committedRows(spark, dir).contains(20L))
    assert(Maintenance.plan(spark, dir, policy).isEmpty)
  }
}
