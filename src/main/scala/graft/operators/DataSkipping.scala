package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-LEVEL DATA SKIPPING over a committed [[AtomicTable]] — the
  * stats-manifest half of the Z-order story. [[ZOrder.clusterBy]] makes
  * every written file own a near-square tile of the (dimA, dimB) space;
  * this module records each file's min/max of the two quantized
  * dimensions in a `_file_stats.json` manifest inside the committed
  * version dir, and serves reads that touch only the files whose stats
  * overlap the query's dim ranges. Together they are the connector-free
  * equivalent of a lakehouse format's `OPTIMIZE ZORDER BY` plus its
  * per-file stats manifest (Delta data skipping / Iceberg manifests):
  * plain parquet gets row-group pruning INSIDE each file for free, but
  * nothing skips whole files of an unpartitioned table — at 100 TB the
  * difference between opening every file of a mart and opening the 2-4
  * tiles a (product, period) probe actually needs.
  *
  * Layout: `v_<n>/_file_stats.json` — an underscore file, so Spark's
  * file index never treats it as data; it travels and dies with its
  * version (commit-time retention pruning deletes the whole dir). It is
  * written and read through [[MetaFile]], so a reader sees the whole
  * manifest or none, never a torn one that lists fewer files.
  *
  * Scale shape: stats collection is ONE distributed scan of the freshly
  * committed files (groupBy input_file_name → min/max per dim), with a
  * result of #files × #dims rows — driver-held JSON of a few KB even at
  * thousands of files. The skipping read is a driver-side manifest
  * filter (O(#files) metadata) followed by a normal parquet scan of the
  * selected files, so Catalyst still gets pushdown/pruning inside them.
  */
object DataSkipping {

  val ManifestName = "_file_stats.json"

  /** One dimension's [lo, hi] over one file. */
  final case class DimRange(name: String, lo: Long, hi: Long)

  /** Per-file stats row: file name (not full path — versions move) and
    * per-dimension ranges. */
  final case class FileStat(file: String, dims: Seq[DimRange])

  /** Collect per-file min/max of each (name, expr) dimension over the
    * parquet files at `dataPath` and write the manifest there.
    * `dims` exprs must be LONG-valued (quantized buckets — the same
    * exprs handed to [[ZOrder.clusterBy]]'s key). */
  def writeManifest(spark: SparkSession, dataPath: String,
                    dims: Seq[(String, Column)]): Seq[FileStat] = {
    val aggs = dims.flatMap { case (n, c) =>
      Seq(min(c).cast("long").as(s"_min_$n"), max(c).cast("long").as(s"_max_$n"))
    }
    val stats = spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileStat(new Path(r.getString(0)).getName, dims.map { case (n, _) =>
          DimRange(n, r.getLong(r.fieldIndex(s"_min_$n")),
            r.getLong(r.fieldIndex(s"_max_$n")))
        })
      }.toSeq.sortBy(_.file)
    MetaFile.write(spark, new Path(dataPath, ManifestName), stats)
    stats
  }

  /** The manifest at `dataPath`; None when absent or undecodable (a
    * torn or older-layout file never reads as fewer files). */
  def readManifest(spark: SparkSession, dataPath: String)
      : Option[Seq[FileStat]] =
    MetaFile.read[Seq[FileStat]](spark, new Path(dataPath, ManifestName))

  val BloomManifestName = "_file_bloom.json"

  /** One file's serialized Bloom filter (base64 on disk). */
  final case class FileBloom(file: String, bloom: Array[Byte])
  final case class BloomManifest(column: String, files: Seq[FileBloom])

  /** Per-file BLOOM manifest for POINT-LOOKUP skipping — the second
    * half of lakehouse data skipping: min/max stats prune range probes
    * on the z-dims, but a point lookup on a HIGH-CARDINALITY key (a
    * needle-in-the-mart doc_id / order id) overlaps almost every
    * file's [min, max]. A per-file Bloom filter answers "can this file
    * contain value v?" with no false negatives, so the read opens only
    * the files whose filter fires.
    *
    * Build: ONE distributed scan — groupBy input_file_name +
    * Spark's own `BloomFilterAggregate` ([[graft.plans.Bloom]]; a
    * mergeable TypedImperativeAggregate, map-side partials like any
    * aggregate) over `xxhash64(column)`. The serialized filters
    * (numBits/8 bytes each) land base64'd in `_file_bloom.json` beside
    * the stats manifest — a few hundred KB of driver-held metadata at
    * thousands of files, same as a Delta/Iceberg puffin/stats blob.
    * Probe: driver-side `BloomFilter.readFrom(...).mightContainLong`
    * per file — O(#files) metadata work BEFORE any task launches.
    * Returns the per-file filters for inspection. */
  def writeBloomManifest(spark: SparkSession, dataPath: String,
                         column: String,
                         expectedItems: Long = 1000000L,
                         numBits: Long = 1L << 23): Seq[FileBloom] = {
    graft.plans.Bloom.register(spark)
    val files = spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("_file"))
      .agg(expr(s"${graft.plans.Bloom.aggName}(xxhash64($column), " +
        s"${expectedItems}L, ${numBits}L)").as("bloom"))
      .collect()
      .map(r => FileBloom(new Path(r.getString(0)).getName,
        r.getAs[Array[Byte]](1)))
      .toSeq.sortBy(_.file)
    MetaFile.write(spark, new Path(dataPath, BloomManifestName),
      BloomManifest(column, files))
    files
  }

  /** The bloom manifest at `dataPath`; None when absent or undecodable. */
  def readBloomManifest(spark: SparkSession, dataPath: String)
      : Option[BloomManifest] =
    MetaFile.read[BloomManifest](spark, new Path(dataPath, BloomManifestName))

  /** Read the latest committed version touching ONLY files whose Bloom
    * filter might contain ANY of `values` (values must be literals of
    * the indexed column's type — the probe hashes them with the same
    * `xxhash64` the build used). No false negatives: the selection is a
    * superset of matching rows, callers still apply the row predicate.
    * Falls back to the full snapshot when no readable manifest (or a
    * manifest for a different column) exists. */
  def readBloomSkipping(spark: SparkSession, tableDir: String,
                        column: String, values: Seq[Any]): DataFrame = {
    val dataPath = AtomicTable.latestDataPath(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    readBloomManifest(spark, dataPath) match {
      case Some(BloomManifest(c, files)) if c == column && files.nonEmpty =>
        // ONE local job hashes every probe value (one row, N columns) —
        // a per-value spark.range(1).head() loop launches O(values)
        // driver-side jobs for what is a pure function (r11 nit #2).
        val row = spark.range(1)
          .select(values.map(v => xxhash64(lit(v))): _*).head()
        val hashes = values.indices.map(row.getLong(_))
        val keep = files.filter { f =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(f.bloom))
          hashes.exists(bf.mightContainLong)
        }.map(f => s"$dataPath/${f.file}")
        if (keep.isEmpty) spark.read.parquet(dataPath).limit(0)
        else spark.read.parquet(keep: _*)
      case _ => spark.read.parquet(dataPath)
    }
  }

  /** Read the latest committed version touching ONLY files whose stats
    * overlap every `ranges` interval (dim name → inclusive [lo, hi]).
    * File selection is a SUPERSET of the matching rows — callers still
    * apply their row predicate; skipping only reduces I/O. Falls back
    * to the full snapshot when no readable manifest exists; an empty
    * selection reads nothing via limit(0) on the full schema, keeping
    * downstream plans resolvable. */
  def readSkipping(spark: SparkSession, tableDir: String,
                   ranges: Map[String, (Long, Long)]): DataFrame = {
    val dataPath = AtomicTable.latestDataPath(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tableDir"))
    readManifest(spark, dataPath) match {
      case None => spark.read.parquet(dataPath)
      case Some(stats) =>
        val keep = stats.filter { s =>
          ranges.forall { case (n, (lo, hi)) =>
            // unknown dim name => cannot prune on it => keep the file
            s.dims.find(_.name == n).forall(d => d.hi >= lo && d.lo <= hi)
          }
        }.map(s => s"$dataPath/${s.file}")
        if (keep.isEmpty)
          spark.read.parquet(dataPath).limit(0)
        else spark.read.parquet(keep: _*)
    }
  }
}
