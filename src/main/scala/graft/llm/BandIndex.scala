package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.AtomicTable

/** Shared core of every persisted dedup index ([[CorpusIndex]],
  * [[NearDupIndex]], [[ShardedNearDupIndex]], [[PhashIndex]]): the
  * three steps each of them runs over the [[AtomicTable]] base+delta
  * layout, plus the one width rule that sizes band keys to rows.
  *
  *   - [[load]]: the merged committed rows, or a zero-row frame with
  *     the index schema — day 1 bootstraps against it.
  *   - [[probe]]: join a batch's band rows to the committed index on
  *     (band, band_key), optionally Hamming-verifying packed words, and
  *     split the batch into per-doc decisions plus the kept docs' rows.
  *   - [[commitKept]]: commit the kept rows as the next DELTA (append ==
  *     upsert: a kept doc shares no key with the index by definition of
  *     `keep`), then fold deltas into a base every `compactEvery`.
  *
  * A crashed batch leaves the committed index intact and is safely
  * re-runnable: the delta commit is idempotent per version, and
  * re-probing the same batch against the pre-batch index yields the
  * same delta. */
private[graft] object BandIndex {

  /** Merged committed index at `dir` (`read`, default base ∪ deltas);
    * a zero-row frame with `schema` when nothing is committed yet. */
  def load(spark: SparkSession, dir: String, schema: StructType,
           read: (SparkSession, String) => Option[DataFrame] =
             AtomicTable.readMerged(_, _)): DataFrame =
    read(spark, dir).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))

  /** Per-doc decisions (doc_id, hit_index, keep) and the kept docs'
    * index rows (not yet distinct). */
  final case class Probe(annotated: DataFrame, kept: DataFrame)

  /** Flag every doc of `docs` with a band row sharing (band, band_key)
    * with `idx`. `bands` holds (doc_id, band, band_key, words...).
    * With `words` non-empty a band collision only counts when the
    * packed words are within `maxHamming` bits of the indexed ones
    * (one codegen'd xor+bit_count sum per candidate) — load-bearing
    * when band keys are narrow enough to collide by accident. Docs
    * without band rows are never flagged. The kept rows carry the index
    * columns (band, band_key, words...). */
  def probe(docs: DataFrame, bands: DataFrame, idx: DataFrame,
            words: Seq[String] = Nil, maxHamming: Int = 0): Probe = {
    val candidates =
      if (words.isEmpty) bands.join(idx, Seq("band", "band_key"), "left_semi")
      else bands
        .join(words.foldLeft(idx)((d, c) => d.withColumnRenamed(c, s"idx_$c")),
          Seq("band", "band_key"))
        .filter(expr(words.map(c => s"bit_count($c ^ idx_$c)")
          .mkString(" + ") + s" <= $maxHamming"))
    val hits = candidates.select(col("doc_id")).distinct()
      .withColumn("hit_index", lit(true))
    val annotated = docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hit_index", coalesce(col("hit_index"), lit(false)))
      .withColumn("keep", !col("hit_index"))
    val kept = bands
      .join(annotated.filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(("band" +: "band_key" +: words).map(col): _*)
    Probe(annotated, kept)
  }

  /** Commit the distinct `kept` rows as the DELTA at `version` (default:
    * the next one) under `writerId`'s lineage; `compactEvery` > 0 folds
    * deltas into a new base once that many accumulate since the last.
    *
    * The write goes through a bounded round-robin `repartition(n)`,
    * n = cores/4, AFTER the distinct — not `coalesce(1)`, which narrows
    * the parent stage and so runs the distinct's reduce side as ONE
    * task (at a billion-row batch the whole dedup tail went
    * single-threaded). Index rows are key-grain (≪ batch), so the extra
    * exchange is tiny and the merged read's file count stays
    * commits × n, bounded by `compactEvery`. */
  def commitKept(spark: SparkSession, dir: String, kept: DataFrame,
                 version: Option[Long] = None,
                 writerId: Option[String] = None,
                 compactEvery: Int = 0): Unit = {
    val delta = kept.distinct()
      .repartition(math.max(1, spark.sparkContext.defaultParallelism / 4))
    AtomicTable.commitDelta(delta, dir,
      version.getOrElse(AtomicTable.nextVersion(spark, dir)),
      writerId = writerId)
    if (compactEvery > 0 &&
      AtomicTable.deltasSinceBase(spark, dir) >= compactEvery)
      AtomicTable.compactToBase(spark, dir)
  }

  /** Signature widths on offer and the bands each index row is probed
    * by. */
  final case class Ladder(rungs: Seq[Int], bandsProbed: Int)

  /** Simhash text ladder: 4 bands of 8/16/32 bits, one band probed. */
  val TextLadder = Ladder(Seq(32, 64, 128), bandsProbed = 1)

  /** dHash image ladder: 4 bands of 16/32 bits, all four probed per
    * row (crossover 65,536 / 4 = 16,384 rows). */
  val ImageLadder = Ladder(Seq(64, 128), bandsProbed = 4)

  /** THE width rule: the smallest rung whose per-band keyspace
    * 2^(bits/4), divided by the bands probed per row, covers `rows` —
    * expected accidental candidates per probe ≤ 1 — else the widest
    * rung. Integer arithmetic (2^32 at most), exact at every bound. */
  def width(rows: Long, ladder: Ladder): Int =
    ladder.rungs.find(b => (1L << (b / 4)) / ladder.bandsProbed >= rows)
      .getOrElse(ladder.rungs.last)
}
