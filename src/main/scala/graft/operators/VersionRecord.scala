package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE `{table dir → version}` record, shared by [[TxnCommit]]'s
  * journal and [[SnapshotManifest]]'s manifests: a manifest or plain
  * journal is `[{"dir":"<d>","version":<n>},...]`; a journal that also
  * publishes a manifest wraps it as `{"manifest":"<m>","staged":[...]}`.
  *
  * Encoded, written and read through [[MetaFile]]: a truncated or
  * zero-byte file (a torn write on a store without atomic rename) never
  * reads as a shorter record — a leniently read torn journal rolls ONE
  * table of a multi-table transaction forward alone. */
private[operators] object VersionRecord {

  type Record = (Seq[TxnCommit.Staged], Option[String])

  private final case class Wrapped(manifest: String,
                                   staged: Seq[TxnCommit.Staged])

  private def decode(text: String): Option[Record] =
    MetaFile.decode[Wrapped](text).map(w => (w.staged, Some(w.manifest)))
      .orElse(MetaFile.decode[Seq[TxnCommit.Staged]](text).map((_, None)))

  def read(spark: SparkSession, p: Path): Option[Record] =
    MetaFile.readText(spark, p).flatMap(decode)

  /** Write the record at `dest` once ([[MetaFile.writeOnce]]): a torn
    * occupant (a crashed writer's file that fails [[decode]]) is
    * reclaimed; a valid one means a concurrent writer won the name, and
    * overwriting it would drop its record — fail loudly instead. */
  def write(spark: SparkSession, dest: String,
            staged: Seq[TxnCommit.Staged],
            manifest: Option[String] = None): Unit =
    MetaFile.writeOnce(spark, new Path(dest),
      MetaFile.encode(manifest.fold[Any](staged)(Wrapped(_, staged))),
      decode(_).isDefined)
}
