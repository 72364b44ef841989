package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The ONE `{table dir → version}` record, shared by [[TxnCommit]]'s
  * journal and [[SnapshotManifest]]'s manifests: a manifest or plain
  * journal is `[{"dir":"<d>","version":<n>},...]`; a journal that also
  * publishes a manifest wraps it as `{"manifest":"<m>","staged":[...]}`.
  *
  * Parsing is STRICT: a payload decodes only when re-encoding it
  * reproduces every byte, so a truncated or zero-byte file (a torn
  * write on a store without atomic rename) never reads as a shorter
  * record — a leniently read torn journal rolls ONE table of a
  * multi-table transaction forward alone. Writes go to a tmp name and
  * are renamed into place. */
private[operators] object VersionRecord {

  type Record = (Seq[TxnCommit.Staged], Option[String])

  private val Entry = """\{"dir":"([^"]+)","version":(\d+)\}""".r
  private val Wrapped = """\{"manifest":"([^"]+)","staged":.*\}""".r

  def encode(staged: Seq[TxnCommit.Staged],
             manifest: Option[String] = None): String = {
    val arr = staged.map(s => s"""{"dir":"${s.dir}","version":${s.version}}""")
      .mkString("[", ",", "]")
    manifest.fold(arr)(m => s"""{"manifest":"$m","staged":$arr}""")
  }

  def decode(text: String): Option[Record] = {
    val t = text.trim
    val manifest = t match {
      case Wrapped(m) => Some(m)
      case _ => None
    }
    val staged = Entry.findAllMatchIn(t)
      .map(m => TxnCommit.Staged(m.group(1), m.group(2).toLong)).toSeq
    Some((staged, manifest)).filter { case (s, m) => encode(s, m) == t }
  }

  def read(f: FileSystem, p: Path): Option[Record] = {
    val in = f.open(p)
    try decode(new String(in.readAllBytes(), UTF_8)) finally in.close()
  }

  /** Write the record at `dest` via tmp + rename. A torn occupant (a
    * crashed writer's file that fails [[decode]]) is reclaimed; a valid
    * one means a concurrent writer won the name, and overwriting it
    * would drop its record — fail loudly instead. */
  def write(spark: SparkSession, dest: String,
            staged: Seq[TxnCommit.Staged],
            manifest: Option[String] = None): Unit = {
    val to = new Path(dest)
    val f = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(to.getParent)
    val tmp = new Path(to.getParent, s".${to.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(encode(staged, manifest).getBytes(UTF_8))
    finally out.close()
    if (!f.rename(tmp, to)) {
      val occupant =
        try read(f, to) catch { case _: java.io.IOException => None }
      require(occupant.isEmpty, s"$dest already written (concurrent writer?)")
      f.delete(to, false)
      require(f.rename(tmp, to), s"rename to $dest failed twice")
    }
  }
}
