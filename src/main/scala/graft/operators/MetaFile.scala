package graft.operators

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{DefaultScalaModule, JavaTypeable}
import org.apache.commons.io.IOUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE codec for graft's own metadata files — the snapshot
  * manifest, ANALYZE stats, the file-stats and Bloom manifests,
  * the model fingerprint and the `_writer` binding: how each is encoded,
  * written and read. The reference gets atomic swaps from Postgres DDL
  * transactions; here every record is published the way a Delta log
  * action is, whole or not at all:
  *
  *   - ENCODE: one Jackson mapper with the Scala module, set STRICT — a
  *     truncated or zero-byte payload, trailing bytes, a missing or
  *     unknown field, or a null for a number all fail to decode, so a
  *     torn file never reads as a shorter record. Records keep every
  *     `Long` a case-class field: inside a generic type
  *     (`Map[String, Long]`, `Option[Long]`) it erases to `Object` and
  *     decodes as `Integer`.
  *   - WRITE: to a hidden tmp name of its own (`.<name>.<uuid>.tmp` —
  *     Spark's file index, `ResultCache.fingerprint` and
  *     `AtomicTable.hasDataFiles` all skip dot files; two writers never
  *     share one), then renamed into place, so a reader sees the old
  *     file or the whole new one.
  *   - READ: None when the file is absent or does not decode; each
  *     caller keeps its own fallback (previous manifest seq, full scan,
  *     no broadcast hint). An IOException still propagates — a
  *     transient read error must never hide a committed manifest.
  *
  * [[writeOnce]] is the write-once form for records whose name is
  * claimed by exactly one writer (manifest seqs). Renames
  * on `file:` overwrite, so the occupant is checked BEFORE the rename:
  * a valid occupant fails loudly, a torn one is replaced. Between that
  * check and the rename a concurrent writer can still land on `file:`;
  * stores whose rename refuses an existing target (HDFS) close that
  * window, because a refused rename re-checks the occupant. */
private[graft] object MetaFile {

  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS,
      DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    .build()

  def encode(value: Any): String = mapper.writeValueAsString(value)

  /** The record `text` holds, or None when it does not decode as a
    * whole `T` (the type is taken in full, element types included). */
  def decode[T: JavaTypeable](text: String): Option[T] =
    try Some(mapper.readValue[T](text,
      implicitly[JavaTypeable[T]].asJavaType(mapper.getTypeFactory)))
    catch { case _: JacksonException => None }

  /** The file's UTF-8 text, None when it is absent. */
  def readText(spark: SparkSession, p: Path): Option[String] = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in =
      try f.open(p) catch { case _: FileNotFoundException => return None }
    try Some(IOUtils.toString(in, UTF_8)) finally in.close()
  }

  def read[T: JavaTypeable](spark: SparkSession, p: Path): Option[T] =
    readText(spark, p).flatMap(decode[T])

  /** Replace `p` with `text` (tmp + rename). */
  def writeText(spark: SparkSession, p: Path, text: String): Unit =
    put(spark, p, text, None)

  def write(spark: SparkSession, p: Path, value: Any): Unit =
    writeText(spark, p, encode(value))

  /** Write `text` at `p` unless a record that `valid` accepts is already
    * there: that one was published by a concurrent writer and is never
    * replaced. */
  def writeOnce(spark: SparkSession, p: Path, text: String,
                valid: String => Boolean): Unit =
    put(spark, p, text, Some(valid))

  private def put(spark: SparkSession, to: Path, text: String,
                  valid: Option[String => Boolean]): Unit = {
    val f = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(to.getParent)
    val tmp = new Path(to.getParent,
      s".${to.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    def guard(): Unit = valid.foreach { ok =>
      if (readText(spark, to).exists(ok)) {
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"$to already written (concurrent writer?)")
      }
    }
    guard()
    if (!f.rename(tmp, to)) {
      guard()
      f.delete(to, false)
      require(f.rename(tmp, to), s"rename to $to failed twice")
    }
  }
}
