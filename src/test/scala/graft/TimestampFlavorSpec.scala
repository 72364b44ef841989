package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.streaming.EventStream

/** Timestamp-flavor property test (the r10 lesson): the driver has
  * regenerated `events.parquet` with a different physical timestamp
  * type mid-build twice (INT64-nanos → TIMESTAMP_MICROS
  * isAdjustedToUTC=0). One fixture written THREE ways must read back
  * micro-identical through BOTH the batch reader ([[Tables.events]])
  * and the streaming reader ([[EventStream.readEvents]]) — so the next
  * driver-side regeneration cannot break analysis again. Mirrors the
  * reference's ingest-boundary normalization discipline
  * (pipelines/quickbooks/pipeline.py:151-183). */
class TimestampFlavorSpec extends SparkSpec {

  // Sub-second micros on purpose: whole-second fixtures would hide a
  // ±1 µs drift (the r08 `div` bug surfaced only on exact micros).
  private val fixture: Seq[(Long, Long)] = Seq(
    1L -> 1700000000123456L,
    2L -> 1700000001000001L,
    3L -> 1699999999999999L,
    4L -> 915148800000001L)

  /** Writes the fixture as `<dir>/events.parquet` in the given physical
    * flavor and returns the dir (the `Tables.events` layout). */
  private def writeFlavor(flavor: String): String = {
    import spark.implicits._
    val dir = tempRoot(s"tsf_$flavor")
    val base = fixture.toDF("event_id", "ts")
    val df = flavor match {
      // surfaced as LongType by the reader — same shape as parquet
      // TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong
      case "int64_nanos" => base.withColumn("ts", col("ts") * 1000L)
      // TimestampType writes TIMESTAMP_MICROS isAdjustedToUTC=1
      // (Sessions sets parquet.outputTimestampType=TIMESTAMP_MICROS)
      case "micros_utc" => base.withColumn("ts", timestamp_micros(col("ts")))
      // TimestampNTZType writes TIMESTAMP_MICROS isAdjustedToUTC=0 —
      // the flavor the regenerated r10 testdata switched to
      case "ntz" => base.withColumn("ts",
        timestamp_micros(col("ts")).cast(TimestampNTZType))
    }
    // Stage as a single FILE named events.parquet (the testdata layout —
    // the streaming reader treats the dir as a file source).
    val tmp = tempRoot(s"tsf_stage_$flavor")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def asMicros(df: DataFrame): Map[Long, Long] =
    df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val flavors = Seq("int64_nanos", "micros_utc", "ntz")

  test("batch reader: all three physical flavors read back exact micros") {
    flavors.foreach { f =>
      val got = asMicros(Tables.events(spark, writeFlavor(f)))
      assert(got == fixture.toMap, s"flavor=$f")
      // and the normalized column is a plain TimestampType everywhere
      assert(Tables.events(spark, writeFlavor(f)).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"flavor=$f")
    }
  }

  test("streaming reader: all three physical flavors read back exact micros") {
    flavors.foreach { f =>
      val dir = writeFlavor(f)
      val q = EventStream.toMemorySink(
        EventStream.readEvents(spark, dir), s"tsf_$f", complete = false)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(asMicros(spark.table(s"tsf_$f")) == fixture.toMap,
        s"flavor=$f")
    }
  }
}
