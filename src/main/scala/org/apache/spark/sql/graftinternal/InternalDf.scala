package org.apache.spark.sql.graftinternal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Same-package accessor for `SparkSession.internalCreateDataFrame`
  * (declared `private[sql]` on the classic session). Used by
  * [[graft.operators.Ckpt.truncated]] to rebuild a checkpointed frame
  * over its MATERIALIZED InternalRow RDD without the external-Row
  * round trip `createDataFrame(RDD[Row], schema)` pays (one
  * deserialization + one re-encode per row per downstream read —
  * measured at ~0.65 s/query on the sf0.1 BPE loops, whose iteration
  * state is corpus-sized). The resulting `LogicalRDD` leaf carries
  * constant default stats — exactly the non-compounding property
  * Ckpt.truncated exists to provide; see its scaladoc for why carried
  * stats are fatal in iterative loops.
  *
  * This is the narrowest public-surface escape hatch available: the
  * only alternatives are `Dataset.ofRows` / `LogicalRDD` construction
  * (equally `private[sql]`) or the double conversion. The object lives
  * in its own `graftinternal` subpackage so nothing else from the
  * `sql` package namespace can be touched accidentally; it contains
  * ONE forwarding call and no behavior.
  */
object InternalDf {
  def apply(spark: SparkSession, rdd: RDD[InternalRow],
            schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}

/** Same-package accessor for `SparkContext.listenerBus.waitUntilEmpty`
  * (both `private[spark]`): lets Bench and ScaleBench, which read their
  * own `SparkListener` state ([[graft.tools.StageMetrics]]), DRAIN the
  * async listener bus deterministically instead of guessing with a
  * fixed sleep, which silently dropped late-completing stages (r17
  * ADVICE). Forwarding call only, no behavior. */
object ListenerBusDrain {
  def waitUntilEmpty(spark: SparkSession, timeoutMillis: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
}
