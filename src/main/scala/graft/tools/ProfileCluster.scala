package graft.tools

import org.apache.spark.sql.functions._
import graft.{Sessions, Tables}
import graft.llm.{Dedup, TextAnalysis => TA}

/** Stage profiler for the near-dup chain (signature → pairs → CC →
  * representative): times each stage cumulatively so a regression is
  * attributable to ONE stage instead of the whole 4-job query. This is
  * the tool that localized the r15 hotspot — pairs at 20.8 s of the
  * chain's 25 s, fixed by the packed xor+bit_count Hamming verify
  * (Dedup.simhashNearDups scaladoc; pairs re-read 1.7 s after). Keep
  * it pointed at the committed chain shape when the chain changes. */
object ProfileCluster {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val docs = Tables.documents(spark, d)
    val tokenRows = docs.select(col("doc_id"),
      explode(TA.tokens(col("text"))).as("token"))
    time("warm docs count")(docs.count())
    val sh = Dedup.simhashFromTokens(tokenRows, 64)
    time("simhash64 count")(sh.count())
    time("simhash64 count again")(sh.count())
    val pairs = Dedup.simhashNearDups(sh, maxBucketSize = 512, bits = 64)
    time("pairs count")(pairs.count())
    val cc = time("cc build+converge")(
      Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))))
    time("cc count")(cc.count())
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col("text_len").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val out = cc.select(col("id").as("doc_id"), col("component"))
      .join(docs.select(col("doc_id"),
        length(trim(col("text"))).cast("long").as("text_len")),
        Seq("doc_id"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy(col("component"))).cast("long"))
      .withColumn("representative_id", first(col("doc_id")).over(w))
      .withColumn("is_representative",
        col("doc_id") === col("representative_id"))
      .select("doc_id", "component", "component_size",
        "representative_id", "is_representative")
      .orderBy("doc_id")
    time("final collect")(out.collect().length)
    spark.stop()
  }
}
