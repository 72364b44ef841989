package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * FAILS LOUDLY on dropped queries (the r10 lesson): a query whose build
  * or write throws used to leave no result dir, and a downstream
  * comparator that iterates result dirs then reported one fewer
  * all-green row — a false all-clear. Now every failure is collected,
  * the run exits non-zero listing the missing names, and
  * `_registry.txt` (the exact set of names this run was asked to
  * produce) lets `tools/check.py` independently detect a result-dir /
  * registry mismatch even if the exit code is swallowed. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only; the driver passes two):
    // comma-separated query names to dump instead of the full registry.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val wanted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    Files.writeString(Paths.get(s"$outDir/_registry.txt"),
      wanted.keys.toSeq.sorted.mkString("", "\n", "\n"))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    wanted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        spark.catalog.clearCache()
        // the result is written — scratch tables/checkpoints this query
        // committed under /tmp are dead weight now (r12 VERDICT nit #1)
        queries.Q.cleanupScratch()
      }
    }
    val json = graft.operators.MetaFile.encode(
      SparkEntry.oracleSql.filter { case (k, _) => wanted.contains(k) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Belt and braces: even if nothing threw, require that every wanted
    // name actually produced a result dir on disk.
    val missing = wanted.keys.toSeq.sorted.filterNot(n =>
      Files.exists(Paths.get(s"$outDir/$n")))
    spark.stop()
    if (failed.nonEmpty || missing.nonEmpty) {
      val bad = (failed ++ missing).distinct.sorted
      System.err.println(
        s"[verify] FATAL: ${bad.size}/${wanted.size} queries produced no " +
          s"result: ${bad.mkString(", ")}")
      sys.exit(1)
    }
  }
}
