package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (one JVM-wide session, scalatest runs
  * suites sequentially in one forked JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
  import scala.language.implicitConversions

  private val tempRoots =
    scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  /** A fresh temp dir, deleted with the suite's other roots after its
    * last test. */
  def tempRoot(prefix: String): java.nio.file.Path = tempRoots.synchronized {
    tempRoots += java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.last
  }

  /** Deletes the suite's temp roots and the scratch dirs its queries
    * allocated through `Q.tempDir` (suites run one at a time, so every
    * registered scratch dir belongs to this suite's finished tests). */
  override def afterAll(): Unit =
    try {
      tempRoots.synchronized(
        tempRoots.foreach(graft.queries.Q.deleteRecursively))
      graft.queries.Q.cleanupScratch()
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
