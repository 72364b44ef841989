package graft.pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Process-level meters: CPU seconds of the whole JVM (driver and the
  * local executors share it), the heap's post-GC peak, and the live
  * heap after a full collection. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Largest heap occupancy seen right after a collection since the
    * last [[resetPeak]]: the live set, which is what runs out first.
    * Only the heap pools count, not Metaspace or the code cache. */
  private val peakLive = new AtomicLong(0L)
  private val gcs = new AtomicLong(0L)
  private val systemGcs = new AtomicLong(0L)
  private val lastSystemGc = new AtomicLong(0L)
  private val liveMax = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val heapPoolNames = heapPools.map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[
              javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }
            .sum
          peakLive.accumulateAndGet(used, math.max(_, _))
          gcs.incrementAndGet()
          if (info.getGcCause == "System.gc()") {
            lastSystemGc.set(used)
            systemGcs.incrementAndGet()
          }
        }, null, null)
    case _ =>
  }

  def resetPeak(): Unit = { peakLive.set(0L); gcs.set(0L); liveMax.set(0L) }

  /** A full collection, returning once its notification has arrived
    * (or after 5 s), so a following [[resetPeak]] is not undone by it.
    * Returns the heap it left, in bytes. */
  def collect(): Long = {
    val n = systemGcs.get()
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (systemGcs.get() == n && System.nanoTime() < deadline)
      Thread.sleep(5)
    lastSystemGc.get()
  }

  /** Records the live heap now: what a full collection leaves. Spark's
    * context cleaner frees broadcast and shuffle blocks only once a
    * collection has found their handles unreachable, so a second
    * collection after it has run counts those blocks as freed. */
  def sampleLive(): Unit = {
    collect()
    Thread.sleep(200)
    liveMax.accumulateAndGet(collect(), math.max(_, _))
  }

  /** Largest [[sampleLive]] since [[resetPeak]] (one per pass), in MB.
    * Unlike the post-GC peak it does not depend on when collections
    * happen to run, so it repeats from run to run. */
  def liveHeapMb: Double = liveMax.get / 1048576.0

  /** Post-GC peak heap in MB; the heap pools' current occupancy when no
    * GC ran. */
  def peakHeapMb: Double = {
    val v = if (gcs.get() > 0) peakLive.get()
      else heapPools.map(_.getUsage.getUsed).sum
    v / 1048576.0
  }

  def maxHeapMb: Long = Runtime.getRuntime.maxMemory / 1048576L
}

/** Counts every Spark job; cheap enough to stay on in untimed and timed
  * runs alike (the run stamp reports it). */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong(0L)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
}

/** Per-span Spark counters for the traced run. The harness opens a span
  * around each public call it makes; the span's name rides on the
  * submitting thread's Spark local properties (which threads started
  * inside the span, such as a streaming query's, inherit), so every job
  * submitted inside the span, and every task of that job, is charged to
  * it however late the listener bus delivers the event. A job is also
  * charged to the `graft.<module>` package of the innermost program
  * frame in its call site, or to `unattributed`. */
final class SpanTracer(sc: org.apache.spark.SparkContext)
    extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val runMs = new AtomicLong
    val gcMs = new AtomicLong; val shuffleB = new AtomicLong
    val spillB = new AtomicLong; val outB = new AtomicLong
    /** Process CPU seconds while the span was open, in ns. */
    val procNs = new AtomicLong
  }
  val spans = TrieMap.empty[String, Acc]
  val siteJobs = TrieMap.empty[String, AtomicLong]
  private val stageSpan = TrieMap.empty[Int, String]
  private val SpanKey = "pipebench.span"

  def acc(span: String): Acc = spans.getOrElseUpdate(span, new Acc)

  def span[A](name: String)(body: => A): A = {
    val a = acc(name)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val c0 = Meters.cpuS
    try body
    finally {
      a.procNs.addAndGet(((Meters.cpuS - c0) * 1e9).toLong)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  private val frame = "graft\\.([a-z]+)\\.".r

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .foreach { s =>
        acc(s).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan(_) = s)
      }
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val module = site.linesIterator.map(_.trim)
      .filterNot(_.contains("graft.pipebench"))
      .flatMap(l => frame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption().getOrElse("unattributed")
    siteJobs.getOrElseUpdate(module, new AtomicLong).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(s)
      a.tasks.incrementAndGet()
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      a.spillB.addAndGet(m.diskBytesSpilled)
      a.outB.addAndGet(m.outputMetrics.bytesWritten)
    }

  /** `<span>.<counter>` for every span in `layers` (0 when idle). */
  def counters(layers: Seq[String]): Seq[(String, Double)] =
    layers.flatMap { l =>
      val a = spans.getOrElse(l, new Acc)
      val jobs = a.jobs.get.toDouble
      val taskCpu = a.cpuNs.get / 1e9
      Seq("jobs" -> jobs, "tasks" -> a.tasks.get.toDouble,
        "tasks_per_job" -> (if (jobs > 0) a.tasks.get / jobs else 0.0),
        "task_cpu_s" -> taskCpu,
        "driver_cpu_s" -> math.max(0.0, a.procNs.get / 1e9 - taskCpu),
        "gc_s" -> a.gcMs.get / 1e3,
        "shuffle_mb" -> a.shuffleB.get / 1048576.0,
        "spill_mb" -> a.spillB.get / 1048576.0,
        "output_mb" -> a.outB.get / 1048576.0,
        "busy_s" -> a.runMs.get / 1e3).map { case (k, v) => s"$l.$k" -> v }
    }

  def siteCounters(modules: Seq[String]): Seq[(String, Double)] =
    modules.map(m =>
      s"$m.site_jobs" -> siteJobs.get(m).map(_.get.toDouble).getOrElse(0.0))
}

/** Order-independent content digest of a frame: row count plus the sum
  * (mod 2^64) of a 64-bit hash of every row. Doubles are rounded to six
  * decimals first, so a different summation order in an aggregate
  * cannot flip the digest. Columns that record the load date (or are
  * derived from it) or the absolute input path are left out: they
  * legitimately differ between runs. */
object Digest {
  def volatile(column: String): Boolean = {
    val c = column.toLowerCase
    c.endsWith("load_date") || c == "source_file"
  }

  def of(df: DataFrame): String = ofAll(Seq("" -> df))("")

  /** Digests of several frames in one Spark job. */
  def ofAll(frames: Seq[(String, DataFrame)]): Map[String, String] =
    if (frames.isEmpty) Map.empty else {
      val parts = frames.map { case (name, df) =>
        val cols = df.schema.fields.toSeq
          .filterNot(f => volatile(f.name))
          .sortBy(_.name)
          .map(f => f.dataType match {
            case DoubleType | FloatType => round(col(f.name), 6)
            case _ => col(f.name)
          })
        val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
        df.agg(count(lit(1)).as("n"),
          coalesce(sum(h.cast("decimal(38,0)")), lit(0)).as("h"))
          .select(lit(name).as("t"), col("n"), col("h"))
      }
      parts.reduce(_.unionByName(_)).collect().map { r =>
        val sumMod = BigInt(r.getDecimal(2).toBigInteger) &
          ((BigInt(1) << 64) - 1)
        r.getString(0) -> f"${r.getLong(1)}%d:${sumMod.toLong}%016x"
      }.toMap
    }
}
