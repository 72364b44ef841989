package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors,
  TimeUnit}
import org.apache.spark.sql.SparkSession

/** THE driver-side parallel runner: ModelDag's sibling-model waves and
  * [[AtomicTable.commitStaged]]'s concurrent staged writes both submit
  * their Spark jobs through it. Spark accepts concurrent jobs from
  * several driver threads, so independent writes overlap and back-fill
  * each other's idle task slots.
  *
  * Each call builds its own pool of at most [[Width]] threads. The
  * threads are created by the caller, so they inherit its local
  * properties. Results come back in thunk order, whatever order the
  * jobs finish in. When a thunk fails, every job the call submitted is
  * cancelled (tasks interrupted) and the pool's threads are awaited
  * before the first failure propagates: a retry must never race a
  * still-running overwrite of the same `v_<n>`, and no sibling model
  * keeps writing after its wave has thrown. One thunk runs inline. */
object Par {

  /** Pool width (dbt `--threads`): pools of 3 and the FAIR scheduler
    * were measured slower (OPTIMIZATION_r21.md). */
  val Width = 8

  private[graft] val ThreadName = "graft-par"

  def run[A](spark: SparkSession, thunks: Seq[() => A]): Seq[A] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      val sc = spark.sparkContext
      val tag = s"graft-par-${java.util.UUID.randomUUID}"
      val pool = Executors.newFixedThreadPool(math.min(thunks.size, Width),
        (r: Runnable) => new Thread(r, ThreadName))
      try thunks.map(t => pool.submit(new Callable[A] { def call(): A = {
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        t()
      }})).map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      } catch {
        case e: Throwable =>
          sc.cancelJobsWithTag(tag)
          pool.shutdownNow()
          pool.awaitTermination(1, TimeUnit.MINUTES)
          // a sibling may have submitted its job after the first cancel
          // (an interrupted thread stops waiting, not its job)
          sc.cancelJobsWithTag(tag)
          throw e
      } finally pool.shutdown()
    }
}
