package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Run two INDEPENDENT Spark actions from two driver threads so one
  * job's straggler tail backfills the other's idle executors (guide
  * §2.6). Centralizes the two correctness obligations the r21 inline
  * Future/Await pattern missed:
  *
  *  1. SETTLE BOTH before leaving scope. `Await.result(a); Await
  *     .result(b)` propagates a's failure while b's job is still
  *     running — inside a [[StoreLease.withLease]] body that releases
  *     the lease with a zombie write in flight, so a retrying writer
  *     can acquire the lease and race the orphan: exactly the
  *     single-writer violation the lease exists to prevent. Here both
  *     futures are awaited unconditionally; the first failure is
  *     rethrown (the other suppressed) only after BOTH have settled.
  *  2. PROPAGATE the caller's scheduling thread-locals. Job
  *     group/description/pool are thread-local, so jobs submitted from
  *     a bare `ExecutionContext.global` thread escape the caller's
  *     `cancelJobGroup` — each branch re-pins the caller's values
  *     before running.
  */
object Overlap {

  /** The Spark local properties that scope job identity/cancellation
    * and scheduling; everything a driver-side thread hop must carry. */
  private val inherited = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Run `fa` and `fb` concurrently; return both results once BOTH
    * have settled. If either fails, rethrows the first failure (by
    * argument order) with the other's failure suppressed — after both
    * threads have finished, so no job is left running when this
    * returns or throws. */
  def both[A, B](spark: SparkSession)(fa: => A)(fb: => B): (A, B) = {
    val sc = spark.sparkContext
    val props = inherited.map(k => k -> sc.getLocalProperty(k))
    // pool threads outlive this call: restore what the thread held
    // before, or a later unrelated task inherits the caller's job group
    def pinned[T](body: => T): T = {
      val before = inherited.map(k => k -> sc.getLocalProperty(k))
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally before.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f1 = Future(pinned(fa))
    val f2 = Future(pinned(fb))
    val r1 = Try(Await.result(f1, Duration.Inf))
    val r2 = Try(Await.result(f2, Duration.Inf))
    (r1, r2) match {
      case (Success(a), Success(b)) => (a, b)
      case _ =>
        val fails = Seq(r1, r2).collect { case Failure(t) => t }
        val head = fails.head
        fails.tail.foreach { t =>
          if (t ne head) head.addSuppressed(t)
        }
        throw head
    }
  }
}
