package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/**
 * Runs independent Spark pipelines ("legs") at the same time.
 *
 * In local mode most jobs are short and the scheduling gap between them
 * dominates, so independent jobs run in sequence pay that per-job driver
 * latency once each; overlapped, they pay it about once in total and the
 * slower leg hides the faster one. A caller keeps one comment saying why
 * its legs are independent.
 *
 * Rules:
 *  - The last leg runs on the caller's thread; the others run on
 *    `ExecutionContext.global` inside `blocking`, so a leg that itself
 *    overlaps (or waits) makes the pool add a thread instead of
 *    deadlocking a bounded pool.
 *  - Every pooled leg runs with the caller's job group, job description,
 *    interrupt-on-cancel flag, job tags and active session, and gives
 *    its thread back with the thread's previous values. A stopping
 *    stream cancels its trigger's job group, so the legs' jobs must
 *    carry that group to be cancelled with it.
 *  - It returns or throws only after EVERY leg has finished, so a
 *    caller's `finally` (an unpin, a temp-dir delete) never runs beside
 *    a sibling that is still writing. The first failure is rethrown with
 *    the later ones attached as suppressed.
 */
object Overlap {
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = all(xs.map(x => () => f(x)))

  /** SparkContext local properties a leg carries (SparkContext.SPARK_JOB_*). */
  private val CarriedProperties = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  private def all[T](legs: Seq[() => T]): Seq[T] = {
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val props = CarriedProperties.map(k => k -> sc.getLocalProperty(k))
    val failures = new ConcurrentLinkedQueue[Throwable]
    // Throwable, not NonFatal: every failure, an interrupt included, is
    // held until all legs are done and then rethrown.
    def attempt(leg: () => T): Option[T] =
      try Some(leg()) catch { case t: Throwable => failures.add(t); None }
    val (pooled, last) = legs.splitAt(legs.size - 1)
    val futures = pooled.map(leg => Future(blocking(
      carrying(spark, props)(attempt(leg))))(ExecutionContext.global))
    val here = last.map(attempt)
    val outcomes = futures.map(join) ++ here
    Option(failures.poll()).foreach { first =>
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    outcomes.map(_.get)
  }

  private def carrying[T](spark: SparkSession, props: Seq[(String, String)])(body: => T): T = {
    val sc = spark.sparkContext
    val savedProps = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
    val savedSession = SparkSession.getActiveSession
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    SparkSession.setActiveSession(spark)
    try body
    finally {
      savedProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      savedSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  /** Waits `f` out even when the caller is interrupted (a stopping stream
    * cancels its job group, then interrupts the trigger thread), and
    * re-asserts the interrupt afterwards. */
  private def join[T](f: Future[T]): T = {
    var interrupted = false
    while (!f.isCompleted)
      try Await.ready(f, Duration.Inf)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    f.value.get.get
  }
}
