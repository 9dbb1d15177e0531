package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The overlap helper's contract: legs carry the caller's job group (so
  * cancelling it cancels them), every leg finishes before the helper
  * returns or throws, and nested overlaps cannot starve the pool. */
class OverlapSpec extends SparkSpec {
  private def sc = spark.sparkContext

  /** Job group of every job started while `body` ran whose thread carried
    * `marker` in the local property `overlap.spec` — set by the legs
    * themselves, so the filter does not depend on what the helper carries.
    * A marker job follows: once the listener has seen it, every earlier
    * job start has been delivered too. */
  private def groupsOfJobs(marker: String)(body: => Unit): Seq[String] = {
    val groups = new ConcurrentLinkedQueue[String]
    val markerSeen = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p.getProperty("overlap.spec") == marker)
          groups.add(String.valueOf(p.getProperty("spark.jobGroup.id")))
        if (p.getProperty("overlap.spec") == s"$marker-end") markerSeen.set(true)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("overlap.spec", s"$marker-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("overlap.spec", null)
      eventually(timeout(30.seconds), interval(20.millis))(assert(markerSeen.get()))
      groups.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** One Spark job, tagged with `marker` on the running thread. */
  private def markedJob(marker: String): Long = {
    sc.setLocalProperty("overlap.spec", marker)
    try sc.parallelize(1 to 4, 2).count() finally sc.setLocalProperty("overlap.spec", null)
  }

  test("every leg's jobs carry the caller's job group, also on pool threads left in another group") {
    // Leave pool threads in a stale group, as a thread first created under
    // (or last used by) another caller is: its inherited local properties
    // still name that caller's group.
    val n = Runtime.getRuntime.availableProcessors
    val ready = new CountDownLatch(n)
    val stale = (1 to n).map(_ => Future {
      sc.setJobGroup("stale-group", "stale")
      ready.countDown()
      ready.await(10, TimeUnit.SECONDS)
    }(ExecutionContext.global))
    stale.foreach(Await.ready(_, Duration(30, TimeUnit.SECONDS)))

    val legs = 2 * n + 1
    val groups = groupsOfJobs("carry") {
      sc.setJobGroup("overlap-caller", "overlap legs")
      try {
        assert(Overlap.map(1 to legs)(_ => markedJob("carry")) === Seq.fill(legs)(4L))
        assert(Overlap.both(markedJob("carry"), markedJob("carry")) === ((4L, 4L)))
      } finally sc.clearJobGroup()
    }
    assert(groups.size === legs + 2)
    assert(groups.toSet === Set("overlap-caller"))
  }

  test("cancelling the caller's job group cancels a running leg") {
    val started = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "overlap-cancel") started.set(true)
    }
    sc.addSparkListener(listener)
    val canceller = new Thread(() => {
      eventually(timeout(30.seconds), interval(20.millis))(assert(started.get()))
      Thread.sleep(300)
      sc.cancelJobGroup("overlap-cancel")
    })
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup("overlap-cancel", "cancelled legs", interruptOnCancel = true)
      canceller.start()
      intercept[SparkException] {
        Overlap.both(
          sc.parallelize(1 to 2, 2).mapPartitions { it => Thread.sleep(20000); it }.count(),
          ())
      }
    } finally {
      sc.clearJobGroup()
      canceller.join()
      sc.removeSparkListener(listener)
    }
    assert((System.nanoTime() - t0) / 1e9 < 15.0)
  }

  test("a failure surfaces only after every sibling has finished, later failures suppressed") {
    spark // the helper runs its legs under the active (or default) session
    for (fastLegPooled <- Seq(true, false)) {
      val slowDone = new AtomicBoolean(false)
      def fast: Int = throw new IllegalStateException("fast")
      def slow: Int = {
        Thread.sleep(1000)
        slowDone.set(true)
        throw new IllegalArgumentException("slow")
      }
      val e = intercept[IllegalStateException] {
        if (fastLegPooled) Overlap.both(fast, slow) else Overlap.both(slow, fast)
      }
      assert(slowDone.get(), s"returned before the slow sibling finished (fast pooled: $fastLegPooled)")
      assert(e.getMessage === "fast")
      assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("slow"))
    }
  }

  test("overlaps nested deeper than the core count finish") {
    // Each level's pooled leg waits on the next level's pooled leg, so a
    // pool bounded at the core count would deadlock here.
    val depth = 2 * Runtime.getRuntime.availableProcessors + 1
    def nest(d: Int): Long =
      if (d == 0) sc.parallelize(Seq(1), 1).count()
      else Overlap.map(Seq(true, false))(deeper => if (deeper) nest(d - 1) + 1 else 0L).head
    val done = Future(nest(depth))(ExecutionContext.global)
    assert(Await.result(done, Duration(60, TimeUnit.SECONDS)) === depth + 1)
  }

  test("the test session is the tools' session: file: resolves to ForklessLocalFileSystem") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), sc.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.streaming.ForklessLocalFileSystem])
  }
}
