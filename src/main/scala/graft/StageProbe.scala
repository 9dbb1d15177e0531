package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Optimization-round profiler: runs named entries under the exact Bench
 * session shape and prints per-stage wall/task breakdowns plus the
 * formatted plan, so "where does the time go" is answered from stage
 * metrics instead of guesses.
 *
 * Usage: runMain graft.StageProbe <sfDir> <name1,name2,...> [minStageMs]
 * Plans land in plans/probe/<name>.txt (not a driver artifact — the
 * committed before/after plans live in plans/r17/).
 */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)
    val minStageMs = args.lift(2).map(_.toLong).getOrElse(50L)
    val spark = GraftSession.local()

    case class St(name: String, wallMs: Long, taskMs: Long, tasks: Int,
      shufReadMB: Double, shufWriteMB: Double, inputMB: Double, spillMB: Double)
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        val graftSite = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("StageProbe"))
          .getOrElse("").trim.take(90)
        stages.synchronized {
          stages += St(si.name.take(40) + " | " + graftSite, wall, m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            m.diskBytesSpilled / 1e6)
        }
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += ((js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))) }
    })

    val actions = mutable.ArrayBuffer.empty[(String, Long, String)]
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val head = qe.optimizedPlan.toString.linesIterator
          .filterNot(_.trim.isEmpty).take(2).mkString(" / ").take(150)
        actions.synchronized { actions += ((funcName, durationNs / 1000000L, head)) }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    })

    // same warmup as Bench
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case NonFatal(_) => () }
    try SparkEntry.prepareFixtures(spark, sfDir)
    catch { case NonFatal(_) => () }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // shot 1: warm plans/JIT, uncounted
      val tw0 = System.nanoTime()
      try Bench.force(fn(spark, sfDir)) catch { case NonFatal(e) => println(s"WARM FAIL $name: $e") }
      val warmSec = (System.nanoTime() - tw0) / 1e9
      stages.clear(); jobs.clear(); actions.synchronized(actions.clear())
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = (System.nanoTime() - t0) / 1e9
      try Bench.force(df) catch { case NonFatal(e) => println(s"FAIL $name: $e") }
      val total = (System.nanoTime() - t0) / 1e9
      println(f"\n===== $name%s total=$total%.2fs (build=$tPlan%.2fs, warm-shot=$warmSec%.2fs) stages=${stages.size}%d jobs=${jobs.size}%d")
      val agg = stages.sortBy(-_.wallMs)
      val shown = agg.takeWhile(_.wallMs >= minStageMs).take(25)
      println(f"  ${"wall_ms"}%8s ${"task_ms"}%9s ${"tasks"}%5s ${"in_MB"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill"}%6s  stage")
      shown.foreach { s =>
        println(f"  ${s.wallMs}%8d ${s.taskMs}%9d ${s.tasks}%5d ${s.inputMB}%8.1f ${s.shufReadMB}%8.1f ${s.shufWriteMB}%8.1f ${s.spillMB}%6.1f  ${s.name.take(110)}%s")
      }
      val stageWall = stages.map(_.wallMs).sum / 1000.0
      println(f"  sum(stage wall)=$stageWall%.2fs of $total%.2fs -> gap(driver/plan/sched)=${total - stageWall}%.2fs")
      println("  query actions:")
      actions.synchronized {
        actions.foreach { case (fn, ms, plan) =>
          println(f"    $ms%6d ms  $fn%-18s $plan%s") }
      }
      // formatted plan for the record
      try {
        val dir = java.nio.file.Paths.get("plans/probe")
        java.nio.file.Files.createDirectories(dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(dir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
      } catch { case NonFatal(_) => () }
    }
    spark.stop()
  }
}
