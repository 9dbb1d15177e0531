package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a run collects: timed samples (each tagged with whether tracing
  * was on when its operation started), scalar values, correctness checks
  * and the attempted/failed operation counts. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long,
    val seconds: Int, val traced: Boolean, val cpus: Int) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Double]]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def sc = spark.sparkContext
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def sample(name: String, v: Double, tracedOp: Boolean): Unit =
    samples.synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        Seq(v, if (tracedOp) 1.0 else 0.0)
    }

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks.synchronized {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    }
    ok
  }

  /** Runs one measured operation. A call that throws, or whose result
    * `valid` rejects, counts as failed and yields no time. */
  def op[T](name: String)(call: => T)(valid: T => Boolean): Option[(T, Double)] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Right(call) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Right(v) if valid(v) => Some((v, ms))
      case Right(_) => fail(s"$name: wrong result"); None
      case Left(e) => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  def fail(what: String): Unit = {
    failedN.incrementAndGet()
    if (errors.size < 20) errors.add(what)
    System.err.println(s"graftbench: FAILED $what")
  }

  def failMany(n: Long, what: String): Unit = {
    attemptedN.addAndGet(n); failedN.addAndGet(n); errors.add(what)
  }

  /** Marks `n` already-attempted operations failed (a saturated run). */
  def failAlso(n: Long, what: String): Unit = {
    failedN.addAndGet(math.max(0L, n)); errors.add(what)
  }

  def errorList: Seq[String] = errors.toArray(Array.empty[String]).toSeq

  /** In the traced run, tracing is on for the middle half of the measured
    * window and off for the first and last quarters, so traced and
    * untraced operations interleave around any drift and their medians
    * give the tracing overhead. */
  def startTraceSlices(): Unit = if (traced) {
    val quarterMs = seconds * 250L
    val t = new Thread(() => {
      try {
        Thread.sleep(quarterMs); Trace.on = true
        Thread.sleep(2 * quarterMs); Trace.on = false
      } catch { case _: InterruptedException => Trace.on = false }
    }, "graftbench-trace-slices")
    t.setDaemon(true)
    t.start()
  }
}

/** One benchmark workload: `prepare` generates its inputs and warms the
  * paths it measures (part of set-up time); `measure` runs the timed
  * window; `verify` checks every output against the inputs. */
trait Workload {
  def prepare(): Unit
  def measure(): Unit
  def verify(): Unit
  def close(): Unit = ()
  /** A sample of generated records for the codec layer probe. */
  def codecSample: Seq[GenRec]
}

object Main {
  val SetupRepeats = 3

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        "graft.streaming.ForklessLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally paths.close()
    }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "stream_pipeline" => new StreamPipeline(ctx)
    case "bulk_log" => new BulkLog(ctx)
    case "fetch_serve" => new FetchServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def mark(what: String): Unit =
    System.err.println(f"graftbench: $what at ${Trace.nowMs / 1000}%.2f s")

  def main(args: Array[String]): Unit = {
    Trace.on = false // starts the run clock
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    val dir = Paths.get(opts("work-dir")).toAbsolutePath
    val launchMs = opts("launch-ms").toLong
    val cpus = Runtime.getRuntime.availableProcessors()

    // Set-up runs SetupRepeats times, each from a fresh session; the first
    // also pays JVM start (timed from when the launcher spawned the JVM).
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    for (k <- 0 until SetupRepeats) {
      val begin = if (k == 0) launchMs else System.currentTimeMillis()
      if (spark != null) {
        wl.close()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      deleteTree(dir)
      Files.createDirectories(dir)
      spark = session(cpus)
      ctx = new Ctx(spark, dir, seed, seconds, traced, cpus)
      wl = workload(name, ctx)
      wl.prepare()
      setupS += (System.currentTimeMillis() - begin) / 1000.0
      mark(s"set-up ${k + 1} done")
    }

    val sparkTrace = new SparkTrace
    val streamTrace = new StreamTrace
    if (traced) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.streams.addListener(streamTrace)
    }
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    val windowStart = Trace.nowMs
    wl.measure()
    val windowEnd = Trace.nowMs
    Trace.on = false
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    mark("window done")
    val codec = if (traced) CodecProbe.run(wl.codecSample) else Map.empty[String, Any]
    wl.verify()
    wl.close()
    mark("verify done")
    // listener events are delivered asynchronously; verification above
    // gives the bus time to drain before the per-span work is read
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS,
      "window_ms" -> Seq(windowStart, windowEnd),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errorList,
      "checks" -> ctx.checks,
      "samples" -> ctx.samples,
      "values" -> (ctx.values ++ Map("jvm.heap_used_max_mb" -> heapPeakMb) ++ codec),
      "spans" -> Trace.spansJson,
      "span_work" -> sparkTrace.json,
      "jobs_per_batch" -> sparkTrace.jobsPerBatch.asScala,
      "triggers" -> streamTrace.progress.asScala)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.write(out, Json(record).getBytes("UTF-8"))
    spark.stop()
    deleteTree(dir)
    mark("stopped")
    val correct = ctx.checks.forall(_("ok") == true) && ctx.checks.nonEmpty
    System.exit(if (correct) 0 else 3)
  }
}
