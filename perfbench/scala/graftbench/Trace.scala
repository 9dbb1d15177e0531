package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded call into graft: times in ms since the run's clock origin. */
final case class SpanRec(id: Long, parent: Long, req: String, name: String,
    startMs: Double, endMs: Double)

/**
 * In-memory tracing for the traced run. A span wraps one call into a graft
 * public function; the span id is set as a Spark local property on the
 * calling thread for the call's duration, so [[SparkTrace]] can charge
 * every job, stage and task the call submits to it. Spans nest through a
 * thread-local parent; spans of one operation share its request id.
 *
 * Tracing is off unless `on` is set, and then costs one branch per call.
 */
object Trace {
  val SpanKey = "graftbench.span"
  private val originNs = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def ofEpochMs(ms: Long): Double = (ms - originEpochMs).toDouble

  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }
  val spans = new ConcurrentLinkedQueue[SpanRec]()

  /** Runs `body` as span `name`; `req` starts a new operation, otherwise
    * the span joins its parent's. */
  def span[T](sc: SparkContext, name: String, req: String = null)(body: => T): T =
    if (!on) body
    else {
      val (parent, parentReq) = current.get
      val id = ids.incrementAndGet()
      val r = if (req != null) req else parentReq
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set((id, r))
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        spans.add(SpanRec(id, parent, r, name, start, nowMs))
        current.set((parent, parentReq))
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  def spansJson: Seq[Seq[Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Seq(s.id, s.parent, s.req, s.name, s.startMs, s.endMs))
}

/** Spark work charged to one span. */
final class SpanWork {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var schedDelayMs = 0L
  var firstJobMs: Double = Double.NaN
  val stageIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def json: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "sched_delay_ms" -> schedDelayMs,
    "first_job_ms" -> firstJobMs,
    "stage_intervals" -> stageIntervals.map { case (a, b) => Seq(a, b) })
}

/**
 * Attributes Spark jobs, stages and tasks to the span whose id the
 * submitting thread carried, and counts jobs per streaming micro-batch
 * (Spark tags those with the batch id local property).
 */
final class SparkTrace extends SparkListener {
  private val work = new ConcurrentHashMap[Long, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val jobsPerBatch = new ConcurrentHashMap[Long, Int]()

  private def of(span: Long): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    if (props != null) {
      Option(props.getProperty(Trace.SpanKey)).foreach { s =>
        val w = of(s.toLong)
        w.synchronized {
          w.jobs += 1
          val t = Trace.ofEpochMs(e.time)
          if (w.firstJobMs.isNaN || t < w.firstJobMs) w.firstJobMs = t
        }
        e.stageIds.foreach(stageSpan.put(_, s.toLong))
      }
      Option(props.getProperty("streaming.sql.batchId")).foreach { b =>
        jobsPerBatch.merge(b.toLong, 1, (a: Int, c: Int) => a + c)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.get(info.stageId)).foreach { s =>
      val w = of(s)
      w.synchronized {
        w.stages += 1
        for (a <- info.submissionTime; b <- info.completionTime)
          w.stageIntervals += ((Trace.ofEpochMs(a), Trace.ofEpochMs(b)))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = of(s)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.diskBytesSpilled
          w.schedDelayMs += math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime)
        }
      }
    }
  }

  def json: Map[String, Any] =
    work.asScala.toSeq.sortBy(_._1).map { case (k, w) =>
      k.toString -> w.synchronized(w.json)
    }.toMap
}

/** Records every micro-batch's `durationMs` phases and input rows. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
