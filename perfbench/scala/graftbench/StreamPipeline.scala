package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.LogStreamOffset
import graft.streaming.Datalake
import graft.wasm.{GuestModules, WasmTransform}

/**
 * stream_pipeline — open loop. One generator thread sends a produce request
 * every `IntervalMs` (`RequestRecords` records of 1 KiB values over 8
 * partitions); a `ProcessingTime` query over the `graftlog` topic runs
 * `WasmTransform(upperValue)` and `Datalake.commit` on every trigger.
 * Publish latency runs from a request's due time to its published append;
 * end-to-end latency from its due time to the end of the commit that makes
 * it visible in the datalake table.
 */
final class StreamPipeline(ctx: Ctx) extends Workload {
  val Partitions = 8
  val ValueSize = 1024
  val RequestRecords = 64
  val IntervalMs = 450L
  val TriggerMs = 1000L
  val WarmRequests = 3

  private final class Req(val recs: IndexedSeq[GenRec]) {
    var dueNs = 0L
    var traced = false
    var hwmAfter: Array[Long] = Array.empty
    @volatile var visibleNs = 0L
  }

  private val spark = ctx.spark
  private val topic = ctx.dir.resolve("topic").toString
  private val ckpt = ctx.dir.resolve("checkpoint")
  private val lake = ctx.dir.resolve("lake").toString
  private val windowRequests =
    (ctx.seconds * 1000L / IntervalMs).toInt + 1
  private val hwm = Array.fill(Partitions)(0L)
  private val pending = mutable.Queue.empty[Req]
  private var requests: IndexedSeq[Req] = IndexedSeq.empty
  private var query: StreamingQuery = null

  override def codecSample: Seq[GenRec] =
    requests.iterator.flatMap(_.recs).take(2000).toSeq

  override def prepare(): Unit = {
    val gen = new Gen(ctx.seed, nKeys = 1000, Partitions)
    val base = 1700000000000L
    requests = (0 until WarmRequests + windowRequests).map { i =>
      new Req((0 until RequestRecords).map(_ => gen.next(ValueSize, base + i)))
    }
    // the source needs a published index before the query can start
    send(requests(0))
    query = spark.readStream.format("graftlog").option("path", topic).load()
      .writeStream
      .foreachBatch((df: DataFrame, batchId: Long) => onTrigger(df, batchId))
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    requests.slice(1, WarmRequests).foreach(send)
    awaitVisible(60000L)
    require(requests.take(WarmRequests).forall(_.visibleNs > 0),
      "warm-up requests never reached the datalake table")
  }

  private def send(r: Req): Unit = {
    r.hwmAfter = Produce.advanced(hwm, r.recs)
    // registered before the append: a trigger may see the records before
    // the append call returns
    pending.synchronized(pending.enqueue(r))
    Produce.append(ctx, topic, r.recs, hwm)
    System.arraycopy(r.hwmAfter, 0, hwm, 0, Partitions)
  }

  private def onTrigger(df: DataFrame, batchId: Long): Unit =
    Trace.span(ctx.sc, "op.trigger", s"trigger-$batchId") {
      val out = Trace.span(ctx.sc, "wasm.WasmTransform") {
        WasmTransform(df, GuestModules.upperValue)
      }
      Trace.span(ctx.sc, "streaming.Datalake.commit") {
        Datalake.commit(out.withColumn("commit_ts", current_timestamp()),
          col("commit_ts"), lake, Datalake.dayPartition)
      }
      val endNs = System.nanoTime()
      val ends = batchEnds(batchId)
      pending.synchronized {
        while (pending.nonEmpty && pending.head.hwmAfter.indices.forall(p =>
            ends.getOrElse(p, 0L) >= pending.head.hwmAfter(p)))
          pending.dequeue().visibleNs = endNs
      }
    }

  /** The per-partition end offsets of micro-batch `batchId`, from the
    * offset log the query wrote before running it. */
  private def batchEnds(batchId: Long): Map[Int, Long] = {
    val lines = Files.readAllLines(ckpt.resolve("offsets").resolve(batchId.toString))
      .asScala.filter(_.trim.nonEmpty)
    LogStreamOffset.parse(lines.last).ends
  }

  private def awaitVisible(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (pending.synchronized(pending.nonEmpty) &&
        System.currentTimeMillis() < deadline && query.isActive)
      Thread.sleep(20)
  }

  override def measure(): Unit = {
    val window = requests.drop(WarmRequests)
    val clock = new DueClock(System.nanoTime() + IntervalMs * 1000000L, IntervalMs * 1000000L)
    val endNs = clock.startNs + ctx.seconds * 1000000000L
    val segmentsBefore = Produce.segments(topic)
    ctx.startTraceSlices()
    var lateMax = 0.0
    var genBacklogMax = 0L
    var sent = 0
    var broken = false
    while (!broken && sent < window.size && clock.due(sent) < endNs) {
      val r = window(sent)
      clock.awaitDue(sent)
      val now = System.nanoTime()
      r.dueNs = clock.due(sent)
      lateMax = math.max(lateMax, clock.lateNs(sent, now) / 1e6)
      genBacklogMax = math.max(genBacklogMax, clock.backlog(sent, now))
      val traced = Trace.on
      r.traced = traced
      ctx.op("produce") {
        Trace.span(ctx.sc, "op.produce", s"req-$sent") { send(r) }
      }(_ => true) match {
        case Some(_) =>
          ctx.sample("publish_ms", (System.nanoTime() - r.dueNs) / 1e6, traced)
        case None => broken = true
      }
      sent += 1
    }
    val sentReqs = window.take(sent)
    // drain: every published request must reach the table
    awaitVisible(math.max(10000L, 8 * TriggerMs))
    query.exception.foreach(e => ctx.fail(s"stream query failed: ${e.getMessage}"))
    query.stop()
    sentReqs.foreach { r =>
      if (r.visibleNs > 0)
        ctx.sample("e2e_ms", (r.visibleNs - r.dueNs) / 1e6, r.traced)
    }
    if (broken) ctx.failMany(window.size - sent, "produce failed; rest of window not sent")

    // Saturation: requests due but not yet visible, sampled at each due
    // time; a backlog that grows from the first third of the window to the
    // last means the rate is not sustainable, and then no request of the
    // run counts as served.
    val dues = sentReqs.map(_.dueNs)
    val vis = sentReqs.map(r => if (r.visibleNs > 0) r.visibleNs else Long.MaxValue)
    val backlog = dues.indices.map(i => (0 to i).count(j => vis(j) > dues(i)))
    val third = math.max(1, backlog.size / 3)
    def mean(xs: Seq[Int]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val growth = mean(backlog.takeRight(third)) - mean(backlog.take(third))
    val unseen = vis.count(_ == Long.MaxValue)
    val saturated = growth > 2.0 || unseen > 0
    if (saturated) ctx.failAlso(sent - ctx.failed, s"saturated: backlog growth $growth, $unseen never visible")
    ctx.values ++= Map(
      "requests_sent" -> sent,
      "sources.segments_total" -> Produce.segments(topic),
      "sources.segments_per_append" ->
        (Produce.segments(topic) - segmentsBefore).toDouble / math.max(1, sent),
      "request_records" -> RequestRecords,
      "interval_ms" -> IntervalMs,
      "trigger_ms" -> TriggerMs,
      "saturated" -> saturated,
      "backlog_growth_requests" -> growth,
      "streaming.generator_late_ms_max" -> lateMax,
      "streaming.generator_backlog_max" -> genBacklogMax,
      "streaming.backlog_max_records" -> (backlog.foldLeft(0)(math.max) * RequestRecords))
  }

  override def verify(): Unit = {
    val sent = requests.takeWhile(_.hwmAfter.nonEmpty)
    val ids = sent.flatMap(_.recs.map(_.id)).sorted
    val topicIds = Produce.checkDense(ctx, topic, hwm).sorted
    ctx.check("topic holds every generated record once", topicIds == ids,
      s"topic has ${topicIds.size} ids, ${topicIds.distinct.size} distinct; sent ${ids.size}")
    val v = col("value").cast("string")
    val table = Datalake.readTable(spark, lake)
      .select(Produce.idOf, v.startsWith("ID=") && !v.rlike("[a-z]")).collect()
    val tableIds = table.map(_.getLong(0)).sorted.toSeq
    ctx.check("datalake table holds every record once", tableIds == ids,
      s"table has ${tableIds.size} ids, ${tableIds.distinct.size} distinct; sent ${ids.size}")
    ctx.check("transform output is the upper-cased value", table.forall(_.getBoolean(1)),
      s"${table.count(!_.getBoolean(1))} rows not upper-cased")
    val committed = Datalake.snapshots(spark, lake).collect().map(_.getLong(2)).sum
    ctx.check("snapshot row counts add up to the records sent", committed == ids.size,
      s"snapshots record $committed rows, want ${ids.size}")
  }

  override def close(): Unit =
    if (query != null && query.isActive) query.stop()
}
