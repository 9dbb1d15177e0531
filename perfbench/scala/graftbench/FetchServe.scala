package graftbench

import java.util.concurrent.atomic.AtomicReference

import graft.log.RecordLog
import graft.sources.LogSource

/**
 * fetch_serve — closed loop. `cpus - 1` consumer threads issue point
 * fetches (`RecordLog.fetch`, random partition and offset below the
 * published high watermark, 100-record budget) against a pre-built
 * multi-segment `graftlog` topic of 100 B values, while one producer
 * thread appends a small request every `AppendIntervalMs` (or at once, when
 * the previous append ran late) beside them. Each append rolls new small
 * segments and republishes the index the fetches plan against.
 */
final class FetchServe(ctx: Ctx) extends Workload {
  val Partitions = 16
  val ValueSize = 100
  val BaseRecords = 24000
  val BaseAppends = 2
  val RequestRecords = 128
  val FetchRows = 100
  val SegmentRecords = "250"
  val Keys = 10000
  val AppendIntervalMs = 500L

  private val spark = ctx.spark
  private val topic = ctx.dir.resolve("topic").toString
  private var gen: Gen = null
  private var base: IndexedSeq[GenRec] = IndexedSeq.empty
  /** Published high watermarks; replaced (never mutated) after each append. */
  private val published = new AtomicReference(Array.fill(Partitions)(0L))

  override def codecSample: Seq[GenRec] = base.take(2000)

  private def append(recs: Seq[GenRec]): Unit = {
    val hwm = published.get
    Produce.append(ctx, topic, recs, hwm, Map("segment.records" -> SegmentRecords))
    published.set(Produce.advanced(hwm, recs))
  }

  /** One point fetch; returns the offsets it got. `hwm0` is the published
    * high watermark before the call, `hwm1` the one read after it. */
  private def fetch(p: Int, from: Long): Array[Long] =
    Trace.span(ctx.sc, "log.fetch") {
      RecordLog.fetch(spark.read.format("graftlog").load(topic), p, from, FetchRows)
        .select("offset", "value").collect()
    }.map(_.getLong(0))

  /** Share of the index's segments a fetch's pushed bounds keep. */
  private def keptRatio(p: Int, from: Long): Double = {
    val all = LogSource.parseIndex(topic)
    val b = LogSource.Bounds(Some(Set(p)), from, Long.MaxValue, Long.MinValue, Long.MaxValue)
    all.count(b.segmentSurvives).toDouble / all.size
  }

  private def fetchValid(got: Array[Long], from: Long, hwm0: Long, hwm1: Long): Boolean =
    got.length >= math.min(FetchRows, hwm0 - from) &&
      got.length <= math.min(FetchRows, hwm1 - from) &&
      got.indices.forall(i => got(i) == from + i)

  override def prepare(): Unit = {
    gen = new Gen(ctx.seed, Keys, Partitions)
    base = (0 until BaseRecords).map(i => gen.next(ValueSize, 1700000000000L + i))
    base.grouped(BaseRecords / BaseAppends).foreach(append)
    // warm-up: fetches on every partition and two small appends
    val rnd = new java.util.SplittableRandom(ctx.seed)
    (0 until 2).foreach(_ => append(nextRequest()))
    (0 until 24).foreach { i =>
      val p = i % Partitions
      val h = published.get()(p)
      val from = rnd.nextLong(h)
      require(fetchValid(fetch(p, from), from, h, published.get()(p)),
        "warm-up fetch returned wrong rows")
    }
  }

  private def nextRequest(): IndexedSeq[GenRec] =
    (0 until RequestRecords).map(_ => gen.next(ValueSize, 1700000000000L))

  override def measure(): Unit = {
    val segmentsBefore = Produce.segments(topic)
    val endNs = System.nanoTime() + ctx.seconds * 1000000000L
    ctx.startTraceSlices()
    // pre-generate the producer's requests: generation stays off the clock
    val requests = Iterator.continually(nextRequest())
      .take((ctx.seconds * 1000L / AppendIntervalMs).toInt + 1).toIndexedSeq
    val consumers = (0 until math.max(1, ctx.cpus - 1)).map { t =>
      new Thread(() => {
        val rnd = new java.util.SplittableRandom(ctx.seed * 31 + t)
        var n = 0
        while (System.nanoTime() < endNs) {
          val p = rnd.nextInt(Partitions)
          val hwm0 = published.get()(p)
          val from = rnd.nextLong(hwm0)
          val traced = Trace.on
          ctx.op("fetch") {
            Trace.span(ctx.sc, "op.fetch", s"fetch-$t-$n")(fetch(p, from))
          }(got => fetchValid(got, from, hwm0, published.get()(p)))
            .foreach { case (_, ms) => ctx.sample("fetch_ms", ms, traced) }
          if (traced) ctx.sample("fetch_kept_ratio", keptRatio(p, from), traced)
          n += 1
        }
      }, s"graftbench-fetch-$t")
    }
    val producer = new Thread(() => {
      // paced, so the index grows by the same number of appends in every
      // run and the fetches' planning cost does not feed back on append speed
      val clock = new DueClock(System.nanoTime(), AppendIntervalMs * 1000000L)
      var i = 0
      while (clock.due(i) < endNs && i < requests.size) {
        clock.awaitDue(i)
        val traced = Trace.on
        ctx.op("append") {
          Trace.span(ctx.sc, "op.produce", s"append-$i")(append(requests(i)))
        }(_ => true).foreach { case (_, ms) => ctx.sample("append_ms", ms, traced) }
        i += 1
      }
      ctx.values("appends") = i
    }, "graftbench-produce")
    (consumers :+ producer).foreach(_.start())
    (consumers :+ producer).foreach(_.join())
    val appends = ctx.values("appends").asInstanceOf[Int]
    ctx.values ++= Map("consumer_threads" -> consumers.size,
      "sources.segments_total" -> Produce.segments(topic),
      "sources.segments_per_append" ->
        (Produce.segments(topic) - segmentsBefore).toDouble / math.max(1, appends))
  }

  override def verify(): Unit = {
    // requests are sent in generation order, so the ids sent are 0 until n
    val sent = published.get.sum
    val ids = Produce.checkDense(ctx, topic, published.get)
    ctx.check("topic holds every sent record once", ids.sorted == (0L until sent),
      s"${ids.size} ids read, ${ids.distinct.size} distinct; $sent sent")
    ctx.check("no fetch or append failed", ctx.failed == 0,
      s"${ctx.failed} of ${ctx.attempted} operations failed")
  }
}
