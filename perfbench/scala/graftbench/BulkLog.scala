package graftbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.CRC32

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.log.{Compaction, RecordLog}
import graft.streaming.Datalake
import graft.wasm.{GuestModules, WasmTransform}

/**
 * bulk_log — closed loop, batch. Each iteration produces the whole
 * generated log durably into a fresh `graftlog` topic, then runs a full
 * fetch, `WasmTransform(upperValue)`, compaction with tombstone GC and
 * `Datalake.commit` of the compacted table, in order. Every phase ends in
 * an action that forces every cell it reads, and each phase's result is
 * checked against values the benchmark computes from the generated
 * records alone.
 */
final class BulkLog(ctx: Ctx) extends Workload {
  val Partitions = 16
  val Records = 12000
  val WarmRecords = 4000
  val MinPipelines = 3
  val ValueSize = 1024
  val PTombstone = 0.03
  val Keys = 4000
  val BaseTs = 1700000000000L
  // tombstones older than this are collected by compaction
  val CutoffTs: Long = BaseTs + Records / 2

  private val spark = ctx.spark
  private var recs: IndexedSeq[GenRec] = IndexedSeq.empty
  private var input: DataFrame = null
  private var expect: Expect = null
  private var iteration = 0
  private var rawBytes = 0L
  private var segments = 0
  private var outInRatios = (0.0, 0.0)

  /** What every phase must return, derived from the generated records. */
  private final case class Expect(logRows: Long, logHash: Long,
      wasmHash: Long, compactRows: Long, compactHash: Long)

  override def codecSample: Seq[GenRec] = recs.take(2000)

  private def crc(parts: Array[Byte]*): Long = {
    val c = new CRC32
    parts.foreach(p => if (p != null) c.update(p))
    c.getValue
  }
  private def upper(v: Array[Byte]): Array[Byte] =
    if (v == null) null
    else v.map(b => if (b >= 'a' && b <= 'z') (b - 32).toByte else b)

  // Row hashes, written identically in Spark and in plain Scala below.
  private val empty = lit(Array.emptyByteArray)
  private def kvCrc(k: Column, v: Column): Column =
    crc32(concat(coalesce(k, empty), coalesce(v, empty)))
  private def logRowHash: Column =
    kvCrc(col("key"), col("value")).bitwiseXOR(shiftleft(col("offset"), 32))
      .bitwiseXOR(shiftleft(col("partition").cast("long"), 24))
      .bitwiseXOR(shiftleft(col("timestamp"), 8))
  private def keyRowHash: Column =
    crc32(col("key")).bitwiseXOR(shiftleft(col("offset"), 32))
      .bitwiseXOR(shiftleft(col("partition").cast("long"), 24))

  private def force(df: DataFrame, h: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  override def prepare(): Unit = {
    val gen = new Gen(ctx.seed, Keys, Partitions)
    recs = (0 until Records).map(i => gen.next(ValueSize, BaseTs + i, PTombstone))
    rawBytes = recs.map(r => r.key.length.toLong + Option(r.value).fold(0)(_.length)).sum

    // offsets are dense per partition in arrival order
    val next = Array.fill(Partitions)(0L)
    val offsets = recs.map { r => val o = next(r.partition); next(r.partition) += 1; o }
    var logHash = 0L; var wasmHash = 0L
    recs.indices.foreach { i =>
      val r = recs(i)
      logHash ^= crc(r.key, r.value) ^ (offsets(i) << 32) ^
        (r.partition.toLong << 24) ^ (r.ts << 8)
      wasmHash ^= crc(r.key, upper(r.value))
    }
    // last write wins per (partition, key); a surviving tombstone older
    // than the cutoff is collected
    val last = recs.indices.groupBy(i => (recs(i).partition, new String(recs(i).key, US_ASCII)))
      .values.map(_.max)
      .filterNot(i => recs(i).value == null && recs(i).ts < CutoffTs)
    var compactHash = 0L
    last.foreach { i =>
      compactHash ^= crc(recs(i).key) ^ (offsets(i) << 32) ^ (recs(i).partition.toLong << 24)
    }
    expect = Expect(Records, logHash, wasmHash, last.size, compactHash)

    input = cached(recs)
    // warm-up: one unchecked pipeline over the first WarmRecords records,
    // cached the same way, so the measured plans find their generated code
    val warm = cached(recs.take(WarmRecords))
    pipeline(warm, WarmRecords, checked = false)
    warm.unpersist()
  }

  private def cached(rs: Seq[GenRec]): DataFrame = {
    val rows = rs.zipWithIndex.map { case (r, i) =>
      Row(r.partition, i.toLong, r.ts, r.key, r.value)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, ctx.cpus), Produce.InSchema)
      .persist(StorageLevel.MEMORY_ONLY)
    require(df.count() == rs.size)
    df
  }

  private def phase[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = Trace.span(ctx.sc, name)(body)
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** One full pipeline; returns per-phase ms and whether every phase
    * returned what the generated records say it must. */
  private def pipeline(in: DataFrame, rows: Long, checked: Boolean): (Map[String, Double], Boolean) = {
    val dir = ctx.dir.resolve(s"iter-$iteration")
    iteration += 1
    val topic = dir.resolve("topic").toString
    val lake = dir.resolve("lake").toString
    val (_, produceMs) = phase("log.append") {
      val out = Trace.span(ctx.sc, "log.assignOffsetsScalable") {
        RecordLog.assignOffsetsScalable(in, col("p"), col("arrival"),
            floor(col("arrival") / 4096))
          .select(Produce.LogCols.map(col): _*)
      }
      Trace.span(ctx.sc, "sources.graftlog_write") {
        out.write.format("graftlog").mode("append").option("path", topic).save()
      }
    }
    segments = Produce.segments(topic)
    val log = spark.read.format("graftlog").load(topic)
    val (fetched, fetchMs) = phase("log.fetch_all")(force(log, logRowHash))
    val (wasm, wasmMs) = phase("wasm.WasmTransform") {
      force(WasmTransform(log, GuestModules.upperValue),
        kvCrc(col("key"), col("value")))
    }
    val tombstone = length(col("value")) === 0
    val ((compacted, expired, compactedDf), compactMs) = phase("log.compactWithTombstones") {
      val c = Compaction.compactWithTombstones(log, Seq("partition", "key"),
        tombstone, col("timestamp"), lit(CutoffTs))
        .persist(StorageLevel.MEMORY_ONLY)
      val r = c.agg(count(lit(1)), bit_xor(keyRowHash),
        count(when(tombstone && col("timestamp") < CutoffTs, 1))).head()
      ((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)), r.getLong(2), c)
    }
    val (_, commitMs) = phase("streaming.Datalake.commit") {
      Datalake.commit(compactedDf, timestamp_millis(col("timestamp")), lake,
        Datalake.dayPartition)
    }
    compactedDf.unpersist()
    outInRatios = (wasm._1.toDouble / rows, compacted._1.toDouble / rows)
    val ok = !checked || {
      val committed = Datalake.snapshots(spark, lake).agg(sum("n_rows")).head()
      Seq(
        ctx.check("fetch returns the generated log (rows, xor-hash)",
          fetched == (expect.logRows, expect.logHash),
          s"got $fetched want ${(expect.logRows, expect.logHash)}"),
        ctx.check("transform output is the upper-cased log",
          wasm == (expect.logRows, expect.wasmHash),
          s"got $wasm want ${(expect.logRows, expect.wasmHash)}"),
        ctx.check("no tombstone older than the cutoff survives compaction",
          expired == 0, s"$expired expired tombstones kept"),
        ctx.check("compaction equals last-write-wins with tombstone GC",
          compacted == (expect.compactRows, expect.compactHash),
          s"got $compacted want ${(expect.compactRows, expect.compactHash)}"),
        ctx.check("datalake commit holds the compacted rows",
          committed.getLong(0) == expect.compactRows,
          s"committed ${committed.get(0)} want ${expect.compactRows}")
      ).forall(identity)
    }
    val ms = Map("produce" -> produceMs, "fetch" -> fetchMs, "wasm" -> wasmMs,
      "compact" -> compactMs, "commit" -> commitMs)
    Main.deleteTree(dir)
    (ms, ok)
  }

  override def measure(): Unit = {
    // A pipeline starts while at least half of the previous one's time
    // remains, so the window overruns `seconds` by at most half a run, but
    // at least MinPipelines run: the first measured pipeline still runs
    // slower than the rest, and a median over two would average it in.
    val endNs = System.nanoTime() + ctx.seconds * 1000000000L
    var lastNs = 0L
    while (ctx.attempted < MinPipelines || System.nanoTime() + lastNs / 2 < endNs) {
      val t0 = System.nanoTime()
      // in the traced run every second pipeline is traced; the others
      // give the untraced medians the tracing overhead is measured against
      Trace.on = ctx.traced && ctx.attempted % 2 == 1
      val traced = Trace.on
      ctx.op("pipeline") {
        Trace.span(ctx.sc, "op.pipeline", s"iter-$iteration")(pipeline(input, Records, checked = true))
      }(_._2).foreach { case ((ms, _), wall) =>
        ctx.sample("pipeline_ms", wall, traced)
        ms.foreach { case (k, v) => ctx.sample(s"${k}_ms", v, traced) }
      }
      lastNs = System.nanoTime() - t0
    }
    ctx.values ++= Map("raw_bytes" -> rawBytes, "records" -> Records,
      "sources.segments_total" -> segments,
      "sources.segments_per_append" -> segments,
      "wasm_out_in_ratio" -> outInRatios._1,
      "compact_out_in_ratio" -> outInRatios._2)
  }

  override def verify(): Unit =
    ctx.check("at least one pipeline ran and passed", ctx.attempted > 0 &&
      ctx.failed == 0, s"${ctx.failed} of ${ctx.attempted} pipelines failed")

  override def close(): Unit = if (input != null) input.unpersist()
}
