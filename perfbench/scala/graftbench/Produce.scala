package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.log.RecordLog
import graft.sources.LogSource

/** Shapes shared by the workloads that produce through `appendBatch`. */
object Produce {
  val InSchema: StructType = StructType(Seq(
    StructField("p", IntegerType, nullable = false),
    StructField("arrival", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true)))
  val HwmSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("hwm", LongType, nullable = false)))
  val LogCols: Seq[String] = Seq("partition", "offset", "timestamp", "key", "value")

  /** One produce request: `appendBatch` on top of the caller's high
    * watermarks, then a durable `graftlog` append whose driver-side commit
    * publishes the segment index. Returns when the index is published. */
  def append(ctx: Ctx, topic: String, recs: Seq[GenRec], hwm: Array[Long],
      options: Map[String, String] = Map.empty): Unit = {
    val spark = ctx.spark
    val rows = recs.zipWithIndex.map { case (r, i) =>
      Row(r.partition, i.toLong, r.ts, r.key, r.value)
    }
    Trace.span(ctx.sc, "log.append") {
      val out = Trace.span(ctx.sc, "log.appendBatch") {
        val batch = spark.createDataFrame(rows.asJava, InSchema)
        val marks = spark.createDataFrame(
          hwm.indices.map(p => Row(p, hwm(p))).asJava, HwmSchema)
        RecordLog.appendBatch(batch, marks, col("p"), col("arrival"))
          .select(LogCols.map(col): _*)
      }
      Trace.span(ctx.sc, "sources.graftlog_write") {
        out.write.format("graftlog").mode("append").options(options)
          .option("path", topic).save()
      }
    }
  }

  def segments(topic: String): Int = LogSource.parseIndex(topic).size

  /** `hwm` advanced by the records of one request. */
  def advanced(hwm: Array[Long], recs: Seq[GenRec]): Array[Long] = {
    val next = hwm.clone()
    recs.foreach(r => next(r.partition) += 1)
    next
  }

  /** The value's generated id (see [[Gen.value]]), upper- or lowercase. */
  val idOf: org.apache.spark.sql.Column =
    substring(col("value").cast("string"), 4, 12).cast("long")

  /** Reads a graftlog topic's (partition, offset, id) rows, checks that
    * offsets are dense from 0 per partition up to `hwm`, and returns the
    * ids read, in no particular order. */
  def checkDense(ctx: Ctx, topic: String, hwm: Array[Long]): Seq[Long] = {
    val rows = ctx.spark.read.format("graftlog").load(topic)
      .select(col("partition"), col("offset"), idOf).collect()
    val got = rows.groupBy(_.getInt(0)).map { case (p, rs) =>
      p -> rs.map(_.getLong(1)).sorted.toSeq
    }
    val bad = hwm.indices.filterNot(p => got.getOrElse(p, Seq.empty) == (0L until hwm(p)))
    ctx.check("log offsets dense from 0 per partition",
      bad.isEmpty && got.keySet.forall(hwm.indices.contains),
      s"partitions ${bad.mkString(",")} differ from 0 until hwm")
    rows.map(_.getLong(2)).toSeq
  }
}
