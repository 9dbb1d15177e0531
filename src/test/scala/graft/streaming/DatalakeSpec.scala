package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.SparkSpec

/** D1/D6 + U2/U4 end-to-end: partitioned commits with snapshot expiry,
  * multi-output multiplexing, and the transform deploy→pause→resume
  * lifecycle with offset-start options. */
class DatalakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def mkRows(ids: Range) = ids.map { i =>
    (i.toLong, s"2024-01-01 ${"%02d".format(i % 24)}:00:00", s"v$i")
  }.toDF("offset", "ts_s", "v").withColumn("timestamp", col("ts_s").cast("timestamp")).drop("ts_s")

  test("commits are hour-partitioned; expiry drops old snapshots' data and metadata") {
    val out = tmp("dl")
    val s1 = Datalake.commit(mkRows(0 until 10), col("timestamp"), out)
    val s2 = Datalake.commit(mkRows(10 until 30), col("timestamp"), out)
    val s3 = Datalake.commit(mkRows(30 until 35), col("timestamp"), out)
    assert(Seq(s1, s2, s3) === Seq(1L, 2L, 3L))
    assert(Datalake.readTable(spark, out).count() === 35)
    // hourly partition directories exist (hour(timestamp) spec)
    val hours = Datalake.readTable(spark, out).select("p_key").distinct().count()
    assert(hours > 1)

    val expired = Datalake.expireSnapshots(spark, out, keepLast = 2)
    assert(expired === Seq(1L))
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(2L, 3L))
    assert(Datalake.readTable(spark, out).count() === 25) // snapshot 1's 10 rows physically gone
  }

  test("a crashed metadata version (no _SUCCESS) is skipped by readers and overwritten by the next write") {
    val out = tmp("dlcrash")
    Datalake.commit(mkRows(0 until 10), col("timestamp"), out) // metadata v=1
    // Simulate a crash mid-metadata-write: a partial v=2 dir whose
    // _SUCCESS marker never landed.
    val partial = s"$out/snapshots/v=2"
    Seq((999L, 0L, 0L)).toDF("snapshot_id", "committed_at_ms", "n_rows")
      .coalesce(1).write.parquet(partial)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$partial/_SUCCESS"), false)
    // Readers must ignore the partial version — phantom snapshot 999 invisible.
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(1L))
    // The next commit targets v=2 again and harmlessly overwrites the wreck.
    Datalake.commit(mkRows(10 until 15), col("timestamp"), out)
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(Datalake.readTable(spark, out).count() === 15)
    // Expiry commits through the same versioned path and stays readable.
    Datalake.expireSnapshots(spark, out, keepLast = 1)
    assert(Datalake.snapshots(spark, out).select("snapshot_id").as[Long].collect().toSet === Set(2L))
    assert(Datalake.readTable(spark, out).count() === 5)
  }

  test("commit of an empty batch records n_rows=0; a crash-retried snapshot id does not duplicate rows") {
    val out = tmp("dledge")
    val s1 = Datalake.commit(mkRows(0 until 0), col("timestamp"), out)
    assert(Datalake.snapshots(spark, out).select("n_rows").as[Long].collect().toSeq === Seq(0L))
    assert(s1 === 1L)
    // Simulate a crash between data write and metadata commit: orphan
    // rows already sit under the id the retry will reuse (snapshot 2).
    mkRows(0 until 7).withColumn("p_key", lit("2024-01-01-00"))
      .withColumn("snapshot_id", lit(2L))
      .write.mode("append").partitionBy("snapshot_id", "p_key").parquet(s"$out/data")
    Datalake.commit(mkRows(0 until 7), col("timestamp"), out)
    // The retry must publish exactly the 7 committed rows, not 14.
    assert(Datalake.readTable(spark, out).count() === 7)
  }

  /** Runs `body` under a fresh job group and counts the Spark jobs it
    * started. The listener bus is asynchronous, so a marker job in a
    * second group follows the body: once the listener has seen the
    * marker start, every earlier job start has been delivered too. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"dl-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val markers = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markers.incrementAndGet()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds), interval(20.millis))(assert(markers.get() === 1))
      (a, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("a commit runs only its data write; snapshots and readTable planning run no job") {
    val out = tmp("dljobs")
    Datalake.commit(mkRows(0 until 10), col("timestamp"), out)
    // 20 rows over hours 10..23 and 0..5: the new snapshot spans many p_key dirs
    val (snap, commitJobs) = withJobCount(
      Datalake.commit(mkRows(10 until 30), col("timestamp"), out))
    assert(snap === 2L)
    val pKeyDirs = new java.io.File(s"$out/data/snapshot_id=$snap").list()
      .count(_.startsWith("p_key="))
    assert(pKeyDirs >= 2)
    assert(commitJobs <= 2, s"commit ran $commitJobs jobs")
    val (snaps, snapshotJobs) = withJobCount(Datalake.snapshots(spark, out).collect())
    assert(snapshotJobs === 0)
    val (table, planJobs) = withJobCount(Datalake.readTable(spark, out))
    assert(planJobs === 0)
    val nRows = snaps.find(_.getLong(0) == snap).get.getLong(2)
    assert(nRows === 20L)
    assert(nRows === table.where(col("snapshot_id") === snap).count())
  }

  test("multiplexer routes rows to per-output hour-partitioned tables") {
    val base = tmp("mux")
    val rows = mkRows(0 until 20).withColumn("kind",
      when(col("offset") % 3 === 0, "a").otherwise("b"))
    val written = Datalake.writeMultiplexed(rows, concat(lit("t_"), col("kind")),
      col("timestamp"), base)
    assert(written.toMap === Map("t_a" -> 7L, "t_b" -> 13L))
    assert(spark.read.parquet(s"$base/t_a").count() === 7)
    assert(spark.read.parquet(s"$base/t_b").where(col("p_key").isNotNull).count() === 13)
  }

  private val inputSchema = StructType(Seq(
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("v", StringType)))

  test("transform lifecycle: deploy processes, pause retains checkpoint, resume picks up only new rows") {
    val in = tmp("t_in"); val outDir = tmp("t_out"); val ckpt = tmp("t_ckpt")
    mkRows(0 until 10).select("offset", "timestamp", "v")
      .write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("mirror",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")))
    val q1 = Transforms.deploy(spark, spec, ckpt, outDir)
    q1.awaitTermination()
    assert(spark.read.parquet(outDir).count() === 10)
    assert(Transforms.pause(spark, "mirror") === false) // AvailableNow already finished

    // append more input while paused; resume processes ONLY the new rows
    mkRows(10 until 15).select("offset", "timestamp", "v")
      .write.mode("append").parquet(in)
    val q2 = Transforms.deploy(spark, spec, ckpt, outDir)
    q2.awaitTermination()
    val vals = spark.read.parquet(outDir).as[String].collect().toSeq
    assert(vals.length === 15)             // no double-processing of the first 10
    assert(vals.toSet === (0 until 15).map(i => s"v$i").toSet)
  }

  test("FromEnd skips the pre-deploy log; FromTimestamp starts at the timestamp") {
    val in = tmp("e_in"); val outDir = tmp("e_out"); val ckpt = tmp("e_ckpt")
    mkRows(0 until 8).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("from_end",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")),
      start = Transforms.FromEnd)
    // hwm snapshot at deploy = 7, so the first run emits nothing...
    Transforms.deploy(spark, spec, ckpt, outDir).awaitTermination()
    // ...but rows appended after deploy are processed on resume
    mkRows(8 until 12).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    Transforms.deploy(spark, spec.copy(start = Transforms.FromCommitted), ckpt, outDir)
      .awaitTermination()
    val got = spark.read.parquet(outDir).as[String].collect().toSet
    assert(got === Set("v8", "v9", "v10", "v11"))

    val outTs = tmp("ts_out"); val ckptTs = tmp("ts_ckpt")
    val specTs = Transforms.TransformSpec[String]("from_ts",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")),
      start = Transforms.FromTimestamp(
        java.sql.Timestamp.valueOf("2024-01-01 06:00:00").getTime))
    Transforms.deploy(spark, specTs, ckptTs, outTs).awaitTermination()
    val gotTs = spark.read.parquet(outTs).as[String].collect().toSet
    // hours 06..11 of the 12 appended rows (0..11 map to hours 0..11)
    assert(gotTs === (6 until 12).map(i => s"v$i").toSet)
  }

  test("transform delete drops committed progress; redeploy reprocesses from scratch") {
    val in = tmp("d_in"); val outDir = tmp("d_out"); val ckpt = tmp("d_ckpt")
    mkRows(0 until 6).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[String]("deleteme",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => Seq(r.getAs[String]("v")))
    Transforms.deploy(spark, spec, ckpt, outDir).awaitTermination()
    assert(spark.read.parquet(outDir).count() === 6)
    assert(Transforms.delete(spark, "deleteme", ckpt))
    // Redeploy after delete is a NEW transform instance: with progress
    // gone it reprocesses ALL input (a paused-then-resumed one would
    // process none — see the lifecycle test above).
    val outDir2 = tmp("d_out2")
    Transforms.deploy(spark, spec, ckpt, outDir2).awaitTermination()
    assert(spark.read.parquet(outDir2).count() === 6)
  }

  test("multi-output transform fans out to per-table paths under one checkpoint") {
    val in = tmp("m_in"); val base = tmp("m_base"); val ckpt = tmp("m_ckpt")
    mkRows(0 until 9).select("offset", "timestamp", "v").write.mode("append").parquet(in)
    val spec = Transforms.TransformSpec[(String, String)]("fanout",
      Transforms.PathInput(in, inputSchema),
      (r: org.apache.spark.sql.Row) => {
        val v = r.getAs[String]("v")
        val route = if (r.getAs[Long]("offset") % 2 == 0) "evens" else "odds"
        Seq((route, v))
      })
    Transforms.deployMulti(spark, spec, ckpt, base).awaitTermination()
    assert(spark.read.parquet(s"$base/evens").count() === 5)
    assert(spark.read.parquet(s"$base/odds").count() === 4)
  }
}
