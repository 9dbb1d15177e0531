package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Pins._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/**
 * Datalake materialization (SURVEY §2.7 D1/D4/D6): continuous
 * translation of topic logs into partitioned analytical tables with
 * snapshot metadata and expiry.
 *
 * Reference: the record multiplexer consumes batches and routes them to
 * per-output partitioning writers (`datalake/record_multiplexer.h:32`);
 * the default partition spec is hourly on the record timestamp
 * (`datalake/table_definition.cc:57-66`); commits append manifests and
 * snapshots through the catalog (`iceberg/merge_append_action.cc`,
 * `datalake/coordinator/`), and retention expires old snapshots.
 *
 * Spark design: each commit appends hour-partitioned parquet under
 * `data/snapshot_id=N/p_key=...` plus one row of snapshot metadata —
 * Spark's dynamic-partition writer IS the partitioning writer, so the
 * multiplexer reduces to a routed write per output table inside
 * `foreachBatch`. Readers see exactly the surviving-snapshot set
 * (semi-join against the snapshot table, pruned by partition directory),
 * and expiry = metadata delete + physical directory removal — the same
 * two-step the reference's expire_snapshots performs.
 */
object Datalake {

  /** Hourly partition value — the reference's default spec (iceberg
    * `hour(timestamp)` transform, table_definition.cc:57-66). */
  def hourPartition(ts: Column): Column = date_format(ts, "yyyy-MM-dd-HH")

  /** Daily partition value (iceberg `day(timestamp)`). Partition
    * granularity must match data volume: a partition should hold at
    * least a target-file-size of data, or the table devolves into
    * per-directory commit overhead and tiny files. Callers pick the
    * transform; hour is the reference default, day the low-volume choice. */
  def dayPartition(ts: Column): Column = date_format(ts, "yyyy-MM-dd")

  /** Month granularity — the coarse end of the same trade-off. */
  def monthPartition(ts: Column): Column = date_format(ts, "yyyy-MM")

  /**
   * D2 default record translation (`datalake/record_translator.h:28-66`):
   * the canonical log row becomes the reference's default Iceberg shape —
   * a `redpanda` system struct (partition, offset, timestamp, headers,
   * key; `table_definition.cc:20-45`) alongside the (possibly
   * schema-decoded) value.
   */
  def translateDefault(log: DataFrame): DataFrame =
    log.select(
      struct(col("partition"), col("offset"), col("timestamp"),
        col("headers"), col("key")).as("redpanda"),
      col("value"))

  private def metaRoot(outPath: String) = s"$outPath/snapshots"
  private def dataPath(outPath: String) = s"$outPath/data"
  private def snapDir(outPath: String, snap: Long) =
    new Path(s"${dataPath(outPath)}/snapshot_id=$snap")

  /** (snapshot_id, committed_at_ms, n_rows) — one row per kept snapshot. */
  private type SnapshotRow = (Long, Long, Long)
  private val MetaFile = "snapshots.json"
  private val Json = new ObjectMapper()

  /**
   * Crash-atomic snapshot metadata: the full snapshot set is written as a
   * fresh immutable version directory `snapshots/v=N` on every metadata
   * change, and readers use the HIGHEST version whose `_SUCCESS` marker
   * exists — Iceberg's versioned `v{N}.metadata.json` scheme
   * (`iceberg/manifest_io.cc`, catalog commit). A crash mid-write leaves a
   * partial dir without `_SUCCESS` that readers skip; a crash before
   * pruning leaves stale versions that are harmless. There is no window
   * in which the table has no valid metadata (the round-2 delete-then-
   * rename flaw). Each version is one small JSON-lines file read and
   * written on the driver through the Hadoop `FileSystem`, like the
   * reference committer's metadata.json — no Spark job touches metadata.
   * Returns the latest version number (0 for a fresh table) and its rows.
   */
  private def readMeta(fs: FileSystem, outPath: String): (Long, Seq[SnapshotRow]) =
    metaVersions(fs, outPath)
      .filter { case (_, dir) => fs.exists(new Path(dir, "_SUCCESS")) }
      .maxByOption(_._1)
      .fold((0L, Seq.empty[SnapshotRow])) { case (v, dir) =>
        val in = fs.open(new Path(dir, MetaFile))
        val rows =
          try new String(in.readAllBytes(), UTF_8).linesIterator.filter(_.nonEmpty).map { line =>
            val r = Json.readTree(line)
            (r.get("snapshot_id").asLong, r.get("committed_at_ms").asLong, r.get("n_rows").asLong)
          }.toVector
          finally in.close()
        (v, rows)
      }

  /** Every `snapshots/v=N` directory, committed or not. */
  private def metaVersions(fs: FileSystem, outPath: String): Seq[(Long, Path)] = {
    val root = new Path(metaRoot(outPath))
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map(st => st.getPath.getName.stripPrefix("v=").toLong -> st.getPath)
  }

  /** Write `rows` as metadata version `v` — clearing a crashed writer's
    * wreck of the same version first, `_SUCCESS` last — then prune all
    * but the newest `KeepMetaVersions` versions (reader-safe in any crash
    * order). */
  private val KeepMetaVersions = 3
  private def writeMeta(fs: FileSystem, outPath: String, v: Long,
      rows: Seq[SnapshotRow]): Unit = {
    val dir = new Path(s"${metaRoot(outPath)}/v=$v")
    fs.delete(dir, true)
    val out = fs.create(new Path(dir, MetaFile), false)
    try out.write(rows.map { case (id, at, n) =>
      s"""{"snapshot_id":$id,"committed_at_ms":$at,"n_rows":$n}""" + "\n"
    }.mkString.getBytes(UTF_8))
    finally out.close()
    fs.create(new Path(dir, "_SUCCESS"), false).close()
    metaVersions(fs, outPath).sortBy(-_._1).drop(KeepMetaVersions)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Snapshot metadata table: (snapshot_id, committed_at_ms, n_rows), a
    * local relation built on the driver. */
  def snapshots(spark: SparkSession, outPath: String): DataFrame = {
    import spark.implicits._
    readMeta(IcebergFormat.fsOf(spark, outPath), outPath)._2
      .toDF("snapshot_id", "committed_at_ms", "n_rows")
  }

  /** (file, partition value, length) of the parquet part files under a
    * `p_key`-partitioned directory — the file set one write produced. */
  private[streaming] def listPartFiles(fs: FileSystem, dir: Path): Seq[(Path, String, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { pdir =>
      val pKey = pdir.getPath.getName.stripPrefix("p_key=")
      fs.listStatus(pdir.getPath).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath, pKey, st.getLen))
    }

  /** Read one parquet footer on the driver (bounded metadata, no job). */
  private def withFooter[A](spark: SparkSession, file: Path)(f: ParquetFileReader => A): A = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try f(reader) finally reader.close()
  }

  /** Parquet footer record count (one footer per written file — the
    * figure a snapshot's `n_rows` and a manifest's `record_count` carry). */
  private[streaming] def footerRowCount(spark: SparkSession, file: Path): Long =
    withFooter(spark, file)(_.getRecordCount)

  /** The Spark schema a Spark-written parquet file records in its footer. */
  private def footerSchema(spark: SparkSession, file: Path): StructType =
    withFooter(spark, file)(r => DataType.fromJson(r.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType])

  /**
   * D1/D6 commit: append `df` hour-partitioned under a fresh snapshot id
   * and record the snapshot. Returns the snapshot id.
   *
   * Order is data-then-metadata: rows land under the new snapshot id
   * first and only become visible when the metadata version including the
   * id commits — a crash in between leaves invisible orphan files, never
   * a snapshot pointing at missing data. The data write is the only
   * Spark work: the row count comes from the footers of the files this
   * commit just wrote and the metadata is driver-side file I/O.
   */
  def commit(df: DataFrame, tsCol: Column, outPath: String,
      partFn: Column => Column = hourPartition): Long = {
    val spark = df.sparkSession
    val fs = IcebergFormat.fsOf(spark, outPath)
    val (version, existing) = readMeta(fs, outPath)
    val snap = existing.map(_._1).maxOption.getOrElse(0L) + 1
    // A crash between the data write and the metadata commit leaves
    // orphan files under this (never-published) snapshot id; a retry
    // reuses the id, so clear any such orphans first — otherwise the
    // appended retry would publish duplicated rows.
    val dir = snapDir(outPath, snap)
    if (fs.exists(dir)) fs.delete(dir, true)
    // Cluster rows by target partition before the dynamic-partition
    // write: one task per partition directory instead of every task
    // touching every directory (tasks × dirs tiny files — the classic
    // small-files failure; the reference's partitioning_writer groups
    // rows per partition key for exactly this reason,
    // datalake/partitioning_writer.h).
    df.withColumn("p_key", partFn(tsCol))
      .withColumn("snapshot_id", lit(snap))
      .repartition(col("p_key"))
      .write.mode("append").partitionBy("snapshot_id", "p_key")
      .parquet(dataPath(outPath))
    // Empty input writes no partition directory at all — n = 0.
    val n = listPartFiles(fs, dir).map(f => footerRowCount(spark, f._1)).sum
    writeMeta(fs, outPath, version + 1,
      existing :+ ((snap, System.currentTimeMillis(), n)))
    snap
  }

  /** Read the table as of the surviving snapshot set. The live ids are
    * bounded metadata (one row per kept snapshot), so they go in as a
    * literal IN predicate on the `snapshot_id` partition directory —
    * a planning-time PartitionFilter that never lists or reads expired
    * -but-not-yet-deleted snapshot directories, where a semi-join would
    * scan every directory's footers first (Iceberg's manifest-list
    * pruning plays this role in the reference, `manifest_io.cc`). The
    * schema is the one recorded in a footer of the newest live snapshot
    * that holds data, so planning runs no schema-inference job; the
    * partition columns read back as written, `snapshot_id` long and
    * `p_key` string. */
  def readTable(spark: SparkSession, outPath: String): DataFrame = {
    val fs = IcebergFormat.fsOf(spark, outPath)
    val live = readMeta(fs, outPath)._2.map(_._1)
    val schema = live.sorted.reverseIterator
      .flatMap(id => listPartFiles(fs, snapDir(outPath, id)).headOption)
      .nextOption()
      .map(f => footerSchema(spark, f._1)
        .add("snapshot_id", LongType).add("p_key", StringType))
    schema.fold(spark.read)(spark.read.schema).parquet(dataPath(outPath))
      .where(col("snapshot_id").isin(live: _*))
  }

  /**
   * D6 snapshot expiry: keep the most recent `keepLast` snapshots;
   * delete the metadata rows and the expired data directories
   * (`expireSnapshots` + deleteWhere semantics).
   */
  def expireSnapshots(spark: SparkSession, outPath: String, keepLast: Int): Seq[Long] = {
    val fs = IcebergFormat.fsOf(spark, outPath)
    val (version, rows) = readMeta(fs, outPath)
    val (keep, expire) = rows.sortBy(-_._1).splitAt(keepLast)
    if (expire.nonEmpty) {
      expire.foreach(r => fs.delete(snapDir(outPath, r._1), true))
      // Expiry commits a fresh immutable metadata version holding only
      // the surviving snapshots — same crash-atomic path as commit().
      writeMeta(fs, outPath, version + 1, keep)
    }
    expire.map(_._1)
  }

  /**
   * D1 record multiplexer: route every row to its output table and
   * append each output hour-partitioned — one cached pass over the
   * batch, then one filtered write per distinct output (the Spark shape
   * of `record_multiplexer.h:32` fan-out to partitioning writers).
   * Returns (output, rows) per output table.
   */
  def writeMultiplexed(
      batch: DataFrame,
      routeCol: Column,
      tsCol: Column,
      basePath: String,
      partFn: Column => Column = hourPartition): Seq[(String, Long)] = {
    // eager localCheckpoint, NOT cache(): the concurrent per-output write
    // futures plus the counts pass would otherwise race a lazily-filled
    // InMemoryRelation and each recompute the routed batch from source
    val routed = batch
      .withColumn("_output", routeCol)
      .withColumn("p_key", partFn(tsCol))
      .pinned()
    // One aggregation pass yields both the output list and the per-output
    // row counts — no per-output count() job after each write.
    val counts = routed.groupBy("_output").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try writeRouted(routed, basePath, counts)
    finally graft.Pins.unpin(routed)
  }

  /** The per-output append fan-out over an already-pinned routed batch
    * (`_output` route column + `p_key` partition column present). The
    * writes are independent jobs over the pin — run concurrently (the
    * reference's multiplexer drives its per-output partitioning writers
    * concurrently too); each write still clusters by partition key first
    * — see commit() note. */
  private def writeRouted(routed: DataFrame, basePath: String,
      counts: Map[String, Long]): Seq[(String, Long)] = {
    graft.Overlap.map(counts.keys.toSeq.sorted) { o =>
      routed.where(col("_output") === o).drop("_output")
        .repartition(col("p_key"))
        .write.mode("append").partitionBy("p_key").parquet(s"$basePath/$o")
      o -> counts(o)
    }
  }

  /** Dead-letter table directory name under the multiplexer base path. */
  val DlqDir = "_dlq"

  /**
   * D1 invalid-record handling: the reference's multiplexer routes
   * records that fail value-type resolution (`bad_input`), record
   * translation (`translation_error`) or table compatibility
   * (`incompatible_schema`) through `handle_invalid_record`
   * (`datalake/record_multiplexer.cc:69-151,236` — which drops them with
   * a "TODO: dead-letter table?"); here the dead-letter table is real.
   *
   * Classification is one narrow pass of codegen'd expressions over the
   * registry wire envelope (magic byte + int32 schema id — the same
   * accessors as the produce-path validator, `registry/Ingest.scala`):
   *   - bad magic byte            → bad_input          (type_resolver::errc::bad_input)
   *   - schema id not registered  → translation_error  (record_translator::errc::translation_error)
   *   - id registered but not table-compatible → incompatible_schema
   *                                 (table_creator::errc::incompatible_schema)
   * Valid rows take the normal multiplexed write; invalid rows land in
   * `basePath/_dlq` with their intended output and an `error_code`
   * column, partitioned like every other output — accounted, not
   * dropped, and never poisoning the commit. Returns (output, rows)
   * per output table including the `_dlq` entry when non-empty.
   */
  def writeMultiplexedWithDlq(
      batch: DataFrame,
      routeCol: Column,
      tsCol: Column,
      basePath: String,
      valueCol: Column,
      registered: Seq[Int],
      incompatible: Seq[Int],
      partFn: Column => Column = hourPartition): Seq[(String, Long)] = {
    import graft.registry.Ingest
    // ONE pin per micro-batch carrying the route and partition columns
    // too (the old spelling pinned `classified`, then writeMultiplexed
    // re-pinned the routed valid rows — two eager materializations), and
    // ONE aggregation pass yielding both the valid per-output counts and
    // the DLQ count (the old spelling ran a separate dlq.count() job).
    val classified = batch
      .withColumn("_schema_id",
        when(Ingest.magicOf(valueCol) === lit(Array[Byte](0)), Ingest.schemaIdOf(valueCol)))
      .withColumn("error_code",
        when(col("_schema_id").isNull, "bad_input")
          .when(!col("_schema_id").isin(registered: _*), "translation_error")
          .when(col("_schema_id").isin(incompatible: _*), "incompatible_schema"))
      .withColumn("_output", routeCol)
      .withColumn("p_key", partFn(tsCol))
      .pinned()
    val allCounts = classified
      .groupBy(col("_output"), col("error_code").isNotNull.as("_dlq"))
      .count().collect()
    val counts = allCounts.filter(!_.getBoolean(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val nDlq = allCounts.filter(_.getBoolean(1)).map(_.getLong(2)).sum
    // The DLQ append is independent of the valid-path appends.
    try {
      val (_, main) = graft.Overlap.both(
        if (nDlq > 0)
          classified.where(col("error_code").isNotNull).drop("_schema_id")
            .repartition(col("p_key"))
            .write.mode("append").partitionBy("p_key").parquet(s"$basePath/$DlqDir"),
        writeRouted(
          classified.where(col("error_code").isNull).drop("error_code", "_schema_id"),
          basePath, counts))
      if (nDlq > 0) main :+ (DlqDir -> nDlq) else main
    } finally graft.Pins.unpin(classified)
  }

  /**
   * The multiplexer as it actually runs — continuously: each
   * micro-batch takes one classified pass, appends its valid rows to
   * their output tables and its invalid rows to the dead-letter table
   * (`record_multiplexer.h:32` driven by the datalake sink loop).
   * AvailableNow + checkpoint give the usual restartable semantics.
   */
  def multiplexedDlqSink(stream: DataFrame, routeCol: Column, tsCol: Column,
      basePath: String, ckptDir: String, valueCol: Column,
      registered: Seq[Int], incompatible: Seq[Int],
      partFn: Column => Column = hourPartition)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .queryName(s"multiplex:$basePath")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeMultiplexedWithDlq(batch, routeCol, tsCol, basePath,
          valueCol, registered, incompatible, partFn)
        ()
      }
      .start()
}
