package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Datalake.{footerRowCount, listPartFiles}

/**
 * Real Iceberg v2 table format, written against the PUBLIC Iceberg table
 * spec (https://iceberg.apache.org/spec/) — no Iceberg runtime jars in
 * this environment, so the metadata files are authored directly:
 *
 *  - `metadata/v{N}.metadata.json` — format-version 2 table metadata
 *    (schemas with field ids, partition specs with transforms, snapshot
 *    list, snapshot log, refs) plus the `version-hint.text` pointer —
 *    the same commit protocol the reference drives through its REST
 *    catalog (`iceberg/table_metadata.cc`, `iceberg/rest_catalog.cc`);
 *  - `metadata/snap-{id}.avro` — the snapshot's manifest LIST: one avro
 *    record per manifest with spec field-ids 500-519
 *    (`iceberg/manifest_list.h`, `manifest_io.cc`);
 *  - `metadata/manifest-{id}.avro` — the manifest: one `manifest_entry`
 *    per data file (status/snapshot/sequence + a `data_file` struct with
 *    field-ids 100-104/134), record counts from the parquet footers
 *    (`iceberg/manifest.h`, `manifest_entry.h`);
 *  - `data/...` — hour-partitioned parquet written by Spark's
 *    partitioning writer (`datalake/partitioning_writer.h` analogue).
 *
 * The read path is metadata-driven exactly like an Iceberg reader:
 * version-hint → metadata.json → current snapshot → manifest list →
 * manifests → data file paths, so a scan plans from the manifest file
 * set (planning-time pruning; expired-but-undeleted data is invisible)
 * rather than directory listing. [[Datalake]] keeps the parquet-native
 * emulation for the high-volume bench paths; this module is the
 * format-faithful catalog surface.
 *
 * Scale note: all metadata here is bounded (one avro record per file /
 * manifest / snapshot — the reference's manifests are the same); the
 * data write is the standard clustered dynamic-partition write. Driver
 * code touches only metadata, never rows.
 */
object IcebergFormat {

  // ------------------------------------------------------------- field ids

  /** Iceberg type name for a Spark type (spec "Primitive Types"). */
  private def icebergType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case StringType => "string"
    case BooleanType => "boolean"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp" // iceberg/datatypes.h:33 (no zone)
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(s"unsupported iceberg type: $other")
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ---------------------------------------- schema & spec history model

  /** One schema field: `id` is the PERMANENT identity (Iceberg's
    * ids-never-reused rule — renames keep it, drops retire it). */
  final case class IceField(id: Int, name: String, required: Boolean, tpe: String) {
    def sparkField: StructField = StructField(name, sparkTypeOf(tpe), nullable = !required)
  }
  final case class IceSchema(schemaId: Int, fields: Seq[IceField])

  /** Single-partition-field spec: p_key = transform(source field). The
    * transform vocabulary is `iceberg/transform.h:16-37` (identity /
    * bucket / truncate / year / month / day / hour / void). */
  final case class IceSpec(specId: Int, transform: String, sourceId: Int)

  private def sparkTypeOf(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case _ => StringType
  }

  private def schemaJsonOf(s: IceSchema): String = {
    val fields = s.fields.map { f =>
      s"""{"id": ${f.id}, "name": ${jsonStr(f.name)}, "required": ${f.required}, "type": ${jsonStr(f.tpe)}}"""
    }
    s"""{"type": "struct", "schema-id": ${s.schemaId}, "fields": [${fields.mkString(", ")}]}"""
  }

  /** Iceberg schema history from a Spark schema (fresh table: one
    * generation, ids 1..n in declaration order). */
  private def initialSchema(schema: StructType): IceSchema =
    IceSchema(0, schema.fields.zipWithIndex.map { case (f, i) =>
      IceField(i + 1, f.name, !f.nullable, icebergType(f.dataType))
    }.toSeq)

  private def parseSchemas(json: String): (Seq[IceSchema], Int) = {
    val root = mapper.readTree(json)
    val schemas = root.path("schemas").elements().asScala.toSeq.map { s =>
      IceSchema(s.path("schema-id").asInt(0),
        s.path("fields").elements().asScala.toSeq.map(f =>
          IceField(f.path("id").asInt, f.path("name").asText,
            f.path("required").asBoolean, f.path("type").asText)))
    }
    (schemas, root.path("current-schema-id").asInt(0))
  }

  private def parseSpecs(json: String): (Seq[IceSpec], Int) = {
    val root = mapper.readTree(json)
    val specs = root.path("partition-specs").elements().asScala.toSeq.map { s =>
      val f = s.path("fields").path(0)
      IceSpec(s.path("spec-id").asInt(0), f.path("transform").asText("identity"),
        f.path("source-id").asInt(1))
    }
    (specs, root.path("default-spec-id").asInt(0))
  }

  private def lastColumnIdOf(json: String): Int =
    mapper.readTree(json).path("last-column-id").asInt(0)

  // ------------------------------------------------------------- avro io

  /** manifest_entry schema with the spec's reserved field ids (status 0,
    * snapshot_id 1, sequence_number 3, file_sequence_number 4,
    * data_file 2; data_file fields 134/100/101/102/103/104). The
    * partition struct carries the single hour/day field (id 1000) as its
    * human-readable value — transform output as string for transparency. */
  private val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{
      |  "type": "record", "name": "manifest_entry", "fields": [
      |    {"name": "status", "type": "int", "field-id": 0},
      |    {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
      |    {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
      |    {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
      |    {"name": "data_file", "field-id": 2, "type": {
      |      "type": "record", "name": "r2", "fields": [
      |        {"name": "content", "type": "int", "field-id": 134},
      |        {"name": "file_path", "type": "string", "field-id": 100},
      |        {"name": "file_format", "type": "string", "field-id": 101},
      |        {"name": "partition", "field-id": 102, "type": {
      |          "type": "record", "name": "r102", "fields": [
      |            {"name": "p_key", "type": ["null", "string"], "default": null, "field-id": 1000}
      |          ]}},
      |        {"name": "record_count", "type": "long", "field-id": 103},
      |        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
      |        {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}], "default": null, "field-id": 135}
      |      ]}}
      |  ]
      |}""".stripMargin)

  /** manifest_file (manifest list) schema, spec field ids 500-517. */
  private val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{
      |  "type": "record", "name": "manifest_file", "fields": [
      |    {"name": "manifest_path", "type": "string", "field-id": 500},
      |    {"name": "manifest_length", "type": "long", "field-id": 501},
      |    {"name": "partition_spec_id", "type": "int", "field-id": 502},
      |    {"name": "content", "type": "int", "field-id": 517},
      |    {"name": "sequence_number", "type": "long", "field-id": 515},
      |    {"name": "min_sequence_number", "type": "long", "field-id": 516},
      |    {"name": "added_snapshot_id", "type": "long", "field-id": 503},
      |    {"name": "added_files_count", "type": "int", "field-id": 504},
      |    {"name": "existing_files_count", "type": "int", "field-id": 505},
      |    {"name": "deleted_files_count", "type": "int", "field-id": 506},
      |    {"name": "added_rows_count", "type": "long", "field-id": 512},
      |    {"name": "existing_rows_count", "type": "long", "field-id": 513},
      |    {"name": "deleted_rows_count", "type": "long", "field-id": 514}
      |  ]
      |}""".stripMargin)

  private def writeAvro(fs: FileSystem, path: Path, schema: Schema,
      records: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    val out = fs.create(path, true)
    try {
      w.create(schema, out)
      records.foreach(w.append)
      w.close()
    } finally out.close()
    fs.getFileStatus(path).getLen
  }

  private def readAvro(fs: FileSystem, path: Path, schema: Schema): Seq[GenericRecord] = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val buf = new Array[Byte](len.toInt)
    try in.readFully(0, buf) finally in.close()
    val reader = new DataFileReader[GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(buf),
      new GenericDatumReader[GenericRecord](schema))
    try reader.iterator().asScala.toSeq finally reader.close()
  }

  // ------------------------------------------------------- table metadata

  private def metaDir(table: String) = s"$table/metadata"
  private def dataDir(table: String) = s"$table/data"

  private[streaming] def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current metadata version from version-hint.text (the HadoopCatalog
    * commit pointer); None for a fresh table. */
  private[streaming] def currentVersion(fs: FileSystem, table: String): Option[Int] = {
    val hint = new Path(s"${metaDir(table)}/version-hint.text")
    if (!fs.exists(hint)) None
    else {
      val in = fs.open(hint)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toInt) finally in.close()
    }
  }

  private[streaming] def readMetadataJson(fs: FileSystem, table: String, v: Int): String = {
    val in = fs.open(new Path(s"${metaDir(table)}/v$v.metadata.json"))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Jackson (already on the Spark classpath) parses the metadata JSON —
    * the same library the Iceberg reference implementation uses. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[streaming] def jsonStrField(json: String, key: String): Option[String] = {
    val n = mapper.readTree(json).path(key)
    if (n.isTextual) Some(n.asText) else None
  }

  final case class SnapshotInfo(snapshotId: Long, sequenceNumber: Long,
      manifestList: String, addedRows: Long, op: String = "append",
      sourceBatchId: Option[Long] = None, schemaId: Int = 0,
      timestampMs: Long = 0L,
      // extra snapshot-summary properties (iceberg snapshot.summary's
      // free-form string map) — the datalake committer stamps its
      // crash-recovery marker here (`redpanda.commit-metadata`,
      // iceberg_file_committer.cc:59 / transaction merge_append props)
      properties: Map[String, String] = Map.empty)

  /** A named snapshot reference (`iceberg/snapshot.h:86-118`): a `tag`
    * labels one snapshot forever; a `branch` is a mutable head. Refs
    * carry their own expiry retention (`snapshot.h:102-112`,
    * field names per `snapshot_json.cc:129-136`): `maxRefAgeMs` expires
    * the REF itself; branch-only `maxSnapshotAgeMs` /
    * `minSnapshotsToKeep` govern how much of the branch's history
    * snapshot expiry retains. The `main` branch is implicit (always the
    * current snapshot) and is not carried here. */
  final case class RefInfo(name: String, snapshotId: Long, refType: String,
      maxRefAgeMs: Option[Long] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None)

  /** Parse the non-main entries of the metadata `refs` map. */
  private[streaming] def parseExtraRefs(json: String): Seq[RefInfo] = {
    val refs = mapper.readTree(json).path("refs")
    refs.fields().asScala.toSeq.collect {
      case e if e.getKey != "main" =>
        val v = e.getValue
        def optL(f: String): Option[Long] =
          if (v.path(f).isMissingNode) None else Some(v.path(f).asLong)
        RefInfo(e.getKey, v.path("snapshot-id").asLong,
          v.path("type").asText("tag"),
          optL("max-ref-age-ms"),
          optL("max-snapshot-age-ms"),
          optL("min-snapshots-to-keep").map(_.toInt))
    }
  }

  private val ReservedSummaryKeys =
    Set("operation", "added-rows", "streaming-batch-id")

  /** Parse the snapshots array out of the metadata JSON. */
  private[streaming] def parseSnapshots(json: String): Seq[SnapshotInfo] =
    mapper.readTree(json).path("snapshots").elements().asScala.toSeq.map { s =>
      val summary = s.path("summary")
      val bid = summary.path("streaming-batch-id")
      val props = summary.fields().asScala.collect {
        case e if !ReservedSummaryKeys.contains(e.getKey) =>
          e.getKey -> e.getValue.asText
      }.toMap
      SnapshotInfo(
        s.path("snapshot-id").asLong,
        s.path("sequence-number").asLong,
        s.path("manifest-list").asText,
        summary.path("added-rows").asText("0").toLong,
        summary.path("operation").asText("append"),
        if (bid.isMissingNode) None else Some(bid.asText.toLong),
        s.path("schema-id").asInt(0),
        s.path("timestamp-ms").asLong(0L),
        props)
    }

  private def writeMetadataJson(fs: FileSystem, table: String, v: Int,
      schema: StructType, snaps: Seq[SnapshotInfo], uuid: String,
      partitionField: String): Unit =
    writeMetadataJsonFull(fs, table, v, Seq(initialSchema(schema)), 0,
      Seq(IceSpec(0, "identity", schema.fieldIndex(partitionField) + 1)), 0,
      schema.fields.length, snaps, uuid)

  /** Write the full format-v2 metadata file: schema and partition-spec
    * HISTORIES (current/default ids select the live generation — the
    * evolution model of `iceberg/compatibility.cc` / `transform.h`),
    * plus the snapshot list, each snapshot stamped with the schema-id it
    * was committed under. */
  private def writeMetadataJsonFull(fs: FileSystem, table: String, v: Int,
      schemas: Seq[IceSchema], currentSchemaId: Int,
      specs: Seq[IceSpec], defaultSpecId: Int, lastColumnId: Int,
      snaps: Seq[SnapshotInfo], uuid: String,
      extraRefs: Seq[RefInfo] = Nil): Unit = {
    val now = System.currentTimeMillis()
    val current = snaps.lastOption.map(_.snapshotId).getOrElse(-1L)
    val lastSeq = snaps.lastOption.map(_.sequenceNumber).getOrElse(0L)
    // each snapshot keeps its ORIGINAL commit timestamp across metadata
    // rewrites (a snapshot operation never re-dates history — age-based
    // expiry depends on it); only a snapshot new to this write stamps now
    val snapJson = snaps.map { s =>
      val bid = s.sourceBatchId
        .map(b => s""", "streaming-batch-id": "$b"""").getOrElse("")
      // free-form summary properties ride every metadata rewrite — the
      // committer's crash-recovery marker must survive expiry/evolution
      val props = s.properties.toSeq.sortBy(_._1).map { case (k, v) =>
        s""", ${jsonStr(k)}: ${jsonStr(v)}"""
      }.mkString
      val ts = if (s.timestampMs > 0) s.timestampMs else now
      s"""{"snapshot-id": ${s.snapshotId}, "sequence-number": ${s.sequenceNumber},
         |     "timestamp-ms": $ts, "manifest-list": ${jsonStr(s.manifestList)},
         |     "summary": {"operation": "${s.op}", "added-rows": "${s.addedRows}"$bid$props},
         |     "schema-id": ${s.schemaId}}""".stripMargin
    }.mkString("[", ", ", "]")
    val logJson = snaps.map { s =>
      val ts = if (s.timestampMs > 0) s.timestampMs else now
      s"""{"timestamp-ms": $ts, "snapshot-id": ${s.snapshotId}}"""
    }.mkString("[", ", ", "]")
    val specJson = specs.map { sp =>
      s"""{"spec-id": ${sp.specId}, "fields": [
         |    {"name": "p_key", "transform": ${jsonStr(sp.transform)}, "source-id": ${sp.sourceId}, "field-id": 1000}]}""".stripMargin
    }.mkString("[", ", ", "]")
    val refEntries =
      (if (current >= 0)
         Seq(s""""main": {"snapshot-id": $current, "type": "branch"}""")
       else Seq.empty) ++
      extraRefs.map { r =>
        val age = r.maxRefAgeMs.map(a => s""", "max-ref-age-ms": $a""").getOrElse("") +
          r.maxSnapshotAgeMs.map(a => s""", "max-snapshot-age-ms": $a""").getOrElse("") +
          r.minSnapshotsToKeep.map(k => s""", "min-snapshots-to-keep": $k""").getOrElse("")
        s"""${jsonStr(r.name)}: {"snapshot-id": ${r.snapshotId}, "type": "${r.refType}"$age}"""
      }
    val refs = refEntries.mkString("{", ", ", "}")
    val json =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": ${jsonStr(uuid)},
         |  "location": ${jsonStr(table)},
         |  "last-sequence-number": $lastSeq,
         |  "last-updated-ms": $now,
         |  "last-column-id": $lastColumnId,
         |  "current-schema-id": $currentSchemaId,
         |  "schemas": [${schemas.map(schemaJsonOf).mkString(", ")}],
         |  "default-spec-id": $defaultSpecId,
         |  "partition-specs": $specJson,
         |  "last-partition-id": 1000,
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "properties": {"write.format.default": "parquet"},
         |  "current-snapshot-id": $current,
         |  "snapshots": $snapJson,
         |  "snapshot-log": $logJson,
         |  "metadata-log": [],
         |  "refs": $refs
         |}""".stripMargin
    val p = new Path(s"${metaDir(table)}/v$v.metadata.json")
    val out = fs.create(p, true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
    // the version hint flips LAST — readers never see a version without
    // its metadata file (same ordering as HadoopTableOperations.commit)
    val hint = fs.create(new Path(s"${metaDir(table)}/version-hint.text"), true)
    try hint.write(v.toString.getBytes(UTF_8)) finally hint.close()
  }

  // ------------------------------------------------------------- commits

  /**
   * Commit `df` as the next snapshot of an Iceberg v2 table at
   * `table`: data files first, then manifest avro, manifest-list avro,
   * metadata.json, and the version hint last — each step atomic w.r.t.
   * readers, exactly the Iceberg commit order.
   * The partition column is `partFn(tsCol)` as `p_key` (hour transform
   * by default). Returns the new snapshot id.
   */
  def commit(df: DataFrame, tsCol: Column, table: String,
      partFn: Column => Column = Datalake.hourPartition,
      sourceBatchId: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, table)
    val prior = currentVersion(fs, table)
    val priorJson = prior.map(readMetadataJson(fs, table, _))
    val priorSnaps = priorJson.map(parseSnapshots).getOrElse(Seq.empty)
    // exactly-once streaming ingestion: a snapshot carrying this source
    // batch id is already committed — the redelivery is a no-op (the
    // datalake-coordinator dedup the reference keeps per offset range)
    sourceBatchId.foreach { bid =>
      priorSnaps.find(_.sourceBatchId.contains(bid))
        .foreach(s => return s.snapshotId)
    }
    val uuid = priorJson.flatMap(jsonStrField(_, "table-uuid"))
      .getOrElse(java.util.UUID.randomUUID().toString)
    // Schema evolution gate (catalog_schema_manager.cc / iceberg/
    // compatibility.cc): columns match the CURRENT schema generation BY
    // NAME — every live column must arrive with an identical type
    // (retype is incompatible; a missing column means a drop, which must
    // go through dropColumn, not a write); extra batch columns are an
    // add-column evolution: they get fresh field ids (ids are never
    // reused) and a new schema generation, recorded OPTIONAL regardless
    // of inferred nullability (old rows cannot supply a value).
    val (priorSchemas, priorCurId) = priorJson.map(parseSchemas)
      .getOrElse((Seq.empty[IceSchema], 0))
    val priorCur = priorSchemas.find(_.schemaId == priorCurId)
    val priorLastCol = priorJson.map(lastColumnIdOf).getOrElse(0)
    priorCur.foreach { cur =>
      val batchTypes = df.schema.fields.map(f => f.name -> icebergType(f.dataType)).toMap
      cur.fields.foreach { f =>
        val bt = batchTypes.getOrElse(f.name, throw new IllegalArgumentException(
          s"incompatible evolution: column ${f.name} missing from batch (drop must go through dropColumn)"))
        require(bt == f.tpe,
          s"incompatible evolution: column ${f.name}:${f.tpe} became ${f.name}:$bt")
      }
    }
    val appended = priorCur match {
      case None => Seq.empty
      case Some(cur) =>
        val live = cur.fields.map(_.name).toSet
        df.schema.fields.toSeq.filterNot(f => live.contains(f.name))
    }
    val (schemas, curSchemaId, lastColId) = priorCur match {
      case None =>
        val s0 = initialSchema(df.schema)
        (Seq(s0), 0, s0.fields.map(_.id).maxOption.getOrElse(0))
      case Some(cur) if appended.isEmpty => (priorSchemas, priorCurId, priorLastCol)
      case Some(cur) =>
        val newFields = appended.zipWithIndex.map { case (f, i) =>
          IceField(priorLastCol + 1 + i, f.name, required = false, icebergType(f.dataType))
        }
        val next = IceSchema(priorSchemas.map(_.schemaId).max + 1, cur.fields ++ newFields)
        (priorSchemas :+ next, next.schemaId, priorLastCol + newFields.size)
    }
    val curFields = schemas.find(_.schemaId == curSchemaId).get.fields
    // Partition spec: a fresh table records spec 0 (identity over the
    // first column, the legacy layout — p_key actually comes from
    // partFn); after evolveSpec, the DEFAULT spec's named transform over
    // its source field drives the layout of every subsequent write.
    val (specs, specId) = priorJson.map(parseSpecs).getOrElse(
      (Seq(IceSpec(0, "identity", 1)), 0))
    val pKeyCol =
      if (specId == 0) partFn(tsCol)
      else {
        val sp = specs.find(_.specId == specId).get
        val srcName = curFields.find(_.id == sp.sourceId).getOrElse(
          throw new IllegalStateException(
            s"partition source field id ${sp.sourceId} dropped from schema")).name
        applyTransform(sp.transform, col(srcName))
      }
    val snapId = priorSnaps.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = priorSnaps.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1

    // 1. data files, clustered by partition, under a per-snapshot dir so
    // a crashed retry can clear its own orphans (see Datalake.commit).
    // Columns are written in SCHEMA order, so every file of one schema
    // generation has one layout.
    val snapData = new Path(s"${dataDir(table)}/snap=$snapId")
    if (fs.exists(snapData)) fs.delete(snapData, true)
    val out = df.select(curFields.map(f => col(f.name)): _*)
      .withColumn("p_key", pKeyCol)
    out.repartition(col("p_key"))
      .write.mode("overwrite").partitionBy("p_key").parquet(snapData.toString)

    // 2. manifest: one entry per data file (status 1 = ADDED)
    val files = listPartFiles(fs, snapData)
    val (manifestPath, manifestLen, addedRows) =
      writeAddManifest(spark, fs, table, snapId, seq, files)

    // 3. manifest list: prior snapshots' manifests stay EXISTING; the
    // new manifest is ADDED (merge-append, iceberg/merge_append_action.cc)
    val priorList = priorSnaps.lastOption.toSeq.flatMap(s =>
      readAvro(fs, new Path(s.manifestList), ManifestFileSchema))
    val mf = manifestFileRec(manifestPath, manifestLen, specId, seq, snapId,
      files.size, addedRows)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    writeAvro(fs, listPath, ManifestFileSchema, priorList :+ mf)

    // 4. metadata.json + version hint — schema/spec histories carried
    // forward, the snapshot stamped with the schema generation it was
    // committed under
    writeMetadataJsonFull(fs, table, prior.map(_ + 1).getOrElse(1),
      schemas, curSchemaId, specs, specId, lastColId,
      priorSnaps :+ SnapshotInfo(snapId, seq, listPath.toString, addedRows,
        sourceBatchId = sourceBatchId, schemaId = curSchemaId),
      uuid, priorJson.map(parseExtraRefs).getOrElse(Nil))
    snapId
  }

  /** Write the ADDED-entries manifest avro for a snapshot; returns
    * (manifest path, byte length, added row count). */
  private def writeAddManifest(spark: SparkSession, fs: FileSystem, table: String,
      snapId: Long, seq: Long, files: Seq[(Path, String, Long)]): (Path, Long, Long) = {
    val entries = files.map { case (p, pKey, len) =>
      val e = new GenericData.Record(ManifestEntrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      val part = new GenericData.Record(
        ManifestEntrySchema.getField("data_file").schema().getField("partition").schema())
      part.put("p_key", pKey)
      val d = new GenericData.Record(ManifestEntrySchema.getField("data_file").schema())
      d.put("content", 0)
      d.put("file_path", p.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", part)
      d.put("record_count", footerRowCount(spark, p))
      d.put("file_size_in_bytes", len)
      e.put("data_file", d)
      e
    }
    val manifestPath = new Path(s"${metaDir(table)}/manifest-$snapId.avro")
    val manifestLen = writeAvro(fs, manifestPath, ManifestEntrySchema, entries)
    val addedRows = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum
    (manifestPath, manifestLen, addedRows)
  }

  private def manifestFileRec(manifestPath: Path, manifestLen: Long, specId: Int,
      seq: Long, snapId: Long, nFiles: Int, addedRows: Long): GenericRecord = {
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", specId)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", nFiles)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", addedRows)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    mf
  }

  /** A data-only append prepared against a base table version, not yet
    * published: the expensive half (data files) is done; publication is
    * bounded metadata work. */
  final case class StagedAppend(stageDir: String, baseVersion: Int,
      files: Seq[(String, String, Long)])

  /**
   * Optimistic-concurrency append, phase 1 (the reference's
   * merge-append transaction: `iceberg/merge_append_action.cc`,
   * submitted through the catalog with requirements,
   * `iceberg/rest_catalog.cc:170`): write `df`'s data files under a
   * staging directory and record the table version they were prepared
   * against. No metadata is touched — a staged append is invisible
   * until [[commitStaged]] publishes it, and any number of writers can
   * stage concurrently against the same base.
   *
   * The staged path is data-only by design (no schema evolution): the
   * batch must match the current schema exactly.
   */
  def stageAppend(df: DataFrame, tsCol: Column, table: String,
      partFn: Column => Column = Datalake.hourPartition): StagedAppend = {
    val spark = df.sparkSession
    val fs = fsOf(spark, table)
    val base = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException("stageAppend requires an existing table"))
    val json = readMetadataJson(fs, table, base)
    val (schemas, curId) = parseSchemas(json)
    val curFields = schemas.find(_.schemaId == curId).get.fields
    require(df.schema.fields.map(f => f.name -> icebergType(f.dataType)).toMap ==
      curFields.map(f => f.name -> f.tpe).toMap,
      "staged append must match the current schema exactly")
    // `snap=staged-<uuid>`: the same directory depth as published
    // snapshots, so a manifest-driven read mixing staged-origin and
    // snap-origin files infers ONE consistent partition structure.
    // Files stay here after publish (rebase is metadata-only); expiry
    // reclaims them by manifest reachability, not by directory name.
    val stageDir = new Path(
      s"${dataDir(table)}/snap=staged-${java.util.UUID.randomUUID().toString.take(8)}")
    df.select(curFields.map(f => col(f.name)): _*)
      .withColumn("p_key", partFn(tsCol))
      .repartition(col("p_key"))
      .write.mode("overwrite").partitionBy("p_key").parquet(stageDir.toString)
    StagedAppend(stageDir.toString, base,
      listPartFiles(fs, stageDir).map { case (p, k, l) => (p.toString, k, l) })
  }

  /**
   * Optimistic-concurrency append, phase 2: publish a staged append.
   * If the table is still at the staged base version, this is the fast
   * path. If another writer committed first (the version moved), the
   * conflict is detected and the append REBASES: its manifest is
   * re-stamped with a fresh snapshot id / sequence number and merged
   * onto the CURRENT manifest list — data files are not rewritten, the
   * retry is metadata-only (exactly the catalog's
   * commit-failed-then-refresh-and-reapply loop; a last-write-wins
   * metadata overwrite here would silently drop the first writer's
   * snapshot). Returns (snapshot id, rebased?).
   */
  def commitStaged(spark: SparkSession, table: String,
      staged: StagedAppend): (Long, Boolean) =
    commitStagedMany(spark, table, Seq(staged))

  /**
   * Publish MANY staged appends as ONE snapshot — the committer's
   * merge-append shape (`iceberg_file_committer.cc:230-244`: every
   * appended pending entry's files ride a single `txn.merge_append`,
   * stamped with the transaction's summary `properties`). Rebase
   * semantics per [[commitStaged]]; `rebased` is true when ANY staged
   * append's base version moved.
   */
  def commitStagedMany(spark: SparkSession, table: String,
      staged: Seq[StagedAppend],
      properties: Map[String, String] = Map.empty): (Long, Boolean) = {
    require(staged.nonEmpty, "commitStagedMany requires at least one staged append")
    val fs = fsOf(spark, table)
    val cur = currentVersion(fs, table).get
    val rebased = staged.exists(_.baseVersion != cur)
    val json = readMetadataJson(fs, table, cur)
    val snaps = parseSnapshots(json)
    val (schemas, curSchemaId) = parseSchemas(json)
    val (specs, specId) = parseSpecs(json)
    val lastColId = lastColumnIdOf(json)
    val uuid = jsonStrField(json, "table-uuid")
      .getOrElse(java.util.UUID.randomUUID().toString)
    val snapId = snaps.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = snaps.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1
    val files = staged.flatMap(_.files).map { case (p, k, l) => (new Path(p), k, l) }
    val (manifestPath, manifestLen, addedRows) =
      writeAddManifest(spark, fs, table, snapId, seq, files)
    val priorList = snaps.lastOption.toSeq.flatMap(s =>
      readAvro(fs, new Path(s.manifestList), ManifestFileSchema))
    val mf = manifestFileRec(manifestPath, manifestLen, specId, seq, snapId,
      files.size, addedRows)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    writeAvro(fs, listPath, ManifestFileSchema, priorList :+ mf)
    writeMetadataJsonFull(fs, table, cur + 1,
      schemas, curSchemaId, specs, specId, lastColId,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, addedRows,
        sourceBatchId = None, schemaId = curSchemaId, properties = properties),
      uuid, parseExtraRefs(json))
    (snapId, rebased)
  }

  /**
   * Create the table's metadata with a schema but NO snapshots if it
   * does not exist yet — the catalog's ensure-table-exists step the
   * datalake takes before its first commit (the reference creates the
   * table from the translated schema, `datalake/catalog_schema_manager
   * .cc` ensure path). Idempotent; returns true when created.
   */
  def ensureTable(spark: SparkSession, table: String,
      schema: StructType, partitionField: String): Boolean = {
    val fs = fsOf(spark, table)
    if (currentVersion(fs, table).isDefined) false
    else {
      writeMetadataJson(fs, table, 1, schema, Seq.empty,
        java.util.UUID.randomUUID().toString, partitionField)
      true
    }
  }

  /**
   * The table's committed coordinator offset: the value of summary
   * property `key` on the current snapshot, or the most recent ancestor
   * carrying it (`iceberg_file_committer.cc:61-96`
   * `get_iceberg_committed_offset` — our snapshot history is linear, so
   * the parent walk is a last-to-first scan). None = no property yet.
   */
  def snapshotProperty(spark: SparkSession, table: String,
      key: String): Option[String] = {
    val fs = fsOf(spark, table)
    currentVersion(fs, table).flatMap { v =>
      parseSnapshots(readMetadataJson(fs, table, v))
        .reverse.iterator.flatMap(_.properties.get(key)).nextOption()
    }
  }

  // ---------------------------------------------------- schema evolution

  /** Rename a column (`iceberg/compatibility.cc` struct evolution):
    * metadata-only — a new schema generation where the field keeps its
    * PERMANENT id under the new name. Data files are untouched; reads
    * align them by field id. Returns the new schema id. */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String): Int =
    evolveSchema(spark, table, s"rename $from -> $to") { cur =>
      require(cur.fields.exists(_.name == from), s"no column $from")
      require(!cur.fields.exists(_.name == to), s"column $to already exists")
      cur.fields.map(f => if (f.name == from) f.copy(name = to) else f)
    }

  /** Drop a column: metadata-only — the field id is retired (never
    * reused); data files still carry the bytes, readers stop projecting
    * them. Returns the new schema id. */
  def dropColumn(spark: SparkSession, table: String, name: String): Int =
    evolveSchema(spark, table, s"drop $name") { cur =>
      require(cur.fields.exists(_.name == name), s"no column $name")
      val remaining = cur.fields.filterNot(_.name == name)
      require(remaining.nonEmpty, "cannot drop the last column")
      remaining
    }

  private def evolveSchema(spark: SparkSession, table: String, what: String)(
      change: IceSchema => Seq[IceField]): Int = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val (schemas, curId) = parseSchemas(json)
    val cur = schemas.find(_.schemaId == curId).getOrElse(
      throw new IllegalStateException(s"current schema $curId missing"))
    val (specs, specId) = parseSpecs(json)
    val next = IceSchema(schemas.map(_.schemaId).max + 1, change(cur))
    // the default spec's source must survive (Iceberg refuses to drop a
    // field an active partition spec references)
    specs.find(_.specId == specId).foreach { sp =>
      require(specId == 0 || next.fields.exists(_.id == sp.sourceId),
        s"cannot $what: field id ${sp.sourceId} drives the default partition spec")
    }
    writeMetadataJsonFull(fs, table, v + 1, schemas :+ next, next.schemaId,
      specs, specId, lastColumnIdOf(json), parseSnapshots(json),
      jsonStrField(json, "table-uuid").get, parseExtraRefs(json))
    next.schemaId
  }

  /**
   * Partition-spec evolution (`iceberg/transform.h`: specs are
   * versioned; each manifest records the spec its files were written
   * under): append a new default spec — `transform` over
   * `sourceField` — used by every subsequent write. Existing data keeps
   * its old layout (old manifests carry their old spec id); readers
   * scan both, exactly Iceberg's mixed-spec table state. Returns the
   * new spec id.
   */
  def evolveSpec(spark: SparkSession, table: String, transform: String,
      sourceField: String): Int = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val (schemas, curId) = parseSchemas(json)
    val cur = schemas.find(_.schemaId == curId).get
    val src = cur.fields.find(_.name == sourceField).getOrElse(
      throw new IllegalArgumentException(s"no column $sourceField"))
    val _ = applyTransform(transform, col(sourceField)) // vocabulary check
    val (specs, _) = parseSpecs(json)
    val next = IceSpec(specs.map(_.specId).max + 1, transform, src.id)
    writeMetadataJsonFull(fs, table, v + 1, schemas, curId,
      specs :+ next, next.specId, lastColumnIdOf(json), parseSnapshots(json),
      jsonStrField(json, "table-uuid").get, parseExtraRefs(json))
    next.specId
  }

  /** The `transform.h:16-37` vocabulary as partition-value columns
    * (string-typed, human-readable — the p_key directory value).
    * `bucket[N]` uses Spark's murmur3 hash (NOT byte-identical to
    * Iceberg's murmur3 bucketing — same distribution contract, different
    * seed/byte layout; this engine both writes and reads its own
    * layout). */
  def applyTransform(transform: String, c: Column): Column = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    transform match {
      case "identity" => c.cast("string")
      case "hour" => date_format(c, "yyyy-MM-dd-HH")
      case "day" => date_format(c, "yyyy-MM-dd")
      case "month" => date_format(c, "yyyy-MM")
      case "year" => date_format(c, "yyyy")
      case "void" => lit("null")
      case Bucket(n) => pmod(hash(c), lit(n.toInt)).cast("string")
      case Truncate(w) => when(c.cast("string").isNull, lit(null))
        .otherwise(substring(c.cast("string"), 1, w.toInt))
      case other => throw new IllegalArgumentException(s"unknown transform: $other")
    }
  }

  /** Schema history view: one row per (schema_id, field) generation,
    * plus the current marker — the catalog surface of the evolution
    * model. */
  def schemaHistory(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val (schemas, curId) = parseSchemas(json)
    schemas.flatMap(s => s.fields.map(f =>
      (s.schemaId, f.id, f.name, f.required, f.tpe, s.schemaId == curId)))
      .toDF("schema_id", "field_id", "name", "required", "type", "is_current")
  }

  /**
   * Continuous Iceberg ingestion: every micro-batch commits one
   * snapshot, tagged with its replay-stable streaming batch id so a
   * crash-replayed batch is recognized and skipped — exactly-once table
   * contents over at-least-once delivery, the contract the reference's
   * datalake coordinator enforces per committed offset range
   * (`datalake/coordinator/`).
   */
  def icebergSink(stream: DataFrame, tsCol: Column, table: String,
      ckptDir: String,
      partFn: Column => Column = Datalake.hourPartition)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .queryName(s"iceberg:$table")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commit(batch, tsCol, table, partFn, sourceBatchId = Some(batchId))
        ()
      }
      .start()

  /**
   * One CDC upsert batch: delete-by-key then append, the classic
   * equality-delete upsert. Replay-safe: if a snapshot already carries
   * `sourceBatchId` the whole batch (delete AND append) is a no-op — the
   * check runs BEFORE the delete, so a crash-replayed batch can never
   * equality-delete the rows its own first delivery appended.
   */
  def upsertBatch(batch: DataFrame, tsCol: Column, table: String,
      keyCols: Seq[String], sourceBatchId: Long,
      partFn: Column => Column = Datalake.hourPartition): Long = {
    val spark = batch.sparkSession
    val fs = fsOf(spark, table)
    currentVersion(fs, table).foreach { v =>
      val snaps = parseSnapshots(readMetadataJson(fs, table, v))
      snaps.find(_.sourceBatchId.contains(sourceBatchId))
        .foreach(s => return s.snapshotId)
      if (snaps.nonEmpty)
        deleteWhereEquality(spark, table,
          batch.select(keyCols.map(col): _*).distinct())
    }
    commit(batch, tsCol, table, partFn, sourceBatchId = Some(sourceBatchId))
  }

  /**
   * Continuous CDC ingestion — the upsert flavor of [[icebergSink]]:
   * every micro-batch equality-deletes its keys then appends, so the
   * table always holds each key's latest version (delete-old/append-new
   * under the v2 sequence-scoping rule). Exactly-once table contents
   * over at-least-once delivery via the same batch-id dedup.
   */
  def icebergUpsertSink(stream: DataFrame, tsCol: Column, table: String,
      ckptDir: String, keyCols: Seq[String],
      partFn: Column => Column = Datalake.hourPartition)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .queryName(s"iceberg-upsert:$table")
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, tsCol, table, keyCols, batchId, partFn)
        ()
      }
      .start()

  /**
   * Expire all but the newest `keepLast` snapshots — Iceberg
   * `expireSnapshots` semantics: expiry removes TIME TRAVEL, not data.
   * A new metadata version without the expired snapshots commits first;
   * then only files no SURVIVING snapshot references are deleted (in an
   * append-only table the current snapshot's manifest list carries every
   * prior manifest as EXISTING, so data survives — exactly why Iceberg
   * expiry is safe under concurrent reads). Readers on the old hint
   * still resolve until the unreferenced-file delete lands.
   */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int): Seq[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(return Seq.empty)
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    if (snaps.size <= keepLast) return Seq.empty
    // named refs PIN their snapshots through expiry (snapshot.h: refs
    // govern retention — a tagged/branched snapshot survives even
    // outside the keep-last window; it expires only once the ref drops)
    val pinned = parseExtraRefs(json).map(_.snapshotId).toSet
    val expire = snaps.take(snaps.size - keepLast).filterNot(s => pinned(s.snapshotId))
    removeSnapshots(fs, table, v, json, snaps, expire)
  }

  /**
   * Age-policy snapshot expiration — the retention model of
   * `iceberg/snapshot.h:95-118` (ref-carried `max-ref-age-ms`,
   * branch-only `max-snapshot-age-ms` / `min-snapshots-to-keep`,
   * JSON field names per `snapshot_json.cc:129-136`) applied through
   * the `remove_snapshots` metadata update
   * (`table_update_applier.cc:108-127`):
   *
   *  1. a non-main ref whose snapshot is older than its own
   *     `max-ref-age-ms` (measured at `nowMs`) expires FIRST and drops
   *     from the refs map;
   *  2. every surviving TAG pins its snapshot unconditionally;
   *  3. every surviving BRANCH — and `main`, which takes the table
   *     defaults — keeps the newest `min-snapshots-to-keep` snapshots
   *     of its history (this linear-history model: all snapshots up to
   *     the branch head) plus every history snapshot younger than its
   *     `max-snapshot-age-ms`;
   *  4. snapshots retained by no rule are removed, with the same
   *     file-level-reachability physical cleanup as [[expireSnapshots]].
   *
   * `nowMs` is an explicit parameter (not wall clock) so retention
   * decisions are reproducible — the caller supplies the sweep time,
   * exactly as the reference's housekeeping passes a clock in.
   * Returns the expired snapshot ids.
   */
  def expireSnapshotsByPolicy(spark: SparkSession, table: String, nowMs: Long,
      defaultMaxAgeMs: Long, defaultMinToKeep: Int = 1): Seq[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(return Seq.empty)
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    if (snaps.isEmpty) return Seq.empty
    val tsOf = snaps.map(s => s.snapshotId -> s.timestampMs).toMap
    val (staleRefs, liveRefs) = parseExtraRefs(json).partition(r =>
      r.maxRefAgeMs.exists(a => nowMs - tsOf.getOrElse(r.snapshotId, nowMs) > a))
    val tagPinned = liveRefs.filter(_.refType == "tag").map(_.snapshotId).toSet
    // branch retention: main (table defaults) + every surviving branch
    val branches = liveRefs.filter(_.refType == "branch")
      .map(b => (b.snapshotId, b.maxSnapshotAgeMs.getOrElse(defaultMaxAgeMs),
        b.minSnapshotsToKeep.getOrElse(defaultMinToKeep))) :+
      ((snaps.last.snapshotId, defaultMaxAgeMs, defaultMinToKeep))
    val branchKept = branches.flatMap { case (head, maxAge, minKeep) =>
      val history = snaps.filter(_.snapshotId <= head)
      val byAge = history.filter(s => nowMs - s.timestampMs <= maxAge)
      val byCount = history.takeRight(math.max(minKeep, 1))
      (byAge ++ byCount).map(_.snapshotId)
    }.toSet
    val expire = snaps.filterNot(s =>
      tagPinned(s.snapshotId) || branchKept(s.snapshotId))
    if (staleRefs.nonEmpty && expire.isEmpty) {
      // ref expiry alone still rewrites metadata (the refs map shrank)
      val (schemas, curId) = parseSchemas(json)
      val (specs, specId) = parseSpecs(json)
      writeMetadataJsonFull(fs, table, v + 1, schemas, curId, specs, specId,
        lastColumnIdOf(json), snaps, jsonStrField(json, "table-uuid").get, liveRefs)
      return Seq.empty
    }
    removeSnapshots(fs, table, v, json, snaps, expire,
      refsOverride = Some(liveRefs))
  }

  /** The `remove_snapshots` applier + physical cleanup shared by
    * [[expireSnapshots]] and [[expireSnapshotsByPolicy]]. */
  private def removeSnapshots(fs: FileSystem, table: String, v: Int,
      json: String, snaps: Seq[SnapshotInfo], expire: Seq[SnapshotInfo],
      refsOverride: Option[Seq[RefInfo]] = None): Seq[Long] = {
    if (expire.isEmpty) return Seq.empty
    val keep = snaps.filterNot(expire.contains)
    val uuid = jsonStrField(json, "table-uuid").get
    // metadata version first
    writeMetadataJsonKeeping(fs, table, v + 1, json, keep, uuid, refsOverride)
    // then physical cleanup by FILE-level reachability: a data file
    // survives iff ANY kept snapshot's manifests still reference it.
    // (Manifest-level reachability is not enough once rewriteDataFiles
    // has run — an untouched file appears both in an old append manifest
    // and in the rewrite's consolidated manifest.)
    val keptManifests = keep.flatMap(s =>
      readAvro(fs, new Path(s.manifestList), ManifestFileSchema)
        .map(_.get("manifest_path").toString)).toSet
    val keptFiles = keptManifests.flatMap(m =>
      readAvro(fs, new Path(m), ManifestEntrySchema).map(
        _.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
    // union the expired snapshots' manifest sets FIRST (append commits
    // accumulate manifests, so consecutive expired snapshots share them —
    // each manifest must be read and deleted exactly once)
    val expiredManifests = expire.flatMap(s =>
      readAvro(fs, new Path(s.manifestList), ManifestFileSchema)
        .map(_.get("manifest_path").toString)).toSet -- keptManifests
    expiredManifests.foreach { m =>
      readAvro(fs, new Path(m), ManifestEntrySchema).foreach { e =>
        val f = e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
        if (!keptFiles.contains(f)) fs.delete(new Path(f), false)
      }
      fs.delete(new Path(m), false)
    }
    expire.foreach(s => fs.delete(new Path(s.manifestList), false))
    expire.map(_.snapshotId)
  }

  /** Rewrite metadata keeping a snapshot subset; the schema and
    * partition-spec HISTORIES are copied verbatim from the prior
    * version (a snapshot operation never mutates them). */
  private def writeMetadataJsonKeeping(fs: FileSystem, table: String, v: Int,
      priorJson: String, keep: Seq[SnapshotInfo], uuid: String,
      refsOverride: Option[Seq[RefInfo]] = None): Unit = {
    val (schemas, curId) = parseSchemas(priorJson)
    val (specs, specId) = parseSpecs(priorJson)
    // refs survive a snapshot operation, but a ref whose target is no
    // longer in the kept set is dangling and must drop with it
    val keptIds = keep.map(_.snapshotId).toSet
    writeMetadataJsonFull(fs, table, v, schemas, curId, specs, specId,
      lastColumnIdOf(priorJson), keep, uuid,
      refsOverride.getOrElse(parseExtraRefs(priorJson))
        .filter(r => keptIds(r.snapshotId)))
  }

  // ------------------------------------------------------------- reading

  /** (data, delete) manifest counts of the CURRENT snapshot — the
    * planning-cost figure rewrite_manifests exists to shrink. */
  def manifestCounts(spark: SparkSession, table: String): (Int, Int) = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(return (0, 0))
    val snaps = parseSnapshots(readMetadataJson(fs, table, v))
    snaps.lastOption.map { s =>
      val recs = readAvro(fs, new Path(s.manifestList), ManifestFileSchema)
      val (d, del) = recs.partition(_.get("content").asInstanceOf[Int] == 0)
      (d.size, del.size)
    }.getOrElse((0, 0))
  }

  /** Snapshot catalog of the table: (snapshot_id, sequence_number,
    * n_files, n_rows) from the CURRENT metadata version's manifest
    * lists — all bounded metadata. */
  def snapshotCatalog(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, table)
    val rows = currentVersion(fs, table).toSeq.flatMap { v =>
      parseSnapshots(readMetadataJson(fs, table, v)).map { s =>
        val mfs = readAvro(fs, new Path(s.manifestList), ManifestFileSchema)
        val added = mfs.filter(_.get("added_snapshot_id").asInstanceOf[Long] == s.snapshotId)
        (s.snapshotId, s.sequenceNumber,
          added.map(_.get("added_files_count").asInstanceOf[Int]).sum,
          added.map(_.get("added_rows_count").asInstanceOf[Long]).sum)
      }
    }
    rows.toDF("snapshot_id", "sequence_number", "n_files", "n_rows")
  }

  // ----------------------------------------------------- snapshot refs

  /** Create or move a named snapshot reference
    * (`iceberg/snapshot.h:86-114`): a `tag` permanently labels one
    * snapshot, a `branch` is a mutable named head. Metadata-only — a
    * new metadata version with the refs map updated; `main` stays
    * implicit. The referenced snapshot must exist. */
  def setRef(spark: SparkSession, table: String, name: String,
      snapshotId: Long, refType: String, maxRefAgeMs: Option[Long] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None): Unit = {
    require(refType == "tag" || refType == "branch", s"bad ref type $refType")
    require(name != "main", "the main branch is managed by commits")
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    require(snaps.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId does not exist")
    val refs = parseExtraRefs(json).filterNot(_.name == name) :+
      RefInfo(name, snapshotId, refType, maxRefAgeMs, maxSnapshotAgeMs,
        minSnapshotsToKeep)
    val (schemas, curId) = parseSchemas(json)
    val (specs, specId) = parseSpecs(json)
    writeMetadataJsonFull(fs, table, v + 1, schemas, curId, specs, specId,
      lastColumnIdOf(json), snaps, jsonStrField(json, "table-uuid").get, refs)
  }

  def createTag(spark: SparkSession, table: String, name: String,
      snapshotId: Long, maxRefAgeMs: Option[Long] = None): Unit =
    setRef(spark, table, name, snapshotId, "tag", maxRefAgeMs)

  def createBranch(spark: SparkSession, table: String, name: String,
      snapshotId: Long, maxRefAgeMs: Option[Long] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None): Unit =
    setRef(spark, table, name, snapshotId, "branch", maxRefAgeMs,
      maxSnapshotAgeMs, minSnapshotsToKeep)

  /** Drop a named ref: its snapshot loses the expiry pin. */
  def dropRef(spark: SparkSession, table: String, name: String): Unit = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(return)
    val json = readMetadataJson(fs, table, v)
    val refs = parseExtraRefs(json).filterNot(_.name == name)
    val (schemas, curId) = parseSchemas(json)
    val (specs, specId) = parseSpecs(json)
    writeMetadataJsonFull(fs, table, v + 1, schemas, curId, specs, specId,
      lastColumnIdOf(json), parseSnapshots(json),
      jsonStrField(json, "table-uuid").get, refs)
  }

  /** Ref catalog: every named ref plus the implicit main head. */
  def listRefs(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, table)
    val rows = currentVersion(fs, table).toSeq.flatMap { v =>
      val json = readMetadataJson(fs, table, v)
      val main = parseSnapshots(json).lastOption
        .map(s => ("main", "branch", s.snapshotId, None: Option[Long])).toSeq
      main ++ parseExtraRefs(json).map(r =>
        (r.name, r.refType, r.snapshotId, r.maxRefAgeMs))
    }
    rows.toDF("name", "type", "snapshot_id", "max_ref_age_ms")
  }

  /** Read the table as of a named ref (`SELECT ... VERSION AS OF
    * 'ref'`): main resolves to the current snapshot, any other ref to
    * its pinned snapshot. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    if (name == "main") return readSnapshot(spark, table, None)
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val ref = parseExtraRefs(readMetadataJson(fs, table, v))
      .find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no ref $name"))
    readSnapshot(spark, table, Some(ref.snapshotId))
  }

  /** Metadata-driven scan: resolve the current snapshot's manifest list
    * → manifests → data-file paths, and plan the scan over exactly that
    * file set (Iceberg's manifest pruning; no directory listing). */
  def readTable(spark: SparkSession, table: String): DataFrame =
    readSnapshot(spark, table, None)

  /** Time travel: the table exactly as of `snapshotId` — resolved from
    * that snapshot's own manifest list, so later appends, rewrites, and
    * deletes are invisible. Fails if the snapshot has been expired
    * (expiry removes time travel — the Iceberg contract). */
  def timeTravel(spark: SparkSession, table: String, snapshotId: Long): DataFrame =
    readSnapshot(spark, table, Some(snapshotId))

  private def readSnapshot(spark: SparkSession, table: String,
      snapshotId: Option[Long]): DataFrame = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    val chosen = snapshotId match {
      case Some(id) => snaps.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not found at $table (expired or never committed)"))
      case None => snaps.lastOption.getOrElse(return spark.emptyDataFrame)
    }
    val (schemas, curIdNow) = parseSchemas(json)
    // time travel reads with the snapshot's OWN schema generation (the
    // Iceberg contract); the live read uses the current one
    val targetId = snapshotId.map(_ => chosen.schemaId).getOrElse(curIdNow)
    val target = schemas.find(_.schemaId == targetId)
      .orElse(schemas.lastOption).getOrElse(return spark.emptyDataFrame)
    val genOf: Long => Int =
      snaps.map(s => s.snapshotId -> s.schemaId).toMap.getOrElse(_, 0)
    // manifest-list `content` (field-id 517) splits data manifests (0)
    // from delete manifests (1); inside a delete manifest,
    // data_file.content distinguishes position (1) from equality (2)
    // delete files — the two v2 row-level delete flavors
    val manifestRecs = readAvro(fs, new Path(chosen.manifestList), ManifestFileSchema)
    // (path, content, seq, adding snapshot) — the adder's schema
    // generation governs the file's column names
    def entriesOf(content: Int): Seq[(String, Int, Long, Long)] = manifestRecs
      .filter(_.get("content").asInstanceOf[Int] == content)
      .map(_.get("manifest_path").toString)
      .flatMap(m => readAvro(fs, new Path(m), ManifestEntrySchema)
        .filter(_.get("status").asInstanceOf[Int] != 2) // not DELETED
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          (d.get("file_path").toString, d.get("content").asInstanceOf[Int],
            Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
            Option(e.get("snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(0L))
        })
    val dataEntries = entriesOf(0)
    val delEntries = entriesOf(1)
    val posDeleteFiles = delEntries.filter(_._2 == 1).map(_._1)
    val eqDeleteFiles = delEntries.filter(_._2 == 2) // (path, _, seq, snap)
    val withDeletes = posDeleteFiles.nonEmpty || eqDeleteFiles.nonEmpty
    if (dataEntries.isEmpty) return spark.emptyDataFrame

    // Aligned read: files group by the schema generation that wrote
    // them; each group projects to the TARGET generation BY FIELD ID —
    // renamed fields surface under their target name, dropped ids are
    // not selected, ids the group predates become nulls. One planned
    // scan per live generation (bounded), unioned. basePath
    // reconstitutes the partition columns (snap, p_key) from the k=v
    // path segments — Iceberg readers likewise materialize partition
    // values from metadata, not data bytes.
    def alignedRead(entries: Seq[(String, Int, Long, Long)]): DataFrame =
      entries.groupBy(e => genOf(e._4)).toSeq.sortBy(_._1).map { case (gid, es) =>
        val gen = schemas.find(_.schemaId == gid).getOrElse(target)
        val nameOfId = gen.fields.map(f => f.id -> f.name).toMap
        val df = spark.read.option("basePath", dataDir(table))
          .option("mergeSchema", "true")
          .parquet(es.map(_._1): _*)
        val meta =
          if (withDeletes) Seq(col("_metadata.file_path").as("__fp"),
            col("_metadata.row_index").as("__pos"))
          else Seq.empty
        val aligned = target.fields.map { f =>
          nameOfId.get(f.id) match {
            case Some(n) if df.columns.contains(n) => col(n).as(f.name)
            case _ => lit(null).cast(sparkTypeOf(f.tpe)).as(f.name)
          }
        }
        df.select(aligned ++ Seq(col("p_key")) ++ meta: _*)
      }.reduce(_ unionByName _)

    val base = alignedRead(dataEntries)
    if (!withDeletes) base
    else {
      import spark.implicits._
      var cur = base
      if (posDeleteFiles.nonEmpty) {
        // position deletes: anti-join (file_path, pos) — the exact v2
        // application rule. Delete sets are tiny vs the table (AQE
        // broadcasts them); the data side never shuffles.
        val dels = spark.read.parquet(posDeleteFiles: _*)
          .select(col("file_path").as("__dfp"), col("pos").as("__dpos"))
        cur = cur.join(dels,
          col("__fp") === col("__dfp") && col("__pos") === col("__dpos"), "left_anti")
      }
      if (eqDeleteFiles.nonEmpty) {
        // equality deletes apply only to data files with a STRICTLY
        // OLDER sequence number (spec: "an equality delete file must be
        // applied to data files from older commits") — attach each data
        // file's seq via a bounded (file_path, seq) map, then anti-join
        // on the key columns with the sequence bound.
        val seqMap = dataEntries.map { case (p, _, sq, _) => (p, sq) }
          .toDF("__sfp", "__seq")
        cur = cur.join(broadcast(seqMap), col("__fp") === col("__sfp"), "left")
          .drop("__sfp")
        // equality_ids are PER FILE: two commits may delete by
        // different key sets. Group delete files by key-column set and
        // apply one anti-join per group (a single unionByName across
        // heterogeneous key schemas would throw at read time). Delete
        // files name keys under the schema generation of their OWN
        // snapshot — rename to the target generation by field id first.
        eqDeleteFiles.map { case (p, _, sq, sid) =>
          val gen = schemas.find(_.schemaId == genOf(sid)).getOrElse(target)
          val idOfName = gen.fields.map(f => f.name -> f.id).toMap
          val tgtOfId = target.fields.map(f => f.id -> f.name).toMap
          val raw = spark.read.parquet(p)
          val renamed = raw.select(raw.columns.toSeq.map { c =>
            col(c).as(idOfName.get(c).flatMap(tgtOfId.get).getOrElse(c))
          }: _*)
          renamed.withColumn("__dseq", lit(sq))
        }.groupBy(_.columns.filterNot(_ == "__dseq").sorted.toSeq)
          .foreach { case (keyCols, dfs) =>
            val keys = dfs.reduce(_ unionByName _)
            val cond = keyCols.map(k => cur(k) <=> keys(k)).reduce(_ && _) &&
              col("__seq") < col("__dseq")
            cur = cur.join(keys, cond, "left_anti")
          }
        cur = cur.drop("__seq")
      }
      cur.drop("__fp", "__pos", "__seq")
    }
  }

  /**
   * Row-level DELETE by key — Iceberg v2 EQUALITY deletes: `keys` rows
   * (one column per key field) are written as a content=2 delete file
   * whose `equality_ids` list the key field ids; at scan time every data
   * row from a STRICTLY OLDER commit whose key columns match any delete
   * row is dropped. Unlike position deletes no data scan happens at
   * delete time at all — the CDC/upsert-friendly flavor (a streaming
   * writer deletes by primary key without knowing file layout).
   * Later appends are unaffected by earlier equality deletes (their
   * sequence number is higher — the spec's scoping rule, which is what
   * makes "delete old value, append new value" upserts correct).
   */
  def deleteWhereEquality(spark: SparkSession, table: String, keys: DataFrame): Option[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    if (snaps.isEmpty) return None
    val uuid = jsonStrField(json, "table-uuid").get
    val current = snaps.last
    val snapId = snaps.map(_.snapshotId).max + 1
    val seq = snaps.map(_.sequenceNumber).max + 1
    val delDir = new Path(s"${dataDir(table)}/deletes/snap=$snapId")
    if (fs.exists(delDir)) fs.delete(delDir, true)
    keys.distinct().coalesce(1).write.mode("overwrite").parquet(delDir.toString)
    val delFiles = fs.listStatus(delDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath, st.getLen, footerRowCount(spark, st.getPath)))
      .filter(_._3 > 0)
    if (delFiles.isEmpty) { fs.delete(delDir, true); return None }
    // PERMANENT field ids of the key columns, resolved in the CURRENT
    // schema generation (names may have been renamed since older data
    // was written — the ids are what survive)
    val (allSchemas, curSchemaId) = parseSchemas(json)
    val curFields = allSchemas.find(_.schemaId == curSchemaId).get.fields
    val eqIds = keys.columns.toSeq.map(c =>
      Integer.valueOf(curFields.find(_.name == c).map(_.id).getOrElse(0)))
    require(eqIds.forall(_ > 0), s"key columns ${keys.columns.mkString(",")} not in table schema")
    val entrySchema = ManifestEntrySchema
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val entries = delFiles.map { case (p, len, rows) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      val part = new GenericData.Record(dataFileSchema.getField("partition").schema())
      part.put("p_key", null)
      val d = new GenericData.Record(dataFileSchema)
      d.put("content", 2) // EQUALITY_DELETES
      d.put("file_path", p.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", part)
      d.put("record_count", rows)
      d.put("file_size_in_bytes", len)
      d.put("equality_ids", new java.util.ArrayList[Integer](eqIds.asJava))
      e.put("data_file", d)
      e
    }
    val manifestPath = new Path(s"${metaDir(table)}/manifest-$snapId.avro")
    val manifestLen = writeAvro(fs, manifestPath, entrySchema, entries)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 1)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", delFiles.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 0L)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", delFiles.map(_._3).sum)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    val priorList = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    writeAvro(fs, listPath, ManifestFileSchema, priorList :+ mf)
    writeMetadataJsonKeeping(fs, table, v + 1, json,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, 0L, op = "delete",
        schemaId = curSchemaId), uuid)
    Some(snapId)
  }

  /**
   * Row-level DELETE — Iceberg v2 merge-on-read position deletes: rows of
   * the CURRENT snapshot matching `predicate` are recorded as
   * (file_path, pos) pairs in position-delete files (spec field-ids
   * 2147483546/2147483545), committed as a new snapshot whose manifest
   * list carries the prior data manifests EXISTING plus one `content=1`
   * delete manifest. No data file is rewritten — readers apply deletes at
   * scan time ([[readTable]]); time travel to a pre-delete snapshot still
   * sees every row, and [[expireSnapshots]] reclaims delete files by the
   * same file-level reachability as data files.
   *
   * Scale: the match scan is one planned file-set read with the predicate
   * pushed down; positions come from the parquet reader's own
   * `_metadata.row_index` (no window, no shuffle); delete files are
   * written sorted by (file_path, pos) as the spec requires.
   * Returns the delete snapshot id, or None when nothing matched.
   */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column): Option[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    val current = snaps.lastOption.getOrElse(return None)
    val uuid = jsonStrField(json, "table-uuid").get
    val manifestRecs = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    val dataFiles = manifestRecs
      .filter(_.get("content").asInstanceOf[Int] == 0)
      .map(_.get("manifest_path").toString)
      .flatMap(m => readAvro(fs, new Path(m), ManifestEntrySchema)
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
      .distinct
    if (dataFiles.isEmpty) return None
    val snapId = snaps.map(_.snapshotId).max + 1
    val seq = snaps.map(_.sequenceNumber).max + 1
    val delDir = new Path(s"${dataDir(table)}/deletes/snap=$snapId")
    if (fs.exists(delDir)) fs.delete(delDir, true)
    spark.read.option("basePath", dataDir(table)).parquet(dataFiles: _*)
      .drop("snap")
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .where(predicate)
      .select("file_path", "pos")
      .sortWithinPartitions("file_path", "pos")
      .write.mode("overwrite").parquet(delDir.toString)
    val delFiles = fs.listStatus(delDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath, st.getLen, footerRowCount(spark, st.getPath)))
      .filter(_._3 > 0)
    if (delFiles.isEmpty) { fs.delete(delDir, true); return None }
    val entrySchema = ManifestEntrySchema
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val entries = delFiles.map { case (p, len, rows) =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      val part = new GenericData.Record(dataFileSchema.getField("partition").schema())
      part.put("p_key", null) // position deletes are partition-unscoped here
      val d = new GenericData.Record(dataFileSchema)
      d.put("content", 1) // POSITION_DELETES
      d.put("file_path", p.toString)
      d.put("file_format", "PARQUET")
      d.put("partition", part)
      d.put("record_count", rows)
      d.put("file_size_in_bytes", len)
      e.put("data_file", d)
      e
    }
    val manifestPath = new Path(s"${metaDir(table)}/manifest-$snapId.avro")
    val manifestLen = writeAvro(fs, manifestPath, entrySchema, entries)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 1) // DELETES manifest
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", delFiles.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 0L)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", delFiles.map(_._3).sum)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    val priorList = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    writeAvro(fs, listPath, ManifestFileSchema, priorList :+ mf)
    writeMetadataJsonKeeping(fs, table, v + 1, json,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, 0L, op = "delete",
        schemaId = parseSchemas(json)._2), uuid)
    Some(snapId)
  }

  // -------------------------------------------------------- maintenance

  /**
   * Bin-pack small-file compaction — Iceberg `rewriteDataFiles`
   * semantics: partitions holding more than one data file have their
   * files rewritten into ~`targetFileBytes`-sized files; untouched
   * partitions' files are carried over unchanged. The commit is a
   * `replace` snapshot whose single consolidated manifest lists the new
   * files as ADDED and the carried files as EXISTING — table content is
   * bit-identical before and after, only the file layout changes.
   * Old files are NOT deleted (prior snapshots still reference them for
   * time travel); [[expireSnapshots]] reclaims them once unreachable.
   *
   * Scale shape: the rewrite reads only the affected partitions' files
   * (a planned file-set scan, no directory listing) and writes them back
   * through the standard clustered partition writer, splitting output at
   * `targetFileBytes` via `maxRecordsPerFile` derived from the measured
   * bytes/row of the input — driver code touches only manifest metadata.
   * This is the datalake answer to the log world's segment compaction:
   * streaming commits produce file counts proportional to commit
   * frequency, and scan cost at 100 TB is dominated by file count until
   * they are bin-packed.
   *
   * Returns the new snapshot id, or None if no partition needed work.
   */
  def rewriteDataFiles(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    val current = snaps.lastOption.getOrElse(return None)
    val uuid = jsonStrField(json, "table-uuid").get

    // current file inventory: (path, p_key, bytes, rows) per entry.
    // A pending delete manifest makes bin-pack unsafe (the rewrite would
    // resurrect deleted rows — new file paths invalidate position
    // deletes); Iceberg's RewriteDataFiles likewise special-cases delete
    // files. Fold deletes first (out of scope here) or expire them.
    val manifestRecs0 = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    if (manifestRecs0.exists(_.get("content").asInstanceOf[Int] == 1)) return None
    // Mixed schema generations among the data files make a raw
    // re-read-and-rewrite unsafe (renamed columns would misalign) —
    // like pending deletes, refuse and let the caller compact first.
    val genBySnap = parseSnapshots(json).map(s => s.snapshotId -> s.schemaId).toMap
    val manifests = manifestRecs0.map(_.get("manifest_path").toString)
    val rawEntries = manifests.flatMap(m =>
      readAvro(fs, new Path(m), ManifestEntrySchema)
        .filter(_.get("status").asInstanceOf[Int] != 2))
    val gens = rawEntries.map(e =>
      genBySnap.getOrElse(Option(e.get("snapshot_id"))
        .map(_.asInstanceOf[Long]).getOrElse(0L), 0)).distinct
    if (gens.length > 1) return None
    val entries = rawEntries
      .map { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        val pKey = d.get("partition").asInstanceOf[GenericRecord].get("p_key")
        (d.get("file_path").toString, String.valueOf(pKey),
          d.get("file_size_in_bytes").asInstanceOf[Long],
          d.get("record_count").asInstanceOf[Long])
      }.distinct
    val byPart = entries.groupBy(_._2)
    val rewritten = byPart.filter { case (_, fsLst) =>
      fsLst.size > 1 && fsLst.map(_._3).sum <= targetFileBytes * fsLst.size
    }
    if (rewritten.isEmpty) return None
    val rewriteFiles = rewritten.values.flatten.toSeq
    val carried = entries.filterNot(e => rewritten.contains(e._2))

    val snapId = snaps.map(_.snapshotId).max + 1
    val seq = snaps.map(_.sequenceNumber).max + 1

    // rewrite: planned scan over exactly the affected files, clustered
    // write split at targetFileBytes via measured bytes/row
    val totBytes = rewriteFiles.map(_._3).sum
    val totRows = math.max(1L, rewriteFiles.map(_._4).sum)
    val maxRecords = math.max(1L, targetFileBytes * totRows / math.max(1L, totBytes))
    val snapData = new Path(s"${dataDir(table)}/snap=$snapId")
    if (fs.exists(snapData)) fs.delete(snapData, true)
    spark.read.option("basePath", dataDir(table))
      .parquet(rewriteFiles.map(_._1): _*)
      .drop("snap")
      .repartition(col("p_key"))
      .write.mode("overwrite").partitionBy("p_key")
      .option("maxRecordsPerFile", maxRecords)
      .parquet(snapData.toString)

    val entrySchema = ManifestEntrySchema
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    def mkEntry(status: Int, path: String, pKey: String, bytes: Long, rows: Long) = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", seq)
      e.put("file_sequence_number", seq)
      val part = new GenericData.Record(partSchema)
      part.put("p_key", pKey)
      val d = new GenericData.Record(dataFileSchema)
      d.put("content", 0)
      d.put("file_path", path)
      d.put("file_format", "PARQUET")
      d.put("partition", part)
      d.put("record_count", rows)
      d.put("file_size_in_bytes", bytes)
      e.put("data_file", d)
      e
    }
    val newFiles = listPartFiles(fs, snapData).map { case (p, pKey, len) =>
      mkEntry(1, p.toString, pKey, len, footerRowCount(spark, p))
    }
    val carriedEntries = carried.map { case (p, pKey, bytes, rows) =>
      mkEntry(0, p, pKey, bytes, rows) // status 0 = EXISTING
    }
    val manifestPath = new Path(s"${metaDir(table)}/manifest-$snapId.avro")
    val manifestLen = writeAvro(fs, manifestPath, entrySchema,
      newFiles ++ carriedEntries)

    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", current.sequenceNumber)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", newFiles.size)
    mf.put("existing_files_count", carriedEntries.size)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", newFiles.map(
      _.get("data_file").asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum)
    mf.put("existing_rows_count", carriedEntries.map(
      _.get("data_file").asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]).sum)
    mf.put("deleted_rows_count", 0L)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    writeAvro(fs, listPath, ManifestFileSchema, Seq(mf))

    // metadata: the replace snapshot appended to the log, hint flips
    // last; schema/spec histories are untouched by a rewrite
    writeMetadataJsonKeeping(fs, table, v + 1, json,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, 0L, op = "replace",
        schemaId = gens.headOption.getOrElse(0)),
      uuid)
    Some(snapId)
  }

  /**
   * Major compaction — fold row-level deletes into the data: rewrites the
   * CURRENT snapshot's net content (position and equality deletes
   * applied) as a `replace` snapshot whose manifest list carries ONLY the
   * consolidated data manifest — no delete manifests survive, so
   * subsequent scans pay zero merge-on-read cost and
   * [[rewriteDataFiles]] bin-packing is unblocked. Table content is
   * bit-identical before and after ([[readTable]] already applied the
   * deletes); prior snapshots keep their manifest lists, so time travel
   * across the compaction still resolves, and [[expireSnapshots]]
   * reclaims the obsolete data + delete files once unreachable.
   * Returns the new snapshot id, or None when no delete manifest pends.
   */
  def compactDeletes(spark: SparkSession, table: String): Option[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    val current = snaps.lastOption.getOrElse(return None)
    val uuid = jsonStrField(json, "table-uuid").get
    val manifestRecs = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    if (!manifestRecs.exists(_.get("content").asInstanceOf[Int] == 1)) return None
    val snapId = snaps.map(_.snapshotId).max + 1
    val seq = snaps.map(_.sequenceNumber).max + 1
    // net content with deletes applied — the read path IS the merge
    val materialized = readSnapshot(spark, table, None)
    val snapData = new Path(s"${dataDir(table)}/snap=$snapId")
    if (fs.exists(snapData)) fs.delete(snapData, true)
    materialized.repartition(col("p_key"))
      .write.mode("overwrite").partitionBy("p_key").parquet(snapData.toString)
    val files = listPartFiles(fs, snapData)
    val (manifestPath, manifestLen, addedRows) =
      writeAddManifest(spark, fs, table, snapId, seq, files)
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", files.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", addedRows)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    writeAvro(fs, listPath, ManifestFileSchema, Seq(mf))
    // the rewritten files carry the CURRENT generation's column names
    // (readSnapshot aligned them) — stamp that generation
    writeMetadataJsonKeeping(fs, table, v + 1, json,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, 0L, op = "replace",
        schemaId = parseSchemas(json)._2), uuid)
    Some(snapId)
  }

  /** Data-file inventory of the CURRENT snapshot: (p_key, n_files,
    * n_rows, bytes) per partition, from manifest metadata only. */
  /**
   * Manifest consolidation — `rewrite_manifests`, the METADATA-ONLY
   * maintenance action: append commits accumulate one manifest each,
   * and planning cost grows with the manifest count even when the data
   * layout is fine. This folds every data manifest of the current
   * snapshot into ONE manifest whose entries are all EXISTING, each
   * keeping its ORIGINAL snapshot id and sequence number (schema
   * alignment and equality-delete sequence scoping both key off them);
   * delete manifests carry over untouched; no data file moves. The
   * result commits as a `replace` snapshot — prior snapshots keep
   * their manifest lists, so time travel is unaffected.
   */
  def rewriteManifests(spark: SparkSession, table: String): Option[Long] = {
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(
      throw new IllegalStateException(s"no iceberg metadata at $table"))
    val json = readMetadataJson(fs, table, v)
    val snaps = parseSnapshots(json)
    val current = snaps.lastOption.getOrElse(return None)
    val uuid = jsonStrField(json, "table-uuid").get
    val mRecs = readAvro(fs, new Path(current.manifestList), ManifestFileSchema)
    val (dataManifests, deleteManifests) =
      mRecs.partition(_.get("content").asInstanceOf[Int] == 0)
    if (dataManifests.size <= 1) return None
    val entries = dataManifests
      .flatMap(m => readAvro(fs,
        new Path(m.get("manifest_path").toString), ManifestEntrySchema))
      .filter(_.get("status").asInstanceOf[Int] != 2)
    entries.foreach(_.put("status", 0)) // EXISTING; ids/sequences preserved
    val snapId = snaps.map(_.snapshotId).max + 1
    val seq = snaps.map(_.sequenceNumber).max + 1
    val manifestPath = new Path(s"${metaDir(table)}/manifest-rw-$snapId.avro")
    val manifestLen = writeAvro(fs, manifestPath, ManifestEntrySchema, entries)
    def rowsOf(e: GenericRecord): Long = e.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count").asInstanceOf[Long]
    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", manifestPath.toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", 0)
    mf.put("content", 0)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number",
      dataManifests.map(_.get("min_sequence_number").asInstanceOf[Long]).min)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_files_count", 0)
    mf.put("existing_files_count", entries.size)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count", 0L)
    mf.put("existing_rows_count", entries.map(rowsOf).sum)
    mf.put("deleted_rows_count", 0L)
    val listPath = new Path(s"${metaDir(table)}/snap-$snapId.avro")
    writeAvro(fs, listPath, ManifestFileSchema, mf +: deleteManifests)
    writeMetadataJsonKeeping(fs, table, v + 1, json,
      snaps :+ SnapshotInfo(snapId, seq, listPath.toString, 0L, op = "replace",
        schemaId = current.schemaId),
      uuid)
    Some(snapId)
  }

  val OrphanDefaultGuardMs: Long = 3L * 24 * 3600 * 1000

  /**
   * Orphan-file cleanup — the third Iceberg maintenance action (with
   * snapshot expiry and data-file compaction): delete files under the
   * table location that NO snapshot of the current metadata version
   * reaches. Reachability covers every snapshot's manifest list, every
   * manifest (data and delete content), and every referenced file path
   * of any status; `metadata/` artifacts (versioned metadata.json,
   * version-hint) are always kept. Only files whose modification time
   * is older than `olderThanMs` delete — the published safety
   * guard against racing an in-flight commit whose files are written
   * before its metadata publishes (exactly this repo's
   * [[stageAppend]]/[[commitStaged]] window). The DEFAULT is
   * conservative — now minus [[OrphanDefaultGuardMs]] (3 days, the
   * upstream Iceberg default) — so a default-parameter call can never
   * delete a just-written in-flight file; pass an explicit cutoff to
   * collect younger orphans deliberately.
   *
   * All metadata-side work is bounded (snapshots × manifests); the
   * listing is one recursive enumeration of the table prefix — the
   * same object-store LIST a production cleanup pays.
   */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMs: Long = -1L): Seq[String] = {
    val cutoffMs =
      if (olderThanMs >= 0) olderThanMs
      else System.currentTimeMillis() - OrphanDefaultGuardMs
    import spark.implicits._
    val fs = fsOf(spark, table)
    val v = currentVersion(fs, table).getOrElse(return Seq.empty)
    def norm(p: String): String = new Path(p).toUri.getPath
    // Reachability: bounded metadata (snapshots × manifests), walked on
    // the driver like every other metadata operation here.
    val reachable = scala.collection.mutable.Set[String]()
    parseSnapshots(readMetadataJson(fs, table, v)).foreach { s =>
      reachable += norm(s.manifestList)
      readAvro(fs, new Path(s.manifestList), ManifestFileSchema).foreach { mf =>
        val mp = mf.get("manifest_path").toString
        reachable += norm(mp)
        readAvro(fs, new Path(mp), ManifestEntrySchema).foreach { e =>
          reachable += norm(e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)
        }
      }
    }
    // The LISTING is the unbounded half (a 100 TB table holds millions
    // of files), so it runs DISTRIBUTED: first-level directories fan
    // out to executors, each listing its own subtree — the shape of
    // Iceberg's own remove_orphan_files Spark action. The diff is an
    // anti-join; only the (few) orphans ever come back to the driver.
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val roots = Seq(dataDir(table), metaDir(table)).map(new Path(_))
      .filter(fs.exists)
    val units = roots.flatMap { r =>
      val (dirs, files) = fs.listStatus(r).toSeq.partition(_.isDirectory)
      dirs.map(_.getPath.toString) ++ files.map(_.getPath.toString)
    }
    val listed = spark.sparkContext
      .parallelize(units, math.max(1, math.min(units.size, 64)))
      .flatMap { u =>
        val p = new Path(u)
        val tfs = p.getFileSystem(conf.value)
        def rec(d: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
          val st = tfs.getFileStatus(d)
          if (!st.isDirectory) Seq(st)
          else tfs.listStatus(d).toSeq.flatMap(c =>
            if (c.isDirectory) rec(c.getPath) else Seq(c))
        }
        rec(p).map(st => (st.getPath.toUri.getPath, st.getPath.getName,
          st.getModificationTime))
      }.toDF("path", "name", "mtime")
    val reachDf = reachable.toSeq.toDF("path")
    val orphans = listed
      .join(reachDf, Seq("path"), "left_anti")
      .where(!col("name").endsWith(".metadata.json") &&
        col("name") =!= "version-hint.text" &&
        // hidden/marker files (_SUCCESS, .crc, _temporary) are writer
        // artifacts, not table content — never candidates
        !col("name").startsWith("_") && !col("name").startsWith(".") &&
        col("mtime") < cutoffMs)
      .select("path", "name").collect()
    orphans.foreach(r => fs.delete(new Path(r.getString(0)), false))
    orphans.map(_.getString(1)).sorted.toSeq
  }

  def fileInventory(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, table)
    val rows = currentVersion(fs, table).toSeq.flatMap { v =>
      val snaps = parseSnapshots(readMetadataJson(fs, table, v))
      snaps.lastOption.toSeq.flatMap { s =>
        readAvro(fs, new Path(s.manifestList), ManifestFileSchema)
          .filter(_.get("content").asInstanceOf[Int] == 0) // data manifests only
          .map(_.get("manifest_path").toString)
          .flatMap(m => readAvro(fs, new Path(m), ManifestEntrySchema))
          .filter(_.get("status").asInstanceOf[Int] != 2)
          .map { e =>
            val d = e.get("data_file").asInstanceOf[GenericRecord]
            (String.valueOf(d.get("partition").asInstanceOf[GenericRecord].get("p_key")),
              d.get("file_path").toString,
              d.get("record_count").asInstanceOf[Long],
              d.get("file_size_in_bytes").asInstanceOf[Long])
          }.distinct
      }
    }
    rows.toDF("p_key", "file_path", "n_rows", "bytes")
      .groupBy("p_key")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
        sum("bytes").as("bytes"))
  }
}
