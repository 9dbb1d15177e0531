package graft.admin

import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/**
 * The broker Admin HTTP API protocol (`redpanda/admin/server.cc`
 * routes, `admin/api-doc` JSON shapes) as a pure request→response
 * function over a deterministic cluster model — the same testable
 * façade pattern as [[graft.proxy.RestProxy]] (no HTTP listener in
 * the dependency budget; the route grammar, JSON field names, status
 * codes, and error ladders are the contract an operator's tooling
 * sees).
 *
 * Covered surface (the routes rpk and operators hit daily):
 *  - brokers: list/get, maintenance enter/exit, decommission/
 *    recommission with the `throw_on_error` ladder (404 unknown
 *    broker, 400 invalid state transition — `server.cc:1040-1055`);
 *    broker JSON per `get_brokers` (`server.cc:933-1010`): node_id,
 *    num_cores, rack, membership_status, is_alive,
 *    maintenance_status{draining,finished,errors,partitions,…},
 *    version, disk_space[{path,free,total}].
 *  - cluster: health_overview (`server.cc:3619-3662` field set),
 *    cluster uuid.
 *  - cluster_config: GET (live values), GET /status (per-node
 *    config_version/restart/invalid), GET /schema (properties meta),
 *    PUT patch with upsert/remove — per-key validation errors
 *    ("Unknown property", "expected type …", "out of range: '…'")
 *    returned as a 400 JSON map exactly like
 *    `patch_cluster_config_handler` (`server.cc:1811-1989`), plus
 *    dry_run/force query params and no-op upsert version semantics.
 *  - features: GET (cluster_version + feature_state rows per
 *    `features.json`), PUT /features/{name} state transitions.
 *  - partitions: list/get (`partition.json` shapes), leadership
 *    transfer with target validation (`server.cc` raft transfer
 *    ladder: 400 non-integer/invalid target, 404 unknown), replica
 *    moves (`partition.cc`: set_partition_replicas with the
 *    validate_set_replicas ladder, the reconfigurations listing,
 *    cancel/unclean-abort with the no-move 400, topic-level
 *    partition listing, local summary, on-demand rebalance).
 *  - debug/self_test: start (uuid, test selection per the start
 *    validator `server.cc:2876-2904`), stop, status node reports
 *    (status/stage strings from `self_test_rpc_types.cc:21-53`).
 *  - debug_bundle: start/status/cancel with the 409-conflict and
 *    404/410 ladder (`admin/debug_bundle.cc:73-99`,
 *    `debug_bundle/types.h:122-131` status strings).
 *  - security: SCRAM user CRUD (`admin/security.cc:446-567` create/
 *    update/delete with the no-op idempotency checks and the exact
 *    validation wording incl. the reference's "password smissing"
 *    typo), user listing, and the RBAC role surface (`security.cc:
 *    322-894`): create/get/delete role, list with filter/principal,
 *    member listing and the add/remove update with the
 *    `role_errc` JSON error ladder (40001..40902, HTTP status =
 *    code/100 per `role_errc_to_status`).
 *  - data migrations (`admin/migrations.cc` + `admin/topics.cc`):
 *    add/get/list/action/delete over the migration FSM
 *    (`data_migration_table.cc:57` transitions, `throw_on_error`
 *    wording for invalid-state/not-exists), creation gated on cloud
 *    storage exactly like `data_migration_table.cc:231`, topic
 *    mount/unmount as auto-advancing inbound/outbound migrations,
 *    and the mountable-topics listing fed by a manifest-scan hook.
 *  - wasm transforms (`admin/transform.cc`): deploy (JSON metadata
 *    header immediately followed by the wasm binary, schema-validated
 *    body, offset/compression ladders), list (`transform_metadata`
 *    shape with per-partition status), delete, metadata patch
 *    (env/is_paused/compression), committed-offset debug listing and
 *    garbage collection — all gated on `data_transforms_enabled`
 *    with the reference's exact disabled message.
 *  - debug diagnostics (`admin/debug.cc`): stress-fiber validation
 *    ladder, leaders table + reset, peer/controller status, blocked-
 *    reactor clamp, sampled memory/cpu profiles with shard checks,
 *    restart_service, per-ntp partition state with the full
 *    raft_replica_state shape, storage failure injection, local/cloud
 *    storage usage, disk-stat statvfs overrides, the offset-translator
 *    route over an engine hook, broker-uuid override gate.
 *  - recovery mode (`admin/recovery.cc`): the tx-manager migrator
 *    pair, registered only when `recoveryMode` is set.
 *  - transactions (`admin/transaction.cc` + `partition.cc`): gated
 *    listing with the coordinator-partition ladder, find_coordinator,
 *    delete_partition etag ladder, per-partition active/expired
 *    split, mark_transaction_expired.
 *  - broker/partition extras: broker_uuids, cluster_view, per-node
 *    and cluster-wide move cancellation (partition_result rows),
 *    reset_crash_tracking, majority-lost ladder + report,
 *    force-recovery validation, rebalance_cores.
 *  - licensing (`features.cc`): license get/put ladder
 *    (missing/malformed/expired), the enterprise report over the
 *    license_required_feature set with the violation flip.
 *  - cloud storage (`register_shadow_indexing_routes`): recovery
 *    gates (202 accepts, 409 conflict), per-partition status +
 *    manifest and the anomaly report behind engine hooks, lifecycle
 *    markers, manual cache trim, sync/reset maintenance verbs.
 *  - usage metering (`admin/usage.cc`): enable_usage gate,
 *    open-bucket filtering with the now-stamped end timestamp.
 *
 * With these, every route in the reference's admin api-doc registry is
 * handled except the honey-badger failure-injection pair
 * (`hbadger.json` — compiled only into test builds).
 */
object AdminApi {

  final case class Resp(status: Int, body: String)

  private val mapper = new ObjectMapper()

  /** seastar `base_exception` JSON shape: {"message": …, "code": n}. */
  private def err(status: Int, message: String): Resp = {
    val o = mapper.createObjectNode()
    o.put("message", message); o.put("code", status)
    Resp(status, mapper.writeValueAsString(o))
  }

  /** One cluster-config property's schema row (type names are the
    * reference's `property::type_name()` strings). */
  final case class PropMeta(typeName: String, description: String,
      needsRestart: Boolean, nullable: Boolean, visibility: String)

  /** One coordinator-visible transaction (`transaction_summary` in
    * `api-doc/transaction.json`). */
  final case class TxnSummary(transactionalId: String, producerId: Long,
      producerEpoch: Short, txSeq: Long, status: String, timeoutMs: Long,
      partitions: Seq[(String, String, Int)])

  /** One metering window (`usage_response` in `api-doc/usage.json`). */
  final case class UsageWindow(beginTs: Long, endTs: Long, open: Boolean,
      bytesSent: Long, bytesReceived: Long)

  final class Server(nodeIds: Seq[Int] = Seq(0, 1, 2), clusterUuid: String =
      "00000000-0000-4000-8000-000000000001",
      // ENGINE-backed listings: the route layer renders whatever the
      // transaction coordinator / usage-metering engines currently hold
      // (bounded control-plane reads, one row per txn / window)
      transactions: () => Seq[TxnSummary] = () => Nil,
      usage: () => Seq[UsageWindow] = () => Nil,
      // cloud-manifest scan results for GET /v1/topics/mountable:
      // (ns, topic, topic_location) rows per topic_mount_manifest_path
      mountableTopics: () => Seq[(String, String, String)] = () => Nil,
      // ENGINE hooks for the debug surface (`admin/debug.cc`):
      // total cloud-storage usage in bytes, or None when the reducer
      // fails (the 503 "Please retry." arm of cloud_storage_usage)
      cloudStorageUsage: () => Option[Long] = () => Some(0L),
      // local_storage_usage byte counters keyed data/index/compaction/
      // reclaimable_by_retention (fed from the storage engine's segment
      // table; missing keys render as 0)
      localStorageUsage: () => Map[String, Long] = () => Map.empty,
      // offset-translator hook for /v1/debug/storage/offset_translator:
      // (ns, topic, partition) -> Some(translate) when the ntp is local;
      // translate(offset, toKafka) yields Some((kafka, rp)) or None when
      // the offset is outside the translator range
      offsetTranslator: (String, String, Int) =>
        Option[(Long, Boolean) => Option[(Long, Long)]] = (_, _, _) => None,
      // log-state hook for /v1/debug/partition/...: (ns, topic, part) ->
      // (start, committed, lso, hwm, dirty, log_size_bytes) from the log
      // engine; None falls back to an empty-log rendering
      partitionLogState: (String, String, Int) =>
        Option[(Long, Long, Long, Long, Long, Long)] = (_, _, _) => None,
      // recovery mode registers the /v1/recovery routes (`admin/
      // recovery.cc` is only wired when the broker boots in recovery
      // mode — outside it the routes 404 like any unknown path)
      recoveryMode: Boolean = false,
      // `shard_local_cfg().enable_transactions` gate for the
      // transaction routes (`admin/transaction.cc:44-45`)
      transactionsEnabled: Boolean = true,
      // cloud-storage engine hooks (`register_shadow_indexing_routes`):
      // the partition manifest JSON (TieredStorage manifest), the
      // scrubber's anomaly counters per ntp, and manual cache trim
      // (CacheTrim) returning (bytes, objects) removed
      cloudManifest: (String, Int) => Option[String] = (_, _) => None,
      cloudAnomalies: (String, String, Int) => Option[Map[String, Long]] =
        (_, _, _) => None,
      cacheTrim: (Option[Long], Option[Long]) => (Long, Long) =
        (_, _) => (0L, 0L)) {

    // ------------------------------------------------------------ model

    private final class Broker(val id: Int, val cores: Int, val rack: String) {
      var membership: String = "active" // active | draining (decommission)
      var alive: Boolean = true
      var maintenanceDraining: Boolean = false
      val version = "v25.1.1"
      var diskFree = 750L * 1024 * 1024 * 1024
      val diskTotal = 1024L * 1024 * 1024 * 1024
    }
    private val brokers = mutable.LinkedHashMap(
      nodeIds.map(id => id -> new Broker(id, 32, s"rack-${id % 2}")): _*)

    private final case class PartitionRow(ns: String, topic: String,
        partition: Int, var leader: Int, var replicas: Seq[Int],
        // previous leader (-1 = none) + stability bookkeeping as the
        // partition_leaders_table keeps them; the debug leaders-info
        // route renders these (`debug.cc:251-286`)
        var prevLeader: Int = -1, var updateTerm: Long = 1L)
    private val partitions = mutable.ArrayBuffer.empty[PartitionRow]

    def addPartition(ns: String, topic: String, partition: Int, leader: Int,
        replicas: Seq[Int]): Unit =
      partitions += PartitionRow(ns, topic, partition, leader, replicas)

    // in-flight replica moves (`partition.cc` set_partition_replicas →
    // topic_table updates_in_progress): ntp -> (previous, target)
    private val reconfigs =
      mutable.LinkedHashMap.empty[(String, String, Int), (Seq[Int], Seq[Int])]

    /** Deterministic stand-in for the reconfiguration backend finishing
      * a move: the update leaves the in-progress set (the target
      * assignment became current when the move was requested, exactly
      * as topic_table applies the update eagerly). */
    def finishReconfiguration(ns: String, topic: String, partition: Int): Unit = {
      reconfigs.remove((ns, topic, partition))
      ()
    }

    def setAlive(id: Int, alive: Boolean): Unit =
      brokers.get(id).foreach(_.alive = alive)

    // cluster config: schema + current values + version
    private val schema = mutable.LinkedHashMap[String, PropMeta](
      "log_retention_ms" -> PropMeta("integer",
        "Delete segments older than this age.", needsRestart = false,
        nullable = true, "user"),
      "log_segment_size" -> PropMeta("integer",
        "Default log segment size in bytes for topics.",
        needsRestart = false, nullable = false, "tunable"),
      "default_topic_replications" -> PropMeta("integer",
        "Default replication factor for new topics.", needsRestart = false,
        nullable = false, "user"),
      "enable_rack_awareness" -> PropMeta("boolean",
        "Enables rack-aware replica assignment.", needsRestart = false,
        nullable = false, "user"),
      "cloud_storage_enabled" -> PropMeta("boolean",
        "Enable archival storage.", needsRestart = true,
        nullable = false, "user"),
      "kafka_batch_max_bytes" -> PropMeta("integer",
        "Maximum size of a batch processed by the server.",
        needsRestart = false, nullable = false, "user"),
      "superusers" -> PropMeta("array",
        "List of superuser usernames.", needsRestart = false,
        nullable = false, "user"),
      "data_transforms_enabled" -> PropMeta("boolean",
        "Enables WebAssembly-powered data transforms.",
        needsRestart = false, nullable = false, "user"),
      "enable_usage" -> PropMeta("boolean",
        "Enables the usage tracking mechanism, storing windowed history " +
          "of kafka/cloud_storage metrics over time.",
        needsRestart = false, nullable = false, "user"))
    private val config = mutable.LinkedHashMap[String, JsonNode](
      "log_retention_ms" -> mapper.getNodeFactory.numberNode(604800000L),
      "log_segment_size" -> mapper.getNodeFactory.numberNode(134217728L),
      "default_topic_replications" -> mapper.getNodeFactory.numberNode(1),
      "enable_rack_awareness" -> mapper.getNodeFactory.booleanNode(false),
      "cloud_storage_enabled" -> mapper.getNodeFactory.booleanNode(false),
      "kafka_batch_max_bytes" -> mapper.getNodeFactory.numberNode(1048576),
      "superusers" -> mapper.createArrayNode(),
      "data_transforms_enabled" -> mapper.getNodeFactory.booleanNode(false),
      "enable_usage" -> mapper.getNodeFactory.booleanNode(false))
    private var configVersion = 1L
    private var pendingRestart = false

    // SCRAM credential store (security.cc user CRUD): user ->
    // (algorithm, salt, stored_key, iterations). Salts are derived
    // deterministically from the username so the protocol layer stays
    // replayable; password checks recompute the stored key with the
    // stored salt — validate_password semantics, the password itself
    // is never kept.
    private val users =
      mutable.LinkedHashMap.empty[String, (String, Array[Byte], Array[Byte], Int)]

    // RBAC role store: role -> ordered member names (all type User —
    // `parse_json_members_list` rejects any other principal_type).
    private val roles =
      mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]

    // wasm transform registry (transform.cc deploy/list/patch/delete)
    private final case class TransformMeta(name: String, inputTopic: String,
        outputTopics: Seq[String], env: mutable.LinkedHashMap[String, String],
        var compression: String, var paused: Boolean, binaryBytes: Int)
    private val transforms = mutable.LinkedHashMap.empty[String, TransformMeta]
    // (transform, partition) -> committed offset; rows persist across
    // transform deletion until the garbage_collect route sweeps them —
    // exactly why the debug listing + GC pair exists in the reference
    private val txCommitted = mutable.LinkedHashMap.empty[(String, Int), Long]

    /** Deterministic stand-in for a processor committing progress (the
      * transform runtime is [[graft.streaming.Transforms]]; the admin
      * surface only reads the table). */
    def commitTransformOffset(name: String, partition: Int, offset: Long): Unit =
      txCommitted((name, partition)) = offset

    // data migrations (migrations.cc routes over the data_migration
    // FSM in data_migration_table.cc; the distributed command-log
    // twin of the same FSM is cluster/DataMigrations.scala)
    private final case class MigTopic(ns: String, topic: String,
        alias: Option[(String, String)])
    private final case class Migration(id: Long, direction: String,
        topics: Seq[MigTopic], groups: Seq[String], autoAdvance: Boolean,
        var state: String, createdTs: Long, var completedTs: Option[Long])
    private val migrationStore = mutable.LinkedHashMap.empty[Long, Migration]
    private var nextMigrationId = 0L

    /** Allowed FSM moves (`data_migration_table.cc:57-82`). */
    private def migTransitionOk(cur: String, target: String): Boolean =
      (cur, target) match {
        case ("planned", "preparing") => true
        case ("preparing", "prepared") | ("preparing", "canceling") => true
        case ("prepared", "executing") | ("prepared", "canceling") => true
        case ("executing", "executed") | ("executing", "canceling") => true
        case ("executed", "cut_over") | ("executed", "canceling") => true
        case ("cut_over", "finished") => true
        case ("canceling", "cancelled") => true
        case _ => false
      }

    /** Deterministic stand-in for the migration backend finishing the
      * in-flight stage (the dispatcher's work completing): preparing →
      * prepared, executing → executed, canceling → cancelled,
      * cut_over → finished. */
    def advanceMigration(id: Long): Unit =
      migrationStore.get(id).foreach { m =>
        val next = m.state match {
          case "preparing" => "prepared"
          case "executing" => "executed"
          case "canceling" => "cancelled"
          case "cut_over" => "finished"
          case other => other
        }
        if (next != m.state) {
          m.state = next
          if (next == "finished" || next == "cancelled")
            m.completedTs = Some(1700000000000L + id * 1000L + 500L)
        }
      }

    // features (feature_state.h high-level states)
    private val features = mutable.LinkedHashMap(
      "rbac" -> ("active", true),
      "datalake_iceberg" -> ("available", false),
      "license" -> ("active", true))

    // self test
    private var selfTestJob: Option[String] = None
    private var selfTestSeq = 0
    private var selfTestTests: Seq[String] = Nil
    private var selfTestResults = Map.empty[Int, Seq[ObjectNode]]

    // debug bundle
    private var bundleJob: Option[(String, String, Long)] = None // id, status, created
    private var bundleSeq = 0

    // ---- debug-surface state (`admin/debug.cc`) ----
    // stress fiber manager: 0 = stopped (stress_fiber_start/stop)
    private var stressFibers = 0
    // engine blocked-reactor threshold; the PUT clamps requests to
    // [1ms, default] exactly like `debug.cc:341-399`
    private val defaultBlockedReactorNotifyMs = 25L
    private var blockedReactorNotifyMs = defaultBlockedReactorNotifyMs
    private var storageFailureInjection = false
    // node identity for the broker_uuid pair; the PUT override rewrites
    // both after the current-uuid match check (`debug.cc:871-938`)
    private var nodeUuid = "11111111-1111-4111-8111-000000000001"
    private var overriddenNodeId: Option[Int] = None
    // statvfs overrides per disk type (total, free, free_delta) — the
    // PUT disk_stat failure-injection knob (`server.cc:3115-3140`)
    private val diskOverrides =
      mutable.Map.empty[String, (Option[Long], Option[Long], Long)]
    // seastar smp::count for shard-id validation (check_shard_id)
    private val smpCount = 2
    // recovery-mode tx-manager migrator (`cluster/migrations/
    // tx_manager_migrator`): migration required until run once; an
    // injected error string makes the next migrate attempt fail with
    // the 503 "Migration error: …" arm
    private var txMigrationRequired = true
    private var txMigrationInProgress = false
    private var txMigratorError: Option[String] = None

    /** Injects a tx-manager migration failure (the deterministic
      * stand-in for the migrator returning an error code). */
    def setTxMigratorError(e: Option[String]): Unit = txMigratorError = e

    // ---- licensing (features.cc get/put_license, get_enterprise) ----
    // model license text: "org:type:expiresEpochSec"; anything else is
    // malformed. (org, type, expires, sha256-of-body)
    private var license: Option[(String, String, Long, String)] = None
    private val LicenseNowSec = 1700000000L
    // members_table.version(): bumps on every membership command
    private var membersVersion = nodeIds.size.toLong
    // cloud-storage lifecycle markers: (ns, topic, revision) -> status
    private val lifecycleMarkers =
      mutable.LinkedHashMap.empty[(String, String, Long), String]
    /** Seeds a purging lifecycle marker (the stand-in for a topic
      * deletion whose cloud data is still being scrubbed away). */
    def addLifecycleMarker(ns: String, topic: String, revision: Long): Unit =
      lifecycleMarkers((ns, topic, revision)) = "purging"
    private var topicRecoveryActive = false
    // cluster_recovery_table stage, printed like the reference's
    // recovery_stage operator<< ("recovery_stage::initialized", …)
    private var clusterRecoveryStage: Option[String] = None

    // ---------------------------------------------------------- helpers

    private def brokerJson(b: Broker): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("node_id", b.id)
      o.put("num_cores", b.cores)
      o.put("rack", b.rack)
      o.put("membership_status", b.membership)
      o.put("is_alive", b.alive)
      val ms = o.putObject("maintenance_status")
      ms.put("draining", b.maintenanceDraining)
      if (b.maintenanceDraining) {
        val mine = partitions.count(_.leader == b.id)
        ms.put("finished", true); ms.put("errors", false)
        ms.put("partitions", partitions.count(_.replicas.contains(b.id)))
        ms.put("transferring", 0); ms.put("eligible", mine); ms.put("failed", 0)
      }
      o.put("version", b.version)
      val ds = o.putArray("disk_space")
      val d = ds.addObject()
      d.put("path", "/var/lib/redpanda/data")
      d.put("free", b.diskFree); d.put("total", b.diskTotal)
      o
    }

    private def partitionJson(p: PartitionRow): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("ns", p.ns); o.put("topic", p.topic)
      o.put("partition_id", p.partition)
      o.put("status", "done")
      o.put("leader_id", p.leader)
      o.put("raft_group_id", partitions.indexOf(p) + 1)
      val rs = o.putArray("replicas")
      p.replicas.foreach { r =>
        val ro = rs.addObject(); ro.put("node_id", r); ro.put("core", 0)
      }
      o
    }

    /** The patch handler's early-validation pass (`server.cc:1849-1989`):
      * returns per-key error messages with the reference's wording. */
    private def validateUpsert(name: String, v: JsonNode): Option[String] =
      schema.get(name) match {
        case None => Some("Unknown property")
        case Some(meta) => meta.typeName match {
          case "integer" =>
            if (v.isNull && meta.nullable) None
            else if (!v.isNumber && !(v.isTextual && v.asText().forall(c =>
              c.isDigit || c == '-'))) Some("expected type integer")
            else {
              val n = if (v.isNumber) v.asLong() else v.asText().toLong
              // int32-sized knobs reject out-of-range values with the
              // reference's magic-string message
              if (name != "log_retention_ms" && name != "log_segment_size" &&
                  (n > Int.MaxValue || n < Int.MinValue))
                Some(s"out of range: '$n'")
              else None
            }
          case "boolean" =>
            if (v.isBoolean) None else Some("expected type boolean")
          case "array" =>
            if (v.isArray) None else Some("expected type array")
          case _ => None
        }
      }

    // ----------------------------------------------------- security helpers

    /** `role_errc` ladder (`security.cc:117-150`): body is the
      * rbac_error_body {message, code}; HTTP status = code / 100. */
    private def rbacErr(code: Int, detail: Option[String] = None): Resp = {
      val base = code match {
        case 40001 => "Malformed request"
        case 40002 => "Invalid role name"
        case 40003 => "Unrecognized field"
        case 40004 => "Conflict between 'add' and 'remove' lists"
        case 40401 => "Role not found"
        case 40901 => "Role already exists"
        case 40902 => "Role name conflict"
      }
      val o = mapper.createObjectNode()
      o.put("message", detail.fold(base)(d => s"$base: $d"))
      o.put("code", code)
      Resp(code / 100, mapper.writeValueAsString(o))
    }

    /** `validate_scram_username` (`scram_algorithm.cc:361`): the name
      * must round-trip through saslname — printable, no ',' / '='. */
    private def validScramName(name: String): Boolean =
      name.nonEmpty && name.forall(c => c >= 0x21 && c <= 0x7e &&
        c != ',' && c != '=')

    /** parse_scram_credential (`security.cc:44-82`) — validation order
      * and exact wording, including the reference's "smissing" typo. */
    private def parseScramCredential(doc: JsonNode):
        Either[Resp, (String, String)] = {
      if (doc == null || !doc.isObject)
        return Left(err(400, "Not an object"))
      val alg = doc.get("algorithm")
      if (alg == null || !alg.isTextual)
        return Left(err(400, "String algo missing"))
      val pw = doc.get("password")
      if (pw == null || !pw.isTextual)
        return Left(err(400, "String password smissing"))
      val a = alg.asText()
      if (a != "SCRAM-SHA-256" && a != "SCRAM-SHA-512")
        return Left(err(400, s"Unknown scram algorithm: $a"))
      Right((a, pw.asText()))
    }

    /** make_credentials at the mechanism's min_iterations (4096 for
      * both — `scram_algorithm.h:354-357`), deterministic per-user salt. */
    private def makeStoredKey(user: String, alg: String, password: String):
        (Array[Byte], Array[Byte], Int) = {
      import graft.security.Scram
      val mech = Scram.mechanism(alg)
      val salt = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"salt:$user".getBytes("UTF-8"))
      val (_, stored, _, iters) = Scram.makeCredential(password, salt, 4096, mech)
      (salt, stored, iters)
    }

    /** validate_password: recompute with the STORED salt and compare. */
    private def passwordMatches(user: String, alg: String, password: String):
        Boolean = users.get(user).exists { case (storedAlg, salt, stored, iters) =>
      import graft.security.Scram
      storedAlg == alg && java.security.MessageDigest.isEqual(stored,
        Scram.makeCredential(password, salt, iters,
          Scram.mechanism(alg))._2)
    }

    private def roleMembersJson(members: Iterable[String]) = {
      val a = mapper.createArrayNode()
      members.foreach { m =>
        val o = a.addObject()
        o.put("name", m); o.put("principal_type", "User")
      }
      a
    }

    /** parse_json_members_list (`security.cc:216-265`): optional array
      * of {name, principal_type: "User"} — anything else is 40001. */
    private def parseMembers(doc: JsonNode, key: String):
        Either[Resp, Seq[String]] = {
      val n = doc.get(key)
      if (n == null) return Right(Nil)
      if (!n.isArray)
        return Left(rbacErr(40001, Some(s"Array '$key' missing.")))
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < n.size()) {
        val p = n.get(i)
        if (!p.isObject)
          return Left(rbacErr(40001, Some("Role member is not a JSON object")))
        if (p.get("name") == null || !p.get("name").isTextual)
          return Left(rbacErr(40001,
            Some("String 'name' missing from role_member")))
        if (p.get("principal_type") == null || !p.get("principal_type").isTextual)
          return Left(rbacErr(40001,
            Some("String 'principal_type' missing from role_member")))
        val pt = p.get("principal_type").asText()
        val nm = p.get("name").asText()
        if (pt != "User")
          return Left(rbacErr(40001, Some(
            s"Role membership reserved for user principals, got {$pt:$nm}")))
        out += nm
        i += 1
      }
      Right(out.toSeq)
    }

    // ---------------------------------------------------- transform helpers

    private def transformsDisabled: Boolean =
      !config.get("data_transforms_enabled").exists(_.asBoolean(false))

    private val transformsDisabledMsg =
      "data transforms disabled - use `rpk cluster config set " +
        "data_transforms_enabled true` to enable"

    /** Splits a deploy body into (metadata JSON, wasm binary): the wire
      * format is the JSON object immediately followed by the binary with
      * no delimiter (`transform.cc:218-236`, kParseStopWhenDoneFlag) —
      * so scan to the end of the top-level object respecting strings. */
    private def splitDeployBody(body: String): Option[(String, String)] = {
      var depth = 0; var inStr = false; var esc = false; var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        if (esc) esc = false
        else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
        else c match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' =>
            depth -= 1
            if (depth == 0) return Some((body.substring(0, i + 1), body.substring(i + 1)))
          case _ if depth == 0 && !c.isWhitespace => return None
          case _ => ()
        }
        i += 1
      }
      None
    }

    private val compressionModes = Set("none", "gzip", "snappy", "lz4", "zstd")

    /** validate_transform_deploy_document (`transform.cc:138-210`):
      * required name/input_topic/output_topics, additionalProperties
      * false, typed environment entries, compression enum, offset
      * {format, value}. Returns the reference's bad-request wording. */
    private def validateDeployDoc(doc: JsonNode): Option[String] = {
      def bad(what: String) = Some(s"invalid JSON request body: $what")
      if (!doc.isObject) return bad("expected object")
      val allowed = Set("name", "input_topic", "output_topics", "environment",
        "compression", "offset")
      val it = doc.fieldNames()
      while (it.hasNext) { val f = it.next(); if (!allowed(f)) return bad(s"unexpected field '$f'") }
      for (req <- Seq("name", "input_topic", "output_topics"))
        if (doc.get(req) == null) return bad(s"missing required field '$req'")
      if (!doc.get("name").isTextual) return bad("'name' must be a string")
      if (!doc.get("input_topic").isTextual) return bad("'input_topic' must be a string")
      val ot = doc.get("output_topics")
      if (!ot.isArray) return bad("'output_topics' must be an array")
      for (i <- 0 until ot.size())
        if (!ot.get(i).isTextual) return bad("'output_topics' items must be strings")
      val env = doc.get("environment")
      if (env != null) {
        if (!env.isArray) return bad("'environment' must be an array")
        for (i <- 0 until env.size()) {
          val e = env.get(i)
          if (!e.isObject || e.get("key") == null || !e.get("key").isTextual ||
              e.get("value") == null || !e.get("value").isTextual || e.size() != 2)
            return bad("'environment' items must be {key, value} strings")
        }
      }
      val comp = doc.get("compression")
      if (comp != null && (!comp.isTextual || !compressionModes(comp.asText())))
        return bad("'compression' not one of none/gzip/snappy/lz4/zstd")
      val off = doc.get("offset")
      if (off != null) {
        if (!off.isObject || off.get("format") == null || off.get("value") == null ||
            off.size() != 2)
          return bad("'offset' must be {format, value}")
        if (!off.get("format").isTextual ||
            !Set("from_start", "from_end", "timestamp")(off.get("format").asText()))
          return bad("'offset' format not one of from_start/from_end/timestamp")
        if (!off.get("value").isIntegralNumber)
          return bad("'offset' value must be an integer")
      }
      None
    }

    private def transformJson(t: TransformMeta): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("name", t.name)
      o.put("input_topic", t.inputTopic)
      val ots = o.putArray("output_topics")
      t.outputTopics.foreach(ots.add)
      val envs = o.putArray("environment")
      t.env.foreach { case (k, v) =>
        val e = envs.addObject(); e.put("key", k); e.put("value", v)
      }
      // one partition_transform_status row per input-topic partition
      // known to the cluster model (at least partition 0): the admin
      // surface aggregates what the processors report
      val known = partitions.filter(p => p.ns == "kafka" && p.topic == t.inputTopic)
      val sts = o.putArray("status")
      val rows = if (known.nonEmpty) known.map(p => (p.partition, p.leader))
                 else Seq((0, brokers.keys.headOption.getOrElse(0)))
      rows.foreach { case (part, node) =>
        val s = sts.addObject()
        s.put("partition", part)
        s.put("node_id", node)
        s.put("status", if (t.paused) "inactive" else "running")
        s.put("lag", 0)
      }
      o.put("compression", t.compression)
      o
    }

    // ---------------------------------------------------- migration helpers

    private def migrationsDisabled: Boolean =
      !config.get("cloud_storage_enabled").exists(_.asBoolean(false))

    private val migrationsDisabledMsg =
      "Data migrations are disabled for this cluster"

    private def schemaErr(what: String): Resp =
      err(400, s"JSON request body does not conform to schema: $what")

    /** namespaced_topic: {topic required, ns optional, nothing else}. */
    private def parseNamespacedTopic(n: JsonNode): Either[Resp, (String, String)] = {
      if (n == null || !n.isObject || n.get("topic") == null ||
          !n.get("topic").isTextual)
        return Left(schemaErr("namespaced_topic requires string 'topic'"))
      val it = n.fieldNames()
      while (it.hasNext) {
        val f = it.next()
        if (f != "topic" && f != "ns")
          return Left(schemaErr(s"unexpected field '$f'"))
      }
      val ns = Option(n.get("ns")).filter(_.isTextual).map(_.asText())
        .getOrElse("kafka")
      Right((ns, n.get("topic").asText()))
    }

    /** inbound_topic: {source_topic_reference required, alias optional}. */
    private def parseInboundTopic(n: JsonNode): Either[Resp, MigTopic] = {
      if (n == null || !n.isObject || n.get("source_topic_reference") == null)
        return Left(schemaErr("inbound_topic requires 'source_topic_reference'"))
      val it = n.fieldNames()
      while (it.hasNext) {
        val f = it.next()
        if (f != "source_topic_reference" && f != "alias")
          return Left(schemaErr(s"unexpected field '$f'"))
      }
      for {
        src <- parseNamespacedTopic(n.get("source_topic_reference"))
        alias <- Option(n.get("alias")) match {
          case None => Right(None)
          case Some(a) => parseNamespacedTopic(a).map(Some(_))
        }
      } yield MigTopic(src._1, src._2, alias)
    }

    private def parseStringArray(n: JsonNode, what: String):
        Either[Resp, Seq[String]] = {
      if (n == null || !n.isArray)
        return Left(schemaErr(s"'$what' must be an array"))
      val out = mutable.ArrayBuffer.empty[String]
      for (i <- 0 until n.size()) {
        if (!n.get(i).isTextual)
          return Left(schemaErr(s"'$what' items must be strings"))
        out += n.get(i).asText()
      }
      Right(out.toSeq)
    }

    private def migrationJson(m: Migration): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("id", m.id)
      o.put("state", m.state)
      val mig = o.putObject("migration")
      mig.put("migration_type", m.direction)
      val ts = mig.putArray("topics")
      m.topics.foreach { t =>
        if (m.direction == "inbound") {
          val ti = ts.addObject()
          val src = ti.putObject("source_topic_reference")
          src.put("ns", t.ns); src.put("topic", t.topic)
          t.alias.foreach { case (ans, atp) =>
            val a = ti.putObject("alias")
            a.put("ns", ans); a.put("topic", atp)
          }
        } else {
          val to = ts.addObject()
          to.put("ns", t.ns); to.put("topic", t.topic)
        }
      }
      val gs = mig.putArray("consumer_groups")
      m.groups.foreach(gs.add)
      mig.put("auto_advance", m.autoAdvance)
      o.put("created_timestamp", m.createdTs)
      m.completedTs.foreach(o.put("completed_timestamp", _))
      o
    }

    private def createMigration(direction: String, topics: Seq[MigTopic],
        groups: Seq[String], autoAdvance: Boolean): Long = {
      nextMigrationId += 1
      val id = nextMigrationId
      migrationStore(id) = Migration(id, direction, topics, groups,
        autoAdvance, "planned", 1700000000000L + id * 1000L, None)
      id
    }

    // ------------------------------------------------------------ routes

    def handle(method: String, path: String, body: Option[String] = None,
        principal: String = "admin"): Resp = {
      val parts = path.stripPrefix("/").split("\\?")(0).split("/").toList
      val query = if (path.contains("?")) path.split("\\?")(1) else ""
      def qp(name: String): Option[String] =
        query.split("&").find(_.startsWith(name + "="))
          .map(_.substring(name.length + 1))
      def qflag(name: String): Boolean = qp(name).contains("true")

      (method, parts) match {
        // ------------------------------------------------------- brokers
        case ("GET", "v1" :: "brokers" :: Nil) =>
          val a = mapper.createArrayNode()
          brokers.values.foreach(b => a.add(brokerJson(b)))
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "brokers" :: id :: Nil) =>
          brokers.get(id.toInt) match {
            case None => err(404, s"broker with id $id not found")
            case Some(b) => Resp(200, mapper.writeValueAsString(brokerJson(b)))
          }

        case ("PUT", "v1" :: "brokers" :: id :: "maintenance" :: Nil) =>
          brokers.get(id.toInt) match {
            case None => err(404, s"broker with id $id not found")
            case Some(b) if b.membership != "active" =>
              err(400, s"can not update broker $id state, invalid state transition")
            case Some(b) => b.maintenanceDraining = true; Resp(200, "{}")
          }

        case ("DELETE", "v1" :: "brokers" :: id :: "maintenance" :: Nil) =>
          brokers.get(id.toInt) match {
            case None => err(404, s"broker with id $id not found")
            case Some(b) => b.maintenanceDraining = false; Resp(200, "{}")
          }

        case ("PUT", "v1" :: "brokers" :: id :: "decommission" :: Nil) =>
          brokers.get(id.toInt) match {
            case None => err(404, s"broker with id $id not found")
            case Some(b) if b.membership == "draining" =>
              err(400, s"can not update broker $id state, invalid state transition")
            case Some(b) => b.membership = "draining"; Resp(200, "{}")
          }

        case ("PUT", "v1" :: "brokers" :: id :: "recommission" :: Nil) =>
          brokers.get(id.toInt) match {
            case None => err(404, s"broker with id $id not found")
            case Some(b) if b.membership != "draining" =>
              err(400, s"can not update broker $id state, invalid state transition")
            case Some(b) => b.membership = "active"; Resp(200, "{}")
          }

        // ------------------------------------------------------- cluster
        case ("GET", "v1" :: "cluster" :: "health_overview" :: Nil) =>
          val down = brokers.values.filter(!_.alive).map(_.id).toSeq
          val leaderless = partitions.filter(p => down.contains(p.leader))
          val o = mapper.createObjectNode()
          o.put("is_healthy", down.isEmpty && leaderless.isEmpty)
          val reasons = o.putArray("unhealthy_reasons")
          if (down.nonEmpty) reasons.add("nodes_down")
          if (leaderless.nonEmpty) reasons.add("leaderless_partitions")
          o.put("controller_id", brokers.values.find(_.alive).map(_.id).getOrElse(-1))
          val all = o.putArray("all_nodes"); brokers.keys.foreach(all.add)
          val nd = o.putArray("nodes_down"); down.foreach(nd.add)
          o.putArray("nodes_in_recovery_mode")
          o.put("leaderless_count", leaderless.size)
          o.put("under_replicated_count", 0)
          val lp = o.putArray("leaderless_partitions")
          leaderless.foreach(p => lp.add(s"${p.ns}/${p.topic}/${p.partition}"))
          o.putArray("under_replicated_partitions")
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "cluster" :: "uuid" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("cluster_uuid", clusterUuid)
          Resp(200, mapper.writeValueAsString(o))

        // ------------------------------------------------ cluster config
        case ("GET", "v1" :: "cluster_config" :: Nil) =>
          val o = mapper.createObjectNode()
          config.foreach { case (k, v) => o.set[JsonNode](k, v) }
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "cluster_config" :: "status" :: Nil) =>
          val a = mapper.createArrayNode()
          brokers.keys.foreach { id =>
            val o = a.addObject()
            o.put("node_id", id)
            o.put("restart", pendingRestart)
            o.put("config_version", configVersion)
            o.putArray("invalid"); o.putArray("unknown")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "cluster_config" :: "schema" :: Nil) =>
          val o = mapper.createObjectNode()
          val props = o.putObject("properties")
          schema.foreach { case (name, m) =>
            val p = props.putObject(name)
            p.put("type", m.typeName)
            p.put("description", m.description)
            p.put("needs_restart", m.needsRestart)
            p.put("nullable", m.nullable)
            p.put("visibility", m.visibility)
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("PUT", "v1" :: "cluster_config" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("{}"))
          val upsert = Option(doc.get("upsert")).filter(_.isObject)
          val remove = Option(doc.get("remove")).filter(_.isArray)
          if (upsert.isEmpty || remove.isEmpty)
            return err(400, "expected 'upsert' and 'remove' fields")
          val errors = mutable.LinkedHashMap.empty[String, String]
          val noOps = mutable.Set.empty[String]
          if (!qflag("force")) {
            upsert.get.fields().forEachRemaining { e =>
              validateUpsert(e.getKey, e.getValue) match {
                case Some(msg) => errors(e.getKey) = msg
                case None =>
                  if (config.get(e.getKey).contains(e.getValue)) noOps += e.getKey
              }
            }
            remove.get.forEach { k =>
              if (!schema.contains(k.asText())) errors(k.asText()) = "Unknown property"
            }
          }
          if (errors.nonEmpty) {
            // the reference returns the raw per-key error map as the
            // 400 body (base_exception with "json" content)
            val o = mapper.createObjectNode()
            errors.foreach { case (k, v) => o.put(k, v) }
            return Resp(400, mapper.writeValueAsString(o))
          }
          def result(v: Long): Resp = {
            val o = mapper.createObjectNode(); o.put("config_version", v)
            Resp(200, mapper.writeValueAsString(o))
          }
          if (qflag("dry_run")) return result(configVersion)
          val upsertCount = upsert.get.size()
          if (upsertCount == noOps.size && remove.get.size() == 0)
            return result(configVersion) // all no-ops: version unchanged
          upsert.get.fields().forEachRemaining { e =>
            if (schema.contains(e.getKey)) {
              config(e.getKey) = e.getValue
              if (schema(e.getKey).needsRestart) pendingRestart = true
            }
          }
          remove.get.forEach { k =>
            // reset to the built-in default (a fresh Server's value)
            config.remove(k.asText())
          }
          configVersion += 1
          result(configVersion)

        // ------------------------------------------------------ features
        case ("GET", "v1" :: "features" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("cluster_version", 13)
          o.put("original_cluster_version", 11)
          o.put("node_earliest_version", 11)
          o.put("node_latest_version", 13)
          val fs = o.putArray("features")
          features.foreach { case (name, (state, wasActive)) =>
            val f = fs.addObject()
            f.put("name", name); f.put("state", state)
            f.put("was_active", wasActive)
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("PUT", "v1" :: "features" :: name :: Nil) if name != "license" =>
          features.get(name) match {
            case None => err(404, s"Unknown feature '$name'")
            case Some((_, wasActive)) =>
              Option(mapper.readTree(body.getOrElse("{}")).get("state"))
                .map(_.asText()) match {
                case Some("active") =>
                  features(name) = ("active", true); Resp(200, "{}")
                case Some("disabled") =>
                  features(name) = ("disabled", wasActive); Resp(200, "{}")
                case _ => err(400, "State must be 'active' or 'disabled'")
              }
          }

        // ---------------------------------------------------- partitions
        case ("GET", "v1" :: "partitions" :: Nil) =>
          val a = mapper.createArrayNode()
          partitions.foreach(p => a.add(partitionJson(p)))
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "partitions" :: "local_summary" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("count", partitions.size)
          o.put("leaderless", partitions.count(p =>
            !brokers.get(p.leader).exists(_.alive)))
          o.put("under_replicated", reconfigs.size)
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "partitions" :: "reconfigurations" :: Nil) =>
          val a = mapper.createArrayNode()
          reconfigs.foreach { case ((ns, topic, part), (prev, cur)) =>
            val o = a.addObject()
            o.put("ns", ns); o.put("topic", topic); o.put("partition", part)
            def assigns(key: String, rs: Seq[Int]): Unit = {
              val arr = o.putArray(key)
              rs.foreach { n =>
                val x = arr.addObject(); x.put("node_id", n); x.put("core", 0)
              }
            }
            assigns("previous_replicas", prev)
            assigns("current_replicas", cur)
            // no per-replica progress reports in the deterministic model:
            // everything is still to move, as the handler reports when no
            // partition has checked in yet
            o.put("bytes_left_to_move", 1048576L)
            o.put("bytes_moved", 0L)
            o.put("partition_size", 1048576L)
            o.put("reconfiguration_policy", "full_local_retention")
            o.putArray("reconciliation_statuses")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "partitions" :: ns :: topic :: Nil) =>
          val rows = partitions.filter(p => p.ns == ns && p.topic == topic)
          if (rows.isEmpty)
            return err(404, s"Could not find topic: $ns/$topic")
          val a = mapper.createArrayNode()
          rows.foreach { p =>
            val o = a.addObject()
            o.put("ns", p.ns); o.put("topic", p.topic)
            o.put("partition_id", p.partition)
            o.put("raft_group_id", partitions.indexOf(p) + 1)
            val rs = o.putArray("replicas")
            p.replicas.foreach { r =>
              val x = rs.addObject(); x.put("node_id", r); x.put("core", 0)
            }
            o.put("leader_id", p.leader)
            o.put("disabled", false)
            o.put("status",
              if (reconfigs.contains((p.ns, p.topic, p.partition)))
                "in_progress" else "done")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("POST", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "replicas" :: Nil) =>
          if (ns == "redpanda" && topic == "controller")
            return err(400, "Can't reconfigure a controller")
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isArray)
            return err(400, "Expected array")
          // validate_set_replicas (partition.cc:384): typed entries,
          // known node/shard, no duplicate nodes
          val replicas = mutable.ArrayBuffer.empty[Int]
          for (i <- 0 until doc.size()) {
            val r = doc.get(i)
            if (!r.isObject || r.get("node_id") == null || r.get("core") == null ||
                r.size() != 2)
              return err(400, "JSON request body does not conform to schema: " +
                "set_replicas entries are {node_id, core}")
            if (!r.get("node_id").isInt || !r.get("core").isInt)
              return err(400, "`node_id` and `core` must be integers")
            val node = r.get("node_id").asInt()
            val core = r.get("core").asInt()
            if (!brokers.contains(node) || core < 0 ||
                core >= brokers(node).cores)
              return err(400, "Replica set refers to non-existent node/shard " +
                s"(node $node shard $core)")
            if (replicas.contains(node))
              return err(400, "All the replicas must be placed on separate " +
                s"nodes. Requested replica set contains node: $node more " +
                "than once")
            replicas += node
          }
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(404, s"Could not find ntp: {$ns/$topic/$pStr}")
            case Some(p) if p.replicas == replicas.toSeq =>
              Resp(200, "{}") // no-op change: no raft writes
            case Some(p) =>
              reconfigs((ns, topic, p.partition)) =
                (p.replicas, replicas.toSeq)
              p.replicas = replicas.toSeq
              Resp(200, "{}")
          }

        case ("POST", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "cancel_reconfiguration" :: Nil) =>
          reconfigs.remove((ns, topic, pStr.toInt)) match {
            case None => err(400, "Cannot cancel partition move operation " +
              "as there is no move in progress")
            case Some((prev, _)) =>
              partitions.find(p => p.ns == ns && p.topic == topic &&
                p.partition == pStr.toInt).foreach(_.replicas = prev)
              Resp(200, "{}")
          }

        case ("POST", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "unclean_abort_reconfiguration" :: Nil) =>
          if (ns == "redpanda" && topic == "controller")
            return err(400, "Can't unclean abort controller reconfiguration")
          reconfigs.remove((ns, topic, pStr.toInt)) match {
            case None => err(400, "Cannot cancel partition move operation " +
              "as there is no move in progress")
            case Some(_) => Resp(200, "{}") // keeps the forced assignment
          }

        case ("POST", "v1" :: "partitions" :: "rebalance" :: Nil) =>
          // trigger_partitions_rebalance: accepted; the balancer engines
          // (admin/Admin balancer plan) do the actual planning
          Resp(200, "{}")

        case ("GET", "v1" :: "partitions" :: ns :: topic :: pStr :: Nil) =>
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(404, s"Could not find ntp: {$ns/$topic/$pStr}")
            case Some(p) => Resp(200, mapper.writeValueAsString(partitionJson(p)))
          }

        case ("POST", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "transfer_leadership" :: Nil) =>
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(404, s"Could not find ntp: {$ns/$topic/$pStr}")
            case Some(p) =>
              qp("target") match {
                case Some(t) if t.toIntOption.isEmpty =>
                  err(400, s"Target node id must be an integer: $t")
                case Some(t) if t.toInt < 0 =>
                  err(400, s"Invalid target node id ${t.toInt}")
                case Some(t) if !p.replicas.contains(t.toInt) =>
                  err(400, s"Node ${t.toInt} is not a replica of the partition")
                case Some(t) =>
                  p.prevLeader = p.leader; p.leader = t.toInt
                  p.updateTerm += 1; Resp(200, "{}")
                case None =>
                  // no target: pick the next replica deterministically
                  val others = p.replicas.filter(_ != p.leader)
                  if (others.nonEmpty) {
                    p.prevLeader = p.leader; p.leader = others.min
                    p.updateTerm += 1
                  }
                  Resp(200, "{}")
              }
          }

        // ----------------------------------------------------- self test
        case ("POST", "v1" :: "debug" :: "self_test" :: "start" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          val tests =
            if (doc == null || doc.isNull || doc.get("tests") == null)
              Seq("disk", "network", "cloud") // the default run set
            else {
              val ts = doc.get("tests")
              if (!ts.isArray) return err(400, "expected tests array")
              (0 until ts.size()).map { i =>
                val t = ts.get(i).get("type")
                if (t == null) return err(400, "test entry missing 'type'")
                t.asText()
              }
            }
          val unknown = tests.filterNot(Set("disk", "network", "cloud"))
          if (unknown.nonEmpty)
            return err(400, s"unknown test type: ${unknown.head}")
          selfTestSeq += 1
          val id = f"00000000-0000-4000-8000-${selfTestSeq}%012d"
          selfTestJob = Some(id)
          selfTestTests = tests
          selfTestResults = Map.empty
          Resp(200, "\"" + id + "\"")

        case ("POST", "v1" :: "debug" :: "self_test" :: "stop" :: Nil) =>
          // stopping completes the run: deterministic per-node results
          selfTestResults = brokers.keys.map { id =>
            id -> selfTestTests.zipWithIndex.map { case (t, i) =>
              val r = mapper.createObjectNode()
              r.put("test_id", selfTestJob.getOrElse(""))
              r.put("name", s"$t check")
              r.put("test_type", t)
              r.put("duration", 5000L)
              r.put("timeouts", 0)
              r.put("p50", 100L + i); r.put("p90", 200L + i)
              r.put("p99", 400L + i); r.put("p999", 800L + i)
              r.put("max_latency", 1000L + i)
              r.put("rps", 10000L); r.put("bps", 104857600L)
              r
            }
          }.toMap
          selfTestJob = None
          Resp(200, "{}")

        case ("GET", "v1" :: "debug" :: "self_test" :: "status" :: Nil) =>
          val a = mapper.createArrayNode()
          brokers.keys.foreach { id =>
            val o = a.addObject()
            o.put("node_id", id)
            o.put("status", if (selfTestJob.isDefined) "running" else "idle")
            o.put("stage", if (selfTestJob.isDefined)
              selfTestTests.headOption.map {
                case "network" => "net"; case other => other
              }.getOrElse("idle") else "idle")
            val rs = o.putArray("results")
            selfTestResults.getOrElse(id, Nil).foreach(rs.add)
          }
          Resp(200, mapper.writeValueAsString(a))

        // ----------------- transaction coordinator (admin/transaction.cc)
        case ("GET", "v1" :: "transaction" :: tid :: "find_coordinator" :: Nil) =>
          // find_coordinator_reply: coordinator node + the tx-manager
          // ntp hosting this id (`transaction.cc:141-162`); the model
          // routes ids to coordinator partitions by a stable hash
          val part = math.abs(tid.hashCode) % 4
          val coord = brokers.keys.toSeq(part % brokers.size)
          val o = mapper.createObjectNode()
          o.put("coordinator", coord)
          val ntp = o.putObject("ntp")
          ntp.put("ns", "kafka_internal"); ntp.put("topic", "tx")
          ntp.put("partition", part)
          o.put("ec", 0)
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "transaction" :: tid :: "delete_partition" :: Nil) =>
          // delete_partition_handler ladder (`transaction.cc:164-214`)
          if (!transactionsEnabled)
            return err(400, "Transaction are disabled")
          val etagStr = qp("etag").getOrElse("")
          val etag = etagStr.toLongOption.getOrElse(
            return err(400, s"Etag must be an integer: $etagStr"))
          if (etag < 0) return err(400, s"Invalid etag $etag")
          Resp(200, "{}")

        case ("GET", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "transactions" :: Nil) =>
          // per-partition transaction listing (partition.cc
          // get_transactions): split into active/expired, with -1
          // timeout/staleness on the expired side
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(404, s"Could not find ntp: {$ns/$topic/$pStr}")
            case Some(_) =>
              val o = mapper.createObjectNode()
              val act = o.putArray("active_transactions")
              val exp = o.putArray("expired_transactions")
              transactions().filter(_.partitions.exists { case (n, t, p) =>
                n == ns && t == topic && p == pStr.toInt
              }).foreach { t =>
                val expired = t.status == "expired"
                val row = (if (expired) exp else act).addObject()
                val pid = row.putObject("producer_id")
                pid.put("id", t.producerId); pid.put("epoch", t.producerEpoch.toInt)
                row.put("lso_bound", 0L)
                row.put("staleness_ms", if (expired) -1L else 0L)
                row.put("timeout_ms", if (expired) -1L else t.timeoutMs)
                row.put("status", t.status)
              }
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("POST", "v1" :: "partitions" :: ns :: topic :: pStr ::
            "mark_transaction_expired" :: Nil) =>
          // mark_transaction_expired_handler id/epoch ladder
          // (`partition.cc:130-156`)
          val idStr = qp("id").getOrElse("")
          if (idStr.toLongOption.isEmpty)
            return err(400, s"Invalid producer id: $idStr")
          val epStr = qp("epoch").getOrElse("")
          if (epStr.toIntOption.isEmpty)
            return err(400, s"Invalid producer epoch: $epStr")
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None =>
              err(500, s"Can not find partition {$topic/$pStr}")
            case Some(_) => Resp(200, "{}")
          }

        // --------------------------- broker extras (register_broker_routes)
        case ("GET", "v1" :: "broker_uuids" :: Nil) =>
          // members_manager id-by-uuid map (`server.cc:2493-2508`);
          // node 0's row is the live nodeUuid the debug override rewrites
          val a = mapper.createArrayNode()
          brokers.keys.foreach { id =>
            val o = a.addObject()
            o.put("node_id", id)
            o.put("uuid", if (id == 0) nodeUuid
              else f"11111111-1111-4111-8111-${id}%012d")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "cluster_view" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("version", membersVersion)
          val bs = o.putArray("brokers")
          brokers.values.foreach(b => bs.add(brokerJson(b)))
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "brokers" :: id :: "cancel_partition_moves" :: Nil) =>
          // cancel_moving_partition_replicas_node: aborts every
          // reconfiguration touching the node; partition_result rows
          // carry make_error_code(...).message() ("Success")
          id.toIntOption match {
            case None => err(400, s"Broker id: $id, must be an integer")
            case Some(n) =>
              val touched = reconfigs.filter { case (_, (prev, cur)) =>
                prev.contains(n) || cur.contains(n) }.keys.toSeq
              val a = mapper.createArrayNode()
              touched.foreach { key =>
                val (prev, _) = reconfigs(key)
                partitions.find(p => p.ns == key._1 && p.topic == key._2 &&
                  p.partition == key._3).foreach(_.replicas = prev)
                reconfigs.remove(key)
                val o = a.addObject()
                o.put("ns", key._1); o.put("topic", key._2)
                o.put("partition", key._3); o.put("result", "Success")
              }
              Resp(200, mapper.writeValueAsString(a))
          }

        case ("PUT", "v1" :: "reset_crash_tracking" :: Nil) =>
          Resp(200, "{}")

        case ("POST", "v1" :: "cluster" :: "cancel_reconfigurations" :: Nil) =>
          // cancel_all_partitions_reconfigurations: same partition_result
          // shape over EVERY in-flight move
          val a = mapper.createArrayNode()
          reconfigs.keys.toSeq.foreach { key =>
            val (prev, _) = reconfigs(key)
            partitions.find(p => p.ns == key._1 && p.topic == key._2 &&
              p.partition == key._3).foreach(_.replicas = prev)
            reconfigs.remove(key)
            val o = a.addObject()
            o.put("ns", key._1); o.put("topic", key._2)
            o.put("partition", key._3); o.put("result", "Success")
          }
          Resp(200, mapper.writeValueAsString(a))

        // --------------------- partition recovery surface (partition.cc)
        case ("GET", "v1" :: "partitions" :: "majority_lost" :: Nil) =>
          // partitions whose replica majority sits on the dead-node set
          // (`partition.cc:997-1085` ladder + ntp_with_majority_loss rows)
          val input = qp("dead_nodes").getOrElse("")
          if (input.isEmpty)
            return err(400, "Query parameter dead_nodes not set, expecting " +
              "a csv of integers (broker_ids)")
          val dead = input.split(",").map { tok =>
            tok.trim.toIntOption.getOrElse(return err(400,
              s"Token $tok doesn't parse to an integer in input: $input, " +
                "expecting a csv of integer broker_ids"))
          }.toSet
          val a = mapper.createArrayNode()
          partitions.foreach { p =>
            val lost = p.replicas.count(dead.contains)
            if (lost * 2 > p.replicas.size) {
              val row = a.addObject()
              val ntp = row.putObject("ntp")
              ntp.put("ns", p.ns); ntp.put("topic", p.topic)
              ntp.put("partition", p.partition)
              row.put("topic_revision", 0L)
              val reps = row.putArray("replicas")
              p.replicas.foreach { r =>
                val ro = reps.addObject()
                ro.put("node_id", r); ro.put("core", 0)
              }
              val dn = row.putArray("dead_nodes")
              p.replicas.filter(dead.contains).foreach(dn.add)
            }
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("POST", "v1" :: "partitions" :: "force_recover_from_nodes" :: Nil) =>
          // force-recovery body: {dead_nodes: [ints],
          // partitions_to_force_recover: [...]}, schema-validated
          val doc = try mapper.readTree(body.getOrElse("null"))
            catch { case _: Exception => null }
          if (doc == null || !doc.isObject ||
              doc.get("dead_nodes") == null ||
              !doc.get("dead_nodes").isArray)
            return schemaErr("expected 'dead_nodes' integer array")
          Resp(200, "{}")

        case ("POST", "v1" :: "partitions" :: "rebalance_cores" :: Nil) =>
          Resp(200, "{}")

        // -------------------- licensing (features.cc license/enterprise)
        case ("GET", "v1" :: "features" :: "license" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("loaded", license.isDefined)
          license.foreach { case (org, typ, expires, sha) =>
            val lc = o.putObject("license")
            lc.put("format_version", 0)
            lc.put("org", org); lc.put("type", typ)
            lc.put("expires", expires - LicenseNowSec)
            lc.put("sha256", sha)
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("PUT", "v1" :: "features" :: "license" :: Nil) =>
          // put_license ladder (`server.cc:2270-2312`); model license
          // text is "org:type:expiresEpochSec"
          val raw = body.getOrElse("").trim
          if (raw.isEmpty)
            return err(400, "Missing redpanda license from request body")
          raw.split(":") match {
            case Array(org, typ, expS) if expS.toLongOption.isDefined =>
              val exp = expS.toLong
              if (exp < LicenseNowSec)
                return err(400, s"License is expired: {org: $org}")
              val sha = java.security.MessageDigest.getInstance("SHA-256")
                .digest(raw.getBytes("UTF-8"))
                .map(b => f"$b%02x").mkString
              license = Some((org, typ, exp, sha))
              Resp(200, "{}")
            case _ =>
              err(400, s"License is malformed: $raw")
          }

        case ("GET", "v1" :: "features" :: "enterprise" :: Nil) =>
          // enterprise_response: license_status + per-feature in-use
          // rows over the license_required_feature set
          // (`features/enterprise_features.cc:20-46`)
          val status = license match {
            case None => "not_present"
            case Some((_, _, exp, _)) =>
              if (exp < LicenseNowSec) "expired" else "valid"
          }
          val enabled: Set[String] =
            if (config.get("cloud_storage_enabled").exists(_.asBoolean()))
              Set("cloud_storage") else Set.empty
          val o = mapper.createObjectNode()
          o.put("license_status", status)
          o.put("violation", status != "valid" && enabled.nonEmpty)
          val fs = o.putArray("features")
          Seq("audit_logging", "cloud_storage",
            "partition_auto_balancing_continuous",
            "core_balancing_continuous", "gssapi", "oidc",
            "schema_id_validation", "rbac", "fips", "datalake_iceberg",
            "leadership_pinning").foreach { name =>
            val f = fs.addObject()
            f.put("name", name); f.put("enabled", enabled.contains(name))
          }
          Resp(200, mapper.writeValueAsString(o))

        // ---------- cloud storage (register_shadow_indexing_routes)
        case ("POST", "v1" :: "cloud_storage" :: "sync_local_state" ::
            topic :: pStr :: Nil) =>
          Resp(200, "{}")

        case ("POST", "v1" :: "cloud_storage" :: "automated_recovery" :: Nil) =>
          // initialize_cluster_recovery ladder (`server.cc:3896-3946`)
          if (recoveryMode)
            return err(400,
              "Cluster restore is not available, recovery mode enabled")
          if (!config.get("cloud_storage_enabled").exists(_.asBoolean()))
            return err(400,
              "Cluster recovery is not available. Missing bucket property")
          clusterRecoveryStage = Some("recovery_stage::initialized")
          val o = mapper.createObjectNode()
          o.put("status", "Recovery initialized")
          Resp(202, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "cloud_storage" :: "automated_recovery" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("state", clusterRecoveryStage.getOrElse("inactive"))
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "cloud_storage" :: "topic_recovery" :: Nil) =>
          // initiate_topic_scan_and_recovery: cloud-storage gate, then
          // 202 "recovery started" / 409 already-active
          // (`server.cc:3825-3852`, `topic_recovery_service.cc:156-178`)
          if (!config.get("cloud_storage_enabled").exists(_.asBoolean()))
            return err(400,
              "Topic recovery is not available. is cloud storage enabled?")
          if (topicRecoveryActive)
            return err(409, "A recovery is already active")
          topicRecoveryActive = true
          val o = mapper.createObjectNode()
          o.put("status", "recovery started")
          Resp(202, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "cloud_storage" :: "topic_recovery" :: Nil) =>
          // query_automated_recovery status (topic_recovery_status)
          val o = mapper.createObjectNode()
          o.put("state", if (topicRecoveryActive) "recovering" else "inactive")
          o.putArray("topic_download_counts")
          val r = o.putObject("request")
          r.put("topic_names_pattern", "none")
          r.put("retention_bytes", -1L)
          r.put("retention_ms", -1L)
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "cloud_storage" :: "status" :: topic :: pStr :: Nil) =>
          // partition_cloud_storage_status (`server.cc:4010-4058`), byte
          // figures from the manifest hook when wired
          partitions.find(p => p.ns == "kafka" && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(404, s"Could not find {kafka/$topic/$pStr} on the cluster")
            case Some(_) =>
              val manifest = cloudManifest(topic, pStr.toInt)
              val cloudBytes = manifest.map(_.length.toLong).getOrElse(0L)
              val o = mapper.createObjectNode()
              o.put("cloud_storage_mode", "full")
              o.put("metadata_update_pending", false)
              o.put("total_log_size_bytes", cloudBytes)
              o.put("cloud_log_size_bytes", cloudBytes)
              o.put("stm_region_size_bytes", cloudBytes)
              o.put("archive_size_bytes", 0L)
              o.put("local_log_size_bytes", 0L)
              o.put("stm_region_segment_count", if (cloudBytes > 0) 1 else 0)
              o.put("cloud_log_segment_count", if (cloudBytes > 0) 1 else 0)
              o.put("local_log_segment_count", 0)
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("GET", "v1" :: "cloud_storage" :: "manifest" :: topic :: pStr :: Nil) =>
          // get_manifest streams the partition manifest JSON; the hook
          // wraps the tiered-storage engine's manifest for the ntp
          if (!partitions.exists(p => p.ns == "kafka" && p.topic == topic &&
              p.partition == pStr.toInt))
            return err(404, s"Could not find {kafka/$topic/$pStr} on the cluster")
          cloudManifest(topic, pStr.toInt) match {
            case None =>
              err(400, "Cluster is not configured for cloud storage")
            case Some(json) => Resp(200, json)
          }

        case ("GET", "v1" :: "cloud_storage" :: "lifecycle" :: Nil) =>
          val o = mapper.createObjectNode()
          val ms = o.putArray("markers")
          lifecycleMarkers.foreach { case ((ns, topic, rev), status) =>
            val m = ms.addObject()
            m.put("ns", ns); m.put("topic", topic)
            m.put("revision_id", rev); m.put("status", status)
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("DELETE", "v1" :: "cloud_storage" :: "lifecycle" ::
            topic :: revStr :: Nil) =>
          revStr.toLongOption match {
            case None =>
              err(400, s"Revision id must be an integer: $revStr")
            case Some(rev) =>
              lifecycleMarkers.remove(("kafka", topic, rev))
              Resp(200, "{}")
          }

        case ("POST", "v1" :: "cloud_storage" :: "cache" :: "trim" :: Nil) =>
          val bytes = qp("bytes").flatMap(_.toLongOption)
          val objects = qp("objects").flatMap(_.toLongOption)
          cacheTrim(bytes, objects)
          Resp(200, "{}")

        case ("GET", "v1" :: "cloud_storage" :: "anomalies" ::
            ns :: topic :: pStr :: Nil) =>
          // cloud_storage_partition_anomalies (`server.cc:4185-4250`),
          // counters straight from the scrubber engine's report
          cloudAnomalies(ns, topic, pStr.toInt) match {
            case None => err(404, s"topic {$topic} not found")
            case Some(counts) =>
              val o = mapper.createObjectNode()
              o.put("ns", ns); o.put("topic", topic)
              o.put("partition", pStr.toInt)
              o.put("revision_id", counts.getOrElse("revision_id", 0L))
              counts.get("last_complete_scrub_at")
                .foreach(o.put("last_complete_scrub_at", _))
              if (counts.getOrElse("missing_partition_manifest", 0L) > 0)
                o.put("missing_partition_manifest", true)
              Seq("num_discarded_missing_spillover_manifests",
                "num_discarded_missing_segments",
                "num_discarded_metadata_anomalies").foreach { k =>
                counts.get(k).filter(_ > 0).foreach(o.put(k, _))
              }
              val segs = o.putArray("missing_segments")
              (0L until counts.getOrElse("missing_segments", 0L)).foreach(i =>
                segs.add(s"$topic/$pStr/seg-$i.log"))
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("POST", "v1" :: "cloud_storage" ::
            "unsafe_reset_metadata_from_cloud" :: ns :: topic :: pStr :: Nil) =>
          if (!partitions.exists(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt))
            return err(404, s"Could not find ntp: {$ns/$topic/$pStr}")
          Resp(200, "{}")

        case ("POST", "v1" :: "cloud_storage" :: "reset_scrubbing_metadata" ::
            ns :: topic :: pStr :: Nil) =>
          if (!partitions.exists(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt))
            return err(404, s"{$ns/$topic/$pStr} could not be found on shard 0.")
          Resp(200, "{}")

        // -------------------- debug diagnostics (redpanda/admin/debug.cc)
        case ("POST", "v1" :: "debug" :: "reset_leaders" :: Nil) =>
          // reset_leaders_info: clears the leaders table hints
          partitions.foreach(_.prevLeader = -1)
          Resp(200, "{}")

        case ("GET", "v1" :: "debug" :: "partition_leaders_table" :: Nil) =>
          // leader_info rows straight from the partitions model
          // (`debug.cc:251-286` field set)
          val a = mapper.createArrayNode()
          partitions.foreach { p =>
            val o = a.addObject()
            o.put("ns", p.ns); o.put("topic", p.topic)
            o.put("partition_id", p.partition)
            o.put("leader", p.leader)
            o.put("previous_leader", p.prevLeader)
            o.put("last_stable_leader_term", p.updateTerm)
            o.put("update_term", p.updateTerm)
            o.put("partition_revision", 0L)
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("PUT", "v1" :: "debug" :: "stress_fiber_start" :: Nil) =>
          // the stress_config validation ladder, in the reference's
          // exact order and wording (`debug.cc:128-217`)
          def parseIntParam(name: String): Either[Resp, Option[Int]] =
            qp(name) match {
              case None => Right(None)
              case Some(e) => e.toIntOption match {
                case Some(v) => Right(Some(v))
                case None =>
                  Left(err(400, s"Invalid parameter '$name' value {$e}"))
              }
            }
          val parsed = for {
            minSpins <- parseIntParam("min_spins_per_scheduling_point")
            maxSpins <- parseIntParam("max_spins_per_scheduling_point")
            minMs <- parseIntParam("min_ms_per_scheduling_point")
            maxMs <- parseIntParam("max_ms_per_scheduling_point")
          } yield (minSpins, maxSpins, minMs, maxMs)
          parsed match {
            case Left(e) => e
            case Right((minSpins, maxSpins, minMs, maxMs)) =>
              if (maxSpins.isDefined != minSpins.isDefined)
                err(400, "Expected 'max_spins_per_scheduling_point' set " +
                  "with 'min_spins_per_scheduling_point'")
              else if (maxMs.isDefined != minMs.isDefined)
                err(400, "Expected 'max_ms_per_scheduling_point' set " +
                  "with 'min_ms_per_scheduling_point'")
              else if (maxSpins.isDefined == maxMs.isDefined)
                err(400, "Expected either spins or delay to be defined")
              else if (maxSpins.exists(_ < minSpins.getOrElse(0)))
                err(400, "Invalid parameter 'max_spins_per_scheduling_" +
                  s"point' value is too low: ${maxSpins.get} < ${minSpins.get}")
              else if (maxMs.exists(_ < minMs.getOrElse(0)))
                err(400, "Invalid parameter 'max_ms_per_scheduling_" +
                  s"point' value is too low: ${maxMs.get} < ${minMs.get}")
              else qp("num_fibers") match {
                case Some(e) if e.toIntOption.isEmpty =>
                  err(400, s"Invalid parameter 'num_fibers' value {$e}")
                case nf =>
                  stressFibers = nf.flatMap(_.toIntOption).getOrElse(1)
                  Resp(200, "{}")
              }
          }

        case ("PUT", "v1" :: "debug" :: "stress_fiber_stop" :: Nil) =>
          stressFibers = 0
          Resp(200, "{}")

        case ("GET", "v1" :: "debug" :: "peer_status" :: id :: Nil) =>
          // node_status_table lookup: peers only (self has no row)
          id.toIntOption match {
            case None => err(400, s"Broker id: $id, must be an integer")
            case Some(n) if n != 0 && brokers.contains(n) =>
              val o = mapper.createObjectNode()
              // deterministic ms-since-last-heartbeat per peer
              o.put("since_last_status", 100L + n)
              Resp(200, mapper.writeValueAsString(o))
            case Some(n) => err(400, s"Unknown node with id $n")
          }

        case ("GET", "v1" :: "debug" :: "is_node_isolated" :: Nil) =>
          // bare boolean body (json_return_type over a bool)
          Resp(200, brokers.values.forall(!_.alive).toString)

        case ("GET", "v1" :: "debug" :: "controller_status" :: Nil) =>
          // the controller log advances one command per applied config
          // change in this model, so the offsets track configVersion
          val o = mapper.createObjectNode()
          o.put("start_offset", 0L)
          o.put("last_applied_offset", configVersion)
          o.put("committed_index", configVersion)
          o.put("dirty_offset", configVersion)
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "debug" :: "cloud_storage_usage" :: Nil) =>
          qp("batch_size").filter(_.toIntOption.isEmpty).foreach(b =>
            return err(400, s"batch_size must be an integer: $b"))
          qp("retries_allowed").filter(_.toIntOption.isEmpty).foreach(r =>
            return err(400, s"retries_allowed must be an integer: $r"))
          cloudStorageUsage() match {
            case Some(v) => Resp(200, v.toString) // bare byte count
            case None => err(503,
              "Failed to generate total cloud storage usage. Please retry.")
          }

        case ("PUT", "v1" :: "debug" :: "blocked_reactor_notify_ms" :: Nil) =>
          // clamp to [1ms, default]: the knob can only LOWER the
          // threshold (`debug.cc:341-399`); expires clamps to [1s, 30min].
          // A MISSING timeout is NOT a 400 in the reference: its
          // `std::chrono::milliseconds timeout;` stays default-
          // constructed (value 0 in practice) when the param is empty
          // (`debug.cc:344-346`) — the 0L arm mirrors that quirk
          // faithfully rather than inventing a required-param error.
          val timeout = qp("timeout") match {
            case Some(e) => e.toLongOption match {
              case None =>
                return err(400, s"Invalid parameter 'timeout' value {$e}")
              case Some(v) =>
                math.max(1L, math.min(v, defaultBlockedReactorNotifyMs))
            }
            case None => 0L
          }
          qp("expires").foreach(e => if (e.toLongOption.isEmpty)
            return err(400, s"Invalid parameter 'expires' value {$e}"))
          blockedReactorNotifyMs = timeout
          Resp(200, "{}")

        case ("GET", "v1" :: "debug" :: "sampled_memory_profile" :: Nil) =>
          val shard = qp("shard") match {
            case Some(e) => e.toIntOption match {
              case None =>
                return err(400, s"Invalid parameter 'shard_id' value {$e}")
              case s => s
            }
            case None => None
          }
          shard.filter(_ > smpCount - 1).foreach(_ =>
            return err(400, s"Shard id too high, max shard id is ${smpCount - 1}"))
          val a = mapper.createArrayNode()
          (0 until smpCount).filter(i => shard.forall(_ == i)).foreach { sh =>
            val o = a.addObject(); o.put("shard", sh)
            val sites = o.putArray("allocation_sites")
            val site = sites.addObject()
            site.put("size", 4096L); site.put("count", 64L)
            site.put("backtrace", "0x1 0x2 0x3")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "debug" :: "cpu_profile" :: Nil) =>
          val shard = qp("shard") match {
            case Some(e) => e.toIntOption match {
              case None =>
                return err(400, s"Invalid parameter 'shard_id' value {$e}")
              case s => s
            }
            case None => None
          }
          shard.filter(_ > smpCount - 1).foreach(_ =>
            return err(400, s"Shard id too high, max shard id is ${smpCount - 1}"))
          qp("wait_ms").foreach { e =>
            val v = e.toLongOption.getOrElse(
              return err(400, s"Invalid parameter 'wait_ms' value {$e}"))
            if (v < 1 || v > 15 * 60 * 1000)
              return err(400, "wait_ms must be between 1ms and 15min")
          }
          val a = mapper.createArrayNode()
          (0 until smpCount).filter(i => shard.forall(_ == i)).foreach { sh =>
            val o = a.addObject()
            o.put("shard_id", sh); o.put("dropped_samples", 0L)
            val samples = o.putArray("samples")
            val smp = samples.addObject()
            smp.put("occurrences", 10 + sh)
            smp.put("user_backtrace", "0xA 0xB")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("PUT", "v1" :: "debug" :: "restart_service" :: Nil) =>
          val svc = qp("service").getOrElse("")
          if (svc != "schema-registry" && svc != "http-proxy")
            err(404, s"Invalid service: $svc")
          else Resp(200, "{}")

        case ("GET", "v1" :: "debug" :: "partition" :: ns :: topic ::
            pStr :: Nil) =>
          // partition_state with per-replica raft_replica_state
          // (`debug.cc:49-114` + `debug.cc:773-811` field sets), offsets
          // from the log-engine hook when wired
          partitions.find(p => p.ns == ns && p.topic == topic &&
              p.partition == pStr.toInt) match {
            case None => err(500, "Error cluster::errc:16 processing " +
              s"partition state for ntp: {$ns/$topic/$pStr}")
            case Some(p) =>
              val (start, committed, lso, hwm, dirty, bytes) =
                partitionLogState(ns, topic, p.partition)
                  .getOrElse((0L, 0L, 0L, 0L, 0L, 0L))
              val o = mapper.createObjectNode()
              o.put("ntp", s"{$ns/$topic/${p.partition}}")
              val reps = o.putArray("replicas")
              p.replicas.foreach { node =>
                val r = reps.addObject()
                r.put("start_offset", start)
                r.put("committed_offset", committed)
                r.put("last_stable_offset", lso)
                r.put("high_watermark", hwm)
                r.put("dirty_offset", dirty)
                r.put("latest_configuration_offset", 0L)
                r.put("revision_id", 0L)
                r.put("log_size_bytes", bytes)
                r.put("non_log_disk_size_bytes", 0L)
                r.put("is_read_replica_mode_enabled", false)
                r.put("read_replica_bucket", "")
                r.put("is_remote_fetch_enabled", false)
                r.put("is_cloud_data_available", false)
                r.put("start_cloud_offset", -1L)
                r.put("next_cloud_offset", -1L)
                r.put("iceberg_mode", "disabled")
                val rs = r.putObject("raft_state")
                rs.put("node_id", node)
                rs.put("term", p.updateTerm)
                rs.put("offset_translator_state", "{}")
                rs.put("group_configuration", "{}")
                rs.put("confirmed_term", p.updateTerm)
                rs.put("flushed_offset", committed)
                rs.put("commit_index", committed)
                rs.put("majority_replicated_index", committed)
                rs.put("visibility_upper_bound_index", committed)
                rs.put("last_quorum_replicated_index", committed)
                rs.put("last_snapshot_term", 0L)
                rs.put("last_snapshot_index", -1L)
                rs.put("received_snapshot_index", -1L)
                rs.put("received_snapshot_bytes", 0L)
                rs.put("has_pending_flushes", false)
                rs.put("is_leader", node == p.leader)
                rs.put("is_elected_leader", node == p.leader)
                rs.put("write_caching_enabled", false)
                rs.put("flush_bytes", 262144L)
                rs.put("flush_ms", 100L)
                rs.put("time_since_last_flush", 10L)
                rs.put("replication_monitor_state", "idle")
                val stms = rs.putArray("stms")
                val stm = stms.addObject()
                stm.put("name", "rm_stm")
                stm.put("last_applied_offset", committed)
                stm.put("max_collectible_offset", lso)
              }
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("PUT", "v1" :: "debug" ::
            "set_storage_failure_injection_enabled" :: Nil) =>
          qp("value") match {
            case Some("true") =>
              storageFailureInjection = true; Resp(200, "{}")
            case Some("false") =>
              storageFailureInjection = false; Resp(200, "{}")
            case v => err(400, s"Invalid parameter 'value' " +
              s"{${v.getOrElse("")}}. Should be 'true' or 'false'")
          }

        case ("GET", "v1" :: "debug" :: "local_storage_usage" :: Nil) =>
          val u = localStorageUsage()
          val o = mapper.createObjectNode()
          Seq("data", "index", "compaction", "reclaimable_by_retention",
            "target_min_capacity", "target_min_capacity_wanted",
            "cloud_storage_cache_bytes", "cloud_storage_cache_objects")
            .foreach(k => o.put(k, u.getOrElse(k, 0L)))
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "debug" :: "storage" :: "disk_stat" ::
            typ :: Nil) =>
          if (typ != "data" && typ != "cache")
            err(400, s"Unknown disk type: $typ")
          else {
            val b = brokers.head._2
            val (tOv, fOv, delta) =
              diskOverrides.getOrElse(typ, (None, None, 0L))
            val o = mapper.createObjectNode()
            o.put("total_bytes", tOv.getOrElse(b.diskTotal))
            o.put("free_bytes", fOv.getOrElse(b.diskFree) + delta)
            Resp(200, mapper.writeValueAsString(o))
          }

        case ("PUT", "v1" :: "debug" :: "storage" :: "disk_stat" ::
            typ :: Nil) =>
          // body validated BEFORE the type resolves (`server.cc:3115`)
          val doc = try mapper.readTree(body.getOrElse("null"))
            catch { case _: Exception => null }
          if (doc == null || !doc.isObject)
            return schemaErr("expected object")
          val allowed = Set("total_bytes", "free_bytes", "free_bytes_delta")
          val it = doc.fieldNames()
          while (it.hasNext) {
            val f = it.next()
            if (!allowed(f)) return schemaErr(s"unexpected field '$f'")
            if (!doc.get(f).isIntegralNumber)
              return schemaErr(s"'$f' must be an integer")
          }
          if (typ != "data" && typ != "cache")
            err(400, s"Unknown disk type: $typ")
          else {
            val prev = diskOverrides.getOrElse(typ, (None, None, 0L))
            diskOverrides(typ) = (
              Option(doc.get("total_bytes")).map(_.asLong()).orElse(prev._1),
              Option(doc.get("free_bytes")).map(_.asLong()).orElse(prev._2),
              Option(doc.get("free_bytes_delta")).map(_.asLong())
                .getOrElse(prev._3))
            Resp(200, "{}")
          }

        case ("GET", "v1" :: "debug" :: "storage" :: "offset_translator" ::
            ns :: topic :: pStr :: Nil) =>
          // engine-backed: the hook wraps the log's offset-translation
          // state; ladder order per `debug.cc:569-636`
          val translateTo = qp("translate_to").getOrElse("kafka")
          if (translateTo != "kafka" && translateTo != "redpanda")
            return err(400, "'translate_to' parameter must be one of " +
              "either kafka or redpanda")
          offsetTranslator(ns, topic, pStr.toInt) match {
            case None =>
              err(404, s"ntp {$ns/$topic/$pStr} could not be found on the node")
            case Some(tr) =>
              val doc = try mapper.readTree(body.getOrElse(""))
                catch { case _: Exception => null }
              if (doc == null || !doc.isArray)
                return err(400, "Request body must be JSON array of integers")
              val a = mapper.createArrayNode()
              for (i <- 0 until doc.size()) {
                val item = doc.get(i)
                if (!item.isInt)
                  return err(400, "Offsets must all be integers")
                val off = item.asLong()
                tr(off, translateTo == "kafka") match {
                  case None => return err(400,
                    s"Offset provided $off was out of offset translator range")
                  case Some((k, rp)) =>
                    val o = a.addObject()
                    o.put("kafka_offset", k); o.put("rp_offset", rp)
                }
              }
              Resp(200, mapper.writeValueAsString(a))
          }

        case ("GET", "v1" :: "debug" :: "broker_uuid" :: Nil) =>
          val o = mapper.createObjectNode()
          o.put("node_uuid", nodeUuid)
          o.put("node_id", overriddenNodeId.getOrElse(0))
          Resp(200, mapper.writeValueAsString(o))

        case ("PUT", "v1" :: "debug" :: "broker_uuid" :: Nil) =>
          // broker-id override: schema-validated body, current-uuid
          // match gate, non-negative id (`debug.cc:825-938`)
          val doc = try mapper.readTree(body.getOrElse("null"))
            catch { case _: Exception => null }
          if (doc == null || !doc.isObject)
            return schemaErr("expected object")
          val required = Seq("current_node_uuid", "new_node_id", "new_node_uuid")
          required.find(doc.get(_) == null).foreach(f =>
            return schemaErr(s"missing required field '$f'"))
          val itU = doc.fieldNames()
          while (itU.hasNext) {
            val f = itU.next()
            if (!required.contains(f))
              return schemaErr(s"unexpected field '$f'")
          }
          val cur = doc.get("current_node_uuid").asText()
          if (!cur.matches("[0-9a-fA-F-]{36}"))
            return err(400, s"failed parsing current_node_uuid: $cur - invalid uuid")
          if (cur != nodeUuid)
            return err(400, s"Requested current node UUID: $nodeUuid " +
              s"does not match node UUID: $cur")
          val newUuid = doc.get("new_node_uuid").asText()
          if (!newUuid.matches("[0-9a-fA-F-]{36}"))
            return err(400, s"failed parsing new_node_uuid: $newUuid - invalid uuid")
          if (!doc.get("new_node_id").isIntegralNumber)
            return schemaErr("'new_node_id' must be an integer")
          val newId = doc.get("new_node_id").asInt()
          if (newId < 0) return err(400, "node_id must not be negative")
          nodeUuid = newUuid
          overriddenNodeId = Some(newId)
          Resp(200, "{}")

        // ---------------- recovery mode (redpanda/admin/recovery.cc)
        case ("POST", "v1" :: "recovery" :: "migrate_tx_manager" :: Nil)
            if recoveryMode =>
          txMigratorError match {
            case Some(e) => err(503, s"Migration error: $e")
            case None =>
              txMigrationInProgress = false
              txMigrationRequired = false
              Resp(200, "{}")
          }

        case ("GET", "v1" :: "recovery" :: "migrate_tx_manager" :: Nil)
            if recoveryMode =>
          val o = mapper.createObjectNode()
          o.put("in_progress", txMigrationInProgress)
          o.put("required", txMigrationRequired)
          Resp(200, mapper.writeValueAsString(o))

        // -------------------------------------------------- debug bundle
        case ("POST", "v1" :: "debug_bundle" :: Nil) =>
          bundleJob match {
            case Some((_, "running", _)) =>
              val o = mapper.createObjectNode()
              o.put("code", 409)
              o.put("message", "A debug bundle process is already running")
              Resp(409, mapper.writeValueAsString(o))
            case _ =>
              bundleSeq += 1
              val id = f"10000000-0000-4000-8000-${bundleSeq}%012d"
              bundleJob = Some((id, "running", 1700000000000L + bundleSeq))
              val o = mapper.createObjectNode(); o.put("job_id", id)
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("GET", "v1" :: "debug_bundle" :: job :: Nil) =>
          bundleJob match {
            case Some((id, status, created)) if id == job =>
              val o = mapper.createObjectNode()
              o.put("job_id", id); o.put("status", status)
              o.put("created", created)
              if (status == "success") {
                o.put("filename", s"$id.zip")
                o.put("file_size", 1048576L)
              }
              Resp(200, mapper.writeValueAsString(o))
            case _ =>
              val o = mapper.createObjectNode()
              o.put("code", 404)
              o.put("message", s"Job $job not found")
              Resp(404, mapper.writeValueAsString(o))
          }

        case ("DELETE", "v1" :: "debug_bundle" :: job :: Nil) =>
          bundleJob match {
            case Some((id, "running", created)) if id == job =>
              bundleJob = Some((id, "error", created)) // cancelled
              Resp(204, "")
            case Some((id, _, _)) if id == job =>
              val o = mapper.createObjectNode()
              o.put("code", 409)
              o.put("message", s"Job $job is not running")
              Resp(409, mapper.writeValueAsString(o))
            case _ =>
              val o = mapper.createObjectNode()
              o.put("code", 404)
              o.put("message", s"Job $job not found")
              Resp(404, mapper.writeValueAsString(o))
          }

        /** Marks a running bundle finished — the deterministic stand-in
          * for the external rpk process completing. */
        case ("PUT", "v1" :: "debug_bundle" :: job :: "finish" :: Nil) =>
          bundleJob match {
            case Some((id, "running", created)) if id == job =>
              bundleJob = Some((id, "success", created)); Resp(200, "{}")
            case _ => err(404, s"Job $job not running")
          }

        // -------------------------------------------- engine listings
        case ("GET", "v1" :: "transactions" :: Nil) =>
          // transaction_summary rows (api-doc/transaction.json) straight
          // from the coordinator's state table; gated + param-validated
          // per get_all_transactions_handler (`admin/transaction.cc:41-61`)
          if (!transactionsEnabled)
            return err(400, "Transaction are disabled")
          val cps = qp("coordinator_partition_id").getOrElse("")
          val cp = cps.toIntOption.getOrElse(
            return err(400, s"Partition must be an integer: $cps"))
          if (cp < 0)
            return err(400, s"Invalid coordinator partition $cp")
          val a = mapper.createArrayNode()
          transactions().foreach { t =>
            val o = a.addObject()
            o.put("transactional_id", t.transactionalId)
            val pid = o.putObject("pid")
            pid.put("id", t.producerId); pid.put("epoch", t.producerEpoch.toInt)
            o.put("tx_seq", t.txSeq)
            o.put("etag", 0)
            o.put("status", t.status)
            o.put("timeout_ms", t.timeoutMs)
            o.put("staleness_ms", 0L)
            val ps = o.putArray("partitions")
            t.partitions.foreach { case (ns, topic, p) =>
              val po = ps.addObject()
              po.put("ns", ns); po.put("topic", topic)
              po.put("partition_id", p); po.put("etag", 0)
            }
            o.putArray("groups")
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "usage" :: Nil) =>
          // usage_response windows (api-doc/usage.json + admin/usage.cc):
          // gated on enable_usage, the OPEN bucket excluded unless
          // include_open_bucket=true — and when included, its zero end
          // timestamp is replaced with "now" (a fixed model clock here,
          // `usage.cc:35-42`); absent cloud gauge renders -1
          if (!config.get("enable_usage").exists(_.asBoolean()))
            return err(400, "Usage tracking is not enabled")
          val includeOpen = qflag("include_open_bucket")
          val UsageNowSec = 1700009999L
          val a = mapper.createArrayNode()
          usage().filter(includeOpen || !_.open).foreach { w =>
            val o = a.addObject()
            o.put("begin_timestamp", w.beginTs / 1000) // seconds on the wire
            o.put("end_timestamp", if (w.open) UsageNowSec else w.endTs / 1000)
            o.put("open", w.open)
            o.put("kafka_bytes_sent_count", w.bytesSent)
            o.put("kafka_bytes_received_count", w.bytesReceived)
            o.put("cloud_storage_bytes_gauge", -1L)
          }
          Resp(200, mapper.writeValueAsString(a))

        // ------------------------------------------------ security: users
        case ("POST", "v1" :: "security" :: "users" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          parseScramCredential(doc) match {
            case Left(e) => e
            case Right((alg, pw)) =>
              val un = Option(doc.get("username")).filter(_.isTextual)
              if (un.isEmpty) return err(400, "String username missing")
              val username = un.get.asText()
              if (!validScramName(username))
                return err(400, s"Invalid SCRAM username {$username}")
              if (users.contains(username)) {
                // idempotency: same credential → success; different →
                // user_exists falls to throw_on_error's default arm
                if (passwordMatches(username, alg, pw)) Resp(200, "{}")
                else err(500, "Unexpected cluster error: User already exists")
              } else {
                val (salt, stored, iters) = makeStoredKey(username, alg, pw)
                users(username) = (alg, salt, stored, iters)
                Resp(200, "{}")
              }
          }

        case ("GET", "v1" :: "security" :: "users" :: Nil) =>
          // bare array of usernames (list_users, `security.cc:360-378`);
          // this model holds no ephemeral credentials, so the
          // include_ephemeral query param does not change the listing
          val a = mapper.createArrayNode()
          users.keys.foreach(a.add)
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "security" :: "users" :: "roles" :: Nil) =>
          // roles of the AUTHENTICATED principal (list_user_roles)
          val filter = qp("filter").getOrElse("")
          val o = mapper.createObjectNode()
          val rs = o.putArray("roles")
          roles.foreach { case (name, members) =>
            if (members.contains(principal) && name.startsWith(filter)) {
              val r = rs.addObject(); r.put("name", name)
            }
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("PUT", "v1" :: "security" :: "users" :: user :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          parseScramCredential(doc) match {
            case Left(e) => e
            case Right((alg, pw)) =>
              if (passwordMatches(user, alg, pw)) Resp(200, "{}") // no-op
              else if (!users.contains(user))
                err(500, "Unexpected cluster error: User does not exist")
              else {
                val (salt, stored, iters) = makeStoredKey(user, alg, pw)
                users(user) = (alg, salt, stored, iters)
                Resp(200, "{}")
              }
          }

        case ("DELETE", "v1" :: "security" :: "users" :: user :: Nil) =>
          // removing a non-existent user is successful (idempotency)
          users.remove(user)
          Resp(200, "{}")

        // ------------------------------------------------ security: roles
        case ("GET", "v1" :: "security" :: "roles" :: Nil) =>
          val filter = qp("filter").getOrElse("")
          val member = qp("principal").getOrElse("")
          val ptype = qp("principal_type").getOrElse("")
          if (ptype.nonEmpty && ptype != "User")
            return rbacErr(40001, Some(
              s"Role membership reserved for user principals, got {$ptype}"))
          val o = mapper.createObjectNode()
          val rs = o.putArray("roles")
          roles.foreach { case (name, members) =>
            if (name.startsWith(filter) &&
                (member.isEmpty || members.contains(member))) {
              val r = rs.addObject(); r.put("name", name)
            }
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "security" :: "roles" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject)
            return rbacErr(40001, Some("Request body is not a JSON object"))
          val rn = Option(doc.get("role")).filter(_.isTextual)
          if (rn.isEmpty)
            return rbacErr(40001, Some("Missing string field 'role'"))
          val name = rn.get.asText()
          if (!validScramName(name)) return rbacErr(40002)
          val resBody = {
            val o = mapper.createObjectNode(); o.put("role", name)
            mapper.writeValueAsString(o)
          }
          roles.get(name) match {
            case Some(members) if members.nonEmpty => rbacErr(40901)
            case Some(_) => Resp(201, resBody) // empty role: idempotent
            case None =>
              roles(name) = mutable.LinkedHashSet.empty[String]
              Resp(201, resBody)
          }

        case ("GET", "v1" :: "security" :: "roles" :: role :: Nil) =>
          roles.get(role) match {
            case None => rbacErr(40401)
            case Some(members) =>
              val o = mapper.createObjectNode()
              o.put("name", role)
              o.set[JsonNode]("members", roleMembersJson(members))
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("DELETE", "v1" :: "security" :: "roles" :: role :: Nil) =>
          // idempotent; ?delete_acls=true additionally sweeps the
          // role's ACL bindings (binding store lives in admin/Admin)
          roles.remove(role)
          Resp(204, "")

        case ("GET", "v1" :: "security" :: "roles" :: role :: "members" :: Nil) =>
          roles.get(role) match {
            case None => rbacErr(40401)
            case Some(members) =>
              val o = mapper.createObjectNode()
              o.set[JsonNode]("members", roleMembersJson(members))
              Resp(200, mapper.writeValueAsString(o))
          }

        case ("POST", "v1" :: "security" :: "roles" :: role :: "members" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject)
            return rbacErr(40001, Some("Request body is not a JSON object"))
          val add = parseMembers(doc, "add") match {
            case Left(e) => return e; case Right(m) => m
          }
          val remove = parseMembers(doc, "remove") match {
            case Left(e) => return e; case Right(m) => m
          }
          if (remove.exists(add.contains)) return rbacErr(40004)
          val existing = roles.get(role)
          val created = existing.isEmpty
          if (created && !qflag("create")) return rbacErr(40401)
          val members = existing.getOrElse {
            val s = mutable.LinkedHashSet.empty[String]; roles(role) = s; s
          }
          // response reports the DIFF actually applied (already-present
          // adds and absent removes are dropped — `security.cc:721-727`)
          val added = add.filterNot(members.contains)
          val removed = remove.filter(members.contains)
          added.foreach(members.add)
          removed.foreach(members.remove)
          val o = mapper.createObjectNode()
          o.put("role", role)
          o.set[JsonNode]("added", roleMembersJson(added))
          o.set[JsonNode]("removed", roleMembersJson(removed))
          o.put("created", created)
          Resp(200, mapper.writeValueAsString(o))

        // -------------------------------------------------- wasm transforms
        case (_, "v1" :: "transform" :: _) if transformsDisabled =>
          err(400, transformsDisabledMsg)

        case ("POST", "v1" :: "transform" :: "deploy" :: Nil) =>
          val raw = body.getOrElse("")
          val (metaJson, wasm) = splitDeployBody(raw) match {
            case None => return err(400, "JSON parse error: metadata header")
            case Some(p) => p
          }
          val doc = try mapper.readTree(metaJson) catch {
            case NonFatal(_) => return err(400, "JSON parse error: metadata header")
          }
          validateDeployDoc(doc).foreach(m => return err(400, m))
          val off = doc.get("offset")
          if (off != null) {
            val v = off.get("value").asLong()
            if (v < 0)
              return err(400, s"Bad offset: expected value >= 0, got $v")
          }
          val env = mutable.LinkedHashMap.empty[String, String]
          val envArr = doc.get("environment")
          if (envArr != null) (0 until envArr.size()).foreach { i =>
            env(envArr.get(i).get("key").asText()) =
              envArr.get(i).get("value").asText()
          }
          val name = doc.get("name").asText()
          val outs = (0 until doc.get("output_topics").size())
            .map(doc.get("output_topics").get(_).asText())
          transforms(name) = TransformMeta(name,
            doc.get("input_topic").asText(), outs, env,
            Option(doc.get("compression")).map(_.asText()).getOrElse("none"),
            paused = false, binaryBytes = wasm.getBytes("UTF-8").length)
          Resp(200, "{}")

        case ("GET", "v1" :: "transform" :: Nil) =>
          val a = mapper.createArrayNode()
          transforms.values.foreach(t => a.add(transformJson(t)))
          Resp(200, mapper.writeValueAsString(a))

        case ("GET", "v1" :: "transform" :: "debug" :: "committed_offsets" :: Nil) =>
          val showUnknown = qflag("show_unknown")
          val a = mapper.createArrayNode()
          txCommitted.foreach { case ((name, part), offset) =>
            if (showUnknown || transforms.contains(name)) {
              val o = a.addObject()
              o.put("transform_name", name)
              o.put("partition", part)
              o.put("offset", offset)
            }
          }
          Resp(200, mapper.writeValueAsString(a))

        case ("POST", "v1" :: "transform" :: "debug" :: "committed_offsets" ::
            "garbage_collect" :: Nil) =>
          txCommitted.filterInPlace { case ((name, _), _) =>
            transforms.contains(name)
          }
          Resp(200, "{}")

        case ("DELETE", "v1" :: "transform" :: name :: Nil) =>
          if (transforms.remove(name).isEmpty)
            err(400, "Transform does not exist")
          else Resp(200, "{}")

        case ("PUT", "v1" :: "transform" :: name :: "meta" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject)
            return err(400, "Request body is not a JSON object")
          val allowed = Set("env", "is_paused", "compression")
          val it = doc.fieldNames()
          while (it.hasNext) {
            val f = it.next()
            if (!allowed(f))
              return err(400, s"invalid JSON request body: unexpected field '$f'")
          }
          val envN = doc.get("env")
          if (envN != null) {
            if (!envN.isArray)
              return err(400, "invalid JSON request body: 'env' must be an array")
            for (i <- 0 until envN.size()) {
              val e = envN.get(i)
              if (!e.isObject || e.get("key") == null || !e.get("key").isTextual ||
                  e.get("value") == null || !e.get("value").isTextual || e.size() != 2)
                return err(400,
                  "invalid JSON request body: 'env' items must be {key, value} strings")
            }
          }
          val pausedN = doc.get("is_paused")
          if (pausedN != null && !pausedN.isBoolean)
            return err(400, "invalid JSON request body: 'is_paused' must be a boolean")
          val compN = doc.get("compression")
          if (compN != null && (!compN.isTextual || !compressionModes(compN.asText())))
            return err(400,
              "invalid JSON request body: 'compression' not one of none/gzip/snappy/lz4/zstd")
          if (envN == null && pausedN == null && compN == null)
            return Resp(200, "{}") // empty patch: no-op before any lookup
          transforms.get(name) match {
            case None => err(400, "Transform does not exist")
            case Some(t) =>
              if (envN != null) {
                t.env.clear()
                (0 until envN.size()).foreach { i =>
                  t.env(envN.get(i).get("key").asText()) =
                    envN.get(i).get("value").asText()
                }
              }
              if (pausedN != null) t.paused = pausedN.asBoolean()
              if (compN != null) t.compression = compN.asText()
              Resp(200, "{}")
          }

        // ------------------------------------------------ data migrations
        case ("GET", "v1" :: "migrations" :: Nil) =>
          val a = mapper.createArrayNode()
          migrationStore.values.foreach(m => a.add(migrationJson(m)))
          Resp(200, mapper.writeValueAsString(a))

        case ("PUT", "v1" :: "migrations" :: Nil) =>
          // add_migration: the anyOf(inbound|outbound) schema with
          // required migration_type/topics/consumer_groups
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject)
            return schemaErr("expected object")
          val it = doc.fieldNames()
          while (it.hasNext) {
            val f = it.next()
            if (f != "migration_type" && f != "topics" && f != "consumer_groups")
              return schemaErr(s"unexpected field '$f'")
          }
          for (req <- Seq("migration_type", "topics", "consumer_groups"))
            if (doc.get(req) == null)
              return schemaErr(s"missing required field '$req'")
          val mt = doc.get("migration_type").asText()
          if (mt != "inbound" && mt != "outbound")
            return err(400, s"unknown migration type: $mt")
          if (migrationsDisabled) return err(400, migrationsDisabledMsg)
          val groups = parseStringArray(doc.get("consumer_groups"),
            "consumer_groups") match {
            case Left(e) => return e; case Right(g) => g
          }
          val ts = doc.get("topics")
          if (!ts.isArray) return schemaErr("'topics' must be an array")
          val topics = (0 until ts.size()).map { i =>
            (if (mt == "inbound") parseInboundTopic(ts.get(i))
             else parseNamespacedTopic(ts.get(i)).map(t =>
               MigTopic(t._1, t._2, None))) match {
              case Left(e) => return e; case Right(t) => t
            }
          }
          val id = createMigration(mt, topics, groups, autoAdvance = false)
          val o = mapper.createObjectNode(); o.put("id", id)
          Resp(200, mapper.writeValueAsString(o))

        case ("GET", "v1" :: "migrations" :: idStr :: Nil) =>
          idStr.toLongOption match {
            case None => err(400, "bad lexical cast: source type value could " +
              "not be interpreted as target")
            case Some(id) => migrationStore.get(id) match {
              case None => err(404, "Data migration does not exist: " +
                "Requested data migration does not exist")
              case Some(m) => Resp(200, mapper.writeValueAsString(migrationJson(m)))
            }
          }

        case ("POST", "v1" :: "migrations" :: idStr :: Nil) =>
          // execute_migration_action?action=prepare|execute|finish|cancel
          val target = qp("action") match {
            case Some("prepare") => "preparing"
            case Some("execute") => "executing"
            case Some("cancel") => "canceling"
            case Some("finish") => "cut_over"
            case other =>
              return err(400,
                s"unknown data migration action: ${other.getOrElse("")}")
          }
          idStr.toLongOption match {
            case None => err(400, "bad lexical cast: source type value could " +
              "not be interpreted as target")
            case Some(id) => migrationStore.get(id) match {
              case None => err(404, "Data migration does not exist: " +
                "Requested data migration does not exist")
              case Some(m) if !migTransitionOk(m.state, target) =>
                err(400, "Invalid data migration state transition requested")
              case Some(m) =>
                m.state = target
                Resp(200, "{}")
            }
          }

        case ("DELETE", "v1" :: "migrations" :: idStr :: Nil) =>
          idStr.toLongOption match {
            case None => err(400, "bad lexical cast: source type value could " +
              "not be interpreted as target")
            case Some(id) => migrationStore.get(id) match {
              case None => err(404, "Data migration does not exist: " +
                "Requested data migration does not exist")
              case Some(m)
                  if m.state == "planned" || m.state == "cancelled" ||
                    m.state == "finished" =>
                migrationStore.remove(id)
                Resp(200, "{}")
              case Some(_) =>
                err(400, "Invalid data migration state transition requested")
            }
          }

        // ------------------------------------- topic mount/unmount (topics.cc)
        case ("GET", "v1" :: "topics" :: "mountable" :: Nil) =>
          val o = mapper.createObjectNode()
          val a = o.putArray("topics")
          mountableTopics().foreach { case (ns, topic, location) =>
            val t = a.addObject()
            t.put("topic_location", location)
            t.put("topic", topic)
            t.put("ns", ns)
          }
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "topics" :: "mount" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject || doc.get("topics") == null ||
              !doc.get("topics").isArray || doc.size() != 1)
            return schemaErr("mount_configuration requires 'topics' array")
          if (migrationsDisabled) return err(400, migrationsDisabledMsg)
          val ts = doc.get("topics")
          val topics = (0 until ts.size()).map(i =>
            parseInboundTopic(ts.get(i)) match {
              case Left(e) => return e; case Right(t) => t
            })
          val id = createMigration("inbound", topics, Nil, autoAdvance = true)
          val o = mapper.createObjectNode(); o.put("id", id)
          Resp(200, mapper.writeValueAsString(o))

        case ("POST", "v1" :: "topics" :: "unmount" :: Nil) =>
          val doc = mapper.readTree(body.getOrElse("null"))
          if (doc == null || !doc.isObject || doc.get("topics") == null ||
              !doc.get("topics").isArray || doc.size() != 1)
            return schemaErr("unmount requires 'topics' array")
          if (migrationsDisabled) return err(400, migrationsDisabledMsg)
          val ts = doc.get("topics")
          val topics = (0 until ts.size()).map(i =>
            parseNamespacedTopic(ts.get(i)) match {
              case Left(e) => return e
              case Right(t) => MigTopic(t._1, t._2, None)
            })
          val id = createMigration("outbound", topics, Nil, autoAdvance = true)
          val o = mapper.createObjectNode(); o.put("id", id)
          Resp(200, mapper.writeValueAsString(o))

        // -------------------------------------------------------- status
        case ("GET", "v1" :: "status" :: "ready" :: Nil) =>
          Resp(200, """{"status":"ready"}""")

        case _ => err(404, s"no route for $method $path")
      }
    }
  }
}
