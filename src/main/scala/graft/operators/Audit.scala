package graft.operators

import graft.{ObjectStoreView, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OM audit-log analytics (SURVEY §2.A extension) — the reference ships an
  * audit parser that loads OM audit logs and runs canned rollups over them
  * (hadoop-ozone/tools/.../audit/parser/AuditParser.java with
  * commands.properties: top5users / top5cmds / top5activetimebyseconds;
  * entries are (datetime, user, ip, op, params, result) rows per
  * common/.../audit/OMAction.java). Re-expressed Spark-first: the audit
  * stream is a DataFrame, the canned SQLite rollups become declarative
  * plans that scale to a 100 TB log archive.
  *
  * Audit-log binding: like [[graft.ObjectStoreView]], the log derives
  * deterministically from the driver's `events` table so every operator
  * has a DuckDB oracle — event_type maps to an OMAction (signup →
  * ALLOCATE_KEY, purchase → COMMIT_KEY, click → READ_KEY, view →
  * LIST_KEYS, error → DELETE_KEY with result FAILURE), user is
  * 'u'‖user_id, and the touched entity maps into the namespace
  * (volume 'vol'‖(event_id%3), bucket 'b'‖(user_id%5), month prefix from
  * the event time). Operators are generic over any DataFrame with the
  * audit schema; the derivation is the test binding.
  *
  * Scale notes (SURVEY §5): both rollups are one scan + one shuffle on
  * the grouping key with map-side partial aggregation; timestamps are
  * truncated to minute before any emit (§4 timestamp discipline — the
  * event time itself arrives through the dtype-adaptive
  * [[graft.Tables.normalizeTs]]).
  */
object Audit {

  /** The audit-entry view: (ts_minute, user, op, result, volume, bucket,
    * prefix).
    */
  def auditLog(spark: SparkSession, dir: String): DataFrame =
    auditEntries(Tables.normalizeTs(Tables.events(spark, dir)))

  /** The entry derivation over any events-shaped frame with a TIMESTAMP
    * `ts` — shared by the batch view above and the streaming twin
    * ([[graft.streaming.StreamOps.auditOpMixStream]]).
    */
  def auditEntries(events: DataFrame): DataFrame =
    events
      .select(
        date_trunc("minute", col("ts")).as("ts_minute"),
        concat(lit("u"), col("user_id").cast("string")).as("user"),
        when(col("event_type") === "signup", "ALLOCATE_KEY")
          .when(col("event_type") === "purchase", "COMMIT_KEY")
          .when(col("event_type") === "click", "READ_KEY")
          .when(col("event_type") === "view", "LIST_KEYS")
          .otherwise("DELETE_KEY").as("op"),
        when(col("event_type") === "error", "FAILURE")
          .otherwise("SUCCESS").as("result"),
        ObjectStoreView.volume(col("event_id")).as("volume"),
        ObjectStoreView.bucket(col("user_id")).as("bucket"),
        ObjectStoreView.monthDir(year(col("ts")), month(col("ts")))
          .as("prefix"))

  val auditLogSql: String =
    s"""SELECT
       |  date_trunc('minute', ts) AS ts_minute,
       |  'u' || CAST(user_id AS VARCHAR) AS user,
       |  CASE event_type WHEN 'signup' THEN 'ALLOCATE_KEY'
       |    WHEN 'purchase' THEN 'COMMIT_KEY'
       |    WHEN 'click' THEN 'READ_KEY'
       |    WHEN 'view' THEN 'LIST_KEYS'
       |    ELSE 'DELETE_KEY' END AS op,
       |  CASE WHEN event_type = 'error' THEN 'FAILURE'
       |    ELSE 'SUCCESS' END AS result,
       |  ${ObjectStoreView.volumeSql("event_id")} AS volume,
       |  ${ObjectStoreView.bucketSql("user_id")} AS bucket,
       |  ${ObjectStoreView.monthDirSql("ts")} AS prefix
       |FROM events""".stripMargin

  // --- ns_audit_op_mix: per-op audit rollup (top5cmds generalized) --------
  /** Per-op entry counts, distinct users, failure counts, and first/last
    * activity minute — the audit parser's top5cmds/top5users templates as
    * one declarative rollup (most-frequent op first, op tie-break).
    */
  def nsAuditOpMix(spark: SparkSession, dir: String): DataFrame =
    auditLog(spark, dir)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("user")).as("n_users"),
        sum(when(col("result") === "FAILURE", 1L).otherwise(0L))
          .as("n_failures"),
        min(col("ts_minute")).as("first_minute"),
        max(col("ts_minute")).as("last_minute"))
      .orderBy(col("n_entries").desc, col("op").asc)

  val nsAuditOpMixSql: String =
    s"""WITH audit AS ($auditLogSql)
       |SELECT op, COUNT(*) AS n_entries,
       |  COUNT(DISTINCT "user") AS n_users,
       |  CAST(SUM(CASE WHEN result = 'FAILURE' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_failures,
       |  MIN(ts_minute) AS first_minute,
       |  MAX(ts_minute) AS last_minute
       |FROM audit GROUP BY op
       |ORDER BY n_entries DESC, op ASC""".stripMargin

  // --- ns_access_heatmap: entity read-access heatmap ----------------------
  /** Read-access intensity per namespace entity (volume, bucket, month
    * prefix): access counts, distinct readers, failed reads, last access —
    * the audit parser's time-bucketed activity rollup
    * (top5activetimebyseconds) keyed by the touched entity instead of the
    * wall-clock second. READ ops only (READ_KEY / LIST_KEYS): the heatmap
    * answers "what is hot", not "what changed".
    */
  def nsAccessHeatmap(spark: SparkSession, dir: String): DataFrame =
    auditLog(spark, dir)
      .filter(col("op").isin("READ_KEY", "LIST_KEYS"))
      .groupBy(col("volume"), col("bucket"), col("prefix"))
      .agg(count(lit(1)).as("n_accesses"),
        countDistinct(col("user")).as("n_readers"),
        max(col("ts_minute")).as("last_access_minute"))
      .orderBy(col("volume").asc, col("bucket").asc, col("prefix").asc)

  val nsAccessHeatmapSql: String =
    s"""WITH audit AS ($auditLogSql)
       |SELECT volume, bucket, prefix, COUNT(*) AS n_accesses,
       |  COUNT(DISTINCT "user") AS n_readers,
       |  MAX(ts_minute) AS last_access_minute
       |FROM audit WHERE op IN ('READ_KEY', 'LIST_KEYS')
       |GROUP BY volume, bucket, prefix
       |ORDER BY volume ASC, bucket ASC, prefix ASC""".stripMargin

  // --- ns_audit_top_users: the parser's top5users template ----------------
  /** Top 5 users by audit-entry volume with per-user op spread and failure
    * counts — the third canned template in the reference's
    * commands.properties (top5users). Deterministic: count desc, user asc
    * tie-break. The per-user rollup shuffles once on `user`; the top-5 cut
    * is a TakeOrdered over the aggregate (executors keep 5 rows each, the
    * driver merges 5×partitions rows — never the full user set).
    */
  def nsAuditTopUsers(spark: SparkSession, dir: String): DataFrame =
    auditLog(spark, dir)
      .groupBy(col("user"))
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("op")).as("n_ops"),
        sum(when(col("result") === "FAILURE", 1L).otherwise(0L))
          .as("n_failures"),
        max(col("ts_minute")).as("last_minute"))
      .orderBy(col("n_entries").desc, col("user").asc)
      .limit(5)

  val nsAuditTopUsersSql: String =
    s"""WITH audit AS ($auditLogSql)
       |SELECT "user", COUNT(*) AS n_entries,
       |  COUNT(DISTINCT op) AS n_ops,
       |  CAST(SUM(CASE WHEN result = 'FAILURE' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_failures,
       |  MAX(ts_minute) AS last_minute
       |FROM audit GROUP BY "user"
       |ORDER BY n_entries DESC, "user" ASC LIMIT 5""".stripMargin

  // --- ns_audit_active_seconds: the parser's top5activetimebyseconds ------
  /** Top 5 busiest wall-clock SECONDS by audit-entry count — the third and
    * last canned template in the reference's commands.properties
    * (tools/src/main/resources/commands.properties:22,
    * top5activetimebyseconds: datetime truncated to the second, grouped,
    * top 5 by count). The one audit rollup that needs sub-minute
    * resolution, so it derives its own second-granularity timestamp from
    * the raw event time instead of the minute-truncated [[auditLog]] view.
    * Deterministic: count desc, second asc tie-break; the top-5 cut is a
    * TakeOrdered over the per-second aggregate (5 rows per executor, never
    * the full second set on the driver).
    */
  def nsAuditActiveSeconds(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(Tables.events(spark, dir))
      .select(date_trunc("second", col("ts")).as("ts_second"))
      .groupBy(col("ts_second"))
      .agg(count(lit(1)).as("n_entries"))
      .orderBy(col("n_entries").desc, col("ts_second").asc)
      .limit(5)

  val nsAuditActiveSecondsSql: String =
    """SELECT date_trunc('second', ts) AS ts_second,
      |  COUNT(*) AS n_entries
      |FROM events GROUP BY ts_second
      |ORDER BY n_entries DESC, ts_second ASC LIMIT 5""".stripMargin

  // --- ins_key_metrics: the insight module's OM key metric group ----------
  /** The OM key-manager metric inventory as long-format (metric, value)
    * rows — the `ozone insight metrics om.key-manager` display
    * (insight/.../om/KeyManagerInsight.java:37-61: `om_metrics_num_keys`,
    * `om_metrics_num_key_ops`, and per operation in {allocate, commit,
    * lookup, list, delete} the total and `_fails` counters). The insight
    * tool reads live JMX counters; the analytics twin derives the same
    * inventory from the durable evidence — key count from the namespace
    * view, operation counters from the audit stream (the ops the audit
    * log records are exactly the ops the counters count).
    *
    * Scale: two scans (audit + keys), each collapsing to a ≤5-group
    * aggregate with map-side partials; the long-format explode runs over
    * the 5-row aggregate. 12 fixed output rows.
    */
  def insKeyMetrics(spark: SparkSession, dir: String): DataFrame = {
    val opLc = when(col("op") === "ALLOCATE_KEY", "allocate")
      .when(col("op") === "COMMIT_KEY", "commit")
      .when(col("op") === "READ_KEY", "lookup")
      .when(col("op") === "LIST_KEYS", "list")
      .otherwise("delete")
    val perOp = auditLog(spark, dir)
      .groupBy(opLc.as("op_name"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("result") === "FAILURE", 1L).otherwise(0L)).as("nf"))
      .select(explode(array(
        struct(concat(lit("om_metrics_num_key_"), col("op_name"))
          .as("metric"), col("n").as("value")),
        struct(concat(lit("om_metrics_num_key_"), col("op_name"),
          lit("_fails")).as("metric"), col("nf").as("value")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
    val totalOps = auditLog(spark, dir)
      .agg(count(lit(1)).as("value"))
      .select(lit("om_metrics_num_key_ops").as("metric"), col("value"))
    val numKeys = graft.ObjectStoreView.keys(spark, dir)
      .agg(count(lit(1)).as("value"))
      .select(lit("om_metrics_num_keys").as("metric"), col("value"))
    perOp.unionByName(totalOps).unionByName(numKeys)
      .orderBy(col("metric").asc)
  }

  val insKeyMetricsSql: String =
    s"""WITH audit AS ($auditLogSql),
       |named AS (
       |  SELECT CASE op WHEN 'ALLOCATE_KEY' THEN 'allocate'
       |    WHEN 'COMMIT_KEY' THEN 'commit'
       |    WHEN 'READ_KEY' THEN 'lookup'
       |    WHEN 'LIST_KEYS' THEN 'list'
       |    ELSE 'delete' END AS op_name, result
       |  FROM audit
       |), per_op AS (
       |  SELECT op_name, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN result = 'FAILURE' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nf
       |  FROM named GROUP BY op_name
       |), keys AS (${graft.ObjectStoreView.keysSql})
       |SELECT metric, value FROM (
       |  SELECT 'om_metrics_num_key_' || op_name AS metric, n AS value
       |    FROM per_op
       |  UNION ALL
       |  SELECT 'om_metrics_num_key_' || op_name || '_fails', nf FROM per_op
       |  UNION ALL
       |  SELECT 'om_metrics_num_key_ops', CAST(COUNT(*) AS BIGINT)
       |    FROM audit
       |  UNION ALL
       |  SELECT 'om_metrics_num_keys', CAST(COUNT(*) AS BIGINT) FROM keys
       |) t ORDER BY metric ASC""".stripMargin

  // --- ins_om_protocol: the OM RPC endpoint's protocol-message metrics ----
  /** The `ozone insight metrics om` display for the RPC endpoint
    * (insight/.../om/OmProtocolInsight.java:42-55: addRpcMetrics for the
    * OzoneManagerService server plus addProtocolMessageMetrics — one
    * counter per OzoneManagerProtocolProtos.Type message). The analytics
    * twin derives the same inventory from the audit stream: each audit
    * entry is one RPC, its op mapping onto the protobuf message type it
    * arrived as (ALLOCATE_KEY↔CreateKey, COMMIT_KEY↔CommitKey,
    * READ_KEY↔LookupKey, LIST_KEYS↔ListKeys, DELETE_KEY↔DeleteKey), with
    * the server-level totals the RPC metrics group shows. Complements
    * [[insKeyMetrics]] (the KEY-MANAGER view of the same evidence): this
    * is the wire-protocol view — message-type counters + server totals.
    *
    * Scale: one scan → ≤5-group aggregate (map-side partials); the
    * long-format emit runs over the 5-row frame. 7 fixed output rows.
    */
  def insOmProtocol(spark: SparkSession, dir: String): DataFrame = {
    val msg = when(col("op") === "ALLOCATE_KEY", "CreateKey")
      .when(col("op") === "COMMIT_KEY", "CommitKey")
      .when(col("op") === "READ_KEY", "LookupKey")
      .when(col("op") === "LIST_KEYS", "ListKeys")
      .otherwise("DeleteKey")
    val perType = auditLog(spark, dir)
      .groupBy(msg.as("msg_type"))
      .agg(count(lit(1)).as("n"))
      .select(concat(lit("om_client_protocol_"), col("msg_type"))
        .as("metric"), col("n").as("value"))
    val totals = auditLog(spark, dir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("result") === "FAILURE", 1L).otherwise(0L)).as("nf"))
      .select(explode(array(
        struct(lit("om_rpc_processed_requests").as("metric"),
          col("n").as("value")),
        struct(lit("om_rpc_failed_requests").as("metric"),
          col("nf").as("value")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
    perType.unionByName(totals).orderBy(col("metric").asc)
  }

  val insOmProtocolSql: String =
    s"""WITH audit AS ($auditLogSql), typed AS (
       |  SELECT CASE op WHEN 'ALLOCATE_KEY' THEN 'CreateKey'
       |    WHEN 'COMMIT_KEY' THEN 'CommitKey'
       |    WHEN 'READ_KEY' THEN 'LookupKey'
       |    WHEN 'LIST_KEYS' THEN 'ListKeys'
       |    ELSE 'DeleteKey' END AS msg_type, result
       |  FROM audit
       |)
       |SELECT metric, value FROM (
       |  SELECT 'om_client_protocol_' || msg_type AS metric,
       |    CAST(COUNT(*) AS BIGINT) AS value
       |  FROM typed GROUP BY msg_type
       |  UNION ALL
       |  SELECT 'om_rpc_processed_requests', CAST(COUNT(*) AS BIGINT)
       |    FROM typed
       |  UNION ALL
       |  SELECT 'om_rpc_failed_requests',
       |    CAST(SUM(CASE WHEN result = 'FAILURE' THEN 1 ELSE 0 END)
       |      AS BIGINT) FROM typed
       |) t ORDER BY metric ASC""".stripMargin

  // --- ns_prefix_hotspot: per-prefix request-rate planning -----------------
  /** The S3 partition-rate planning report: per (volume, bucket, prefix),
    * total requests, read/write split, active minutes, the PEAK per-minute
    * rate, and a hot flag — object stores throttle per key prefix (the
    * reference's S3 gateway inherits S3's per-prefix request-rate
    * semantics; BucketEndpoint serves by prefix), so the burst profile per
    * prefix, not the mean, decides whether a layout needs more prefix
    * fan-out. hot_flag is the exact integer comparison
    * peak·active_minutes > 2·total (peak more than twice the active-minute
    * average) — no rounded rate anywhere.
    *
    * Scale: two stacked aggregates — per-minute partials combine map-side,
    * then the (volume, bucket, prefix) rollup runs on the minute frame
    * (bounded by active minutes × prefixes, metadata-sized next to the
    * log). No joins, no windows.
    */
  def nsPrefixHotspot(spark: SparkSession, dir: String): DataFrame =
    prefixHotspotOf(auditLog(spark, dir))

  /** The per-minute counter grain shared by the batch hotspot report and
    * its streaming twin ([[graft.streaming.StreamOps.prefixMinuteStream]]):
    * per (volume, bucket, prefix, minute) — requests, reads, writes.
    */
  private[graft] def prefixMinuteCounts(audit: DataFrame): DataFrame =
    audit
      .groupBy(col("volume"), col("bucket"), col("prefix"), col("ts_minute"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("op").isin("READ_KEY", "LIST_KEYS"), 1L).otherwise(0L))
          .as("r"),
        sum(when(col("op").isin("READ_KEY", "LIST_KEYS"), 0L).otherwise(1L))
          .as("w"))

  /** The hotspot core over any audit-shaped frame ([[auditEntries]]
    * schema) — spec seam for constructed burst patterns.
    */
  private[graft] def prefixHotspotOf(audit: DataFrame): DataFrame =
    prefixMinuteCounts(audit)
      .groupBy(col("volume"), col("bucket"), col("prefix"))
      .agg(sum(col("c")).as("n_requests"), sum(col("r")).as("n_reads"),
        sum(col("w")).as("n_writes"),
        count(lit(1)).as("active_minutes"), max(col("c")).as("peak_per_minute"))
      .withColumn("hot_flag",
        when(col("peak_per_minute") * col("active_minutes") >
          col("n_requests") * 2, "y").otherwise("n"))
      .orderBy(col("n_requests").desc, col("volume").asc, col("bucket").asc,
        col("prefix").asc)

  val nsPrefixHotspotSql: String =
    s"""WITH audit AS ($auditLogSql), pm AS (
       |  SELECT volume, bucket, prefix, ts_minute, COUNT(*) AS c,
       |    CAST(SUM(CASE WHEN op IN ('READ_KEY', 'LIST_KEYS') THEN 1 ELSE 0
       |      END) AS BIGINT) AS r,
       |    CAST(SUM(CASE WHEN op IN ('READ_KEY', 'LIST_KEYS') THEN 0 ELSE 1
       |      END) AS BIGINT) AS w
       |  FROM audit GROUP BY volume, bucket, prefix, ts_minute
       |)
       |SELECT volume, bucket, prefix, CAST(SUM(c) AS BIGINT) AS n_requests,
       |  CAST(SUM(r) AS BIGINT) AS n_reads, CAST(SUM(w) AS BIGINT) AS n_writes,
       |  CAST(COUNT(*) AS BIGINT) AS active_minutes,
       |  CAST(MAX(c) AS BIGINT) AS peak_per_minute,
       |  CASE WHEN MAX(c) * COUNT(*) > SUM(c) * 2 THEN 'y' ELSE 'n' END
       |    AS hot_flag
       |FROM pm GROUP BY volume, bucket, prefix
       |ORDER BY n_requests DESC, volume ASC, bucket ASC, prefix ASC""".stripMargin

  /** The registered audit-log and OM-protocol queries. */
  val registry: Seq[Query] = Seq(
    Query("ns_prefix_hotspot", nsPrefixHotspot, nsPrefixHotspotSql),
    Query("ins_om_protocol", insOmProtocol, insOmProtocolSql),
    Query("ns_audit_op_mix", nsAuditOpMix, nsAuditOpMixSql),
    Query("ns_audit_top_users", nsAuditTopUsers, nsAuditTopUsersSql),
    Query("ns_audit_active_seconds", nsAuditActiveSeconds,
      nsAuditActiveSecondsSql),
    Query("ns_access_heatmap", nsAccessHeatmap, nsAccessHeatmapSql),
    Query("ins_key_metrics", insKeyMetrics, insKeyMetricsSql))
}
