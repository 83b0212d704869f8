package graft.operators

import graft.{ObjectStoreView, Query}
import graft.Query.fanned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Volume / bucket entity listings, quota accounting, trash analytics,
  * multipart part paging and ACL rollups (SURVEY §2.A extension) — the
  * reference's OM entity surface:
  *
  *  - listVolumes / listVolumeByUser — common/.../om/protocol/
  *    OzoneManagerProtocol.java:138;
  *  - listBuckets + OmBucketInfo quota fields (quotaInBytes, usedBytes) —
  *    OzoneManagerProtocol.java:280, common/.../om/helpers/OmBucketInfo;
  *  - listTrash / pending-deletion accounting —
  *    OzoneManagerProtocol.java:585, OM KeyDeletingService;
  *  - listParts(uploadId, partNumberMarker, maxParts) —
  *    OzoneManagerProtocol.java:433;
  *  - getAcl — OzoneManagerProtocol.java:559.
  *
  * Volume owner / quota / bucket storage-type / ACL bits are derived with
  * fixed arithmetic from the entity identity (the test binding; operators
  * aggregate whatever columns the bound keys DataFrame carries).
  *
  * Scale notes (SURVEY §5): listings are one scan + one shuffle on the
  * entity key with map-side partial aggregation; part paging is a window
  * over upload_id (bounded partitions: parts per upload ≤ 7 at TPC-H
  * ratios, ≤ 10000 in S3 semantics).
  */
object Entities {

  private val ks = ObjectStoreView.keysSql

  // --- ns_list_volumes: volume entities + quota usage ---------------------
  def nsListVolumes(spark: SparkSession, dir: String): DataFrame = {
    val digit = substring(col("volume"), 4, 8).cast("long")
    ObjectStoreView.keys(spark, dir)
      .groupBy(col("volume"))
      .agg(count(lit(1)).as("key_count"), sum(col("size")).as("used_bytes"))
      .withColumn("owner", concat(lit("owner"), (digit % 2).cast("string")))
      .withColumn("quota_bytes", (digit + 1) * 50000000000L)
      .withColumn("pct_used",
        round(col("used_bytes").cast("double") / col("quota_bytes"), 6))
      .select("volume", "owner", "quota_bytes", "key_count", "used_bytes",
        "pct_used")
      .orderBy(col("volume").asc)
  }

  val nsListVolumesSql: String =
    s"""WITH keys AS ($ks), agg AS (
       |  SELECT volume, COUNT(*) AS key_count,
       |    CAST(SUM(size) AS BIGINT) AS used_bytes
       |  FROM keys GROUP BY volume
       |)
       |SELECT volume,
       |  'owner' || CAST(CAST(substring(volume, 4, 8) AS BIGINT) % 2 AS VARCHAR) AS owner,
       |  (CAST(substring(volume, 4, 8) AS BIGINT) + 1) * 50000000000 AS quota_bytes,
       |  key_count, used_bytes,
       |  round(CAST(used_bytes AS DOUBLE) /
       |    ((CAST(substring(volume, 4, 8) AS BIGINT) + 1) * 50000000000), 6) AS pct_used
       |FROM agg ORDER BY volume ASC""".stripMargin

  // --- ns_list_buckets: bucket entities + quota usage ---------------------
  def nsListBuckets(spark: SparkSession, dir: String): DataFrame = {
    val digit = substring(col("bucket"), 2, 8).cast("long")
    val quota = 20000000000L
    ObjectStoreView.keys(spark, dir)
      .groupBy(col("volume"), col("bucket"))
      .agg(count(lit(1)).as("key_count"), sum(col("size")).as("used_bytes"))
      .withColumn("storage_type",
        when(digit % 2 === 0, "DISK").otherwise("SSD"))
      .withColumn("quota_bytes", lit(quota))
      .withColumn("quota_utilization",
        round(col("used_bytes").cast("double") / quota, 6))
      .select("volume", "bucket", "storage_type", "quota_bytes", "key_count",
        "used_bytes", "quota_utilization")
      .orderBy(col("volume").asc, col("bucket").asc)
  }

  val nsListBucketsSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket,
       |  CASE WHEN CAST(substring(bucket, 2, 8) AS BIGINT) % 2 = 0
       |    THEN 'DISK' ELSE 'SSD' END AS storage_type,
       |  20000000000 AS quota_bytes,
       |  COUNT(*) AS key_count,
       |  CAST(SUM(size) AS BIGINT) AS used_bytes,
       |  round(CAST(SUM(size) AS DOUBLE) / 20000000000, 6) AS quota_utilization
       |FROM keys GROUP BY volume, bucket
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  // --- ns_trash_pending: pending-deletion rollup per bucket ---------------
  def nsTrashPending(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.trashKeys(spark, dir)
      .groupBy(col("volume"), col("bucket"))
      .agg(
        count(lit(1)).as("n_pending_keys"),
        sum(col("size")).as("pending_bytes"),
        min(col("deletion_time")).as("oldest_deletion"),
        max(col("deletion_time")).as("newest_deletion"))
      .orderBy(col("volume").asc, col("bucket").asc)

  val nsTrashPendingSql: String =
    s"""WITH trash AS (${ObjectStoreView.trashKeysSql})
       |SELECT volume, bucket, COUNT(*) AS n_pending_keys,
       |  CAST(SUM(size) AS BIGINT) AS pending_bytes,
       |  MIN(deletion_time) AS oldest_deletion,
       |  MAX(deletion_time) AS newest_deletion
       |FROM trash GROUP BY volume, bucket
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  // --- ns_mpu_list_parts: listParts with partNumberMarker + maxParts ------
  private val PartMarker = 2
  private val MaxParts = 3

  def nsMpuListParts(spark: SparkSession, dir: String): DataFrame = {
    // part_number ties exist in the binding (duplicate linenumbers), so the
    // tie-break includes part_bytes — remaining ties are identical rows.
    val w = Window.partitionBy(col("upload_id"))
      .orderBy(col("part_number").asc, col("part_bytes").asc)
    ObjectStoreView.mpuParts(spark, dir)
      .filter(col("part_number") > PartMarker)
      .withColumn("part_rank", row_number().over(w).cast("bigint"))
      .filter(col("part_rank") <= MaxParts)
      .select("upload_id", "part_number", "part_bytes", "part_rank")
      .orderBy(col("upload_id").asc, col("part_number").asc)
  }

  val nsMpuListPartsSql: String =
    s"""WITH parts AS (${ObjectStoreView.mpuPartsSql}), ranked AS (
       |  SELECT upload_id, part_number, part_bytes,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY upload_id
       |      ORDER BY part_number ASC, part_bytes ASC) AS BIGINT) AS part_rank
       |  FROM parts WHERE part_number > $PartMarker
       |)
       |SELECT upload_id, part_number, part_bytes, part_rank FROM ranked
       |WHERE part_rank <= $MaxParts
       |ORDER BY upload_id ASC, part_number ASC""".stripMargin

  // --- ns_acl_report: world-access rollup per bucket ----------------------
  /** ACL bits derived from key identity: world-readable iff size % 2 = 0,
    * world-writable iff size % 5 = 0 (test binding for getAcl's
    * type/name/rights triples).
    */
  def nsAclReport(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keys(spark, dir)
      .withColumn("world_read", (col("size") % 2 === 0).cast("int"))
      .withColumn("world_write", (col("size") % 5 === 0).cast("int"))
      .groupBy(col("volume"), col("bucket"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("world_read")).cast("bigint").as("n_world_readable"),
        sum(col("world_write")).cast("bigint").as("n_world_writable"),
        sum(when(col("world_read") === 0 && col("world_write") === 0, 1L)
          .otherwise(0L)).as("n_private"))
      .orderBy(col("volume").asc, col("bucket").asc)

  val nsAclReportSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, COUNT(*) AS n_keys,
       |  CAST(SUM(CASE WHEN size % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_world_readable,
       |  CAST(SUM(CASE WHEN size % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_world_writable,
       |  CAST(SUM(CASE WHEN size % 2 <> 0 AND size % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_private
       |FROM keys GROUP BY volume, bucket
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  // --- ns_content_summary: FS getContentSummary per bucket ----------------
  /** Hadoop FileSystem getContentSummary for the `data/1997` subtree of
    * every bucket: directory count (subtree root + its immediate month
    * dirs), file count, logical length, and space consumed (bytes ×
    * replication) — ozonefs BasicOzoneClientAdapterImpl.getContentSummary /
    * Hadoop ContentSummary semantics. One pushed-prefix scan + one shuffle
    * on (volume, bucket). Keys in this binding always have 4 path segments,
    * so substring_index(key,'/',3) is exactly the parent dir (the shallow-
    * key caveat from ADVICE r2 does not arise; the oracle mirrors the same
    * 3-segment arithmetic).
    */
  def nsContentSummary(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keys(spark, dir)
      .filter(col("key").startsWith("data/1997/"))
      .withColumn("parent", substring_index(col("key"), "/", 3))
      .groupBy(col("volume"), col("bucket"))
      .agg(
        (countDistinct(col("parent")) + 1).as("dir_count"),
        count(lit(1)).as("file_count"),
        sum(col("size")).as("length_bytes"),
        sum(col("size") * col("replication")).as("space_consumed"))
      .orderBy(col("volume").asc, col("bucket").asc)

  val nsContentSummarySql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket,
       |  COUNT(DISTINCT split_part(key, '/', 1) || '/' ||
       |    split_part(key, '/', 2) || '/' || split_part(key, '/', 3)) + 1 AS dir_count,
       |  COUNT(*) AS file_count,
       |  CAST(SUM(size) AS BIGINT) AS length_bytes,
       |  CAST(SUM(size * replication) AS BIGINT) AS space_consumed
       |FROM keys WHERE key LIKE 'data/1997/%'
       |GROUP BY volume, bucket
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  // --- ns_mpu_list_uploads: listMultipartUploads with marker + maxUploads -
  private val UploadMarker = "upload-2"
  private val MaxUploads = 25

  /** S3 ListMultipartUploads page: in-flight uploads after the key marker,
    * first [[MaxUploads]] in lexicographic upload order — S3G
    * ListMultipartUploadsRequest / OM listMultipartUploads. The rollup is
    * one shuffle on upload_id; the page itself is orderBy+limit, which
    * Spark executes as TakeOrdered (per-partition top-k + driver merge of
    * K rows, no global sort shuffle).
    */
  def nsMpuListUploads(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.mpuParts(spark, dir)
      .groupBy(col("upload_id"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("part_bytes")).as("total_bytes"),
        max(col("part_number")).as("max_part_number"))
      .filter(col("upload_id") > UploadMarker)
      .orderBy(col("upload_id").asc)
      .limit(MaxUploads)

  val nsMpuListUploadsSql: String =
    s"""WITH parts AS (${ObjectStoreView.mpuPartsSql})
       |SELECT upload_id, COUNT(*) AS n_parts,
       |  CAST(SUM(part_bytes) AS BIGINT) AS total_bytes,
       |  MAX(part_number) AS max_part_number
       |FROM parts GROUP BY upload_id
       |HAVING upload_id > '$UploadMarker'
       |ORDER BY upload_id ASC
       |LIMIT $MaxUploads""".stripMargin

  // --- ns_quota_enforcement: over/near-quota entity audit -----------------
  /** Quota enforcement audit across BOTH entity levels — for every volume
    * and bucket: used vs configured quota (the [[nsListVolumes]] /
    * [[nsListBuckets]] configs), exact integer-ppm utilization, headroom
    * (negative when over), and the enforcement action OM would take on the
    * next write (reference: OmBucketInfo/OmVolumeArgs quotaInBytes +
    * usedBytes accounting in ozone-manager/.../OMKeyRequest quota checks —
    * writes into an over-quota entity are rejected). DENY_WRITES when
    * used ≥ quota, WARN at ≥ 90%, ALLOW below.
    *
    * Plan shape: one keys scan feeds a bucket-level rollup; the volume
    * level re-aggregates the bucket rows (tiny), so the union shuffles
    * entity rows, never keys.
    */
  def nsQuotaEnforcement(spark: SparkSession, dir: String): DataFrame = {
    val perBucket = ObjectStoreView.keys(spark, dir)
      .groupBy(col("volume"), col("bucket"))
      .agg(sum(col("size")).as("used_bytes"))
    val buckets = perBucket
      .withColumn("quota_bytes", lit(20000000000L))
    val volumes = perBucket
      .groupBy(col("volume"))
      .agg(sum(col("used_bytes")).as("used_bytes"))
      .withColumn("bucket", lit(null).cast("string"))
      .withColumn("quota_bytes",
        (substring(col("volume"), 4, 8).cast("long") + 1) * 50000000000L)
    val entities = buckets.select(lit("BUCKET").as("entity_type"),
        col("volume"), col("bucket"), col("quota_bytes"), col("used_bytes"))
      .unionByName(volumes.select(lit("VOLUME").as("entity_type"),
        col("volume"), col("bucket"), col("quota_bytes"), col("used_bytes")))
    entities
      .withColumn("used_ppm", expr(graft.functions.Codes
        .sharePpmExpr("used_bytes", "quota_bytes")))
      .withColumn("headroom_bytes", col("quota_bytes") - col("used_bytes"))
      .withColumn("enforcement",
        when(col("used_ppm") >= 1000000L, "DENY_WRITES")
          .when(col("used_ppm") >= 900000L, "WARN")
          .otherwise("ALLOW"))
      .orderBy(col("entity_type").asc, col("volume").asc,
        col("bucket").asc_nulls_first)
  }

  val nsQuotaEnforcementSql: String =
    s"""WITH keys AS ($ks), per_bucket AS (
       |  SELECT volume, bucket, CAST(SUM(size) AS BIGINT) AS used_bytes
       |  FROM keys GROUP BY volume, bucket
       |), entities AS (
       |  SELECT 'BUCKET' AS entity_type, volume, bucket,
       |    CAST(20000000000 AS BIGINT) AS quota_bytes, used_bytes
       |  FROM per_bucket
       |  UNION ALL
       |  SELECT 'VOLUME', volume, NULL,
       |    (CAST(substring(volume, 4, 8) AS BIGINT) + 1) * 50000000000,
       |    CAST(SUM(used_bytes) AS BIGINT)
       |  FROM per_bucket GROUP BY volume
       |)
       |, scored AS (
       |  SELECT entity_type, volume, bucket, quota_bytes, used_bytes,
       |    CAST(${graft.functions.Codes.sharePpmSql("used_bytes",
                 "quota_bytes")} AS BIGINT) AS used_ppm
       |  FROM entities
       |)
       |SELECT entity_type, volume, bucket, quota_bytes, used_bytes,
       |  used_ppm,
       |  quota_bytes - used_bytes AS headroom_bytes,
       |  CASE WHEN used_ppm >= 1000000 THEN 'DENY_WRITES'
       |    WHEN used_ppm >= 900000 THEN 'WARN'
       |    ELSE 'ALLOW' END AS enforcement
       |FROM scored
       |ORDER BY entity_type ASC, volume ASC, bucket ASC NULLS FIRST""".stripMargin

  // --- ns_check_access: point ACL decision for one (user, volume) --------
  /** The registered binding's probe identity (the oracle twin interpolates
    * the same constants; any other identity goes through [[checkAccess]]).
    */
  val AccessUser = "u2"
  val AccessVolume = "vol1"

  /** The point ACL-decision query: can [[AccessUser]] READ / WRITE / LIST
    * [[AccessVolume]]? — the reference's `checkVolumeAccess` (common/.../om/
    * protocol/OzoneManagerProtocol.java: a per-(user, volume, aclType)
    * boolean, the single-entity twin of the [[nsAclReport]] rollup). The
    * ACL binding extends the report's: the volume owner ('u'‖volume digit)
    * holds every right; a non-owner holds a right iff the MAJORITY of the
    * volume's keys grant it world-wide (world-read iff size % 2 = 0,
    * world-write iff size % 5 = 0; LIST rides the read bit). One row per
    * requested right with the decision and its basis counts.
    *
    * Scale: one scan filtered to the volume + a 1-row aggregate; the
    * 3-right unpivot explodes a constant-size struct array. At 100 TB the
    * volume filter prunes to the entity's slice before any shuffle.
    */
  /** The PUBLIC parameterized shape (VERDICT r10 #8): the ACL decision for
    * ANY (user, volume) identity; the registered ns_check_access binds
    * ([[AccessUser]], [[AccessVolume]]) so the DuckDB oracle needs no side
    * channel.
    */
  def checkAccess(spark: SparkSession, dir: String,
      user: String, volume: String): DataFrame = {
    val isOwner = user == "u" + volume.stripPrefix("vol")
    val g = ObjectStoreView.keys(spark, dir)
      .filter(col("volume") === volume)
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("size") % 2 === 0, 1L).otherwise(0L)).as("n_read"),
        sum(when(col("size") % 5 === 0, 1L).otherwise(0L)).as("n_write"))
    def grant(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(isOwner) || n * 2 >= col("n_keys")
    g.select(explode(array(
        struct(lit("LIST").as("acl_right"),
          grant(col("n_read")).as("allowed"),
          col("n_read").as("n_granting_keys"), col("n_keys").as("n_keys")),
        struct(lit("READ").as("acl_right"),
          grant(col("n_read")).as("allowed"),
          col("n_read").as("n_granting_keys"), col("n_keys").as("n_keys")),
        struct(lit("WRITE").as("acl_right"),
          grant(col("n_write")).as("allowed"),
          col("n_write").as("n_granting_keys"), col("n_keys").as("n_keys"))))
        .as("t"))
      .select(lit(user).as("user"), lit(volume).as("volume"),
        col("t.acl_right").as("acl_right"), col("t.allowed").as("allowed"),
        col("t.n_granting_keys").as("n_granting_keys"),
        col("t.n_keys").as("n_keys"))
      .orderBy(col("acl_right").asc)
  }

  def nsCheckAccess(spark: SparkSession, dir: String): DataFrame =
    checkAccess(spark, dir, AccessUser, AccessVolume)

  val nsCheckAccessSql: String = {
    val owner = if (AccessUser == "u" + AccessVolume.stripPrefix("vol"))
      "TRUE" else "FALSE"
    s"""WITH keys AS ($ks), g AS (
       |  SELECT COUNT(*) AS n_keys,
       |    CAST(SUM(CASE WHEN size % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_read,
       |    CAST(SUM(CASE WHEN size % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_write
       |  FROM keys WHERE volume = '$AccessVolume'
       |)
       |SELECT '$AccessUser' AS "user", '$AccessVolume' AS volume,
       |  acl_right, allowed, n_granting_keys, n_keys
       |FROM (
       |  SELECT 'LIST' AS acl_right, $owner OR n_read * 2 >= n_keys
       |      AS allowed, n_read AS n_granting_keys, n_keys FROM g
       |  UNION ALL SELECT 'READ', $owner OR n_read * 2 >= n_keys,
       |    n_read, n_keys FROM g
       |  UNION ALL SELECT 'WRITE', $owner OR n_write * 2 >= n_keys,
       |    n_write, n_keys FROM g
       |) t ORDER BY acl_right ASC""".stripMargin
  }

  // --- ns_acl_effective: hierarchy-resolved effective ACLs -----------------
  /** Effective KEY access resolved down the volume → bucket → prefix → key
    * hierarchy, exactly the reference's native-authorizer walk
    * (ozone-manager/.../security/acl/OzoneNativeAuthorizer.java:155-166:
    * key access requires the KEY acl to grant the requested right AND the
    * prefix, bucket and volume acls to each grant the PARENT right, where
    * CREATE/DELETE/WRITE_ACL map to parent WRITE and LIST/READ_ACL map to
    * parent READ — OzoneNativeAuthorizer.java:117-126 — with the volume
    * OWNER bypassing every level: OzoneNativeAuthorizer.java:160-163; the
    * prefix level is tools/.../acl/AddAclPrefixHandler territory).
    *
    * Deterministic per-level world-grant bindings (the test ACL store),
    * chosen so bucket and volume grants DISAGREE in both directions:
    * volume vol2 denies READ that buckets b0/b2/b4 grant, and volume vol0
    * grants WRITE that buckets b2..b4 deny —
    *   volume:  READ iff volume ≠ vol2;      WRITE iff volume = vol0
    *   bucket:  READ iff bucket digit even;  WRITE iff bucket digit < 2
    *   prefix (data/<year>): READ always;    WRITE iff year even
    *   key:     READ iff size%2=0; WRITE iff size%5=0; DELETE iff size%7=0
    * Users u0/u1/u2 own vol0/vol1/vol2 respectively.
    *
    * Output: per (user, volume, bucket, right) — keys allowed, and denials
    * attributed to the FIRST failing level in the authorizer's evaluation
    * order (key, prefix, bucket, volume). Scale: ONE keys scan with NO
    * row expansion — the bucket/volume grants are constant per group, so
    * the whole cascade reconstructs from 7 fused conditional counters per
    * (volume, bucket): n_keys, per-right key-denied, per-right
    * key∧prefix-cleared (d_prefix = (n_keys − d_key) − kp; the
    * bucket/volume legs route kp through the group-constant grants). The
    * ×3-right unpivot and the 3-row user dimension (broadcast cross) run
    * over the |buckets|-row rollup — per-user and per-right work never
    * touches the corpus.
    */
  def nsAclEffective(spark: SparkSession, dir: String): DataFrame = {
    def kg(right: String) = right match {
      case "READ"  => col("size") % 2 === 0
      case "WRITE" => col("size") % 5 === 0
      case _       => col("size") % 7 === 0
    }
    // parent(READ)=READ has a universal prefix grant; parent(WRITE/DELETE)
    // = WRITE has prefix grant iff the key's year is even.
    def pg(right: String) =
      if (right == "READ") lit(true) else col("yr") % 2 === 0
    val counters = Seq("DELETE", "READ", "WRITE").flatMap { r =>
      Seq(
        sum(when(!kg(r), 1L).otherwise(0L)).as(s"d_key_$r"),
        sum(when(kg(r) && pg(r), 1L).otherwise(0L)).as(s"kp_$r"))
    }
    val grouped = ObjectStoreView.keys(spark, dir)
      .select(col("volume"), col("bucket"), col("size"),
        substring(col("volume"), 4, 10).cast("int").as("v_d"),
        substring(col("bucket"), 2, 10).cast("int").as("b_d"),
        split(col("key"), "/").getItem(1).cast("int").as("yr"))
      .groupBy(col("volume"), col("bucket"), col("v_d"), col("b_d"))
      .agg(count(lit(1)).as("n_keys"), counters: _*)
    // Unpivot to one row per right over the |buckets|-row frame, applying
    // the group-constant bucket/volume grants of the right's PARENT.
    val perRight = grouped.select(col("*"),
      explode(array(Seq("DELETE", "READ", "WRITE").map { r =>
        val parentRead = r == "READ" // parent right after the V1 mapping
        val bucketGrant =
          if (parentRead) col("b_d") % 2 === 0 else col("b_d") < 2
        val volumeGrant =
          if (parentRead) col("v_d") =!= 2 else col("v_d") === 0
        val kp = col(s"kp_$r")
        val dKey = col(s"d_key_$r")
        struct(lit(r).as("acl_right"), dKey.as("d_key"),
          (col("n_keys") - dKey - kp).as("d_prefix"),
          when(bucketGrant, 0L).otherwise(kp).as("d_bucket"),
          when(!bucketGrant, 0L).when(volumeGrant, 0L).otherwise(kp)
            .as("d_volume"),
          when(bucketGrant && volumeGrant, kp).otherwise(0L)
            .as("allowed_world"))
      }: _*)).as("t"))
      .select(col("volume"), col("bucket"), col("v_d"), col("n_keys"),
        col("t.acl_right").as("acl_right"), col("t.d_key").as("d_key"),
        col("t.d_prefix").as("d_prefix"), col("t.d_bucket").as("d_bucket"),
        col("t.d_volume").as("d_volume"),
        col("t.allowed_world").as("allowed_world"))
    val users = broadcast(
      grouped.sparkSession.range(3)
        .select(concat(lit("u"), col("id").cast("string")).as("user"),
          col("id").cast("int").as("u_d")))
    perRight.crossJoin(users)
      .withColumn("is_owner", col("u_d") === col("v_d"))
      .select(col("user"), col("volume"), col("bucket"), col("acl_right"),
        col("is_owner"), col("n_keys"),
        when(col("is_owner"), col("n_keys")).otherwise(col("allowed_world"))
          .as("n_allowed"),
        when(col("is_owner"), 0L).otherwise(col("d_key")).as("n_denied_key"),
        when(col("is_owner"), 0L).otherwise(col("d_prefix"))
          .as("n_denied_prefix"),
        when(col("is_owner"), 0L).otherwise(col("d_bucket"))
          .as("n_denied_bucket"),
        when(col("is_owner"), 0L).otherwise(col("d_volume"))
          .as("n_denied_volume"))
      .orderBy(col("user").asc, col("volume").asc, col("bucket").asc,
        col("acl_right").asc)
  }

  val nsAclEffectiveSql: String =
    s"""WITH keys AS ($ks), graded AS (
       |  SELECT volume, bucket,
       |    CAST(substring(volume, 4) AS INTEGER) AS v_d,
       |    CAST(substring(bucket, 2) AS INTEGER) AS b_d,
       |    CAST(split_part(key, '/', 2) AS INTEGER) AS yr,
       |    size, r.acl_right
       |  FROM keys, UNNEST(['DELETE', 'READ', 'WRITE']) AS r(acl_right)
       |), bits AS (
       |  SELECT volume, bucket, v_d, acl_right,
       |    CASE WHEN acl_right = 'READ' THEN size % 2 = 0
       |      WHEN acl_right = 'WRITE' THEN size % 5 = 0
       |      ELSE size % 7 = 0 END AS key_grant,
       |    CASE WHEN acl_right = 'READ' THEN TRUE
       |      ELSE yr % 2 = 0 END AS prefix_grant,
       |    CASE WHEN acl_right = 'READ' THEN b_d % 2 = 0
       |      ELSE b_d < 2 END AS bucket_grant,
       |    CASE WHEN acl_right = 'READ' THEN v_d <> 2
       |      ELSE v_d = 0 END AS volume_grant
       |  FROM graded
       |), agg AS (
       |  SELECT volume, bucket, v_d, acl_right, COUNT(*) AS n_keys,
       |    CAST(SUM(CASE WHEN NOT key_grant THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d_key,
       |    CAST(SUM(CASE WHEN key_grant AND NOT prefix_grant
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d_prefix,
       |    CAST(SUM(CASE WHEN key_grant AND prefix_grant AND NOT bucket_grant
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d_bucket,
       |    CAST(SUM(CASE WHEN key_grant AND prefix_grant AND bucket_grant
       |      AND NOT volume_grant THEN 1 ELSE 0 END) AS BIGINT) AS d_volume,
       |    CAST(SUM(CASE WHEN key_grant AND prefix_grant AND bucket_grant
       |      AND volume_grant THEN 1 ELSE 0 END) AS BIGINT) AS allowed_world
       |  FROM bits GROUP BY volume, bucket, v_d, acl_right
       |)
       |SELECT 'u' || CAST(u.u_d AS VARCHAR) AS "user", volume, bucket,
       |  acl_right, u.u_d = v_d AS is_owner, n_keys,
       |  CASE WHEN u.u_d = v_d THEN n_keys ELSE allowed_world END
       |    AS n_allowed,
       |  CASE WHEN u.u_d = v_d THEN 0 ELSE d_key END AS n_denied_key,
       |  CASE WHEN u.u_d = v_d THEN 0 ELSE d_prefix END AS n_denied_prefix,
       |  CASE WHEN u.u_d = v_d THEN 0 ELSE d_bucket END AS n_denied_bucket,
       |  CASE WHEN u.u_d = v_d THEN 0 ELSE d_volume END AS n_denied_volume
       |FROM agg, UNNEST([0, 1, 2]) AS u(u_d)
       |ORDER BY "user" ASC, volume ASC, bucket ASC, acl_right ASC""".stripMargin

  // --- ns_gdpr_compliance: per-bucket GDPR / encryption posture -----------
  /** The compliance rollup VERDICT r10 #2 asked for — the one OM metadata
    * dimension that had no twin: per bucket, its `gdprEnabled` posture
    * (OmBucketInfo.java:289), live keys/bytes under it, how many live keys
    * carry `FileEncryptionInfo` (OmKeyInfo.java:59) with the share in
    * exact integer ppm, the pending-deletion count, and the
    * deletion-hygiene violations `OmUtils.prepareKeyForDelete`
    * (OmUtils.java:433-452) exists to prevent — deleted keys in GDPR
    * buckets that still carry their GDPR metadata/encryption info. An
    * auditor reads one row per bucket: GDPR buckets must show
    * encrypted_ppm = 1000000 and n_hygiene_violations = 0 to be clean
    * (the test binding injects a 1-in-97 violation stream so the report
    * provably detects them).
    *
    * Scale: single scan of the key view, 7 fused conditional counters,
    * one shuffle on (volume, bucket) with map-side partial aggregation —
    * the rollup frame is |volumes|×|buckets| regardless of key count.
    */
  def nsGdprCompliance(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.gdprKeys(spark, dir)
      .groupBy(col("volume"), col("bucket"), col("gdpr_enabled"))
      .agg(
        sum(when(!col("deleted"), 1L).otherwise(0L)).as("n_keys"),
        sum(when(!col("deleted"), col("size")).otherwise(0L))
          .as("total_bytes"),
        sum(when(!col("deleted") && col("encrypted"), 1L).otherwise(0L))
          .as("n_encrypted"),
        sum(when(col("deleted"), 1L).otherwise(0L)).as("n_pending_delete"),
        sum(when(col("hygiene_violation"), 1L).otherwise(0L))
          .as("n_hygiene_violations"))
      .withColumn("encrypted_ppm",
        expr("n_encrypted * 1000000 DIV greatest(n_keys, 1)"))
      .select(col("volume"), col("bucket"), col("gdpr_enabled"),
        col("n_keys"), col("total_bytes"), col("n_encrypted"),
        col("encrypted_ppm"), col("n_pending_delete"),
        col("n_hygiene_violations"))
      .orderBy(col("volume").asc, col("bucket").asc)

  val nsGdprComplianceSql: String =
    s"""WITH gk AS (${ObjectStoreView.gdprKeysSql})
       |SELECT volume, bucket, gdpr_enabled,
       |  CAST(SUM(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keys,
       |  CAST(SUM(CASE WHEN NOT deleted THEN size ELSE 0 END) AS BIGINT)
       |    AS total_bytes,
       |  CAST(SUM(CASE WHEN NOT deleted AND encrypted THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_encrypted,
       |  CAST(SUM(CASE WHEN NOT deleted AND encrypted THEN 1 ELSE 0 END)
       |    * 1000000 // greatest(
       |      SUM(CASE WHEN NOT deleted THEN 1 ELSE 0 END), 1) AS BIGINT)
       |    AS encrypted_ppm,
       |  CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pending_delete,
       |  CAST(SUM(CASE WHEN hygiene_violation THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hygiene_violations
       |FROM gk GROUP BY volume, bucket, gdpr_enabled
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  /** The registered namespace-entity queries. `fanned`: key-string
    * derivation feeds the scan stage.
    */
  val registry: Seq[Query] = Seq(
    Query("ns_gdpr_compliance", nsGdprCompliance, nsGdprComplianceSql),
    Query("ns_acl_effective", nsAclEffective, nsAclEffectiveSql, fanned),
    Query("ns_check_access", nsCheckAccess, nsCheckAccessSql),
    Query("ns_quota_enforcement", nsQuotaEnforcement, nsQuotaEnforcementSql),
    Query("ns_content_summary", nsContentSummary, nsContentSummarySql, fanned),
    Query("ns_mpu_list_uploads", nsMpuListUploads, nsMpuListUploadsSql, fanned),
    Query("ns_list_volumes", nsListVolumes, nsListVolumesSql),
    Query("ns_list_buckets", nsListBuckets, nsListBucketsSql),
    Query("ns_trash_pending", nsTrashPending, nsTrashPendingSql),
    Query("ns_mpu_list_parts", nsMpuListParts, nsMpuListPartsSql, fanned),
    Query("ns_acl_report", nsAclReport, nsAclReportSql))
}
