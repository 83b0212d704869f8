package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic object-store namespace derived from the TPC-H testdata.
  *
  * The reference's namespace is volumes → buckets → keys with per-key size,
  * modification time, replication config and (for in-flight writes) an OPEN
  * state (see /root/reference/hadoop-ozone/common/src/main/java/org/apache/
  * hadoop/ozone/om/helpers/OmKeyInfo.java). To exercise the namespace
  * operators against the driver's parquet tables with a DuckDB oracle, we
  * derive a key table from `lineitem` with a fixed arithmetic mapping — the
  * operators in [[graft.operators.Namespace]] are generic over any DataFrame
  * with this schema; this mapping is only the test binding.
  *
  * Schema: volume STRING, bucket STRING, key STRING (path under the bucket,
  * '/'-separated), size BIGINT (bytes), mtime TIMESTAMP, replication INT
  * (actual replica count), state STRING (OPEN | CLOSED).
  *
  * This object is the only place the binding is spelled. Each decision —
  * volume, bucket, directory and key path, key size, container id, replica
  * count and replica node — is one Spark `Column` function here with a
  * DuckDB SQL-string twin beside it, and every view below has an ANSI SQL
  * twin (`keysSql`, `containerKeysSql`, ...) that selects from one shared
  * SQL fragment, so the DuckDB oracle rebuilds the identical namespace.
  */
object ObjectStoreView {

  /** Volume of a source row: vol<id % 3> (lineitem orderkey; the audit
    * log binds its event id).
    */
  def volume(id: Column): Column = volumeName(id % 3)

  /** Volume name from its index v3 = id % 3. */
  def volumeName(v3: Column): Column = concat(lit("vol"), v3.cast("string"))

  def volumeSql(id: String): String = s"'vol' || CAST($id % 3 AS VARCHAR)"

  /** Bucket of a source row: b<id % 5> (lineitem suppkey; the audit log
    * binds its user id).
    */
  def bucket(id: Column): Column = bucketName(id % 5)

  /** Bucket name from its index b5 = id % 5. */
  def bucketName(b5: Column): Column = concat(lit("b"), b5.cast("string"))

  def bucketSql(id: String): String = s"'b' || CAST($id % 5 AS VARCHAR)"

  /** Year directory data/<year>. */
  private def yearDir(yr: Column): Column =
    concat(lit("data/"), yr.cast("string"))

  /** Month directory data/<year>/<month, 2 digits> — the depth-3 directory
    * of every key, and the audit log's prefix.
    */
  def monthDir(yr: Column, mo: Column): Column =
    concat(monthDirParts(yr, mo): _*)

  /** Key path data/<year>/<month>/<orderkey>-<linenumber>.obj: a 3-level
    * directory tree for du / listing semantics.
    */
  def keyPath(yr: Column, mo: Column, o: Column, ln: Column): Column =
    concat(monthDirParts(yr, mo) ++ Seq(lit("/"), o.cast("string"),
      lit("-"), ln.cast("string"), lit(".obj")): _*)

  private def monthDirParts(yr: Column, mo: Column): Seq[Column] =
    Seq(lit("data/"), yr.cast("string"), lit("/"),
      lpad(mo.cast("string"), 2, "0"))

  def monthDirSql(ts: String): String =
    s"'data/' || CAST(year($ts) AS VARCHAR) || '/' || " +
      s"lpad(CAST(month($ts) AS VARCHAR), 2, '0')"

  def keyPathSql(o: String, ln: String, ts: String): String =
    s"${monthDirSql(ts)} || '/' || CAST($o AS VARCHAR) || '-' || " +
      s"CAST($ln AS VARCHAR) || '.obj'"

  /** Key size in bytes: the extended price in cents. */
  def keySize(price: Column): Column =
    (price.cast("decimal(12,2)") * 100).cast("bigint")

  def keySizeSql(price: String): String =
    s"CAST(CAST($price AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** Ordinal of key (o, ln): o*7 + ln. It numbers the key's blocks
    * ([[keyBlocks]]) and places the key in its container.
    */
  def keyOrdinal(o: Column, ln: Column): Column = o * 7 + ln

  def keyOrdinalSql(o: String, ln: String): String = s"($o * 7 + $ln)"

  /** Container of key (o, ln), in [0, 1024). */
  def containerId(o: Column, ln: Column): Column = keyOrdinal(o, ln) % 1024

  def containerIdSql(o: String, ln: String): String =
    s"(${keyOrdinalSql(o, ln)} % 1024)"

  /** Actual replica count of a container (0 = MISSING), fixed arithmetic
    * standing in for SCM's replica reports (reference: replication health
    * states in recon/.../api/ContainerEndpoint.java:285 `/unhealthy/{state}`
    * and SCM ReplicationManager semantics).
    */
  def containerReplicas(containerId: Column): Column =
    (containerId * 31 + 7) % 5

  def containerReplicasSql(e: String): String = s"(($e * 31 + 7) % 5)"

  /** Replica slot r of container c lives on datanode (c*31 + r*17) % 20 —
    * fixed arithmetic placement over a 20-node fleet (the reference tracks
    * real datanode reports; recon/.../api/NodeEndpoint.java:84).
    */
  def replicaNode(containerId: Column, r: Column): Column =
    (containerId * 31 + r * 17) % 20

  def replicaNodeSql(c: String, r: String): String =
    s"(($c * 31 + $r * 17) % 20)"

  /** Every live replica of the containers in `cont` (a frame carrying
    * container_id and replicas): one row per slot r in 1..replicas with its
    * node_id, keeping container_id and the `keep` columns. A container with
    * 0 replicas places none. Bounded: ≤ 4 rows per container.
    */
  def placedReplicas(cont: DataFrame, keep: String*): DataFrame =
    cont.filter(col("replicas") >= 1)
      .select((col("container_id") +: keep.map(col)) :+
        explode(sequence(lit(1), col("replicas"))).as("r"): _*)
      .withColumn("node_id", replicaNode(col("container_id"), col("r")))

  /** SQL twin of [[placedReplicas]]: a derived table with every column of
    * `rel` plus r and node_id.
    */
  def placedReplicasSql(rel: String): String =
    s"""(SELECT p.*, u.r, ${replicaNodeSql("p.container_id", "u.r")} AS node_id
       |  FROM $rel p, UNNEST(range(1, p.replicas + 1)) AS u(r)
       |  WHERE p.replicas >= 1)""".stripMargin

  /** The key columns of [[keys]], over lineitem's columns. */
  private def keyColumns: Seq[Column] = Seq(
    volume(col("l_orderkey")).as("volume"),
    bucket(col("l_suppkey")).as("bucket"),
    keyPath(year(col("l_shipdate")), month(col("l_shipdate")),
      col("l_orderkey"), col("l_linenumber")).as("key"),
    keySize(col("l_extendedprice")).as("size"),
    col("l_shipdate").as("mtime"),
    (lit(1) + (col("l_partkey") % 4)).cast("int").as("replication"),
    when(col("l_linestatus") === "O", "OPEN").otherwise("CLOSED").as("state"))

  /** lineitem plus every derived binding column: the one SQL spelling of
    * the namespace, which every view twin below selects from.
    */
  private val binding: String =
    s"""(SELECT *,
       |    ${volumeSql("l_orderkey")} AS volume,
       |    ${bucketSql("l_suppkey")} AS bucket,
       |    ${keyPathSql("l_orderkey", "l_linenumber", "l_shipdate")} AS key,
       |    ${keySizeSql("l_extendedprice")} AS size,
       |    l_shipdate AS mtime,
       |    CAST(1 + (l_partkey % 4) AS INTEGER) AS replication,
       |    CASE WHEN l_linestatus = 'O' THEN 'OPEN' ELSE 'CLOSED' END AS state,
       |    CAST(${containerIdSql("l_orderkey", "l_linenumber")} AS BIGINT)
       |      AS container_id
       |  FROM lineitem) binding""".stripMargin

  /** The keys table: one object per lineitem row. */
  def keys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(keyColumns: _*)

  /** DuckDB SQL building the identical keys table; interpolated into
    * namespace oracle queries as a CTE.
    */
  val keysSql: String =
    s"""SELECT volume, bucket, key, size, mtime, replication, state
       |FROM $binding""".stripMargin

  /** Two snapshot states of the namespace for snapshot-diff semantics
    * (reference: OM snapshot machinery, /root/reference/hadoop-ozone/
    * ozone-manager/.../om/snapshot/). Snapshot A is the namespace as of
    * 1997-01-01; snapshot B as of 1998-01-01 with RETURNFLAG='R' keys
    * dropped (deletes) and RETURNFLAG='A' keys grown by 1 KiB (modifies).
    */
  def snapshotA(spark: SparkSession, sfDir: String): DataFrame =
    withFlag(spark, sfDir)
      .filter(col("mtime") < lit("1997-01-01").cast("timestamp"))
      .drop("rflag")

  def snapshotB(spark: SparkSession, sfDir: String): DataFrame = {
    val k = withFlag(spark, sfDir)
      .filter(col("mtime") < lit("1998-01-01").cast("timestamp"))
      .filter(col("rflag") =!= "R")
    k.withColumn("size",
        when(col("rflag") === "A", col("size") + 1024).otherwise(col("size")))
      .drop("rflag")
  }

  /** keys() plus the source returnflag — the row-aligned basis all three
    * chain states (A, B, live) derive from with pure filters/maps. Lets
    * chain-wide accounting run as ONE scan with membership flags instead
    * of joining materialized per-state views.
    */
  def keysWithFlag(spark: SparkSession, sfDir: String): DataFrame =
    withFlag(spark, sfDir)

  /** All-numeric form of [[keysWithFlag]] for consumers that AGGREGATE on
    * the key identity (guide §2.3 — shuffle fewer bytes): the derived
    * (volume, bucket, key) strings are a BIJECTION of the numeric
    * quintuple (l_orderkey, l_linenumber, l_suppkey%5, year, month) —
    * volume = f(o%3), bucket = "b"+s5, and the key text embeds o, ln,
    * the 4-digit year and the 0-padded month with unambiguous separators,
    * so two rows agree on the strings iff they agree on the quintuple.
    * Grouping on the quintuple shuffles ~24 B of ints per group where the
    * string form shuffles ~50 B of built text, and defers the per-row
    * concat chain to once per SURVIVING group ([[buildKeyColumns]]).
    */
  def keysWithFlagNarrow(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    l.select(
      col("l_returnflag").as("rflag"),
      col("l_orderkey").as("o"),
      col("l_linenumber").as("ln"),
      (col("l_suppkey") % 5).as("b5"),
      year(col("l_shipdate")).as("yr"),
      month(col("l_shipdate")).as("mo"),
      keySize(col("l_extendedprice")).as("size"))
  }

  /** The (volume, bucket, key) string columns rebuilt from the numeric
    * quintuple — the EXACT expressions of [[keys]], applied post-collapse
    * (`year(l_shipdate)`/`month(l_shipdate)` arrive pre-computed as
    * yr/mo, which [[keys]] casts to string the same way).
    */
  def buildKeyColumns(df: DataFrame): DataFrame =
    df.withColumn("volume", volume(col("o")))
      .withColumn("bucket", bucketName(col("b5")))
      .withColumn("key", keyPath(col("yr"), col("mo"), col("o"), col("ln")))

  val keysWithFlagSql: String =
    s"""SELECT l_returnflag AS rflag, volume, bucket, key, size, mtime
       |FROM $binding""".stripMargin

  private def withFlag(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    keysFrom(l).withColumn("rflag", col("l_returnflag")).drop(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_linestatus", "l_shipdate")
  }

  /** keys() but keeping the source columns alongside (for flag access). */
  private def keysFrom(l: DataFrame): DataFrame =
    l.select(col("*") +: keyColumns: _*)

  /** Oracle CTE text for snapshots A and B. */
  val snapshotASql: String =
    s"""SELECT volume, bucket, key, size, mtime, replication, state
       |FROM ($keysSql) base_keys
       |WHERE mtime < TIMESTAMP '1997-01-01'""".stripMargin

  val snapshotBSql: String =
    s"""SELECT volume, bucket, key,
       |  CASE WHEN l_returnflag = 'A' THEN size + 1024 ELSE size END AS size,
       |  mtime, replication, state
       |FROM $binding
       |WHERE mtime < TIMESTAMP '1998-01-01'
       |  AND l_returnflag <> 'R'""".stripMargin

  /** Container → key mapping: every key's data lives in a storage
    * container, derived with fixed arithmetic (container_id in [0, 1024)).
    * Reference: Recon's ContainerKeyMapperTask builds exactly this inverse
    * map from OM key info (recon/.../tasks/ContainerKeyMapperTask.java),
    * served by ContainerEndpoint `/{id}/keys` (recon/.../api/
    * ContainerEndpoint.java:140).
    */
  def containerKeys(spark: SparkSession, sfDir: String): DataFrame =
    keysFrom(Tables.lineitem(spark, sfDir)).select(
      containerId(col("l_orderkey"), col("l_linenumber"))
        .cast("bigint").as("container_id"),
      col("volume"), col("bucket"), col("key"), col("size"), col("mtime"),
      col("state"))

  val containerKeysSql: String =
    s"""SELECT container_id, volume, bucket, key, size, mtime, state
       |FROM $binding""".stripMargin

  /** Replica-report event stream: Recon builds its per-container replica
    * history from datanode container reports — each report updates the
    * (container, datanode) row's lastSeenTime, inserting firstSeenTime on
    * first sight (recon/.../scm/ContainerReplicaHistory.java:35-38,
    * persisted as recon/.../persistence/ContainerHistory.java). The test
    * binding makes every key commit a report from ONE of the container's
    * TARGET-placement datanodes: key (o, l) in container c reports replica
    * slot r = (o*13 + l) % 3 + 1, which [[replicaNode]] maps to its node,
    * at report_time = the key's mtime. History covers the 3-slot target
    * placement regardless of CURRENT replica count, so missing containers
    * keep a timeline — exactly why the endpoint exists.
    */
  def replicaReports(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val cid = containerId(col("l_orderkey"), col("l_linenumber"))
    val rep = (col("l_orderkey") * 13 + col("l_linenumber")) % 3 + 1
    l.select(
      cid.cast("bigint").as("container_id"),
      rep.cast("int").as("replica_index"),
      replicaNode(cid, rep).cast("bigint").as("node_id"),
      col("l_shipdate").as("report_time"))
  }

  val replicaReportsSql: String = {
    val rep = "((l_orderkey * 13 + l_linenumber) % 3 + 1)"
    s"""SELECT container_id,
       |  CAST($rep AS INTEGER) AS replica_index,
       |  CAST(${replicaNodeSql("container_id", rep)} AS BIGINT) AS node_id,
       |  mtime AS report_time
       |FROM $binding""".stripMargin
  }

  /** Block-level layout of every key — the granularity below key →
    * container that the fsck tooling walks (tools/.../fsck/
    * ContainerMapper.java parses each OmKeyInfo's key-location list into
    * containerID → (blockID → {volume, bucket, key}); BlockIdDetails.java
    * carries the per-block fields). Test binding: a key of `size` bytes
    * splits into ceil(size / 1 MiB) blocks; block k of key (o, l) has
    * local id (o*7 + l)*64 + k and carries min(1 MiB, size − k·1 MiB)
    * bytes. Ids are unique per (o, l) source row with k < 64 (sizes stay
    * under 64 MiB); the driver's synthetic lineitem contains duplicate
    * (o, l) rows, which therefore share block ids exactly as they already
    * share key paths in [[keys]] — id allocation is SCM's job in the
    * reference, not derivable from key identity, so the binding mirrors
    * the source's identity semantics rather than inventing entropy. The
    * view is
    * EXPANDED (one row per block, bounded ≤ 11 rows/key at this data's
    * sizes) — consumers that only need counts derive them arithmetically
    * without the explode (see Containers.ctBlockReport).
    */
  val BlockBytes: Long = 1048576L

  def keyBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val base = keysFrom(l).select(
      containerId(col("l_orderkey"), col("l_linenumber"))
        .cast("bigint").as("container_id"),
      keyOrdinal(col("l_orderkey"), col("l_linenumber")).cast("bigint")
        .as("ord"),
      col("volume"), col("bucket"), col("key"), col("size"))
    base
      .withColumn("n_blocks", expr(s"(size + ${BlockBytes - 1}) DIV $BlockBytes"))
      .select(col("container_id"), col("ord"), col("volume"), col("bucket"),
        col("key"), col("size"),
        explode(sequence(lit(0L), col("n_blocks") - 1)).as("block_seq"))
      .select(col("container_id"),
        (col("ord") * 64 + col("block_seq")).as("block_local_id"),
        col("block_seq"), col("volume"), col("bucket"), col("key"),
        least(lit(BlockBytes), col("size") - col("block_seq") * BlockBytes)
          .as("block_bytes"))
  }

  val keyBlocksSql: String =
    s"""SELECT container_id,
       |  CAST(${keyOrdinalSql("l_orderkey", "l_linenumber")} * 64
       |    + u.block_seq AS BIGINT) AS block_local_id,
       |  CAST(u.block_seq AS BIGINT) AS block_seq,
       |  volume, bucket, key,
       |  least($BlockBytes, size - u.block_seq * $BlockBytes) AS block_bytes
       |FROM $binding,
       |  UNNEST(range((size + ${BlockBytes - 1}) // $BlockBytes))
       |    AS u(block_seq)""".stripMargin

  /** Deleted keys awaiting purge (the trash / deletion pipeline). The
    * RETURNFLAG='R' slice of the namespace stands in for keys moved to the
    * deletedTable, with deletion_time = mtime. Reference: `listTrash`
    * (common/.../om/protocol/OzoneManagerProtocol.java:585) and the OM
    * KeyDeletingService's pending-deletion accounting.
    */
  def trashKeys(spark: SparkSession, sfDir: String): DataFrame =
    keysFrom(Tables.lineitem(spark, sfDir))
      .filter(col("l_returnflag") === "R")
      .select(col("volume"), col("bucket"), col("key"), col("size"),
        col("mtime").as("deletion_time"))

  val trashKeysSql: String =
    s"""SELECT volume, bucket, key, size, mtime AS deletion_time
       |FROM $binding WHERE l_returnflag = 'R'""".stripMargin

  /** Trash keys with their container placement — the join of [[trashKeys]]
    * and the container arithmetic of [[containerKeys]], derived in one
    * projection (no join): each pending-deletion key becomes a deletion
    * transaction on its container (reference: SCM DeletedBlockLog,
    * hadoop-hdds/server-scm/.../block/DeletedBlockLogImpl.java).
    */
  def trashContainerKeys(spark: SparkSession, sfDir: String): DataFrame =
    keysFrom(Tables.lineitem(spark, sfDir))
      .filter(col("l_returnflag") === "R")
      .select(
        containerId(col("l_orderkey"), col("l_linenumber"))
          .cast("bigint").as("container_id"),
        col("volume"), col("bucket"), col("key"), col("size"))

  val trashContainerKeysSql: String =
    s"""SELECT container_id, volume, bucket, key, size
       |FROM $binding WHERE l_returnflag = 'R'""".stripMargin

  /** GDPR / encryption posture of every key — the compliance dimension of
    * the namespace (reference: buckets carry a `gdprEnabled` metadata flag,
    * common/.../om/helpers/OmBucketInfo.java:289; keys carry
    * `FileEncryptionInfo`, common/.../om/helpers/OmKeyInfo.java:59; and
    * `OmUtils.prepareKeyForDelete` strips GDPR metadata + encryption info
    * before a key moves to the deletedTable,
    * common/.../OmUtils.java:433-452). Deterministic test binding:
    * even-numbered buckets (b0/b2/b4) are GDPR-enforced; a key is
    * encrypted when its bucket is GDPR (per-key GDPR secret) or its part
    * id lands in the 1-in-5 BEK slice; the R-flagged slice is the
    * deletedTable (as in [[trashKeys]]); and 1-in-97 orders inject a
    * deletion-hygiene VIOLATION (a deleted GDPR key that still carries
    * its metadata — what prepareKeyForDelete exists to prevent).
    */
  def gdprKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val gdpr = (col("l_suppkey") % 5) % 2 === 0
    val deleted = col("l_returnflag") === "R"
    keysFrom(Tables.lineitem(spark, sfDir)).select(
      col("volume"), col("bucket"), col("size"),
      gdpr.as("gdpr_enabled"),
      (gdpr || col("l_partkey") % 5 === 0).as("encrypted"),
      deleted.as("deleted"),
      (deleted && gdpr && col("l_orderkey") % 97 === 0)
        .as("hygiene_violation"))
  }

  val gdprKeysSql: String =
    s"""SELECT volume, bucket, size,
       |  (l_suppkey % 5) % 2 = 0 AS gdpr_enabled,
       |  ((l_suppkey % 5) % 2 = 0 OR l_partkey % 5 = 0) AS encrypted,
       |  l_returnflag = 'R' AS deleted,
       |  (l_returnflag = 'R' AND (l_suppkey % 5) % 2 = 0
       |    AND l_orderkey % 97 = 0) AS hygiene_violation
       |FROM $binding""".stripMargin

  /** Multipart uploads in flight: one upload per open order, parts = its
    * lineitems (reference: S3InitiateMultipartUploadRequest + part key
    * tracking, /root/reference/hadoop-ozone/ozone-manager/.../request/s3/
    * multipart/).
    */
  def mpuParts(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "O")
    val l = Tables.lineitem(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        concat(lit("upload-"), col("o_orderkey").cast("string")).as("upload_id"),
        col("l_linenumber").as("part_number"),
        keySize(col("l_extendedprice")).as("part_bytes"))
  }

  val mpuPartsSql: String =
    s"""SELECT 'upload-' || CAST(o_orderkey AS VARCHAR) AS upload_id,
       |  l_linenumber AS part_number, size AS part_bytes
       |FROM $binding JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderstatus = 'O'""".stripMargin

  /** FSO (FILE_SYSTEM_OPTIMIZED) directory table: one row per directory
    * with (obj_id, parent_id, name) — paths are NOT stored; they must be
    * reconstructed by walking parent pointers, exactly the reference's FSO
    * bucket layout where OmDirectoryInfo carries only name + objectID +
    * parentObjectID (common/.../om/helpers/OmDirectoryInfo.java:63-68) and
    * path resolution walks the dirTable (ozone-manager/.../om/request/file/
    * OMFileRequest.java).
    *
    * Directories are the distinct key prefixes of the namespace; obj_id is
    * the full-string fold fingerprint of volume/bucket/path (parent_id = 0
    * for bucket-root children). The same arithmetic runs on both engines,
    * so ids agree by construction — and the PATH columns are dropped
    * before the operator sees the table.
    */
  /** The numeric DIRECTORY identity of each key: every key path is
    * data/<year>/<month>/<file>, so its three directory prefixes are a
    * bijection of (l_orderkey%3, l_suppkey%5, year, month) plus the level
    * — the narrow basis [[dirTable]] and the FSO du rollup aggregate on
    * BEFORE any path text exists (guide §2.3: the corpus-sized distinct/
    * aggregate hashes four ints instead of built strings, and the concat
    * chain runs once per surviving directory, not once per key).
    */
  private[graft] def keyDirNarrow(spark: SparkSession,
      sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    l.select(
      (col("l_orderkey") % 3).as("v3"),
      (col("l_suppkey") % 5).as("b5"),
      year(col("l_shipdate")).as("yr"),
      month(col("l_shipdate")).as("mo"),
      keySize(col("l_extendedprice")).as("size"))
  }

  def dirTable(spark: SparkSession, sfDir: String): DataFrame = {
    // Explode the three directory levels on the narrow numeric identity
    // and take ONE distinct (one aggregate, one exchange; a numeric
    // distinct before the explode adds a second exchange and measured no
    // faster, AB_DIRTABLE_r19.log): the map-side partial collapses each
    // task's rows to its directories before the shuffle, and path text is
    // built once per surviving directory. Level markers keep the
    // level-1/level-2 rows distinct before any string exists; the string
    // forms are level-unambiguous ("data" vs "data/YYYY" vs
    // "data/YYYY/MM"), so the distinct sets correspond one-to-one with an
    // explode-then-distinct over built prefixes.
    val n = lit(null).cast("int")
    val lv = keyDirNarrow(spark, sfDir).select(col("v3"), col("b5"),
        explode(array(
          struct(lit(1).as("lvl"), n.as("yr"), n.as("mo")),
          struct(lit(2).as("lvl"), col("yr").as("yr"), n.as("mo")),
          struct(lit(3).as("lvl"), col("yr").as("yr"), col("mo").as("mo"))))
          .as("s"))
      .select(col("v3"), col("b5"), col("s.lvl").as("lvl"),
        col("s.yr").as("yr"), col("s.mo").as("mo"))
      .distinct()
    val path = when(col("lvl") === 1, lit("data"))
      .when(col("lvl") === 2, yearDir(col("yr")))
      .otherwise(monthDir(col("yr"), col("mo")))
    val parentPath = when(col("lvl") === 2, lit("data"))
      .otherwise(yearDir(col("yr")))
    def id(p: Column): Column = graft.functions.Codes.foldCode(
      concat(col("volume"), lit("/"), col("bucket"), lit("/"), p),
      131L, graft.functions.Codes.P)
    lv.select(
        volumeName(col("v3")).as("volume"),
        bucketName(col("b5")).as("bucket"),
        col("lvl"), col("yr"), col("mo"))
      .select(col("volume"), col("bucket"),
        id(path).as("obj_id"),
        when(col("lvl") === 1, lit(0L)).otherwise(id(parentPath))
          .as("parent_id"),
        when(col("lvl") === 1, lit("data"))
          .when(col("lvl") === 2, col("yr").cast("string"))
          .otherwise(lpad(col("mo").cast("string"), 2, "0")).as("name"))
  }

  /** DuckDB CTE body building the identical dirTable (ends in `dirs`). */
  val dirTableSql: String = {
    def id(pathE: String) = graft.functions.Codes.foldCodeSql(
      s"volume || '/' || bucket || '/' || $pathE", 131L, graft.functions.Codes.P)
    s"""dpaths AS (
       |  SELECT DISTINCT volume, bucket, p.path
       |  FROM ($keysSql) keys, UNNEST([
       |    split_part(key, '/', 1),
       |    split_part(key, '/', 1) || '/' || split_part(key, '/', 2),
       |    split_part(key, '/', 1) || '/' || split_part(key, '/', 2) || '/' || split_part(key, '/', 3)
       |  ]) AS p(path)
       |), dirs AS (
       |  SELECT volume, bucket,
       |    ${id("path")} AS obj_id,
       |    CASE WHEN strpos(path, '/') = 0 THEN 0
       |      ELSE ${id("regexp_replace(path, '/[^/]*$$', '')")} END AS parent_id,
       |    regexp_extract(path, '([^/]*)$$', 1) AS name
       |  FROM dpaths
       |)""".stripMargin
  }
}
