package graft.operators

import graft.{ObjectStoreView, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FSO (FILE_SYSTEM_OPTIMIZED) namespace resolution (SURVEY §2.A).
  *
  * The reference's FSO bucket layout stores directories as parent-pointer
  * rows — OmDirectoryInfo carries only (name, objectID, parentObjectID),
  * never the absolute path (common/.../om/helpers/OmDirectoryInfo.java:
  * 63-68) — and every path operation resolves by walking the dirTable
  * (ozone-manager/.../om/request/file/OMFileRequest.java). Recon's
  * NSSummary tree does the same walk in bulk. This operator is that walk as
  * a distributed plan: absolute paths for ALL directories at once.
  *
  * Algorithm: iterative pointer-jumping — round k joins every unresolved
  * directory (one whose walk hasn't reached a bucket root, parent_id 0) to
  * the dir table on its current ancestor id and prepends that ancestor's
  * name. Each round is one hash join on an 8-byte id keyed both sides, so
  * round cost is O(unresolved dirs), and the number of rounds is the tree
  * DEPTH, not the tree size — at 100 TB a namespace is millions of dirs
  * but ~10 levels deep, so ~10 shuffles of shrinking frames. Resolved rows
  * leave the loop immediately (they stop paying join cost), and each
  * round's frontier is localCheckpoint'ed so round N plans against a
  * materialized N-1 (same Pregel discipline as Dedup.componentLabels).
  * The convergence probe is an isEmpty on the checkpointed frontier.
  */
object Fso {

  /** Absolute path + depth for every directory in a parent-pointer dir
    * table (volume, bucket, obj_id, parent_id, name). Dirs whose pointer
    * chain doesn't reach a root (corrupt table) are dropped by the inner
    * join, mirroring the reference's OM_DIRECTORY_NOT_FOUND on a broken
    * walk; the MaxDepth guard bounds the loop against pointer cycles.
    */
  private val MaxDepth = 50

  def resolvePaths(dirsIn: DataFrame): DataFrame = {
    // The dir table is joined once per depth level — checkpoint it so the
    // derivation (whatever produced it) runs once, not once per round.
    val dirs = dirsIn.localCheckpoint()
    val parents = dirs.select(col("volume").as("p_volume"),
      col("bucket").as("p_bucket"),
      col("obj_id").as("p_id"), col("name").as("p_name"),
      col("parent_id").as("p_parent"))

    val start = dirs.select(col("volume"), col("bucket"), col("obj_id"),
      col("name").as("abs_path"), col("parent_id").as("cur"),
      lit(1).as("depth"))
    var resolved = start.filter(col("cur") === 0L)
    var pending = start.filter(col("cur") =!= 0L).localCheckpoint()
    var rounds = 0
    while (rounds < MaxDepth && !pending.isEmpty) {
      val stepped = pending
        .join(parents, pending("volume") === parents("p_volume") &&
          pending("bucket") === parents("p_bucket") &&
          pending("cur") === parents("p_id"))
        .select(pending("volume"), pending("bucket"), col("obj_id"),
          concat(col("p_name"), lit("/"), col("abs_path")).as("abs_path"),
          col("p_parent").as("cur"), (col("depth") + 1).as("depth"))
      resolved = resolved.union(stepped.filter(col("cur") === 0L))
      pending = stepped.filter(col("cur") =!= 0L).localCheckpoint()
      rounds += 1
    }
    resolved.select(col("volume"), col("bucket"), col("obj_id"),
      col("abs_path"), col("depth"))
  }

  def nsFsoPaths(spark: SparkSession, dir: String): DataFrame =
    resolvePaths(ObjectStoreView.dirTable(spark, dir))
      .orderBy(col("volume").asc, col("bucket").asc, col("abs_path").asc)

  /** Shared oracle CTE chain: dirTable + the recursive walk, ending in
    * resolved(volume, bucket, obj_id, abs_path, depth) — the declarative
    * statement of the fixpoint the pointer-jumping loop converges to.
    */
  private val resolvedCtes: String =
    s"""${ObjectStoreView.dirTableSql}, walk AS (
       |  SELECT volume, bucket, obj_id, name AS abs_path,
       |    parent_id AS cur, 1 AS depth
       |  FROM dirs
       |  UNION ALL
       |  SELECT w.volume, w.bucket, w.obj_id,
       |    d.name || '/' || w.abs_path, d.parent_id, w.depth + 1
       |  FROM walk w JOIN dirs d
       |    ON w.volume = d.volume AND w.bucket = d.bucket AND w.cur = d.obj_id
       |), resolved AS (
       |  SELECT volume, bucket, obj_id, abs_path, CAST(depth AS INT) AS depth
       |  FROM walk WHERE cur = 0
       |)""".stripMargin

  /** Oracle: the same walk as a recursive CTE over the same dirTable. */
  val nsFsoPathsSql: String =
    s"""WITH RECURSIVE $resolvedCtes
       |SELECT volume, bucket, obj_id, abs_path, depth FROM resolved
       |ORDER BY volume ASC, bucket ASC, abs_path ASC""".stripMargin

  // --- ns_fso_du: per-directory SUBTREE rollup over the FSO tree ----------
  /** Recursive disk usage for every FSO directory: subtree file count and
    * bytes, keyed by the directory's objectID. This is Recon's NSSummary
    * rollup (recon/.../tasks/NSSummaryTask.java builds per-directory
    * aggregates bottom-up from the FSO dirTable; the du endpoint serves
    * subtree totals per path) joined with the resolved tree.
    *
    * Plan shape: keys first collapse to their LEAF directory (every key in
    * the binding sits at depth 3) — that is the only key-sized shuffle,
    * and it moves one row per key with map-side partial aggregation. The
    * ancestor fan-out (≤ 3 rows per leaf dir) then runs over the
    * DIR-cardinality aggregate, so the ×depth explode never touches the
    * fact stream. The dir side is [[resolvePaths]]'s output; both sides
    * of the final join are dir-cardinality aggregates shuffled on the
    * same key. At 100 TB the fact scan is never joined row-per-key
    * against the tree — only its per-prefix aggregate is.
    */
  def nsFsoDu(spark: SparkSession, dir: String): DataFrame = {
    // The leaf collapse — the only key-sized aggregate — runs on the
    // numeric directory identity (guide §2.3; see
    // ObjectStoreView.keyDirNarrow for the bijection) and builds the
    // volume/bucket/leaf text once per surviving directory.
    val leaf = ObjectStoreView.keyDirNarrow(spark, dir)
      .groupBy(col("v3"), col("b5"), col("yr"), col("mo"))
      .agg(count(lit(1)).as("f"), sum(col("size")).as("b"))
      .select(
        ObjectStoreView.volumeName(col("v3")).as("volume"),
        ObjectStoreView.bucketName(col("b5")).as("bucket"),
        ObjectStoreView.monthDir(col("yr"), col("mo")).as("leaf"),
        col("f"), col("b"))
    val sub = leaf
      .select(col("volume"), col("bucket"), col("f"), col("b"),
        explode(array(
          substring_index(col("leaf"), "/", 1),
          substring_index(col("leaf"), "/", 2),
          col("leaf"))).as("abs_path"))
      .groupBy(col("volume"), col("bucket"), col("abs_path"))
      .agg(sum(col("f")).as("subtree_files"),
        sum(col("b")).as("subtree_bytes"))
    resolvePaths(ObjectStoreView.dirTable(spark, dir))
      .join(sub, Seq("volume", "bucket", "abs_path"))
      .select(col("volume"), col("bucket"), col("obj_id"), col("abs_path"),
        col("depth"), col("subtree_files"), col("subtree_bytes"))
      .orderBy(col("volume").asc, col("bucket").asc, col("abs_path").asc)
  }

  val nsFsoDuSql: String =
    s"""WITH RECURSIVE $resolvedCtes, sub AS (
       |  SELECT volume, bucket, p.path AS abs_path,
       |    COUNT(*) AS subtree_files,
       |    CAST(SUM(size) AS BIGINT) AS subtree_bytes
       |  FROM (${ObjectStoreView.keysSql}) keys, UNNEST([
       |    split_part(key, '/', 1),
       |    split_part(key, '/', 1) || '/' || split_part(key, '/', 2),
       |    split_part(key, '/', 1) || '/' || split_part(key, '/', 2) || '/' || split_part(key, '/', 3)
       |  ]) AS p(path)
       |  GROUP BY volume, bucket, p.path
       |)
       |SELECT r.volume, r.bucket, r.obj_id, r.abs_path, r.depth,
       |  s.subtree_files, s.subtree_bytes
       |FROM resolved r JOIN sub s
       |  ON r.volume = s.volume AND r.bucket = s.bucket
       |  AND r.abs_path = s.abs_path
       |ORDER BY r.volume ASC, r.bucket ASC, r.abs_path ASC""".stripMargin

  /** The registered FSO (parent-pointer namespace) queries. */
  val registry: Seq[Query] = Seq(
    // Neither is fanned since r18: their corpus aggregates moved onto the
    // numeric directory identity (keyDirNarrow), which removed the per-row
    // string work the fan-out parallelized; 10× paired probes then read
    // the exchange as a pure cost (ns_fso_paths 1.71 s off vs 3.74 s
    // fanned, ns_fso_du 5.62 vs 9.65).
    Query("ns_fso_paths", nsFsoPaths, nsFsoPathsSql),
    Query("ns_fso_du", nsFsoDu, nsFsoDuSql))
}
