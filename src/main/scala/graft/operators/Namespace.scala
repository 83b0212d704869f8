package graft.operators

import graft.{ObjectStoreView, Query, Tables}
import graft.Query.fanned
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store namespace analytics (SURVEY §2.A) — the reference's
  * OM / Recon / S3-gateway query surface re-expressed as declarative
  * DataFrame plans over a keys table (volume, bucket, key, size, mtime,
  * replication, state). Generic operators take the keys DataFrame; the
  * `queries` map binds them to [[graft.ObjectStoreView]].
  *
  * Scale notes (SURVEY §5): every operator here is one scan + at most one
  * shuffle on its grouping key; prefix predicates are `startsWith` filters
  * that push down to the parquet scan; histograms and usage rollups
  * partial-aggregate map-side so the shuffle carries only group keys.
  * Snapshot diff is the only two-big-sides operator and uses a shuffled
  * full-outer join (both sides hash-partitioned on the join key; AQE
  * handles skew at scale).
  */
object Namespace {

  private val ks = ObjectStoreView.keysSql

  /** listKeys(volume, bucket, prefix, startAfter, maxKeys) — reference:
    * OM KeyManager listKeys (/root/reference/hadoop-ozone/ozone-manager/
    * src/main/java/org/apache/hadoop/ozone/om/KeyManagerImpl.java).
    * Sort + limit compiles to TakeOrderedAndProject — no global sort.
    */
  def listKeys(keys: DataFrame, volume: String, bucket: String,
      prefix: String, startAfter: String, maxKeys: Int): DataFrame =
    keys.filter(col("volume") === volume && col("bucket") === bucket)
      .filter(col("key").startsWith(prefix) && col("key") > startAfter)
      .select("volume", "bucket", "key", "size", "state")
      .orderBy(col("key").asc)
      .limit(maxKeys)

  def nsListPrefix(spark: SparkSession, dir: String): DataFrame =
    listKeys(ObjectStoreView.keys(spark, dir),
      "vol0", "b0", "data/1996/", "data/1996/03", 200)

  val nsListPrefixSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, key, size, state FROM keys
       |WHERE volume = 'vol0' AND bucket = 'b0'
       |  AND key LIKE 'data/1996/%' AND key > 'data/1996/03'
       |ORDER BY key ASC
       |LIMIT 200""".stripMargin

  /** S3 ListObjectsV2 delimiter semantics: entries under `prefix` grouped
    * by the segment up to the next delimiter → CommonPrefixes with object
    * counts/bytes (reference: s3gateway BucketEndpoint + CommonPrefix).
    */
  def commonPrefixes(keys: DataFrame, prefix: String): DataFrame = {
    val rest = expr(s"substring(key, ${prefix.length + 1})")
    keys.filter(col("key").startsWith(prefix))
      .withColumn("seg", substring_index(rest, "/", 1))
      .withColumn("common_prefix",
        when(expr("position('/' in substring(key, " + (prefix.length + 1) +
          "))") > 0, concat(lit(prefix), col("seg"), lit("/")))
          .otherwise(col("seg")))
      .withColumn("is_prefix", col("common_prefix").endsWith("/"))
      .groupBy(col("common_prefix"), col("is_prefix"))
      .agg(count(lit(1)).as("n_objects"), sum(col("size")).as("total_bytes"))
      .orderBy(col("common_prefix").asc)
  }

  def nsCommonPrefixes(spark: SparkSession, dir: String): DataFrame =
    commonPrefixes(ObjectStoreView.keys(spark, dir), "data/")

  val nsCommonPrefixesSql: String =
    s"""WITH keys AS ($ks), t AS (
       |  SELECT CASE WHEN position('/' in substring(key, 6)) > 0
       |    THEN 'data/' || split_part(substring(key, 6), '/', 1) || '/'
       |    ELSE split_part(substring(key, 6), '/', 1) END AS common_prefix,
       |    size
       |  FROM keys WHERE key LIKE 'data/%'
       |)
       |SELECT common_prefix, common_prefix LIKE '%/' AS is_prefix,
       |  COUNT(*) AS n_objects, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM t GROUP BY common_prefix ORDER BY common_prefix ASC""".stripMargin

  /** One page of the delimiter listing with a continuation token — S3
    * ListObjectsV2 response semantics (IsTruncated/NextContinuationToken,
    * s3gateway BucketEndpoint). The token is the last entry of the page;
    * the next page filters `common_prefix > token` (same pushdown shape as
    * [[listKeys]]). The token window runs on the already-limited page
    * (≤ maxEntries rows), not the full listing.
    */
  def listObjectsV2Page(keys: DataFrame, prefix: String, token: String,
      maxEntries: Int): DataFrame = {
    // Token pushdown: every key of a group extends its common_prefix, so
    // common_prefix > token implies key > token — pre-filtering the scan
    // drops everything before the token WITHOUT changing any surviving
    // group's aggregates (a group past the token keeps all its keys). At
    // scale a deep page therefore aggregates only the tail of the listing,
    // not the whole bucket.
    //
    // The group filter below must stay ABOVE the aggregate: the row-level
    // token filter already pruned the scan, so this only trims boundary
    // groups (= the token's own group). Referencing an aggregate output
    // blocks Catalyst from pushing the predicate through the groupBy —
    // pushed down it re-evaluates the common_prefix derivation chain per
    // ROW instead of per group (the key column is itself an expression in
    // the derived-keys binding, and inlining re-materializes it several
    // times per row). total_bytes is sum(size), which the type system
    // keeps nullable, so the isNull disjunct survives constant folding
    // (count(1) would fold to non-null and the barrier would vanish);
    // a group always has ≥ 1 non-null size, so the disjunct never fires.
    val page = commonPrefixes(keys.filter(col("key") > token), prefix)
      .filter(col("common_prefix") > token || col("total_bytes").isNull)
      .orderBy(col("common_prefix").asc)
      .limit(maxEntries)
    page.withColumn("next_token",
      max(col("common_prefix")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .orderBy(col("common_prefix").asc)
  }

  def nsListV2Page(spark: SparkSession, dir: String): DataFrame =
    listObjectsV2Page(ObjectStoreView.keys(spark, dir), "data/", "data/1993", 4)

  val nsListV2PageSql: String =
    s"""WITH keys AS ($ks), t AS (
       |  SELECT CASE WHEN position('/' in substring(key, 6)) > 0
       |    THEN 'data/' || split_part(substring(key, 6), '/', 1) || '/'
       |    ELSE split_part(substring(key, 6), '/', 1) END AS common_prefix,
       |    size
       |  FROM keys WHERE key LIKE 'data/%'
       |), listing AS (
       |  SELECT common_prefix, common_prefix LIKE '%/' AS is_prefix,
       |    COUNT(*) AS n_objects, CAST(SUM(size) AS BIGINT) AS total_bytes
       |  FROM t GROUP BY common_prefix
       |), page AS (
       |  SELECT * FROM listing WHERE common_prefix > 'data/1993'
       |  ORDER BY common_prefix ASC LIMIT 4
       |)
       |SELECT common_prefix, is_prefix, n_objects, total_bytes,
       |  MAX(common_prefix) OVER () AS next_token
       |FROM page ORDER BY common_prefix ASC""".stripMargin

  /** Per-directory namespace summary: file count + bytes, like Recon's
    * NSSummary (numOfFiles, sizeOfFiles) keyed by directory — reference:
    * recon/.../api/types/NSSummary.java:31-83, tasks/NSSummaryTask.java.
    */
  def du(keys: DataFrame, depth: Int): DataFrame =
    keys.withColumn("dir", substring_index(col("key"), "/", depth))
      .groupBy(col("volume"), col("bucket"), col("dir"))
      .agg(count(lit(1)).as("num_files"), sum(col("size")).as("size_of_files"))
      .orderBy(col("volume").asc, col("bucket").asc, col("dir").asc)

  /** Registered binding of [[du]] at depth 3, reshaped onto the numeric
    * directory identity (guide §2.3; bijection documented on
    * ObjectStoreView.keyDirNarrow): every binding key has exactly
    * data/<year>/<month>/<file> shape, so the depth-3 dir equals
    * "data/YYYY/MM" and the corpus aggregate can hash four ints instead
    * of building and re-slicing the key text per row; the dir string is
    * assembled once per surviving directory. The generic [[du]] operator
    * (any keys frame, any depth) is unchanged and spec-covered.
    */
  def nsDu(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keyDirNarrow(spark, dir)
      .groupBy(col("v3"), col("b5"), col("yr"), col("mo"))
      .agg(count(lit(1)).as("num_files"), sum(col("size")).as("size_of_files"))
      .select(
        ObjectStoreView.volumeName(col("v3")).as("volume"),
        ObjectStoreView.bucketName(col("b5")).as("bucket"),
        ObjectStoreView.monthDir(col("yr"), col("mo")).as("dir"),
        col("num_files"), col("size_of_files"))
      .orderBy(col("volume").asc, col("bucket").asc, col("dir").asc)

  /** The dir expression slices the first 3 path segments and rejoins — for
    * keys with fewer segments it yields the whole key, exactly like Spark's
    * substring_index (the previous split_part concatenation appended
    * phantom trailing slashes on shallow keys; ADVICE r2).
    */
  val nsDuSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket,
       |  array_to_string(string_split(key, '/')[1:3], '/') AS dir,
       |  COUNT(*) AS num_files, CAST(SUM(size) AS BIGINT) AS size_of_files
       |FROM keys GROUP BY volume, bucket, dir
       |ORDER BY volume ASC, bucket ASC, dir ASC""".stripMargin

  /** File-size distribution binned into power-of-2 buckets — reference:
    * recon/.../tasks/FileSizeCountTask.java:47-51 ("counts of existing/new
    * files binned into ranges (1KB, 2KB, ..., 1PB)"). `bucket_exp` is the
    * exponent: upper bound = 2^bucket_exp; computed with integer bit-length
    * arithmetic (length(bin(size-1))) so both engines agree exactly.
    */
  def fileSizeHistogram(keys: DataFrame): DataFrame =
    keys.withColumn("bucket_exp",
      when(col("size") <= 1, 0)
        .otherwise(length(bin(col("size") - 1))))
      .groupBy(col("bucket_exp"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy(col("bucket_exp").asc)

  def nsFileSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    fileSizeHistogram(ObjectStoreView.keys(spark, dir))

  val nsFileSizeHistogramSql: String =
    s"""WITH keys AS ($ks)
       |SELECT CASE WHEN size <= 1 THEN 0 ELSE length(bin(size - 1)) END AS bucket_exp,
       |  COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM keys GROUP BY bucket_exp ORDER BY bucket_exp ASC""".stripMargin

  /** The histogram at Recon's REAL storage key: FileCountBySize rows are
    * keyed (volume, bucket, fileSize upper bound) and the utilization
    * endpoint point-filters on volume/bucket
    * (recon/.../api/UtilizationEndpoint.java:66-88,
    * FileSizeCountTask.java:47-51) — the global rollup above is the
    * all-buckets aggregation of THIS table. Same power-of-2 bit-length
    * binning; one scan, one shuffle keyed (volume, bucket, bucket_exp)
    * with map-side partials — the group space is |buckets|×|exponents|
    * (metadata-sized), so the plan is identical at 100 TB.
    */
  def nsFileSizeHistogramByBucket(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keys(spark, dir)
      .withColumn("bucket_exp",
        when(col("size") <= 1, 0)
          .otherwise(length(bin(col("size") - 1))))
      .groupBy(col("volume"), col("bucket"), col("bucket_exp"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy(col("volume").asc, col("bucket").asc, col("bucket_exp").asc)

  val nsFileSizeHistogramByBucketSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket,
       |  CASE WHEN size <= 1 THEN 0 ELSE length(bin(size - 1)) END AS bucket_exp,
       |  COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM keys GROUP BY volume, bucket, bucket_exp
       |ORDER BY volume ASC, bucket ASC, bucket_exp ASC""".stripMargin

  /** Entity counts per table — reference: recon/.../tasks/TableCountTask.java. */
  def nsTableCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.names.map { n =>
      Tables.load(spark, dir, n)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"))
    }
    counts.reduce(_ union _).orderBy(col("table_name").asc)
  }

  val nsTableCountsSql: String =
    Tables.names.map(n => s"SELECT '$n' AS table_name, COUNT(*) AS n_rows FROM $n")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name ASC")

  /** Top-N largest keys (Recon "top buckets/keys" insight). */
  def topKeys(keys: DataFrame, n: Int): DataFrame =
    keys.select("volume", "bucket", "key", "size")
      .orderBy(col("size").desc, col("volume").asc, col("bucket").asc,
        col("key").asc)
      .limit(n)

  def nsTopKeys(spark: SparkSession, dir: String): DataFrame =
    topKeys(ObjectStoreView.keys(spark, dir), 100)

  val nsTopKeysSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, key, size FROM keys
       |ORDER BY size DESC, volume ASC, bucket ASC, key ASC
       |LIMIT 100""".stripMargin

  /** Per-bucket usage accounting (quota bookkeeping in OM bucket info). */
  def bucketUsage(keys: DataFrame): DataFrame =
    keys.groupBy(col("volume"), col("bucket"))
      .agg(
        count(lit(1)).as("key_count"),
        sum(col("size")).as("used_bytes"),
        sum(when(col("state") === "OPEN", 1L).otherwise(0L)).as("open_keys"),
        max(col("size")).as("max_key_bytes"))
      .orderBy(col("volume").asc, col("bucket").asc)

  def nsBucketUsage(spark: SparkSession, dir: String): DataFrame =
    bucketUsage(ObjectStoreView.keys(spark, dir))

  val nsBucketUsageSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, COUNT(*) AS key_count,
       |  CAST(SUM(size) AS BIGINT) AS used_bytes,
       |  CAST(SUM(CASE WHEN state = 'OPEN' THEN 1 ELSE 0 END) AS BIGINT) AS open_keys,
       |  MAX(size) AS max_key_bytes
       |FROM keys GROUP BY volume, bucket
       |ORDER BY volume ASC, bucket ASC""".stripMargin

  /** Key-age distribution relative to a reference instant (trash/expiry
    * candidacy — reference: common/.../OmUtils.java trash + open-key expiry).
    */
  def keyAge(keys: DataFrame, asOf: String): DataFrame =
    keys.withColumn("age_days",
      datediff(lit(asOf).cast("date"), col("mtime").cast("date")))
      .withColumn("age_bucket",
        when(col("age_days") <= 30, "000-030")
          .when(col("age_days") <= 90, "031-090")
          .when(col("age_days") <= 365, "091-365")
          .otherwise("365+"))
      .groupBy(col("age_bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"))
      .orderBy(col("age_bucket").asc)

  def nsKeyAge(spark: SparkSession, dir: String): DataFrame =
    keyAge(ObjectStoreView.keys(spark, dir), "1999-01-01")

  val nsKeyAgeSql: String =
    s"""WITH keys AS ($ks)
       |SELECT CASE WHEN age_days <= 30 THEN '000-030'
       |  WHEN age_days <= 90 THEN '031-090'
       |  WHEN age_days <= 365 THEN '091-365'
       |  ELSE '365+' END AS age_bucket,
       |  COUNT(*) AS n_keys, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM (SELECT size,
       |  datediff('day', CAST(mtime AS DATE), DATE '1999-01-01') AS age_days
       |  FROM keys) t
       |GROUP BY age_bucket ORDER BY age_bucket ASC""".stripMargin

  /** Namespace growth trend: keys/bytes created per month with
    * month-over-month deltas (Recon utilization-trend style insight).
    * One scan + one shuffle on month; the lag window rides the same
    * partitioning.
    */
  def growthTrend(keys: DataFrame): DataFrame = {
    val monthly = keys
      .groupBy(date_trunc("month", col("mtime")).as("month"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("bytes_added"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("month").asc)
    monthly
      .withColumn("keys_delta",
        col("n_keys") - coalesce(lag(col("n_keys"), 1).over(w), col("n_keys")))
      .withColumn("bytes_delta",
        col("bytes_added") -
          coalesce(lag(col("bytes_added"), 1).over(w), col("bytes_added")))
      .orderBy(col("month").asc)
  }

  def nsGrowthTrend(spark: SparkSession, dir: String): DataFrame =
    growthTrend(ObjectStoreView.keys(spark, dir))

  /** Per-volume least-squares sums over the monthly bytes-added series
    * (x = month rank 0..n-1, y = bytes added that month): n_months, sx,
    * sy, sxy and sxx, all exact integers. The month rank is a window over
    * the aggregated monthly frame (metadata-sized), not the corpus.
    */
  private def monthlyFit(keys: DataFrame): DataFrame = {
    val monthly = keys
      .groupBy(col("volume"), date_trunc("month", col("mtime")).as("month"))
      .agg(sum(col("size")).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("volume")).orderBy(col("month").asc)
    monthly
      .withColumn("x", (row_number().over(w) - 1).cast("bigint"))
      .groupBy(col("volume"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
  }

  /** SQL twin of [[monthlyFit]]: CTEs monthly, xy and s over `keys`. */
  private val monthlyFitSql: String =
    """monthly AS (
      |  SELECT volume, date_trunc('month', mtime) AS month,
      |    CAST(SUM(size) AS BIGINT) AS y
      |  FROM keys GROUP BY volume, month
      |), xy AS (
      |  SELECT volume, y,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY volume ORDER BY month ASC)
      |      - 1 AS BIGINT) AS x
      |  FROM monthly
      |), s AS (
      |  SELECT volume, COUNT(*) AS n_months,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM xy GROUP BY volume
      |)""".stripMargin

  /** num / d (integers, d > 0) rounded half away from zero to 6 decimals in
    * exact decimal arithmetic, then emitted as the correctly rounded
    * DOUBLE. Rounding the double quotient instead disagrees across engines
    * near 1e11 (DuckDB's double `round` is not Spark's HALF_UP).
    */
  private def exactRatio(num: Column, d: Column): Column =
    (num.cast("decimal(38,0)") / d.cast("decimal(38,0)")).cast("double")

  /** SQL twin of [[exactRatio]]: the same half-away-from-zero rounding in
    * HUGEINT, converted through the exact decimal text (as `sumMoneySql`).
    */
  private def exactRatioSql(num: String, d: String): String =
    s"""CAST(CAST(CAST(sign($num) * ((abs(CAST($num AS HUGEINT)) * 2000000 + ($d))
       |  // (2 * ($d))) AS DECIMAL(38,0)) * 0.000001 AS VARCHAR) AS DOUBLE)""".stripMargin

  /** Capacity forecast per volume: ordinary least squares over the monthly
    * bytes-added series ([[monthlyFit]]), projecting the next month — the
    * capacity-planning read on the Recon utilization trend. All regression
    * sums are exact integers over the ≤|months| aggregated frame
    * (slope = (nΣxy−ΣxΣy)/D, D = nΣx²−(Σx)² ≥ 0); the slope and forecast
    * quotients are rounded exactly ([[exactRatio]]) and only then become
    * doubles (the cross-engine emit discipline of SURVEY §4). One corpus
    * scan + one monthly shuffle; the regression itself is a per-volume
    * aggregate over month rows.
    */
  def growthForecast(keys: DataFrame): DataFrame =
    monthlyFit(keys)
      .withColumn("d", col("n_months") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope_bytes_per_month",
        when(col("d") =!= 0, exactRatio(
          col("n_months") * col("sxy") - col("sx") * col("sy"), col("d"))))
      .withColumn("forecast_next_month_bytes",
        when(col("d") =!= 0, exactRatio(
          (col("sy") * col("sxx") - col("sx") * col("sxy")) +
            (col("n_months") * col("sxy") - col("sx") * col("sy")) *
              col("n_months"), col("d"))))
      .select("volume", "n_months", "slope_bytes_per_month",
        "forecast_next_month_bytes")
      .orderBy(col("volume").asc)

  def nsGrowthForecast(spark: SparkSession, dir: String): DataFrame =
    growthForecast(ObjectStoreView.keys(spark, dir))

  // --- ns_quota_exhaustion: capacity-planning ETA per volume --------------
  /** Quota-exhaustion forecast — the question the capacity planner actually
    * asks of the Recon utilization trend ([[growthForecast]]'s regression
    * re-read against the volume quota from the OmVolumeArgs accounting
    * surface — common/.../om/helpers/OmVolumeArgs.java:47 `quotaInBytes` —
    * via the [[graft.operators.Entities.nsListVolumes]] binding):
    * per volume — used vs quota headroom, the OLS bytes/month slope, the
    * months-to-exhaustion ETA, and an OVER_QUOTA / AT_RISK (≤ 12 months) /
    * OK verdict. Every comparison driving the verdict is exact-integer
    * (headroom·D ≤ 12·slopeNum, never the rounded double), so the status
    * can't flip on a rounding boundary between engines; slope and ETA go
    * to rounded doubles only at emit (SURVEY §4). Non-growing volumes
    * (slopeNum ≤ 0) report a NULL ETA; single-month volumes (OLS
    * denominator D = 0) report a NULL slope in BOTH engines rather than
    * an engine-dependent 0/0. NOTE the quota derivation is a synthetic
    * test-data binding: quota_bytes is computed from the digits of the
    * `vol<N>` volume name (the testdata naming scheme standing in for the
    * per-volume `quotaInBytes` field) — a volume named otherwise yields
    * NULL quota/headroom/status. A production caller replaces that one
    * column with a real quota frame join; everything else is generic.
    * Shape: one corpus scan + one (volume, month) shuffle; regression and
    * verdict run over the metadata-sized monthly frame.
    */
  def quotaExhaustion(keys: DataFrame): DataFrame = {
    val digit = substring(col("volume"), 4, 8).cast("long")
    monthlyFit(keys)
      .withColumn("quota_bytes", (digit + 1) * 50000000000L)
      .withColumn("headroom_bytes", col("quota_bytes") - col("sy"))
      .withColumn("d", col("n_months") * col("sxx") - col("sx") * col("sx"))
      .withColumn("snum", col("n_months") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_bytes_per_month",
        when(col("d") =!= 0,
          round(col("snum").cast("double") / col("d").cast("double"), 6)))
      .withColumn("months_to_exhaustion",
        when(col("snum") > 0, round(
          (greatest(col("headroom_bytes"), lit(0L)) * col("d")).cast("double")
            / col("snum").cast("double"), 6)))
      .withColumn("status",
        when(col("headroom_bytes") < 0, "OVER_QUOTA")
          .when(col("snum") <= 0, "OK")
          .when(greatest(col("headroom_bytes"), lit(0L)) * col("d") <=
            col("snum") * 12L, "AT_RISK")
          .otherwise("OK"))
      .select(col("volume"), col("n_months"), col("sy").as("used_bytes"),
        col("quota_bytes"), col("headroom_bytes"),
        col("slope_bytes_per_month"), col("months_to_exhaustion"),
        col("status"))
      .orderBy(col("volume").asc)
  }

  def nsQuotaExhaustion(spark: SparkSession, dir: String): DataFrame =
    quotaExhaustion(ObjectStoreView.keys(spark, dir))

  val nsQuotaExhaustionSql: String =
    s"""WITH keys AS ($ks), $monthlyFitSql, e AS (
       |  SELECT volume, n_months, sy,
       |    (CAST(substring(volume, 4, 8) AS BIGINT) + 1) * 50000000000
       |      AS quota_bytes,
       |    n_months * sxx - sx * sx AS d,
       |    n_months * sxy - sx * sy AS snum
       |  FROM s
       |)
       |SELECT volume, n_months, sy AS used_bytes, quota_bytes,
       |  quota_bytes - sy AS headroom_bytes,
       |  CASE WHEN d <> 0 THEN
       |    round(CAST(snum AS DOUBLE) / CAST(d AS DOUBLE), 6)
       |  END AS slope_bytes_per_month,
       |  CASE WHEN snum > 0 THEN
       |    round(CAST(greatest(quota_bytes - sy, 0) * d AS DOUBLE) /
       |      CAST(snum AS DOUBLE), 6)
       |  END AS months_to_exhaustion,
       |  CASE WHEN quota_bytes - sy < 0 THEN 'OVER_QUOTA'
       |       WHEN snum <= 0 THEN 'OK'
       |       WHEN greatest(quota_bytes - sy, 0) * d <= snum * 12
       |         THEN 'AT_RISK'
       |       ELSE 'OK' END AS status
       |FROM e ORDER BY volume ASC""".stripMargin

  val nsGrowthForecastSql: String = {
    val d = "n_months * sxx - sx * sx"
    val snum = "n_months * sxy - sx * sy"
    s"""WITH keys AS ($ks), $monthlyFitSql
       |SELECT volume, n_months,
       |  CASE WHEN $d <> 0 THEN ${exactRatioSql(snum, d)}
       |  END AS slope_bytes_per_month,
       |  CASE WHEN $d <> 0 THEN
       |    ${exactRatioSql(s"(sy * sxx - sx * sxy) + ($snum) * n_months", d)}
       |  END AS forecast_next_month_bytes
       |FROM s ORDER BY volume ASC""".stripMargin
  }

  val nsGrowthTrendSql: String =
    s"""WITH keys AS ($ks), monthly AS (
       |  SELECT date_trunc('month', mtime) AS month,
       |    COUNT(*) AS n_keys, CAST(SUM(size) AS BIGINT) AS bytes_added
       |  FROM keys GROUP BY month
       |)
       |SELECT month, n_keys, bytes_added,
       |  n_keys - coalesce(lag(n_keys) OVER w, n_keys) AS keys_delta,
       |  bytes_added - coalesce(lag(bytes_added) OVER w, bytes_added) AS bytes_delta
       |FROM monthly
       |WINDOW w AS (ORDER BY month ASC)
       |ORDER BY month ASC""".stripMargin

  /** Snapshot diff: CREATE / DELETE / MODIFY between two namespace states —
    * reference: OM snapshot machinery (ozone-manager/.../om/snapshot/).
    * Shuffled full-outer join on the key identity; at 100 TB both sides are
    * hash-partitioned on the same key so the join is co-located post-shuffle.
    */
  def snapshotDiff(snapA: DataFrame, snapB: DataFrame): DataFrame =
    diffDecorate(diffSides(snapA, snapB) match {
      case (a, b) => a.join(b, Seq("volume", "bucket", "key"), "full_outer")
    })

  /** [[snapshotDiff]] with the full-outer join salted
    * ([[SkewJoin.saltedFullOuterJoin]]) — the escape hatch when the A side
    * carries a hot key prefix that AQE's post-shuffle splitting can't fix
    * (one join key exceeding an executor: the hot-version-chain /
    * hot-prefix case). Result-identical to [[snapshotDiff]]; the B side
    * pays `salts`× replication, so this is for skewed-A-vs-delta-B
    * bindings, not for two full namespace states. SkewJoinSpec pins the
    * salted exchange and result equality.
    */
  def snapshotDiffSalted(snapA: DataFrame, snapB: DataFrame,
      salts: Int): DataFrame =
    diffDecorate(diffSides(snapA, snapB) match {
      case (a, b) =>
        SkewJoin.saltedFullOuterJoin(a, b, Seq("volume", "bucket", "key"),
          salts)
    })

  private def diffSides(snapA: DataFrame, snapB: DataFrame) = (
    snapA.select(col("volume"), col("bucket"), col("key"),
      col("size").as("old_size")),
    snapB.select(col("volume"), col("bucket"), col("key"),
      col("size").as("new_size")))

  private def diffDecorate(joined: DataFrame): DataFrame =
    joined
      .withColumn("diff_type",
        when(col("old_size").isNull, "CREATE")
          .when(col("new_size").isNull, "DELETE")
          .when(col("old_size") =!= col("new_size"), "MODIFY")
          .otherwise("SAME"))
      .filter(col("diff_type") =!= "SAME")
      .select("volume", "bucket", "key", "diff_type", "old_size", "new_size")

  def nsSnapshotDiff(spark: SparkSession, dir: String): DataFrame =
    snapshotDiff(ObjectStoreView.snapshotA(spark, dir),
      ObjectStoreView.snapshotB(spark, dir))

  val nsSnapshotDiffSql: String =
    s"""WITH snap_a AS (${ObjectStoreView.snapshotASql}),
       |snap_b AS (${ObjectStoreView.snapshotBSql}),
       |joined AS (
       |  SELECT COALESCE(a.volume, b.volume) AS volume,
       |    COALESCE(a.bucket, b.bucket) AS bucket,
       |    COALESCE(a.key, b.key) AS key,
       |    a.size AS old_size, b.size AS new_size
       |  FROM snap_a a FULL OUTER JOIN snap_b b
       |    ON a.volume = b.volume AND a.bucket = b.bucket AND a.key = b.key
       |)
       |SELECT volume, bucket, key,
       |  CASE WHEN old_size IS NULL THEN 'CREATE'
       |       WHEN new_size IS NULL THEN 'DELETE'
       |       WHEN old_size <> new_size THEN 'MODIFY'
       |       ELSE 'SAME' END AS diff_type,
       |  old_size, new_size
       |FROM joined
       |WHERE (old_size IS NULL OR new_size IS NULL OR old_size <> new_size)""".stripMargin

  /** Snapshot-diff summary: per-bucket counts and byte deltas by diff
    * type — the report form of the diff (reference: OM SnapshotDiffReport
    * rolls the full entry list up the same way). Same join as
    * [[snapshotDiff]], but the output is the bounded rollup rather than
    * the entry stream.
    */
  def snapshotDiffSummary(snapA: DataFrame, snapB: DataFrame): DataFrame =
    snapshotDiff(snapA, snapB)
      .groupBy(col("volume"), col("bucket"), col("diff_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(coalesce(col("new_size"), lit(0L)) -
          coalesce(col("old_size"), lit(0L))).as("bytes_delta"))
      .orderBy(col("volume").asc, col("bucket").asc, col("diff_type").asc)

  def nsSnapshotDiffSummary(spark: SparkSession, dir: String): DataFrame =
    snapshotDiffSummary(ObjectStoreView.snapshotA(spark, dir),
      ObjectStoreView.snapshotB(spark, dir))

  val nsSnapshotDiffSummarySql: String =
    s"""WITH diff AS ($nsSnapshotDiffSql)
       |SELECT volume, bucket, diff_type, COUNT(*) AS n_keys,
       |  CAST(SUM(coalesce(new_size, 0) - coalesce(old_size, 0)) AS BIGINT)
       |    AS bytes_delta
       |FROM diff GROUP BY volume, bucket, diff_type
       |ORDER BY volume ASC, bucket ASC, diff_type ASC""".stripMargin

  // --- ns_du_incremental: delta-maintained usage report --------------------

  /** Incrementally-maintained per-(volume, bucket) usage report: the
    * materialized report at snapshot A plus the A→B update-event stream
    * (PUT / DELETE / UPDATE), merged into the report at B WITHOUT
    * rescanning B. This is the reference's Recon maintenance model —
    * aggregate tables are kept current by consuming OM DB update batches
    * rather than re-iterating the key table (recon/.../tasks/
    * ReconOmTask.java:40 `process(OMUpdateEventBatch)`;
    * FileSizeCountTask.java:130-144 applies PUT, DELETE and
    * UPDATE-as-delete-old+put-new deltas to the maintained counts;
    * OMDBUpdateEvent.java:158 defines the three actions). At 100 TB this
    * is the difference between a nightly full-corpus rescan and reading
    * yesterday's |buckets|-sized report plus ONE pass over the day's
    * delta: the only corpus-sized input is the event stream, aggregated
    * with map-side partials down to the bucket frame, then a
    * metadata-sized full-outer merge with the base report. Buckets whose
    * maintained key count reaches 0 leave the report (the DELETE-to-empty
    * case).
    *
    * The DuckDB oracle deliberately computes the B report from SCRATCH
    * (full recompute over the B state) — the driver's hash gate therefore
    * proves the incremental maintenance is exactly equivalent to the
    * rescan it replaces, not merely self-consistent.
    */
  def duIncremental(baseReport: DataFrame, events: DataFrame): DataFrame = {
    val deltas = events.groupBy(col("volume"), col("bucket"))
      .agg(
        sum(when(col("action") === "PUT", 1L)
          .when(col("action") === "DELETE", -1L)
          .otherwise(0L)).as("d_keys"),
        sum(col("d_bytes")).as("d_bytes"),
        sum(when(col("action") === "PUT", 1L).otherwise(0L)).as("n_puts"),
        sum(when(col("action") === "DELETE", 1L).otherwise(0L))
          .as("n_deletes"),
        sum(when(col("action") === "UPDATE", 1L).otherwise(0L))
          .as("n_updates"))
    baseReport.join(deltas, Seq("volume", "bucket"), "full_outer")
      .select(col("volume"), col("bucket"),
        (coalesce(col("n_keys"), lit(0L)) +
          coalesce(col("d_keys"), lit(0L))).as("n_keys"),
        (coalesce(col("total_bytes"), lit(0L)) +
          coalesce(col("d_bytes"), lit(0L))).as("total_bytes"),
        coalesce(col("n_puts"), lit(0L)).as("n_puts"),
        coalesce(col("n_deletes"), lit(0L)).as("n_deletes"),
        coalesce(col("n_updates"), lit(0L)).as("n_updates"))
      .filter(col("n_keys") > 0)
      .orderBy(col("volume").asc, col("bucket").asc)
  }

  /** Registered binding: base = aggregate of snapshot A (standing in for
    * the materialized report table — at scale this is a metadata read,
    * not a scan), events = the A→B delta derived from the flagged key
    * basis in one scan (the test binding's stand-in for the OM update
    * log): R-flagged pre-A keys are DELETEd, A-flagged pre-A keys grow
    * 1 KiB (UPDATE), in-window non-R keys are PUT at their B size —
    * exactly the [[ObjectStoreView.snapshotA]]→[[ObjectStoreView.snapshotB]]
    * transition.
    */
  def nsDuIncremental(spark: SparkSession, dir: String): DataFrame = {
    val kf = ObjectStoreView.keysWithFlag(spark, dir)
    val a = lit("1997-01-01").cast("timestamp")
    val b = lit("1998-01-01").cast("timestamp")
    val base = kf.filter(col("mtime") < a)
      .groupBy(col("volume"), col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"))
    val events = kf
      .withColumn("action",
        when(col("rflag") === "R" && col("mtime") < a, "DELETE")
          .when(col("rflag") === "A" && col("mtime") < a, "UPDATE")
          .when(col("mtime") >= a && col("mtime") < b &&
            col("rflag") =!= "R", "PUT"))
      .filter(col("action").isNotNull)
      .withColumn("d_bytes",
        when(col("action") === "DELETE", -col("size"))
          .when(col("action") === "UPDATE", lit(1024L))
          .otherwise(col("size") +
            when(col("rflag") === "A", lit(1024L)).otherwise(lit(0L))))
      .select("volume", "bucket", "action", "d_bytes")
    duIncremental(base, events)
  }

  val nsDuIncrementalSql: String =
    s"""WITH kf AS (${ObjectStoreView.keysWithFlagSql}), b AS (
       |  SELECT volume, bucket, COUNT(*) AS n_keys,
       |    CAST(SUM(size + CASE WHEN rflag = 'A' THEN 1024 ELSE 0 END)
       |      AS BIGINT) AS total_bytes
       |  FROM kf WHERE mtime < TIMESTAMP '1998-01-01' AND rflag <> 'R'
       |  GROUP BY volume, bucket
       |), ev AS (
       |  SELECT volume, bucket,
       |    SUM(CASE WHEN mtime >= TIMESTAMP '1997-01-01'
       |      AND mtime < TIMESTAMP '1998-01-01' AND rflag <> 'R'
       |      THEN 1 ELSE 0 END) AS n_puts,
       |    SUM(CASE WHEN rflag = 'R' AND mtime < TIMESTAMP '1997-01-01'
       |      THEN 1 ELSE 0 END) AS n_deletes,
       |    SUM(CASE WHEN rflag = 'A' AND mtime < TIMESTAMP '1997-01-01'
       |      THEN 1 ELSE 0 END) AS n_updates
       |  FROM kf GROUP BY volume, bucket
       |)
       |SELECT b.volume, b.bucket, b.n_keys, b.total_bytes,
       |  CAST(COALESCE(e.n_puts, 0) AS BIGINT) AS n_puts,
       |  CAST(COALESCE(e.n_deletes, 0) AS BIGINT) AS n_deletes,
       |  CAST(COALESCE(e.n_updates, 0) AS BIGINT) AS n_updates
       |FROM b LEFT JOIN ev e
       |  ON b.volume = e.volume AND b.bucket = e.bucket
       |ORDER BY b.volume ASC, b.bucket ASC""".stripMargin

  // --- ns_top_keys_per_bucket: per-group top-k via the custom operator ---
  /** Top 3 largest keys in EVERY bucket — per-group form of [[nsTopKeys]]
    * (Recon's per-bucket largest-objects panel), executed by the custom
    * [[graft.plans.TopKPerGroupNode]] physical operator: bounded per-group
    * heaps in each scan partition, then an exchange of the ≤ 3·|buckets|
    * survivors only — never the window plan's corpus-wide shuffle + full
    * per-group sort. Deterministic under the (size desc, key asc) total
    * order. The final orderBy touches k·|buckets| rows.
    */
  def nsTopKeysPerBucket(spark: SparkSession, dir: String): DataFrame =
    GraftTopK.topKPerGroup(
      ObjectStoreView.keys(spark, dir)
        .select(col("volume"), col("bucket"), col("key"), col("size")),
      Seq("volume", "bucket"),
      Seq("size" -> true, "key" -> false), 3)
      .orderBy(col("volume").asc, col("bucket").asc, col("size").desc,
        col("key").asc)

  val nsTopKeysPerBucketSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, key, size FROM keys
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY volume, bucket
       |  ORDER BY size DESC, key ASC) <= 3
       |ORDER BY volume ASC, bucket ASC, size DESC, key ASC""".stripMargin

  // --- ns_snapshot_diff_chain: composed diff across the snapshot chain ---
  /** Compose two adjacent snapshot diffs (A→B) ∘ (B→C) into the A→C diff
    * WITHOUT rescanning the endpoint snapshots. This is the algebra
    * Ozone's snapshot chain relies on: snapDiff between non-adjacent
    * snapshots walks the chain of per-link deltas rather than comparing
    * full key sets (OM SnapshotDiffManager composes SST-level diffs along
    * the snapshot chain). Composition rules over a full-outer join of the
    * two entry lists on key:
    *
    *  - the A-side size is d1's old_size when the key appears in d1,
    *    else d2's old_size (untouched A→B means A size = B size);
    *  - the C-side size is d2's new_size when the key appears in d2,
    *    else d1's new_size (untouched B→C);
    *  - null→null (created then deleted inside the interval) and
    *    equal sizes (deleted then recreated identically) cancel out.
    *
    * The REGISTERED oracle is the DIRECT A→C diff — so the correctness
    * gate checks the composition law itself, not a re-implementation.
    * Scale: each link's diff is delta-sized, not namespace-sized; the
    * compose join shuffles only diff entries. A chain of k snapshots
    * folds left through this same 2-ary compose.
    */
  def snapshotDiffCompose(d1: DataFrame, d2: DataFrame): DataFrame = {
    val a = d1.select(col("volume"), col("bucket"), col("key"),
      col("old_size").as("a_old"), col("new_size").as("a_new"),
      lit(1L).as("in_a"))
    val b = d2.select(col("volume"), col("bucket"), col("key"),
      col("old_size").as("b_old"), col("new_size").as("b_new"),
      lit(1L).as("in_b"))
    a.join(b, Seq("volume", "bucket", "key"), "full_outer")
      .withColumn("old_size",
        when(col("in_a").isNotNull, col("a_old")).otherwise(col("b_old")))
      .withColumn("new_size",
        when(col("in_b").isNotNull, col("b_new")).otherwise(col("a_new")))
      .withColumn("diff_type",
        when(col("old_size").isNull && col("new_size").isNull, "NONE")
          .when(col("old_size").isNull, "CREATE")
          .when(col("new_size").isNull, "DELETE")
          .when(col("old_size") =!= col("new_size"), "MODIFY")
          .otherwise("SAME"))
      .filter(col("diff_type") =!= "NONE" && col("diff_type") =!= "SAME")
      .select("volume", "bucket", "key", "diff_type", "old_size", "new_size")
  }

  /** Per-key object state of a snapshot: the composition law requires keys
    * UNIQUE within a snapshot (true of the real OM key table, which is
    * primary-keyed on /volume/bucket/key — the synthetic lineitem binding
    * has a handful of duplicate (orderkey, linenumber) pairs), so collapse
    * duplicate rows into one object whose size is the part sum.
    */
  private def keyState(snap: DataFrame): DataFrame =
    snap.groupBy(col("volume"), col("bucket"), col("key"))
      .agg(sum(col("size")).as("size"))

  private def keyStateSql(body: String): String =
    s"""SELECT volume, bucket, key, CAST(SUM(size) AS BIGINT) AS size
       |FROM ($body) GROUP BY volume, bucket, key""".stripMargin

  /** The tri-state change set [[nsSnapshotDiffChain]] materializes: per-key
    * (a_size, b_size, c_size) with NULL = absent, RESTRICTED to keys whose
    * three states are not all identical. Package-private so
    * ChainCheckpointSpec can pin that what gets localCheckpoint'ed is
    * delta-sized (= this change set), not the full namespace — a refactor
    * that drops the SAME-filter before the checkpoint fails that spec.
    */
  private[graft] def snapshotChainChangeSet(spark: SparkSession,
      dir: String): DataFrame = {
    // Narrow-quintuple aggregation (guide §2.3, VERDICT r17 #7): the
    // snapshot thresholds are year-aligned, so membership tests reduce to
    // integer compares on the pre-split year (mtime < 1997-01-01 ⟺
    // yr ≤ 1996 for date-typed mtimes), the group key is the ~24-byte
    // numeric quintuple instead of the ~50-byte built strings, and the
    // (volume, bucket, key) text is built ONCE PER SURVIVING GROUP after
    // the collapse instead of once per corpus row before the exchange.
    // ObjectStoreView.keysWithFlagNarrow documents the bijection that
    // makes the grouping identical.
    val inA = col("yr") < 1997
    val inB = col("yr") < 1998 && col("rflag") =!= "R"
    val sizeB = when(col("rflag") === "A", col("size") + 1024)
      .otherwise(col("size"))
    val agg = ObjectStoreView.keysWithFlagNarrow(spark, dir)
      .groupBy(col("o"), col("ln"), col("b5"), col("yr"), col("mo"))
      .agg(
        sum(when(inA, col("size"))).as("a_size"),
        sum(when(inB, sizeB)).as("b_size"),
        sum(col("size")).as("c_size"))
      // Keys identical across all three states are SAME in both links —
      // drop them BEFORE materializing, so the checkpoint holds the
      // delta-sized change set, not the full namespace (at 100 TB the
      // namespace dwarfs any realistic inter-snapshot delta).
      .filter(!(col("a_size") <=> col("b_size") &&
        col("b_size") <=> col("c_size")))
    ObjectStoreView.buildKeyColumns(agg)
      .select(col("volume"), col("bucket"), col("key"),
        col("a_size"), col("b_size"), col("c_size"))
  }

  def nsSnapshotDiffChain(spark: SparkSession, dir: String): DataFrame = {
    // All three chain states (A, B, live) are filters/maps of the SAME
    // key-version row, so the per-key state of every snapshot collapses
    // into ONE scan + ONE aggregate producing (a_size, b_size, c_size)
    // with NULL = absent — the ns_snapshot_space pattern. The tri-state
    // frame is localCheckpoint'ed once so both link diffs read the
    // materialized aggregate instead of re-planning the scan (the r6
    // formulation planned the shared B state twice). The links themselves
    // are then row-aligned filters — the only join left is the compose,
    // which runs over delta-sized inputs and is the algebra under test.
    val tri = snapshotChainChangeSet(spark, dir).localCheckpoint()
    def link(oldSize: Column, newSize: Column): DataFrame =
      tri.filter(oldSize.isNotNull || newSize.isNotNull)
        .withColumn("diff_type",
          when(oldSize.isNull, "CREATE")
            .when(newSize.isNull, "DELETE")
            .when(oldSize =!= newSize, "MODIFY")
            .otherwise("SAME"))
        .filter(col("diff_type") =!= "SAME")
        .select(col("volume"), col("bucket"), col("key"), col("diff_type"),
          oldSize.as("old_size"), newSize.as("new_size"))
    snapshotDiffCompose(
      link(col("a_size"), col("b_size")),
      link(col("b_size"), col("c_size")))
  }

  /** Oracle = the direct A→current diff (not a composition). */
  val nsSnapshotDiffChainSql: String =
    s"""WITH snap_a AS (${keyStateSql(ObjectStoreView.snapshotASql)}),
       |cur AS (${keyStateSql(ObjectStoreView.keysSql)}),
       |joined AS (
       |  SELECT COALESCE(a.volume, c.volume) AS volume,
       |    COALESCE(a.bucket, c.bucket) AS bucket,
       |    COALESCE(a.key, c.key) AS key,
       |    a.size AS old_size, c.size AS new_size
       |  FROM snap_a a FULL OUTER JOIN cur c
       |    ON a.volume = c.volume AND a.bucket = c.bucket AND a.key = c.key
       |)
       |SELECT volume, bucket, key,
       |  CASE WHEN old_size IS NULL THEN 'CREATE'
       |       WHEN new_size IS NULL THEN 'DELETE'
       |       WHEN old_size <> new_size THEN 'MODIFY'
       |       ELSE 'SAME' END AS diff_type,
       |  old_size, new_size
       |FROM joined
       |WHERE (old_size IS NULL OR new_size IS NULL OR old_size <> new_size)""".stripMargin

  /** Snapshot space accounting: per (volume, bucket, snapshot), the bytes a
    * snapshot REFERENCES vs the bytes EXCLUSIVE to it — the number the
    * store needs before deleting a snapshot ("how much comes back?").
    * A key version is exclusive to a snapshot when the next state in the
    * chain (A → B → live) no longer carries it identically: deleted keys
    * and the old versions of modified keys (the DELETE ∪ MODIFY classes of
    * [[snapshotDiff]]). Reference: OM snapshot machinery
    * (ozone-manager/.../om/snapshot/OzoneManagerSnapshotProvider.java);
    * the diff-driven reclamation semantics follow SnapshotDiffReport's
    * entry classes.
    *
    * Plan shape: every chain state (A, B, live) is a row-aligned
    * filter/map of the same key-version row, so the whole accounting is
    * ONE scan with membership flags collapsing into one per-bucket
    * aggregate (map-side partial) — no per-state views are materialized
    * and nothing key-sized is ever joined or shuffled. (The earlier
    * formulation joined materialized states on the key identity: 4 scans
    * + 2 wide joins, and duplicate key strings in the synthetic binding
    * over-counted as join pairs. Per-version flags are both the cheaper
    * and the more faithful accounting.)
    */
  def snapshotSpace(spark: SparkSession, dir: String): DataFrame = {
    val base = ObjectStoreView.keysWithFlag(spark, dir)
      .withColumn("in_a",
        col("mtime") < lit("1997-01-01").cast("timestamp"))
      .withColumn("in_b",
        col("mtime") < lit("1998-01-01").cast("timestamp") &&
          col("rflag") =!= "R")
      .withColumn("size_b",
        when(col("rflag") === "A", col("size") + 1024).otherwise(col("size")))
    // A-version exclusive: B no longer carries it identically (dropped or
    // resized). B-version exclusive: live resized it (live carries every
    // version, so absence can't occur on the B→live link).
    val exclA = col("in_a") && (!col("in_b") || col("size_b") =!= col("size"))
    val exclB = col("in_b") && (col("size_b") =!= col("size"))
    val g = base.groupBy(col("volume"), col("bucket")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("a_ref_keys"),
      sum(when(col("in_a"), col("size")).otherwise(0L)).as("a_ref_bytes"),
      sum(when(exclA, 1L).otherwise(0L)).as("a_excl_keys"),
      sum(when(exclA, col("size")).otherwise(0L)).as("a_excl_bytes"),
      sum(when(col("in_b"), 1L).otherwise(0L)).as("b_ref_keys"),
      sum(when(col("in_b"), col("size_b")).otherwise(0L)).as("b_ref_bytes"),
      sum(when(exclB, 1L).otherwise(0L)).as("b_excl_keys"),
      sum(when(exclB, col("size_b")).otherwise(0L)).as("b_excl_bytes"))
    g.select(col("volume"), col("bucket"), explode(array(
        struct(lit("snap_a").as("snapshot"),
          col("a_ref_keys").as("ref_keys"), col("a_ref_bytes").as("ref_bytes"),
          col("a_excl_keys").as("excl_keys"),
          col("a_excl_bytes").as("excl_bytes")),
        struct(lit("snap_b").as("snapshot"),
          col("b_ref_keys").as("ref_keys"), col("b_ref_bytes").as("ref_bytes"),
          col("b_excl_keys").as("excl_keys"),
          col("b_excl_bytes").as("excl_bytes")))).as("s"))
      .select(col("s.snapshot").as("snapshot"), col("volume"), col("bucket"),
        col("s.ref_keys").as("ref_keys"), col("s.ref_bytes").as("ref_bytes"),
        col("s.excl_keys").as("excl_keys"),
        col("s.excl_bytes").as("excl_bytes"))
      .filter(col("ref_keys") > 0)
      .orderBy(col("snapshot").asc, col("volume").asc, col("bucket").asc)
  }

  val snapshotSpaceSql: String =
    s"""WITH base AS (${ObjectStoreView.keysWithFlagSql}),
       |flags AS (
       |  SELECT volume, bucket, size,
       |    (mtime < TIMESTAMP '1997-01-01') AS in_a,
       |    (mtime < TIMESTAMP '1998-01-01' AND rflag <> 'R') AS in_b,
       |    CASE WHEN rflag = 'A' THEN size + 1024 ELSE size END AS size_b
       |  FROM base
       |), g AS (
       |  SELECT volume, bucket,
       |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
       |      AS a_ref_keys,
       |    CAST(SUM(CASE WHEN in_a THEN size ELSE 0 END) AS BIGINT)
       |      AS a_ref_bytes,
       |    CAST(SUM(CASE WHEN in_a AND (NOT in_b OR size_b <> size)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS a_excl_keys,
       |    CAST(SUM(CASE WHEN in_a AND (NOT in_b OR size_b <> size)
       |      THEN size ELSE 0 END) AS BIGINT) AS a_excl_bytes,
       |    CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT)
       |      AS b_ref_keys,
       |    CAST(SUM(CASE WHEN in_b THEN size_b ELSE 0 END) AS BIGINT)
       |      AS b_ref_bytes,
       |    CAST(SUM(CASE WHEN in_b AND size_b <> size THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b_excl_keys,
       |    CAST(SUM(CASE WHEN in_b AND size_b <> size THEN size_b ELSE 0 END)
       |      AS BIGINT) AS b_excl_bytes
       |  FROM flags GROUP BY volume, bucket
       |)
       |SELECT 'snap_a' AS snapshot, volume, bucket,
       |  a_ref_keys AS ref_keys, a_ref_bytes AS ref_bytes,
       |  a_excl_keys AS excl_keys, a_excl_bytes AS excl_bytes
       |FROM g WHERE a_ref_keys > 0
       |UNION ALL
       |SELECT 'snap_b', volume, bucket,
       |  b_ref_keys, b_ref_bytes, b_excl_keys, b_excl_bytes
       |FROM g WHERE b_ref_keys > 0
       |ORDER BY snapshot ASC, volume ASC, bucket ASC""".stripMargin

  /** Open keys older than a cutoff — reference: OM open-key cleanup
    * (ozone-manager/.../OpenKeyCleanupService, getExpiredOpenKeys in
    * KeyManager.java).
    */
  def expiredOpenKeys(keys: DataFrame, cutoff: String): DataFrame =
    keys.filter(col("state") === "OPEN" &&
        col("mtime") < lit(cutoff).cast("timestamp"))
      .select("volume", "bucket", "key", "size", "mtime")
      .orderBy(col("volume").asc, col("bucket").asc, col("key").asc)

  def nsExpiredOpenKeys(spark: SparkSession, dir: String): DataFrame =
    expiredOpenKeys(ObjectStoreView.keys(spark, dir), "1996-01-01")

  val nsExpiredOpenKeysSql: String =
    s"""WITH keys AS ($ks)
       |SELECT volume, bucket, key, size, mtime FROM keys
       |WHERE state = 'OPEN' AND mtime < TIMESTAMP '1996-01-01'
       |ORDER BY volume ASC, bucket ASC, key ASC""".stripMargin

  /** Incomplete multipart uploads: per-upload part stats — reference:
    * ozone-manager/.../request/s3/multipart/ (initiate/commit/abort).
    */
  def mpuIncomplete(parts: DataFrame): DataFrame =
    parts.groupBy(col("upload_id"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("part_bytes")).as("total_bytes"),
        max(col("part_number")).as("max_part_number"))
      .orderBy(col("upload_id").asc)

  def nsMpuIncomplete(spark: SparkSession, dir: String): DataFrame =
    mpuIncomplete(ObjectStoreView.mpuParts(spark, dir))

  val nsMpuIncompleteSql: String =
    s"""WITH parts AS (${ObjectStoreView.mpuPartsSql})
       |SELECT upload_id, COUNT(*) AS n_parts,
       |  CAST(SUM(part_bytes) AS BIGINT) AS total_bytes,
       |  MAX(part_number) AS max_part_number
       |FROM parts GROUP BY upload_id ORDER BY upload_id ASC""".stripMargin

  /** Replication health: keys under/at/over the target replica count —
    * reference: SCM ReplicationManager semantics (hadoop-hdds/server-scm).
    */
  def replicationReport(keys: DataFrame, target: Int): DataFrame =
    keys.withColumn("health",
      when(col("replication") < target, "UNDER_REPLICATED")
        .when(col("replication") === target, "HEALTHY")
        .otherwise("OVER_REPLICATED"))
      .groupBy(col("health"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"))
      .orderBy(col("health").asc)

  def nsReplicationReport(spark: SparkSession, dir: String): DataFrame =
    replicationReport(ObjectStoreView.keys(spark, dir), 3)

  val nsReplicationReportSql: String =
    s"""WITH keys AS ($ks)
       |SELECT CASE WHEN replication < 3 THEN 'UNDER_REPLICATED'
       |  WHEN replication = 3 THEN 'HEALTHY'
       |  ELSE 'OVER_REPLICATED' END AS health,
       |  COUNT(*) AS n_keys, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM keys GROUP BY health ORDER BY health ASC""".stripMargin

  /** FS listStatus: immediate children of a directory with rolled-up
    * stats — reference: ozonefs BasicOzoneFileSystem.listStatus +
    * FSO directory semantics.
    */
  def listStatus(keys: DataFrame, parent: String): DataFrame = {
    val rest = expr(s"substring(key, ${parent.length + 2})")
    keys.filter(col("key").startsWith(parent + "/"))
      .withColumn("child", substring_index(rest, "/", 1))
      .withColumn("is_dir",
        expr(s"position('/' in substring(key, ${parent.length + 2}))") > 0)
      .groupBy(col("child"), col("is_dir"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy(col("is_dir").desc, col("child").asc)
  }

  def nsListStatus(spark: SparkSession, dir: String): DataFrame =
    listStatus(ObjectStoreView.keys(spark, dir), "data/1996")

  val nsListStatusSql: String =
    s"""WITH keys AS ($ks)
       |SELECT split_part(substring(key, 11), '/', 1) AS child,
       |  position('/' in substring(key, 11)) > 0 AS is_dir,
       |  COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM keys WHERE key LIKE 'data/1996/%'
       |GROUP BY child, is_dir
       |ORDER BY is_dir DESC, child ASC""".stripMargin

  /** lookupKey: exact-key point read returning the key's info joined with
    * the containers holding its blocks — reference: OM lookupKey
    * (common/.../om/protocol/OzoneManagerProtocol.java lookupKey) +
    * OmKeyLocationInfo block→container resolution. The volume/bucket
    * equality predicates push to the scan; the single-row key set joins
    * back by broadcast. Test binding targets the lexicographically first
    * key of vol0/b0 (exists at every scale factor).
    */
  def lookupKey(keys: DataFrame, containerKeys: DataFrame,
      volume: String, bucket: String): DataFrame = {
    val scoped = keys.filter(col("volume") === volume && col("bucket") === bucket)
    val target = scoped.agg(min(col("key")).as("key"))
    resolveBlocks(scoped.join(broadcast(target), Seq("key")), containerKeys)
  }

  /** The PUBLIC parameterized point read (VERDICT r10 #8): lookupKey for
    * one EXPLICIT (volume, bucket, key) identity — all three predicates
    * push to the parquet scan, no subquery needed. The registered
    * ns_lookup_key uses the min-key variant above only because the DuckDB
    * oracle must derive the same probe key without a side channel.
    */
  def lookupKeyAt(keys: DataFrame, containerKeys: DataFrame,
      volume: String, bucket: String, key: String): DataFrame =
    resolveBlocks(
      keys.filter(col("volume") === volume && col("bucket") === bucket &&
        col("key") === key),
      containerKeys)

  /** Shared lookupKey tail: block→container resolution + canonical order. */
  private def resolveBlocks(keyRows: DataFrame,
      containerKeys: DataFrame): DataFrame =
    keyRows
      .join(containerKeys.select(col("volume"), col("bucket"), col("key"),
        col("container_id")), Seq("volume", "bucket", "key"))
      .select("volume", "bucket", "key", "size", "mtime", "replication",
        "state", "container_id")
      .orderBy(col("size").asc, col("container_id").asc)

  def nsLookupKey(spark: SparkSession, dir: String): DataFrame =
    lookupKey(ObjectStoreView.keys(spark, dir),
      ObjectStoreView.containerKeys(spark, dir), "vol0", "b0")

  val nsLookupKeySql: String =
    s"""WITH keys AS ($ks), ck AS (${ObjectStoreView.containerKeysSql}),
       |scoped AS (
       |  SELECT * FROM keys WHERE volume = 'vol0' AND bucket = 'b0'
       |), target AS (SELECT MIN(key) AS key FROM scoped)
       |SELECT s.volume, s.bucket, s.key, s.size, s.mtime, s.replication,
       |  s.state, c.container_id
       |FROM scoped s
       |JOIN target t ON s.key = t.key
       |JOIN ck c ON s.volume = c.volume AND s.bucket = c.bucket
       |  AND s.key = c.key
       |ORDER BY s.size ASC, c.container_id ASC""".stripMargin

  // --- ns_key_versions: versioned-key sprawl report -----------------------
  /** The key-versioning surface: Ozone keys carry a VERSION LIST — every
    * overwrite under a version-enabled bucket appends a new
    * OmKeyLocationInfoGroup at the tail rather than replacing the blocks
    * (common/.../om/helpers/OmKeyInfo.java:55 `keyLocationVersions`,
    * :277-295 `addNewVersion` "the new version are always at the tail",
    * :153-154 `getLatestVersionLocations` = last element; the bucket flag
    * is OmBucketInfo.java:58 `isVersionEnabled`). Reads serve the latest
    * version while superseded versions keep holding blocks — exactly the
    * space-sprawl this report surfaces: one row per key written more than
    * once, with its version count, write-time span, total vs live bytes
    * and the reclaimable difference (what a version-purge would free).
    * The test binding maps each physical write of the same (volume,
    * bucket, key) path to one version; "latest" is the lexicographic max
    * of (mtime, size) — mtime first like the reference's tail-append
    * order, size as the deterministic tie-break for same-instant writes.
    *
    * Scale (the 16-byte fingerprint shuffle): the naive one-pass rollup
    * groups the corpus on its full (volume, bucket, key) STRING identity —
    * at sf0.1 that shuffle carries 63 MB, ~100 bytes per distinct key,
    * and it grows linearly with the namespace. Instead, pass A aggregates
    * an 8-byte xxhash64 fingerprint of the identity to a count (16 bytes
    * per distinct key on the wire, map-side combined), keeps the sparse
    * `count > 1` fingerprints (~7 in 1e4 keys in the binding), and pass B
    * re-scans the corpus joined against that BROADCAST fingerprint set —
    * so the full 5-counter rollup with the key strings only ever runs on
    * the version-sprawl-sized subset. A second parquet scan buys a ~4×
    * smaller global exchange: linear local IO for less all-to-all traffic,
    * the right trade at 1000 executors.
    *
    * Hash collisions cannot corrupt the result: a colliding unversioned
    * key only rides into pass B as a false-positive row, where the rollup
    * groups by the TRUE string identity again and the re-applied
    * `n_versions > 1` filter drops it — the fingerprint only prunes, never
    * merges. (At extreme sprawl the broadcast side grows with the
    * versioned subset — ~8 MB per 1e6 versioned keys; swap the hint for
    * AQE's runtime choice if a namespace ever approaches that.)
    */
  def nsKeyVersions(spark: SparkSession, dir: String): DataFrame = {
    val keys = ObjectStoreView.keys(spark, dir)
    def fp = xxhash64(col("volume"), col("bucket"), col("key"))
    val versionedFps = keys.select(fp.as("kfp"))
      .groupBy(col("kfp")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("kfp"))
    keys.withColumn("kfp", fp)
      .join(broadcast(versionedFps), "kfp")
      .groupBy(col("volume"), col("bucket"), col("key"))
      .agg(count(lit(1)).as("n_versions"),
        min(col("mtime")).as("oldest_mtime"),
        max(col("mtime")).as("latest_mtime"),
        sum(col("size")).as("total_bytes"),
        max(struct(col("mtime").as("m"), col("size").as("s")))
          .getField("s").as("live_bytes"))
      .filter(col("n_versions") > 1)
      .withColumn("reclaimable_bytes", col("total_bytes") - col("live_bytes"))
      .select("volume", "bucket", "key", "n_versions", "oldest_mtime",
        "latest_mtime", "total_bytes", "live_bytes", "reclaimable_bytes")
      .orderBy(col("volume").asc, col("bucket").asc, col("key").asc)
  }

  // Two-pass form (r16): the single-pass GROUP BY carried five aggregate
  // states (two of them struct-max) across ~|keys| string-keyed groups —
  // at the 10x gate DuckDB's hash tables outgrew memory. Pass 1 finds the
  // multi-version keys with COUNT-only state (light); pass 2 runs the
  // full aggregate battery over just those keys' rows. HAVING > 1 ≡ the
  // dup-set semijoin, so results are identical.
  val nsKeyVersionsSql: String =
    s"""WITH keys AS ($ks),
       |dups AS (
       |  SELECT volume, bucket, key FROM keys
       |  GROUP BY volume, bucket, key HAVING COUNT(*) > 1
       |)
       |SELECT k.volume, k.bucket, k.key, COUNT(*) AS n_versions,
       |  MIN(mtime) AS oldest_mtime, MAX(mtime) AS latest_mtime,
       |  CAST(SUM(size) AS BIGINT) AS total_bytes,
       |  (MAX({'m': mtime, 's': size})).s AS live_bytes,
       |  CAST(SUM(size) AS BIGINT) - (MAX({'m': mtime, 's': size})).s
       |    AS reclaimable_bytes
       |FROM keys k JOIN dups d
       |  ON k.volume = d.volume AND k.bucket = d.bucket AND k.key = d.key
       |GROUP BY k.volume, k.bucket, k.key
       |ORDER BY k.volume ASC, k.bucket ASC, k.key ASC""".stripMargin

  // --- ns_compaction_plan: small-object compaction layout -----------------

  /** Compaction plan: pack each bucket's objects (key order) into target-
    * size output files — the small-files problem every object store /
    * table-maintenance service has (the reference packs small objects into
    * shared storage containers the same way; Iceberg/Delta `OPTIMIZE` is
    * the table-format twin). Greedy assignment by cumulative offset:
    * object → group floor(bytes_before / target), so groups are contiguous
    * key ranges and only the straddling object spills a group past target.
    * The per-bucket running offset is computed DISTRIBUTED via
    * [[PrefixScan.scanState]] — the naive `Window.partitionBy(volume,
    * bucket)` formulation (kept as the oracle SQL) caps parallelism at the
    * bucket count and serializes a giant bucket through one task; the
    * range-sharded prefix sum keeps every shard busy regardless of how few
    * or how skewed the buckets are. The group rollup's shuffle moves only
    * map-side-combined partials.
    */
  def compactionPlan(keys: DataFrame, targetBytes: Long): DataFrame = {
    // Order by (key, size), not key alone: the driver's synthetic lineitem
    // carries duplicate (o, l) rows, i.e. duplicate key PATHS with
    // distinct sizes, and scanState's contract needs a total order — with
    // key-only ordering the engines may interleave equal-key rows
    // differently and a group boundary falling between them assigns them
    // different groups (caught live by the r15 sf1 gate: 28 drifted rows
    // at 10×, green at sf0.01 where no boundary split a duplicate pair).
    // Full-duplicate rows (same key AND size) remain interchangeable: any
    // order yields the same visible aggregates.
    PrefixScan.scanState(keys, Seq("volume", "bucket"),
        Seq(col("key"), col("size")),
        col("size"), cumOut = Some("bytes_before"))
      // floor(), not a bare cast: DuckDB casts double→BIGINT by rounding
      // to nearest while Spark truncates — floor first agrees everywhere
      // (the division is exact in double up to 2^53).
      .withColumn("group_id", floor(col("bytes_before") / targetBytes).cast("bigint"))
      .groupBy(col("volume"), col("bucket"), col("group_id"))
      .agg(count(lit(1)).as("n_objects"),
        sum(col("size")).as("group_bytes"),
        min(col("key")).as("first_key"),
        max(col("key")).as("last_key"))
      .orderBy(col("volume").asc, col("bucket").asc, col("group_id").asc)
  }

  def nsCompactionPlan(spark: SparkSession, dir: String): DataFrame =
    compactionPlan(ObjectStoreView.keys(spark, dir), 1000000000L)

  val nsCompactionPlanSql: String =
    s"""WITH keys AS ($ks), cum AS (
       |  SELECT volume, bucket, key, size,
       |    COALESCE(SUM(size) OVER (PARTITION BY volume, bucket
       |      ORDER BY key ASC, size ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS bytes_before
       |  FROM keys
       |)
       |SELECT volume, bucket,
       |  CAST(FLOOR(bytes_before / 1000000000) AS BIGINT) AS group_id,
       |  COUNT(*) AS n_objects, CAST(SUM(size) AS BIGINT) AS group_bytes,
       |  MIN(key) AS first_key, MAX(key) AS last_key
       |FROM cum
       |GROUP BY volume, bucket, CAST(FLOOR(bytes_before / 1000000000) AS BIGINT)
       |ORDER BY volume ASC, bucket ASC, group_id ASC""".stripMargin

  // --- ns_small_files: small-object burden report --------------------------
  private val SmallFileBytes = 1000000L

  /** The small-file problem quantified per bucket — the report that
    * motivates [[nsCompactionPlan]] (every sub-1MB object costs a
    * full metadata entry and a seek while contributing little data): per
    * (volume, bucket) the small-object count/bytes next to the totals,
    * with the small-object share of the bucket's OBJECT COUNT and of its
    * BYTES in exact ppm (count-heavy + byte-light = compaction candidate).
    * One conditional aggregate over the keys scan; byte shares go through
    * the overflow-guarded helper.
    */
  def nsSmallFiles(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keys(spark, dir)
      .groupBy(col("volume"), col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"),
        sum(when(col("size") < SmallFileBytes, 1L).otherwise(0L))
          .as("n_small"),
        sum(when(col("size") < SmallFileBytes, col("size")).otherwise(0L))
          .as("small_bytes"))
      .withColumn("small_count_ppm", expr("n_small * 1000000 DIV n_keys"))
      .withColumn("small_bytes_ppm", expr(graft.functions.Codes
        .sharePpmExpr("small_bytes", "total_bytes")))
      .select("volume", "bucket", "n_keys", "n_small", "total_bytes",
        "small_bytes", "small_count_ppm", "small_bytes_ppm")
      .orderBy(col("volume").asc, col("bucket").asc)

  val nsSmallFilesSql: String =
    s"""WITH keys AS ($ks), b AS (
       |  SELECT volume, bucket, COUNT(*) AS n_keys,
       |    CAST(SUM(size) AS BIGINT) AS total_bytes,
       |    CAST(SUM(CASE WHEN size < $SmallFileBytes THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_small,
       |    CAST(SUM(CASE WHEN size < $SmallFileBytes THEN size ELSE 0 END)
       |      AS BIGINT) AS small_bytes
       |  FROM keys GROUP BY volume, bucket
       |)
       |SELECT volume, bucket, n_keys, n_small, total_bytes, small_bytes,
       |  CAST(n_small * 1000000 // n_keys AS BIGINT) AS small_count_ppm,
       |  CAST(${graft.functions.Codes.sharePpmSql("small_bytes",
             "total_bytes")} AS BIGINT) AS small_bytes_ppm
       |FROM b ORDER BY volume ASC, bucket ASC""".stripMargin

  // --- ns_scan_plan: balanced distributed-scan task layout -----------------
  private val ScanTasks = 32

  /** Balanced scan-task assignment for a full-namespace job — the planning
    * step before a 1000-executor read: keys ranked globally by size
    * (desc) and dealt round-robin over [[ScanTasks]] tasks (the LPT-style
    * heuristic: co-ranking adjacent sizes apart bounds any task at ~1/N of
    * the bytes), reported per task with its byte share and signed skew vs
    * the ideal 1/N in exact ppm. The global size rank runs DISTRIBUTED
    * via [[PrefixScan.scanState]]'s empty-group case (a total-order
    * ROW_NUMBER — kept as the oracle — would serialize the namespace
    * through one task); the per-task rollup and share windows run over
    * the N-row task frame.
    *
    * The rank tie-break is the full-path FOLD HASH, not the path itself —
    * the two PrefixScan exchanges then carry 16 bytes per key instead of
    * the path string (~3× fewer shuffle bytes at sf0.1; at namespace
    * scale the paths dominate). A fold collision can only reorder rows of
    * EQUAL size and hash, which swaps their ranks but leaves every
    * per-task (count, bytes) total — and hence this report — unchanged,
    * and the oracle computes the identical fold, so determinism and the
    * gate both survive collisions.
    */
  def scanPlan(keys: DataFrame, nTasks: Int): DataFrame = {
    import graft.functions.Codes
    val compact = keys.select(col("size"),
      Codes.foldCode(
        concat_ws("/", col("volume"), col("bucket"), col("key")),
        31L, Codes.P).as("tb"))
    val ranked = PrefixScan.scanState(compact, Seq.empty,
      Seq(negate(col("size")), col("tb")),
      lit(1L), rankOut = Some("rnk"))
    ranked.withColumn("task_id", expr(s"(rnk - 1) % $nTasks"))
      .groupBy(col("task_id"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("task_bytes"))
      .withColumn("total_bytes",
        sum(col("task_bytes")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("bytes_ppm", expr(graft.functions.Codes
        .sharePpmExpr("task_bytes", "total_bytes")))
      .withColumn("skew_ppm",
        col("bytes_ppm") - lit(1000000L / nTasks))
      .select("task_id", "n_keys", "task_bytes", "bytes_ppm", "skew_ppm")
      .orderBy(col("task_id").asc)
  }

  def nsScanPlan(spark: SparkSession, dir: String): DataFrame =
    scanPlan(ObjectStoreView.keys(spark, dir), ScanTasks)

  val nsScanPlanSql: String =
    s"""WITH keys AS ($ks), ranked AS (
       |  SELECT size,
       |    ROW_NUMBER() OVER (ORDER BY size DESC,
       |      ${graft.functions.Codes.foldCodeSql(
              "volume || '/' || bucket || '/' || key", 31L,
              graft.functions.Codes.P)} ASC) AS rnk
       |  FROM keys
       |), t AS (
       |  SELECT (rnk - 1) % $ScanTasks AS task_id, COUNT(*) AS n_keys,
       |    CAST(SUM(size) AS BIGINT) AS task_bytes
       |  FROM ranked GROUP BY task_id
       |)
       |SELECT CAST(task_id AS BIGINT) AS task_id, n_keys, task_bytes,
       |  CAST(${graft.functions.Codes.sharePpmSql("task_bytes",
               "SUM(task_bytes) OVER ()")} AS BIGINT) AS bytes_ppm,
       |  CAST(${graft.functions.Codes.sharePpmSql("task_bytes",
               "SUM(task_bytes) OVER ()")}
       |    - ${1000000L / ScanTasks} AS BIGINT) AS skew_ppm
       |FROM t ORDER BY task_id ASC""".stripMargin

  // --- ns_lifecycle_policy: age-tier transition plan ----------------------
  /** Storage-lifecycle transition plan: per volume × target tier, the keys
    * and bytes an age-based policy (≤30d hot, ≤90d warm, ≤365d cold, else
    * archive) would place there, with monthly cost and savings-vs-all-hot
    * in exact integer cost units (bytes × tier weight — hot 100 / warm 40 /
    * cold 10 / archive 2 per byte-month). The reference's OM key lifecycle
    * (open-key expiry, trash retention) motivates the same age-banded
    * sweep; this is its capacity-planning twin. As-of date fixed at
    * 1999-01-01 like [[nsKeyAge]] (the synthetic corpus's epoch).
    *
    * Scale: one keys scan into a (volume × 4)-key aggregate with partial
    * combine; no joins, no windows.
    */
  def nsLifecyclePolicy(spark: SparkSession, dir: String): DataFrame = {
    val tiered = ObjectStoreView.keys(spark, dir)
      .withColumn("age_days",
        datediff(lit("1999-01-01").cast("date"), col("mtime").cast("date")))
      .withColumn("tier",
        when(col("age_days") <= 30, "1-hot")
          .when(col("age_days") <= 90, "2-warm")
          .when(col("age_days") <= 365, "3-cold")
          .otherwise("4-archive"))
      // Weight is a pure function of tier (ONE age ladder — a boundary
      // edit can't desync cost from tier).
      .withColumn("weight",
        when(col("tier") === "1-hot", 100L)
          .when(col("tier") === "2-warm", 40L)
          .when(col("tier") === "3-cold", 10L)
          .otherwise(2L))
    // DECIMAL(38,0) accumulation, BIGINT report — same overflow discipline
    // as nsChargeback (Spark's LongType sum wraps silently where DuckDB's
    // HUGEINT sum is exact; either way the gate would diverge).
    // size is cast wide BEFORE the multiply (matching the oracle's
    // CAST(size AS HUGEINT) * weight): a long*long product wraps silently
    // on the Spark side only, so the PRODUCT — not just the sum — must be
    // decimal(38,0).
    tiered.groupBy(col("volume"), col("tier"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("tier_bytes"),
        sum(col("size").cast("decimal(38,0)") * col("weight"))
          .cast("bigint").as("monthly_cost"),
        sum(col("size").cast("decimal(38,0)") * (lit(100L) - col("weight")))
          .cast("bigint").as("monthly_savings"))
      .orderBy(col("volume").asc, col("tier").asc)
  }

  val nsLifecyclePolicySql: String =
    s"""WITH keys AS ($ks), tiered AS (
       |  SELECT volume, size,
       |    CASE WHEN age_days <= 30 THEN '1-hot'
       |         WHEN age_days <= 90 THEN '2-warm'
       |         WHEN age_days <= 365 THEN '3-cold'
       |         ELSE '4-archive' END AS tier
       |  FROM (SELECT volume, size,
       |    datediff('day', CAST(mtime AS DATE), DATE '1999-01-01') AS age_days
       |    FROM keys) t
       |), weighted AS (
       |  SELECT volume, size, tier,
       |    CASE tier WHEN '1-hot' THEN 100 WHEN '2-warm' THEN 40
       |         WHEN '3-cold' THEN 10 ELSE 2 END AS weight
       |  FROM tiered
       |)
       |SELECT volume, tier, COUNT(*) AS n_keys,
       |  CAST(SUM(size) AS BIGINT) AS tier_bytes,
       |  CAST(SUM(CAST(size AS HUGEINT) * weight) AS BIGINT) AS monthly_cost,
       |  CAST(SUM(CAST(size AS HUGEINT) * (100 - weight)) AS BIGINT) AS monthly_savings
       |FROM weighted GROUP BY volume, tier
       |ORDER BY volume ASC, tier ASC""".stripMargin

  // --- ns_chargeback: per-volume byte-day showback -------------------------
  /** Tenant chargeback: per volume, the storage bill as exact integer
    * byte-days (size × key age at the as-of date) and cost micro-units at
    * a flat 7 µu per byte-day — the showback table every multi-tenant
    * store publishes monthly. Complements [[nsLifecyclePolicy]] (what the
    * bill WOULD be after tiering) and ns_du (point-in-time bytes, no time
    * axis). Sums run in DECIMAL(38,0)/HUGEINT — byte-days overflow BIGINT
    * long before a 100 TB tenant does anything unusual.
    *
    * Scale: one keys scan into a |volumes|-key partial-combine aggregate.
    */
  def nsChargeback(spark: SparkSession, dir: String): DataFrame =
    ObjectStoreView.keys(spark, dir)
      .withColumn("age_days",
        datediff(lit("1999-01-01").cast("date"), col("mtime").cast("date"))
          .cast("long"))
      .groupBy(col("volume"))
      // Wide product, not just wide sum: the oracle multiplies in HUGEINT
      // (CAST(size AS HUGEINT) * age_days), so a key with
      // size*age_days > 2^63 must not wrap on the Spark side.
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"),
        sum(col("size").cast("decimal(38,0)") * col("age_days"))
          .as("byte_days"))
      .withColumn("cost_micros", col("byte_days") * lit(7L))
      // Accumulate wide, REPORT as BIGINT: the two engines' decimal→pandas
      // conversions differ (driver compare), and the report values fit.
      .select(col("volume"), col("n_keys"), col("total_bytes"),
        col("byte_days").cast("bigint").as("byte_days"),
        col("cost_micros").cast("bigint").as("cost_micros"))
      .orderBy(col("volume").asc)

  val nsChargebackSql: String =
    s"""WITH keys AS ($ks), aged AS (
       |  SELECT volume, size,
       |    datediff('day', CAST(mtime AS DATE), DATE '1999-01-01') AS age_days
       |  FROM keys
       |)
       |SELECT volume, COUNT(*) AS n_keys, CAST(SUM(size) AS BIGINT) AS total_bytes,
       |  CAST(SUM(CAST(size AS HUGEINT) * age_days) AS BIGINT) AS byte_days,
       |  CAST(SUM(CAST(size AS HUGEINT) * age_days) * 7 AS BIGINT) AS cost_micros
       |FROM aged GROUP BY volume ORDER BY volume ASC""".stripMargin

  /** The registered namespace queries. `fanned`: key-string derivation
    * feeds the scan stage.
    */
  val registry: Seq[Query] = Seq(
    Query("ns_chargeback", nsChargeback, nsChargebackSql),
    Query("ns_lifecycle_policy", nsLifecyclePolicy,
      nsLifecyclePolicySql, fanned),
    Query("ns_small_files", nsSmallFiles, nsSmallFilesSql),
    Query("ns_scan_plan", nsScanPlan, nsScanPlanSql, fanned),
    Query("ns_compaction_plan", nsCompactionPlan, nsCompactionPlanSql, fanned),
    Query("ns_lookup_key", nsLookupKey, nsLookupKeySql, fanned),
    Query("ns_key_versions", nsKeyVersions, nsKeyVersionsSql, fanned),
    Query("ns_list_prefix", nsListPrefix, nsListPrefixSql),
    Query("ns_common_prefixes", nsCommonPrefixes, nsCommonPrefixesSql, fanned),
    Query("ns_list_v2_page", nsListV2Page, nsListV2PageSql, fanned),
    Query("ns_growth_trend", nsGrowthTrend, nsGrowthTrendSql),
    Query("ns_growth_forecast", nsGrowthForecast, nsGrowthForecastSql),
    Query("ns_quota_exhaustion", nsQuotaExhaustion,
      nsQuotaExhaustionSql, fanned),
    // Not fanned since r18: its corpus aggregate moved onto the numeric
    // directory identity (keyDirNarrow), which removed the per-row string
    // work the fan-out parallelized; the 10× paired probe then read the
    // exchange as a pure cost (2.40 s off vs 3.22 s fanned).
    Query("ns_du", nsDu, nsDuSql),
    Query("ns_filesize_histogram", nsFileSizeHistogram, nsFileSizeHistogramSql),
    Query("ns_filesize_histogram_by_bucket", nsFileSizeHistogramByBucket,
      nsFileSizeHistogramByBucketSql),
    Query("ns_table_counts", nsTableCounts, nsTableCountsSql),
    Query("ns_top_keys", nsTopKeys, nsTopKeysSql, fanned),
    Query("ns_bucket_usage", nsBucketUsage, nsBucketUsageSql),
    Query("ns_key_age", nsKeyAge, nsKeyAgeSql),
    Query("ns_snapshot_diff", nsSnapshotDiff, nsSnapshotDiffSql, fanned),
    Query("ns_du_incremental", nsDuIncremental, nsDuIncrementalSql),
    Query("ns_snapshot_diff_summary", nsSnapshotDiffSummary,
      nsSnapshotDiffSummarySql, fanned),
    Query("ns_snapshot_diff_chain", nsSnapshotDiffChain,
      nsSnapshotDiffChainSql, fanned),
    Query("ns_top_keys_per_bucket", nsTopKeysPerBucket,
      nsTopKeysPerBucketSql, fanned),
    Query("ns_snapshot_space", snapshotSpace, snapshotSpaceSql, fanned),
    Query("ns_expired_open_keys", nsExpiredOpenKeys,
      nsExpiredOpenKeysSql, fanned),
    Query("ns_mpu_incomplete", nsMpuIncomplete, nsMpuIncompleteSql),
    Query("ns_replication_report", nsReplicationReport, nsReplicationReportSql),
    Query("ns_liststatus", nsListStatus, nsListStatusSql, fanned))
}
