package graft.operators

import graft.{Query, Tables}
import graft.Query.fanned
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import PrefixScan.{nearestRank, nearestRankSql}

/** Event-log analytics (SURVEY §2.C, batch forms). The streaming twins in
  * [[graft.streaming.StreamOps]] run the same logic incrementally.
  *
  * The reference emits an audit/event stream of namespace operations
  * (common/.../audit/OMAction.java); these operators are the analytics a
  * user runs over such a stream persisted to the object store.
  *
  * `events.ts` arrives as µs-precision parquet (earlier generator versions
  * shipped int64 epoch-nanos); [[graft.Tables.normalizeTs]] adapts to
  * whichever dtype is present so timestamps agree with DuckDB's read of
  * the same file across engines (SURVEY §4).
  */
object EventOps {

  /** Events with ts normalized to a microsecond TIMESTAMP. */
  def events(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(Tables.events(spark, dir))

  // --- events-family decisions, each spelled once per engine, called by
  // every query, oracle and stream twin (EventDecisionsSpec pins them) ----

  /** Event value summed exactly as DECIMAL(12,2), emitted as DOUBLE. */
  private[graft] def sumValue(c: Column) =
    sum(c.cast("decimal(12,2)")).cast("double")

  private val sumValueSql = "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)"

  /** Event value in exact integer cents (the DECIMAL(12,2) cast rounds
    * identically in both engines; never a float).
    */
  private val valueCents: Column =
    (col("value").cast("decimal(12,2)") * 100).cast("bigint")

  private val valueCentsSql = "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"

  /** How many of the aggregated events are of type `t`. */
  private def typeCount(t: String): Column =
    sum(when(col("event_type") === t, 1L).otherwise(0L))

  private def typeCountSql(t: String) =
    s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT)"

  /** Per-user event order: ts, then the unique event_id tie-break. */
  private val byUser =
    Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)

  private val byUserSql = "PARTITION BY user_id ORDER BY ts ASC, event_id ASC"

  /** Inactivity (µs) after which a user's next event opens a new session. */
  private[graft] val SessionGapUs = 1800L * 1000000L

  /** `ev` plus is_new (1 when the event opens a session: the user's first
    * event, or more than [[SessionGapUs]] after the previous one) and
    * session_seq (the user's running session number, from 1).
    */
  private def sessions(ev: DataFrame): DataFrame =
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > SessionGapUs,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** SQL twin of [[sessions]]: CTEs marked, then sessions. */
  private val sessionsSql: String =
    s"""marked AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
       |      THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS ($byUserSql)
       |), sessions AS (
       |  SELECT user_id, ts, event_id, value,
       |    CAST(SUM(is_new) OVER ($byUserSql ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS session_seq
       |  FROM marked
       |)""".stripMargin

  /** Each (user_id, day) with at least one event. */
  private def userDays(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()

  private val userDaysSql = "SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events"

  /** Each signing-up user's first signup time, as column `out`. */
  private def firstSignup(ev: DataFrame, out: String = "first_signup"): DataFrame =
    ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as(out))

  private def firstSignupSql(out: String = "first_signup"): String =
    s"SELECT user_id, MIN(ts) AS $out FROM events WHERE event_type = 'signup' GROUP BY user_id"

  /** `frame` (user_id, week) joined to each user's first-seen week
    * (cohort_week), with the whole weeks since it (weeks_since).
    */
  private def byCohortWeek(ev: DataFrame, frame: DataFrame): DataFrame = {
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    frame.join(firstSeen, "user_id")
      .withColumn("weeks_since",
        expr("CAST(datediff(week, cohort_week) DIV 7 AS BIGINT)"))
  }

  /** SQL twin of [[byCohortWeek]]: CTE first_seen, and weeks_since of a
    * frame aliased `t` joined to it as f.
    */
  private val firstSeenWeekSql = "first_seen AS (SELECT user_id, " +
    "date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id)"

  private def weeksSinceSql(t: String) =
    s"CAST(datediff('day', f.cohort_week, $t.week) // 7 AS BIGINT)"

  /** Per `key` of a per-purchase frame: purchases, exact revenue and the
    * share of all purchases in integer ppm.
    */
  private def purchaseShares(perPurchase: DataFrame, key: String): DataFrame =
    perPurchase.groupBy(col(key))
      .agg(count(lit(1)).as("n_purchases"), sumValue(col("value")).as("revenue"))
      .withColumn("share_ppm", expr(
        "n_purchases * 1000000 DIV sum(n_purchases) OVER ()"))
      .orderBy(col(key).asc)

  private def purchaseSharesSql(key: String, from: String): String =
    s"""SELECT $key, COUNT(*) AS n_purchases,
       |  $sumValueSql AS revenue,
       |  CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
       |    AS share_ppm
       |FROM $from GROUP BY $key ORDER BY $key ASC""".stripMargin

  // --- ev_tumbling_counts: tumbling-window aggregation -------------------
  def evTumblingCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumValue(col("value")).as("sum_value"))
      .orderBy(col("window_start").asc, col("event_type").asc)

  val evTumblingCountsSql: String =
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
       |  COUNT(*) AS n_events, $sumValueSql AS sum_value
       |FROM events
       |GROUP BY window_start, event_type
       |ORDER BY window_start ASC, event_type ASC""".stripMargin

  // --- ev_sessionize: gap-based sessionization via lag + cumsum ----------
  def evSessionize(spark: SparkSession, dir: String): DataFrame =
    sessions(events(spark, dir))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        date_trunc("second", min(col("ts"))).as("session_start"),
        date_trunc("second", max(col("ts"))).as("session_end"),
        sumValue(col("value")).as("sum_value"))
      .orderBy(col("user_id").asc, col("session_seq").asc)

  val evSessionizeSql: String =
    s"""WITH $sessionsSql
       |SELECT user_id, session_seq, COUNT(*) AS n_events,
       |  date_trunc('second', MIN(ts)) AS session_start,
       |  date_trunc('second', MAX(ts)) AS session_end,
       |  $sumValueSql AS sum_value
       |FROM sessions
       |GROUP BY user_id, session_seq
       |ORDER BY user_id ASC, session_seq ASC""".stripMargin

  // --- ev_funnel: signup → purchase conversion ----------------------------
  def evFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val signups = firstSignup(ev)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val converted = signups.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"))
      .agg(max(when(col("p_ts") > col("first_signup"), 1L).otherwise(0L))
        .as("converted"))
    converted.agg(
      count(lit(1)).as("n_signup_users"),
      sum(col("converted")).as("n_converted"),
      round(sum(col("converted")).cast("double") / count(lit(1)), 6)
        .as("conversion_rate"))
  }

  /** Conversion-latency distribution: for every user whose first purchase
    * follows their first signup, seconds from signup to that first
    * purchase, summarized as EXACT nearest-rank p50/p90/p99 (integer
    * microsecond arithmetic end-to-end; the division to whole seconds is
    * integer DIV). The global rank runs DISTRIBUTED through
    * [[PrefixScan.scanState]]'s empty-group case — the naive
    * `ROW_NUMBER() OVER (ORDER BY ...)` (kept as the oracle) is a
    * single-task total sort; here every shard ranks locally and shifts by
    * broadcast offsets. Companion to [[evFunnel]]'s conversion-rate view.
    */
  def evFunnelTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val signups = firstSignup(ev)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val conv = signups.join(purch, Seq("user_id"))
      .filter(col("p_ts") > col("first_signup"))
      .groupBy(col("user_id"), col("first_signup"))
      .agg(min(col("p_ts")).as("first_conv"))
      .withColumn("lat_us",
        expr("unix_micros(first_conv) - unix_micros(first_signup)"))
    val ranked = PrefixScan.scanState(
      conv.select(col("user_id"), col("lat_us")),
      Seq.empty, Seq(col("lat_us"), col("user_id")), lit(1L),
      rankOut = Some("rn"), totalOut = Some("n"))
    ranked.groupBy(col("n").as("n_converted"))
      .agg(
        max(when(col("rn") === nearestRank(50), expr("lat_us DIV 1000000")))
          .as("p50_secs"),
        max(when(col("rn") === nearestRank(90), expr("lat_us DIV 1000000")))
          .as("p90_secs"),
        max(when(col("rn") === nearestRank(99), expr("lat_us DIV 1000000")))
          .as("p99_secs"))
  }

  val evFunnelTimeSql: String =
    s"""WITH signups AS (${firstSignupSql()}), conv AS (
      |  SELECT s.user_id, s.first_signup, MIN(p.ts) AS first_conv
      |  FROM signups s JOIN (
      |    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
      |  ) p ON s.user_id = p.user_id AND p.ts > s.first_signup
      |  GROUP BY s.user_id, s.first_signup
      |), lat AS (
      |  SELECT user_id,
      |    epoch_us(first_conv) - epoch_us(first_signup) AS lat_us
      |  FROM conv
      |), ranked AS (
      |  SELECT lat_us,
      |    ROW_NUMBER() OVER (ORDER BY lat_us ASC, user_id ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM lat
      |)
      |SELECT n AS n_converted,
      |  CAST(MAX(CASE WHEN rn = ${nearestRankSql(50)}
      |    THEN lat_us // 1000000 END) AS BIGINT) AS p50_secs,
      |  CAST(MAX(CASE WHEN rn = ${nearestRankSql(90)}
      |    THEN lat_us // 1000000 END) AS BIGINT) AS p90_secs,
      |  CAST(MAX(CASE WHEN rn = ${nearestRankSql(99)}
      |    THEN lat_us // 1000000 END) AS BIGINT) AS p99_secs
      |FROM ranked GROUP BY n""".stripMargin

  val evFunnelSql: String =
    s"""WITH signups AS (${firstSignupSql()}), conv AS (
      |  SELECT s.user_id,
      |    MAX(CASE WHEN p.ts > s.first_signup THEN 1 ELSE 0 END) AS converted
      |  FROM signups s LEFT JOIN (
      |    SELECT user_id, ts FROM events WHERE event_type = 'purchase'
      |  ) p ON s.user_id = p.user_id
      |  GROUP BY s.user_id
      |)
      |SELECT COUNT(*) AS n_signup_users,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  round(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
      |FROM conv""".stripMargin

  // --- ev_user_activity: per-user profile w/ conditional agg -------------
  def evUserActivity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        typeCount("purchase").as("n_purchases"),
        sumValue(col("value")).as("total_value"),
        date_trunc("hour", min(col("ts"))).as("first_seen_hour"),
        date_trunc("hour", max(col("ts"))).as("last_seen_hour"))
      .orderBy(col("user_id").asc)

  val evUserActivitySql: String =
    s"""SELECT user_id, COUNT(*) AS n_events,
       |  ${typeCountSql("purchase")} AS n_purchases,
       |  $sumValueSql AS total_value,
       |  date_trunc('hour', MIN(ts)) AS first_seen_hour,
       |  date_trunc('hour', MAX(ts)) AS last_seen_hour
       |FROM events GROUP BY user_id ORDER BY user_id ASC""".stripMargin

  // --- ev_power_law: activity-concentration report -------------------------
  /** How concentrated the event stream is in its heaviest users — the
    * number that sizes both the abuse-review queue and the shuffle-skew
    * risk of every user-keyed aggregation downstream: for p ∈ {1%, 10%}
    * (per-mille 10/100), the nearest-rank top-⌈p·U⌉ most-active users'
    * EXACT share of all events in ppm. Tie-exact: the cutoff activity
    * level contributes (top_k − users_above) · n_tie events — tied users
    * are interchangeable at the same level, so the share is well-defined
    * without choosing among them and therefore layout-invariant.
    *
    * Shape: per-user counts (one user-keyed exchange, map-side partials)
    * fold to the activity HISTOGRAM (users per distinct activity level —
    * bounded by max-events-per-user, metadata-sized at any corpus scale);
    * the cumulative window runs over that histogram (unpartitioned but
    * aggregate-bounded — the lint's blessed case), and the two p-rows and
    * 1-row totals attach by broadcast. The corpus itself never sorts.
    */
  def evPowerLaw(spark: SparkSession, dir: String): DataFrame =
    powerLaw(events(spark, dir))

  /** The generic core over any frame with a user_id column —
    * spec-injected with constructed tied/hot distributions.
    */
  private[graft] def powerLaw(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    val hist = ev
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("u"))
    val w = Window.orderBy(col("n").desc)
    val cum = hist
      .withColumn("cum_users", sum(col("u")).over(w))
      .withColumn("cum_events", sum(col("n") * col("u")).over(w))
    val tot = hist.agg(sum(col("u")).as("n_users"),
      sum(col("n") * col("u")).as("n_events"))
    val ps = spark.range(1)
      .select(explode(array(lit(10L), lit(100L))).as("p_permille"))
    cum
      .crossJoin(broadcast(ps.crossJoin(broadcast(tot))
        .withColumn("top_k",
          expr("(n_users * p_permille + 999) DIV 1000"))))
      .filter(col("cum_users") >= col("top_k"))
      .groupBy(col("p_permille"), col("top_k"),
        col("n_users"), col("n_events"))
      .agg(min(struct(col("cum_users"), col("cum_events"),
        col("n"), col("u"))).as("m"))
      .select(col("p_permille"), col("top_k").as("n_top_users"),
        (col("m.cum_events") - col("m.n") * col("m.u")
          + (col("top_k") - (col("m.cum_users") - col("m.u"))) * col("m.n"))
          .as("events_covered"),
        col("n_users"), col("n_events"))
      .withColumn("share_ppm",
        expr("events_covered * 1000000 DIV greatest(n_events, 1)"))
      .orderBy(col("p_permille").asc)
  }

  val evPowerLawSql: String =
    s"""WITH per_user AS (
       |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
       |), hist AS (
       |  SELECT n, COUNT(*) AS u FROM per_user GROUP BY n
       |), cum AS (
       |  SELECT n, u,
       |    SUM(u) OVER (ORDER BY n DESC) AS cum_users,
       |    SUM(n * u) OVER (ORDER BY n DESC) AS cum_events
       |  FROM hist
       |), tot AS (
       |  SELECT CAST(SUM(u) AS BIGINT) AS n_users,
       |    CAST(SUM(n * u) AS BIGINT) AS n_events FROM hist
       |), ps AS (
       |  SELECT unnest([10, 100]) AS p_permille
       |), cand AS (
       |  SELECT p.p_permille, t.n_users, t.n_events,
       |    (t.n_users * p.p_permille + 999) // 1000 AS top_k,
       |    c.n, c.u, c.cum_users, c.cum_events
       |  FROM cum c CROSS JOIN ps p CROSS JOIN tot t
       |  WHERE c.cum_users >= (t.n_users * p.p_permille + 999) // 1000
       |), picked AS (
       |  SELECT * FROM (
       |    SELECT cand.*, ROW_NUMBER() OVER (PARTITION BY p_permille
       |      ORDER BY cum_users ASC) AS rk FROM cand
       |  ) t WHERE rk = 1
       |)
       |SELECT CAST(p_permille AS BIGINT) AS p_permille,
       |  CAST(top_k AS BIGINT) AS n_top_users,
       |  CAST(cum_events - n * u + (top_k - (cum_users - u)) * n AS BIGINT)
       |    AS events_covered,
       |  n_users, n_events,
       |  CAST((cum_events - n * u + (top_k - (cum_users - u)) * n)
       |    * 1000000 // greatest(n_events, 1) AS BIGINT) AS share_ppm
       |FROM picked ORDER BY p_permille ASC""".stripMargin

  // --- ev_props_stats: JSON prop extraction + agg -------------------------
  def evPropsStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type").asc)

  val evPropsStatsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (
      |  SELECT event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |) t
      |GROUP BY event_type ORDER BY event_type ASC""".stripMargin

  // --- ev_retention_cohorts: weekly cohort retention ----------------------
  /** Users grouped by first-seen week; per (cohort, weeks-since) the
    * distinct active users and the retention rate vs the cohort's own
    * size (week 0 activity is the cohort size by construction). Two
    * shuffles: per-user first-seen, then the cohort/week rollup.
    */
  def evRetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    val byCohort = byCohortWeek(ev, activity)
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week"))
    byCohort
      .withColumn("cohort_size",
        max(when(col("weeks_since") === 0, col("n_active"))).over(w))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_size"), 6))
      .orderBy(col("cohort_week").asc, col("weeks_since").asc)
  }

  // --- ev_cohort_revenue: cohort revenue-retention matrix -----------------
  /** The money axis of the cohort matrix — [[evRetentionCohorts]] counts
    * who comes back, this measures what they SPEND: users cohorted by
    * first-seen week (same cohort definition, so the two matrices align
    * row-for-row), purchase revenue per (cohort_week, weeks_since) cell
    * in exact integer cents (the [[evRfm]] decimal-cents idiom — never a
    * float sum), buyer counts, and revenue retention vs the cohort's
    * week-0 revenue in integer ppm (NULL when the cohort had no week-0
    * purchases — absent baseline, not zero). Shape: one purchases scan +
    * the first-seen aggregate joined on user, one (cohort, week) rollup;
    * the week-0 baseline window runs over the cohort×weeks matrix
    * (metadata-sized at any event volume).
    */
  def evCohortRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"),
        valueCents.as("cents"))
    val byCell = byCohortWeek(ev, purch)
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
        sum(col("cents")).as("revenue_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week"))
    byCell
      .withColumn("week0_cents",
        max(when(col("weeks_since") === 0, col("revenue_cents"))).over(w))
      .withColumn("rev_retention_ppm",
        when(col("week0_cents").isNotNull,
          expr("revenue_cents * 1000000 DIV greatest(week0_cents, 1)")))
      .select("cohort_week", "weeks_since", "n_buyers", "revenue_cents",
        "rev_retention_ppm")
      .orderBy(col("cohort_week").asc, col("weeks_since").asc)
  }

  val evCohortRevenueSql: String =
    s"""WITH $firstSeenWeekSql, purch AS (
      |  SELECT user_id, date_trunc('week', ts) AS week, $valueCentsSql AS cents
      |  FROM events WHERE event_type = 'purchase'
      |), cell AS (
      |  SELECT f.cohort_week, ${weeksSinceSql("p")} AS weeks_since,
      |    COUNT(DISTINCT p.user_id) AS n_buyers,
      |    CAST(SUM(p.cents) AS BIGINT) AS revenue_cents
      |  FROM purch p JOIN first_seen f USING (user_id)
      |  GROUP BY 1, 2
      |), w0 AS (
      |  SELECT cohort_week, weeks_since, n_buyers, revenue_cents,
      |    MAX(CASE WHEN weeks_since = 0 THEN revenue_cents END)
      |      OVER (PARTITION BY cohort_week) AS week0_cents
      |  FROM cell
      |)
      |SELECT cohort_week, weeks_since, n_buyers, revenue_cents,
      |  CASE WHEN week0_cents IS NOT NULL THEN
      |    CAST(revenue_cents * 1000000 // greatest(week0_cents, 1) AS BIGINT)
      |  END AS rev_retention_ppm
      |FROM w0 ORDER BY cohort_week ASC, weeks_since ASC""".stripMargin

  val evRetentionCohortsSql: String =
    s"""WITH $firstSeenWeekSql, activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
      |), by_cohort AS (
      |  SELECT f.cohort_week, ${weeksSinceSql("a")} AS weeks_since,
      |    COUNT(DISTINCT a.user_id) AS n_active
      |  FROM activity a JOIN first_seen f ON a.user_id = f.user_id
      |  GROUP BY f.cohort_week, weeks_since
      |)
      |SELECT cohort_week, weeks_since, n_active,
      |  CAST(MAX(CASE WHEN weeks_since = 0 THEN n_active END)
      |    OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
      |  round(CAST(n_active AS DOUBLE) /
      |    MAX(CASE WHEN weeks_since = 0 THEN n_active END)
      |      OVER (PARTITION BY cohort_week), 6) AS retention
      |FROM by_cohort
      |ORDER BY cohort_week ASC, weeks_since ASC""".stripMargin

  // --- ev_heatmap: day-of-week × hour activity heatmap --------------------
  /** Activity heatmap cells (event_type × dow × hour): counts + distinct
    * users + exact-decimal value sums. Single scan, map-side partial agg,
    * one shuffle on the (type, dow, hour) cell key — ~840 cells regardless
    * of input size. dow is emitted 0=Sunday..6 (Spark's dayofweek() is
    * 1-based; DuckDB's dayofweek() is already 0-based).
    */
  def evHeatmap(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("bigint").as("dow"),
        hour(col("ts")).cast("bigint").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumValue(col("value")).as("sum_value"))
      .orderBy(col("event_type").asc, col("dow").asc, col("hour").asc)

  val evHeatmapSql: String =
    s"""SELECT event_type,
       |  CAST(dayofweek(ts) AS BIGINT) AS dow,
       |  CAST(hour(ts) AS BIGINT) AS hour,
       |  COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  $sumValueSql AS sum_value
       |FROM events GROUP BY event_type, dow, hour
       |ORDER BY event_type ASC, dow ASC, hour ASC""".stripMargin

  // --- ev_top_per_hour: top event types per tumbling hour -----------------
  /** Top-2 event types per hour window by event count (the "trending"
    * rollup). The rank runs over the already-aggregated per-hour cells —
    * a window over ~types-per-hour rows, never the raw stream; ties break
    * deterministically on event_type.
    */
  def evTopPerHour(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type").asc)
    hourly.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .orderBy(col("window_start").asc, col("rank").asc)
  }

  val evTopPerHourSql: String =
    """SELECT window_start, event_type, n_events, rank FROM (
      |  SELECT window_start, event_type, n_events,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY window_start
      |      ORDER BY n_events DESC, event_type ASC) AS INT) AS rank
      |  FROM (
      |    SELECT date_trunc('hour', ts) AS window_start, event_type,
      |      COUNT(*) AS n_events
      |    FROM events GROUP BY window_start, event_type
      |  ) h
      |) r WHERE rank <= 2
      |ORDER BY window_start ASC, rank ASC""".stripMargin

  // --- ev_dau_wau: daily/weekly active users + stickiness -----------------
  /** DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio per day.
    * The sliding distinct-count never self-joins the stream: activity
    * dedupes to (user, day) once, then each user-day fans out to the ≤7
    * target days it supports — integer blocking identical in both engines,
    * with counts exact (not sketches). Days past the observed range drop
    * via the inner join with the DAU set.
    */
  def evDauWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = userDays(spark, dir)
    val dau = ud.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"),
        col("day") + expr("INTERVAL '6' DAY"),
        expr("INTERVAL '1' DAY"))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day").asc)
  }

  val evDauWauSql: String =
    s"""WITH ud AS ($userDaysSql), dau AS (
      |  SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
      |), wau AS (
      |  SELECT g.day AS day, COUNT(DISTINCT u.user_id) AS wau
      |  FROM ud u, unnest(generate_series(u.day, u.day + INTERVAL 6 DAY,
      |    INTERVAL 1 DAY)) AS g(day)
      |  GROUP BY g.day
      |)
      |SELECT d.day, d.dau, w.wau,
      |  round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6) AS stickiness
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day ASC""".stripMargin

  // --- ev_anomaly: trailing z-score spike detection ----------------------
  /** Hourly volume anomaly flags per event type: an hour is anomalous when
    * its count exceeds the trailing-24-hour mean by 3 standard deviations.
    * The z-test runs in EXACT integers — with n, s=Σc, q=Σc² over the
    * trailing window, `c > mean + 3σ` is equivalent to
    * `c·n − s > 0 ∧ (c·n − s)² > 9·(n·q − s²)` (multiply through by n²) —
    * so both engines agree bit-for-bit with no floating-point mean/stddev.
    * Shape: one scan → hourly cell aggregate (map-side combinable, cell
    * count bounded by types × hours) → per-type window pass. Requires at
    * least 12 trailing hours of history before flagging. Counts up to ~1e9
    * per cell stay within BIGINT through the squared terms.
    */
  def evAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
      .rowsBetween(-24, -1)
    val n = count(col("c")).over(w)
    val s = coalesce(sum(col("c")).over(w), lit(0L))
    val q = coalesce(sum(col("c") * col("c")).over(w), lit(0L))
    hourly
      .withColumn("trailing_n", n)
      .withColumn("trailing_sum", s)
      .withColumn("trailing_sumsq", q)
      .withColumn("anomaly_flag",
        when(col("trailing_n") >= 12 &&
          (col("c") * col("trailing_n") - col("trailing_sum")) > 0 &&
          (col("c") * col("trailing_n") - col("trailing_sum")) *
            (col("c") * col("trailing_n") - col("trailing_sum")) >
            lit(9L) * (col("trailing_n") * col("trailing_sumsq") -
              col("trailing_sum") * col("trailing_sum")), 1L).otherwise(0L))
      .select(col("event_type"), col("hour"), col("c").as("n_events"),
        col("trailing_n"), col("trailing_sum"), col("anomaly_flag"))
      .orderBy(col("event_type").asc, col("hour").asc)
  }

  val evAnomalySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |    COUNT(*) AS c
      |  FROM events GROUP BY hour, event_type
      |), t AS (
      |  SELECT event_type, hour, c,
      |    COUNT(c) OVER w AS trailing_n,
      |    COALESCE(SUM(c) OVER w, 0) AS trailing_sum,
      |    COALESCE(SUM(c * c) OVER w, 0) AS trailing_sumsq
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour ASC
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, hour, c AS n_events,
      |  CAST(trailing_n AS BIGINT) AS trailing_n,
      |  CAST(trailing_sum AS BIGINT) AS trailing_sum,
      |  CAST(CASE WHEN trailing_n >= 12
      |    AND c * trailing_n - trailing_sum > 0
      |    AND (c * trailing_n - trailing_sum) * (c * trailing_n - trailing_sum)
      |      > 9 * (trailing_n * trailing_sumsq - trailing_sum * trailing_sum)
      |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly_flag
      |FROM t ORDER BY event_type ASC, hour ASC""".stripMargin

  // --- ev_transitions: event-type Markov transition matrix ----------------
  /** First-order transition counts between consecutive events per user
    * (the Markov matrix behind "what do users do after an error"), with
    * the per-source transition probability in exact integer ppm. One
    * shuffle on user_id for the LEAD window (ties broken by event_id —
    * deterministic both engines), then a tiny (≤ types²) aggregate.
    */
  def evTransitions(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("from_total",
        sum(col("n_transitions")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("prob_ppm",
        expr("n_transitions * 1000000 DIV from_total"))
      .select("event_type", "next_type", "n_transitions", "prob_ppm")
      .orderBy(col("event_type").asc, col("next_type").asc)
  }

  val evTransitionsSql: String =
    s"""WITH seq AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER ($byUserSql) AS next_type
      |  FROM events
      |), pairs AS (
      |  SELECT event_type, next_type, COUNT(*) AS n_transitions
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type
      |)
      |SELECT event_type, next_type, n_transitions,
      |  CAST(n_transitions * 1000000 //
      |    SUM(n_transitions) OVER (PARTITION BY event_type) AS BIGINT)
      |    AS prob_ppm
      |FROM pairs ORDER BY event_type ASC, next_type ASC""".stripMargin

  // --- ev_pivot_monthly: month × event-type activity matrix ---------------
  /** Monthly activity matrix — one row per month, one count column per
    * event type — via Spark's relational PIVOT with an EXPLICIT value list
    * (an implicit list costs an extra distinct-values job and makes the
    * schema data-dependent; pinned values keep the plan one aggregate and
    * the schema stable for the oracle). Plan: single groupBy(month)
    * aggregate with conditional counts — same shape the oracle writes by
    * hand.
    */
  def evPivotMonthly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("month", date_trunc("month", col("ts")))
      .groupBy(col("month"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("month").asc)

  val evPivotMonthlySql: String =
    s"""SELECT date_trunc('month', ts) AS month,
      |  ${typeCountSql("click")} AS click,
      |  ${typeCountSql("error")} AS error,
      |  ${typeCountSql("purchase")} AS purchase,
      |  ${typeCountSql("signup")} AS signup,
      |  ${typeCountSql("view")} AS view
      |FROM events
      |GROUP BY month ORDER BY month ASC""".stripMargin

  // --- ev_value_quantiles: exact per-hour value percentiles ---------------
  /** Exact p50/p95/p99 of event value per hour — the latency-report shape
    * of an ops dashboard, computed EXACTLY via nearest-rank arithmetic
    * (rank ⌈q·n⌉ of the (value, event_id)-sorted group; the tie-break
    * makes the pick deterministic) rather than an approximate sketch
    * (that path is `percentile_approx` / the HLL family). The per-hour
    * rank runs DISTRIBUTED via [[PrefixScan.scanState]] (the naive
    * per-hour window — kept as the oracle SQL — serializes a skewed hour
    * through one task); the conditional-max rollup shuffles only map-side
    * partials.
    */
  def evValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ranked = PrefixScan.scanState(
      events(spark, dir)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .select("hour", "value", "event_id"),
      Seq("hour"), Seq(col("value"), col("event_id")), lit(1L),
      rankOut = Some("rn"), totalOut = Some("n"))
    ranked.groupBy(col("hour"), col("n").as("n_events"))
      .agg(max(when(col("rn") === nearestRank(50), col("value"))).as("p50"),
        max(when(col("rn") === nearestRank(95), col("value"))).as("p95"),
        max(when(col("rn") === nearestRank(99), col("value"))).as("p99"))
      .orderBy(col("hour").asc)
  }

  val evValueQuantilesSql: String =
    s"""WITH ranked AS (
      |  SELECT date_trunc('hour', ts) AS hour, value,
      |    ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
      |      ORDER BY value ASC, event_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY date_trunc('hour', ts)) AS n
      |  FROM events
      |)
      |SELECT hour, n AS n_events,
      |  MAX(CASE WHEN rn = ${nearestRankSql(50)} THEN value END) AS p50,
      |  MAX(CASE WHEN rn = ${nearestRankSql(95)} THEN value END) AS p95,
      |  MAX(CASE WHEN rn = ${nearestRankSql(99)} THEN value END) AS p99
      |FROM ranked GROUP BY hour, n
      |ORDER BY hour ASC""".stripMargin

  // --- ev_dau_sketch: per-day approximate distinct users ------------------
  /** DAU by HLL sketch — the 100 TB form of [[evDauWau]]'s exact per-day
    * distinct: GROUPED use of the [[graft.functions.HllRegAgg]] kernel.
    * The exact plan's per-day distinct-user state grows with the user
    * base; here every day holds a constant 1 KiB register buffer, partials
    * merge by elementwise max under any partitioning, and the shuffle
    * carries |days|·1 KiB. The estimate is deterministic integer
    * arithmetic, so the DuckDB oracle (same constants) hash-matches the
    * ESTIMATE itself — same oracle discipline as q_hll_distinct.
    */
  def evDauSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllRegAgg
    events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"),
        expr(s"CAST(user_id AS BIGINT) % ${HllRegAgg.P}").as("x"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), HllRegAgg.of(col("x")).as("regs"))
      .withColumn("hit", expr(HllRegAgg.hitFoldSql))
      .withColumn("denom_hit", expr(HllRegAgg.denomHitFoldSql))
      .withColumn("denom",
        col("denom_hit") + (lit(1024L) - col("hit")) * 32768L)
      .select(col("day"), col("n_events"), col("hit"), col("denom"),
        expr(HllRegAgg.estimateSql).as("dau_est"))
      .orderBy(col("day").asc)
  }

  val evDauSketchSql: String = {
    import graft.functions.HllRegAgg
    s"""WITH xs AS (
       |  SELECT date_trunc('day', ts) AS day,
       |    CAST(user_id AS BIGINT) % ${HllRegAgg.P} AS x
       |  FROM events WHERE user_id IS NOT NULL
       |), rt AS (
       |  SELECT day, (${HllRegAgg.hashSql}) % 1024 AS reg,
       |    ${HllRegAgg.rankHashSql} AS h2 FROM xs
       |), regs AS (
       |  SELECT day, reg, MAX(${HllRegAgg.rhoCaseSql}) AS mr
       |  FROM rt GROUP BY day, reg
       |), sk AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS hit,
       |    CAST(SUM(CAST(32768 / POWER(2, mr) AS BIGINT)) AS BIGINT)
       |      AS denom_hit
       |  FROM regs GROUP BY day
       |), ne AS (
       |  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events
       |  FROM events GROUP BY 1
       |)
       |SELECT day, n_events, hit, denom,
       |  ${HllRegAgg.estimateDuckSql} AS dau_est
       |FROM (
       |  SELECT s.day AS day, n.n_events AS n_events, s.hit AS hit,
       |    s.denom_hit + (1024 - s.hit) * 32768 AS denom
       |  FROM sk s JOIN ne n ON s.day = n.day
       |) t ORDER BY day ASC""".stripMargin
  }

  // --- ev_sliding_counts: hopping-window aggregation ----------------------
  /** Sliding (hopping) window counts: 1-hour windows advancing every 15
    * minutes — the batch form of Structured Streaming's
    * `window(ts, '1 hour', '15 minutes')`. Each event belongs to exactly
    * window/slide = 4 windows, so the fan-out is a BOUNDED explode of the
    * 4 slide offsets per event (never a θ-join of events against a window
    * table). Window starts are integer-µs arithmetic identical in both
    * engines; the aggregate is map-side combinable, so the shuffle carries
    * (window, type) cells — 4× the tumbling cell count, independent of the
    * event volume. Complements [[evTumblingCounts]] (tumbling twin).
    */
  def evSlidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val slideUs = 900000000L // 15-minute slide; 4 slides per 1-hour window
    events(spark, dir)
      .select(col("event_type"), col("value"),
        expr(s"unix_micros(ts) DIV $slideUs * $slideUs").as("b"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("window_start",
        timestamp_micros(col("b") - col("k") * slideUs))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumValue(col("value")).as("sum_value"))
      .orderBy(col("window_start").asc, col("event_type").asc)
  }

  val evSlidingCountsSql: String =
    s"""WITH w AS (
       |  SELECT event_type, value,
       |    make_timestamp(epoch_us(ts) // 900000000 * 900000000
       |      - k.k * 900000000) AS window_start
       |  FROM events, (SELECT unnest(range(4)) AS k) k
       |)
       |SELECT window_start, event_type, COUNT(*) AS n_events,
       |  $sumValueSql AS sum_value
       |FROM w GROUP BY window_start, event_type
       |ORDER BY window_start ASC, event_type ASC""".stripMargin

  // --- ev_session_stats: session-length/duration distribution -------------
  /** The session-quality report over [[evSessionize]]'s gap-based sessions:
    * session count, single-event (bounce) sessions, and EXACT nearest-rank
    * p50/p90 of both session length (events) and session duration
    * (seconds, integer-µs arithmetic end-to-end). The global ranks over
    * the session frame run DISTRIBUTED via [[PrefixScan.scanState]]'s
    * empty-group case — the naive `ROW_NUMBER() OVER (ORDER BY ...)` (kept
    * as the oracle) is a single-task total sort, unacceptable when the
    * session frame is user-base-sized. Two rank passes (by length, by
    * duration) over the aggregated session frame, each fully parallel.
    */
  def evSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessions(events(spark, dir))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"))
    val byLen = PrefixScan.scanState(sess, Seq.empty,
      Seq(col("n_events"), col("user_id"), col("session_seq")), lit(1L),
      rankOut = Some("rn"), totalOut = Some("n"))
    val lenStats = byLen.agg(
      max(col("n")).as("n_sessions"),
      sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_single_event"),
      max(when(col("rn") === nearestRank(50), col("n_events"))).as("p50_events"),
      max(when(col("rn") === nearestRank(90), col("n_events"))).as("p90_events"))
    val byDur = PrefixScan.scanState(sess, Seq.empty,
      Seq(col("dur_us"), col("user_id"), col("session_seq")), lit(1L),
      rankOut = Some("rn"), totalOut = Some("n"))
    val durStats = byDur.agg(
      max(when(col("rn") === nearestRank(50), expr("dur_us DIV 1000000")))
        .as("p50_duration_s"),
      max(when(col("rn") === nearestRank(90), expr("dur_us DIV 1000000")))
        .as("p90_duration_s"))
    lenStats.crossJoin(durStats)
  }

  val evSessionStatsSql: String =
    s"""WITH $sessionsSql, sess AS (
      |  SELECT user_id, session_seq, COUNT(*) AS n_events,
      |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
      |  FROM sessions GROUP BY user_id, session_seq
      |), by_len AS (
      |  SELECT n_events,
      |    ROW_NUMBER() OVER (ORDER BY n_events ASC, user_id ASC,
      |      session_seq ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM sess
      |), by_dur AS (
      |  SELECT dur_us,
      |    ROW_NUMBER() OVER (ORDER BY dur_us ASC, user_id ASC,
      |      session_seq ASC) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM sess
      |), len_stats AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_sessions,
      |    CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_single_event,
      |    MAX(CASE WHEN rn = ${nearestRankSql(50)} THEN n_events END)
      |      AS p50_events,
      |    MAX(CASE WHEN rn = ${nearestRankSql(90)} THEN n_events END)
      |      AS p90_events
      |  FROM by_len
      |), dur_stats AS (
      |  SELECT
      |    CAST(MAX(CASE WHEN rn = ${nearestRankSql(50)}
      |      THEN dur_us // 1000000 END) AS BIGINT) AS p50_duration_s,
      |    CAST(MAX(CASE WHEN rn = ${nearestRankSql(90)}
      |      THEN dur_us // 1000000 END) AS BIGINT) AS p90_duration_s
      |  FROM by_dur
      |)
      |SELECT * FROM len_stats, dur_stats""".stripMargin

  // --- ev_hour_profile: pooled hour-of-day activity profile -----------------
  /** The diurnal load curve: events pooled by hour-of-day across the whole
    * stream, each hour's share of daily traffic in exact ppm and a
    * peak-hours flag for the top-3 hours (count desc, hour asc tie-break)
    * — what capacity planning and maintenance-window selection read.
    * One 24-cell aggregate; the share/rank windows run over the 24-row
    * frame.
    */
  def evHourProfile(spark: SparkSession, dir: String): DataFrame = {
    val byCount = Window.orderBy(col("n_events").desc, col("hour_of_day").asc)
    events(spark, dir)
      .groupBy(hour(col("ts")).cast("bigint").as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("share_ppm", expr(
        "n_events * 1000000 DIV sum(n_events) OVER ()"))
      .withColumn("peak", rank().over(byCount) <= 3)
      .select("hour_of_day", "n_events", "n_users", "share_ppm", "peak")
      .orderBy(col("hour_of_day").asc)
  }

  val evHourProfileSql: String =
    """WITH h AS (
      |  SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
      |    COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |  FROM events GROUP BY hour_of_day
      |)
      |SELECT hour_of_day, n_events, n_users,
      |  CAST(n_events * 1000000 // SUM(n_events) OVER () AS BIGINT)
      |    AS share_ppm,
      |  RANK() OVER (ORDER BY n_events DESC, hour_of_day ASC) <= 3 AS peak
      |FROM h ORDER BY hour_of_day ASC""".stripMargin

  // --- ev_new_vs_returning: daily acquisition mix ---------------------------
  /** Per day: users active for the FIRST time vs returning users, with the
    * new-user share in exact ppm — the acquisition-vs-retention mix every
    * growth dashboard leads with. Shape: first-seen day per user (one
    * user-keyed aggregate), then the daily user-day frame joins it on
    * user_id and rolls up per day — two shuffles sharing the user
    * partitioning, then a day-keyed aggregate of user-days (never raw
    * events twice).
    */
  def evNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = userDays(spark, dir)
    val firstSeen = ud.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    ud.join(firstSeen, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .withColumn("n_returning", col("n_users") - col("n_new"))
      .withColumn("new_ppm", expr("n_new * 1000000 DIV n_users"))
      .select("day", "n_users", "n_new", "n_returning", "new_ppm")
      .orderBy(col("day").asc)
  }

  val evNewVsReturningSql: String =
    s"""WITH ud AS ($userDaysSql), fs AS (
      |  SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
      |)
      |SELECT ud.day, COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  CAST(COUNT(*) - SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0
      |    END) AS BIGINT) AS n_returning,
      |  CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS new_ppm
      |FROM ud JOIN fs ON ud.user_id = fs.user_id
      |GROUP BY ud.day ORDER BY ud.day ASC""".stripMargin

  // --- ev_error_rate: hourly error-budget / SLO report ----------------------
  /** Reliability view of the event stream: per hour the event count, error
    * count, error rate in exact ppm, and the SLO-breach flag against a
    * 25% error budget — the burn-rate table an on-call dashboard renders.
    * One map-side-combinable conditional aggregate; integer ppm, no
    * division drift.
    */
  def evErrorRate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        typeCount("error").as("n_errors"))
      .withColumn("error_ppm", expr("n_errors * 1000000 DIV n_events"))
      .withColumn("slo_breach", col("error_ppm") > 250000L)
      .orderBy(col("hour").asc)

  val evErrorRateSql: String =
    s"""WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
      |    ${typeCountSql("error")} AS n_errors
      |  FROM events GROUP BY hour
      |)
      |SELECT hour, n_events, n_errors,
      |  CAST(n_errors * 1000000 // n_events AS BIGINT) AS error_ppm,
      |  n_errors * 1000000 // n_events > 250000 AS slo_breach
      |FROM h ORDER BY hour ASC""".stripMargin

  // --- ev_funnel_steps: ordered multi-step funnel ---------------------------
  /** Three-step ORDERED funnel (signup → first later click → first later
    * purchase), one row per stage with the users remaining and the
    * stage-over-stage retention in exact ppm — [[evFunnel]]'s two-event
    * conversion generalized to an ordered path (an event counts only
    * strictly after the previous stage's anchoring event). Shape: each
    * stage is a user-keyed conditional min-timestamp aggregate joined back
    * on user_id — three shuffles sharing one partitioning, never a
    * per-user sort of the raw stream.
    */
  def evFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val s1 = firstSignup(ev, "t1")
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val agg = s1.agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(s2.agg(count(lit(1)).as("n2"))))
      .crossJoin(broadcast(s3.agg(count(lit(1)).as("n3"))))
    agg.select(explode(array(
        struct(lit(1L).as("step"), lit("signup").as("stage"),
          col("n1").as("n_users"), lit(1000000L).as("retention_ppm")),
        struct(lit(2L).as("step"), lit("click_after_signup").as("stage"),
          col("n2").as("n_users"),
          expr("n2 * 1000000 DIV greatest(n1, 1L)").as("retention_ppm")),
        struct(lit(3L).as("step"), lit("purchase_after_click").as("stage"),
          col("n3").as("n_users"),
          expr("n3 * 1000000 DIV greatest(n2, 1L)").as("retention_ppm"))))
        .as("s"))
      .select(col("s.step").as("step"), col("s.stage").as("stage"),
        col("s.n_users").as("n_users"),
        col("s.retention_ppm").as("retention_ppm"))
      .orderBy(col("step").asc)
  }

  val evFunnelStepsSql: String =
    s"""WITH s1 AS (${firstSignupSql("t1")}), s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id
      |), agg AS (
      |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |    (SELECT COUNT(*) FROM s2) AS n2,
      |    (SELECT COUNT(*) FROM s3) AS n3
      |), stages AS (
      |  SELECT 1 AS step, 'signup' AS stage, n1 AS n_users,
      |    CAST(1000000 AS BIGINT) AS retention_ppm FROM agg
      |  UNION ALL
      |  SELECT 2, 'click_after_signup', n2,
      |    CAST(n2 * 1000000 // greatest(n1, 1) AS BIGINT) FROM agg
      |  UNION ALL
      |  SELECT 3, 'purchase_after_click', n3,
      |    CAST(n3 * 1000000 // greatest(n2, 1) AS BIGINT) FROM agg
      |)
      |SELECT CAST(step AS BIGINT) AS step, stage,
      |  CAST(n_users AS BIGINT) AS n_users, retention_ppm
      |FROM stages ORDER BY step ASC""".stripMargin

  // --- ev_inactive_users: churn / inactivity report ------------------------
  /** Churn screening: per user the event count, last-seen second, whole
    * days inactive relative to the stream's latest activity, and a 30-day
    * churn flag — integer-µs arithmetic end-to-end. Shape: one user-keyed
    * aggregate (map-side combinable) + the 1-row global max broadcast
    * back; nothing re-scans the stream.
    */
  def evInactiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val peru = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
    val tot = ev.agg(max(unix_micros(col("ts"))).as("global_us"))
    peru.crossJoin(broadcast(tot))
      .withColumn("last_seen",
        date_trunc("second", timestamp_micros(col("last_us"))))
      .withColumn("days_inactive",
        expr("(global_us - last_us) DIV 86400000000"))
      .withColumn("churned", col("days_inactive") >= 30L)
      .select("user_id", "n_events", "last_seen", "days_inactive", "churned")
      .orderBy(col("user_id").asc)
  }

  val evInactiveUsersSql: String =
    """WITH peru AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    MAX(epoch_us(ts)) AS last_us
      |  FROM events GROUP BY user_id
      |), tot AS (
      |  SELECT MAX(epoch_us(ts)) AS global_us FROM events
      |)
      |SELECT user_id, n_events,
      |  date_trunc('second', make_timestamp(last_us)) AS last_seen,
      |  CAST((global_us - last_us) // 86400000000 AS BIGINT) AS days_inactive,
      |  (global_us - last_us) // 86400000000 >= 30 AS churned
      |FROM peru, tot ORDER BY user_id ASC""".stripMargin

  // --- ev_path_trigrams: top 3-step user journeys --------------------------
  /** Journey analysis one step beyond [[evTransitions]]'s first-order
    * matrix: the 20 most common 3-event-type sequences users actually walk
    * (consecutive per user in time order, deterministic event_id
    * tie-break). Shape: two LEAD windows per user (high-cardinality
    * partitioning — fully parallel), a map-side-combinable trigram count,
    * and a TakeOrdered top-20 with full-path tie-break — the raw stream is
    * shuffled once for the windows and never again.
    */
  def evPathTrigrams(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("e1").asc, col("e2").asc,
        col("e3").asc)
      .limit(20)

  val evPathTrigramsSql: String =
    s"""WITH seq AS (
      |  SELECT user_id, event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS ($byUserSql)
      |)
      |SELECT e1, e2, e3, COUNT(*) AS n_paths
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY e1, e2, e3
      |ORDER BY n_paths DESC, e1 ASC, e2 ASC, e3 ASC
      |LIMIT 20""".stripMargin

  // --- ev_bot_detection: automation-rate signals per user -----------------
  /** Bot/automation screening — the user-data hygiene pass a training
    * pipeline runs before learning from behavioral streams: per user the
    * event volume, active minutes, the burst peak (max events within any
    * single minute) and the minimum inter-event gap in µs, plus a flag for
    * superhuman cadence (a ≥10-event burst minute, or repeated sub-second
    * gaps). Shape: one (user, minute) cell aggregate rolled up per user
    * (both map-side combinable) joined with a per-user LAG-gap aggregate —
    * two shuffles on user_id, reusing the same partitioning; all
    * thresholds are exact integer compares.
    */
  def evBotDetection(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val cells = ev
      .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("minute"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("active_minutes"),
        max(col("n")).as("max_per_minute"))
    val gaps = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .groupBy(col("user_id"))
      .agg(min(col("gap_us")).as("min_gap_us"),
        sum(when(col("gap_us") < 1000000L, 1L).otherwise(0L))
          .as("subsecond_gaps"))
    cells.join(gaps, "user_id")
      .withColumn("is_bot",
        col("max_per_minute") >= 10L || col("subsecond_gaps") >= 3L)
      .select("user_id", "n_events", "active_minutes", "max_per_minute",
        "min_gap_us", "subsecond_gaps", "is_bot")
      .orderBy(col("user_id").asc)
  }

  val evBotDetectionSql: String =
    s"""WITH cells AS (
      |  SELECT user_id, date_trunc('minute', ts) AS minute, COUNT(*) AS n
      |  FROM events GROUP BY user_id, minute
      |), peru AS (
      |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |    COUNT(*) AS active_minutes, MAX(n) AS max_per_minute
      |  FROM cells GROUP BY user_id
      |), gaps AS (
      |  SELECT user_id,
      |    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      |    CAST(SUM(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS subsecond_gaps
      |  FROM (
      |    SELECT user_id,
      |      epoch_us(ts) - epoch_us(lag(ts) OVER ($byUserSql)) AS gap_us
      |    FROM events
      |  ) g GROUP BY user_id
      |)
      |SELECT p.user_id, n_events, active_minutes, max_per_minute,
      |  min_gap_us, subsecond_gaps,
      |  max_per_minute >= 10 OR subsecond_gaps >= 3 AS is_bot
      |FROM peru p JOIN gaps g ON p.user_id = g.user_id
      |ORDER BY p.user_id ASC""".stripMargin

  // --- ev_attribution: last-touch purchase attribution ---------------------
  /** How far back (µs) a click or view can take credit for a purchase. */
  private[graft] val AttributionLookbackUs = 24L * 3600L * 1000000L

  /** Last-touch attribution: every purchase is credited to the user's most
    * recent preceding click or view within a 24 h lookback (else 'direct')
    * — the canonical marketing-analytics rollup over an event stream, per
    * source: purchases, exact-decimal revenue, share in integer ppm.
    *
    * Shape: ONE per-user window pass (ordered (ts, event_id) — the same
    * deterministic ordering the sessionizer uses) carries the last touch
    * as a struct via last(…, ignoreNulls) over rows-preceding; purchases
    * filter AFTER the window so the carried state never re-scans; the
    * rollup is a ≤3-group aggregate and the share divides inside the
    * aggregated frame (unpartitioned window over an aggregate — the
    * sanctioned PlanShapeSpec pattern). One user-keyed exchange total.
    */
  /** Per-purchase attribution frame (event_id, user_id, source, value) —
    * the pre-rollup view [[evAttribution]] aggregates and the streaming
    * twin (`StreamOps.attributionStream`) must reproduce row-for-row.
    */
  private[graft] def attributionPerPurchase(spark: SparkSession,
      dir: String): DataFrame =
    events(spark, dir)
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"),
          struct(col("ts").as("tts"), col("event_type").as("ttype"))),
          ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .withColumn("source",
        when(col("touch").isNull ||
          unix_micros(col("ts")) - unix_micros(col("touch.tts")) >
            AttributionLookbackUs, "direct")
          .otherwise(col("touch.ttype")))
      .select(col("event_id"), col("user_id"), col("source"), col("value"),
        when(col("source") =!= "direct",
          unix_micros(col("ts")) - unix_micros(col("touch.tts")))
          .as("lag_us"))

  /** SQL twin of [[attributionPerPurchase]]: CTE p (event_id, user_id,
    * source, value, lag_us), by way of CTEs t and a.
    */
  private val attributionPerPurchaseSql: String =
    s"""t AS (
       |  SELECT user_id, event_id, ts, event_type, value,
       |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
       |        THEN struct_pack(tts := ts, ttype := event_type) END
       |        IGNORE NULLS)
       |      OVER ($byUserSql
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       |  FROM events
       |), a AS (
       |  SELECT event_id, user_id, value,
       |    CASE WHEN touch IS NULL
       |      OR epoch_us(ts) - epoch_us(touch.tts) > $AttributionLookbackUs
       |      THEN 'direct' ELSE touch.ttype END AS source,
       |    epoch_us(ts) - epoch_us(touch.tts) AS touch_us
       |  FROM t WHERE event_type = 'purchase'
       |), p AS (
       |  SELECT event_id, user_id, source, value,
       |    CASE WHEN source <> 'direct' THEN touch_us END AS lag_us
       |  FROM a
       |)""".stripMargin

  def evAttribution(spark: SparkSession, dir: String): DataFrame =
    purchaseShares(attributionPerPurchase(spark, dir), "source")

  val evAttributionSql: String =
    s"""WITH $attributionPerPurchaseSql
       |${purchaseSharesSql("source", "p")}""".stripMargin

  // --- ev_rfm: recency / frequency / monetary segmentation -----------------
  /** RFM segmentation of the purchase base — per user: days since last
    * purchase (vs the stream's global anchor = max event time), purchase
    * count and exact integer cents, each bucketed (R: ≤1 active / ≤4
    * warm / cold; F: ≥16 frequent / ≥10 regular / rare; M: ≥80 000 high /
    * ≥40 000 mid / low — thresholds straddle this corpus's medians so the
    * lattice is populated), rolled up to segment counts + revenue. Cents
    * come from the DECIMAL(12,2) cast (identical rounding in both
    * engines), never a float sum.
    *
    * Shape: one purchase-filtered scan → per-user aggregate (map-side
    * partials) → broadcast of the 1-row anchor → ≤27-row segment rollup.
    */
  def evRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val anchor = broadcast(ev.agg(max(col("ts")).as("anchor_ts")))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_purchase"),
        count(lit(1)).as("freq"),
        sum(valueCents).as("cents"))
      .crossJoin(anchor)
      .withColumn("rec_days",
        datediff(col("anchor_ts").cast("date"),
          col("last_purchase").cast("date")))
      .withColumn("r_seg",
        when(col("rec_days") <= 1, "active")
          .when(col("rec_days") <= 4, "warm").otherwise("cold"))
      .withColumn("f_seg",
        when(col("freq") >= 16, "frequent")
          .when(col("freq") >= 10, "regular").otherwise("rare"))
      .withColumn("m_seg",
        when(col("cents") >= 80000L, "high")
          .when(col("cents") >= 40000L, "mid").otherwise("low"))
      .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy(col("r_seg").asc, col("f_seg").asc, col("m_seg").asc)
  }

  val evRfmSql: String =
    s"""WITH u AS (
      |  SELECT user_id, MAX(ts) AS last_purchase, COUNT(*) AS freq,
      |    CAST(SUM($valueCentsSql) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), seg AS (
      |  SELECT
      |    CASE WHEN date_diff('day', CAST(last_purchase AS DATE),
      |        CAST((SELECT MAX(ts) FROM events) AS DATE)) <= 1 THEN 'active'
      |      WHEN date_diff('day', CAST(last_purchase AS DATE),
      |        CAST((SELECT MAX(ts) FROM events) AS DATE)) <= 4 THEN 'warm'
      |      ELSE 'cold' END AS r_seg,
      |    CASE WHEN freq >= 16 THEN 'frequent'
      |      WHEN freq >= 10 THEN 'regular' ELSE 'rare' END AS f_seg,
      |    CASE WHEN cents >= 80000 THEN 'high'
      |      WHEN cents >= 40000 THEN 'mid' ELSE 'low' END AS m_seg,
      |    cents
      |  FROM u
      |)
      |SELECT r_seg, f_seg, m_seg, COUNT(*) AS n_users,
      |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
      |FROM seg GROUP BY r_seg, f_seg, m_seg
      |ORDER BY r_seg ASC, f_seg ASC, m_seg ASC""".stripMargin

  // --- ev_conversion_lag: touch-to-purchase latency histogram -------------
  /** How long after the credited touch do purchases land? The attributed
    * purchases of [[attributionPerPurchase]] bucketed by exact integer-µs
    * lag (≤1 min / ≤1 h / ≤6 h / ≤24 h, plus the un-attributed 'direct'
    * bucket), with purchases, exact-decimal revenue and share in ppm —
    * the report that justifies the attribution window's width. Same ONE
    * user-keyed window pass as the attribution rollup; the histogram is a
    * ≤5-row aggregate.
    */
  def evConversionLag(spark: SparkSession, dir: String): DataFrame =
    purchaseShares(attributionPerPurchase(spark, dir)
      .withColumn("lag_bucket",
        when(col("lag_us").isNull, "direct")
          .when(col("lag_us") <= 60L * 1000000L, "le_1m")
          .when(col("lag_us") <= 3600L * 1000000L, "le_1h")
          .when(col("lag_us") <= 6L * 3600L * 1000000L, "le_6h")
          .otherwise("le_24h")), "lag_bucket")

  val evConversionLagSql: String =
    s"""WITH $attributionPerPurchaseSql, b AS (
       |  SELECT CASE WHEN lag_us IS NULL THEN 'direct'
       |      WHEN lag_us <= 60000000 THEN 'le_1m'
       |      WHEN lag_us <= 3600000000 THEN 'le_1h'
       |      WHEN lag_us <= 21600000000 THEN 'le_6h'
       |      ELSE 'le_24h' END AS lag_bucket, value
       |  FROM p
       |)
       |${purchaseSharesSql("lag_bucket", "b")}""".stripMargin

  /** Deterministic Knuth arm assignment, shared by [[evAbTest]] and
    * [[abSignificanceOf]]. The hash input is widened to DECIMAL(38,0)
    * (HUGEINT in the oracle) BEFORE the multiply: in plain LongType,
    * `user_id * 2654435761` wraps silently past user_id ≈ 3.47e9 in
    * Spark (non-ANSI) while DuckDB promotes — a silent cross-engine
    * arm-assignment divergence, and a real-world one at 1e10-user scale.
    * Widened, the product tops out at ~2.5e28 ≪ 10³⁸ for the full int64
    * id domain, and both engines' `%` on non-negative exact integers
    * agree digit-for-digit.
    */
  private[graft] val armCol: Column =
    when((col("user_id").cast("decimal(38,0)") * 2654435761L)
      % 4294967296L % 100 < 50, "A").otherwise("B")

  private[graft] val armSql: String =
    "CASE WHEN (CAST(user_id AS HUGEINT) * 2654435761) " +
      "% 4294967296 % 100 < 50 THEN 'A' ELSE 'B' END"

  // --- ev_ab_test: deterministic experiment assignment + lift report ------
  /** A/B experiment readout with DETERMINISTIC assignment: each user lands
    * in arm A or B by a Knuth multiplicative hash of user_id (stable
    * across reshuffles and re-ingests — the property a real experiment
    * framework needs so a user never switches arms between batches; a
    * random() split would be neither reproducible nor oracle-checkable).
    * Per arm: users, converters (≥1 purchase), conversion in exact integer
    * ppm, exact purchase cents, and ARPU in cents (integer DIV).
    *
    * Shape: ONE user-keyed aggregate over the stream (map-side partial
    * counts; conditional aggregates fold purchases in the same pass, so
    * converters need no second scan or self-join) → 2-row arm rollup.
    * All arithmetic is exact integers — no cross-engine float drift.
    */
  def evAbTest(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        typeCount("purchase").as("n_purchases"),
        sum(when(col("event_type") === "purchase", valueCents)
          .otherwise(0L)).as("cents"))
      .withColumn("arm", armCol)
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("n_purchases") > 0, 1L).otherwise(0L)).as("n_converted"),
        sum(col("cents")).as("revenue_cents"))
      .withColumn("conv_ppm", expr("n_converted * 1000000 DIV n_users"))
      .withColumn("arpu_cents", expr("revenue_cents DIV n_users"))
      .orderBy(col("arm").asc)

  val evAbTestSql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    ${typeCountSql("purchase")} AS n_purchases,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN $valueCentsSql
      |      ELSE 0 END) AS BIGINT) AS cents
      |  FROM events GROUP BY user_id
      |), armed AS (
      |  SELECT $armSql AS arm, n_purchases, cents
      |  FROM u
      |)
      |SELECT arm, COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_converted,
      |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
      |  CAST(SUM(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS conv_ppm,
      |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS arpu_cents
      |FROM armed GROUP BY arm ORDER BY arm ASC""".stripMargin

  // --- ev_stickiness: DAU / calendar-month MAU ratio ---------------------
  /** Engagement stickiness per day: distinct daily actives over the
    * calendar month's distinct actives, in exact integer ppm — the
    * DAU/MAU product metric. Shape: two distinct-user aggregates off the
    * same projected scan (day-keyed and month-keyed; each shuffles only
    * (bucket, user_id) pairs with map-side partial dedup) joined by
    * BROADCASTING the ≤|months| MAU frame onto the day rows. No window,
    * no per-day rescan of the month.
    */
  def evStickiness(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("ts").cast("date").as("day"),
        date_trunc("month", col("ts")).cast("date").as("month"),
        col("user_id"))
    val dau = ev.groupBy(col("day"), col("month"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = ev.groupBy(col("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), "month")
      .withColumn("stickiness_ppm", expr("dau * 1000000 DIV mau"))
      .select("day", "dau", "mau", "stickiness_ppm")
      .orderBy(col("day").asc)
  }

  val evStickinessSql: String =
    """WITH dau AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(date_trunc('month', ts) AS DATE) AS month,
      |    COUNT(DISTINCT user_id) AS dau
      |  FROM events GROUP BY 1, 2
      |), mau AS (
      |  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
      |    COUNT(DISTINCT user_id) AS mau
      |  FROM events GROUP BY 1
      |)
      |SELECT d.day, d.dau, m.mau,
      |  CAST(d.dau * 1000000 // m.mau AS BIGINT) AS stickiness_ppm
      |FROM dau d JOIN mau m ON d.month = m.month
      |ORDER BY d.day ASC""".stripMargin

  // --- ev_concurrency: sweep-line max concurrent sessions per day --------
  /** Peak concurrent sessions per UTC day via the classic sweep line:
    * each session (from [[evSessionize]]'s 30-min-gap rule) is clipped to
    * per-day segments, each segment emits (+1 at start, -1 at end), and a
    * running sum ordered by (instant, +1-before--1) peaks at the day's max
    * concurrency (touching sessions count as concurrent). The reference's
    * insight UI charts exactly this "active operations" load line
    * (recon/.../api/handlers metrics endpoints).
    *
    * Scale: clipping to days makes the sweep window PARTITIONED BY day —
    * no global sort, and a session spanning k days costs k segment rows
    * (k ≤ 2 under a 30-min gap rule). Both engines' cumulative-sum windows
    * default to RANGE frames, so tied instants share one cumulative value
    * — the max over start rows is therefore order-stable across engines.
    */
  def evConcurrency(spark: SparkSession, dir: String): DataFrame =
    concurrencyFromSessions(evSessionize(spark, dir))

  /** The sweep-line core over any frame with second-aligned
    * `session_start`/`session_end` timestamps (exposed for constructed-
    * input specs; [[evConcurrency]] feeds it the 30-min-gap sessions).
    */
  private[graft] def concurrencyFromSessions(sessions: DataFrame): DataFrame = {
    // Integral `div` end-to-end (repo discipline): exact where long `/`
    // long detours through DOUBLE past 2^53. Spark `div` truncates toward
    // zero while DuckDB `//` floors — identical on the non-negative
    // epoch-seconds here; sessions are second-truncated so `/ 1000000`
    // happened to be exact, but the discipline should not rely on that.
    val sess = sessions
      .select(
        expr("unix_micros(session_start) div 1000000").as("s"),
        expr("unix_micros(session_end) div 1000000").as("e"))
    val segs = sess
      .withColumn("k", explode(sequence(
        expr("s div 86400"), expr("e div 86400"))))
      .withColumn("seg_s", greatest(col("s"), col("k") * 86400L))
      .withColumn("seg_e", least(col("e"), (col("k") + 1L) * 86400L - 1L))
    val deltas = segs.select(col("k"), col("seg_s").as("t"), lit(1L).as("delta"))
      .unionAll(segs.select(col("k"), col("seg_e").as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy(col("k")).orderBy(col("t").asc, col("delta").desc)
    deltas
      .withColumn("cum", sum(col("delta")).over(w))
      .filter(col("delta") === 1L)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_sessions"), max(col("cum")).as("max_concurrent"))
      .select(
        to_date(timestamp_seconds(col("k") * 86400L)).as("day"),
        col("n_sessions"), col("max_concurrent"))
      .orderBy(col("day").asc)
  }

  val evConcurrencySql: String =
    s"""WITH $sessionsSql, sess AS (
      |  SELECT epoch_us(date_trunc('second', MIN(ts))) // 1000000 AS s,
      |    epoch_us(date_trunc('second', MAX(ts))) // 1000000 AS e
      |  FROM sessions GROUP BY user_id, session_seq
      |), segs AS (
      |  SELECT u.k AS k,
      |    greatest(s, u.k * 86400) AS seg_s,
      |    least(e, (u.k + 1) * 86400 - 1) AS seg_e
      |  FROM sess, UNNEST(generate_series(s // 86400, e // 86400)) AS u(k)
      |), deltas AS (
      |  SELECT k, seg_s AS t, CAST(1 AS BIGINT) AS delta FROM segs
      |  UNION ALL
      |  SELECT k, seg_e AS t, CAST(-1 AS BIGINT) AS delta FROM segs
      |), swept AS (
      |  SELECT k, delta,
      |    SUM(delta) OVER (PARTITION BY k ORDER BY t ASC, delta DESC) AS cum
      |  FROM deltas
      |)
      |SELECT CAST(to_timestamp(k * 86400) AS DATE) AS day,
      |  COUNT(*) AS n_sessions, CAST(MAX(cum) AS BIGINT) AS max_concurrent
      |FROM swept WHERE delta = 1
      |GROUP BY k ORDER BY day ASC""".stripMargin

  // --- ev_burstiness: exact-integer inter-arrival dispersion --------------
  /** Classifies each user's event stream as bursty / poisson-ish / regular
    * by the squared coefficient of variation of inter-arrival gaps,
    * computed ENTIRELY in integer arithmetic so both engines agree bit-for-
    * bit: with n gaps, S = Σgap_s, Q = Σgap_s², population cv² =
    * (n·Q − S²)/S², so `bursty` ⟺ n·Q > 3·S² and `regular` ⟺ 2·n·Q < 3·S²
    * — no float division anywhere. The products run in DECIMAL(38,0) /
    * HUGEINT so a heavy user at large SF can't wrap BIGINT (Spark wraps
    * silently, DuckDB errors — either way a cross-engine divergence).
    * Burstiness is the standard load-model split for capacity planning on
    * the reference's audit stream.
    *
    * Scale: one user-keyed window (lag) riding the same hash partitioning
    * as the per-user aggregate, then a tiny 3-row report — no global sort
    * until the final 3-row ORDER BY.
    */
  def evBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val gaps = events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .filter(col("prev_ts").isNotNull)
      // Integer floor-div end-to-end (`div`, not long `/` long which is
      // DOUBLE + truncating cast): truncate != floor for pre-1970
      // timestamps, and the double path loses exactness past 2^53 µs.
      .withColumn("gap_s",
        expr("(unix_micros(ts) - unix_micros(prev_ts)) div 1000000"))
    // q accumulates in DECIMAL(38,0) to mirror the oracle's HUGEINT sum;
    // the per-row product gap² stays BIGINT on both sides, safe under the
    // span² bound (a 30-year gap² ≈ 9e17 < 2^63).
    val perUser = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s"),
        sum((col("gap_s") * col("gap_s")).cast("decimal(38,0)")).as("q"))
      .filter(col("n") >= 2 && col("s") > 0)
      .withColumn("nq", col("n").cast("decimal(38,0)") * col("q").cast("decimal(38,0)"))
      .withColumn("s2", col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
      .withColumn("burst_class",
        when(col("nq") > lit(3L).cast("decimal(38,0)") * col("s2"), "bursty")
          .when(lit(2L).cast("decimal(38,0)") * col("nq") <
            lit(3L).cast("decimal(38,0)") * col("s2"), "regular")
          .otherwise("poisson-ish"))
    perUser.groupBy(col("burst_class"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_gaps"),
        sum(col("s")).as("sum_gap_s"))
      .orderBy(col("burst_class").asc)
  }

  val evBurstinessSql: String =
    s"""WITH gaps AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS gap_s
      |  FROM events
      |  WINDOW w AS ($byUserSql)
      |), per_user AS (
      |  SELECT user_id, COUNT(*) AS n, SUM(gap_s) AS s, SUM(gap_s * gap_s) AS q
      |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
      |), classed AS (
      |  SELECT n, s,
      |    CASE WHEN CAST(n AS HUGEINT) * q > 3 * CAST(s AS HUGEINT) * s THEN 'bursty'
      |         WHEN 2 * CAST(n AS HUGEINT) * q < 3 * CAST(s AS HUGEINT) * s THEN 'regular'
      |         ELSE 'poisson-ish' END AS burst_class
      |  FROM per_user WHERE n >= 2 AND s > 0
      |)
      |SELECT burst_class, COUNT(*) AS n_users,
      |  CAST(SUM(n) AS BIGINT) AS n_gaps, CAST(SUM(s) AS BIGINT) AS sum_gap_s
      |FROM classed GROUP BY burst_class ORDER BY burst_class ASC""".stripMargin

  // --- ev_cumulative_users: running distinct-user count -------------------
  /** Cumulative distinct users per day via the first-seen trick: a running
    * COUNT(DISTINCT) is a scale trap (it would re-scan all history per
    * day), but each user enters the distinct set exactly once — on their
    * first event — so per-day NEW users aggregate distributively and one
    * running sum over the metadata-sized daily frame yields the exact
    * cumulative distinct count.
    *
    * Scale: one user-keyed aggregate (map-side partial min), a day rollup,
    * and a window over |days| rows — the unpartitioned window sits above
    * the aggregate, so it never sees corpus-sized input.
    */
  def evCumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = events(spark, dir)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
      .select(to_date(col("first_ts")).as("day"))
    val daily = firstSeen.groupBy(col("day"))
      .agg(count(lit(1)).as("n_new_users"))
    // Bare ordered window: the input is the |days|-row aggregate, and a
    // partitionBy(lit(1)) would add a constant-key exchange for nothing.
    val w = Window.orderBy(col("day").asc)
    daily
      .withColumn("cumulative_users", sum(col("n_new_users")).over(w))
      .orderBy(col("day").asc)
  }

  val evCumulativeUsersSql: String =
    """WITH first_seen AS (
      |  SELECT user_id, CAST(MIN(ts) AS DATE) AS day FROM events GROUP BY user_id
      |), daily AS (
      |  SELECT day, COUNT(*) AS n_new_users FROM first_seen GROUP BY day
      |)
      |SELECT day, n_new_users,
      |  CAST(SUM(n_new_users) OVER (ORDER BY day ASC) AS BIGINT) AS cumulative_users
      |FROM daily ORDER BY day ASC""".stripMargin

  // --- ev_anomaly_robust: median/MAD outlier detection ---------------------
  /** Robust anomaly detection over daily per-type volumes: exact
    * nearest-rank median and median-absolute-deviation (MAD), flagging
    * days where |count − median| > 3·MAD. Unlike [[evAnomaly]]'s trailing
    * mean/stddev z-score, the median/MAD pair doesn't let one huge spike
    * inflate its own detection threshold — and every statistic here is an
    * integer (counts, nearest-rank selections, absolute differences), so
    * both engines agree exactly with no variance arithmetic at all.
    *
    * Scale: the day×type frame is metadata-sized after the first
    * aggregate; both ranking windows partition by event_type over that
    * frame. MAD = 0 (over half the days identical) flags ANY deviation —
    * the standard robust-statistics degeneracy, kept deliberately.
    */
  def evAnomalyRobust(spark: SparkSession, dir: String): DataFrame = {
    val counts = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val byType = Window.partitionBy(col("event_type"))
    def nearestRankPick(df: DataFrame, valueCol: String, out: String) = {
      val w = byType.orderBy(col(valueCol).asc, col("day").asc)
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = nearestRankPick(counts, "c", "med")
    val dev = counts.join(med, "event_type")
      .withColumn("dev", abs(col("c") - col("med")))
    val mad = nearestRankPick(dev, "dev", "mad")
    dev.join(mad, "event_type")
      .withColumn("anomaly_flag", col("dev") > lit(3L) * col("mad"))
      .select("event_type", "day", "c", "med", "mad", "anomaly_flag")
      .orderBy(col("event_type").asc, col("day").asc)
  }

  val evAnomalyRobustSql: String =
    """WITH counts AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      |  FROM events GROUP BY event_type, day
      |), ranked AS (
      |  SELECT event_type, day, c,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c ASC, day ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM counts
      |), med AS (
      |  SELECT event_type, c AS med FROM ranked WHERE rn = (n + 1) // 2
      |), dev AS (
      |  SELECT counts.event_type, day, c, med, abs(c - med) AS dev
      |  FROM counts JOIN med ON counts.event_type = med.event_type
      |), ranked2 AS (
      |  SELECT event_type, day, dev,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev ASC, day ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev
      |), mad AS (
      |  SELECT event_type, dev AS mad FROM ranked2 WHERE rn = (n + 1) // 2
      |)
      |SELECT dev.event_type, day, c, med, mad.mad, dev > 3 * mad AS anomaly_flag
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |ORDER BY dev.event_type ASC, day ASC""".stripMargin

  // --- ev_audience_overlap: pairwise event-type audience Jaccard ----------
  /** Audience overlap between event types: for every unordered type pair,
    * the users doing BOTH, each type's audience, and the exact Jaccard in
    * integer ppm — the "are these the same people" table behind funnel
    * design and A/B arm independence checks. Set overlap, not sequence
    * ([[evTransitions]] is the sequential view of the same log).
    *
    * Scale: the distinct (user, type) frame is bounded by users × |types|;
    * the pair join is keyed on user_id and each user contributes at most
    * C(|types|, 2) rows; audience sizes are a ≤|types|-row broadcast.
    */
  def evAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir).select(col("user_id"), col("event_type"))
      .distinct()
    val sizes = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("audience"))
    val both = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("audience", "audience_a")), "type_a")
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("audience", "audience_b")), "type_b")
      .withColumn("jaccard_ppm", expr(
        "CAST(n_both * 1000000 div (audience_a + audience_b - n_both) AS BIGINT)"))
      .select("type_a", "type_b", "audience_a", "audience_b", "n_both",
        "jaccard_ppm")
      .orderBy(col("type_a").asc, col("type_b").asc)
  }

  val evAudienceOverlapSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), sizes AS (
      |  SELECT event_type, COUNT(*) AS audience FROM ut GROUP BY event_type
      |), both_t AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY type_a, type_b
      |)
      |SELECT type_a, type_b, sa.audience AS audience_a,
      |  sb.audience AS audience_b, n_both,
      |  CAST(n_both * 1000000 // (sa.audience + sb.audience - n_both)
      |    AS BIGINT) AS jaccard_ppm
      |FROM both_t
      |JOIN sizes sa ON both_t.type_a = sa.event_type
      |JOIN sizes sb ON both_t.type_b = sb.event_type
      |ORDER BY type_a ASC, type_b ASC""".stripMargin

  // --- ev_ab_significance: exact chi-square A/B readout -------------------
  /** The significance readout over [[evAbTest]]'s deterministic arms: the
    * 2×2 (arm × converted) contingency table — converted = heavy buyer,
    * ≥ 14 purchases (every testdata user purchases at least once, so the
    * raw did-purchase outcome is degenerate: a zero margin) — and Pearson's
    * chi-square
    * statistic χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) in exact integer
    * milli units — the "can we ship arm A" gate, computed without a single
    * float. (ad−bc)² clears int64 once arms pass ~3e4 users, so the
    * product chain runs in DECIMAL(38,0) / HUGEINT end-to-end (the
    * [[evRfm]] accumulation discipline applied to a test statistic), and
    * past 1e7 users even 38 digits overflow (worst case is an N⁵ term) —
    * there both engines scale the four cells down 2¹⁰ first and scale the
    * result back (χ² is degree-1 homogeneous in the cells), extending the
    * exact-enough domain to ~1e10 users; the
    * milli quotient is one integral divide of a non-negative numerator, so
    * Spark's DIV and DuckDB's // agree. significant_95 compares against
    * the χ²(1 df) 95% critical value 3.841 AS INTEGERS (milli vs 3841) —
    * the verdict cannot flip on a rounding boundary between engines.
    *
    * Scale: one user-keyed aggregate (map-side combined) collapses the log
    * to per-user conversion flags; everything after is a single-row
    * reduce. No joins, no windows; the statistic's inputs are 4 counters.
    */
  def evAbSignificance(spark: SparkSession, dir: String): DataFrame =
    abSignificanceOf(events(spark, dir))

  /** The chi-square core over any events-shaped frame (user_id,
    * event_type) — spec seam for hand-computed contingency tables.
    */
  private[graft] def abSignificanceOf(ev: DataFrame): DataFrame = {
    val u = ev
      .groupBy(col("user_id"))
      .agg(when(typeCount("purchase") >= 14L, 1L).otherwise(0L).as("conv"))
      .withColumn("arm", armCol)
    u.groupBy()
      .agg(
        sum(when(col("arm") === "A" && col("conv") === 1L, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("arm") === "A" && col("conv") === 0L, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === "B" && col("conv") === 1L, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("arm") === "B" && col("conv") === 0L, 1L).otherwise(0L))
          .as("d"))
      .withColumn("n_users_a", col("a") + col("b"))
      .withColumn("n_users_b", col("c") + col("d"))
      .withColumn("conv_a_ppm", expr("a * 1000000 div nullif(a + b, 0)"))
      .withColumn("conv_b_ppm", expr("c * 1000000 div nullif(c + d, 0)"))
      // nullif-guarded: a degenerate table (an all-but-empty arm or a
      // universal outcome zeroing a margin) yields NULL, not an ANSI
      // divide-by-zero — and DuckDB's `// NULL` is NULL identically.
      // Magnitude guard (the sharePpm two-leg discipline): the exact
      // numerator N·(ad−bc)²·1000 clears DECIMAL(38,0)/HUGEINT once
      // N ≳ 1e7 (worst-case ad−bc = N²/4 → N⁵ term), where Spark would
      // NULL and DuckDB would ERROR — divergent AND useless. Past the
      // bound both engines scale all four cells by 2^10 first; χ² is
      // homogeneous of degree 1 in the cells, so the result is scaled
      // back ×1024 (ppm-level truncation error on a statistic that is
      // astronomically significant at that N either way).
      .withColumn("chi2_milli", expr(
        """CASE WHEN a + b + c + d <= 10000000 THEN
          | CAST((CAST(a + b + c + d AS DECIMAL(38,0))
          |  * CAST(a*d - b*c AS DECIMAL(38,0)) * CAST(a*d - b*c AS DECIMAL(38,0))
          |  * 1000)
          | div nullif(CAST(a + b AS DECIMAL(38,0)) * CAST(c + d AS DECIMAL(38,0))
          |  * CAST(a + c AS DECIMAL(38,0)) * CAST(b + d AS DECIMAL(38,0)), 0)
          | AS BIGINT)
          |ELSE
          | 1024 * CAST((CAST((a + b + c + d) div 1024 AS DECIMAL(38,0))
          |  * CAST(a div 1024 * (d div 1024) - b div 1024 * (c div 1024)
          |      AS DECIMAL(38,0))
          |  * CAST(a div 1024 * (d div 1024) - b div 1024 * (c div 1024)
          |      AS DECIMAL(38,0))
          |  * 1000)
          | div nullif(
          |   CAST((a + b) div 1024 AS DECIMAL(38,0))
          |  * CAST((c + d) div 1024 AS DECIMAL(38,0))
          |  * CAST((a + c) div 1024 AS DECIMAL(38,0))
          |  * CAST((b + d) div 1024 AS DECIMAL(38,0)), 0)
          | AS BIGINT)
          |END""".stripMargin.replace("\n", " ")))
      .withColumn("significant_95",
        when(col("chi2_milli") >= 3841L, "y").otherwise("n"))
      .select(col("n_users_a"), col("n_users_b"),
        col("a").as("conv_a"), col("c").as("conv_b"),
        col("conv_a_ppm"), col("conv_b_ppm"),
        (col("conv_a_ppm") - col("conv_b_ppm")).as("lift_ppm"),
        col("chi2_milli"), col("significant_95"))
  }

  val evAbSignificanceSql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN ${typeCountSql("purchase")} >= 14 THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id
      |), armed AS (
      |  SELECT $armSql AS arm, conv FROM u
      |), t AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'A' AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN arm = 'A' AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm = 'B' AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN arm = 'B' AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM armed
      |)
      |, stat AS (
      |  SELECT a, b, c, d,
      |    CASE WHEN a + b + c + d <= 10000000 THEN
      |      CAST((CAST(a + b + c + d AS HUGEINT)
      |        * CAST(a*d - b*c AS HUGEINT) * CAST(a*d - b*c AS HUGEINT)
      |        * 1000)
      |      // nullif(CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
      |        * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT), 0)
      |      AS BIGINT)
      |    ELSE
      |      1024 * CAST((CAST((a + b + c + d) // 1024 AS HUGEINT)
      |        * CAST(a // 1024 * (d // 1024) - b // 1024 * (c // 1024)
      |            AS HUGEINT)
      |        * CAST(a // 1024 * (d // 1024) - b // 1024 * (c // 1024)
      |            AS HUGEINT)
      |        * 1000)
      |      // nullif(CAST((a + b) // 1024 AS HUGEINT)
      |        * CAST((c + d) // 1024 AS HUGEINT)
      |        * CAST((a + c) // 1024 AS HUGEINT)
      |        * CAST((b + d) // 1024 AS HUGEINT), 0) AS BIGINT)
      |    END AS chi2_milli
      |  FROM t
      |)
      |SELECT a + b AS n_users_a, c + d AS n_users_b, a AS conv_a, c AS conv_b,
      |  a * 1000000 // nullif(a + b, 0) AS conv_a_ppm,
      |  c * 1000000 // nullif(c + d, 0) AS conv_b_ppm,
      |  a * 1000000 // nullif(a + b, 0) - c * 1000000 // nullif(c + d, 0)
      |    AS lift_ppm,
      |  chi2_milli,
      |  CASE WHEN chi2_milli >= 3841 THEN 'y' ELSE 'n' END AS significant_95
      |FROM stat""".stripMargin

  // --- ev_ab_srm: sample-ratio-mismatch health check -----------------------
  /** The experiment-health gate every readout must pass FIRST: with a
    * 50/50 deterministic split, the observed arm sizes are a binomial
    * draw, and a significant deviation (sample-ratio mismatch) means the
    * assignment or logging pipeline is dropping one arm's users — every
    * downstream lift number is garbage. χ² vs the 50/50 expectation
    * simplifies to (a−b)²/N; computed in exact integer milli units over
    * DECIMAL(38,0) (|a−b|²·1000 clears int64 only to ~3e7 users — the
    * [[abSignificanceOf]] widening discipline), flagged at the 3.841
    * 95% critical value. One user-keyed distinct aggregate → one 1-row
    * reduce; no joins.
    */
  def evAbSrm(spark: SparkSession, dir: String): DataFrame =
    abSrmOf(events(spark, dir))

  /** The SRM core over any events-shaped frame (spec seam). */
  private[graft] def abSrmOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id")).distinct()
      .withColumn("arm", armCol)
      .groupBy()
      // coalesce-to-0: a global SUM over an EMPTY frame is NULL in both
      // engines; the SRM report should read "zero users on both arms",
      // with only the 0/0 chi-square NULL (nullif-guarded divide).
      .agg(
        coalesce(sum(when(col("arm") === "A", 1L).otherwise(0L)), lit(0L))
          .as("n_users_a"),
        coalesce(sum(when(col("arm") === "B", 1L).otherwise(0L)), lit(0L))
          .as("n_users_b"))
      .withColumn("delta", col("n_users_a") - col("n_users_b"))
      .withColumn("srm_chi2_milli", expr(
        """CAST(CAST(n_users_a - n_users_b AS DECIMAL(38,0))
          | * CAST(n_users_a - n_users_b AS DECIMAL(38,0)) * 1000
          | div nullif(CAST(n_users_a + n_users_b AS DECIMAL(38,0)), 0)
          | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .withColumn("srm_flag",
        when(col("srm_chi2_milli") >= 3841L, "y").otherwise("n"))
      .select("n_users_a", "n_users_b", "delta", "srm_chi2_milli", "srm_flag")

  val evAbSrmSql: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
      |t AS (
      |  SELECT
      |    CAST(coalesce(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS a,
      |    CAST(coalesce(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS b
      |  FROM (SELECT $armSql AS arm FROM u)
      |)
      |SELECT a AS n_users_a, b AS n_users_b, a - b AS delta,
      |  CAST(CAST(a - b AS HUGEINT) * CAST(a - b AS HUGEINT) * 1000
      |    // nullif(CAST(a + b AS HUGEINT), 0) AS BIGINT) AS srm_chi2_milli,
      |  CASE WHEN CAST(a - b AS HUGEINT) * CAST(a - b AS HUGEINT) * 1000
      |    // nullif(CAST(a + b AS HUGEINT), 0) >= 3841
      |    THEN 'y' ELSE 'n' END AS srm_flag
      |FROM t""".stripMargin

  // --- ev_ab_guardrail: per-arm guardrail metrics --------------------------
  /** The guardrail companion to [[evAbTest]]: conversion lift means
    * nothing if the treatment arm is erroring or disengaging — per arm,
    * distinct users, event volume, error events, error rate in exact
    * integer ppm and engagement (events per user) in exact milli. Same
    * deterministic DECIMAL(38,0)-widened arm hash, so the rows align
    * user-for-user with the readout and the SRM gate. Shape: arm is a
    * per-row projection off user_id (no user collapse needed for event
    * counts; the distinct-user count folds into the same aggregate) →
    * one 2-row rollup; no joins, no windows.
    */
  def evAbGuardrail(spark: SparkSession, dir: String): DataFrame =
    abGuardrailOf(events(spark, dir))

  /** The guardrail core over any events-shaped frame (spec seam). */
  private[graft] def abGuardrailOf(ev: DataFrame): DataFrame =
    ev.withColumn("arm", armCol)
      .groupBy(col("arm"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        typeCount("error").as("n_errors"))
      .withColumn("error_ppm", expr("n_errors * 1000000 div n_events"))
      .withColumn("events_per_user_milli", expr("n_events * 1000 div n_users"))
      .orderBy(col("arm").asc)

  val evAbGuardrailSql: String =
    s"""WITH armed AS (
      |  SELECT $armSql AS arm, user_id, event_type FROM events
      |)
      |SELECT arm, COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(*) AS n_events,
      |  ${typeCountSql("error")} AS n_errors,
      |  CAST(${typeCountSql("error")}
      |    * 1000000 // COUNT(*) AS BIGINT) AS error_ppm,
      |  CAST(COUNT(*) * 1000 // COUNT(DISTINCT user_id) AS BIGINT)
      |    AS events_per_user_milli
      |FROM armed GROUP BY arm ORDER BY arm ASC""".stripMargin

  // --- ev_ab_timeline: per-minute experiment monitor ----------------------
  /** The live-dashboard grain of the experiment: per (minute, arm) event
    * volume, purchases and errors — what an experimentation platform
    * streams to its monitor so a broken treatment is caught in minutes,
    * not at readout. Batch and streaming share THIS core
    * ([[graft.streaming.StreamOps.abTimelineStream]]), so the two cannot
    * drift; the counters are watermark-friendly (no distinct aggregates —
    * the distinct-user audits live in [[evAbSrm]]/[[evAbGuardrail]]).
    * Shape: one map-side-combined (minute, arm) aggregate; state in the
    * streaming twin is bounded by horizon × 2 arms.
    */
  def evAbTimeline(spark: SparkSession, dir: String): DataFrame =
    abMinuteCounts(abMinuteEntries(events(spark, dir)))
      .orderBy(col("ts_minute").asc, col("arm").asc)

  /** Per-event (ts_minute, arm, event_type) projection — the streaming
    * twin watermarks ts_minute between this and [[abMinuteCounts]]
    * (the prefixMinuteStream pattern: the watermark rides the exact
    * column the shared aggregate groups on).
    */
  private[graft] def abMinuteEntries(ev: DataFrame): DataFrame =
    ev.withColumn("arm", armCol)
      .withColumn("ts_minute", date_trunc("minute", col("ts")))
      .select(col("ts_minute"), col("arm"), col("event_type"))

  /** The shared (minute, arm) counter core — batch + streaming twin. */
  private[graft] def abMinuteCounts(entries: DataFrame): DataFrame =
    entries
      .groupBy(col("ts_minute"), col("arm"))
      .agg(count(lit(1)).as("n_events"),
        typeCount("purchase").as("n_purchases"),
        typeCount("error").as("n_errors"))

  val evAbTimelineSql: String =
    s"""WITH armed AS (
      |  SELECT $armSql AS arm, date_trunc('minute', ts) AS ts_minute,
      |    event_type
      |  FROM events
      |)
      |SELECT ts_minute, arm, COUNT(*) AS n_events,
      |  ${typeCountSql("purchase")} AS n_purchases,
      |  ${typeCountSql("error")} AS n_errors
      |FROM armed GROUP BY ts_minute, arm
      |ORDER BY ts_minute ASC, arm ASC""".stripMargin

  /** The registered events queries. `fanned`: per-user windows and
    * full-row sequence work; the user_id fan-out key doubles as their
    * required clustering.
    */
  val registry: Seq[Query] = Seq(
    Query("ev_ab_srm", evAbSrm, evAbSrmSql),
    Query("ev_ab_guardrail", evAbGuardrail, evAbGuardrailSql, fanned),
    Query("ev_ab_timeline", evAbTimeline, evAbTimelineSql, fanned),
    Query("ev_ab_significance", evAbSignificance, evAbSignificanceSql),
    Query("ev_concurrency", evConcurrency, evConcurrencySql, fanned),
    Query("ev_burstiness", evBurstiness, evBurstinessSql, fanned),
    Query("ev_cumulative_users", evCumulativeUsers, evCumulativeUsersSql),
    Query("ev_anomaly_robust", evAnomalyRobust, evAnomalyRobustSql),
    Query("ev_audience_overlap", evAudienceOverlap, evAudienceOverlapSql),
    Query("ev_ab_test", evAbTest, evAbTestSql),
    Query("ev_stickiness", evStickiness, evStickinessSql),
    Query("ev_conversion_lag", evConversionLag, evConversionLagSql),
    Query("ev_attribution", evAttribution, evAttributionSql, fanned),
    Query("ev_rfm", evRfm, evRfmSql),
    Query("ev_hour_profile", evHourProfile, evHourProfileSql),
    Query("ev_new_vs_returning", evNewVsReturning, evNewVsReturningSql),
    Query("ev_error_rate", evErrorRate, evErrorRateSql),
    Query("ev_funnel_steps", evFunnelSteps, evFunnelStepsSql),
    Query("ev_inactive_users", evInactiveUsers, evInactiveUsersSql),
    Query("ev_path_trigrams", evPathTrigrams, evPathTrigramsSql),
    Query("ev_bot_detection", evBotDetection, evBotDetectionSql),
    Query("ev_sliding_counts", evSlidingCounts, evSlidingCountsSql, fanned),
    Query("ev_session_stats", evSessionStats, evSessionStatsSql, fanned),
    Query("ev_dau_sketch", evDauSketch, evDauSketchSql),
    Query("ev_pivot_monthly", evPivotMonthly, evPivotMonthlySql),
    Query("ev_value_quantiles", evValueQuantiles, evValueQuantilesSql),
    Query("ev_transitions", evTransitions, evTransitionsSql),
    Query("ev_anomaly", evAnomaly, evAnomalySql),
    Query("ev_top_per_hour", evTopPerHour, evTopPerHourSql),
    Query("ev_dau_wau", evDauWau, evDauWauSql),
    Query("ev_heatmap", evHeatmap, evHeatmapSql),
    Query("ev_retention_cohorts", evRetentionCohorts, evRetentionCohortsSql),
    Query("ev_cohort_revenue", evCohortRevenue, evCohortRevenueSql, fanned),
    Query("ev_tumbling_counts", evTumblingCounts, evTumblingCountsSql),
    Query("ev_sessionize", evSessionize, evSessionizeSql, fanned),
    Query("ev_funnel", evFunnel, evFunnelSql),
    Query("ev_funnel_time", evFunnelTime, evFunnelTimeSql),
    Query("ev_user_activity", evUserActivity, evUserActivitySql),
    Query("ev_power_law", evPowerLaw, evPowerLawSql),
    Query("ev_props_stats", evPropsStats, evPropsStatsSql, fanned))
}
