package graft.operators

import graft.Query
import graft.Query.fanned
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark's built-in join strategies don't express
  * directly (SURVEY §2.C): AS-OF join and point-in-interval RANGE join.
  * The reference's audit/event stream (common/.../audit/OMAction.java) is
  * the kind of log these run over.
  *
  * Scale design (SURVEY §5):
  *
  * - As-of join: the naive formulation is a non-equi θ-join
  *   (`l.ts <= r.ts`, latest wins) that Spark can only execute as a
  *   BroadcastNestedLoop / cartesian. Instead both sides are UNIONed with a
  *   side tag and sorted once per key — a single shuffle on `user_id`, then
  *   `last(..., ignoreNulls)` over an unbounded-preceding row window picks
  *   the latest left row at-or-before each right row. O(n log n) per key,
  *   no pair expansion, works at any key cardinality.
  *
  * - Range join: points-in-interval via coarse time-bucket blocking — each
  *   interval explodes to the hour buckets it spans (≤ 2 for a 10-minute
  *   window), each point maps to exactly ONE bucket, so the bucket
  *   equi-join enumerates every (interval, point) match at most once (no
  *   DISTINCT needed) and the exact range predicate filters inside the
  *   join. One shuffle on the bucket key; busy-hour skew is AQE's
  *   skew-join case. The blocking-bucket width bounds the interval
  *   duplication factor at ceil(window/bucket)+1.
  */
object Temporal {

  // --- ev_asof_join: latest click at-or-before each purchase, per user ----
  /** For every purchase event, the most recent click by the same user at or
    * before it (ties at the same microsecond: the click counts, and the
    * highest event_id among simultaneous clicks wins — the sort key
    * (us, side, event_id) makes this deterministic on both engines).
    */
  def evAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(0).as("side"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_event_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(when(col("side") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_event_id"), (col("us") - col("click_us")).as("gap_us"))
      .orderBy(col("purchase_id").asc)
  }

  val evAsofJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
      |), un AS (
      |  SELECT user_id, us, 0 AS side, event_id FROM ev WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, us, 1 AS side, event_id FROM ev WHERE event_type = 'purchase'
      |), m AS (
      |  SELECT user_id, us, side, event_id,
      |    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w
      |      AS click_event_id,
      |    last_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER w
      |      AS click_us
      |  FROM un
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, side ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT event_id AS purchase_id, user_id, click_event_id,
      |  us - click_us AS gap_us
      |FROM m WHERE side = 1 ORDER BY purchase_id ASC""".stripMargin

  // --- ev_range_join: events inside each error's impact window ------------
  private val WindowUs = 600L * 1000000L // 10-minute impact window
  // Blocking-bucket width = window width: each interval still spans at most
  // ceil(window/bucket)+1 = 2 buckets, but each bucket now holds ~6x fewer
  // points than an hour bucket would — the candidate-pair expansion before
  // the exact range filter shrinks proportionally at any data scale.
  private val BucketUs = WindowUs

  /** Incident-impact range join: for each error event, the count of ALL
    * events (any user, any type — including the error itself) whose
    * timestamp falls in [error_ts, error_ts + 10 min], plus distinct users
    * touched. A genuine non-equi interval join executed as a bucket
    * equi-join (see object doc).
    */
  def evRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = EventOps.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("us").as("err_us"))
      .withColumn("bkt", explode(sequence(
        expr(s"err_us DIV $BucketUs"),
        expr(s"(err_us + $WindowUs) DIV $BucketUs"))))
    val points = ev
      .select(col("event_id"), col("user_id"), col("us"),
        expr(s"us DIV $BucketUs").as("bkt"))
    errors.join(points, "bkt")
      .filter(col("us") >= col("err_us") && col("us") <= col("err_us") + WindowUs)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("err_id").asc)
  }

  // The oracle mirrors the Spark side's bucket equi-join (r16): the pure
  // inequality form planned as a nested-loop in DuckDB (~200k errors ×
  // 1M events ≈ 2e11 comparisons — a 600 s+ oracle at the 10x gate).
  // With the interval exploded to its ≤2 covering buckets and a hash
  // equi-join on the bucket, the exact range filter runs on the
  // candidate pairs only; identical result set.
  val evRangeJoinSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
       |), r AS (
       |  SELECT event_id AS err_id, us AS err_us,
       |    unnest(range(us // $BucketUs, (us + $WindowUs) // $BucketUs + 1))
       |      AS bkt
       |  FROM ev WHERE event_type = 'error'
       |), p AS (
       |  SELECT event_id, user_id, us, us // $BucketUs AS bkt FROM ev
       |)
       |SELECT r.err_id, COUNT(*) AS n_events,
       |  COUNT(DISTINCT p.user_id) AS n_users
       |FROM r JOIN p ON r.bkt = p.bkt
       |  AND p.us >= r.err_us AND p.us <= r.err_us + $WindowUs
       |GROUP BY r.err_id ORDER BY r.err_id ASC""".stripMargin

  /** The registered temporal-join queries. `fanned`: per-user full-row
    * sequence work, clustered by the user_id fan-out key.
    */
  val registry: Seq[Query] = Seq(
    Query("ev_asof_join", evAsofJoin, evAsofJoinSql),
    Query("ev_range_join", evRangeJoin, evRangeJoinSql, fanned))
}
