package graft.operators

import graft.{Query, Tables}
import graft.Query.fanned
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational query surface (SURVEY §2.B).
  *
  * These are the query shapes a Spark user runs over data stored in the
  * reference object store (via its Hadoop FileSystem facade,
  * /root/reference/hadoop-ozone/ozonefs/). Each is a declarative DataFrame
  * plan so Catalyst handles pushdown / pruning / join selection; dimension
  * tables are explicitly broadcast.
  *
  * Oracle discipline (SURVEY §4): money aggregates are rounded per-row to
  * 2 decimals then cast to DECIMAL(18,2) BEFORE summing — decimal addition
  * is associative so Spark's parallel partial aggregation matches DuckDB's
  * serial sum exactly. The final exact decimal is cast to DOUBLE on both
  * sides so output types are unambiguous across engines.
  */
object Relational {

  /** Exact-decimal money term (2-decimal source values cast losslessly). */
  private[operators] def m(c: Column) = c.cast("decimal(12,2)")

  /** Small multiplier term like (1 - discount), value in [0, 9.99]. */
  private[operators] def f(c: Column) = c.cast("decimal(4,2)")

  /** Money aggregate: decimal terms multiply exactly (no rounding, bounded
    * precision), decimal addition is associative, so Spark's parallel sum
    * equals DuckDB's serial sum exactly; emitted as DOUBLE, correctly
    * rounded from the exact decimal.
    */
  private[operators] def sumMoney(c: Column) = sum(c).cast("double")

  /** DuckDB fragments matching [[m]]/[[f]]/[[sumMoney]]. DuckDB's direct
    * DECIMAL → DOUBLE cast converts the unscaled integer to a double before
    * dividing by the scale, which is not correctly rounded once that
    * integer passes 2^53; the exact decimal text parses to the correctly
    * rounded double, as Spark's cast does. A DOUBLE argument's text
    * round-trips, so its value is unchanged.
    */
  private[operators] def mSql(e: String) = s"CAST($e AS DECIMAL(12,2))"
  private[operators] def fSql(e: String) = s"CAST($e AS DECIMAL(4,2))"
  private[operators] def sumMoneySql(e: String) =
    s"CAST(CAST(SUM($e) AS VARCHAR) AS DOUBLE)"

  // --- q1_pricing_summary: TPC-H Q1 shape -------------------------------
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumMoney(m(col("l_quantity"))).as("sum_qty"),
        sumMoney(m(col("l_extendedprice"))).as("sum_base_price"),
        sumMoney(m(col("l_extendedprice")) * f(lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        sumMoney(m(col("l_extendedprice")) * f(lit(1) - col("l_discount"))
          * f(lit(1) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price",
        round(col("sum_base_price") / col("count_order"), 6))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order")
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sumMoneySql(mSql("l_quantity"))} AS sum_qty,
       |  ${sumMoneySql(mSql("l_extendedprice"))} AS sum_base_price,
       |  ${sumMoneySql(mSql("l_extendedprice") + " * " + fSql("1 - l_discount"))} AS sum_disc_price,
       |  ${sumMoneySql(mSql("l_extendedprice") + " * " + fSql("1 - l_discount") + " * " + fSql("1 + l_tax"))} AS sum_charge,
       |  round(${sumMoneySql(mSql("l_quantity"))} / COUNT(*), 6) AS avg_qty,
       |  round(${sumMoneySql(mSql("l_extendedprice"))} / COUNT(*), 6) AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // --- q1_incremental: incremental maintenance of the pricing summary ----
  /** The Q1 report maintained INCREMENTALLY — the relational face of the
    * CDC maintained-view family (`ns_du_incremental`, `fileSizeCountStream`
    * …): yesterday's base partials merge with today's delta partials
    * instead of rescanning the corpus, the plan a 100 TB daily report
    * actually runs. Both sides reduce to (flag, status) partial rows
    * carrying EXACT decimal sums and counts (cast to double only at
    * output — decimal addition is associative, so merged ≡ full-rescan
    * bit-for-bit, which is precisely what the plain full-scan oracle
    * proves on every run); avg columns are re-derived from the MERGED
    * sums, never averaged across partials (the classic IVM decomposition:
    * avg is not additive, sum/count are). Deterministic test binding for
    * the base/delta split: l_orderkey % 10.
    */
  def q1Incremental(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    def partial(part: DataFrame): DataFrame =
      part.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(m(col("l_quantity"))).as("p_qty"),
          sum(m(col("l_extendedprice"))).as("p_base"),
          sum(m(col("l_extendedprice")) * f(lit(1) - col("l_discount")))
            .as("p_disc"),
          sum(m(col("l_extendedprice")) * f(lit(1) - col("l_discount"))
            * f(lit(1) + col("l_tax"))).as("p_charge"),
          count(lit(1)).as("p_n"))
    // NULL-safe split: a plain `% 10 =!= 0` / `% 10 === 0` pair both
    // evaluate NULL on a NULL key and would drop the row from BOTH
    // partials — the split must PARTITION the filtered table for the
    // merged ≡ rescan claim to hold.
    val splitKey = coalesce(col("l_orderkey"), lit(0L)) % 10
    partial(l.filter(splitKey =!= 0))
      .unionByName(partial(l.filter(splitKey === 0)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_base")).cast("double").as("sum_base_price"),
        sum(col("p_disc")).cast("double").as("sum_disc_price"),
        sum(col("p_charge")).cast("double").as("sum_charge"),
        sum(col("p_n")).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price",
        round(col("sum_base_price") / col("count_order"), 6))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order")
  }

  /** Oracle: the PLAIN full-scan Q1 — the gate itself proves the
    * incremental merge equals the rescan.
    */
  val q1IncrementalSql: String = q1Sql

  // --- q3_shipping_priority: join + agg + top-k -------------------------
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1995-03-15").cast("timestamp")
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sumMoney(m(col("l_extendedprice")) * f(lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, o_orderdate,
       |  ${sumMoneySql(mSql("l_extendedprice") + " * " + fSql("1 - l_discount"))} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1995-03-15'
       |  AND l_shipdate > TIMESTAMP '1995-03-15'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey ASC
       |LIMIT 10""".stripMargin

  // --- q5_local_supplier_volume: 6-way join, dims broadcast -------------
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(c),
        o("o_custkey") === c("c_custkey") &&
          c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sumMoney(m(col("l_extendedprice")) * f(lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  val q5Sql: String =
    s"""SELECT n_name,
       |  ${sumMoneySql(mSql("l_extendedprice") + " * " + fSql("1 - l_discount"))} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name ASC""".stripMargin

  // --- q_market_segment_share: filtered agg + HAVING --------------------
  def qMarketSegmentShare(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("order_count"),
        sumMoney(m(col("o_totalprice"))).as("total_revenue"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("urgent_orders"))
      .filter(col("order_count") > 10)
      .orderBy(col("c_mktsegment").asc)
  }

  val qMarketSegmentShareSql: String =
    s"""SELECT c_mktsegment,
       |  COUNT(*) AS order_count,
       |  ${sumMoneySql(mSql("o_totalprice"))} AS total_revenue,
       |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |HAVING COUNT(*) > 10
       |ORDER BY c_mktsegment ASC""".stripMargin

  // --- q_top_orders_per_cust: window rank-per-group ---------------------
  def qTopOrdersPerCust(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_price"), col("rk").cast("bigint").as("rk"))
      .filter(col("o_custkey") <= 100)
      .orderBy(col("o_custkey").asc, col("rk").asc)
  }

  val qTopOrdersPerCustSql: String =
    """SELECT o_custkey, o_orderkey, o_price, rk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    round(o_totalprice, 2) AS o_price,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders
      |) t WHERE rk <= 3 AND o_custkey <= 100
      |ORDER BY o_custkey ASC, rk ASC""".stripMargin

  // --- q_rollup_sales: hierarchical ROLLUP ------------------------------
  def qRollupSales(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.rollup(year(col("l_shipdate")).as("ship_year"), col("l_returnflag"))
      .agg(
        sumMoney(m(col("l_extendedprice"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("ship_year").asc_nulls_first,
        col("l_returnflag").asc_nulls_first)
  }

  val qRollupSalesSql: String =
    s"""SELECT year(l_shipdate) AS ship_year, l_returnflag,
       |  ${sumMoneySql(mSql("l_extendedprice"))} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |GROUP BY ROLLUP (ship_year, l_returnflag)
       |ORDER BY ship_year ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin

  // --- q_distinct_counts: exact multi-distinct --------------------------
  def qDistinctCounts(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.agg(
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      count(lit(1)).as("n_rows"))
  }

  val qDistinctCountsSql: String =
    """SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem""".stripMargin

  // --- q_approx_distinct: HLL sketch (rows-only check: approximate) -----
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.agg(
      approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
  }

  // --- q_cust_no_orders: anti join (customers with no urgent order) -----
  def qCustNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey").asc)
  }

  val qCustNoOrdersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey ASC""".stripMargin

  // --- q_cust_with_big_orders: semi join --------------------------------
  def qCustWithBigOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey").asc)
  }

  val qCustWithBigOrdersSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey ASC""".stripMargin

  // --- q_set_ops: UNION / INTERSECT / EXCEPT ----------------------------
  /** Set operations over the two key sets, computed in ONE shuffle: tag
    * each side with membership flags, union, and max the flags per key
    * (map-side combinable, so duplicates collapse before the exchange) —
    * `intersect` = both flags set, `except` = left-only. The literal
    * INTERSECT/EXCEPT formulation is the registered oracle; the
    * `.intersect`/`.except` operator plan shuffles each distinct set and
    * then joins them (4+ exchanges of the same keys, ~6 sequential stage
    * barriers measured at sf0.1), where this is 2 scans + 1 key shuffle +
    * a 2-row rollup — the shape that survives 100 TB.
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val shipped96 = l.filter(year(col("l_shipdate")) === 1996)
      .select(col("l_orderkey").as("okey"),
        lit(1).as("in_ship"), lit(0).as("in_urg"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("okey"),
        lit(0).as("in_ship"), lit(1).as("in_urg"))
    shipped96.union(urgent)
      .groupBy(col("okey"))
      .agg(max(col("in_ship")).as("in_ship"), max(col("in_urg")).as("in_urg"))
      .withColumn("setop",
        when(col("in_ship") === 1 && col("in_urg") === 1, "intersect")
          .when(col("in_ship") === 1, "except"))
      .filter(col("setop").isNotNull)
      .groupBy(col("setop")).agg(count(lit(1)).as("n"))
      .orderBy(col("setop").asc)
  }

  val qSetOpsSql: String =
    """WITH shipped96 AS (
      |  SELECT DISTINCT l_orderkey AS okey FROM lineitem WHERE year(l_shipdate) = 1996
      |), urgent AS (
      |  SELECT DISTINCT o_orderkey AS okey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), tagged AS (
      |  SELECT okey, 'intersect' AS setop FROM (SELECT okey FROM shipped96 INTERSECT SELECT okey FROM urgent) a
      |  UNION ALL
      |  SELECT okey, 'except' AS setop FROM (SELECT okey FROM shipped96 EXCEPT SELECT okey FROM urgent) b
      |)
      |SELECT setop, COUNT(*) AS n FROM tagged GROUP BY setop ORDER BY setop ASC""".stripMargin

  // --- q_order_lateness: CASE/date arithmetic + conditional agg ---------
  def qOrderLateness(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .withColumn("ship_lag_days",
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")))
      .withColumn("lateness",
        when(col("ship_lag_days") <= 30, "fast")
          .when(col("ship_lag_days") <= 90, "normal")
          .otherwise("slow"))
      .groupBy(col("o_orderpriority"), col("lateness"))
      .agg(count(lit(1)).as("n_items"),
        sumMoney(m(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("o_orderpriority").asc, col("lateness").asc)
  }

  val qOrderLatenessSql: String =
    s"""SELECT o_orderpriority,
       |  CASE WHEN lag_days <= 30 THEN 'fast'
       |       WHEN lag_days <= 90 THEN 'normal' ELSE 'slow' END AS lateness,
       |  COUNT(*) AS n_items,
       |  ${sumMoneySql(mSql("l_extendedprice"))} AS revenue
       |FROM (
       |  SELECT o_orderpriority, l_extendedprice,
       |    datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag_days
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |) t
       |GROUP BY o_orderpriority, lateness
       |ORDER BY o_orderpriority ASC, lateness ASC""".stripMargin

  // --- q_small_qty_revenue: TPC-H Q17 shape (per-group scalar subquery) --
  /** Revenue from lineitems whose quantity is under 20% of their part's
    * average — the correlated-scalar-subquery shape. The average test is
    * rewritten exactly in integers/decimals: qty < 0.2·(sumq/n) ⇔
    * qty·5·n < sumq, so no division touches the predicate and both
    * engines agree bit-for-bit. Plan: per-part partial aggregate joined
    * back to the fact on the same key (one shuffle, co-partitioned).
    */
  def qSmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_partkey"), m(col("l_quantity")).as("qty"),
      m(col("l_extendedprice")).as("price"))
    val perPart = l.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sumq"), count(lit(1)).as("nq"))
    l.join(perPart, "l_partkey")
      .filter(col("qty") * 5 * col("nq") < col("sumq"))
      .agg(round(sum(col("price")).cast("double") / 7, 6).as("avg_yearly"))
  }

  val qSmallQtyRevenueSql: String =
    s"""WITH l AS (
       |  SELECT l_partkey, ${mSql("l_quantity")} AS qty,
       |    ${mSql("l_extendedprice")} AS price
       |  FROM lineitem
       |), per_part AS (
       |  SELECT l_partkey, SUM(qty) AS sumq, COUNT(*) AS nq
       |  FROM l GROUP BY l_partkey
       |)
       |SELECT round(CAST(SUM(l.price) AS DOUBLE) / 7, 6) AS avg_yearly
       |FROM l JOIN per_part p ON l.l_partkey = p.l_partkey
       |WHERE l.qty * 5 * p.nq < p.sumq""".stripMargin

  // --- q_cumulative_revenue: running total window --------------------------
  /** Monthly revenue per order priority with a running cumulative sum —
    * the running-total window shape. The cumulative sum stays DECIMAL
    * through the window (exact, order-fixed by the frame) and casts to
    * DOUBLE only on emit.
    */
  def qCumulativeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val monthly = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(m(col("l_extendedprice"))).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("month").asc)
      .rowsBetween(Long.MinValue, 0)
    monthly.select(col("o_orderpriority"), col("month"),
        col("rev").cast("double").as("revenue"),
        sum(col("rev")).over(w).cast("double").as("cum_revenue"))
      .orderBy(col("o_orderpriority").asc, col("month").asc)
  }

  val qCumulativeRevenueSql: String =
    s"""WITH monthly AS (
       |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
       |    SUM(${mSql("l_extendedprice")}) AS rev
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY o_orderpriority, month
       |)
       |SELECT o_orderpriority, month, CAST(rev AS DOUBLE) AS revenue,
       |  CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY month ASC
       |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
       |FROM monthly
       |ORDER BY o_orderpriority ASC, month ASC""".stripMargin

  // --- q_median_order_value: exact median via window ranks ----------------
  /** Exact per-segment median order value — sort-based (row_number against
    * the partition count picks the middle one or two rows; their DECIMAL
    * mean is exact), NOT percentile_approx: approximate sketches differ
    * across engines, exact rank arithmetic cannot.
    */
  def qMedianOrderValue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val j = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), m(col("o_totalprice")).as("price"),
        col("o_orderkey"))
    // Median rank via the distributed scan state — a row_number window
    // partitioned by the 5 market segments (kept as the oracle SQL) caps
    // parallelism at 5 tasks over the full orders table; see PrefixScan.
    PrefixScan.scanState(j, Seq("c_mktsegment"),
        Seq(col("price"), col("o_orderkey")), lit(1L),
        rankOut = Some("rn"), totalOut = Some("n"))
      .filter(col("rn") * 2 === col("n") || col("rn") * 2 === col("n") + 1 ||
        col("rn") * 2 === col("n") + 2)
      .groupBy(col("c_mktsegment"))
      .agg((sum(col("price")).cast("double") / count(lit(1)))
        .as("median_value"), max(col("n")).as("n_orders"))
      .orderBy(col("c_mktsegment").asc)
  }

  val qMedianOrderValueSql: String =
    s"""WITH j AS (
       |  SELECT c_mktsegment, ${mSql("o_totalprice")} AS price, o_orderkey
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |), ranked AS (
       |  SELECT c_mktsegment, price,
       |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
       |      ORDER BY price ASC, o_orderkey ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
       |  FROM j
       |)
       |SELECT c_mktsegment,
       |  CAST(SUM(price) AS DOUBLE) / COUNT(*) AS median_value,
       |  CAST(MAX(n) AS BIGINT) AS n_orders
       |FROM ranked
       |WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2
       |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin

  // --- q_promo_revenue: promo revenue share per month (TPC-H Q14 shape) --
  /** Monthly promo-type revenue share over 1995: fact scan with a pushed
    * shipdate range filter, broadcast join to `part`, conditional decimal
    * aggregation; the share division runs AFTER exact aggregation with
    * identical double arithmetic on both engines.
    */
  def qPromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    val rev = m(col("l_extendedprice")) * f(lit(1) - col("l_discount"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(month(col("l_shipdate")).as("month"))
      .agg(
        sumMoney(when(col("p_type") === "PROMO", rev).otherwise(m(lit(0))))
          .as("promo_revenue"),
        sumMoney(rev).as("total_revenue"))
      .withColumn("promo_pct",
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6))
      .orderBy(col("month").asc)
  }

  val qPromoRevenueSql: String = {
    val rev = mSql("l_extendedprice") + " * " + fSql("1 - l_discount")
    s"""SELECT CAST(month(l_shipdate) AS INTEGER) AS month,
       |  ${sumMoneySql(s"CASE WHEN p_type = 'PROMO' THEN $rev ELSE ${mSql("0")} END")} AS promo_revenue,
       |  ${sumMoneySql(rev)} AS total_revenue,
       |  round(100.0 * ${sumMoneySql(s"CASE WHEN p_type = 'PROMO' THEN $rev ELSE ${mSql("0")} END")}
       |    / ${sumMoneySql(rev)}, 6) AS promo_pct
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
       |  AND l_shipdate < TIMESTAMP '1996-01-01'
       |GROUP BY month ORDER BY month ASC""".stripMargin
  }

  // --- q_disjunctive_revenue: OR-of-conjunctions predicate (Q19 shape) ----
  /** Discounted revenue under a disjunction of brand/size/quantity
    * conjunctions — the predicate Catalyst can't turn into a single range,
    * exercising disjunctive filter pushdown through a broadcast join.
    */
  def qDisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .filter(cond)
      .groupBy(col("p_brand"))
      .agg(
        sumMoney(m(col("l_extendedprice")) * f(lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand").asc)
  }

  val qDisjunctiveRevenueSql: String =
    s"""SELECT p_brand,
       |  ${sumMoneySql(mSql("l_extendedprice") + " * " + fSql("1 - l_discount"))} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |    AND l_quantity BETWEEN 1 AND 11)
       |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |    AND l_quantity BETWEEN 10 AND 20)
       |  OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       |    AND l_quantity BETWEEN 20 AND 30)
       |GROUP BY p_brand ORDER BY p_brand ASC""".stripMargin

  // --- q_cheapest_supplier: TPC-H Q2 shape (min-per-group + dim join) -----
  /** Cheapest supplier per part, derived from observed lineitem unit
    * prices (this schema carries no partsupp table — the fact table IS the
    * price source, which also makes the min-per-group run over the big
    * side: one shuffle on l_partkey for the window min, then a broadcast
    * supplier join for the name). Ties on price break to the smallest
    * suppkey — deterministic on both engines. Unit price is EXACT integer
    * micro-units: cents·10,000 integer-divided by the (whole-number)
    * quantity — the earlier `round(double_division, 6)` emit hit the
    * engines' round-half disagreement on quotients landing exactly on the
    * half-microunit boundary (caught live by the r15 sf1 gate: 4 rows at
    * 10× whose 133.7415625 rounded up in Spark and down in DuckDB); an
    * integral divide of non-negative operands cannot disagree.
    */
  def qCheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val up = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)" +
          " div CAST(l_quantity AS BIGINT)").as("unit_price_micro"))
    val best = up
      .withColumn("min_price", min(col("unit_price_micro")).over(w))
      .filter(col("unit_price_micro") === col("min_price"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_suppkey")).as("best_suppkey"),
        min(col("min_price")).as("best_unit_price_micro"))
    best
      .join(broadcast(Tables.supplier(spark, dir)),
        col("best_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("best_suppkey"),
        col("best_unit_price_micro"), col("s_name"))
      .orderBy(col("l_partkey").asc)
  }

  val qCheapestSupplierSql: String =
    """WITH up AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 1000000 AS BIGINT)
      |      // CAST(l_quantity AS BIGINT) AS unit_price_micro
      |  FROM lineitem
      |), m AS (
      |  SELECT l_partkey, l_suppkey, unit_price_micro,
      |    MIN(unit_price_micro) OVER (PARTITION BY l_partkey) AS min_price
      |  FROM up
      |), best AS (
      |  SELECT l_partkey, MIN(l_suppkey) AS best_suppkey,
      |    MIN(min_price) AS best_unit_price_micro
      |  FROM m WHERE unit_price_micro = min_price GROUP BY l_partkey
      |)
      |SELECT b.l_partkey, b.best_suppkey, b.best_unit_price_micro, s.s_name
      |FROM best b JOIN supplier s ON b.best_suppkey = s.s_suppkey
      |ORDER BY b.l_partkey ASC""".stripMargin

  // --- q_idle_rich_custs: TPC-H Q22 shape (scalar subquery + anti join) ---
  /** Customers with above-average positive balance, rolled up per nation
    * with the count of those who never ordered (the Q22 "idle rich"
    * segment). The global average is a 1-row aggregate broadcast back
    * over the customer scan (the scale-correct scalar-subquery plan:
    * map-side partial agg → 1 row → broadcast; never a single-partition
    * window over the full table). The comparison is division-free —
    * `bal * n_pos > total_pos` in exact decimal — so both engines decide
    * membership identically.
    */
  def qIdleRichCusts(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val stats = cust.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("total_pos"), count(lit(1)).as("n_pos"))
    val rich = cust.crossJoin(broadcast(stats))
      .filter(col("bal") * col("n_pos") > col("total_pos"))
    rich
      .join(Tables.orders(spark, dir).select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rich"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_idle_rich"),
        sum(col("bal")).cast("double").as("total_bal"))
      .orderBy(col("c_nationkey").asc)
  }

  val qIdleRichCustsSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer
      |), s AS (
      |  SELECT SUM(bal) AS total_pos, COUNT(*) AS n_pos FROM c WHERE bal > 0
      |), rich AS (
      |  SELECT c.c_custkey, c.c_nationkey, c.bal
      |  FROM c, s WHERE c.bal * s.n_pos > s.total_pos
      |), o AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |)
      |SELECT c_nationkey, COUNT(*) AS n_rich,
      |  CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_idle_rich,
      |  CAST(SUM(bal) AS DOUBLE) AS total_bal
      |FROM rich r LEFT JOIN o ON r.c_custkey = o.o_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey ASC""".stripMargin

  /** The registered relational queries. `fanned`: decimal-chain scans
    * without an early collapse of the corpus.
    */
  val registry: Seq[Query] = Seq(
    Query("q_cheapest_supplier", qCheapestSupplier, qCheapestSupplierSql),
    Query("q_idle_rich_custs", qIdleRichCusts, qIdleRichCustsSql),
    Query("q_promo_revenue", qPromoRevenue, qPromoRevenueSql, fanned),
    Query("q_disjunctive_revenue", qDisjunctiveRevenue, qDisjunctiveRevenueSql),
    Query("q_median_order_value", qMedianOrderValue, qMedianOrderValueSql),
    Query("q_cumulative_revenue", qCumulativeRevenue, qCumulativeRevenueSql),
    Query("q_small_qty_revenue", qSmallQtyRevenue, qSmallQtyRevenueSql, fanned),
    Query("q1_pricing_summary", q1PricingSummary, q1Sql, fanned),
    Query("q1_incremental", q1Incremental, q1IncrementalSql, fanned),
    Query("q3_shipping_priority", q3ShippingPriority, q3Sql),
    Query("q5_local_supplier_volume", q5LocalSupplierVolume, q5Sql),
    Query("q_market_segment_share", qMarketSegmentShare,
      qMarketSegmentShareSql),
    Query("q_top_orders_per_cust", qTopOrdersPerCust, qTopOrdersPerCustSql),
    Query("q_rollup_sales", qRollupSales, qRollupSalesSql, fanned),
    Query("q_distinct_counts", qDistinctCounts, qDistinctCountsSql, fanned),
    new Query("q_approx_distinct", qApproxDistinct, None, None),
    Query("q_cust_no_orders", qCustNoOrders, qCustNoOrdersSql),
    Query("q_cust_with_big_orders", qCustWithBigOrders, qCustWithBigOrdersSql),
    Query("q_set_ops", qSetOps, qSetOpsSql),
    Query("q_order_lateness", qOrderLateness, qOrderLatenessSql, fanned))
}
