package graft.operators

import graft.{Query, Tables}
import graft.Query.fanned
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extended relational query surface (SURVEY §2.B, round 5): the remaining
  * classic TPC-H shapes expressible over the reduced testdata schema (no
  * partsupp / shipmode / commitdate columns, so Q9/Q16 are adapted), plus a
  * lag-window gap analysis. Reference query surface: these are the shapes a
  * Spark/Hive user runs over data in the reference store via its Hadoop
  * FileSystem facade (/root/reference/hadoop-ozone/ozonefs/).
  *
  * Scale notes (100 TB discipline, same as Relational.scala):
  *  - every dimension join (nation/region/supplier/customer/part) is an
  *    explicit `broadcast`, so the fact scan (lineitem/orders) avoids a
  *    shuffle for a dim lookup. Caveat: customer/part grow with scale
  *    factor — the broadcast assumes they fit the driver/executor
  *    broadcast threshold; at full 100 TB scale those two would exceed it
  *    and Spark would (correctly) fall back to a shuffled hash join;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle once on the order key,
  *    with date filters pushed to the parquet scan before the shuffle;
  *  - global extrema (Q15's max) are 1-row aggregates broadcast back over
  *    the per-key aggregate, never a single-partition window;
  *  - money aggregates follow the §4 oracle discipline: exact DECIMAL
  *    products summed associatively, cast to DOUBLE only at output.
  */
object RelationalExt {

  import Relational.{f, fSql, m, mSql, sumMoney, sumMoneySql}
  private def revenue: Column = m(col("l_extendedprice")) * f(lit(1) - col("l_discount"))
  private def revenueSql: String = mSql("l_extendedprice") + " * " + fSql("1 - l_discount")

  // --- q7_nation_trade: TPC-H Q7 volume-shipping shape ------------------

  /** Bilateral trade volume between two nations by ship year: lineitem
    * joined to its supplier's nation and (via orders) its customer's
    * nation, keeping only the two directed pairs. One fact-fact shuffle
    * (lineitem ⋈ orders on orderkey); supplier/customer/nation are
    * broadcast; the year filter is pushed to the lineitem scan.
    */
  def q7NationTrade(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
        (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sumMoney(revenue).as("revenue"))
      .orderBy(col("supp_nation").asc, col("cust_nation").asc, col("l_year").asc)
  }

  val q7Sql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${sumMoneySql(revenueSql)} AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
       |    l_extendedprice, l_discount
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1998-01-01'
       |    AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
       |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
       |) t
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin

  // --- q8_market_share: TPC-H Q8 national-market-share shape ------------

  /** NATION_5's share of ECONOMY-part revenue sold into the ASIA market
    * per order year. Numerator and denominator are exact decimal sums in
    * ONE aggregate pass (conditional sum, no self-join); the share is a
    * single double division at output, bit-identical across engines.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val p = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .select("p_partkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val nCust = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("cn_nk"), col("n_regionkey"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val nSupp = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("cn_nk"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("sn_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", revenue)
          .otherwise(m(lit(0)) * f(lit(0)))).as("nation_vol_d"),
        sum(revenue).as("total_vol_d"))
      .select(col("o_year"),
        (col("nation_vol_d").cast("double") / col("total_vol_d").cast("double"))
          .as("mkt_share"),
        col("total_vol_d").cast("double").as("total_volume"))
      .orderBy(col("o_year").asc)
  }

  val q8Sql: String =
    s"""SELECT o_year,
       |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol
       |    ELSE ${mSql("0")} * ${fSql("0")} END) AS DOUBLE)
       |    / CAST(SUM(vol) AS DOUBLE) AS mkt_share,
       |  ${sumMoneySql("vol")} AS total_volume
       |FROM (
       |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       |    n2.n_name AS supp_nation, $revenueSql AS vol
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01'
       |    AND o_orderdate < TIMESTAMP '1998-01-01'
       |) t
       |GROUP BY o_year
       |ORDER BY o_year ASC""".stripMargin

  // --- q9_product_profit: TPC-H Q9 shape (cost adapted) -----------------

  /** Profit per supplier nation and year for parts whose name contains
    * 'gear'. The schema has no partsupp.ps_supplycost, so cost is adapted
    * to half the part's retail price per unit — the shape (5-way join,
    * LIKE-filtered part dim, two-term exact-decimal amount) is Q9's.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    val p = Tables.part(spark, dir).filter(col("p_name").contains("gear"))
      .select("p_partkey", "p_retailprice")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val amount = revenue -
      m(col("p_retailprice")) * f(lit(0.5)) * m(col("l_quantity"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sumMoney(amount).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  val q9Sql: String =
    s"""SELECT nation, o_year,
       |  ${sumMoneySql("amount")} AS sum_profit
       |FROM (
       |  SELECT n_name AS nation,
       |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       |    $revenueSql
       |      - ${mSql("p_retailprice")} * ${fSql("0.5")} * ${mSql("l_quantity")}
       |      AS amount
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE p_name LIKE '%gear%'
       |) t
       |GROUP BY nation, o_year
       |ORDER BY nation ASC, o_year DESC""".stripMargin

  // --- q10_returned_items: TPC-H Q10 shape ------------------------------

  /** Top 20 customers by revenue lost to returns for orders placed in
    * 1996-Q4. Customer/nation are broadcast onto the one lineitem⋈orders
    * shuffle; the top-20 is a global sort of the (small) per-customer
    * aggregate with a deterministic custkey tie-break.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sumMoney(revenue).as("revenue"),
        max(m(col("c_acctbal")).cast("double")).as("c_acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${sumMoneySql(revenueSql)} AS revenue,
       |  CAST(MAX(${mSql("c_acctbal")}) AS DOUBLE) AS c_acctbal
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-10-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey ASC
       |LIMIT 20""".stripMargin

  // --- q13_order_count_dist: TPC-H Q13 shape ----------------------------

  /** Distribution of customers by how many non-urgent orders they placed,
    * including zero-order customers (the left join). Two aggregations:
    * per-customer count (shuffle on custkey), then the tiny histogram.
    */
  def q13OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c.c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey
      |) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --- q15_top_supplier: TPC-H Q15 shape --------------------------------

  /** Supplier(s) with the maximum revenue over 1996-Q1 shipments. The max
    * is a 1-row aggregate of the per-supplier rollup, broadcast back as a
    * cross join — the scalar-subquery plan that scales (never a global
    * window). Membership compares exact decimals; doubles only at output.
    */
  /** Pre-checkpoint per-supplier revenue frame of [[q15TopSupplier]]
    * (PLANS probe `q15_top_supplier__pre_ckpt`) — the filtered lineitem
    * scan + aggregation the checkpoint truncates away.
    */
  private[graft] def q15PerSuppRaw(spark: SparkSession,
      dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenue).as("total_rev_d"))

  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // Materialized once: maxRev derives from perSupp, so without this Spark
    // executes the filtered lineitem scan + per-supplier aggregation twice.
    // localCheckpoint (not persist) so repeated invocations don't silently
    // share a plan-keyed cache entry; the stored result is one row per
    // supplier — tiny at any scale.
    val perSupp = q15PerSuppRaw(spark, dir).localCheckpoint()
    val maxRev = perSupp.agg(max(col("total_rev_d")).as("max_rev_d"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    perSupp.crossJoin(broadcast(maxRev))
      .filter(col("total_rev_d") === col("max_rev_d"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev_d").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey").asc)
  }

  val q15Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey, SUM($revenueSql) AS total_rev_d
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY l_suppkey
       |)
       |SELECT s_suppkey, s_name, CAST(total_rev_d AS DOUBLE) AS total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_rev_d = (SELECT MAX(total_rev_d) FROM rev)
       |ORDER BY s_suppkey ASC""".stripMargin

  // --- q16_supplier_variety: TPC-H Q16 shape (adapted) ------------------

  /** How many distinct suppliers have shipped each (brand, type, size)
    * part group, excluding one brand and PROMO parts. The schema has no
    * partsupp, so supply relationships are observed from lineitem. The
    * distinct-agg is a two-phase shuffle (dedup on the full grouping key +
    * suppkey, then count) — Catalyst plans this via expand/partial-agg.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
      .select("p_partkey", "p_brand", "p_type", "p_size")
    // Observed supply relationships, deduplicated BEFORE the part join:
    // lineitem repeats each (part, supplier) pair many times, and the
    // distinct here runs with map-side partial dedup — so the join and the
    // downstream distinct-agg expand see one row per relationship, not one
    // per lineitem (at 100 TB that's orders of magnitude fewer rows into
    // the countDistinct shuffle).
    val l = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").dropDuplicates("l_partkey", "l_suppkey")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin

  // --- q4_order_priority: TPC-H Q4 shape (late-shipment EXISTS) ---------

  /** Orders placed in 1996-Q3 with at least one lineitem shipped more than
    * 60 days after the order date, counted per priority. The schema has no
    * commitdate/receiptdate, so "late" is adapted to ship-lag > 60 days.
    * The EXISTS is a left-semi hash join on orderkey with the date
    * comparison as the join residual — one fact-fact shuffle, no pair
    * expansion, and the quarter filter is pushed to the orders scan.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '60' DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority").asc)
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority ASC""".stripMargin

  // --- q6_forecast_revenue: TPC-H Q6 shape ------------------------------

  /** Revenue increase from hypothetically eliminating mid-range discounts
    * on small quantities in 1996. Pure scan + filter + 1-row aggregate —
    * every predicate pushes to the parquet scan; the sum is an exact
    * decimal partial aggregate (no shuffle beyond the 1-row combine).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .filter(col("l_discount").between(0.05, 0.07))
      .filter(col("l_quantity") < 24)
      .agg(sumMoney(m(col("l_extendedprice")) * f(col("l_discount")))
        .as("revenue"))

  val q6Sql: String =
    s"""SELECT CAST(SUM(${mSql("l_extendedprice")} * ${fSql("l_discount")})
       |  AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  // --- q11_revenue_concentration: TPC-H Q11 shape (adapted) -------------

  /** Parts whose observed revenue exceeds 1.5x the per-part mean — Q11's
    * "important stock" fraction predicate restated over lineitem (no
    * partsupp in the schema). The comparison is division-free in exact
    * BIGINT tenth-milli units (the revenue sum has scale 4, so x10000 is
    * integral — x100 would truncate in Spark but round in DuckDB): a
    * chained decimal product would overflow Spark's 38-digit precision.
    * The global total and part count form a 1-row aggregate broadcast back
    * over the per-part rollup — never a global window.
    */
  def q11RevenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(revenue) * 10000).cast("long").as("rev_u"))
    val tot = perPart.agg(sum(col("rev_u")).as("tot_u"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("rev_u") * 2 * col("n_parts") > col("tot_u") * 3)
      .select(col("l_partkey"),
        (col("rev_u").cast("double") / 10000).as("part_revenue"))
      .orderBy(col("part_revenue").desc, col("l_partkey").asc)
  }

  val q11Sql: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |    CAST(SUM($revenueSql) * 10000 AS BIGINT) AS rev_u
       |  FROM lineitem GROUP BY l_partkey
       |), t AS (
       |  SELECT CAST(SUM(rev_u) AS BIGINT) AS tot_u,
       |    COUNT(*) AS n_parts FROM pp
       |)
       |SELECT l_partkey, CAST(rev_u AS DOUBLE) / 10000 AS part_revenue
       |FROM pp, t
       |WHERE rev_u * 2 * n_parts > tot_u * 3
       |ORDER BY part_revenue DESC, l_partkey ASC""".stripMargin

  // --- q18_large_volume: TPC-H Q18 shape --------------------------------

  /** Customers who placed orders totalling more than 250 units. Per-order
    * quantity rollup (one shuffle on orderkey), HAVING filter shrinks the
    * set before the orders join (second shuffle) and the broadcast
    * customer lookup. Quantities sum as exact decimals.
    */
  def q18LargeVolume(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(m(col("l_quantity"))).as("total_qty_d"))
      .filter(col("total_qty_d") > 250)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"),
        m(col("o_totalprice")).cast("double").as("o_totalprice"),
        col("total_qty_d").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
  }

  val q18Sql: String =
    s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       |  CAST(${mSql("o_totalprice")} AS DOUBLE) AS o_totalprice,
       |  CAST(total_qty_d AS DOUBLE) AS total_qty
       |FROM (
       |  SELECT l_orderkey, SUM(${mSql("l_quantity")}) AS total_qty_d
       |  FROM lineitem GROUP BY l_orderkey HAVING total_qty_d > 250
       |) po
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey ASC""".stripMargin

  // --- q21_waiting_supplier: TPC-H Q21 shape (adapted) ------------------

  /** Suppliers who were the SOLE late shipper on multi-supplier orders
    * ("kept orders waiting"), top 20 by such orders. Q21's correlated
    * EXISTS / NOT EXISTS pair collapses into a two-level aggregate:
    * dedup to (order, supplier, ever-late) first — a map-side-combinable
    * aggregate, unlike an expand-based COUNT DISTINCT — then one tiny
    * per-order rollup picks orders with >1 supplier exactly 1 of whom was
    * late (min-if identifies them). One fact-fact shuffle on orderkey, no
    * lineitem self-joins. "Late" = shipped > 60 days after order date.
    */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    val g = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '60' DAY"),
          1L).otherwise(0L))
    val perSupp = g.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("late")).as("n_late"),
        min(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    perOrder.filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(s), col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(20)
  }

  val q21Sql: String =
    """SELECT s_suppkey, s_name, numwait
      |FROM (
      |  SELECT late_supp, COUNT(*) AS numwait
      |  FROM (
      |    SELECT l_orderkey,
      |      COUNT(DISTINCT l_suppkey) AS n_supp,
      |      COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
      |      MIN(CASE WHEN late THEN l_suppkey END) AS late_supp
      |    FROM (
      |      SELECT l_orderkey, l_suppkey,
      |        l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    ) g GROUP BY l_orderkey
      |  ) po
      |  WHERE n_supp > 1 AND n_late = 1
      |  GROUP BY late_supp
      |) w
      |JOIN supplier ON late_supp = s_suppkey
      |ORDER BY numwait DESC, s_suppkey ASC
      |LIMIT 20""".stripMargin

  // --- q_order_gap: lag-window inter-order gap --------------------------

  /** Mean days between a customer's consecutive orders, rolled up per
    * market segment. The lag window partitions by custkey — parallel
    * across customers, no global sort. Gaps are integer day diffs; the
    * mean is one double division at output.
    */
  def qOrderGap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_orderdate")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .withColumn("gap_days", datediff(col("o_orderdate"), col("prev_date")).cast("long"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_days")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_gap_days"))
      .orderBy(col("c_mktsegment").asc)
  }

  val qOrderGapSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_gaps,
      |  CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS avg_gap_days
      |FROM (
      |  SELECT o_custkey,
      |    CAST(DATEDIFF('day',
      |      LAG(o_orderdate) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate ASC, o_orderkey ASC),
      |      o_orderdate) AS BIGINT) AS gap_days
      |  FROM orders
      |) g
      |JOIN customer ON g.o_custkey = c_custkey
      |WHERE gap_days IS NOT NULL
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment ASC""".stripMargin

  // --- q12_late_priority: TPC-H Q12 shape (adapted) ---------------------

  /** Late-shipment priority mix per return-flag class (the schema has no
    * shipmode/commitdate, so l_returnflag stands in for shipmode and
    * "late" = shipped > 60 days after order date — same adaptation rule
    * as q4). One fact-fact shuffle on the order key with the ship-year
    * filter pushed to the lineitem scan; the priority split is a
    * conditional count, map-side combinable.
    */
  def q12LatePriority(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .select("l_orderkey", "l_shipdate", "l_returnflag")
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '60' DAY"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag").asc)
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag ASC""".stripMargin

  // --- q20_dominant_supplier: TPC-H Q20 shape (adapted) -----------------

  /** Suppliers who shipped MORE THAN HALF of some promo part's 1995 volume
    * (no partsupp table, so Q20's "excess available stock" test becomes a
    * dominant-share test over shipped quantities — same nested two-level
    * aggregate + semi join shape). Division-free: 2·supp_qty > part_qty
    * compared in exact decimals. The per-(part, supplier) aggregate is
    * map-side combinable off the one lineitem scan; the per-part total
    * reuses it (self-aggregate, no second scan); part/supplier/nation are
    * broadcast dims.
    */
  def q20DominantSupplier(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("forest") ||
        col("p_type").startsWith("PROMO"))
      .select("p_partkey")
    val l95 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
    val perSupp = l95.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("supp_qty"))
    val perPart = perSupp.groupBy(col("l_partkey"))
      .agg(sum(col("supp_qty")).as("part_qty"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    perSupp.join(perPart, "l_partkey")
      .filter(col("supp_qty") * 2 > col("part_qty"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominated_parts"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name").as("nation"),
        col("n_dominated_parts"))
      .orderBy(col("s_name").asc)
  }

  val q20Sql: String =
    """WITH promo AS (
      |  SELECT p_partkey FROM part
      |  WHERE p_name LIKE 'forest%' OR p_type LIKE 'PROMO%'
      |), per_supp AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS supp_qty
      |  FROM lineitem JOIN promo ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-01-01'
      |  GROUP BY l_partkey, l_suppkey
      |), per_part AS (
      |  SELECT l_partkey, SUM(supp_qty) AS part_qty
      |  FROM per_supp GROUP BY l_partkey
      |), dom AS (
      |  SELECT ps.l_suppkey, COUNT(*) AS n_dominated_parts
      |  FROM per_supp ps JOIN per_part pp ON ps.l_partkey = pp.l_partkey
      |  WHERE ps.supp_qty * 2 > pp.part_qty
      |  GROUP BY ps.l_suppkey
      |)
      |SELECT s_name, n_name AS nation, n_dominated_parts
      |FROM dom
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_name ASC""".stripMargin

  // --- q_hll_distinct: deterministic HyperLogLog sketch ------------------

  /** HyperLogLog distinct-count sketch in EXACT integer arithmetic, so the
    * approximate estimate itself is oracle-checkable bit-for-bit (unlike
    * `q_approx_distinct`, whose engine-internal HLL is rows-only).
    * m=1024 registers; register and rank come from two independent
    * QUADRATIC hashes mod the prime 2^31−1 (an affine hash of
    * near-sequential keys leaves lattice structure in the low bits —
    * measured 62% estimate error; the quadratic + prime-modulus pair
    * lands at 1.6%/0.6% error at sf0.01/0.1). The rank is the hash
    * MAGNITUDE's geometric bucket — `rho = k ⟺ h ≥ P/2^k` (P(rho=k)=2^−k,
    * capped at 15) — which only needs `%`, `*` and comparisons, all
    * bit-identical across engines. The harmonic mean stays rational:
    * registers contribute the integer 2^(15−M_r), absent registers 2^15,
    * and the α·m²/denominator estimate is one 64-bit integer division
    * (α = 0.7213/(1+1.079/m) as the exact rational
    * 7213·m / (10000·m + 10790)). Scale shape: one scan, a 1024-group
    * map-side max — the sketch is mergeable across any partitioning, which
    * is the whole point of HLL at 100 TB.
    */
  private val HllP = 2147483647L
  private val hllHashSql =
    s"((x * x % $HllP) * 777777777 + x * 123456789 + 987654321) % $HllP"
  private val hllRankHashSql =
    s"((x * x % $HllP) * 588888888 + x * 22222223 + 11111111) % $HllP"
  private val hllRhoCase = (1 to 14)
    .map(k => s"WHEN h2 >= ${HllP >> k} THEN $k")
    .mkString("CASE ", " ", " ELSE 15 END")

  /** The HLL sketch of a keyed frame (column `x` = the key mod [[HllP]]):
    * one row (hit, denom_hit). Mergeable under ANY partitioning — the
    * per-register MAX is associative+commutative, which HllMergeSpec pins.
    */
  private[graft] def hllSketch(keyed: DataFrame): DataFrame =
    keyed
      .select(expr(s"$hllHashSql % 1024").as("reg"),
        expr(hllRankHashSql).as("h2"))
      .select(col("reg"), expr(hllRhoCase).as("rho"))
      .groupBy(col("reg")).agg(max(col("rho")).as("mr"))
      // 2^(15-mr) as integer arithmetic: 32768 / 2^mr is exact (mr <= 15;
      // POWER returns double in both engines but is exact here, and the
      // division result is an exact integer re-cast).
      .agg(count(lit(1)).as("hit"),
        sum(expr("CAST(32768 / POWER(2, mr) AS BIGINT)")).as("denom_hit"))

  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val m = 1024
    val sk = hllSketch(Tables.lineitem(spark, dir)
      .select(expr(s"l_orderkey % $HllP").as("x")))
    val exact = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    sk.crossJoin(broadcast(exact))
      .select(
        lit(m.toLong).as("m"), col("hit"),
        (col("denom_hit") + (lit(m.toLong) - col("hit")) * 32768L).as("denom"),
        col("exact_distinct"))
      .select(col("m"), col("hit"), col("denom"),
        expr(s"CAST(${7213L * 1024 * 1024 * 1024} AS BIGINT) * 32768 DIV " +
          s"(${10000L * 1024 + 10790} * denom)").as("hll_estimate"),
        col("exact_distinct"))
      .withColumn("err_ppm",
        expr("abs(hll_estimate - exact_distinct) * 1000000 DIV exact_distinct"))
  }

  val qHllSql: String = {
    s"""WITH xs AS (
       |  SELECT l_orderkey % $HllP AS x FROM lineitem
       |), rt AS (
       |  SELECT ($hllHashSql) % 1024 AS reg,
       |    $hllRankHashSql AS h2 FROM xs
       |), regs AS (
       |  SELECT reg, MAX($hllRhoCase) AS mr FROM rt GROUP BY reg
       |), sk AS (
       |  SELECT COUNT(*) AS hit,
       |    CAST(SUM(CAST(32768 / POWER(2, mr) AS BIGINT)) AS BIGINT)
       |      AS denom_hit
       |  FROM regs
       |), ex AS (
       |  SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
       |)
       |SELECT m, hit, denom,
       |  (CAST(${7213L * 1024 * 1024 * 1024} AS BIGINT) * 32768)
       |    // (${10000L * 1024 + 10790} * denom) AS hll_estimate,
       |  exact_distinct,
       |  abs((CAST(${7213L * 1024 * 1024 * 1024} AS BIGINT) * 32768)
       |    // (${10000L * 1024 + 10790} * denom) - exact_distinct)
       |    * 1000000 // exact_distinct AS err_ppm
       |FROM (
       |  SELECT CAST(1024 AS BIGINT) AS m, hit,
       |    denom_hit + (1024 - hit) * 32768 AS denom, exact_distinct
       |  FROM sk, ex
       |) t""".stripMargin
  }

  // --- q_column_stats: ANALYZE-style exact column statistics --------------
  private val StatCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private val NumCols = Set("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Table-level column statistics — row count, per-column exact NDV,
    * null count, and numeric min/max — the stats a cost-based optimizer
    * and a min/max data-skipping layer consume (what
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` collects).
    *
    * Plan shape: one NARROW branch per column — `groupBy(col)` with
    * map-side partial counts (the shuffle carries one (value, count) row
    * per distinct value per task, not the table), then a tiny second
    * aggregate over the ≤NDV-row group frame derives ndv / nulls /
    * min / max / n_rows together; the 11 branches each scan exactly one
    * parquet column and run concurrently. This replaced the single
    * 11-way `countDistinct` aggregate, which planned as an Expand ×12 of
    * every row (measured 4.3 s → the grouped form at sf0.1; identical
    * output bit-for-bit). Still the EXACT variant: per-column distinct
    * state grows with the data, so the 100 TB ANALYZE path remains
    * [[qColumnStatsApprox]]'s constant-size mergeable HLL registers —
    * this form is the oracle anchor whose group frames stay partition-
    * parallel all the way.
    */
  def qColumnStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val branches = StatCols.map { c =>
      val grouped = li.groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
      def mm(f: Column => Column): Column =
        if (NumCols(c)) f(col("k")).cast("double")
        else lit(null).cast("double")
      grouped.agg(
          sum(col("cnt")).as("n_rows"),
          count(when(col("k").isNotNull, 1L)).as("ndv"),
          coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L))
            .as("n_null"),
          mm(min).as("min_num"), mm(max).as("max_num"))
        .select(lit(c).as("col_name"), col("n_rows"), col("ndv"),
          col("n_null"), col("min_num"), col("max_num"))
    }
    branches.reduce(_ unionByName _).orderBy(col("col_name").asc)
  }

  val qColumnStatsSql: String =
    StatCols.map { c =>
      val mn =
        if (NumCols(c)) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val mx =
        if (NumCols(c)) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(DISTINCT $c) AS ndv,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  $mn AS min_num, $mx AS max_num
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name ASC")

  // --- q_column_stats_approx: sketch-NDV ANALYZE (the 100 TB path) --------

  /** Deterministic bigint key in [0, P) per stats column — the HLL input.
    * Integer columns reduce mod P; decimal-valued columns go through the
    * exact cents mapping (DECIMAL(12,2)·100, the [[graft.ObjectStoreView]]
    * discipline); strings through [[Codes.strCode]]; dates through the
    * yyyymmdd integer. Every mapping has a DuckDB twin built from the same
    * constants, so the sketch input — and therefore the estimate — is
    * bit-identical across engines.
    */
  private val DecCols = Set("l_quantity", "l_extendedprice", "l_discount",
    "l_tax")
  private def statKey(c: String): Column = c match {
    case "l_shipdate" =>
      (year(col(c)) * 10000 + month(col(c)) * 100 + dayofmonth(col(c)))
        .cast("bigint")
    case _ if DecCols(c) =>
      (col(c).cast("decimal(12,2)") * 100).cast("bigint") % HllP
    case "l_returnflag" | "l_linestatus" =>
      graft.functions.Codes.strCodeFast(col(c))
    case _ => col(c).cast("bigint") % HllP
  }
  private def statKeySql(c: String): String = c match {
    case "l_shipdate" =>
      s"CAST(year($c) * 10000 + month($c) * 100 + day($c) AS BIGINT)"
    case _ if DecCols(c) =>
      s"(CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT) % $HllP)"
    case "l_returnflag" | "l_linestatus" => graft.functions.Codes.strCodeSql(c)
    case _ => s"(CAST($c AS BIGINT) % $HllP)"
  }

  /** ANALYZE with sketch NDV — the statistics collection you actually run
    * at 100 TB: per-column NDV from the deterministic integer-arithmetic
    * HyperLogLog of [[qHllDistinct]] (m=1024), all 11 columns in ONE scan.
    *
    * Plan shape vs the exact [[qColumnStats]]: no Expand, no exploded
    * register stream — one codegen'd projection computes the 11
    * deterministic bigint keys, and eleven [[graft.functions.HllRegAgg]]
    * instances fold them into 1 KiB register buffers inside a single
    * global ObjectHashAggregate (null counts ride the same pass as
    * declarative sums). Partials merge by elementwise max under any
    * partitioning; the shuffle carries 11 KiB of registers, and the
    * estimator is a 1024-element fold on the single output row.
    * Oracle-gated bit-for-bit like q_hll_distinct: the ESTIMATE itself is
    * deterministic, not just close.
    */
  def qColumnStatsApprox(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.lineitem(spark, dir)
      .select(StatCols.map(c => statKey(c).as(c)): _*)
    val bridge = org.apache.spark.sql.GraftBridge
    val aggs = count(lit(1)).as("n_rows") +: StatCols.flatMap { c =>
      Seq(
        bridge.column(graft.functions.HllRegAgg(
          bridge.expression(col(c))).toAggregateExpression()).as(s"${c}__regs"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    }
    keyed.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(StatCols.map { c =>
        struct(lit(c).as("col_name"), col(s"${c}__nulls").as("n_null"),
          col(s"${c}__regs").as("regs"))
      }: _*)).as("s"))
      .select(col("s.col_name").as("col_name"), col("n_rows"),
        col("s.n_null").as("n_null"), col("s.regs").as("regs"))
      .withColumn("hit", expr(
        "aggregate(regs, CAST(0 AS BIGINT), (a, r) -> a + IF(r > 0, 1L, 0L))"))
      .withColumn("denom_hit", expr(
        "aggregate(regs, CAST(0 AS BIGINT), (a, r) -> a + " +
          "IF(r > 0, CAST(32768 / POWER(2, r) AS BIGINT), 0L))"))
      .withColumn("denom",
        col("denom_hit") + (lit(1024L) - col("hit")) * 32768L)
      .withColumn("ndv_est",
        expr(s"CAST(${7213L * 1024 * 1024 * 1024} AS BIGINT) * 32768 DIV " +
          s"(${10000L * 1024 + 10790} * denom)"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("hit"), col("denom"), col("ndv_est"))
      .orderBy(col("col_name").asc)
  }

  val qColumnStatsApproxSql: String =
    StatCols.map { c =>
      val xe = statKeySql(c)
      s"""SELECT '$c' AS col_name, n_rows, n_null, hit, denom,
         |  CAST(${7213L * 1024 * 1024 * 1024} AS BIGINT) * 32768
         |    // (${10000L * 1024 + 10790} * denom) AS ndv_est
         |FROM (
         |  SELECT n_rows, n_null, hit,
         |    denom_hit + (1024 - hit) * 32768 AS denom
         |  FROM (
         |    SELECT CAST(COUNT(*) AS BIGINT) AS hit,
         |      CAST(SUM(CAST(32768 / POWER(2, mr) AS BIGINT)) AS BIGINT)
         |        AS denom_hit
         |    FROM (
         |      SELECT reg, MAX($hllRhoCase) AS mr
         |      FROM (
         |        SELECT ($hllHashSql) % 1024 AS reg, $hllRankHashSql AS h2
         |        FROM (SELECT $xe AS x FROM lineitem WHERE $xe IS NOT NULL) xs
         |      ) rt GROUP BY reg
         |    ) regs
         |  ) sk,
         |  (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |     CAST(SUM(CASE WHEN $xe IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |       AS n_null FROM lineitem) nn
         |) t""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name ASC")

  // --- q_cube_sales: CUBE over (priority, year) with grouping flags -------
  /** Full CUBE lattice over (order priority, order year): every
    * subtotal combination in one aggregate (the ROLLUP twin is
    * [[Relational]]'s q_rollup_sales; CUBE adds the cross-dimension
    * subtotals). `grouping(col)` flags (0 = value row, 1 = subtotal) are
    * emitted explicitly — NULL dim values can't disambiguate subtotal
    * rows from genuine NULLs, and per-column flags avoid the engines'
    * differing grouping_id bit conventions. One Expand(×4) + one shuffle,
    * exactly the lattice size.
    */
  def qCubeSales(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("bigint"))
      .cube(col("o_orderpriority"), col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_priority"),
        grouping(col("o_year")).cast("bigint").as("g_year"))
      .orderBy(col("g_priority").asc, col("g_year").asc,
        col("o_orderpriority").asc_nulls_first, col("o_year").asc_nulls_first)

  val qCubeSalesSql: String =
    """SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_year
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, year(o_orderdate))
      |ORDER BY g_priority ASC, g_year ASC,
      |  o_orderpriority ASC NULLS FIRST, o_year ASC NULLS FIRST""".stripMargin

  // --- q_column_corr: exact-sum Pearson correlation -----------------------
  /** Pearson correlation between quantity and extended price per return
    * flag — the column-correlation statistic a cost-based optimizer and
    * data-profiling ANALYZE collect alongside NDV/min/max (q_column_stats).
    * Both columns quantize to exact integers (quantity is integral,
    * price has 2 decimals → cents), and the moment sums run in DECIMAL —
    * Σ(cents²) clears int64 around sf0.1, and a silent long wraparound
    * would corrupt the statistic where DuckDB's HUGEINT sums would not;
    * decimals keep both engines exact under any partitioning. The single
    * division and sqrt emit as a rounded double (SURVEY §4). One scan,
    * one tiny shuffle of 5 partial-agg rows — a `corr()` built-in over
    * doubles would be merge-order-dependent and flake the oracle hash.
    */
  def qColumnCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(10,0)").as("x"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("decimal(12,0)").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("corr_qty_price",
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6))
      .select("l_returnflag", "n", "corr_qty_price")
      .orderBy(col("l_returnflag").asc)

  val qColumnCorrSql: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem
      |), s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx,
      |    SUM(y * y) AS syy
      |  FROM q GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr_qty_price
      |FROM s ORDER BY l_returnflag ASC""".stripMargin

  // --- q_grouping_sets: arbitrary subtotal lattice ------------------------
  /** Explicit GROUPING SETS — the lattice shape ROLLUP/CUBE can't express:
    * (priority, year) detail, (year, month) seasonality, and the grand
    * total, in ONE aggregate (one Expand ×3 + one shuffle — exactly the
    * requested sets, not the full cube). Per-column `grouping()` flags
    * disambiguate subtotal rows, as q_cube_sales.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("bigint"))
      .withColumn("o_month", month(col("o_orderdate")).cast("bigint"))
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_year")),
          Seq(col("o_year"), col("o_month")),
          Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderpriority"), col("o_year"), col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_priority"),
        grouping(col("o_year")).cast("bigint").as("g_year"),
        grouping(col("o_month")).cast("bigint").as("g_month"))
      .orderBy(col("g_priority").asc, col("g_year").asc, col("g_month").asc,
        col("o_orderpriority").asc_nulls_first, col("o_year").asc_nulls_first,
        col("o_month").asc_nulls_first)

  val qGroupingSetsSql: String =
    """SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_year,
      |  CAST(GROUPING(month(o_orderdate)) AS BIGINT) AS g_month
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, year(o_orderdate)),
      |  (year(o_orderdate), month(o_orderdate)), ())
      |ORDER BY g_priority ASC, g_year ASC, g_month ASC,
      |  o_orderpriority ASC NULLS FIRST, o_year ASC NULLS FIRST,
      |  o_month ASC NULLS FIRST""".stripMargin

  // --- q_moving_revenue: RANGE-frame trailing 3-month window --------------
  /** Trailing 3-calendar-month revenue per order priority — a VALUE-range
    * window frame (`RANGE BETWEEN 2 PRECEDING AND CURRENT ROW` over a
    * month index), distinct from q_cumulative_revenue's ROWS frame: months
    * missing from the data leave gaps the frame skips naturally. Sums stay
    * DECIMAL through the frame (associative → engine-exact), cast to
    * double only on emit. Window runs over the per-month aggregate
    * (|priorities|×|months| rows), never the fact stream.
    */
  def qMovingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(spark, dir)
      .withColumn("m_idx",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("bigint"))
      .groupBy(col("o_orderpriority"), col("m_idx"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"),
        count(lit(1)).as("n_orders"))
    val w3 = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("m_idx")).rangeBetween(-2, Window.currentRow)
    monthly
      .withColumn("trailing_3mo_revenue",
        sum(col("rev")).over(w3).cast("double"))
      .withColumn("trailing_3mo_orders", sum(col("n_orders")).over(w3))
      .select(col("o_orderpriority"), col("m_idx"),
        col("rev").cast("double").as("month_revenue"), col("n_orders"),
        col("trailing_3mo_revenue"), col("trailing_3mo_orders"))
      .orderBy(col("o_orderpriority").asc, col("m_idx").asc)
  }

  val qMovingRevenueSql: String =
    """WITH monthly AS (
      |  SELECT o_orderpriority,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |      AS m_idx,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY o_orderpriority, m_idx
      |)
      |SELECT o_orderpriority, m_idx, CAST(rev AS DOUBLE) AS month_revenue,
      |  n_orders,
      |  CAST(SUM(rev) OVER (PARTITION BY o_orderpriority ORDER BY m_idx
      |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trailing_3mo_revenue,
      |  CAST(SUM(n_orders) OVER (PARTITION BY o_orderpriority ORDER BY m_idx
      |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS trailing_3mo_orders
      |FROM monthly
      |ORDER BY o_orderpriority ASC, m_idx ASC""".stripMargin

  // --- q_histogram_equidepth: equi-depth column histogram ------------------
  private val HistBuckets = 10

  /** Equi-depth (equi-height) histogram over `l_extendedprice` — the
    * third leg of the ANALYZE statistics family (exact NDV: q_column_stats;
    * sketch NDV: q_column_stats_approx): [[HistBuckets]] buckets holding
    * equal row counts, each reporting its exact value bounds — what a CBO
    * uses for selectivity on skewed columns where equi-WIDTH buckets
    * mislead. Bucket membership is pure arithmetic on the exact global
    * rank, `(rank−1)·B DIV n`, which is the distributed-safe formulation:
    * the rank runs via [[graft.operators.PrefixScan.scanState]]'s
    * empty-group case (the naive total-order ROW_NUMBER is kept as the
    * oracle), and the rollup to B rows is map-side combinable.
    */
  def qHistogramEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("v"), col("l_orderkey"),
        col("l_linenumber"))
    graft.operators.PrefixScan.scanState(v, Seq.empty,
        Seq(col("v"), col("l_orderkey"), col("l_linenumber")), lit(1L),
        rankOut = Some("rn"), totalOut = Some("n"))
      .withColumn("bucket", expr(s"(rn - 1) * $HistBuckets DIV n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .orderBy(col("bucket").asc)
  }

  val qHistogramEquidepthSql: String =
    s"""WITH ranked AS (
       |  SELECT l_extendedprice AS v,
       |    ROW_NUMBER() OVER (ORDER BY l_extendedprice ASC, l_orderkey ASC,
       |      l_linenumber ASC) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM lineitem
       |)
       |SELECT CAST((rn - 1) * $HistBuckets // n AS BIGINT) AS bucket,
       |  COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
       |FROM ranked GROUP BY bucket ORDER BY bucket ASC""".stripMargin

  // --- q_sample_estimate: deterministic-sample estimation audit ------------
  /** TABLESAMPLE-style estimation with its error measured against truth in
    * the SAME single scan: a deterministic 10% Bernoulli sample (integer
    * hash of the row key — reproducible across engines, reshuffles and
    * reruns, unlike rand()-based sampling) estimates row count and revenue
    * (scaled ×10), reported next to the exact values with signed error in
    * ppm. ONE pass with conditional aggregates — the pattern that prices a
    * 100 TB "quick estimate" before paying for the exact job; revenue runs
    * in exact BIGINT cents so the only approximation is the sampling
    * itself.
    */
  def qSampleEstimate(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint")
          .as("cents"),
        expr("(l_orderkey * 76543 + l_linenumber) % 100 < 10").as("in_sample"))
      .agg(count(lit(1)).as("exact_rows"),
        sum(col("cents")).as("exact_cents"),
        (sum(when(col("in_sample"), 1L).otherwise(0L)) * 10).as("est_rows"),
        (sum(when(col("in_sample"), col("cents")).otherwise(0L)) * 10)
          .as("est_cents"))
      // Signed error as (est·1M DIV exact) − 1M: the division stays on
      // non-negative operands, where Spark's truncating DIV and DuckDB's
      // flooring // agree (they differ on negative numerators). The cents
      // leg goes through the overflow-guarded share helper — cents·1M
      // crosses 2^63 at roughly 4× sf0.1, caught live by the scaling
      // probe (Codes.sharePpmExpr reduces both legs past the bound).
      .withColumn("rows_err_ppm",
        expr("est_rows * 1000000 DIV exact_rows - 1000000"))
      .withColumn("cents_err_ppm",
        expr(graft.functions.Codes.sharePpmExpr("est_cents", "exact_cents") +
          " - 1000000"))
      .select("exact_rows", "est_rows", "rows_err_ppm",
        "exact_cents", "est_cents", "cents_err_ppm")

  val qSampleEstimateSql: String =
    s"""WITH d AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS cents,
      |    (l_orderkey * 76543 + l_linenumber) % 100 < 10 AS in_sample
      |  FROM lineitem
      |), agg AS (
      |  SELECT COUNT(*) AS exact_rows,
      |    CAST(SUM(cents) AS BIGINT) AS exact_cents,
      |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) * 10 AS BIGINT)
      |      AS est_rows,
      |    CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) * 10 AS BIGINT)
      |      AS est_cents
      |  FROM d
      |)
      |SELECT exact_rows, est_rows,
      |  CAST(est_rows * 1000000 // exact_rows - 1000000 AS BIGINT)
      |    AS rows_err_ppm,
      |  exact_cents, est_cents,
      |  CAST(${graft.functions.Codes.sharePpmSql("est_cents",
             "exact_cents")} - 1000000 AS BIGINT)
      |    AS cents_err_ppm
      |FROM agg""".stripMargin

  // --- q_seasonality: month-of-year revenue seasonality index ---------------
  /** Seasonality profile: revenue per calendar month-of-year (pooled
    * across years, exact BIGINT cents) and each month's seasonality index
    * in ppm of a flat month (1,000,000 = exactly 1/12 of annual revenue;
    * the ×12 numerator stays far inside the [[graft.functions.Codes]]
    * share guard's exact branch at any realistic scale, and the division
    * itself is overflow-guarded). One conditional aggregate over orders;
    * the index window runs over the 12-row month frame.
    */
  def qSeasonality(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(month(col("o_orderdate")).cast("bigint").as("month_of_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("bigint")).as("cents"))
      .withColumn("index_ppm", expr(graft.functions.Codes
        .sharePpmExpr("cents * 12", "sum(cents) OVER ()")))
      .select("month_of_year", "n_orders", "cents", "index_ppm")
      .orderBy(col("month_of_year").asc)

  val qSeasonalitySql: String =
    s"""WITH m AS (
       |  SELECT CAST(month(o_orderdate) AS BIGINT) AS month_of_year,
       |    COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY month_of_year
       |)
       |SELECT month_of_year, n_orders, cents,
       |  CAST(${graft.functions.Codes.sharePpmSql("cents * 12",
             "SUM(cents) OVER ()")} AS BIGINT) AS index_ppm
       |FROM m ORDER BY month_of_year ASC""".stripMargin

  // --- q_revenue_topdecile: customer revenue concentration (Lorenz point) --
  /** How concentrated is revenue across customers? The Lorenz-curve point
    * at the top decile: customers ranked by lifetime order value (exact
    * BIGINT cents, desc, custkey tie-break), the top ⌈n/10⌉ customers'
    * share of total revenue in ppm — the 80/20 concentration statistic
    * next to q11's mean-share threshold. The global revenue rank runs
    * DISTRIBUTED via [[graft.operators.PrefixScan.scanState]]'s
    * empty-group case; the share goes through the overflow-guarded
    * [[graft.functions.Codes.sharePpmExpr]] (cents·1M crosses 2^63 at
    * real scale).
    */
  def qRevenueTopdecile(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).as("cents"))
    val ranked = graft.operators.PrefixScan.scanState(perCust, Seq.empty,
      Seq(negate(col("cents")), col("o_custkey")), lit(1L),
      rankOut = Some("rnk"), totalOut = Some("n"))
    ranked
      .agg(max(col("n")).as("n_customers"),
        sum(when(col("rnk") * 10 <= col("n") + 9, col("cents"))
          .otherwise(0L)).as("top_cents"),
        sum(when(col("rnk") * 10 <= col("n") + 9, 1L).otherwise(0L))
          .as("n_top"),
        sum(col("cents")).as("total_cents"))
      .withColumn("top_share_ppm", expr(graft.functions.Codes
        .sharePpmExpr("top_cents", "total_cents")))
      .select("n_customers", "n_top", "top_cents", "total_cents",
        "top_share_ppm")
  }

  val qRevenueTopdecileSql: String =
    s"""WITH per_cust AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY o_custkey
       |), ranked AS (
       |  SELECT cents,
       |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM per_cust
       |), agg AS (
       |  SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       |    CAST(SUM(CASE WHEN rnk * 10 <= n + 9 THEN cents ELSE 0 END)
       |      AS BIGINT) AS top_cents,
       |    CAST(SUM(CASE WHEN rnk * 10 <= n + 9 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_top,
       |    CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM ranked
       |)
       |SELECT n_customers, n_top, top_cents, total_cents,
       |  CAST(${graft.functions.Codes.sharePpmSql("top_cents",
             "total_cents")} AS BIGINT) AS top_share_ppm
       |FROM agg""".stripMargin

  // --- q_customer_deciles: the full Lorenz table ---------------------------
  /** Customer-spend deciles — the full concentration table behind
    * [[qRevenueTopdecile]]'s single point: customers ranked by exact spend
    * (cents desc, custkey tie-break), dealt into 10 rank buckets by the
    * closed form (rnk−1)·10 div n (remainders to the FIRST buckets, the
    * pipe_curriculum NTILE-equivalent), and per decile: customers, revenue
    * cents, the spend range, and share + CUMULATIVE share of total revenue
    * in guarded exact ppm (the Lorenz curve a revenue-concentration report
    * plots). Decile 0 equals the topdecile report row exactly —
    * ceil(n/10) membership on both closed forms — and the spec pins that
    * cross-operator law.
    *
    * Scale: the per-customer aggregate partial-combines map-side; the
    * global rank runs DISTRIBUTED via [[PrefixScan.scanState]]'s
    * empty-group case (no single-task ROW_NUMBER); the decile rollup and
    * both share windows run over the ≤10-row frame.
    */
  def qCustomerDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")).as("cents"))
    val ranked = graft.operators.PrefixScan.scanState(perCust, Seq.empty,
      Seq(negate(col("cents")), col("o_custkey")), lit(1L),
      rankOut = Some("rnk"), totalOut = Some("n"))
    ranked.withColumn("decile", expr("(rnk - 1) * 10 div n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("revenue_cents"),
        max(col("cents")).as("max_cents"), min(col("cents")).as("min_cents"))
      .withColumn("tot",
        sum(col("revenue_cents")).over(Window.partitionBy(lit(1))))
      .withColumn("cum", sum(col("revenue_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("share_ppm", expr(graft.functions.Codes
        .sharePpmExpr("revenue_cents", "tot")))
      .withColumn("cum_share_ppm", expr(graft.functions.Codes
        .sharePpmExpr("cum", "tot")))
      .select(col("decile"), col("n_customers"), col("revenue_cents"),
        col("min_cents"), col("max_cents"), col("share_ppm"),
        col("cum_share_ppm"))
      .orderBy(col("decile").asc)
  }

  val qCustomerDecilesSql: String =
    s"""WITH per_cust AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY o_custkey
       |), ranked AS (
       |  SELECT cents,
       |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM per_cust
       |), dec AS (
       |  SELECT (rnk - 1) * 10 // n AS decile, COUNT(*) AS n_customers,
       |    CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       |    MAX(cents) AS max_cents, MIN(cents) AS min_cents
       |  FROM ranked GROUP BY decile
       |), shares AS (
       |  SELECT decile, n_customers, revenue_cents, min_cents, max_cents,
       |    SUM(revenue_cents) OVER () AS tot,
       |    SUM(revenue_cents) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM dec
       |)
       |SELECT decile, n_customers, revenue_cents, min_cents, max_cents,
       |  CAST(${graft.functions.Codes.sharePpmSql("revenue_cents", "tot")}
       |    AS BIGINT) AS share_ppm,
       |  CAST(${graft.functions.Codes.sharePpmSql("cum", "tot")}
       |    AS BIGINT) AS cum_share_ppm
       |FROM shares ORDER BY decile ASC""".stripMargin

  // --- q_join_skew: join-key heavy-hitter / skew diagnostic ---------------
  /** Pre-join skew probe on the lineitem⋈orders key: the top heavy-hitter
    * order keys by lineitem row count, each with its exact corpus share in
    * ppm and its ratio to the mean rows-per-key (ppm) — the numbers that
    * decide whether a shuffle join needs salting or an AQE skew split
    * BEFORE the join runs. This is the operational query behind every
    * "task 999 is still running" incident at 100 TB.
    *
    * Shape: one key-count aggregate with map-side partials (shuffles only
    * (key, partial-count) pairs, never rows) → a 1-row global frame
    * (n_keys, n_rows) broadcast onto the ≤K-row top-k — taken via
    * orderBy.limit, which Spark plans as TakeOrderedAndProject (per
    * -partition heaps + driver merge of K×partitions rows, no global
    * sort). Ties break on the key for determinism.
    */
  private val SkewTopK = 10

  def qJoinSkew(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = cnt.agg(count(lit(1)).as("n_keys"),
      sum(col("n_rows")).as("total_rows"))
    cnt.orderBy(col("n_rows").desc, col("l_orderkey").asc)
      .limit(SkewTopK)
      .crossJoin(broadcast(tot))
      // skew vs the FLOORED mean rows-per-key, not n_rows*n_keys*1e6/total:
      // that product overflows Long once n_keys reaches ~1e10 (a 100 TB
      // fact table), while n_rows*1e6 stays safe for any per-key count a
      // join would survive.
      .withColumn("share_ppm", expr("n_rows * 1000000 DIV total_rows"))
      .withColumn("skew_ppm",
        expr("n_rows * 1000000 DIV greatest(total_rows DIV n_keys, 1L)"))
      .select("l_orderkey", "n_rows", "share_ppm", "skew_ppm")
      .orderBy(col("n_rows").desc, col("l_orderkey").asc)
  }

  val qJoinSkewSql: String =
    s"""WITH cnt AS (
       |  SELECT l_orderkey, COUNT(*) AS n_rows
       |  FROM lineitem GROUP BY l_orderkey
       |), tot AS (
       |  SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS total_rows
       |  FROM cnt
       |), top AS (
       |  SELECT l_orderkey, n_rows FROM cnt
       |  ORDER BY n_rows DESC, l_orderkey ASC LIMIT $SkewTopK
       |)
       |SELECT l_orderkey, n_rows,
       |  CAST(n_rows * 1000000 // total_rows AS BIGINT) AS share_ppm,
       |  CAST(n_rows * 1000000 // greatest(total_rows // n_keys, 1)
       |    AS BIGINT) AS skew_ppm
       |FROM top, tot
       |ORDER BY n_rows DESC, l_orderkey ASC""".stripMargin

  // --- q_join_skew_salted: the remediation q_join_skew diagnoses ----------
  /** The skewed fact-fact join EXECUTED through the salting remediation
    * (VERDICT r13 #3: the [[qJoinSkew]] diagnosis is only useful at 100 TB
    * if the fix is proven end-to-end): per-priority order revenue from
    * lineitem ⋈ orders, run through [[SkewJoin.saltedJoin]] with
    * [[SkewSalts]] salts — the hot order key's lineitems land on
    * `SkewSalts` reducers instead of one straggler task. The DuckDB oracle
    * is the PLAIN (unsalted) join + rollup, so the correctness gate itself
    * proves result equality between the salted and unsalted plans on every
    * run; SkewJoinSpec additionally pins the per-salt row bound on a
    * constructed hot key.
    *
    * Shape: revenue is projected BEFORE the join (the salted exchange
    * carries (key, salt, decimal) — never the wide lineitem row); the
    * orders side replicates `SkewSalts`× — the documented cost model: salt
    * when the LEFT side carries the hot keys and the right fits
    * salts-fold. One shuffle per side on (key, _salt), then a 5-row
    * priority rollup with map-side partials. At test scale the planner
    * (correctly) broadcasts the replicated right side and the salt
    * columns ride along inert — the salted exchange materializes exactly
    * when it matters, once the right side exceeds the broadcast threshold
    * and the join degrades to SMJ on (key, _salt).
    */
  private val SkewSalts = 8

  def qJoinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), revenue.as("rev"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    SkewJoin.saltedJoin(li, ord, "l_orderkey", SkewSalts)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority").asc)
  }

  val qJoinSkewSaltedSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sumMoneySql(revenueSql)} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority ASC""".stripMargin

  // --- q_bloom_semijoin: Bloom runtime pre-filter ahead of a fact join ----
  /** Revenue per order priority for BUILDING-segment customers, with the
    * lineitem side pruned by a Bloom runtime filter BEFORE the fact-fact
    * shuffle (the explicit form of Spark's runtime bloom-filter join,
    * [[BloomJoin]]): the segment predicate reaches lineitem only through
    * customer → orders, so the plain plan shuffles every lineitem row and
    * drops ~80% of them at the join. Here the qualifying order keys build
    * a count-sized word map ([[BloomJoin.sizeWords]] words of 64 bits
    * each; one narrow bit_or exchange), which is broadcast to the
    * lineitem scan as [[BloomJoin.NumHashes]] bit-test broadcast joins —
    * only the surviving ~20% (+ ~0.5% false positives) enter the
    * exchange.
    *
    * The DuckDB oracle is the PLAIN three-table join: every correctness
    * run proves the pruned plan is result-identical (false positives are
    * removed by the final exact join; false negatives are structurally
    * impossible — build and probe share the position expression).
    * BloomJoinSpec additionally pins zero false negatives on constructed
    * keys and the pruning ratio on the real data.
    *
    * The bitmap is SIZED FROM the qualifying-key count
    * ([[BloomJoin.sizeWords]], ≈16 bits/key) — a fixed size saturates
    * toward all-ones once the build side outgrows it and the "filter"
    * prunes nothing while still paying the probe joins. The count is an
    * eager driver-side action at DataFrame-construction time (the same
    * documented pattern as the trained-centroid memo): one extra pass
    * over the (already filtered, dimension-joined) build side — the
    * price any runtime filter pays to know its own size.
    */
  def qBloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val qualCust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val qualOrders = Tables.orders(spark, dir)
      .join(broadcast(qualCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val bloomWords = BloomJoin.sizeWords(qualOrders.count())
    val words = BloomJoin.build(
      qualOrders.select(col("o_orderkey")), "o_orderkey", bloomWords)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), revenue.as("rev"))
    BloomJoin.prune(li, "l_orderkey", words, bloomWords)
      .join(qualOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sumMoney(col("rev")).as("revenue"))
      .orderBy(col("o_orderpriority").asc)
  }

  val qBloomSemijoinSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sumMoneySql(revenueSql)} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority ASC""".stripMargin

  // --- q_integrity_audit: referential-integrity violation report ----------
  /** Foreign-key integrity audit over the fact tables — the data-quality
    * gate an ingest runs before analytics trusts a join (a silently
    * dangling key undercounts every inner-join metric downstream): per
    * relationship the violating rows (left side with no match), the rows
    * checked, and the violation rate in exact ppm.
    *
    * Shape: one LEFT ANTI join per relationship, each reduced to a 1-row
    * count before the union — the anti joins against the bounded dims
    * (customer/part/supplier) broadcast, the fact-fact check
    * (lineitem→orders) shuffles once on the order key; the report frame
    * is 4 rows. Anti-join + count is the scale-correct form: no row
    * explosion, no distinct state, map-side partial counts.
    */
  def qIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    def check(name: String, left: DataFrame, leftKey: String,
        right: DataFrame, rightKey: String): DataFrame = {
      val viol = left.join(right.select(col(rightKey)),
        left(leftKey) === col(rightKey), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val tot = left.agg(count(lit(1)).as("n_checked"))
      viol.crossJoin(broadcast(tot)).select(
        lit(name).as("check"), col("n_violations"), col("n_checked"),
        expr("n_violations * 1000000 DIV greatest(n_checked, 1L)")
          .as("violation_ppm"))
    }
    check("lineitem_orderkey", li, "l_orderkey", ord, "o_orderkey")
      .unionAll(check("lineitem_partkey", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionAll(check("lineitem_suppkey", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionAll(check("orders_custkey", ord, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy(col("check").asc)
  }

  val qIntegrityAuditSql: String =
    """WITH checks AS (
      |  SELECT 'lineitem_orderkey' AS "check",
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o
      |       WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      |    (SELECT COUNT(*) FROM lineitem) AS n_checked
      |  UNION ALL
      |  SELECT 'lineitem_partkey',
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM part p
      |       WHERE p.p_partkey = l.l_partkey)),
      |    (SELECT COUNT(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'lineitem_suppkey',
      |    (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM supplier s
      |       WHERE s.s_suppkey = l.l_suppkey)),
      |    (SELECT COUNT(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'orders_custkey',
      |    (SELECT COUNT(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c
      |       WHERE c.c_custkey = o.o_custkey)),
      |    (SELECT COUNT(*) FROM orders)
      |)
      |SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
      |  CAST(n_checked AS BIGINT) AS n_checked,
      |  CAST(n_violations * 1000000 // greatest(n_checked, 1) AS BIGINT)
      |    AS violation_ppm
      |FROM checks ORDER BY "check" ASC""".stripMargin

  // --- q_null_profile: column-completeness report -------------------------
  /** Column completeness across the fact tables — the profiling pass a
    * data-quality dashboard runs next to [[qIntegrityAudit]]: per column
    * the rows, nulls and null rate in exact ppm (here also blank-string
    * for the text-typed columns, the practical "missing" in exported
    * data). ONE conditional-aggregate scan per table — null counting
    * never justifies a per-column pass or an Expand — unioned into the
    * ≤|columns| report frame.
    */
  def qNullProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
      def missing(c: String): Column =
        if (df.schema(c).dataType == org.apache.spark.sql.types.StringType)
          col(c).isNull || trim(col(c)) === ""
        else col(c).isNull
      val agg = df.agg(count(lit(1)).as("n_rows"),
        cols.map(c => sum(when(missing(c), 1L).otherwise(0L))
          .as(s"__n_$c")): _*)
      agg.select(explode(array(cols.map(c =>
          struct(lit(table).as("table_name"), lit(c).as("column_name"),
            col("n_rows").as("n_rows"), col(s"__n_$c").as("n_missing"))): _*))
          .as("s"))
        .select("s.table_name", "s.column_name", "s.n_rows", "s.n_missing")
    }
    profile(Tables.orders(spark, dir), "orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      .unionByName(profile(Tables.lineitem(spark, dir), "lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")))
      .withColumn("missing_ppm",
        expr("n_missing * 1000000 DIV greatest(n_rows, 1L)"))
      .orderBy(col("table_name").asc, col("column_name").asc)
  }

  val qNullProfileSql: String = {
    def arm(table: String, c: String, isStr: Boolean): String = {
      val miss =
        if (isStr) s"$c IS NULL OR trim(CAST($c AS VARCHAR)) = ''"
        else s"$c IS NULL"
      s"""SELECT '$table' AS table_name, '$c' AS column_name,
         |    COUNT(*) AS n_rows,
         |    CAST(SUM(CASE WHEN $miss THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_missing
         |  FROM $table""".stripMargin
    }
    val arms =
      Seq(("orders", "o_orderkey", false), ("orders", "o_custkey", false),
        ("orders", "o_orderstatus", true), ("orders", "o_totalprice", false),
        ("orders", "o_orderdate", false), ("orders", "o_orderpriority", true),
        ("lineitem", "l_orderkey", false), ("lineitem", "l_partkey", false),
        ("lineitem", "l_suppkey", false), ("lineitem", "l_quantity", false),
        ("lineitem", "l_extendedprice", false),
        ("lineitem", "l_discount", false), ("lineitem", "l_returnflag", true),
        ("lineitem", "l_shipdate", false))
        .map { case (t, c, s) => arm(t, c, s) }
        .mkString("\n  UNION ALL\n  ")
    s"""WITH arms AS (
       |  $arms
       |)
       |SELECT table_name, column_name, n_rows, n_missing,
       |  CAST(n_missing * 1000000 // greatest(n_rows, 1) AS BIGINT)
       |    AS missing_ppm
       |FROM arms ORDER BY table_name ASC, column_name ASC""".stripMargin
  }

  // --- q_skyline: 2-D Pareto frontier (min price, max size) ---------------
  /** The parts no other part dominates (cheaper-or-equal AND
    * bigger-or-equal with one strict) — the skyline/Pareto-frontier
    * operator, distributed WITHOUT the naive O(n²) dominance join: the
    * corpus aggregates to distinct (price, size) points, the per-price max
    * size reduces that to one row per distinct price, and a running max
    * over STRICTLY cheaper prices (rowsBetween(-∞, -1)) decides frontier
    * membership; a point is on the frontier iff it is its price level's
    * max size and strictly exceeds every cheaper level's max. Prices are
    * exact cents (the §4 money discipline) so the frontier can't shift on
    * a float compare. The spec proves equivalence with the quadratic
    * NOT-EXISTS dominance definition on constructed ties-in-both-dims
    * input.
    *
    * Scale: two map-side-combined aggregates collapse the scan to the
    * distinct-price frame; the one unpartitioned window runs over THAT
    * aggregated frame (the allowed class), never the corpus. The
    * frontier-test join is a broadcast of the distinct-price frame.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame =
    skylineOf(Tables.part(spark, dir))

  /** The frontier core over any part-shaped frame (p_retailprice, p_size,
    * p_partkey) — public seam so the spec can prove the running-max
    * formulation ≡ the quadratic NOT-EXISTS dominance definition on
    * constructed ties-in-both-dims input, not a drifting inline copy.
    */
  private[graft] def skylineOf(part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = part
      .groupBy((m(col("p_retailprice")) * 100).cast("bigint").as("price_cents"),
        col("p_size").cast("bigint").as("psize"))
      .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("min_partkey"))
    val levels = pts.groupBy(col("price_cents")).agg(max(col("psize")).as("mx"))
      .withColumn("prior_mx", max(col("mx")).over(
        Window.orderBy(col("price_cents"))
          .rowsBetween(Window.unboundedPreceding, -1)))
    pts.join(broadcast(levels), Seq("price_cents"))
      .filter(col("psize") === col("mx") &&
        (col("prior_mx").isNull || col("psize") > col("prior_mx")))
      .select(col("price_cents"), col("psize"), col("n_parts"),
        col("min_partkey"))
      .orderBy(col("price_cents").asc)
  }

  val qSkylineSql: String =
    """WITH pts AS (
      |  SELECT CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS price_cents,
      |    CAST(p_size AS BIGINT) AS psize, COUNT(*) AS n_parts,
      |    MIN(p_partkey) AS min_partkey
      |  FROM part GROUP BY price_cents, psize
      |), levels AS (
      |  SELECT price_cents, MAX(psize) AS mx,
      |    MAX(MAX(psize)) OVER (ORDER BY price_cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_mx
      |  FROM pts GROUP BY price_cents
      |)
      |SELECT p.price_cents, p.psize, p.n_parts, p.min_partkey
      |FROM pts p JOIN levels l ON p.price_cents = l.price_cents
      |WHERE p.psize = l.mx AND (l.prior_mx IS NULL OR p.psize > l.prior_mx)
      |ORDER BY p.price_cents ASC""".stripMargin

  // --- q_revenue_drawdown: running-peak shortfall per order day -----------
  /** Daily booked revenue against its running historical peak: for every
    * order day, revenue in exact cents, the highest daily revenue seen so
    * far, and the drawdown (peak − today) — the "how far off the
    * high-water mark are we" series a finance dashboard plots. All
    * arithmetic is integer cents; the running max makes peak_cents
    * monotone by construction (spec-pinned).
    *
    * Scale: one map-side-combined aggregate collapses orders to the day
    * frame (bounded by the calendar, ~2,500 rows at any corpus size); the
    * unpartitioned running-max window runs over that aggregated frame —
    * the allowed class, never the corpus.
    */
  def qRevenueDrawdown(spark: SparkSession, dir: String): DataFrame =
    drawdownOf(Tables.orders(spark, dir))

  /** The drawdown core over any orders-shaped frame (o_orderdate,
    * o_totalprice) — spec seam for the monotone-peak law on constructed
    * input.
    */
  private[graft] def drawdownOf(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    orders
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum((m(col("o_totalprice")) * 100).cast("bigint"))
        .as("revenue_cents"))
      .withColumn("peak_cents", max(col("revenue_cents")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("drawdown_cents", col("peak_cents") - col("revenue_cents"))
      .orderBy(col("day").asc)
  }

  val qRevenueDrawdownSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS revenue_cents
      |  FROM orders GROUP BY day
      |)
      |SELECT day, revenue_cents,
      |  MAX(revenue_cents) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents,
      |  MAX(revenue_cents) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - revenue_cents
      |    AS drawdown_cents
      |FROM d ORDER BY day ASC""".stripMargin

  /** The registered extended relational queries. `fanned`: decimal-chain
    * scans without an early collapse of the corpus.
    */
  val registry: Seq[Query] = Seq(
    Query("q_customer_deciles", qCustomerDeciles, qCustomerDecilesSql),
    Query("q_skyline", qSkyline, qSkylineSql),
    Query("q_revenue_drawdown", qRevenueDrawdown, qRevenueDrawdownSql),
    Query("q_null_profile", qNullProfile, qNullProfileSql),
    Query("q_integrity_audit", qIntegrityAudit, qIntegrityAuditSql),
    Query("q_join_skew", qJoinSkew, qJoinSkewSql),
    Query("q_join_skew_salted", qJoinSkewSalted, qJoinSkewSaltedSql, fanned),
    Query("q_bloom_semijoin", qBloomSemijoin, qBloomSemijoinSql),
    Query("q_seasonality", qSeasonality, qSeasonalitySql),
    Query("q_revenue_topdecile", qRevenueTopdecile, qRevenueTopdecileSql),
    Query("q_sample_estimate", qSampleEstimate, qSampleEstimateSql),
    Query("q_histogram_equidepth", qHistogramEquidepth, qHistogramEquidepthSql),
    Query("q_moving_revenue", qMovingRevenue, qMovingRevenueSql),
    Query("q_cube_sales", qCubeSales, qCubeSalesSql, fanned),
    Query("q_grouping_sets", qGroupingSets, qGroupingSetsSql, fanned),
    Query("q_column_corr", qColumnCorr, qColumnCorrSql, fanned),
    Query("q_column_stats", qColumnStats, qColumnStatsSql),
    Query("q_column_stats_approx", qColumnStatsApprox,
      qColumnStatsApproxSql, fanned),
    Query("q12_late_priority", q12LatePriority, q12Sql),
    Query("q20_dominant_supplier", q20DominantSupplier, q20Sql),
    Query("q_hll_distinct", qHllDistinct, qHllSql),
    Query("q4_order_priority", q4OrderPriority, q4Sql),
    Query("q6_forecast_revenue", q6ForecastRevenue, q6Sql),
    Query("q11_revenue_concentration", q11RevenueConcentration, q11Sql, fanned),
    Query("q18_large_volume", q18LargeVolume, q18Sql, fanned),
    Query("q21_waiting_supplier", q21WaitingSupplier, q21Sql, fanned),
    Query("q7_nation_trade", q7NationTrade, q7Sql),
    Query("q8_market_share", q8MarketShare, q8Sql),
    Query("q9_product_profit", q9ProductProfit, q9Sql),
    Query("q10_returned_items", q10ReturnedItems, q10Sql),
    Query("q13_order_count_dist", q13OrderCountDist, q13Sql),
    Query("q15_top_supplier", q15TopSupplier, q15Sql),
    // Not fanned: the (partkey, suppkey) dedup's map-side partials collapse
    // the corpus before any exchange, and a scan fan-out would shuffle
    // every raw row instead (measured 2.6× slower at the 10× scale).
    Query("q16_supplier_variety", q16SupplierVariety, q16Sql),
    Query("q_order_gap", qOrderGap, qOrderGapSql))
}
