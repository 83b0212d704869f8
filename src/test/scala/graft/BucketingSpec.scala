package graft

import graft.sources.Bucketed
import org.apache.spark.sql.functions._

/** The bucketed write path delivers shuffle-free sort-merge-bucket joins:
  * both sides pre-bucketed+sorted on the join key → the join plan has no
  * Exchange (SURVEY §6 / §5 "reuse a partitioning across stages").
  */
class BucketingSpec extends SparkSpec {

  test("co-bucketed fact tables join with no exchange and no sort") {
    val base = tempDir("bucketed")
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    Bucketed.writeBucketed(orders, "graft_orders_b",
      s"$base/orders", 8, "o_orderkey")
    Bucketed.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "graft_lineitem_b", s"$base/lineitem", 8, "o_orderkey")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.table(spark, "graft_lineitem_b")
        .join(Bucketed.table(spark, "graft_orders_b"), Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        "bucketed join still shuffles on the join key")
      // Rows survive the layout round-trip.
      assert(joined.agg(sum(col("n"))).head.getLong(0) === lineitem.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Bucketed.drop(spark, "graft_orders_b")
      Bucketed.drop(spark, "graft_lineitem_b")
    }
  }
}
