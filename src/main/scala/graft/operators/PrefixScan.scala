package graft.operators

import graft.functions.PartitionRunningSumExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact ordered-scan state — global per-group rank and/or
  * exclusive running sum — the scale-safe replacement for
  * `x.over(Window.partitionBy(group).orderBy(order))` when the window input
  * is corpus-sized and the group key is low-cardinality (buckets, sources,
  * strata): that window plan runs ONE sequential pass per group, so its
  * parallelism is capped at the number of groups no matter how many
  * executors the cluster has.
  *
  * Shape (pipe_curriculum's distributed NTILE, generalized): range-shard on
  * (group ++ order) so shard boundaries respect the scan order, sort within
  * each shard, then read off the local scan state with the stateful
  * [[graft.functions.PartitionRunningSumExpr]] codegen kernel — an
  * exclusive per-partition running sum/count evaluated in sorted row order,
  * which is exactly what `Window.partitionBy(shard, group)` used to compute
  * at the price of a SECOND corpus-sized hash exchange. Group rows are
  * contiguous inside a sorted shard, so the per-(shard, group) scan state
  * is the partition-running value minus its value at the group's first row
  * — that first-row baseline rides in the same metadata frame (≤ #shards ×
  * #groups rows, computed with windows over AGGREGATED input, broadcast
  * back) that already carries the cross-shard offsets. Output is
  * bit-identical to the single-window formulation provided the order keys
  * are unique within each group (every caller orders by a unique tie-break,
  * per SURVEY §4). The corpus now crosses ONE exchange (the range shard) —
  * at 100 TB one shuffle plus a local sort beats one pass serialized
  * through #groups tasks, and beats the previous two-exchange form by the
  * entire second all-to-all.
  *
  * Caller contract (enforced by the stateful expression's pinned
  * evaluation point): apply any row filtering BEFORE calling scanState —
  * the ranks/sums describe exactly the input frame, and the nondeterminism
  * marker stops Catalyst from sliding later filters underneath.
  */
object PrefixScan {

  private def runningSum(value: Column): Column =
    GraftBridge.column(PartitionRunningSumExpr(
      GraftBridge.expression(value.cast("bigint"))))

  /** Adds to `df` any of: `rankOut` — 1-based BIGINT rank of the row within
    * its `group`, ordered ascending by `order`; `cumOut` — BIGINT exclusive
    * running sum of `value` in that order (0 for the group's first row);
    * `totalOut` — the group's total row count. `order` must be unique
    * within each group for rank/cum to be well-defined; `value` must be
    * integral.
    */
  def scanState(df: DataFrame, group: Seq[String], order: Seq[Column],
      value: Column, rankOut: Option[String] = None,
      cumOut: Option[String] = None,
      totalOut: Option[String] = None): DataFrame = {
    val g = group.map(col)
    val shard = col("__ps_shard")
    val sorted = (g ++ order).map(_.asc)
    val needCum = cumOut.nonEmpty
    // __ps_rcnt is always computed: it feeds the rank AND is the unique
    // within-partition picker for the cum baseline's struct-min.
    val base = df
      .repartitionByRange(sorted: _*)
      .sortWithinPartitions(sorted: _*)
      .withColumn("__ps_shard", spark_partition_id())
      .withColumn("__ps_rcnt", runningSum(lit(1L)))
    val shardedRaw =
      if (needCum) base.withColumn("__ps_run", runningSum(value)) else base
    // Exchange-reuse contract: the offsets branch and the probe branch below
    // BOTH contain this subtree. Under the default spark.sql.exchange.reuse
    // =true, ReuseExchange materializes the range exchange once, so both
    // branches see the identical sampled range boundaries, shard ids and
    // running sums. With reuse disabled the two RangePartitioner instances
    // would sample independently (different RDD ids → different seeds) and
    // the __ps_shard equi-join could silently mis-align baselines — so in
    // that configuration the sharded frame is materialized once instead.
    val sharded =
      if (df.sparkSession.conf.get("spark.sql.exchange.reuse", "true") == "false")
        shardedRaw.localCheckpoint()
      else shardedRaw
    // Metadata frame: per-(shard, group) counts/sums → exclusive prefix
    // offsets across shards (shard order = scan order, by the range
    // partitioning) + the group total + the partition-running baselines at
    // the group's first row in the shard (min __ps_rcnt picks it; the
    // struct-min carries its __ps_run along). Bounded by #shards × #groups.
    // Only the state the caller asked for is aggregated and broadcast.
    val offW = Window.partitionBy(g: _*).orderBy(shard.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs =
      Seq(count(lit(1)).as("__ps_cnt"), min(col("__ps_rcnt")).as("__ps_rcnt0")) ++
      (if (needCum) Seq(sum(value).cast("bigint").as("__ps_sum"),
        min(struct(col("__ps_rcnt").as("r"), col("__ps_run").as("v")))
          .getField("v").as("__ps_run0"))
       else Nil)
    val withOffs = sharded.groupBy((shard +: g): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__ps_roff", coalesce(sum(col("__ps_cnt")).over(offW), lit(0L)))
    val withCoff =
      if (needCum) withOffs.withColumn("__ps_coff",
        coalesce(sum(col("__ps_sum")).over(offW), lit(0L)))
      else withOffs
    val withN =
      if (totalOut.nonEmpty) withCoff.withColumn("__ps_n",
        sum(col("__ps_cnt")).over(Window.partitionBy(g: _*)))
      else withCoff
    val offCols = Seq(col("__ps_roff"), col("__ps_rcnt0")) ++
      (if (needCum) Seq(col("__ps_coff"), col("__ps_run0")) else Nil) ++
      (if (totalOut.nonEmpty) Seq(col("__ps_n")) else Nil)
    val offsets = withN.select((shard +: g) ++ offCols: _*)
    val joined = sharded.join(broadcast(offsets), "__ps_shard" +: group)
    val out1 = rankOut.fold(joined)(n =>
      joined.withColumn(n,
        col("__ps_roff") + (col("__ps_rcnt") - col("__ps_rcnt0")) + lit(1L)))
    val out2 = cumOut.fold(out1)(n =>
      out1.withColumn(n,
        col("__ps_coff") + (col("__ps_run") - col("__ps_run0"))))
    val out3 = totalOut.fold(out2)(n => out2.withColumn(n, col("__ps_n")))
    out3.drop("__ps_shard", "__ps_run", "__ps_rcnt",
      "__ps_roff", "__ps_coff", "__ps_n", "__ps_rcnt0", "__ps_run0")
  }

  /** The nearest-rank rule over a [[scanState]] frame ranked as `rn` with
    * group total `n`: the p-th percentile is the row with rn = ⌈n·p/100⌉.
    */
  def nearestRank(p: Int): Column = expr(s"(n * $p + 99) DIV 100")

  /** SQL twin of [[nearestRank]] (columns rn and n). */
  def nearestRankSql(p: Int): String = s"(n * $p + 99) // 100"
}
