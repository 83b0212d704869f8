package graft

import graft.sources.Partitioned
import org.apache.spark.sql.functions._

/** Partition pruning over the day-partitioned event layout: a time-ranged
  * query must cut whole day-directories at PLAN time (PartitionFilters on
  * the scan), reading only the matching days' files — the property that
  * makes a one-week query cheap over a year of data at 100 TB.
  */
class PartitionedSpec extends SparkSpec {

  test("day-range query prunes partitions at plan time") {
    val base = tempDir("part")
    val ev = operators.EventOps.events(spark, sf)
    Partitioned.writeByDay(ev, "ts", s"$base/byday", 2)

    val all = Partitioned.read(spark, s"$base/byday")
    val days = all.select(col("day")).distinct().count()
    assert(days > 5, s"need several day partitions, got $days")

    val lo = all.agg(min(col("day"))).head.getDate(0).toString
    val ranged = all.filter(col("day").between(lo, lo)) // single-day slice

    // Plan-time pruning: the scan carries a PartitionFilters entry on day.
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"expected day PartitionFilters in scan:\n$plan")

    // And the files actually touched are only that day's files.
    val touched = ranged.select(input_file_name()).distinct().count()
    val total = all.select(input_file_name()).distinct().count()
    assert(touched < total,
      s"pruned read touched $touched of $total files - no pruning happened")
    assert(ranged.count() ===
      all.filter(col("day") === lo).count())

    // Row counts round-trip: the layout loses no rows.
    assert(all.count() === ev.count())
  }
}
