package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Scale triage for ANY user DataFrame — the anti-pattern sweep the test
  * suite runs over every registered query (PlanShapeSpec), packaged as a
  * library surface: feed it the plan you are about to launch on the
  * cluster and it returns one row per finding, ordered most-severe first.
  * An empty frame means none of the known scale-killers are present (it
  * is a lint, not a proof).
  *
  * Checks, each with the 100 TB rationale in its message:
  *   - CARTESIAN_PRODUCT   — O(n·m) row blow-up, never survives scale.
  *   - UNPARTITIONED_WINDOW — `Window` with no partitionSpec over
  *     UNAGGREGATED input serializes the corpus through one task
  *     (aggregated input below it is group-bounded and fine).
  *   - NESTED_LOOP_JOIN    — BroadcastNestedLoopJoin re-scans the streamed
  *     side per broadcast row; fine for 1-row scalars, fatal for tables
  *     (reported with the broadcast side's estimated plan so the caller
  *     can judge the bound).
  *   - WIDE_SHUFFLE_ROW    — a shuffle whose row schema carries a string
  *     column (raw text/payloads on the wire where an 8-byte fingerprint
  *     would do; heuristic: any Exchange with a string output attribute).
  *
  * Not a replacement for `.explain("formatted")` — a triage pass over it.
  */
object PlanDoctor {

  private val schema = StructType(Seq(
    StructField("severity", StringType, nullable = false),
    StructField("code", StringType, nullable = false),
    StructField("node", StringType, nullable = false),
    StructField("detail", StringType, nullable = false)))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
    case _ =>
      (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
  }

  /** True iff the frame feeding an unpartitioned window is provably
    * group-bounded: every leaf path hits an aggregate before reaching the
    * window. Nodes that can re-introduce corpus cardinality ABOVE an
    * aggregate are handled per-kind (the r13 false-negative fix): a join
    * is bounded only if BOTH sides are (joining an aggregate back against
    * the unaggregated corpus re-expands to corpus size); union/explode/
    * expand over bounded inputs stay bounded (a constant or per-row
    * fan-out over a group-bounded frame is metadata-sized, not
    * corpus-sized). Known lint blind spot, acceptable for a triage pass:
    * exploding a corpus-sized collect_list would be blessed here — but
    * that plan already dies at the aggregate itself, not the window.
    */
  private def aggBounded(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => aggBounded(a.inputPlan)
    case _: BaseAggregateExec => true
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.children.forall(aggBounded)
    case other =>
      other.children.nonEmpty && other.children.forall(aggBounded)
  }

  /** One row per finding (severity ERROR | WARN), most severe first. */
  def report(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(
      findings(df.queryExecution.executedPlan), 1), schema)
  }

  /** The findings of [[report]] for one physical plan, without a job. */
  private[graft] def findings(plan: SparkPlan): Seq[Row] = {
    val ns = nodes(plan)
    val out = scala.collection.mutable.ArrayBuffer[Row]()

    ns.foreach {
      case c: CartesianProductExec =>
        out += Row("ERROR", "CARTESIAN_PRODUCT", c.nodeName,
          "O(left x right) row blow-up; rewrite as an equi/range/broadcast " +
            "join - this never survives a 100 TB input")
      case w: WindowExec if w.partitionSpec.isEmpty && !aggBounded(w.child) =>
        out += Row("ERROR", "UNPARTITIONED_WINDOW", w.nodeName,
          "window with no PARTITION BY over unaggregated input moves ALL " +
            "rows to one task; partition the window or aggregate below it")
      case j: BroadcastNestedLoopJoinExec =>
        out += Row("WARN", "NESTED_LOOP_JOIN", j.nodeName,
          "streamed side is re-scanned per broadcast row; acceptable only " +
            "when the broadcast side is provably tiny (scalar/dimension). " +
            s"Broadcast side: ${j.buildSide}")
      case e: ShuffleExchangeExec
          if e.output.exists(_.dataType == StringType) =>
        val cols = e.output.filter(_.dataType == StringType)
          .map(_.name).mkString(", ")
        out += Row("WARN", "WIDE_SHUFFLE_ROW", e.nodeName,
          s"shuffle row carries string column(s) [$cols]; at corpus scale " +
            "prefer shuffling a fixed-width fingerprint/key and re-joining " +
            "payloads after the aggregate")
      case _ =>
    }

    val sevRank = Map("ERROR" -> 0, "WARN" -> 1)
    out.sortBy(r => (sevRank(r.getString(0)), r.getString(1))).toSeq
  }
}
