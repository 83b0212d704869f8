package graft

/** Regression guards on physical plan shape (SURVEY §5, VERDICT r2 #9):
  * the correctness gate can't see a plan that is right-but-quadratic, so
  * these specs pin the scale-critical properties — no all-pairs joins,
  * dimension joins broadcast, filters reaching the parquet scan.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Deliberate BroadcastNestedLoopJoins over BOUNDED broadcast sides:
    * sim_topk_bruteforce broadcasts the tiny query set against the corpus
    * scan (the exact baseline, SURVEY §5); sim_knn_ivf broadcasts the
    * 16-row centroid set for cell assignment. Both are linear corpus scans
    * by design, not accidents.
    */
  /** q_idle_rich_custs, q15_top_supplier, q11_revenue_concentration and
    * pipe_mixture_weights broadcast a 1-ROW global aggregate back over a
    * scan (the scalar-subquery plan) — bounded by construction;
    * q_hll_distinct combines two 1-row aggregates (sketch + exact count);
    * ct_balancer_moves attaches the 1-row n_under scalar to the move list
    * before its equi-join round-robin assignment; ct_safemode_status
    * cross-joins four 1-row rule counters into the exit-rule report;
    * sim_cluster_purity broadcasts the 16-row centroid set for the argmax
    * assignment (same shape as sim_knn_ivf); pipe_token_budget attaches
    * the 1-row total-tokens budget scalar; ev_session_stats combines two
    * 1-row percentile aggregates into its report row; ev_inactive_users
    * attaches the 1-row global-max-activity scalar; ev_funnel_steps
    * combines three 1-row stage counters into its funnel rows;
    * ct_cold_containers attaches the 1-row latest-activity scalar;
    * ns_acl_effective crosses the 3-row user dimension against the
    * |buckets|×|rights| metadata-sized ACL rollup (never the corpus).
    */
  private val allowedNestedLoop =
    Set("sim_topk_bruteforce", "sim_knn_ivf", "sim_knn_ivf_trained",
      "q_idle_rich_custs", "q15_top_supplier", "q11_revenue_concentration",
      "pipe_mixture_weights", "q_hll_distinct", "sim_recall_report",
      "ct_balancer_moves", "ct_safemode_status",
      "sim_cluster_purity", "sim_knn_ivfpq", "pipe_token_budget",
      "ev_session_stats", "ev_inactive_users", "ev_funnel_steps",
      "ct_cold_containers", "ns_acl_effective",
      // sim_range_audit's truth side is the same bounded query-set
      // broadcast as sim_topk_bruteforce; ev_rfm attaches the 1-row
      // global-anchor scalar to the per-user purchase aggregate;
      // q_join_skew attaches the 1-row (n_keys, total_rows) scalar to the
      // 10-row top-k; pipe_source_epochs attaches the 1-row source-count
      // scalar to the ≤|sources| aggregate.
      // q_integrity_audit combines 1-row violation/total counters per
      // relationship before the 4-row union.
      "sim_range_audit", "ev_rfm", "q_join_skew", "pipe_source_epochs",
      // sim_probe_sweep rides simKnnIvf's 16-row centroid broadcasts plus
      // a 1-row corpus-total scalar attach — all bounded by construction.
      "q_integrity_audit", "sim_probe_sweep",
      // sim_ivf_balance broadcasts the 16-row trained centroid model for
      // the assignment argmax plus the 1-row (total, cells) scalar;
      // sim_dim_stats attaches the 1-row total-energy scalar;
      // ev_power_law crosses the metadata-sized activity histogram with
      // the broadcast 2-row (p, totals) frame.
      "sim_ivf_balance", "sim_dim_stats", "ev_power_law",
      // sim_mips_topk broadcasts the same bounded 10-row query set as
      // sim_topk_bruteforce against the corpus scan; tx_unigram_logprob
      // attaches the 1-row corpus-total scalar to the vocab aggregate.
      "sim_mips_topk", "tx_unigram_logprob",
      // sim_knn_graph self-broadcasts the BOUNDED ≤256-node sample for
      // the all-pairs scoring (constant in corpus size by construction);
      // dd_phrase_hotlist attaches the 1-row corpus doc-count scalar to
      // the distinct-phrase aggregate.
      "sim_knn_graph", "dd_phrase_hotlist")

  /** Analysis must succeed for EVERY registered query, reported per-query.
    * Without this, a data-contract drift (like the r7 events.ts dtype
    * change from int64-nanos to timestamp[us]) aborts the umbrella
    * plan-shape tests below on the first AnalysisException and silently
    * voids every global guarantee; here it fails with one readable line
    * per broken query, naming the dtype mismatch.
    */
  test("every registered query analyzes against the current testdata") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).queryExecution.assertAnalyzed(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${
            e.getMessage.linesIterator.take(3).mkString(" | ")}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }

  test("no CartesianProduct in any registered query plan") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plan contains a CartesianProduct")
    }
  }

  test("no BroadcastNestedLoopJoin outside the documented allowlist") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!allowedNestedLoop(name)) {
        val p = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plan contains a BroadcastNestedLoopJoin")
      }
    }
  }

  /** The counter layout of every PLANS.json / PLANS_AQE.json entry: the
    * fields `PlanProbe` / `AqePlanProbe` write today, in their order.
    */
  private lazy val planFields =
    PlanShape.countsNoAqe(spark, spark.range(1).toDF()).map(_._1)
  private lazy val aqeFields =
    PlanShape.countsAqeFinal(spark, spark.range(1).toDF()).map(_._1)

  /** Each artifact kind a gate below (or SurveySyncSpec's oracle budget)
    * reads is committed once, under its fixed name: its `git diff` is the
    * round-to-round record, and a round-numbered copy beside it is a
    * second baseline that no gate reads.
    */
  test("each gated artifact kind is committed once, under its fixed name") {
    val root = new java.io.File(".").list().toSeq
    PlanShapeSpec.gatedKinds.foreach { kind =>
      assert(new java.io.File(s"$kind.json").isFile,
        s"$kind.json is not committed")
      val copies = root.filter(_.matches(s"${kind}_r\\d+(_c8)?\\.json"))
      assert(copies.isEmpty,
        s"round copies beside $kind.json: ${copies.sorted.mkString(", ")}")
    }
  }

  /** VERDICT r15 #4 (artifact side): the live tests above catch a
    * cartesian/BNLJ at TEST scale only — the committed PLANS / PLANS_AQE
    * artifacts are emitted at bench scale and at a 10× replica, where a
    * size-dependent planner or AQE decision could introduce one
    * invisibly. This gate re-reads every section of both artifacts and
    * fails on any cartesian, or any BNLJ outside the same allowlist the
    * live test documents (pre-checkpoint subtrees gate under their
    * registered query's name).
    */
  test("no cartesian/unallowlisted-BNLJ in any committed plan artifact section") {
    val offenders = Seq("PLANS" -> planFields, "PLANS_AQE" -> aqeFields)
      .flatMap { case (kind, fields) =>
        PlanShapeSpec.sections(kind, fields).flatMap(_.plans.toSeq.sortBy(_._1))
          .flatMap { case (name, c) =>
            val cartBad =
              if (c("cartesian_joins") > 0)
                Seq(s"$kind.json: $name cartesian_joins=${c("cartesian_joins")}")
              else Nil
            val bnlBad =
              if (c("bnl_joins") > 0 &&
                  !allowedNestedLoop(name.stripSuffix("__pre_ckpt")))
                Seq(s"$kind.json: $name bnl_joins=${c("bnl_joins")} (not allowlisted)")
              else Nil
            cartBad ++ bnlBad
          }
      }
    assert(offenders.isEmpty,
      s"quadratic join shapes in committed artifacts:\n${offenders.mkString("\n")}")
  }

  /** VERDICT r16 #1: the r16 AQE artifact silently trailed the registry
    * by 3 queries and the sf1 bench by 1 — both were generated before the
    * round's last operators landed, and nothing tied artifact coverage to
    * the registry. This gate makes staleness a TEST failure: every
    * section of the committed PLANS / PLANS_AQE artifact, and the
    * BENCH_SF1_DETAIL per-query map, must cover every registered query name
    * (extra entries like `__pre_ckpt` subtrees are fine; MISSING ones are
    * not). Regenerate the artifacts after the round's final operator
    * commit, or this fails `sbt test` instead of waiting for a judge diff.
    */
  test("committed perf artifacts cover every registered query") {
    val registry = SparkEntry.queries.keySet
    val problems = scala.collection.mutable.Buffer[String]()
    Seq("PLANS" -> planFields, "PLANS_AQE" -> aqeFields).foreach {
      case (kind, fields) =>
        PlanShapeSpec.sections(kind, fields).foreach { s =>
          val missing =
            registry -- s.plans.keySet.map(_.stripSuffix("__pre_ckpt"))
          if (missing.nonEmpty)
            problems += s"$kind.json section ${s.sf} missing " +
              s"${missing.size}: ${missing.toSeq.sorted.take(5).mkString(", ")}"
        }
    }
    // The sf1 bench record gates both its recorded cardinality and its
    // per-query map, name by name.
    val detail = PlanShapeSpec.artifact("BENCH_SF1_DETAIL")
    val n = "\"n_queries\":\\s*(\\d+)".r.findFirstMatchIn(detail)
      .map(_.group(1).toInt)
    if (!n.contains(registry.size))
      problems += s"BENCH_SF1_DETAIL.json: n_queries=${n.orNull} != " +
        s"registry ${registry.size}"
    val qnames = "\"([a-z0-9_]+)\":\\s*[0-9.]+".r
      .findAllMatchIn(detail).map(_.group(1)).toSet
    val missing = registry -- qnames
    if (missing.nonEmpty)
      problems += s"BENCH_SF1_DETAIL.json missing ${missing.size}: " +
        missing.toSeq.sorted.take(5).mkString(", ")
    assert(problems.isEmpty,
      s"stale perf artifacts (regenerate after the last operator commit):\n" +
        problems.mkString("\n"))
  }

  /** No registered plan may route the full input through a single task via
    * an unpartitioned Window (Spark's own `WindowExec: No Partition
    * Defined` hazard — this is what made the original pipe_curriculum
    * global NTILE a scale-killer). An unpartitioned Window IS acceptable
    * when its input is already an aggregate: the frame below it is bounded
    * by group cardinality (per-day cumulative revenue, a #shards-row
    * offset table), not by the corpus. So the assertion is PlanDoctor's
    * UNPARTITIONED_WINDOW rule: every empty-partitionSpec WindowExec must
    * be aggregate-bounded on every input path (an aggregate joined back
    * onto the raw corpus is not).
    */
  test("no unpartitioned Window over unaggregated input in any plan") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val bad = PlanDoctor.findings(fn(spark, sf).queryExecution.executedPlan)
        .filter(_.getString(1) == "UNPARTITIONED_WINDOW")
      assert(bad.isEmpty,
        s"$name routes unaggregated input through an unpartitioned Window:" +
          s" ${bad.map(_.getString(2)).mkString("; ")}")
    }
  }

  test("q5 joins its dimension tables with broadcast hash joins") {
    assert(plan("q5_local_supplier_volume").contains("BroadcastHashJoin"))
  }

  test("q3 pushes its date/segment filters into the parquet scans") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("IsNotNull") || p.contains("LessThan") ||
      p.contains("EqualTo"), s"expected concrete pushed predicates")
  }

  test("LSH dedup plans contain no shuffle of raw document text") {
    // The exchange keys for dd_exact are the two fingerprint columns. The
    // one allowed text-carrying exchange is the layout-conditional scan
    // fan-out (REPARTITION_BY_NUM origin, Tables.maybeFanout) — but
    // dd_exact's record does not fan out (its first operation is a
    // map-side fingerprint dedup), so for THIS query no text-carrying
    // exchange of any origin is legitimate (ADVICE r17 #5: a blanket
    // REPARTITION_BY_NUM waiver would hide a future bug that accidentally
    // fans dd_exact's text out). An algorithmic (ENSURE_REQUIREMENTS)
    // reshuffle of text stays a failure for every dedup query.
    assert(SparkEntry.registry.find(_.name == "dd_exact").get.fanout.isEmpty,
      "dd_exact's record now fans out — re-tighten this gate")
    val p = plan("dd_exact")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => !l.contains("text#")),
      "dd_exact shuffles the raw document text")
  }

  test("PlanShape counters see the joins and codegen spans they gate on") {
    // Sanity of the artifact's own instrument: q5 is the known
    // broadcast-dimension plan, q1 the single-agg codegen plan.
    val q5 = PlanShape.countsNoAqe(spark,
      SparkEntry.queries("q5_local_supplier_volume")(spark, sf)).toMap
    assert(q5("broadcast_joins") >= 4, s"q5 counters: $q5")
    assert(q5("exchanges") >= 1 && q5("codegen_spans") >= 2)
    val q1 = PlanShape.countsNoAqe(spark,
      SparkEntry.queries("q1_pricing_summary")(spark, sf)).toMap
    assert(q1("exchanges") >= 1 && q1("codegen_spans") >= 1)
    // The fan-out counter must see the scan fan-out where it fires (the
    // one-file sf0.1 lineitem on 4 cores: 1 fan-out + 1 aggregate
    // exchange) and nowhere else (sf0.001 is below the 256 KiB floor), in
    // the static and the runtime plan alike.
    val q1Fn = SparkEntry.queries("q1_pricing_summary")
    val bench = s"${new java.io.File(sf).getParent}/sf0.1"
    Seq("countsNoAqe" -> PlanShape.countsNoAqe _,
        "countsAqeFinal" -> PlanShape.countsAqeFinal _).foreach {
      case (how, counts) =>
        val big = counts(spark, q1Fn(spark, bench)).toMap
        assert(big("exchanges_fanout") == 1 &&
          big("exchanges") - big("exchanges_fanout") == 1,
          s"q1 $how at sf0.1: $big")
        val tiny = counts(spark, q1Fn(spark, sf)).toMap
        assert(tiny("exchanges_fanout") == 0, s"q1 $how at sf0.001: $tiny")
    }
  }

  /** Cross-round plan-shape regression gate (VERDICT r10 #7 / r11 #4):
    * the committed PLANS.json is the baseline; every query's live static
    * (AQE-off) shuffle exchanges must not EXCEED it — an extra exchange
    * is the one plan drift that silently costs a corpus shuffle at
    * 100 TB. Two counts are gated, each on its own:
    *  - algorithmic, `exchanges - exchanges_fanout`: the shuffles the
    *    operators' algorithms need, whatever the input's file layout;
    *  - fan-out, `exchanges_fanout`: the layout-conditional scan fan-out
    *    (REPARTITION_BY_NUM, [[Tables]]), which fires only where a table
    *    is laid out as a few large files.
    * Other counter drifts (broadcast joins, codegen spans) are reported
    * via info(), not failed: they move for benign reasons (operator
    * rewrites, span fusion). After a DELIBERATE plan improvement,
    * regenerate with `sbt "runMain graft.PlanProbe"` and commit.
    */
  test("no query grew a shuffle exchange vs PLANS.json (per sf section)") {
    // Dual-scale artifact (VERDICT r13 #1): one section per sf directory,
    // each gated against live plans built on ITS OWN sf — static
    // broadcast-vs-SMJ choices are size-dependent, so sf0.001 green does
    // not imply bench-scale green.
    val sections = PlanShapeSpec.sections("PLANS", planFields)
    // extraPlans: pre-checkpoint subtrees the registered plan can't show
    // (see PlanProbe.extraPlans) — gated under the same baseline keys.
    val gated = SparkEntry.queries ++ PlanProbe.extraPlans
    val regressions = sections.flatMap { case PlanShapeSpec.Section(sfDir, _, baseline) =>
      if (!new java.io.File(sfDir).isDirectory) {
        info(s"section $sfDir skipped: directory absent on this host")
        Nil
      } else gated.toSeq.sortBy(_._1).flatMap {
        case (name, fn) => baseline.get(name).toSeq.flatMap { base =>
          val live = PlanShape.countsNoAqe(spark, fn(spark, sfDir)).toMap
          val fan = live("exchanges_fanout")
          val alg = live("exchanges") - fan
          val baseFan = base("exchanges_fanout")
          val baseAlg = base("exchanges") - baseFan
          if (live("broadcast_joins") != base("broadcast_joins"))
            info(s"$name@$sfDir broadcast_joins drifted: ${live("broadcast_joins")} vs ${base("broadcast_joins")} (not gated)")
          val algBad =
            if (alg > baseAlg) Seq(s"$name@$sfDir: $alg algorithmic " +
              s"exchanges vs $baseAlg in PLANS.json (+$fan fan-out)")
            else Nil
          val fanBad =
            if (fan > baseFan) Seq(s"$name@$sfDir: $fan fan-out " +
              s"exchanges vs $baseFan in PLANS.json")
            else Nil
          algBad ++ fanBad
        }
      }
    }
    sections.foreach { s =>
      (gated.keySet -- s.plans.keySet).toSeq.sorted
        .foreach(n => info(s"$n@${s.sf} is new since PLANS.json (ungated this round)"))
    }
    assert(regressions.isEmpty,
      s"shuffle-exchange regressions vs PLANS.json — if deliberate, " +
        s"regenerate the artifact:\n${regressions.mkString("\n")}")
  }

  /** Runtime-vs-static cross-check (the residual VERDICT r13 #1 gap):
    * PLANS_AQE.json records what AQE-enabled EXECUTION actually did at
    * bench scale (graft.AqePlanProbe — final adaptive plans, query
    * stages unwrapped). AQE may only improve on the static shape: convert
    * SMJ→broadcast, coalesce partitions, reuse stages. A query whose
    * runtime shuffle-exchange count EXCEEDS its static count at the same
    * sf has a size-dependent re-plan the static gate cannot see — fail.
    * SMJ↔BHJ flips are reported via info() (they are the expected AQE
    * wins, not regressions).
    */
  test("AQE-final runtime plans never exceed the static shuffle-exchange counts") {
    val statSections = PlanShapeSpec.sections("PLANS", planFields)
      .map(s => s.sf -> s.plans).toMap
    // Gate every AQE section that has a static twin at the SAME sf (a
    // scale-probe section like the 10× replica has no static twin and
    // is gated by the flip test below instead).
    val gatedPairs = PlanShapeSpec.sections("PLANS_AQE", aqeFields)
      .flatMap(s => statSections.get(s.sf).map(stat => (s.sf, s.plans, stat)))
    assert(gatedPairs.nonEmpty,
      "PLANS.json has no section matching any PLANS_AQE.json section")
    // Checkpoint-truncated plans get a bounded allowance: under AQE the
    // eagerly-materialized localCheckpoint RDD loses the static plan's
    // preserved hash-partitioning guarantee (AQE's coalesced shuffle
    // reads), so the DELTA-SIZED post-checkpoint frame legitimately
    // re-shuffles — bounded by the checkpointed frame (delta/edge-sized
    // by construction, see PlanProbe.extraPlans), never the corpus. The
    // set is the extraPlans bases plus their documented subtree sharers.
    val ckptTruncated = Set("dd_incremental", "dd_canonical",
      "dd_components", "dd_cluster_sizes", "dd_semantic_clusters",
      "pipe_curate", "pipe_dedup_funnel", "pipe_token_yield",
      "ns_snapshot_diff_chain", "q15_top_supplier", "ns_fso_paths",
      "ns_fso_du")
    val bad = gatedPairs.flatMap { case (aqeSf, aqe, stat) =>
      aqe.toSeq.sortBy(_._1).flatMap { case (name, a) =>
        stat.get(name).flatMap { s =>
          val (aEx, aBj, aSmj) =
            (a("exchanges"), a("broadcast_joins"), a("sort_merge_joins"))
          val (sEx, sBj, sSmj) =
            (s("exchanges"), s("broadcast_joins"), s("sort_merge_joins"))
          if (aSmj != sSmj || aBj != sBj)
            info(s"$name AQE flip at $aqeSf: smj $sSmj→$aSmj, bhj $sBj→$aBj")
          val allowance = if (ckptTruncated(name)) 3 else 0
          if (aEx > sEx + allowance)
            Some(s"$name: runtime $aEx exchanges vs $sEx static at $aqeSf")
          else {
            if (aEx > sEx)
              info(s"$name post-checkpoint re-shuffle under AQE: $aEx vs $sEx " +
                "static (delta-sized frame, within allowance)")
            None
          }
        }
      }
    }
    assert(bad.isEmpty,
      s"AQE-final plans grew shuffle exchanges vs the static shapes:\n${bad.mkString("\n")}")
  }

  /** Cross-SCALE AQE flip gate (VERDICT r14 #6): PLANS_AQE.json carries a
    * second, larger-scale section (a 10×-replicated set); the only
    * acceptable broadcast→SMJ flips between its sections are the INTENDED
    * ones — joins whose build side genuinely grows with the corpus (so
    * AQE correctly abandons the broadcast once it outgrows the
    * threshold). A flip OUTSIDE the allowlist means a join we believed
    * bounded (a dimension, a model, a scalar) is actually corpus-sized —
    * the exact class of silent scale bug this gate exists to catch. The
    * reverse direction (SMJ→broadcast at the larger scale) is always fine.
    */
  test("broadcast→SMJ flips between AQE scales stay within the intended allowlist") {
    // ADVICE r15 #1: order sections by the RECORDED scale (lineitem row
    // count the probe stamps into each section), not probe argument order
    // — a big-dir-first invocation would otherwise present growth flips
    // as SMJ shrinkage and silently pass.
    val sections = PlanShapeSpec.sections("PLANS_AQE", aqeFields)
      .sortBy(s => s.scaleRows.getOrElse(
        fail(s"PLANS_AQE.json section ${s.sf} records no scale_rows")))
      .map(s => s.sf -> s.plans)
    assert(sections.size >= 2,
      "PLANS_AQE.json has a single section — no cross-scale record")
    // Joins whose build side grows with the corpus, so the 10× flip to
    // SMJ is the PLAN WE WANT at scale (each verified in the r15 probe):
    // dd_* verify/edge joins carry the near-dup candidate frame; the
    // snapshot-diff family joins two corpus-sized namespace states;
    // ev_asof/range join day/hour-blocked event frames; q18/q21/q_cust_*
    // join order-keyed fact aggregates that track the fact table;
    // pipe_token_budget joins two one-row-per-document frames (token
    // counts, quality scores) on doc_id, both the size of the corpus.
    val intendedGrowth = Set(
      "dd_ngram_jaccard", "dd_threshold_sweep", "dd_band_sweep",
      "dd_sig_width_sweep", "dd_containment", "dd_source_dup_matrix",
      "dd_edit_distance", "dd_candidate_graph", "dd_minhash_lsh",
      "dd_lsh_audit", "dd_incremental", "dd_modality_agreement",
      "dd_chunk_exact", "dd_dup_bytes", "dd_exact", "dd_winnow_stats",
      "dd_substring_containment", "dd_rep_selection", "dd_canonical",
      "dd_components", "dd_cluster_sizes", "dd_semantic_clusters",
      "dd_cosine_sweep", "dd_embed_cosine", "dd_minhash_est",
      "pipe_curate", "pipe_dedup_funnel", "pipe_token_yield",
      "pipe_dedup_weights", "tx_crossdup", "tx_novelty",
      "ns_snapshot_diff", "ns_snapshot_diff_summary",
      "ns_snapshot_diff_chain", "ns_snapshot_space", "ns_du_incremental",
      "ev_asof_join", "ev_range_join", "ev_attribution",
      "q18_large_volume", "q21_waiting_supplier", "q13_order_count_dist",
      "q_cust_with_big_orders", "q_cust_no_orders", "q_order_gap",
      "q_integrity_audit", "q_bloom_semijoin", "q_join_skew_salted",
      "ns_key_versions", "ns_lookup_key", "ns_liststatus",
      "mm_phash_dedup", "mm_scene_cut", "pipe_token_budget")
    val (sfA, base) = sections.head
    val violations = sections.drop(1).flatMap { case (sfB, big) =>
      big.toSeq.sortBy(_._1).flatMap { case (name, b) =>
        base.get(name).flatMap { a =>
          val (aBj, aSmj) = (a("broadcast_joins"), a("sort_merge_joins"))
          val (bBj, bSmj) = (b("broadcast_joins"), b("sort_merge_joins"))
          if (bSmj > aSmj && !intendedGrowth(name))
            Some(s"$name: smj $aSmj@$sfA → $bSmj@$sfB (unlisted flip — " +
              "a 'bounded' broadcast side is growing with the corpus)")
          else {
            if (bSmj != aSmj || bBj != aBj)
              info(s"$name scale flip: smj $aSmj→$bSmj, bhj $aBj→$bBj ($sfA→$sfB)")
            None
          }
        }
      }
    }
    assert(violations.isEmpty,
      s"unlisted broadcast→SMJ scale flips:\n${violations.mkString("\n")}")
  }
}

/** The committed artifacts the gates read: one file per kind, named
  * `<KIND>.json` in the repo root (the working directory of `sbt test`).
  * Earlier rounds' copies are in git history, not beside them.
  */
object PlanShapeSpec {
  import org.scalatest.Assertions.assert

  /** Every artifact kind a tier-1 gate reads (ORACLE_TIMES: SurveySyncSpec). */
  val gatedKinds: Seq[String] =
    Seq("PLANS", "PLANS_AQE", "BENCH_SF1_DETAIL", "ORACLE_TIMES")

  /** The text of `<kind>.json`; a missing file fails the calling gate. */
  def artifact(kind: String): String = {
    val f = new java.io.File(s"$kind.json")
    assert(f.isFile, s"${f.getName} is not committed")
    java.nio.file.Files.readString(f.toPath)
  }

  /** One section of a plan artifact: its sf directory, the lineitem row
    * count AqePlanProbe records, and each plan's counters by name.
    */
  case class Section(sf: String, scaleRows: Option[Long],
      plans: Map[String, Map[String, Int]])

  private val entry = "\"([a-z0-9_]+)\": \\{([^{}]*)\\}".r
  private val counter = "\"([a-z_]+)\": (\\d+)".r

  /** The sections of PLANS.json or PLANS_AQE.json, laid out as
    * `{"sections": [{"sf": dir, ..., "queries": {name: {counters}}}, ...]}`
    * with exactly `fields` as every entry's counters, in order. Any other
    * layout fails the calling gate.
    */
  def sections(kind: String, fields: Seq[String]): Seq[Section] = {
    val text = artifact(kind)
    assert(text.startsWith("{\"sections\": ["),
      s"$kind.json is not a {\"sections\": [...]} artifact")
    val secs = text.split("\\{\"sf\": \"").toSeq.drop(1).map { chunk =>
      val plans = entry.findAllMatchIn(chunk).map { m =>
        val cs = counter.findAllMatchIn(m.group(2))
          .map(c => c.group(1) -> c.group(2).toInt).toSeq
        assert(cs.map(_._1) == fields,
          s"$kind.json: ${m.group(1)} has counters ${cs.map(_._1)}, not $fields")
        m.group(1) -> cs.toMap
      }.toMap
      Section(chunk.takeWhile(_ != '"'),
        "\"scale_rows\": (\\d+)".r.findFirstMatchIn(chunk).map(_.group(1).toLong),
        plans)
    }
    assert(secs.nonEmpty && secs.forall(_.plans.size > 200),
      s"failed to parse $kind.json: ${secs.map(_.plans.size)} plans per section")
    secs
  }
}
