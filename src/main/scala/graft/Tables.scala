package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the driver-generated TPC-H-ish testdata.
  *
  * Reads go through `spark.read.parquet` so Catalyst can push filters and
  * prune columns down to the scan — callers select/filter on the returned
  * DataFrame and the parquet reader only materializes what the plan needs.
  * At 100 TB these would be the same calls against an object-store path
  * (e.g. `ofs://` via the Hadoop FileSystem API, which is how Spark reads
  * from the reference store — see /root/reference/hadoop-ozone/ozonefs/).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Registry queries where the scan fan-out measurably pays — the
    * allowlist driving [[maybeFanout]] when construction runs under
    * [[withQuery]] (i.e. through `SparkEntry.queries`). Decision data:
    * the r17 A/B benches (full suite at sf0.1 3-pass min and the 10×
    * replica, plus paired min-of-3 probes for every borderline query;
    * tables in OPTIMIZATION_r17.md). The mechanism behind the split:
    * fan-out pays when per-row scan-stage work dominates (namespace key
    * derivation, text/hash kernels, decimal chains, per-user windows over
    * full rows) and loses when the first operation collapses the corpus
    * with map-side partial aggregation/dedup over cheap narrow columns
    * (global stats/sketches, container-arithmetic rollups, hour-bucket
    * counts) — there the fan-out replaces a collapsed-partials shuffle
    * with a full-corpus one. Queries built OUTSIDE the registry default
    * to fan-out on (the layout mechanism is the right library default;
    * the list encodes measured per-operator exceptions).
    */
  private[graft] val fanoutQueries: Set[String] = Set(
    // text analysis: tokenize/regex/ngram kernels over the text column
    "tx_bigram_freq_score", "tx_bigram_stats", "tx_charset_profile",
    "tx_contamination", "tx_countmin_freq", "tx_crossdup", "tx_diversity",
    "tx_fertility", "tx_fingerprint", "tx_gopher_rules", "tx_lang_confusion",
    "tx_langid", "tx_novelty", "tx_pii", "tx_quality", "tx_readability",
    "tx_repetition", "tx_tfidf_top_terms", "tx_tokens", "tx_zipf",
    // dedup: minhash/simhash/winnow/jaccard verify pipelines
    "dd_band_sweep", "dd_candidate_graph", "dd_canonical", "dd_chunk_exact",
    "dd_cluster_sizes", "dd_components", "dd_containment", "dd_cosine_sweep",
    "dd_embed_cosine", "dd_incremental", "dd_lsh_audit", "dd_minhash_est",
    "dd_minhash_lsh", "dd_modality_agreement", "dd_ngram_jaccard",
    // dd_rep_selection dropped r18: the 10× paired probe (min-of-3, both
    // ways) reads +0.57 s — under the 0.8 s keep bar — while the driver's
    // sf0.1 bench regressed 12.5% with it fanned (VERDICT r17 #5).
    "dd_phrase_hotlist", "dd_semantic_clusters",
    "dd_shingle_hist", "dd_sig_width_sweep", "dd_source_dup_matrix",
    "dd_substring_containment",
    // similarity: per-vector quantize/assign/ADC math
    "sim_knn_ivf_trained", "sim_knn_ivfpq", "sim_knn_lsh", "sim_knn_pq",
    "sim_mips_topk", "sim_pq_codes", "sim_pq_m_sweep", "sim_probe_sweep",
    "sim_range_audit", "sim_range_search", "sim_recall_report",
    "sim_topk_bruteforce",
    // pipeline: tokenization-fed curation/packing passes
    "pipe_chunk", "pipe_curate", "pipe_curriculum", "pipe_dedup_funnel",
    "pipe_dedup_weights", "pipe_pack_efficiency", "pipe_pack_plan",
    "pipe_quality_calibration", "pipe_token_budget", "pipe_token_yield",
    "pipe_vocab_coverage",
    // namespace: key-string derivation feeds the scan stage.
    // ns_du / ns_fso_du / ns_fso_paths dropped r18: their corpus
    // aggregates were reshaped onto the numeric directory identity
    // (keyDirNarrow), which removed the per-row string work the fan-out
    // parallelized — 10× paired probes then read the exchange as a pure
    // cost (ns_fso_du 5.62 s off vs 9.65 s fanned, ns_fso_paths
    // 1.71 vs 3.74, ns_du 2.40 vs 3.22).
    "ns_acl_effective", "ns_common_prefixes", "ns_compaction_plan",
    "ns_content_summary", "ns_expired_open_keys",
    "ns_key_versions", "ns_lifecycle_policy",
    "ns_list_v2_page", "ns_liststatus", "ns_lookup_key", "ns_mpu_list_parts",
    "ns_mpu_list_uploads", "ns_quota_exhaustion", "ns_scan_plan",
    "ns_snapshot_diff", "ns_snapshot_diff_chain", "ns_snapshot_diff_summary",
    "ns_snapshot_space", "ns_top_keys", "ns_top_keys_per_bucket",
    // events: per-user windows / full-row sequence work (user_id fan-out
    // key doubles as their required clustering)
    "ev_ab_guardrail", "ev_ab_timeline", "ev_attribution", "ev_burstiness",
    "ev_cohort_revenue", "ev_concurrency", "ev_props_stats", "ev_range_join",
    "ev_sessionize", "ev_session_stats", "ev_sliding_counts",
    // multimodal codec paths: per-row PNG/WAV encode+decode — fan out only
    // above fanoutMinBytesOverride (see there; sf0.1 stays single-task)
    "mm_real_decode", "mm_real_audio",
    // containers: the key-string-building reports
    "ct_read_load", "ct_missing_container_keys", "ct_cluster_state",
    // relational: decimal-chain scans without early collapse
    "q11_revenue_concentration", "q18_large_volume", "q1_incremental",
    "q1_pricing_summary", "q21_waiting_supplier", "q_column_corr",
    "q_column_stats_approx", "q_cube_sales", "q_distinct_counts",
    "q_grouping_sets", "q_join_skew_salted", "q_order_lateness",
    "q_promo_revenue", "q_rollup_sales", "q_small_qty_revenue")

  /** Inputs below this size skip the fan-out (see [[maybeFanout]]). */
  private val fanoutMinBytes: Long = 256L << 10

  /** Per-query OVERRIDE of [[fanoutMinBytes]] (ADVICE r17 /
    * VERDICT r17 #8): the mm_* codec paths do per-row work (PNG/WAV encode +
    * decode) whose cost tracks ROW COUNT, not input bytes — at the bench
    * scale (~0.6 MB documents, 5 k rows) the exchange + 32-task scheduling
    * costs more than the single-task decode, while at the 10× replica
    * (~6 MB, 50 k rows) the fanned decode wins several-fold. The input
    * byte size is the plan-time proxy for row count (same parquet encoding
    * either side), so these queries fan out only above 4 MiB.
    */
  private[graft] val fanoutMinBytesOverride: Map[String, Long] = Map(
    "mm_real_decode" -> (4L << 20),
    "mm_real_audio" -> (4L << 20))

  private val currentQuery = new ThreadLocal[String]

  /** Runs `body` with the registry query name visible to [[maybeFanout]]
    * (construction-time only; restores the previous value on exit so a
    * registry query constructed inline from another keeps the OUTER
    * query's decision afterwards — ADVICE r17 #2).
    */
  private[graft] def withQuery[T](name: String)(body: => T): T = {
    val prev = currentQuery.get()
    currentQuery.set(name)
    try body finally {
      if (prev == null) currentQuery.remove() else currentQuery.set(prev)
    }
  }

  /** Deterministic per-table shuffle keys for the scan fan-out exchange —
    * the natural row identity of each FACT/corpus table (uniqueness is not
    * required; an even hash spread is). Dimension tables (region, nation,
    * customer, supplier, part) are deliberately absent: they are
    * broadcast-sized by definition, and an exchange below a broadcast
    * build is pure overhead.
    */
  private val fanoutKeys: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    // events fans out on user_id, not event_id: the dominant events
    // consumers (sessionization, funnels, per-user windows, retention)
    // immediately need a user_id clustering, and hashpartitioning(user_id)
    // from the fan-out satisfies that required distribution — the fan-out
    // IS their shuffle instead of an extra one.
    "events" -> Seq("user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Scan fan-out (optimization guide §2.5 "input skew" / §6): a parquet
    * input whose file count (and, in this testdata, row-group count — the
    * driver writes ONE row group per table) is far below the available
    * parallelism serializes the scan AND everything fused into its stage
    * (string derivation, hash kernels, partial aggregation) through one or
    * two tasks while the rest of the machine idles. When the estimated
    * scan-task count cannot fill half the cores, insert one deterministic
    * hash exchange on the table's natural key directly above the scan so
    * the per-row work above it runs wide. In plan text this exchange
    * carries the REPARTITION_BY_NUM origin tag, which is how plan gates
    * (PlanShapeSpec's raw-text-shuffle test) tell the layout-conditional
    * fan-out from an algorithmic (ENSURE_REQUIREMENTS) reshuffle of
    * payload data.
    *
    * Scale behavior: the decision is computed from the ACTUAL input layout
    * at plan time — a 100 TB table in thousands of files estimates far
    * more scan tasks than any executor count and the fan-out disables
    * itself; a pathological monolithic input (one giant unsplittable file)
    * fans out, which is exactly the remediation the guide prescribes.
    * Tiny inputs (< [[fanoutMinBytes]], 256 KiB — broadcast-side
    * dimensions, sf0.01 correctness tables) skip the exchange;
    * `spark.graft.scan.fanout=off` disables it globally.
    * Deterministic hash keys keep retries and the cross-layout determinism
    * gates exact (guide §2.5 warns against rand-derived keys).
    */
  private def maybeFanout(spark: SparkSession, df: DataFrame,
      name: String): DataFrame = {
    val mode = spark.conf.get("spark.graft.scan.fanout", "auto")
    if (mode == "off") return df
    if (!fanoutKeys.contains(name)) return df
    // Under a registry query, apply the measured per-query decision.
    val q = Option(currentQuery.get())
    if (q.exists(n => !fanoutQueries.contains(n))) return df
    val keyCols = fanoutKeys(name)
    val para = spark.sparkContext.defaultParallelism
    // "on" forces the exchange regardless of layout (ignores minBytes and
    // the task estimate) — the determinism/oracle gates use it to execute
    // fanned plans at scales where the auto heuristic would skip them
    // (VERDICT r17 #3). The per-query allowlist still applies: a query
    // opted out never fans out in any mode, so there is no plan to gate.
    if (mode == "on") return df.repartition(para, keyCols.map(df.col): _*)
    val minBytes =
      q.flatMap(fanoutMinBytesOverride.get).getOrElse(fanoutMinBytes)
    // The data files the scan reads, from the file index Spark listed when
    // it resolved the read (hidden `_`/`.` files already filtered out).
    val files = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
    }.getOrElse(Nil)
    val totalBytes = files.map(_.getLen).sum
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // Scan-task estimate = min of two bounds (ADVICE r17 #1):
    //  - row-group bound: Σ ceil(bytes/maxPartitionBytes) per file — a
    //    monolithic single-row-group file yields ONE working task no
    //    matter how many byte-range splits Spark cuts (only the split
    //    holding the row-group midpoint reads it);
    //  - bin-packing bound: Spark's own FilePartition packing (each file
    //    charged openCostInBytes, packed into maxSplitBytes =
    //    min(maxPartitionBytes, max(openCost, totalWithOpen/para)) bins)
    //    — many small files pack ~32 per split, so the per-file bound
    //    alone would overestimate tasks and skip a fan-out that pays.
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    val rowGroupBound = files.map(f =>
      math.max(1L, (f.getLen + maxSplit - 1) / maxSplit)).sum
    val totalWithOpen = totalBytes + openCost * files.size
    val packedSplit = math.min(maxSplit,
      math.max(openCost, totalWithOpen / math.max(1, para)))
    val packedBound = math.max(1L,
      (totalWithOpen + packedSplit - 1) / packedSplit)
    val estTasks = math.min(rowGroupBound, packedBound)
    if (totalBytes < minBytes || estTasks * 2 >= para) df
    // Plain natural-key columns, not a hash of them: hashpartitioning on
    // the raw attribute satisfies a downstream ClusteredDistribution on
    // the same key (per-user windows, same-key aggregations/joins), so
    // where the consumer's first operation already needed that clustering
    // the fan-out exchange is REUSED rather than added. In plan text this
    // exchange is identifiable by its REPARTITION_BY_NUM origin tag.
    else df.repartition(para, keyCols.map(df.col): _*)
  }

  /** `fanout = false` opts a call site out of the scan fan-out: right for
    * consumers whose FIRST operation collapses the corpus with map-side
    * partial aggregation/dedup over cheap, narrow columns — there the
    * fan-out exchange would carry the whole corpus where the collapsed
    * partials used to travel (q16's (partkey, suppkey) dedup is the
    * measured case: 2.6× slower fanned at the 10× scale).
    */
  def load(spark: SparkSession, sfDir: String, name: String,
      fanout: Boolean = true): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (fanout) maybeFanout(spark, df, name) else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  /** `events.ts` normalized to a session-timezone TIMESTAMP, adaptively by
    * the dtype the parquet actually carries. The driver's generator has
    * shipped `ts` both as int64 epoch-NANOSECONDS (requires the
    * `nanosAsLong` legacy read + integer division to µs) and as native
    * `timestamp[us]` (reads as TIMESTAMP_NTZ; a cast under the UTC session
    * reinterprets the same wall-clock micros, and DuckDB's naive read
    * agrees). Handling both here means a future generator revert cannot
    * break the 21 events-derived operators again — every consumer
    * (EventOps, Audit, StreamOps) routes through this one normalizer.
    *
    * The `spark.sql.legacy.parquet.nanosAsLong=true` config of the one
    * session factory ([[SparkEntry.session]]) is retained
    * DELIBERATELY even though current data is µs: it is a no-op for µs
    * parquet, and it is what makes a ns-parquet revert read as LongType
    * (handled here) instead of failing at the scan with an illegal-type
    * error before this normalizer ever runs.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType => // int64 epoch-nanos: truncate to µs exactly as DuckDB does
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol DIV 1000")))
      case _ => // timestamp[us] (NTZ on read): same instant under the UTC session
        df.withColumn(tsCol, col(tsCol).cast("timestamp"))
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
