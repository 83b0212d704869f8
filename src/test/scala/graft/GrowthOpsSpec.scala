package graft

import graft.operators.{EventOps, Pipeline, RelationalExt}
import org.apache.spark.sql.functions._

/** Invariants for the round-10 growth/curation operators beyond the DuckDB
  * oracle gate: conservation laws (every purchase attributed exactly once,
  * arms partition the user base, chunks tile each document) and internal
  * consistency between each report and the frames it summarizes.
  */
class GrowthOpsSpec extends SparkSpec {

  test("ev_attribution conserves purchases and revenue across sources") {
    val purchases = EventOps.events(spark, sf)
      .filter(col("event_type") === "purchase")
    val att = EventOps.evAttribution(spark, sf).collect()
    assert(att.map(_.getAs[Long]("n_purchases")).sum == purchases.count())
    val sharePpm = att.map(_.getAs[Long]("share_ppm")).sum
    assert(sharePpm <= 1000000L && sharePpm > 1000000L - att.length,
      s"floored shares must sum to within ${att.length} ppm of 1e6, got $sharePpm")
    val sources = att.map(_.getAs[String]("source")).toSet
    assert(sources.subsetOf(Set("click", "view", "direct")))
  }

  test("ev_conversion_lag buckets partition the purchases; direct ties out") {
    val lag = EventOps.evConversionLag(spark, sf).collect()
    val att = EventOps.evAttribution(spark, sf).collect()
    assert(lag.map(_.getAs[Long]("n_purchases")).sum ==
      att.map(_.getAs[Long]("n_purchases")).sum)
    val directLag = lag.find(_.getAs[String]("lag_bucket") == "direct")
      .map(_.getAs[Long]("n_purchases")).getOrElse(0L)
    val directAtt = att.find(_.getAs[String]("source") == "direct")
      .map(_.getAs[Long]("n_purchases")).getOrElse(0L)
    assert(directLag == directAtt,
      "the un-attributed bucket must equal attribution's direct credit")
    assert(lag.map(_.getAs[String]("lag_bucket")).toSet
      .subsetOf(Set("direct", "le_1m", "le_1h", "le_6h", "le_24h")))
  }

  test("ev_rfm partitions the purchaser base and conserves revenue cents") {
    val rfm = EventOps.evRfm(spark, sf).collect()
    val purchases = EventOps.events(spark, sf)
      .filter(col("event_type") === "purchase")
    val nPurchasers = purchases.select("user_id").distinct().count()
    assert(rfm.map(_.getAs[Long]("n_users")).sum == nPurchasers,
      "RFM cells must partition the purchaser base")
    val cents = purchases
      .agg(sum((col("value").cast("decimal(12,2)") * 100).cast("bigint")))
      .collect().head.getLong(0)
    assert(rfm.map(_.getAs[Long]("revenue_cents")).sum == cents)
  }

  test("ev_ab_test arms partition users; assignment is a pure user function") {
    val ab = EventOps.evAbTest(spark, sf).collect()
    assert(ab.map(_.getAs[String]("arm")).toSeq.sorted == Seq("A", "B"))
    val nUsers = EventOps.events(spark, sf)
      .select("user_id").distinct().count()
    assert(ab.map(_.getAs[Long]("n_users")).sum == nUsers)
    ab.foreach { r =>
      assert(r.getAs[Long]("n_converted") <= r.getAs[Long]("n_users"))
      assert(r.getAs[Long]("conv_ppm") <= 1000000L)
    }
    // determinism: the arm depends only on user_id, so recomputing over a
    // differently-partitioned input cannot move a user between arms
    val again = EventOps.evAbTest(spark, sf).collect()
    assert(ab.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("ev_stickiness: DAU bounded by its month's MAU, days complete") {
    val st = EventOps.evStickiness(spark, sf).collect()
    st.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("mau"))
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L)
    }
    val nDays = EventOps.events(spark, sf)
      .select(col("ts").cast("date")).distinct().count()
    assert(st.length == nDays, "one row per active day")
  }

  test("q_join_skew: top key is the global max and ratios are consistent") {
    val skew = RelationalExt.qJoinSkew(spark, sf).collect()
    assert(skew.length == 10)
    val maxCnt = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(skew.head.getAs[Long]("n_rows") == maxCnt)
    skew.foreach { r =>
      // mean rows-per-key ≤ total rows, so the skew ratio dominates share
      assert(r.getAs[Long]("skew_ppm") >= r.getAs[Long]("share_ppm"))
    }
    assert(skew.map(_.getAs[Long]("n_rows")).toSeq ==
      skew.map(_.getAs[Long]("n_rows")).toSeq.sorted.reverse)
  }

  test("pipe_chunk tiles every document: bounds, stride, and coverage") {
    val byDoc = Pipeline.pipeChunk(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val nDocs = Tables.documents(spark, sf).count()
    assert(byDoc.size == nDocs, "every document must chunk")
    byDoc.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("chunk_seq"))
      assert(sorted.head.getAs[Long]("tok_start") == 1L, s"doc $doc start")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tok_start") -
            a.getAs[Long]("tok_start") == 24L, s"doc $doc stride")
          // overlap: next chunk starts before the previous ends
          assert(b.getAs[Long]("tok_start") <= a.getAs[Long]("tok_end") + 1)
        case _ =>
      }
      val last = sorted.last
      assert(last.getAs[Long]("n_toks") > 0, s"doc $doc empty tail chunk")
      sorted.foreach(r => assert(r.getAs[Long]("n_toks") <= 32L))
    }
  }

  test("dd_chunk_exact agrees with pipe_chunk counts and bounds dup share") {
    val chunks = Pipeline.pipeChunk(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    val dup = Pipeline.ddChunkExact(spark, sf).collect()
    dup.foreach { r =>
      assert(r.getAs[Long]("n_chunks") == chunks(r.getAs[Long]("doc_id")))
      assert(r.getAs[Long]("n_dup_chunks") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("dup_ppm") <= 1000000L)
    }
  }

  test("mm_resolution_histogram cells partition the payload set") {
    val hist = graft.operators.Multimodal
      .mmResolutionHistogram(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(hist.map(_.getAs[Long]("n_items")).sum == docs.count())
    val bytes = docs.agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(hist.map(_.getAs[Long]("total_bytes")).sum == bytes,
      "ASCII payload bytes must tie out to n_chars")
  }

  test("pipe_shard_manifest shards are contiguous and conserve the corpus") {
    val m = Pipeline.pipeShardManifest(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(m.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val ids = m.map(_.getAs[Long]("shard_id")).toSeq
    assert(ids == (0L until ids.length).toSeq, "shard ids must be dense")
    // the shuffled positions tile: shard k+1 starts right after shard k
    m.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("first_pos") == a.getAs[Long]("last_pos") + 1)
      case _ =>
    }
    assert(m.head.getAs[Long]("first_pos") == 1L)
    assert(m.last.getAs[Long]("last_pos") == docs.count())
  }

  test("q_integrity_audit detects an injected orphan (and only it)") {
    import java.nio.file.{Files, Paths}
    val d = tempDir("integrity")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(d.resolve(s"$t.parquet"),
        Paths.get(s"$sf/$t.parquet"))
    }
    val li = Tables.lineitem(spark, sf)
    val orphan = li.limit(1).withColumn("l_orderkey", lit(999999999L))
    li.unionByName(orphan).write
      .parquet(d.resolve("lineitem.parquet").toString)
    val rows = graft.operators.RelationalExt
      .qIntegrityAudit(spark, d.toString).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_violations")).toMap
    assert(rows("lineitem_orderkey") == 1L, "injected orphan not detected")
    assert(rows("orders_custkey") == 0L)
    assert(rows("lineitem_partkey") == 0L)
    // and the pristine testdata audits clean across all four relationships
    val clean = graft.operators.RelationalExt
      .qIntegrityAudit(spark, sf).collect()
    assert(clean.forall(_.getAs[Long]("n_violations") == 0L))
    assert(clean.map(_.getAs[Long]("n_checked")).sum ==
      li.count() * 3 + Tables.orders(spark, sf).count())
  }

  test("tx_novelty: the first doc is fully novel; novel counts partition the vocab") {
    val nov = graft.operators.TextOps.txNovelty(spark, sf).collect()
    val first = nov.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("novelty_ppm") == 1000000L,
      "the minimum-doc_id document must be 100% first-seen")
    // every distinct corpus shingle is first-seen in exactly one doc
    val totalNovel = nov.map(_.getAs[Long]("n_novel")).sum
    val vocab = Tables.documents(spark, sf)
      .select(explode(graft.functions.Codes.shingleCodes3(
        graft.functions.Codes.strCodes(
          graft.functions.Codes.tokens(col("text"))))).as("x"))
      .select("x").distinct().count()
    assert(totalNovel == vocab, "novel counts must partition the vocabulary")
    nov.foreach(r => assert(r.getAs[Long]("novelty_ppm") <= 1000000L))
  }

  test("dd_dup_bytes conserves the corpus and agrees with dd_exact") {
    val rep = graft.operators.Dedup.ddDupBytes(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rep.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val bytes = docs.agg(sum(col("n_chars"))).collect().head.getLong(0)
    assert(rep.map(_.getAs[Long]("total_bytes")).sum == bytes)
    val dupDocs = graft.operators.Dedup.ddExact(spark, sf)
      .agg(sum(col("n_duplicates"))).collect().head.getLong(0)
    assert(rep.map(_.getAs[Long]("dup_docs")).sum == dupDocs,
      "per-source redundant docs must sum to dd_exact's duplicate count")
    rep.foreach(r => assert(r.getAs[Long]("save_ppm") <= 1000000L))
  }

  test("q_null_profile: fully-populated facts report zero missing") {
    val prof = graft.operators.RelationalExt.qNullProfile(spark, sf).collect()
    assert(prof.length == 14)
    assert(prof.forall(_.getAs[Long]("n_missing") == 0L),
      "driver testdata has no nulls/blanks in the profiled columns")
    val byTable = prof.groupBy(_.getAs[String]("table_name"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("n_rows")).toSet }
    assert(byTable("lineitem") == Set(Tables.lineitem(spark, sf).count()))
    assert(byTable("orders") == Set(Tables.orders(spark, sf).count()))
  }

  test("pipe_source_epochs plan math is internally consistent") {
    val plan = Pipeline.pipeSourceEpochs(spark, sf).collect()
    plan.foreach { r =>
      val avail = r.getAs[Long]("avail_tokens")
      val target = r.getAs[Long]("target_tokens")
      val epochs = r.getAs[Long]("epochs")
      val planned = r.getAs[Long]("planned_tokens")
      assert(epochs >= 1L && epochs <= 4L)
      assert(planned == math.min(target, avail * 4L))
      assert(r.getAs[Long]("deficit_tokens") == target - planned)
      assert(r.getAs[Boolean]("saturated") == (target - planned > 0))
      // ceil law below the cap: epochs*avail covers the target
      if (epochs < 4L) assert(epochs * avail >= target)
    }
  }

  test("tx_zipf: constructed corpus yields exact ranks, predictions, ratios") {
    import spark.implicits._
    // 6×"w1", 3×"w2", 2×"w3", 1×"w4" — c1=6, so zipf_pred = 6 DIV rnk and
    // rf_ratio = cnt*rnk/6 are all exactly representable doubles.
    val docs = Seq(
      (1L, "w1 w1 w1 w2 w2 w3"),
      (2L, "w1 w1 w1 w2 w3 w4"))
      .toDF("doc_id", "text")
    val z = graft.operators.TextOps.zipfOf(docs).collect()
    assert(z.map(r => (r.getAs[Int]("rnk"), r.getAs[String]("tok"),
      r.getAs[Long]("cnt"), r.getAs[Long]("zipf_pred"),
      r.getAs[Double]("rf_ratio"))).toSeq == Seq(
      (1, "w1", 6L, 6L, 1.0),
      (2, "w2", 3L, 3L, 1.0),
      (3, "w3", 2L, 2L, 1.0),
      (4, "w4", 1L, 1L, 0.666667)))  // round(4/6, 6)
  }

  test("tx_zipf on the corpus: dense ranks, non-increasing counts, exact head") {
    val z = graft.operators.TextOps.txZipf(spark, sf).collect()
    assert(z.nonEmpty && z.length <= 50)
    assert(z.map(_.getAs[Int]("rnk")).toSeq == (1 to z.length))
    val cnts = z.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      "counts must be non-increasing in rank")
    // rank 1 is the true corpus-max token count, and its ratio is exactly 1
    val wc = Tables.documents(spark, sf)
      .select(explode(graft.functions.Codes.tokens(col("text"))).as("t"))
      .groupBy("t").count().agg(max("count")).collect().head.getLong(0)
    assert(z.head.getAs[Long]("cnt") == wc)
    assert(z.head.getAs[Double]("rf_ratio") == 1.0)
  }

  test("tx_bigram_stats: constructed source yields exact branching profile") {
    import spark.implicits._
    // "a b a c a b" → bigrams (a,b),(b,a),(a,c),(c,a),(a,b): n=5;
    // prefixes a→{b,c}, b→{a}, c→{a}: 3 prefixes, 4 distinct bigrams;
    // top prefix = a (2 successors).
    val docs = Seq((1L, "a b a c a b", "sX")).toDF("doc_id", "text", "source")
    val r = graft.operators.TextOps.bigramStatsOf(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("source") == "sX")
    assert(row.getAs[Long]("n_bigrams") == 5L)
    assert(row.getAs[Long]("n_distinct_bigrams") == 4L)
    assert(row.getAs[Long]("n_prefixes") == 3L)
    assert(row.getAs[Long]("branching_ppm") == 4L * 1000000 / 3)
    assert(row.getAs[Long]("bigram_ttr_ppm") == 4L * 1000000 / 5)
    assert(row.getAs[String]("top_prefix") == "a")
    assert(row.getAs[Long]("top_prefix_succ") == 2L)
  }

  test("tx_bigram_stats conserves per-source bigram totals") {
    val rep = graft.operators.TextOps.txBigramStats(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_bigrams")).toMap
    // independent count: every doc contributes max(n_tokens - 1, 0) bigrams
    val expect = Tables.documents(spark, sf)
      .select(col("source"),
        greatest(size(graft.functions.Codes.tokens(col("text"))) - 1, lit(0))
          .cast("long").as("nb"))
      .groupBy("source").agg(sum("nb").as("nb")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("nb")).toMap
    assert(rep == expect, "bigram totals must match the per-doc token counts")
  }

  /** The revenue matrix must align with the user-count matrix: same cohort
    * definition, so every revenue cell appears in the retention matrix
    * (buyers are a subset of actives) with n_buyers ≤ n_active, and each
    * cohort's week-0 ppm (when present) is exactly 1,000,000.
    */
  test("ev_cohort_revenue aligns with ev_retention_cohorts") {
    val rev = EventOps.evCohortRevenue(spark, sf).collect()
      .map(r => (r.get(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.getAs[java.lang.Long]("rev_retention_ppm"))))
      .toMap
    val ret = EventOps.evRetentionCohorts(spark, sf).collect()
      .map(r => (r.get(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rev.nonEmpty)
    rev.foreach { case (cell, (nBuyers, _)) =>
      assert(ret.contains(cell), s"revenue cell $cell missing from retention")
      assert(nBuyers <= ret(cell),
        s"cell $cell: buyers $nBuyers > actives ${ret(cell)}")
    }
    rev.collect { case ((c, 0L), (_, Some(ppm))) => (c, ppm) }
      .foreach { case (c, ppm) =>
        assert(ppm == 1000000L, s"cohort $c week-0 ppm $ppm != 1e6") }
  }

  /** Packing audit re-derived from the plan rows it summarizes: for every
    * source, the straddle count and chunk count recomputed locally from
    * the collected pack plan must match the operator's rollup.
    */
  test("pipe_pack_efficiency agrees with a local recompute of the pack plan") {
    val plan = Pipeline.pipePackPlan(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("offset_in_shard"), r.getAs[Long]("chunk_id")))
    val expect = plan.groupBy(_._1).map { case (src, rows) =>
      val straddle = rows.count { case (_, nt, off, ck) =>
        nt > 0 && (off + math.max(nt, 1) - 1) / 512 > ck }
      val chunks = rows.map { case (_, nt, off, _) =>
        (off + math.max(nt, 1) - 1) / 512 }.max + 1
      src -> (straddle.toLong, chunks)
    }
    val got = Pipeline.pipePackEfficiency(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_straddling"), r.getAs[Long]("n_chunks"))).toMap
    assert(got == expect, s"mismatch: ${got.toSeq.sorted.take(3)} vs ${expect.toSeq.sorted.take(3)}")
  }

  /** The testdata corpus has near-dup pairs but no exact copies, so the
    * weight arithmetic (1e6 DIV c, nt DIV c, the discount) is pinned on
    * constructed clusters with hand-computed expectations; the real-table
    * run then checks the conservation laws the construction can't.
    */
  test("pipe_dedup_weights: exact weights on constructed duplicate clusters") {
    val s = spark
    import s.implicits._
    val x = (1 to 8).map(i => s"x$i").mkString(" ")  // 8 tokens, 3 copies
    val y = (1 to 5).map(i => s"y$i").mkString(" ")  // 5 tokens, 2 copies
    val z = (1 to 4).map(i => s"z$i").mkString(" ")  // 4 tokens, singleton
    val docs = Seq(
      (1L, x, "s1"), (2L, x, "s1"), (3L, x, "s2"),
      (4L, y, "s1"), (5L, y, "s2"), (6L, z, "s2"))
      .toDF("doc_id", "text", "source")
    val got = Pipeline.dedupWeights(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // s1: X(c=3,nt=8)×2 + Y(c=2,nt=5): eff_docs 2·333333+500000,
    //     eff_tokens 2+2+2=6, discount 1e6 − 6e6 DIV 21.
    // s2: X + Y + Z: eff_docs 333333+500000+1000000,
    //     eff_tokens 2+2+4=8, discount 1e6 − 8e6 DIV 17.
    val expect = Seq(
      ("s1", 3L, 1166666L, 21L, 6L, 714286L),
      ("s2", 3L, 1833333L, 17L, 8L, 529412L))
    assert(got == expect, s"got $got")
  }

  test("pipe_dedup_weights conservation laws on the real corpus") {
    val rows = Pipeline.pipeDedupWeights(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "sources must partition the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("eff_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("eff_docs_ppm") <= r.getAs[Long]("n_docs") * 1000000L)
      assert(r.getAs[Long]("discount_ppm") >= 0L &&
        r.getAs[Long]("discount_ppm") <= 1000000L)
    }
    // The corpus has verified near-dup clusters, so down-weighting must
    // bite somewhere: strict global inequality.
    assert(rows.map(_.getAs[Long]("eff_docs_ppm")).sum < nDocs * 1000000L,
      "near-dup clusters exist: some doc must weigh < 1.0")
  }

  test("q1_incremental merge is bit-identical to the full-rescan Q1") {
    def key(r: org.apache.spark.sql.Row): String =
      r.toSeq.map(String.valueOf).mkString("\u0000")
    val full = graft.operators.Relational.q1PricingSummary(spark, sf)
      .collect().map(key).toSet
    val inc = graft.operators.Relational.q1Incremental(spark, sf)
      .collect().map(key).toSet
    assert(inc == full,
      "merged decimal partials must equal the full rescan exactly")
  }

  test("tx_fertility partitions the corpus and reconciles with tx_tokens") {
    val fert = graft.operators.TextOps.txFertility(spark, sf).collect()
    val toks = graft.operators.TextOps.txTokens(spark, sf).collect()
    assert(fert.map(_.getAs[Long]("n_docs")).sum == toks.length.toLong,
      "languages must partition the corpus")
    assert(fert.map(_.getAs[Long]("n_tokens")).sum ==
      toks.map(_.getAs[Long]("n_ws_tokens")).sum,
      "per-lang token totals must reconcile with the per-doc report")
    fert.foreach { r =>
      assert(r.getAs[Long]("alpha_ppm") >= 0L)
      assert(r.getAs[Long]("chars_per_token_milli") >= 1000L,
        "a whitespace token costs at least its own characters")
    }
  }

  test("sim_dim_stats energy shares sum to ~1e6 and reconcile with the norms") {
    val stats = graft.operators.Similarity.simDimStats(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(stats.forall(_.getAs[Long]("n_vecs") == nVecs),
      "every dimension sees every vector")
    val eSum = stats.map(_.getAs[Long]("energy_ppm")).sum
    assert(eSum <= 1000000L && eSum > 1000000L - stats.length,
      s"floored energy shares must sum to within dims ppm of 1e6, got $eSum")
    stats.foreach { r =>
      assert(r.getAs[Long]("max_q") >= r.getAs[Long]("min_q"))
      assert(r.getAs[Long]("spread_q") ==
        r.getAs[Long]("max_q") - r.getAs[Long]("min_q"))
    }
    // Cross-check against the per-vector norms the similarity family
    // carries: total squared mass over dims == sum of n2 over vectors,
    // recomputed here from the same quantized frame.
    val nm = graft.operators.Dedup.quantized(spark, sf)
    val n2Total = nm.agg(sum(col("n2"))).collect().head.getLong(0)
    val dimMass = nm.select(explode(col("q")).as("v"))
      .agg(sum(col("v") * col("v"))).collect().head.getLong(0)
    assert(dimMass == n2Total,
      "per-dimension squared mass must conserve the per-vector norms")
  }

  test("ev_power_law: exact shares on a constructed hot-user distribution") {
    val s = spark
    import s.implicits._
    // User 1 fires 91 events, users 2..10 one each: U=10, T=100.
    // top 1% = ceil(0.01*10) = 1 user -> 91/100; top 10% = 1 user too.
    val hot = ((1 to 91).map(_ => 1L) ++ (2L to 10L)).toDF("user_id")
    val gotHot = EventOps.powerLaw(hot).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(gotHot.toSeq == Seq((10L, 1L, 91L, 910000L),
      (100L, 1L, 91L, 910000L)), s"got ${gotHot.toSeq}")
    // Fully tied: 10 users x 5 events. top 1% = 1 user -> exactly 5/50.
    val tied = (1L to 10L).flatMap(u => Seq.fill(5)(u)).toDF("user_id")
    val gotTied = EventOps.powerLaw(tied).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(gotTied.toSeq == Seq((10L, 1L, 5L, 100000L),
      (100L, 1L, 5L, 100000L)), s"got ${gotTied.toSeq}")
  }

  test("ev_power_law invariants on the corpus") {
    val rows = EventOps.evPowerLaw(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 100L))
    val total = EventOps.events(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == total)
      assert(r.getAs[Long]("events_covered") <= total)
      // Top-p users cover at least their uniform share.
      assert(r.getAs[Long]("share_ppm") >= r.getLong(0) * 1000L - 1000L)
    }
    // Monotone: the 10% cohort covers at least what the 1% cohort does.
    assert(rows(1).getAs[Long]("events_covered") >=
      rows(0).getAs[Long]("events_covered"))
  }

  test("ev_concurrency bounds peak load by the day's session count") {
    val rows = EventOps.evConcurrency(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val peak = r.getAs[Long]("max_concurrent")
      assert(peak >= 1L && peak <= r.getAs[Long]("n_sessions"),
        s"peak $peak outside [1, n_sessions] on ${r.get(0)}")
    }
    // Day-clipped segments can only ADD rows vs the raw session count.
    val nSessions = EventOps.evSessionize(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_sessions")).sum >= nSessions)
  }

  test("ev_concurrency: hand-computed sweep line incl. a midnight-spanning session") {
    import spark.implicits._
    // s1 spans midnight; s2 overlaps s1 on day1; s3 TOUCHES s1's end at
    // 00:30 on day2 (touching counts as concurrent); s4 is isolated.
    val sessions = Seq(
      ("1998-01-01 23:00:00", "1998-01-02 00:30:00"),
      ("1998-01-01 23:30:00", "1998-01-01 23:45:00"),
      ("1998-01-02 00:30:00", "1998-01-02 01:00:00"),
      ("1998-01-02 02:00:00", "1998-01-02 02:10:00"))
      .toDF("ss", "se")
      .select(to_timestamp(col("ss")).as("session_start"),
        to_timestamp(col("se")).as("session_end"))
    val got = EventOps.concurrencyFromSessions(sessions).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_sessions"), r.getAs[Long]("max_concurrent"))).toSeq
    assert(got == Seq(("1998-01-01", 2L, 2L), ("1998-01-02", 3L, 2L)),
      s"got $got")
  }

  test("dd_edit_distance: hand-computed distances on constructed near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again xx"
    val twoSubs = base.updated(20, 'X').updated(40, 'Y') // same 12-prefix
    val otherPrefix = "a completely different opening line that buckets alone"
    val docs = Seq((1L, base), (2L, twoSubs), (3L, otherPrefix))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.editPairs(docs).collect()
    assert(got.length == 1, s"only the shared-prefix pair should emit")
    val r = got.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) == (1L, 2L))
    assert(r.getAs[Long]("lev_dist") == 2L)
    // Window is min(len, 60) = 60 chars; (60 - 2) * 1e6 // 60 = 966666.
    assert(r.getAs[Long]("sim_ppm") == 966666L)
  }

  test("ev_burstiness partitions the multi-event user base") {
    val rows = EventOps.evBurstiness(spark, sf).collect()
    assert(rows.map(_.getAs[String]("burst_class")).toSet
      .subsetOf(Set("bursty", "poisson-ish", "regular")))
    // Every user with >= 2 gaps summing to >= 1 whole second is classified
    // exactly once (same gap definition as the operator).
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val eligible = EventOps.events(spark, sf)
      .withColumn("gap_s",
        ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)))
          / lit(1000000L)).cast("bigint"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s"))
      .filter(col("n") >= 2 && col("s") > 0)
      .count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == eligible,
      "classes must partition the eligible user base")
  }

  test("dd_edit_distance pairs are canonical and ppm-bounded") {
    val rows = graft.operators.Dedup.ddEditDistance(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val ppm = r.getAs[Long]("sim_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(r.getAs[Long]("lev_dist") >= 0L)
      // Identical 60-char windows must score exactly 1e6.
      assert((r.getAs[Long]("lev_dist") == 0L) == (ppm == 1000000L))
    }
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "pair list must be a set")
  }

  test("tx_unigram_logprob conserves the corpus token count") {
    val rows = graft.operators.TextOps.txUnigramLogprob(spark, sf).collect()
    val total = graft.operators.TextOps.txTokens(spark, sf)
      .agg(sum(col("n_ws_tokens"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == total,
      "every token scores in exactly one (lang, source) slice")
    rows.foreach { r =>
      assert(r.getAs[Long]("vocab_size") <= r.getAs[Long]("n_tokens"))
      // Surprisal of a corpus-drawn token is >= 0 nats by definition.
      assert(r.getAs[Long]("mean_surprisal_unats") >= 0L)
    }
  }

  test("tx_unigram_logprob: every surprisal clears its rounding boundary") {
    // ln is the operator's one transcendental: JVM Math.log and DuckDB's
    // libm ln agree only to ~1 ulp (~1e-8 after the 1e6 scale). Assert
    // every distinct corpus ratio's ln(total/cnt)*1e6 sits >= 1e-4 from
    // the nearest .5 quantization boundary, so the cross-engine micro-nat
    // integers are identical with four orders of magnitude to spare.
    val toks = graft.Tables.documents(spark, sf)
      .select(explode(graft.functions.Codes.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").count().collect().map(_.getLong(1))
    val total = counts.sum.toDouble
    val worst = counts.map { c =>
      val v = math.log(total / c) * 1e6
      math.abs(v - math.floor(v) - 0.5)
    }.min
    assert(worst >= 1e-4,
      f"a vocab ratio sits $worst%.2e from its rounding boundary — " +
        "cross-engine ln quantization is no longer safely decided")
  }

  test("pipe_length_buckets tiles the corpus; waste is a proper fraction") {
    val rows = Pipeline.pipeLengthBuckets(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      if (r.getAs[Long]("bucket_max") > 0) {
        assert(r.getAs[Long]("sum_tokens") <= r.getAs[Long]("padded_tokens"))
        val w = r.getAs[Long]("waste_ppm")
        assert(w >= 0L && w < 1000000L)
      } else {
        // Overflow class: padding is undefined — chunked, never padded.
        assert(r.isNullAt(r.fieldIndex("padded_tokens")))
        assert(r.isNullAt(r.fieldIndex("waste_ppm")))
      }
    }
    // Buckets come from the fixed ladder (or the explicit overflow class).
    assert(rows.map(_.getAs[Long]("bucket_max")).forall(
      Set(-1L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)))
    // The overflow class is exactly the docs beyond the top rung.
    val nOver = graft.Tables.documents(spark, sf)
      .filter(size(graft.functions.Codes.tokens(col("text"))) > 1024).count()
    assert(rows.filter(_.getAs[Long]("bucket_max") == -1L)
      .map(_.getAs[Long]("n_docs")).sum == nOver)
  }

  test("pipe_filter_ablation marginals fold to the grand total") {
    val rows = Pipeline.pipeFilterAblation(spark, sf).collect()
    def cell(a: String, b: String, c: String): Option[Long] = rows.find { r =>
      r.getAs[String]("f_en") == a && r.getAs[String]("f_long") == b &&
        r.getAs[String]("f_unique") == c
    }.map(_.getAs[Long]("n_docs"))
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(cell("all", "all", "all").contains(nDocs))
    // One-flag marginals partition the total.
    assert(cell("y", "all", "all").getOrElse(0L) +
      cell("n", "all", "all").getOrElse(0L) == nDocs)
    assert(cell("all", "y", "all").getOrElse(0L) +
      cell("all", "n", "all").getOrElse(0L) == nDocs)
    assert(cell("all", "all", "y").getOrElse(0L) +
      cell("all", "all", "n").getOrElse(0L) == nDocs)
  }

  test("sim_mips_topk ranks by non-increasing exact dot product") {
    val rows = graft.operators.Similarity.simMipsTopk(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ==
        (1L to sorted.length).toSeq)
      val dots = sorted.map(_.getAs[Long]("dot")).toSeq
      assert(dots == dots.sortBy(-_), "dot must be non-increasing in rank")
    }
  }

  test("ev_cumulative_users ends at the distinct-user count, monotone") {
    val rows = EventOps.evCumulativeUsers(spark, sf).collect()
    val distinctUsers = EventOps.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new_users")).sum == distinctUsers,
      "every user is new exactly once")
    assert(rows.last.getAs[Long]("cumulative_users") == distinctUsers)
    val cums = rows.map(_.getAs[Long]("cumulative_users")).toSeq
    assert(cums == cums.sorted, "cumulative count must be monotone")
  }

  test("ev_anomaly_robust: flag is exactly the med/MAD rule; medians exact") {
    val rows = EventOps.evAnomalyRobust(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, med, mad) = (r.getAs[Long]("c"), r.getAs[Long]("med"),
        r.getAs[Long]("mad"))
      assert(mad >= 0L)
      assert(r.getAs[Boolean]("anomaly_flag") == (math.abs(c - med) > 3 * mad))
    }
    // Per type: med is the exact nearest-rank median of the daily counts.
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val cs = rs.map(_.getAs[Long]("c")).sorted
      val expectMed = cs((cs.length + 1) / 2 - 1)
      assert(rs.map(_.getAs[Long]("med")).distinct.toSeq == Seq(expectMed))
    }
  }

  test("dd_candidate_graph partitions the corpus; edges count twice") {
    val hist = graft.operators.Dedup.ddCandidateGraph(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(hist.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "histogram must partition the corpus incl. degree-0 docs")
    val nPairs = graft.operators.Dedup.ddMinhashLsh(spark, sf).count()
    val degreeMass = hist.map(r =>
      r.getAs[Long]("degree") * r.getAs[Long]("n_docs")).sum
    assert(degreeMass == 2 * nPairs, "handshake lemma over the candidate graph")
  }

  test("pipe_stratified_sample matches the plain-window recompute") {
    val got = Pipeline.pipeStratifiedSample(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("sample_rank"),
        r.getAs[Long]("doc_id")))
    // Contiguous ranks from 1 per language, quota respected.
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 20)
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // The custom TopKPerGroup operator must agree with the window form.
    val hashed = graft.Tables.documents(spark, sf).select(
      col("doc_id"), col("lang"),
      graft.functions.Codes.foldCode(lower(trim(col("text"))), 131L,
        graft.functions.Codes.P2).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    val expect = hashed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Int]("rk").toLong, r.getAs[Long]("doc_id"))).toSet
    assert(got.toSet == expect)
  }

  test("ev_audience_overlap bounds and exact audiences") {
    val rows = EventOps.evAudienceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    val audiences = EventOps.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      assert(a < b, "pairs must be canonical (type_a < type_b)")
      assert(r.getAs[Long]("audience_a") == audiences(a))
      assert(r.getAs[Long]("audience_b") == audiences(b))
      val nBoth = r.getAs[Long]("n_both")
      assert(nBoth <= math.min(audiences(a), audiences(b)))
      val ppm = r.getAs[Long]("jaccard_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }

  test("ns_chargeback conserves bytes; cost is exactly 7x byte-days") {
    val rows = graft.operators.Namespace.nsChargeback(spark, sf).collect()
    val keys = graft.ObjectStoreView.keys(spark, sf)
    val totalBytes = keys.agg(sum(col("size"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("total_bytes")).sum == totalBytes)
    rows.foreach { r =>
      assert(r.getAs[Long]("cost_micros") == 7L * r.getAs[Long]("byte_days"))
      // Every key is at least 0 days old, so byte-days >= 0 and is bounded
      // below by bytes x the volume's minimum age (>= 0).
      assert(r.getAs[Long]("byte_days") >= 0L)
    }
    // Spot-exact: recompute one volume's byte-days directly.
    val v0 = keys.filter(col("volume") === "vol0")
      .withColumn("age", datediff(lit("1999-01-01").cast("date"),
        col("mtime").cast("date")).cast("long"))
      .agg(sum(col("size") * col("age"))).collect().head.getLong(0)
    assert(rows.find(_.getAs[String]("volume") == "vol0")
      .get.getAs[Long]("byte_days") == v0)
  }

  test("ns_lifecycle_policy conserves bytes and its cost identity") {
    val rows = graft.operators.Namespace.nsLifecyclePolicy(spark, sf).collect()
    val totalBytes = graft.ObjectStoreView.keys(spark, sf)
      .agg(sum(col("size"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("tier_bytes")).sum == totalBytes,
      "tiers must partition the namespace bytes")
    rows.foreach { r =>
      // weight + (100 - weight) = 100 exactly, per byte.
      assert(r.getAs[Long]("monthly_cost") + r.getAs[Long]("monthly_savings")
        == 100L * r.getAs[Long]("tier_bytes"))
    }
  }
}
