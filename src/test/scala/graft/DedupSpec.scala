package graft

import graft.functions.Codes
import org.apache.spark.sql.functions._

/** Hash/shingle helpers + dedup behavior on crafted documents. */
class DedupSpec extends SparkSpec {

  test("strCode is deterministic and bounded") {
    val s = spark
    import s.implicits._
    val got = Seq("hello world foo", "hello world foo", "different")
      .toDF("t").select(Codes.strCode(col("t")).as("x"))
      .collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got(0) != got(2))
    assert(got.forall(x => x >= 0 && x < Codes.P))
  }

  test("shingles3 guards short docs (Spark sequence descends below 1)") {
    val s = spark
    import s.implicits._
    val got = Seq("one two", "one two three four")
      .toDF("text")
      .select(Codes.shingles3(Codes.tokens(col("text"))).as("sg"))
      .collect().map(_.getSeq[String](0))
    assert(got(0).isEmpty)
    assert(got(1) == Seq("one two three", "two three four"))
  }

  test("minhash LSH finds a crafted near-duplicate pair, not unrelated docs") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .lshPairs(graft.operators.Dedup.signatures(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("dd_containment flags a quoted-inside pair the jaccard gate drops") {
    val s = spark
    import s.implicits._
    // B = A + 30 extra tokens: every one of A's 38 shingles appears in B
    // (containment(A→B) = 1.0) but jaccard = 38/68 ≈ 0.56 — below the
    // near-dup gate's 0.6.
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = a + " " + (1 to 30).map(i => s"z$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"u$i").mkString(" ")
    val docs = Seq((0L, a), (1L, b), (2L, unrelated))
      .toDF("doc_id", "text")
    // Precondition: the banding must surface (0,1) as a candidate at this
    // jaccard level (deterministic given the fixed hash family).
    val cand = graft.operators.Dedup
      .lshPairs(graft.operators.Dedup.signatures(docs))
    assert(cand.collect().map(r => (r.getLong(0), r.getLong(1)))
      .contains((0L, 1L)), "LSH must bucket the containment pair")
    // Score through the REAL operator core — emit floor and relation
    // classifier included.
    val rows = graft.operators.Dedup.containmentScores(docs).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r)).toMap
    val r01 = rows.getOrElse((0L, 1L),
      fail("the quoted-inside pair must survive the 0.5 emit floor"))
    assert(r01.getAs[Long]("cont_a_ppm") == 1000000L,
      "A is wholly inside B: containment must be exactly 1e6")
    assert(r01.getAs[Long]("jaccard_ppm") < 600000L,
      "the pair must sit BELOW the near-dup gate")
    assert(r01.getAs[String]("relation") == "containment",
      s"classifier must call it containment, got ${r01.getAs[String]("relation")}")
    // The jaccard-gated verify drops the same pair.
    val verified = graft.operators.Dedup.verifiedPairs(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(!verified.contains((0L, 1L)),
      "the >=0.6 jaccard gate should drop the quoted-inside pair")
  }

  test("dd_containment on the corpus: near_dup rows reconcile with the verify gate") {
    val cont = graft.operators.Dedup.ddContainment(spark, sf).collect()
    cont.foreach { r =>
      val (sa, sb, ni) = (r.getAs[Long]("size_a"), r.getAs[Long]("size_b"),
        r.getAs[Long]("n_inter"))
      assert(ni <= math.min(sa, sb), "intersection bounded by both sets")
      assert(r.getAs[Long]("cont_a_ppm") >= r.getAs[Long]("jaccard_ppm"),
        "containment is never below jaccard")
      assert(Set("near_dup", "containment", "overlap")
        .contains(r.getAs[String]("relation")))
    }
    // Every >= 0.6-jaccard verified pair appears here classed near_dup
    // (0.6 jaccard implies both containments >= 0.6 >= the 0.5 emit floor).
    val nearHere = cont.filter(_.getAs[String]("relation") == "near_dup")
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val verified = graft.operators.Dedup.ddNgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(verified.subsetOf(nearHere),
      s"verified pairs missing from containment: ${(verified -- nearHere).take(3)}")
  }

  test("dd_rep_selection picks the longest copy on constructed clusters") {
    val s = spark
    import s.implicits._
    // Cluster 1: doc 1 (40 tokens) is the min-id canonical, doc 2 is a
    // LONGER near-dup (44 tokens) — the best pick must be doc 2 with a
    // 4-token gain. Doc 9 is an unrelated singleton (no row).
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val longer = base + " " + (1 to 4).map(i => s"e$i").mkString(" ")
    val other = (100 to 140).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, base), (2L, longer), (9L, other))
      .toDF("doc_id", "text")
    val lab = graft.operators.Dedup.canonicalLabels(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assume(lab(2L) == 1L, "construction: docs 1,2 must verify as near-dups")
    val got = graft.operators.Dedup.repSelection(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((1L, 2L, 40L, 2L, 44L, 4L)),
      s"expected the 44-token copy as best with a 4-token gain, got $got")
  }

  test("dd_rep_selection invariants on the corpus") {
    val rows = graft.operators.Dedup.ddRepSelection(spark, sf).collect()
    assert(rows.nonEmpty, "the corpus has near-dup clusters")
    val labels = graft.operators.Dedup.canonicalLabels(
      Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySize = labels.groupBy(_._2).map { case (l, m) => l -> m.length }
    rows.foreach { r =>
      val (cid, n) = (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_docs"))
      assert(n >= 2L && bySize(cid).toLong == n,
        s"cluster $cid size mismatch: $n vs ${bySize(cid)}")
      assert(r.getAs[Long]("best_tokens") >= r.getAs[Long]("canon_tokens"))
      assert(r.getAs[Long]("gained_tokens") ==
        r.getAs[Long]("best_tokens") - r.getAs[Long]("canon_tokens"))
      // The best pick is a member of its cluster.
      assert(labels.contains((r.getAs[Long]("best_id"), cid)))
    }
    assert(rows.length == bySize.count(_._2 >= 2),
      "one row per >=2-size cluster")
  }

  test("dd_exact groups identical normalized text") {
    val s = spark
    import s.implicits._
    val docs = Seq((5L, "Hello World"), (9L, "  hello world "), (7L, "other"))
      .toDF("doc_id", "text")
    val got = docs.groupBy(lower(trim(col("text"))).as("norm"))
      .agg(min("doc_id").as("canonical"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("hello world", 5L, 2L), ("other", 7L, 1L)))
  }

  test("quantized cosine is exact and symmetric on testdata") {
    val nm = graft.operators.Dedup.quantized(spark, sf).limit(5).cache()
    val a = nm.select(col("vec_id").as("ia"), col("q").as("qa"), col("n2").as("na"))
    val b = nm.select(col("vec_id").as("ib"), col("q").as("qb"), col("n2").as("nb"))
    val cos = a.crossJoin(b)
      .withColumn("c", graft.operators.Dedup.cosine(col("qa"), col("qb"), col("na"), col("nb")))
    val self = cos.filter(col("ia") === col("ib")).select("c")
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-12))
    val sym = cos.filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), col("c")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val symRev = cos.filter(col("ia") > col("ib"))
      .select(col("ib"), col("ia"), col("c")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(sym == symRev)
  }

  test("dd_incremental verdicts: exact vs corpus, near vs corpus, novel, new-vs-new ignored") {
    // Injection pattern: a crafted documents table where the batch
    // (doc_id % 10 == 9) holds one exact dup of a corpus doc (case/
    // whitespace-normalized), one near dup (1 of 40 tokens changed), one
    // novel doc, and two new docs that duplicate EACH OTHER but nothing
    // in the corpus — the last pair must both ADMIT (the gate is
    // asymmetric by contract: new-vs-new is the next index build's job).
    val s = spark
    import s.implicits._
    import java.nio.file.Files
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val novel = (100 to 140).map(i => s"z$i").mkString(" ")
    val newPair = (200 to 240).map(i => s"y$i").mkString(" ")
    val d = tempDir("incr")
    Seq(
      (1L, base, "en", "src0"),
      (2L, (50 to 90).map(i => s"q$i").mkString(" "), "en", "src0"),
      (9L, "  " + base.toUpperCase + " ", "en", "src1"),
      (19L, near, "en", "src1"),
      (29L, novel, "en", "src1"),
      (39L, newPair, "en", "src1"),
      (49L, newPair, "en", "src1")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(d.resolve("documents.parquet").toString)
    val got = graft.operators.Dedup.ddIncremental(spark, d.toString)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(9L -> "REJECT_EXACT", 19L -> "REJECT_NEAR",
      29L -> "ADMIT", 39L -> "ADMIT", 49L -> "ADMIT"),
      s"verdicts wrong: $got")
  }

  /** dd_band_sweep's 16-band row IS the production (16×4) pipeline: its
    * candidate count must equal dd_minhash_lsh's pair count and its
    * verified count dd_ngram_jaccard's row count. Across configs, fewer
    * rows per band ⇒ looser match threshold ⇒ candidates monotonically
    * non-decreasing in the band count (the S-curve direction the sweep
    * exists to expose).
    */
  test("dd_band_sweep reconciles with the LSH pipeline and is monotone in bands") {
    val rows = graft.operators.Dedup.ddBandSweep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set(4L, 8L, 16L))
    val nLsh = graft.operators.Dedup.ddMinhashLsh(spark, sf).count()
    val nVer = graft.operators.Dedup.ddNgramJaccard(spark, sf).count()
    assert(rows(16L) == (nLsh, nVer),
      s"16-band row ${rows(16L)} != (dd_minhash_lsh=$nLsh, dd_ngram_jaccard=$nVer)")
    assert(rows(4L)._1 <= rows(8L)._1 && rows(8L)._1 <= rows(16L)._1,
      s"candidate counts not monotone in bands: $rows")
  }

  /** dd_sig_width_sweep's 64-wide row IS dd_lsh_audit's estimate gauge
    * (same candidates, same full-signature agreement count): mean and max
    * error must match it exactly; the full signature must also beat the
    * 8-hash prefix on mean error (the axis the sweep prices).
    */
  test("dd_sig_width_sweep reconciles with dd_lsh_audit at width 64") {
    val sweep = graft.operators.Dedup.ddSigWidthSweep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sweep.keySet == Set(8L, 16L, 32L, 64L))
    val audit = graft.operators.Dedup.ddLshAudit(spark, sf).collect()(0)
    assert(sweep(64L) == (audit.getAs[Long]("mean_abs_err_ppm"),
      audit.getAs[Long]("max_abs_err_ppm")),
      s"width-64 errors ${sweep(64L)} != dd_lsh_audit")
    assert(sweep(64L)._1 <= sweep(8L)._1,
      s"full signature no better than 8-hash prefix: $sweep")
  }

  /** The matrix is a partition of the verified pair set: cell counts sum
    * to dd_ngram_jaccard's row count and shares to ~1e6 (integer-DIV
    * truncation only).
    */
  test("dd_source_dup_matrix partitions the verified pair set") {
    val rows = graft.operators.Dedup.ddSourceDupMatrix(spark, sf).collect()
    val nPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    val nVerified = graft.operators.Dedup.ddNgramJaccard(spark, sf).count()
    assert(nPairs == nVerified, s"$nPairs cells vs $nVerified verified")
    val shares = rows.map(_.getAs[Long]("pair_share_ppm")).sum
    assert(shares <= 1000000L && shares > 1000000L - rows.length,
      s"shares sum $shares over ${rows.length} cells")
    rows.foreach { r =>
      assert((r.getAs[String]("source_x") == r.getAs[String]("source_y"))
        == r.getAs[Boolean]("within_source"))
      assert(r.getAs[String]("source_x") <= r.getAs[String]("source_y"))
    }
  }
}
