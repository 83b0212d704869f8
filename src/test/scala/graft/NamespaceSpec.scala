package graft

import graft.operators.Namespace
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Namespace operators against a hand-built keys table with known answers —
  * exercises the generic operators independent of the ObjectStoreView
  * binding.
  */
class NamespaceSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  lazy val keys = {
    val s = spark
    import s.implicits._
    Seq(
      // volume, bucket, key, size, mtime, replication, state
      ("v1", "b1", "a/x/1.obj", 100L, ts("2024-01-01 00:00:00"), 3, "CLOSED"),
      ("v1", "b1", "a/x/2.obj", 1024L, ts("2024-02-01 00:00:00"), 2, "CLOSED"),
      ("v1", "b1", "a/y/3.obj", 1025L, ts("2024-03-01 00:00:00"), 3, "OPEN"),
      ("v1", "b1", "b/z/4.obj", 1L, ts("2023-01-01 00:00:00"), 4, "OPEN"),
      ("v1", "b2", "a/x/5.obj", 7L, ts("2024-01-15 00:00:00"), 3, "CLOSED")
    ).toDF("volume", "bucket", "key", "size", "mtime", "replication", "state")
  }

  test("listKeys pages by prefix + startAfter with limit") {
    val got = Namespace.listKeys(keys, "v1", "b1", "a/", "a/x/1.obj", 10)
      .select("key").collect().map(_.getString(0))
    assert(got.toSeq == Seq("a/x/2.obj", "a/y/3.obj"))
  }

  test("commonPrefixes groups by next delimiter segment") {
    val got = Namespace.commonPrefixes(keys, "a/")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(got == Map("a/x/" -> 3L, "a/y/" -> 1L))
  }

  test("du aggregates per directory at depth") {
    val got = Namespace.du(keys, 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.contains(("v1", "b1", "a/x", 2L, 1124L)))
    assert(got.contains(("v1", "b1", "a/y", 1L, 1025L)))
  }

  test("fileSizeHistogram uses power-of-2 upper bounds (exponent form)") {
    val got = Namespace.fileSizeHistogram(keys)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // size 1 -> exp 0; 7 -> exp 3 (8); 100 -> exp 7 (128); 1024 -> exp 10; 1025 -> exp 11
    assert(got == Map(0 -> 1L, 3 -> 1L, 7 -> 1L, 10 -> 1L, 11 -> 1L))
  }

  test("snapshotDiff classifies CREATE / DELETE / MODIFY and drops SAME") {
    val s = spark
    import s.implicits._
    val a = Seq(("v", "b", "k1", 10L), ("v", "b", "k2", 20L), ("v", "b", "k3", 30L))
      .toDF("volume", "bucket", "key", "size")
    val b = Seq(("v", "b", "k2", 25L), ("v", "b", "k3", 30L), ("v", "b", "k4", 40L))
      .toDF("volume", "bucket", "key", "size")
    val got = Namespace.snapshotDiff(a, b)
      .collect().map(r => (r.getString(2), r.getString(3))).toMap
    assert(got == Map("k1" -> "DELETE", "k2" -> "MODIFY", "k4" -> "CREATE"))
  }

  test("replicationReport buckets by health") {
    val got = Namespace.replicationReport(keys, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("HEALTHY" -> 3L, "UNDER_REPLICATED" -> 1L, "OVER_REPLICATED" -> 1L))
  }

  test("expiredOpenKeys returns only OPEN keys older than cutoff") {
    val got = Namespace.expiredOpenKeys(keys, "2024-01-01")
      .select("key").collect().map(_.getString(0))
    assert(got.toSeq == Seq("b/z/4.obj"))
  }

  test("listStatus lists immediate children, dirs first") {
    val got = Namespace.listStatus(keys, "a")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    assert(got.toSeq == Seq(("x", true, 3L), ("y", true, 1L)))
  }

  test("snapshot space: exclusive bytes tie out with the diff's DELETE+MODIFY") {
    val space = Namespace.snapshotSpace(spark, sf)
    // Exclusive is a subset of referenced, per bucket and snapshot.
    space.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("excl_keys")) <=
        r.getLong(r.fieldIndex("ref_keys")))
      assert(r.getLong(r.fieldIndex("excl_bytes")) <=
        r.getLong(r.fieldIndex("ref_bytes")))
    }
    // snap_a's total exclusive versions = rows A references that B either
    // dropped (R-flag or mtime window) or resized (the A-flag +1024 rule) —
    // recomputed here from the flag rules directly, independent of the
    // operator's size-comparison formulation.
    val exclA = space.filter(col("snapshot") === "snap_a")
      .agg(sum("excl_keys")).collect()(0).getLong(0)
    val base = ObjectStoreView.keysWithFlag(spark, sf)
    val inA = col("mtime") < lit("1997-01-01").cast("timestamp")
    val inB = col("mtime") < lit("1998-01-01").cast("timestamp") &&
      col("rflag") =!= "R"
    val expected = base.filter(inA && (!inB || col("rflag") === "A")).count()
    assert(exclA === expected)
  }

  test("deletion backlog: per-node txns fan out by replica count") {
    val backlog = operators.Containers.ctDeletedBlocksBacklog(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val perContainer = ObjectStoreView.trashContainerKeys(spark, sf)
      .groupBy(col("container_id")).agg(count(lit(1)).as("n"))
      .withColumn("replicas",
        ObjectStoreView.containerReplicas(col("container_id")))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // Served transactions: each of the container's replicas owes every txn.
    val expectedServed = perContainer.collect {
      case (n, reps) if reps >= 1 => n * reps
    }.sum
    val expectedStuck = perContainer.collect {
      case (n, reps) if reps == 0 => n
    }.sum
    assert(backlog.filterKeys(_ >= 0).values.sum === expectedServed)
    assert(backlog.getOrElse(-1L, 0L) === expectedStuck)
  }

  test("randomized: diff composition law holds for arbitrary key states") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { round =>
      // Three random states over a small key universe: each key is
      // present/absent per state with a random (often shared) size —
      // exercising every CREATE/DELETE/MODIFY/recreate combination.
      def state() = (0 until 120).flatMap { i =>
        if (rnd.nextBoolean())
          Some(("vol0", "b0", s"k$i", (1 + rnd.nextInt(3)).toLong * 100))
        else None
      }.toDF("volume", "bucket", "key", "size")
      val (a, b, c) = (state(), state(), state())
      val composed = Namespace.snapshotDiffCompose(
        Namespace.snapshotDiff(a, b), Namespace.snapshotDiff(b, c))
      val direct = Namespace.snapshotDiff(a, c)
      assert(composed.exceptAll(direct).isEmpty &&
        direct.exceptAll(composed).isEmpty, s"round $round")
    }
  }

  test("snapshot diff composition equals the direct diff") {
    // (A→B) ∘ (B→cur) over deduplicated key states must equal the direct
    // A→cur diff — the algebra the chain operator rests on. The oracle
    // gates this at sf0.01; this pins it in-engine for refactors.
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("volume"), col("bucket"), col("key"))
        .agg(sum(col("size")).as("size"))
    val a = state(ObjectStoreView.snapshotA(spark, sf))
    val b = state(ObjectStoreView.snapshotB(spark, sf))
    val c = state(ObjectStoreView.keys(spark, sf))
    val composed = Namespace.snapshotDiffCompose(
      Namespace.snapshotDiff(a, b), Namespace.snapshotDiff(b, c))
    val direct = Namespace.snapshotDiff(a, c)
    assert(composed.exceptAll(direct).isEmpty &&
      direct.exceptAll(composed).isEmpty)
  }

  test("nsSnapshotDiffChain single-scan rewrite equals the direct diff") {
    // The r7 single-scan tri-state formulation must still satisfy the
    // composition law the registered oracle checks: chain == direct A→cur.
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("volume"), col("bucket"), col("key"))
        .agg(sum(col("size")).as("size"))
    val chain = Namespace.nsSnapshotDiffChain(spark, sf)
    val direct = Namespace.snapshotDiff(
      state(ObjectStoreView.snapshotA(spark, sf)),
      state(ObjectStoreView.keys(spark, sf)))
    assert(chain.exceptAll(direct).isEmpty &&
      direct.exceptAll(chain).isEmpty)
  }

  test("chain checkpoint holds the change set only, never the namespace") {
    // What nsSnapshotDiffChain localCheckpoints must be DELTA-sized: the
    // r7 rewrite filters keys identical across A/B/live BEFORE
    // materializing (Namespace.snapshotChainChangeSet). Pin it against an
    // independent formulation — a key belongs to the change set iff it
    // appears in diff(A,B) or diff(B,live) — so a refactor that drops the
    // SAME-filter (checkpointing the full namespace at 100 TB) fails here
    // with the two counts in the message.
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("volume"), col("bucket"), col("key"))
        .agg(sum(col("size")).as("size"))
    val a = state(ObjectStoreView.snapshotA(spark, sf))
    val b = state(ObjectStoreView.snapshotB(spark, sf))
    val c = state(ObjectStoreView.keys(spark, sf))
    val changed = Namespace.snapshotDiff(a, b).select("volume", "bucket", "key")
      .union(Namespace.snapshotDiff(b, c).select("volume", "bucket", "key"))
      .distinct().count()
    val checkpointed = Namespace.snapshotChainChangeSet(spark, sf).count()
    val namespaceKeys = c.count()
    assert(checkpointed == changed,
      s"checkpoint has $checkpointed rows, change set is $changed")
    assert(checkpointed < namespaceKeys,
      s"checkpoint is namespace-sized ($checkpointed >= $namespaceKeys)")
  }

  test("ns_key_versions: latest-by-mtime wins (not largest), ties break by size") {
    // Injection pattern: a lineitem where one key path is written 3 times
    // (same (o, l) + same ship month → same derived key), one twice at
    // the SAME instant, and one once — proving the version rollup counts,
    // picks the live version by (mtime, size) and never reports
    // single-version keys.
    import java.nio.file.{Files, Paths}
    val d = tempDir("versions")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(d.resolve(s"$t.parquet"),
        Paths.get(s"$sf/$t.parquet"))
    }
    val li = Tables.lineitem(spark, sf)
    val tsType = li.schema("l_shipdate").dataType
    def row(o: Long, l: Int, supp: Long, price: Double, ship: String) =
      li.limit(1)
        .withColumn("l_orderkey", lit(o))
        .withColumn("l_linenumber", lit(l))
        .withColumn("l_suppkey", lit(supp))
        .withColumn("l_extendedprice", lit(price))
        .withColumn("l_shipdate", lit(ship).cast(tsType))
    // key data/1995/03/5-1.obj: 3 versions; live = the LATEST (0.70), not
    // the largest (9.99).
    val v1 = row(5L, 1, 2L, 1.00, "1995-03-01 00:00:00")
    val v2 = row(5L, 1, 2L, 9.99, "1995-03-05 00:00:00")
    val v3 = row(5L, 1, 2L, 0.70, "1995-03-10 00:00:00")
    // key data/1995/03/8-1.obj: 2 same-instant versions; size breaks the tie.
    val t1 = row(8L, 1, 2L, 0.10, "1995-03-02 12:00:00")
    val t2 = row(8L, 1, 2L, 0.20, "1995-03-02 12:00:00")
    // single write -> must NOT appear.
    val solo = row(6L, 1, 2L, 5.00, "1995-03-03 00:00:00")
    v1.unionByName(v2).unionByName(v3).unionByName(t1).unionByName(t2)
      .unionByName(solo)
      .write.parquet(d.resolve("lineitem.parquet").toString)
    val rep = Namespace.nsKeyVersions(spark, d.toString).collect()
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(rep.keySet == Set("data/1995/03/5-1.obj", "data/1995/03/8-1.obj"),
      s"versioned-key set wrong: ${rep.keySet}")
    val k3 = rep("data/1995/03/5-1.obj")
    assert(k3.getAs[Long]("n_versions") == 3L)
    assert(k3.getAs[Long]("live_bytes") == 70L,
      "live must be the latest write's size, not the largest version")
    assert(k3.getAs[Long]("total_bytes") == 100L + 999L + 70L)
    assert(k3.getAs[Long]("reclaimable_bytes") == 100L + 999L)
    val k2 = rep("data/1995/03/8-1.obj")
    assert(k2.getAs[Long]("n_versions") == 2L)
    assert(k2.getAs[Long]("live_bytes") == 20L,
      "same-instant versions must break the tie on size")
    assert(k2.getAs[Long]("reclaimable_bytes") == 10L)
  }

  test("duIncremental: PUT/DELETE/UPDATE deltas maintain the report; empty buckets leave") {
    val s = spark
    import s.implicits._
    val base = Seq(
      ("v1", "b1", 2L, 100L),
      ("v1", "b2", 1L, 50L)
    ).toDF("volume", "bucket", "n_keys", "total_bytes")
    val events = Seq(
      ("v1", "b1", "DELETE", -40L),   // one of b1's keys removed
      ("v1", "b1", "UPDATE", 10L),    // the other grows by 10
      ("v1", "b2", "DELETE", -50L),   // b2 drains to zero keys
      ("v1", "b3", "PUT", 70L)        // a brand-new bucket appears
    ).toDF("volume", "bucket", "action", "d_bytes")
    val got = Namespace.duIncremental(base, events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == Set(("v1", "b1"), ("v1", "b3")),
      s"drained bucket must leave the report, new bucket must enter: ${got.keySet}")
    val b1 = got(("v1", "b1"))
    assert(b1.getAs[Long]("n_keys") == 1L)
    assert(b1.getAs[Long]("total_bytes") == 70L)
    assert(b1.getAs[Long]("n_puts") == 0L)
    assert(b1.getAs[Long]("n_deletes") == 1L)
    assert(b1.getAs[Long]("n_updates") == 1L)
    val b3 = got(("v1", "b3"))
    assert(b3.getAs[Long]("n_keys") == 1L)
    assert(b3.getAs[Long]("total_bytes") == 70L)
    assert(b3.getAs[Long]("n_puts") == 1L)
  }

  test("ns_du_incremental equals the full recompute over snapshot B") {
    // The oracle gate proves this cross-engine at sf0.01; this is the
    // same property in-engine at sf0.001: incremental maintenance from
    // the A report + A->B events lands exactly on snapshot B's aggregate.
    val inc = Namespace.nsDuIncremental(spark, sf)
      .select("volume", "bucket", "n_keys", "total_bytes")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val full = graft.ObjectStoreView.snapshotB(spark, sf)
      .groupBy(col("volume"), col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(inc == full,
      s"incremental diverged from full recompute: ${inc.toSeq.sorted.take(3)} vs ${full.toSeq.sorted.take(3)}")
  }

  /** All three quota verdicts from a constructed monthly series: growing
    * into a tight headroom (AT_RISK, exact ETA), already over quota
    * (OVER_QUOTA), shrinking (OK with NULL ETA). The testdata's volumes
    * all shrink month-over-month, so this is the only coverage of the
    * AT_RISK integer comparison and the ETA arithmetic.
    */
  test("ns_quota_exhaustion verdicts: AT_RISK / OVER_QUOTA / OK with exact ETA") {
    val s = spark
    import s.implicits._
    def month(i: Int) = java.time.LocalDateTime.of(2025, i, 15, 0, 0)
    // vol0 quota 50e9: 10/14/18 GB months -> used 42e9, headroom 8e9,
    // slope 4e9/mo -> eta exactly 2.0 months.
    // vol1 quota 100e9: 60+70 GB -> over quota.
    // vol2 quota 150e9: 5/3/1 GB declining -> negative slope, NULL eta.
    val rows =
      Seq((1, 10L), (2, 14L), (3, 18L)).map { case (m, gb) =>
        ("vol0", "b", s"k$m", gb * 1000000000L, month(m)) } ++
      Seq((1, 60L), (2, 70L)).map { case (m, gb) =>
        ("vol1", "b", s"k$m", gb * 1000000000L, month(m)) } ++
      Seq((1, 5L), (2, 3L), (3, 1L)).map { case (m, gb) =>
        ("vol2", "b", s"k$m", gb * 1000000000L, month(m)) }
    val keys = rows.toDF("volume", "bucket", "key", "size", "mtime")
    val got = Namespace.quotaExhaustion(keys).collect()
      .map(r => r.getString(0) ->
        (r.getAs[String]("status"),
          Option(r.getAs[java.lang.Double]("months_to_exhaustion")))).toMap
    assert(got("vol0") == ("AT_RISK", Some(2.0)), s"vol0: ${got("vol0")}")
    // over-quota with positive growth: ETA clamps to 0 (already exhausted)
    assert(got("vol1") == ("OVER_QUOTA", Some(0.0)), s"vol1: ${got("vol1")}")
    assert(got("vol2") == ("OK", None), s"vol2: ${got("vol2")}")
  }
}
