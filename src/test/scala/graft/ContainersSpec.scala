package graft

import graft.operators.Containers

/** Semantic invariants of the SCM-derived container operators (value-level
  * equality is the DuckDB oracle's job; these pin the rule/plan semantics).
  */
class ContainersSpec extends SparkSpec {

  /** The test binding is spelled in [[ObjectStoreView]] alone: once as a
    * Spark Column function and once as its DuckDB SQL twin. The tests below
    * pin the formulas' values; this one pins where they are written.
    */
  test("only ObjectStoreView spells the namespace and placement binding") {
    val owner = "src/main/scala/graft/ObjectStoreView.scala"
    val decisions = Seq(
      "replica node" -> """\* 17\) % 20""",
      "container id" -> """\* 7 \+ (\$?ln\b|.*linenumber)""",
      "volume literal" -> """'vol' \|\||lit\("vol"\)""",
      "key suffix" -> """\.obj['"]""",
      "placed-replica explode" ->
        ("""explode\(sequence\(lit\(1\), col\("replicas"\)\)\)|""" +
          """UNNEST\(range\(1, \w*\.?replicas \+ 1\)\)"""))
    decisions.foreach { case (name, re) =>
      SparkSpec.assertSpelled(name, owner, re, 2)
    }
    SparkSpec.assertSpelled("key size", owner,
      """(?i)decimal\(12,2\)"?\) \* 100""", 2, elsewhereToo = true)
  }

  test("safemode status reports the four SCM exit rules with verdicts") {
    val rows = Containers.ctSafemodeStatus(spark, sf).collect()
    val rules = rows.map(_.getString(0)).toSeq
    assert(rules == Seq("CONTAINER", "DATANODE", "HEALTHY_PIPELINE",
      "ONE_REPLICA_PIPELINE"))
    rows.foreach { r =>
      val (obs, req, passed) = (r.getLong(1), r.getLong(2), r.getBoolean(4))
      assert(passed == (obs >= req), s"verdict mismatch for ${r.getString(0)}")
    }
    // Every reported pipeline has >= 1 replica by construction.
    val oneReplica = rows.find(_.getString(0) == "ONE_REPLICA_PIPELINE").get
    assert(oneReplica.getLong(1) == 1000000L && oneReplica.getBoolean(4))
  }

  test("balancer moves go from over- to under-utilized nodes, largest first") {
    val moves = Containers.ctBalancerMoves(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue,
        r.getAs[Number](4).longValue))
    assert(moves.nonEmpty)
    // move_id is a gapless 1..n ranking.
    assert(moves.map(_._1).toSeq == (1L to moves.length).toSeq)
    assert(moves.forall(m => m._3 != m._4), "self-move")
    assert(moves.forall(_._5 > 0), "empty move")
    // Within a donor node, moves are ordered largest-bytes first.
    moves.groupBy(_._3).foreach { case (_, ms) =>
      val bytes = ms.sortBy(_._1).map(_._5).toSeq
      assert(bytes == bytes.sortBy(-_), "donor not draining largest first")
    }
    // Donor and receiver sets are disjoint.
    assert(moves.map(_._3).toSet.intersect(moves.map(_._4).toSet).isEmpty)
  }

  test("replica history is a per-container timeline with valid windows") {
    val rows = Containers.ctReplicaHistory(spark, sf).collect().map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getAs[java.time.LocalDateTime](4), r.getAs[java.time.LocalDateTime](5),
        r.getLong(6), r.getBoolean(7))
    }
    assert(rows.nonEmpty)
    // Timeline ordering is pinned: (container, first_seen, replica_index).
    val key = rows.map(t =>
      (t._1, t._4.toEpochSecond(java.time.ZoneOffset.UTC), t._2)).toSeq
    assert(key == key.sorted, "history not in timeline order")
    // Every window is well-formed and every report is counted.
    rows.foreach { case (c, rep, node, first, last, n, _) =>
      assert(!first.isAfter(last), s"container $c replica $rep: first > last")
      assert(n >= 1)
      assert(rep >= 1 && rep <= 3)
      assert(node == (c * 31 + rep * 17) % 20,
        s"container $c replica $rep on wrong datanode")
    }
    // currently_hosted mirrors the live replica count arithmetic.
    rows.foreach { case (c, rep, _, _, _, _, hosted) =>
      assert(hosted == (rep <= (c * 31 + 7) % 5),
        s"container $c replica $rep: wrong currently_hosted")
    }
    // Missing containers (0 live replicas) still keep their history rows —
    // the reason the endpoint exists.
    val missing = rows.filter(t => (t._1 * 31 + 7) % 5 == 0)
    assert(missing.nonEmpty && missing.forall(!_._7))
  }

  test("block mapping: expansion, id arithmetic and report totals agree") {
    val blocks = Containers.ctContainerBlocks(spark, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(5), r.getLong(6))
    }
    assert(blocks.nonEmpty)
    // Id arithmetic is self-consistent: the id encodes (source row, seq)
    // and the source row's container is the one we asked for.
    blocks.foreach { case (c, id, seq, _, bytes) =>
      assert(c == 42L)
      assert(id % 64 == seq, "block id does not encode its sequence")
      assert((id / 64) % 1024 == 42L, "block id from a foreign container")
      assert(bytes >= 1L && bytes <= 1048576L, "block size out of range")
    }
    // Per key path, the DISTINCT seqs are gapless from 0 (duplicate
    // (orderkey, linenumber) source rows legitimately repeat seqs, exactly
    // as they repeat key paths in the namespace binding).
    blocks.groupBy(_._4).foreach { case (key, bs) =>
      val seqs = bs.map(_._3).distinct.sorted.toSeq
      assert(seqs == (0L until seqs.length).toSeq,
        s"$key: distinct block_seq not gapless")
    }
    // Only the highest seq of an id group may be short: for every id with
    // a successor id in the same group (id+1 present, same source row),
    // every byte count recorded at that id... reduces to: any block whose
    // (id + 1) exists must show a full 1 MiB companion row count >= 1.
    val ids = blocks.map(_._2).toSet
    blocks.filter(b => ids.contains(b._2 + 1) && (b._2 + 1) % 64 != 0)
      .groupBy(_._2).foreach { case (id, bs) =>
        assert(bs.exists(_._5 == 1048576L),
          s"id $id has a successor block but no full-size row")
      }
    // The report's totals agree with the expanded view for this container.
    val rep = Containers.ctBlockReport(spark, sf).collect()
      .find(_.getLong(0) == 42L).get
    assert(rep.getLong(2) == blocks.length, "report n_blocks != expansion")
    assert(rep.getLong(1) >= blocks.map(_._4).distinct.length)
  }

  test("scm metrics inventory is complete and internally consistent") {
    val m = Containers.insScmMetrics(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set(
      "scm_node_manager_healthy_nodes", "scm_node_manager_dead_nodes",
      "scm_node_manager_num_hb_processed",
      "scm_node_manager_num_hb_processing_failed",
      "scm_replica_manager_missing_containers",
      "scm_replica_manager_under_replicated_containers",
      "scm_replica_manager_over_replicated_containers",
      "scm_replica_manager_healthy_containers"))
    assert(m("scm_node_manager_healthy_nodes") +
      m("scm_node_manager_dead_nodes") == 20L)
    assert(m("scm_node_manager_num_hb_processing_failed") <=
      m("scm_node_manager_num_hb_processed"))
    // The four replication-manager gauges partition the container set.
    val containers = Containers.ctKeysPerContainer(spark, sf).count()
    assert(m("scm_replica_manager_missing_containers") +
      m("scm_replica_manager_under_replicated_containers") +
      m("scm_replica_manager_over_replicated_containers") +
      m("scm_replica_manager_healthy_containers") == containers)
  }

  test("ct_scrub_report detects an injected corrupt container on exactly its hosts") {
    // The q_integrity_audit injection pattern (VERDICT r10 #3): build a
    // 4-row lineitem whose derived container layout is fully known, write
    // it next to symlinks of the other tables, and prove the sweep's
    // attribution — not just that the oracle twin agrees with itself.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.lit
    val d = tempDir("scrub")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(d.resolve(s"$t.parquet"),
        Paths.get(s"$sf/$t.parquet"))
    }
    val li = Tables.lineitem(spark, sf)
    def row(o: Long, l: Int, price: Double) = li.limit(1)
      .withColumn("l_orderkey", lit(o))
      .withColumn("l_linenumber", lit(l))
      .withColumn("l_extendedprice", lit(price))
    // cid = (o*7 + l) % 1024; size = price*100; corrupt iff size % 9973 == 0;
    // replicas(cid) = (cid*31 + 7) % 5; node(cid, r) = (cid*31 + r*17) % 20.
    val corrupt = row(1L, 3, 99.73)   // cid 10 (replicas 2, nodes {7, 4}), size 9973 -> CORRUPT
    val sibling = row(0L, 10, 50.00)  // cid 10 too, size 5000 -> clean
    val clean   = row(1L, 4, 123.45)  // cid 11 (replicas 3, nodes {18, 15, 12}), clean
    val missing = row(0L, 3, 99.73)   // cid 3: replicas 0 -> unscannable, must not appear
    corrupt.unionByName(sibling).unionByName(clean).unionByName(missing)
      .write.parquet(d.resolve("lineitem.parquet").toString)
    val rep = Containers.ctScrubReport(spark, d.toString).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep.keySet == Set(4L, 7L, 12L, 15L, 18L),
      "scanned-node set must be exactly container 10's and 11's placements")
    Seq(4L, 7L).foreach { n =>
      assert(rep(n).getAs[Long]("n_corrupt_found") == 1L,
        s"host node $n must report the corrupt container")
      assert(rep(n).getAs[Long]("bytes_verified") == 9973L + 5000L,
        s"host node $n verifies both of container 10's keys")
      assert(rep(n).getAs[Long]("n_containers_scanned") == 1L)
    }
    Seq(12L, 15L, 18L).foreach { n =>
      assert(rep(n).getAs[Long]("n_corrupt_found") == 0L,
        s"non-host node $n must report no corruption")
      assert(rep(n).getAs[Long]("bytes_verified") == 12345L)
    }
  }

  test("scm container-location protocol counters agree with their evidence frames") {
    val rows = Containers.insScmContainerProtocol(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(
      "scm_container_location_protocol_AllocateContainer",
      "scm_container_location_protocol_DeleteContainer",
      "scm_container_location_protocol_GetContainerWithPipeline",
      "scm_rpc_processed_requests"))
    // AllocateContainer = distinct containers in the container→key map.
    val nContainers = ObjectStoreView.containerKeys(spark, sf)
      .select("container_id").distinct().count()
    assert(rows("scm_container_location_protocol_AllocateContainer")
      == nContainers)
    // DeleteContainer containers are fully deleted: each counted container
    // has zero live (non-R) keys — cross-checked against the flag frame.
    val fullyDeleted = {
      import org.apache.spark.sql.functions._
      graft.Tables.lineitem(spark, sf)
        .groupBy(((col("l_orderkey") * 7 + col("l_linenumber")) % 1024)
          .as("cid"))
        .agg(max(when(col("l_returnflag") =!= "R", 1).otherwise(0))
          .as("any_live"))
        .filter(col("any_live") === 0).count()
    }
    assert(rows("scm_container_location_protocol_DeleteContainer")
      == fullyDeleted)
    assert(fullyDeleted > 0,
      "sf0.001 must exercise a nonzero DeleteContainer count")
    // GetContainerWithPipeline = READ_KEY audit entries; total = sum.
    val reads = graft.operators.Audit.auditLog(spark, sf)
      .filter(org.apache.spark.sql.functions.col("op") === "READ_KEY")
      .count()
    assert(rows("scm_container_location_protocol_GetContainerWithPipeline")
      == reads)
    assert(rows("scm_rpc_processed_requests") ==
      nContainers + fullyDeleted + reads)
  }
}
