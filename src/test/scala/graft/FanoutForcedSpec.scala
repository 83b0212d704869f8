package graft

/** Forced-fanout layout gate (VERDICT r17 #3): the scan fan-out's auto
  * heuristic skips tiny inputs, so at the spec scale (sf0.001) NO fanned
  * plan ever executed under DeterminismSpec — the ~100 queries whose
  * records fan out had zero committed evidence that the hash exchange
  * above the scan preserves their results. `spark.graft.scan.fanout=on`
  * forces the exchange regardless of layout; this spec proves, for
  * representatives of every fan-out table key and the float-accumulating
  * families the verdict called out (embedding cosine / ADC math), that
  *
  *  1. the forced plan really carries the REPARTITION_BY_NUM exchange
  *     (so the gate is exercising the fanned shape, not vacuously green),
  *  2. results are bit-identical to the fanout-off plan, and
  *  3. stay identical when the shuffle-partition count changes under the
  *     forced layout (the DeterminismSpec property, fanned edition).
  */
class FanoutForcedSpec extends SparkSpec {

  // One representative per fan-out key table plus every float-carrying
  // family: lineitem (ns key derivation, decimal chains), orders, events
  // (per-user windows), documents (text/hash kernels), embeddings
  // (float cosine/ADC accumulation — the partition-order-sensitivity
  // candidates VERDICT r17 #2 named), and the byte-thresholded mm codecs.
  private val names = Seq(
    "ns_snapshot_diff", "ns_snapshot_diff_chain", "q1_pricing_summary", // lineitem
    "q_rollup_sales", // orders
    "ev_sessionize", "ev_session_stats", // events
    "tx_tokens", "dd_minhash_lsh", "pipe_curate", // documents
    "dd_embed_cosine", "dd_cosine_sweep", "sim_knn_ivfpq",
    "sim_recall_report", "sim_pq_codes", // embeddings (float math)
    "mm_real_decode", "mm_real_audio") // codec paths (4 MiB fan-out floor)

  private def rows(name: String): Set[String] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0000")).toSet

  private def withFanout[T](mode: String)(body: => T): T = {
    val key = "spark.graft.scan.fanout"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // Eager localCheckpoints truncate the registered plan at a LogicalRDD,
  // hiding the scan-side exchange from the plan TEXT (it still executes —
  // the row-equality tests below cover it); assert presence on the rest.
  private val ckptTruncated = Set("ns_snapshot_diff_chain", "pipe_curate")

  test("forcing the fan-out actually inserts the exchange (not vacuous)") {
    names.filterNot(ckptTruncated).foreach { name =>
      val p = withFanout("on") {
        SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
      }
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$name forced plan carries no REPARTITION_BY_NUM exchange")
    }
  }

  names.foreach { name =>
    test(s"$name is invariant to the forced scan fan-out and its layout") {
      val base = withFanout("off") { rows(name) }
      val fanned = withFanout("on") { rows(name) }
      assert(fanned == base, s"$name differs with the fan-out forced on")
      val conf = spark.conf
      val before = conf.get("spark.sql.shuffle.partitions")
      try {
        conf.set("spark.sql.shuffle.partitions", "7")
        assert(withFanout("on") { rows(name) } == base,
          s"$name differs fanned at 7 shuffle partitions")
      } finally conf.set("spark.sql.shuffle.partitions", before)
    }
  }
}
