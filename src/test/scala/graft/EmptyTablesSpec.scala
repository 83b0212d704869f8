package graft

import org.apache.spark.sql.functions.col

/** Every registered query must EXECUTE against schema-identical EMPTY
  * tables — the degenerate input a 100 TB job always encounters (empty
  * partitions, a fresh namespace, a day with no events). Rows may be zero
  * or a legitimate all-null/zero report row; what must not happen is a
  * runtime exception (division by zero, empty-reduce, sequence underflow,
  * NULL propagation into typed code paths). A failure here is a latent
  * production crash that the populated-data oracle gate cannot see.
  */
class EmptyTablesSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("empty-tables").toString
    Tables.names.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes on empty tables") {
      val df = fn(spark, emptyDir)
      df.collect() // any runtime exception fails the test with its cause
      assert(df.schema.fields.nonEmpty)
    }
  }

  test("ins_scm_protocol reports 0 (not NULL) for every counter on a fresh namespace") {
    // ADVICE r11: Spark's SUM skips NULLs but the oracle's `a + d + g`
    // would propagate one — both engines now coalesce the corpus sums, so
    // an empty namespace must report 0 processed requests, a value
    // assertion the schema-only empty gate above cannot make.
    val rows = graft.operators.Containers.insScmProtocol(spark, emptyDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set(
      "scm_block_location_protocol_AllocateScmBlock",
      "scm_block_location_protocol_DeleteScmKeyBlocks",
      "scm_block_location_protocol_GetScmInfo",
      "scm_rpc_processed_requests"))
    assert(rows.values.forall(_ == 0L),
      s"fresh-namespace counters must all be 0, got $rows")
  }

  test("EVERY query keeps the populated schema on empty input") {
    // Universal schema-drift gate (VERDICT r9 #8): the analyzed schema
    // must be input-independent for every registered query — a dtype that
    // flips on NULL-dominated branches breaks downstream readers exactly
    // on the empty partitions a 100 TB job always has. Analysis-only per
    // query (no execution), so the universal sweep stays cheap.
    val drifts = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val e = fn(spark, emptyDir).schema
        val p = fn(spark, sf).schema
        if (e == p) None else Some(s"$name: empty=$e vs populated=$p")
    }
    assert(drifts.isEmpty,
      s"${drifts.size} queries drift schema on empty input:\n${
        drifts.mkString("\n")}")
  }
}
