package graft

import org.scalatest.funsuite.AnyFunSuite

/** The near-neighbour decisions are each spelled once per engine: one
  * Spark function and its DuckDB SQL twin, in the file that owns the
  * decision (the vector-search ladder in Similarity, the shingle-pair
  * verify in Dedup). Every sim_* and dd_* query and oracle calls them;
  * the oracle gate pins their values, this pins where they are written.
  */
class NearNeighbourSpec extends AnyFunSuite {

  test("Similarity and Dedup spell each near-neighbour decision once per engine") {
    val similarity = "src/main/scala/graft/operators/Similarity.scala"
    val dedup = "src/main/scala/graft/operators/Dedup.scala"
    // (decision, owner, Spark line, SQL line)
    val decisions = Seq(
      ("query role", similarity,
        """(vec_id"\)|(?<!\$)\bv) < 10\b""", """(vec_id|\$v) < 10\b"""),
      ("corpus role", similarity,
        """(vec_id"\)|(?<!\$)\bv) >= 10\b""", """(vec_id|\$v) >= 10\b"""),
      ("seed range", similarity,
        """between\(10, (25|9 \+ PqK)\)""", """BETWEEN 10 AND (25\b|\$\{9 \+ PqK\})"""),
      ("nearest-cell rule", similarity, """"cos_c"\)\.desc""", """"c\.nc"\)\} DESC"""),
      ("PQ assignment", similarity, """-1\.0e18""", """-1e18"""),
      ("PQ distance table", similarity, """as\("qdot"\)""", """AS qdot\b"""),
      ("ADC score", similarity, """withColumn\("approx_cos"""", """END AS approx_cos"""),
      ("top-k rank", similarity,
        """\.desc, col\("neighbor_id"\)\.asc""", """DESC, neighbor_id ASC\) AS BIGINT"""),
      ("shingle set", dedup,
        """\.select\(col\("doc_id"\), shingleCodes3\(col\("tcs"\)\)\.as\("sg"\)\)""",
        """SELECT doc_id, scs AS sg FROM sc"""),
      ("shingle-set attachment", dedup, """as\("sg_a"\)""", """JOIN sets sa ON"""),
      ("pair intersection", dedup,
        """array_intersect\(col\("sg_a"\), col\("sg_b"\)\)""",
        """list_intersect\(sa\.sg, sb\.sg\)"""),
      ("rounded Jaccard", dedup,
        """round\(col\("n_inter"\)""", """round\(CAST\((n_inter|len\(list_intersect)"""))
    decisions.foreach { case (name, owner, spark, sql) =>
      SparkSpec.assertSpelled(s"$name (Spark)", owner, spark, 1)
      SparkSpec.assertSpelled(s"$name (SQL)", owner, sql, 1)
    }
  }
}
