package graft

import org.scalatest.funsuite.AnyFunSuite

/** The text-curation decisions are each spelled once per engine: one Spark
  * function and its DuckDB SQL twin in the file that owns the decision
  * (the token count next to `tokens` in Codes). Every tx_*, pipe_* and
  * dd_* query and oracle calls them; the oracle gate pins their values,
  * this pins where they are written.
  */
class CurationDecisionsSpec extends AnyFunSuite {

  test("each text-curation decision is spelled once per engine") {
    val codes = "src/main/scala/graft/functions/Codes.scala"
    val dedup = "src/main/scala/graft/operators/Dedup.scala"
    val textOps = "src/main/scala/graft/operators/TextOps.scala"
    val pipeline = "src/main/scala/graft/operators/Pipeline.scala"
    // (decision, owner, Spark line, SQL line)
    val decisions = Seq(
      ("content fingerprint", dedup,
        """lower\(trim\(col\(""", """"lower\(trim\(text\)\)""""),
      ("exact-duplicate canonical pick", dedup,
        """min\(col\("doc_id"\)\)\.over\(Window\.partitionBy\(col\("h1"\)""",
        """MIN\((\w+\.)?doc_id\) OVER \(PARTITION BY (\w+\.)?h1"""),
      ("quality score", textOps,
        """least\(col\("n_tokens"\)\.cast\("double"\) / 50""",
        """least\(CAST\(n_tokens AS DOUBLE\) / 50"""),
      ("curation verdict", pipeline,
        """col\("quality_score"\) >= QualityMin""",
        """quality_score >= \$QualityMin"""),
      ("language-ID rule", textOps, """>= 2, "en"""", """>= 2 THEN 'en'"""),
      ("stopword hits", textOps,
        """array_contains\(arrLit\(EnStop\)""",
        """list_contains\(\$\{listLit\(EnStop\)\}"""),
      ("alphabetic-token count", textOps,
        """regexp_extract_all\(lower\((text|col\("text"\))\), lit\("\[a-z\]\+"\)""",
        """regexp_extract_all\(lower\((\$e|text)\), '\[a-z\]\+'\)"""),
      ("per-document token count", codes,
        """size\((\w+\.)*tokens\((text|col\("text"\))\)\)\.cast""",
        """CAST\(len\(\$\{(\w+\.)*tokensSql\("""),
      ("split bucket", pipeline, """col\("h1"\) % 1000""", """"h1 % 1000""""),
      ("train/val/test split", pipeline,
        """< 900, "train"""", """< 900 THEN 'train'"""),
      ("chunk index", pipeline,
        """/ ChunkTokens\.toDouble\)""", """/ \$\{ChunkTokens\.toDouble\}"""))
    decisions.foreach { case (name, owner, spark, sql) =>
      SparkSpec.assertSpelled(s"$name (Spark)", owner, spark, 1)
      SparkSpec.assertSpelled(s"$name (SQL)", owner, sql, 1)
    }
    SparkSpec.assertSpelled("tx_quality as a consumer's input", textOps,
      """TextOps\.txQuality""", 0)
    SparkSpec.assertSpelled("an oracle derived from another's text", pipeline,
      """\.replace\("ORDER BY""", 0)
  }
}
