package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool with three modes (Bench and Verify do not use it):
  *
  *  - `runMain graft.DevProbe floor <sfDir>` — the fixed cost every query
  *    pays before its own work, each the min of 3 runs:
  *     - submit: plan + schedule + noop-commit an in-memory 1-row frame
  *       (no I/O at all), the pure session/job floor;
  *     - scan1: the same plus opening lineitem.parquet for a 1-column
  *       LIMIT 1, which adds the footer/row-group open;
  *     - agg1: a full orders scan plus one shuffle aggregate.
  *  - `runMain graft.DevProbe explain <query> <sfDir> [outFile]` — the
  *    query's `explain("formatted")` text, to stdout or `outFile`;
  *  - `runMain graft.DevProbe explain all <sfDir> <outFile>` — every
  *    registry query's optimized logical and physical plan in one file,
  *    sorted by name, with expression ids, lambda names, RDD ids and
  *    exchange plan ids normalized, so two commits' plans compare with a
  *    plain `diff`. Fields are not truncated.
  *
  * Per-query timing is Bench's job: SPARK_GRAFT_BENCH_ONLY names the
  * queries, SPARK_GRAFT_BENCH_PASSES the passes. The session comes from
  * [[SparkEntry.session]], so SPARK_GRAFT_CPUS and SPARK_GRAFT_FANOUT
  * apply here as in every main.
  */
object DevProbe {
  private val usage = "usage: DevProbe floor <sfDir> | " +
    "DevProbe explain <query> <sfDir> [outFile] | " +
    "DevProbe explain all <sfDir> <outFile>"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toSeq match {
      case Seq("floor", sfDir) => floor(_, sfDir)
      case Seq("explain", "all", sfDir, out) => explainAll(_, sfDir, out)
      case Seq("explain", name, sfDir, out @ _*) if out.size <= 1 =>
        explain(_, name, sfDir, out.headOption)
      case _ => sys.error(usage)
    }
    val spark = SparkEntry.session()
    try mode(spark) finally spark.stop()
  }

  private def floor(spark: SparkSession, sfDir: String): Unit = {
    def minOf3(df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val submit = minOf3(spark.range(1).toDF())
    val scan1 = minOf3(Tables.lineitem(spark, sfDir).select("l_orderkey").limit(1))
    val agg1 = minOf3(Tables.orders(spark, sfDir).groupBy("o_orderstatus").count())
    println(f"[probe] floor.submit (noop 1-row, no I/O)   $submit%.3f s")
    println(f"[probe] floor.scan1  (open parquet, LIMIT 1) $scan1%.3f s")
    println(f"[probe] floor.agg1   (scan + 1 shuffle agg)  $agg1%.3f s")
  }

  private def explain(spark: SparkSession, name: String,
      sfDir: String, out: Option[String]): Unit = {
    val formatted = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    out match {
      case Some(path) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), formatted)
        println(s"wrote $path")
      case None => println(formatted)
    }
  }

  /** Run-dependent names: JVM lambda classes, lambda-variable suffixes,
    * RDD ids and exchange plan ids. Expression ids are renumbered in order
    * of first appearance within one query, so a changed reference differs.
    */
  private val runIds = """(\$Lambda\$|\blambda \w+?_|RDD\[|plan_id=)[\dxa-f/@]+""".r
  private val exprId = """#(\d+)""".r

  private def explainAll(spark: SparkSession, sfDir: String, out: String): Unit = {
    val dump = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val qe = q(spark, sfDir).queryExecution
      val text = s"== $name: optimized ==\n" +
        qe.optimizedPlan.treeString(verbose = true, maxFields = Int.MaxValue) +
        s"== $name: physical ==\n" +
        qe.executedPlan.treeString(verbose = true, maxFields = Int.MaxValue)
      val ids = scala.collection.mutable.Map.empty[String, Int]
      exprId.replaceAllIn(runIds.replaceAllIn(text, "$1"),
        m => "#" + ids.getOrElseUpdate(m.group(1), ids.size))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), dump.mkString)
    println(s"wrote ${dump.size} plans to $out")
  }
}
