package graft
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver.
  *
  * Measurement discipline:
  *  - results are written to the `noop` sink, not `.count()`ed — count lets
  *    Catalyst drop unreferenced projections, so map-only queries (tx_*)
  *    would measure a row-count scan instead of their real expression work;
  *  - a warm-up pass (same queries, untimed-pool subset) absorbs the
  *    first-query JIT/codegen/parquet-footer spike before any timing;
  *  - the whole suite runs SPARK_GRAFT_BENCH_PASSES times (default 3) and
  *    each query reports its MINIMUM across passes. The box is a shared VM
  *    with bursty host CPU steal (observed: the same warm query at 2.6 s
  *    and 45 s minutes apart); a burst poisons one contiguous stretch of
  *    one pass, and the min across time-separated passes recovers the true
  *    cost. Per-query failures surface on stderr and as value -1, never
  *    silently folded into a timing;
  *  - the driver keeps only the last ~2000 chars of stdout and parses the
  *    final line as JSON, so stdout carries ONE compact line: all-query
  *    total plus the slowest per-query times, dropping the fastest entries
  *    until the line fits a 1800-char budget ("omitted" counts them). The
  *    full-precision per-query map goes to stderr for humans.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passesRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
    // Clamp to >=1 (0 passes would leave `best` empty and crash at report
    // time); fail with context on non-numeric input.
    val passes = math.max(1, try passesRaw.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$passesRaw'")
    })
    val spark = SparkEntry.session()

    def exec(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Warm-up: one scan+agg per table family plus a join, and one query
    // through each custom kernel expression — JIT, Janino codegen cache,
    // and parquet footers are hot before the timed loop.
    val warmup = Seq("q1_pricing_summary", "q3_shipping_priority",
      "ns_filesize_histogram", "ev_user_activity", "tx_tokens",
      "dd_embed_cosine", "dd_minhash_lsh", "ns_top_keys_per_bucket")
    warmup.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try exec(fn) catch { case _: Throwable => () }
      }
    }

    // Optional comma-separated name filter for local iteration
    // (SPARK_GRAFT_BENCH_ONLY=q1_pricing_summary,ns_du). Unset → full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (pass <- 1 to passes) {
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val sec =
          try { exec(fn); (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          }
        val prev = best.getOrElse(name, Double.MaxValue)
        // A failure never overwrites a success; otherwise keep the min.
        if (sec >= 0 && (prev < 0 || sec < prev)) best(name) = sec
        else if (!best.contains(name)) best(name) = sec
      }
      System.err.println(s"[bench] pass $pass/$passes done")
    }

    def f3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    val results = names.map { case (n, _) => n -> best(n) }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Queries that failed in every pass: excluded from `value`, so the count
    // makes the total's coverage explicit round-over-round.
    val failed = results.count(_._2 < 0)

    // Anti-pattern sweep in the artifact itself (VERDICT r13 #6): per-query
    // PlanDoctor ERROR count at the bench sf — scale-killers only
    // (CartesianProduct, unpartitioned corpus window); the WARN classes
    // are per-operator allowlisted in PlanShapeSpec and not counted here.
    // Expected: zero everywhere, so the stdout line carries the total plus
    // only the nonzero offenders (normally an empty map).
    val planErrors = names.map { case (n, fn) =>
      n -> (try PlanDoctor.report(fn(spark, sfDir))
          .filter(org.apache.spark.sql.functions.col("severity") === "ERROR")
          .count()
        catch { case _: Throwable => -1L })
    }
    val planErrTotal = planErrors.map(_._2).map(math.max(_, 0L)).sum
    val planErrBad = planErrors.filter(_._2 != 0L)
    System.err.println(planErrors.map { case (k, v) => s""""$k":$v""" }
      .mkString("[bench] plan_errors {", ",", "}"))

    // Full-precision detail for humans (stderr keeps stdout single-line).
    System.err.println(results.map { case (k, v) => s""""$k":$v""" }
      .mkString("[bench] detail {", ",", "}"))

    // Promote the FULL per-query map to a file artifact (VERDICT r14 #5):
    // the 1800-char stdout budget forces the JSON line to drop ~200 fast
    // queries, so round-over-round regression diffing would only see the
    // slow tail. BENCH_DETAIL.json in the working directory carries every
    // query (plus the per-query plan-error sweep) at full precision; it is
    // committed under that fixed name, earlier rounds in git history.
    // Best-effort: a read-only cwd must not fail the bench.
    try {
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
        "BENCH_DETAIL.json")
      val qs = results.sortBy(_._1)
        .map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
      val pe = planErrors.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
        s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
          s""""queries":$qs,"n_queries":${results.size},"failed":$failed,""" +
          s""""plan_errors":$planErrTotal,"plan_errors_per_query":$pe,""" +
          s""""passes":$passes,"sf":"$sfDir"}""")
      System.err.println(s"[bench] wrote full detail to $detailPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write skipped: ${e.getMessage}")
    }

    // Compact stdout line: drop the fastest queries until it fits.
    def line(included: Seq[(String, Double)], omitted: Int): String = {
      val qs = included.sortBy(_._1)
        .map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
      val pe = planErrBad.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
        s""""n_queries":${results.size},"failed":$failed,"omitted":$omitted,""" +
        s""""plan_errors":$planErrTotal,"plan_error_queries":$pe,""" +
        s""""passes":$passes,"sf":"$sfDir"}"""
    }
    var included = results
    while (line(included, results.size - included.size).length > 1800 &&
        included.nonEmpty) {
      // Drop the fastest remaining entry (failures sort as +inf — kept).
      val dropIdx = included.zipWithIndex
        .minBy { case ((_, v), _) => if (v < 0) Double.MaxValue else v }._2
      included = included.patch(dropIdx, Nil, 1)
    }
    println(line(included, results.size - included.size))
    spark.stop()
  }
}
