package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardening (VERDICT r14 #1 — the driver's correctness leg silently
  * produced an empty artifact in r12 and r14 while bench ran fine; the
  * likely cause is a wall-clock budget the serial dump outgrew at 262
  * queries):
  *  - `oracle_sql.json` is written FIRST, before any query runs, so even
  *    a partial (timed-out / killed) dump yields a partial artifact the
  *    DuckDB compare can score instead of `{}`;
  *  - queries run CONCURRENTLY on a fixed thread pool
  *    (SPARK_GRAFT_VERIFY_THREADS, default 8). At verify scale the
  *    per-query cost is dominated by single-threaded driver work
  *    (analysis/codegen) and small-job scheduling, so overlapping
  *    queries cuts total wall time several-fold. All registered queries
  *    are pure DataFrame builders over a shared immutable SparkSession
  *    (no temp views, no session state; the one shared memo is a
  *    ConcurrentHashMap) — concurrent construction is safe, and FAIR
  *    scheduling keeps one heavy query from starving the rest;
  *  - per-query wall time and a final `[verify] DONE ok=… fail=…`
  *    summary go to stderr, so a future empty artifact is diagnosable
  *    from the driver log instead of silent.
  * Exit code stays 0 on per-query failures (each is reported loudly and
  * scored MISSING by the compare; a partial artifact must not be
  * discarded wholesale) — tools/check.py is the pass/fail authority.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local dev only; the driver always passes two):
    // comma-separated query names to restrict the dump to.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val threads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt)
    // SPARK_GRAFT_FANOUT=on (read by the session factory) runs the
    // forced-fanout oracle gate: every query whose record fans out has its
    // fanned plan hash-checked against DuckDB even where auto would skip
    // the exchange.
    val spark = SparkEntry.session(fair = true)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val t0 = System.nanoTime()
    val ok = new AtomicInteger(0)
    val failed = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(threads)
    names.foreach { case (name, fn) =>
      pool.execute { () =>
        val tq = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          ok.incrementAndGet()
          System.err.println(
            f"[verify] $name ok ${(System.nanoTime() - tq) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          failed.incrementAndGet()
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(24, TimeUnit.HOURS)
    System.err.println(f"[verify] DONE ok=${ok.get} fail=${failed.get} " +
      f"of ${names.size} in ${(System.nanoTime() - t0) / 1e9}%.1fs " +
      f"(threads=$threads, cpus=${SparkEntry.cores})")
    selfCheck(sfDir, outDir)
    spark.stop()
  }

  /** Collapsed dump→compare (VERDICT r15 #1): the driver's correctness
    * artifact came back `{}` in 3 of 4 rounds even though this dump
    * always succeeded — the failure lives in the driver's SEPARATE
    * compare step. So Verify now finishes the job itself: it shells out
    * to the one DuckDB compare (`tools/check.py --artifact`, which needs
    * python3 with duckdb) and leaves the populated per-query artifact in
    * BOTH the dump directory (`CORRECTNESS_SELF.json`) and the working
    * directory (`CORRECTNESS_SELF_LATEST.json`), so every run that
    * executes Verify produces scored rows no matter what happens
    * downstream. The artifact is copied whenever it was written: the
    * compare exits nonzero on any red row, and a red artifact is exactly
    * the one worth keeping.
    * Wall cost is bounded: the CTE-materialized oracles compare in
    * ~80 s at sf0.01 (was ~20 min — the likely budget killer), and the
    * compare is killed after 300 s.
    * Best-effort by design: any failure here logs loudly and never
    * breaks the dump contract. Opt out with SPARK_GRAFT_SELF_CHECK=0
    * (the sf1 recipe does — it runs the compare with a kill budget).
    */
  private def selfCheck(sfDir: String, outDir: String): Unit = {
    if (sys.env.getOrElse("SPARK_GRAFT_SELF_CHECK", "1") == "0") return
    try {
      val tool = new java.io.File("tools/check.py")
      if (!tool.exists()) {
        System.err.println("[verify] self-check skipped: " +
          "tools/check.py not found from cwd")
        return
      }
      val art = s"$outDir/CORRECTNESS_SELF.json"
      Files.deleteIfExists(Paths.get(art))
      val t0 = System.nanoTime()
      val pb = new ProcessBuilder("python3", tool.getPath, sfDir, outDir,
        "--artifact", art)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      // ADVICE r16 #1: an unbounded waitFor/readAllBytes would hang THIS
      // JVM if the compare stalls — the exact driver wall-budget failure
      // mode the self-check exists to mitigate. Drain stdout on a daemon
      // thread and bound the wait; on expiry kill the child and return
      // (the dump already succeeded, the contract is intact).
      val outBuf = new java.util.concurrent.atomic.AtomicReference[String]("")
      val drainer = new Thread(() =>
        try outBuf.set(new String(proc.getInputStream.readAllBytes()))
        catch { case _: Throwable => () })
      drainer.setDaemon(true)
      drainer.start()
      val budgetSec = 300L
      if (!proc.waitFor(budgetSec, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        System.err.println(s"[verify] self-check TIMEOUT after ${budgetSec}s " +
          "(child killed; dump unaffected)")
        return
      }
      drainer.join(5000)
      val out = outBuf.get()
      val rc = proc.exitValue()
      System.err.println(f"[verify] self-check rc=$rc in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs: " +
        out.linesIterator.toSeq.takeRight(2).mkString(" | "))
      val src = Paths.get(art)
      if (Files.exists(src) && Files.size(src) > 2)
        Files.copy(src, Paths.get("CORRECTNESS_SELF_LATEST.json"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] self-check failed (dump unaffected): " +
        s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}
