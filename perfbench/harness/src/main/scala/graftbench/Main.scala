package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.io.Source
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{ObjectStoreView, SparkEntry, Tables}
import graft.sources.ZOrder

/** Drives graft's public entry points for one benchmark run.
  *
  * usage: Main <data dir> <lake dir> <plan file> <out dir> <seconds> <trace 0|1>
  *
  * The plan file is generated by `perfbench/workloads.py` from the seed; one
  * tab-separated operation per line, led by its phase: `warm` (run untimed
  * during set-up) or `op` (the timed operation list). Operations:
  * `query <name>` and `write <table> <linear|zorder> <cols> <files>`.
  *
  * Set-up is the cold start a caller pays: from JVM start through graft's
  * registry, the Spark session and the warm-up operations. One client
  * thread then runs whole passes over the `op` list in a closed loop until
  * the given seconds have elapsed. A registry query's answer is written as
  * parquet under `<out dir>/results/op<index>` for the DuckDB check. With
  * trace 1 the same passes also record spans and listener counters.
  */
object Main {
  final case class Op(kind: String, args: Vector[String]) {
    def name: String = if (kind == "query") args(0) else kind
  }
  final case class Done(op: Op, dur: Double, error: String)

  /** Host-speed readings taken before set-up and again after the session
    * has stopped, while no graft code runs. Readings between operations
    * are not taken: graft's JVM keeps compiling and collecting for a while
    * after an operation returns, and readings there ran 1.7 times slower. */
  val idleReadings = 10

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val Array(dataDir, lakeDir, planFile, outDir, secondsArg, traceArg) = argv
    val plan = {
      val src = Source.fromFile(planFile)
      try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1).toVector).toVector
      finally src.close()
    }
    val ops = plan.filter(_(0) == "op").map(l => Op(l(1), l.drop(2)))
    val readDir = if (ops.exists(_.kind == "write")) lakeDir else dataDir
    val out = new File(outDir)
    out.mkdirs()
    val host = new Reference.Client(new File(out, "reference.log"))
    try {
      def phase(p: String) = plan.filter(_(0) == p).map(l => Op(l(1), l.drop(2)))
      val idleBefore = Seq.fill(idleReadings)(host.time())
      val refNs = System.nanoTime() - mainNs

      // Set-up, timed from JVM start without the readings above; its steps
      // are logged to stderr.
      def step[T](what: String)(body: => T): T = {
        val t = System.nanoTime()
        try body finally System.err.println(f"set-up: $what ${(System.nanoTime() - t) / 1e9}%.2f s")
      }
      System.err.println(f"set-up: JVM start $bootS%.2f s")
      val ctx = step("registry")(Ctx(SparkEntry.queries, readDir, dataDir, lakeDir, out))
      val spark = step("session")(Session.create(out))
      phase("warm").foreach(op => step(op.name)(
        runOp(spark, ctx.copy(readDir = dataDir), op, -1, None)))
      val setupS = bootS + (System.nanoTime() - mainNs - refNs) / 1e9

      val tracer = if (traceArg == "1") Some(new Tracer) else None
      val listener = tracer.map { _ =>
        val l = new LayerListener
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
        l
      }
      val done = mutable.ArrayBuffer.empty[Done]
      val passes = mutable.ArrayBuffer.empty[Double]
      val codegen0 = Codegen.totalMs()
      val t0 = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < secondsArg.toDouble) {
        val p0 = System.nanoTime()
        ops.foreach { op =>
          val traced = tracer.map { t =>
            t.trace = s"op${done.size}"
            spark.sparkContext.setLocalProperty(LayerListener.traceKey, t.trace)
            t
          }
          val i = done.size
          done += traced.fold(runOp(spark, ctx, op, i, None))(t =>
            t.span("op:" + op.name)(runOp(spark, ctx, op, i, traced)))
        }
        passes += (System.nanoTime() - p0) / 1e9
      }
      val codegenS = (Codegen.totalMs() - codegen0) / 1e3
      val layers = for (t <- tracer; l <- listener)
        yield Layers.collect(spark, l, t, done.toSeq, codegenS, ctx)

      val rssMb = peakRssMb()
      spark.stop()
      val idleAfter = Seq.fill(idleReadings)(host.time())

      Json.write(new File(out, "result.json"), Map(
        "setup_s" -> setupS,
        "ref_s" -> (idleBefore ++ idleAfter),
        "pass_s" -> passes,
        "ops" -> done.map(d => Map("name" -> d.op.name, "kind" -> d.op.kind,
          "param" -> d.op.args.mkString("\t"), "dur_s" -> d.dur,
          "error" -> d.error)),
        "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) =>
          ops.exists(_.name == k) },
        "peak_rss_mb" -> rssMb,
        "cores" -> Session.cores,
        "layers" -> layers.getOrElse(Map.empty)))
    } finally host.close()
  }

  /** What every operation needs besides the session. */
  final case class Ctx(
      registry: Map[String, (SparkSession, String) => DataFrame],
      readDir: String, dataDir: String, lakeDir: String, out: File)

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(1).mkString.take(300)

  /** Runs one operation and times it. A registry query's answer is written
    * as parquet to `results/op<index>` for the check; a write lands in the
    * lake.
    */
  def runOp(spark: SparkSession, ctx: Ctx, op: Op, index: Int,
      tracer: Option[Tracer]): Done = {
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))
    val t0 = System.nanoTime()
    val error = try {
      op.kind match {
        case "query" =>
          val df = span("construct")(ctx.registry(op.name)(spark, ctx.readDir))
          span("execute")(df.write.mode("overwrite")
            .parquet(new File(ctx.out, s"results/op$index").getPath))
        case "write" =>
          val Seq(table, method, cols, files) = op.args
          val df = span("construct")(Tables.load(spark, ctx.dataDir, table,
            fanout = false))
          val path = s"${ctx.lakeDir}/$table.parquet"
          span("sources.write")(method match {
            case "linear" => ZOrder.writeLinear(df, path, files.toInt, cols)
            case "zorder" =>
              val Array(x, y) = cols.split(",")
              ZOrder.writeZOrdered(df, path, files.toInt, x, y)
          })
      }
      ""
    } catch { case e: Throwable => errorText(e) }
    Done(op, (System.nanoTime() - t0) / 1e9, error)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    finally src.close()
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Per-layer counters of a traced run. */
object Layers {
  def collect(spark: SparkSession, listener: LayerListener, tracer: Tracer,
      done: Seq[Main.Done], codegenS: Double, ctx: Main.Ctx): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerListener.traceKey, null)
    // Drain: a marker query's callbacks arrive after every earlier event,
    // so once they are seen all counters of the timed passes are in.
    val mark = tracer.nowUs / 1000 * 1000
    spark.range(1).toDF().collect()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!listener.synchronized(listener.plans.exists(_.start >= mark) &&
        listener.jobs.values.exists(j => j.start >= mark && j.end > j.start)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)

    val ops = tracer.spans.filter(_.parent == 0)
    def traceAt(t: Long) = ops.find(s => s.start <= t && t <= s.end).map(_.trace)
    val perOp = mutable.Map.empty[String, Map[String, Double]]
    listener.synchronized {
      listener.jobs.values.filter(_.trace.nonEmpty).foreach(j =>
        tracer.adopt(j.trace, "spark.job", j.start, j.end))
      listener.plans.foreach { p =>
        traceAt(p.start).foreach { tr =>
          p.phases.foreach { case (k, s, e) => tracer.adopt(tr, "spark." + k, s, e) }
          val prev = perOp.getOrElse(tr, Map.empty)
          perOp(tr) = (prev.keySet ++ p.counts.keySet).map(k =>
            k -> (prev.getOrElse(k, 0.0) + p.counts.getOrElse(k, 0.0))).toMap
        }
      }
    }
    writeSpans(new File(ctx.out, "spans.jsonl"), tracer.spans.toSeq)

    val counters = listener.synchronized(listener.counters.toMap)
    def spanSum(trace: String, name: String) = tracer.spans
      .filter(s => s.trace == trace && s.name == name).map(_.dur).sum / 1e6
    val byId = tracer.spans.map(s => s.id -> s).toMap
    def probe(body: => Any): Double = {
      val ts = (1 to 5).map { _ =>
        val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
      ts.sorted.apply(2)
    }
    Map(
      // Per operation: listener counters, final-plan counts, span sums.
      "per_op" -> done.indices.map { i =>
        val tr = s"op$i"
        counters.collect { case ((t, k), v) if t == tr => k -> v } ++
          perOp.getOrElse(tr, Map.empty) ++ Map(
          "construct_s" -> spanSum(tr, "construct"),
          "construct.jobs" -> tracer.spans.count(j => j.trace == tr &&
            j.name == "spark.job" && byId.get(j.parent).exists(_.name == "construct")),
          "plan.optimization_s" -> spanSum(tr, "spark.optimization"),
          "plan.planning_s" -> spanSum(tr, "spark.planning"),
          "sources.write_s" -> spanSum(tr, "sources.write"))
      },
      "codegen.compile_s" -> codegenS,
      "ObjectStoreView.keys_s" -> probe(ObjectStoreView.keys(spark, ctx.readDir)),
      "Tables.load_s" -> probe(Tables.load(spark, ctx.readDir, "lineitem")),
      "floor.submit_s" -> probe(sc.parallelize(Seq(1), 1).count()),
      "floor.scan1_s" -> probe(Tables.load(spark, ctx.readDir, "lineitem")
        .limit(1).collect()))
  }

  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new PrintWriter(f)
    try spans.sortBy(s => (s.trace, s.start)).foreach { s =>
      w.println(Json.render(Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_us" -> s.start,
        "end_us" -> s.end)))
    } finally w.close()
  }
}

/** The benchmark's Spark session: `local[<cores>]` with graft's settings left
  * at their defaults, and every scratch directory inside the run's out dir.
  */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(out: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** The host-speed reference: a fixed CPU task that runs no graft code, in a
  * process of its own (its own heap, GC and JIT), so graft's memory, GC and
  * compiler work do not reach it. Every core runs the same integer loop; the
  * wall time says how fast the shared host runs at that moment. `main` is
  * the reference process, which answers each line on stdin with one timing;
  * `Client` starts it from the harness and asks it for readings.
  */
object Reference {
  /** Iterations of the integer loop each core runs per reading. */
  val steps = 20000000L
  /** Keeps the loop's result alive, so the compiler cannot drop the loop. */
  @volatile private var sink = 0L

  def task(): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to Session.cores).map(i => new Thread(() => {
      var x = i.toLong
      var n = 0L
      while (n < steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
      sink += x
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    while (in.readLine() != null) {
      println(task())
      System.out.flush()
    }
  }

  /** Readings the reference process takes before the ones kept, while its
    * JIT settles. */
  val warmReadings = 8

  /** Starts the reference process and asks it for readings. */
  final class Client(log: File) extends AutoCloseable {
    private val proc = new ProcessBuilder(
        Paths.get(System.getProperty("java.home"), "bin", "java").toString,
        "-Xmx64m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"), "graftbench.Reference")
      .redirectError(ProcessBuilder.Redirect.appendTo(log))
      .start()
    private val to = new PrintWriter(proc.getOutputStream, true)
    private val from = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    (1 to warmReadings).foreach(_ => time())

    def time(): Double = {
      to.println("t")
      Option(from.readLine()).map(_.toDouble)
        .getOrElse(throw new IllegalStateException("reference process ended"))
    }

    def close(): Unit = {
      to.close()
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor()
      }
    }
  }
}

/** Prints the names of graft's registered queries, one a line. */
object Names {
  def main(args: Array[String]): Unit =
    SparkEntry.queries.keys.toSeq.sorted.foreach(println)
}

/** Total Janino compile time Spark has recorded in this JVM, in ms. The
  * histogram keeps every sample until it holds 1028, so the sum is exact for
  * runs that compile fewer classes than that.
  */
object Codegen {
  def totalMs(): Double = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum
}

/** Minimal JSON rendering for the harness's outputs. Timestamps render as
  * epoch microseconds.
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case r: Row => render(r.toSeq)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(f: File, v: Any): Unit =
    Files.writeString(Paths.get(f.getPath), render(v))
}
