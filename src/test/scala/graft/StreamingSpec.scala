package graft

import graft.operators.EventOps
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Streaming twins produce the same results as their batch oracles. */
class StreamingSpec extends SparkSpec {

  /** The file stream source needs a directory; stage the single testdata
    * file into one via symlink.
    */
  lazy val eventsDir: String = {
    val d = tempDir("events-stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    d.toString
  }

  /** `ts` of the raw events frame as epoch-MICROS, adaptively by dtype —
    * the test-side twin of [[graft.Tables.normalizeTs]], so the
    * file-staging logic below survives the generator flipping between
    * int64-nanos and native µs timestamps (it did, between rounds 6/7).
    */
  private def tsMicros(raw: org.apache.spark.sql.DataFrame) =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  test("streaming per-prefix minute counters roll up to the batch hotspot report") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.prefixMinuteStream(stream)
      .writeStream
      .format("memory")
      .queryName("prefix_minute_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    // The streamed minute frame must equal the batch grain exactly...
    val streamed = spark.table("prefix_minute_test").collect()
      .map(r => (r.getString(r.fieldIndex("volume")),
        r.getString(r.fieldIndex("bucket")), r.getString(r.fieldIndex("prefix")),
        r.getTimestamp(r.fieldIndex("ts_minute")),
        r.getLong(r.fieldIndex("c")), r.getLong(r.fieldIndex("r")),
        r.getLong(r.fieldIndex("w")))).toSet
    val batch = graft.operators.Audit.prefixMinuteCounts(
      graft.operators.Audit.auditLog(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getTimestamp(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batch && streamed.nonEmpty)

    // ...and rolling it up downstream reproduces the full hotspot report.
    val rolled = spark.table("prefix_minute_test")
      .groupBy(col("volume"), col("bucket"), col("prefix"))
      .agg(sum(col("c")).as("n_requests"), sum(col("r")).as("n_reads"),
        sum(col("w")).as("n_writes"), count(lit(1)).as("active_minutes"),
        max(col("c")).as("peak_per_minute"))
      .withColumn("hot_flag",
        when(col("peak_per_minute") * col("active_minutes") >
          col("n_requests") * 2, "y").otherwise("n"))
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    val report = graft.operators.Audit.nsPrefixHotspot(spark, sf)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(rolled == report)
  }

  test("streaming tumbling counts equal the batch aggregation") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.tumblingCounts(stream)
      .writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling_test")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventOps.evTumblingCounts(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming sliding counts equal the batch hopping-window aggregation") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.slidingCounts(stream)
      .writeStream
      .format("memory")
      .queryName("sliding_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sliding_test")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventOps.evSlidingCounts(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming first-seen frame reproduces the batch cumulative-user curve") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.firstSeenStream(stream)
      .writeStream
      .format("memory")
      .queryName("first_seen_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    // Roll the compact first-seen frame up to the daily new-user curve.
    val streamed = spark.table("first_seen_test")
      .groupBy(to_date(col("first_ts")).as("day"))
      .agg(count(lit(1)).as("n_new_users"))
      .collect()
      .map(r => (r.getDate(0), r.getLong(1)))
      .toSet
    val batch = EventOps.evCumulativeUsers(spark, sf)
      .collect()
      .map(r => (r.getAs[java.sql.Date]("day"), r.getAs[Long]("n_new_users")))
      .toSet
    assert(streamed == batch)
  }

  test("streaming HLL DAU sketch equals the batch sketch per day") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.dauSketchStream(stream)
      .writeStream
      .format("memory")
      .queryName("dau_sketch_test")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("dau_sketch_test")
      .select("day", "n_events", "hit", "denom", "dau_est")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    val batch = EventOps.evDauSketch(spark, sf)
      .select("day", "n_events", "hit", "denom", "dau_est")
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    assert(streamed == batch)
  }

  test("keyed-state sessionization matches the batch window sessionization") {
    val batchEvents = EventOps.events(spark, sf)
    val sessions = StreamOps.finalSessions(spark, batchEvents)
      .select(col("user_id"), col("session_seq"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val oracle = EventOps.evSessionize(spark, sf)
      .select(col("user_id"), col("session_seq"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(sessions == oracle)
  }

  test("streaming trash accounting equals the batch pending-deletion rollup") {
    val dir = tempDir("trash-stream")
    val trash = ObjectStoreView.trashKeys(spark, sf)
    trash.coalesce(2).write.mode("overwrite").parquet(dir.toString)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.trashPendingStream(stream)
      .writeStream.format("memory").queryName("trash_stream_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("trash_stream_test").collect().map(key).toSet
    val batch = trash
      .groupBy(date_trunc("day", col("deletion_time")).as("day"),
        col("volume"), col("bucket"))
      .agg(count(lit(1)).as("n_pending_keys"),
        sum(col("size")).as("pending_bytes"))
      .collect().map(key).toSet
    assert(streamed == batch)
  }

  test("streaming replica history equals the batch timeline") {
    val dir = tempDir("replica-stream")
    val reports = ObjectStoreView.replicaReports(spark, sf)
    reports.coalesce(3).write.mode("overwrite").parquet(dir.toString)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.replicaHistoryStream(stream)
      .writeStream.format("memory").queryName("replica_stream_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf)
    val streamed = spark.table("replica_stream_test")
      .collect().map(key).toSet
    val batch = reports
      .withColumn("report_time", col("report_time").cast("timestamp"))
      .groupBy(col("container_id"), col("replica_index"), col("node_id"))
      .agg(min(col("report_time")).as("first_seen"),
        max(col("report_time")).as("last_seen"),
        count(lit(1)).as("n_reports"))
      .collect().map(key).toSet
    assert(streamed == batch)
  }

  test("CDC histogram maintenance converges to the batch histogram") {
    // Updates: every key PUT once; keys with size divisible by 3 deleted
    // again later — the net namespace is the indivisible remainder.
    val keys = ObjectStoreView.keys(spark, sf)
    val puts = keys.select(lit("PUT").as("op"), col("size"))
    val dels = keys.filter(col("size") % 3 === 0)
      .select(lit("DELETE").as("op"), col("size"))
    val dir = tempDir("cdc-stream")
    puts.coalesce(2).write.mode("overwrite").parquet(dir.toString)
    dels.coalesce(1).write.mode("append").parquet(dir.toString)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.fileSizeCountStream(stream)
      .writeStream.format("memory").queryName("cdc_hist_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("cdc_hist_test")
      .filter(col("n_files") =!= 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = operators.Namespace
      .fileSizeHistogram(keys.filter(col("size") % 3 =!= 0))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("CDC du maintenance converges to the batch per-directory summary") {
    // Same delta construction as the histogram test: every key PUT once,
    // size-divisible-by-3 keys deleted later — net = the remainder.
    val keys = ObjectStoreView.keys(spark, sf)
    val puts = keys.select(lit("PUT").as("op"), col("volume"), col("bucket"),
      col("key"), col("size"))
    val dels = keys.filter(col("size") % 3 === 0)
      .select(lit("DELETE").as("op"), col("volume"), col("bucket"),
        col("key"), col("size"))
    val dir = tempDir("cdc-du")
    puts.coalesce(2).write.mode("overwrite").parquet(dir.toString)
    dels.coalesce(1).write.mode("append").parquet(dir.toString)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.nsDuStream(stream)
      .writeStream.format("memory").queryName("cdc_du_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("cdc_du_test")
      .filter(col("num_files") =!= 0)
      .select("volume", "bucket", "dir", "num_files", "size_of_files")
      .collect().map(key).toSet
    val batch = operators.Namespace.du(keys.filter(col("size") % 3 =!= 0), 3)
      .collect().map(key).toSet
    assert(streamed == batch)
  }

  test("CDC container-key-mapper maintenance converges to the batch inverse map") {
    // Same delta construction as the du test: every key PUT once,
    // size-divisible-by-3 keys deleted later — net = the remainder. The
    // CDC event carries container_id (the reference reads it from the key
    // event's OmKeyInfo block locations).
    val ck = ObjectStoreView.containerKeys(spark, sf)
    val puts = ck.select(lit("PUT").as("op"), col("container_id"),
      col("volume"), col("bucket"), col("key"), col("size"))
    val dels = ck.filter(col("size") % 3 === 0)
      .select(lit("DELETE").as("op"), col("container_id"),
        col("volume"), col("bucket"), col("key"), col("size"))
    val dir = tempDir("cdc-ckm")
    puts.coalesce(2).write.mode("overwrite").parquet(dir.toString)
    dels.coalesce(1).write.mode("append").parquet(dir.toString)

    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.containerKeyMapperStream(stream)
      .writeStream.format("memory").queryName("cdc_ckm_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    // The maintained (container, volume, bucket) frame rolls up to the
    // batch op's exact per-container report, n_buckets included.
    val streamed = spark.table("cdc_ckm_test")
      .filter(col("n_keys") =!= 0)
      .groupBy(col("container_id"))
      .agg(sum(col("n_keys")).as("n_keys"),
        sum(col("total_bytes")).as("total_bytes"),
        count(lit(1)).as("n_buckets"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = ck.filter(col("size") % 3 =!= 0)
      .groupBy(col("container_id"))
      .agg(count(lit(1)).as("n_keys"), sum(col("size")).as("total_bytes"),
        countDistinct(col("volume"), col("bucket")).as("n_buckets"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
  }

  test("streaming audit op-mix equals the batch rollup") {
    val q = StreamOps.auditOpMixStream(StreamOps.eventStream(spark, eventsDir))
      .writeStream.format("memory").queryName("audit_mix_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("audit_mix_test")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    // Batch twin minus n_users (no bounded incremental form; see twin doc).
    val batch = operators.Audit.nsAuditOpMix(spark, sf)
      .select("op", "n_entries", "n_failures", "first_minute", "last_minute")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    assert(streamed == batch)
  }

  test("event-time timeout flushes open sessions as the watermark advances") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // Stage the events as 4 time-ordered files so the stream runs 4
    // micro-batches and the watermark advances between them.
    val base = tempDir("stream-multi")
    val streamDir = base.resolve("in")
    Files.createDirectory(streamDir)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsUs = tsMicros(raw)
    val Array(lo, hi) = raw.agg(min(tsUs), max(tsUs))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val span = (hi - lo) / 4 + 1
    (0 until 4).foreach { i =>
      val part = raw.filter(tsUs >= lo + i * span &&
        tsUs < lo + (i + 1) * span)
      val outDir = base.resolve(s"w$i")
      part.coalesce(1).write.parquet(outDir.toString)
      val f = Files.list(outDir).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = streamDir.resolve(f"e$i%02d.parquet")
      Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1000L * (i + 1)))
    }

    val q = StreamOps.sessionize(spark, StreamOps.eventStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("session_timeout_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val emitted = spark.table("session_timeout_test")
      .select("user_id", "session_seq", "n_events", "sum_value")
      .collect().map(key).toSet
    val allDf = EventOps.evSessionize(spark, sf)
    val all = allDf.select("user_id", "session_seq", "n_events", "sum_value")
      .collect().map(key).toSet
    assert(emitted.subsetOf(all), "streamed session diverges from batch")

    // Any session whose gap deadline passed the final watermark
    // (maxTs - 2h) must have been flushed by the event-time timeout.
    val gapMicros = 1800L * 1000000L
    val wmMicros = hi - 2L * 3600L * 1000000L
    val mustFlush = allDf
      .filter(unix_micros(col("session_end")) + gapMicros +
        1000000L < wmMicros)
      .select("user_id", "session_seq", "n_events", "sum_value")
      .collect().map(key).toSet
    assert(mustFlush.nonEmpty, "test vacuous: no session is past the watermark")
    assert(mustFlush.subsetOf(emitted),
      s"${(mustFlush -- emitted).size} timed-out sessions were never flushed")
  }

  test("flatMapGroupsWithState emits closed sessions incrementally") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.sessionize(spark, stream)
      .writeStream
      .format("memory")
      .queryName("session_test")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    // single-file source => one micro-batch => only gap-closed sessions emit;
    // they must be a subset of the batch sessionization.
    val emitted = spark.table("session_test")
      .select("user_id", "session_seq", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = EventOps.evSessionize(spark, sf)
      .select("user_id", "session_seq", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(emitted.subsetOf(all))
    assert(emitted.nonEmpty)
  }

  /** The foreachBatch ingest gate must agree with the batch operator:
    * verdicts are per-doc functions of (doc, corpus), so the union over
    * micro-batches equals ddIncremental's full-batch run — even with the
    * new docs split across triggers (the per-arrival-batch contract).
    */
  test("streaming ingest gate verdicts equal the batch incremental gate") {
    val docs = Tables.documents(spark, sf)
    val isNew = col("doc_id") % graft.operators.Dedup.IncrMod ===
      (graft.operators.Dedup.IncrMod - 1)
    val base = tempDir("ingest-gate")
    docs.filter(isNew).repartitionByRange(2, col("doc_id"))
      .write.mode("overwrite").parquet(base.toString)

    val schema = spark.read.parquet(base.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base.toString)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.ingestGateStream(stream, docs.filter(!isNew)) {
      (verdicts, batchId) =>
        val rows = verdicts.collect()
          .map(r => (r.getLong(0), r.getString(3)))
        buf.synchronized { buf ++= rows; batches += batchId }
    }
    try q.processAllAvailable() finally q.stop()

    assert(batches.distinct.size >= 2,
      s"expected >= 2 micro-batches, saw ${batches.distinct.size}")
    val streamed = buf.toSet
    val batch = graft.operators.Dedup.ddIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(streamed === batch)
    assert(batch.exists(_._2 != "ADMIT"),
      "test vacuous: every doc admitted at this sf")
  }

  test("streaming near-dup candidates equal the batch LSH pairs") {
    val base = tempDir("neardup-stream")
    // 3 doc-id-ranged files → 3 micro-batches: pairs whose members arrive
    // in different batches must match through the keyed bucket state.
    val docs = Tables.documents(spark, sf)
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(base.toString)

    val schema = spark.read.parquet(base.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base.toString)
    val q = StreamOps.nearDupStream(spark, stream)
      .writeStream.format("memory").queryName("neardup_stream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("neardup_stream_test")
    assert(out.filter(col("saturated")).isEmpty,
      "test vacuous under saturation: an LSH bucket hit the skew cap")
    val streamed = out.select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Dedup.ddMinhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "test vacuous: no near-dup pairs at this sf")

    // Exactly once per shared band: no (pair, band) emitted twice.
    val perBand = spark.table("neardup_stream_test")
      .groupBy("doc_a", "doc_b", "band").count()
      .filter(col("count") > 1)
    assert(perBand.isEmpty, "a (pair, band) was emitted more than once")
  }

  test("streaming anomaly flags equal the batch z-score flags for finalized hours") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // 4 time-ordered files → the watermark advances across micro-batches
    // and hours finalize incrementally through the keyed ring state.
    val base = tempDir("anomaly-stream")
    val streamDir = base.resolve("in")
    Files.createDirectory(streamDir)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsUs = tsMicros(raw)
    val Array(lo, hi) = raw.agg(min(tsUs), max(tsUs))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val span = (hi - lo) / 4 + 1
    (0 until 4).foreach { i =>
      val part = raw.filter(tsUs >= lo + i * span &&
        tsUs < lo + (i + 1) * span)
      val outDir = base.resolve(s"w$i")
      part.coalesce(1).write.parquet(outDir.toString)
      val f = Files.list(outDir).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = streamDir.resolve(f"e$i%02d.parquet")
      Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1000L * (i + 1)))
    }

    val q = StreamOps.anomalyStream(spark,
        StreamOps.eventStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("anomaly_stream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    val cols = Seq("event_type", "hour", "n_events", "trailing_n",
      "trailing_sum", "anomaly_flag")
    val streamed = spark.table("anomaly_stream_test")
      .select(cols.map(col): _*).collect().map(key).toSet
    val batch = EventOps.evAnomaly(spark, sf)
      .select(cols.map(col): _*).collect().map(key).toSet
    assert(streamed.subsetOf(batch),
      s"${(streamed -- batch).size} streamed cells diverge from batch")

    // Every hour that ended before the final watermark must have emitted.
    val wmMs = hi / 1000L - 2L * 3600L * 1000L
    val mustEmit = EventOps.evAnomaly(spark, sf)
      .filter(unix_millis(col("hour")) + 3600L * 1000L <= wmMs)
      .select(cols.map(col): _*).collect().map(key).toSet
    assert(mustEmit.nonEmpty, "test vacuous: no hour finalized")
    assert(mustEmit.subsetOf(streamed),
      s"${(mustEmit -- streamed).size} finalized hours never emitted")
  }

  test("streaming first-seen dedup keeps exactly the batch fingerprint set") {
    val base = tempDir("dedup-stream")
    // Stage documents with a synthetic arrival time into 3 doc-id-ranged
    // files so the stream deduplicates across micro-batches, not just
    // within one.
    val docs = Tables.documents(spark, sf)
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id")))
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(base.toString)

    val schema = spark.read.parquet(base.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base.toString)
    val q = StreamOps.dedupStream(stream)
      .writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("dedup_stream_test")
      .select("h1", "h2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batchFps = graft.operators.Dedup.fingerprints(
        Tables.documents(spark, sf))
      .select("h1", "h2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // One emission per distinct fingerprint, covering them all.
    assert(streamed.length === batchFps.size, "duplicate survived the stream")
    assert(streamed.toSet === batchFps)
  }

  test("streaming FK check reports exactly the injected orphans") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // CDC arrival model with SYNTHETIC event time (the driver data's
    // o_orderdate/l_shipdate have no parent-before-child invariant):
    // batch 1 streams every order parent at T0, batch 2 the lineitem
    // children at T0+1h plus 3 injected orphan children whose parent
    // never arrives, batch 3 a lone watermark-advancing parent 4 days
    // later. With a 1-day grace the orphans' deadline passes the final
    // watermark and flushes; every real child was absolved by the
    // cross-batch parent state.
    val ss = spark
    import ss.implicits._
    val t0 = 1700000000L
    val parents = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("key"), lit("parent").as("kind"),
        timestamp_seconds(lit(t0)).as("ts"))
    val children = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("key"), lit("child").as("kind"),
        timestamp_seconds(lit(t0 + 3600L)).as("ts"))
    val orphans = Seq((999000001L, 2L), (999000002L, 1L), (999000003L, 3L))
    val injected = orphans.flatMap { case (k, n) =>
      (0L until n).map(i => (k, "child", t0 + 3600L + i))
    }.toDF("key", "kind", "sec")
      .select(col("key"), col("kind"), timestamp_seconds(col("sec")).as("ts"))
    val tick = Seq((-1L, "parent", t0 + 4L * 86400L))
      .toDF("key", "kind", "sec")
      .select(col("key"), col("kind"), timestamp_seconds(col("sec")).as("ts"))

    val base = tempDir("fk-stream")
    val streamDir = base.resolve("in")
    Files.createDirectory(streamDir)
    Seq(parents, children.unionByName(injected), tick).zipWithIndex.foreach {
      case (part, i) =>
        val outDir = base.resolve(s"w$i")
        part.coalesce(1).write.parquet(outDir.toString)
        val f = Files.list(outDir).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val dest = streamDir.resolve(f"e$i%02d.parquet")
        Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis(1000L * (i + 1)))
    }
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)

    val q = StreamOps.fkViolationStream(spark, stream, graceHours = 24)
      .writeStream.format("memory").queryName("fk_stream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val emitted = spark.table("fk_stream_test")
      .select("key", "n_orphans").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(emitted == orphans.toMap,
      s"emitted $emitted, expected ${orphans.toMap}")
    // and none of the intact order keys was flagged
    val intact = Tables.orders(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(emitted.keySet.intersect(intact).isEmpty)
  }

  test("streaming attribution equals the batch per-purchase frame") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    // 3 time-ordered files → purchases in a later micro-batch must be
    // credited to touches carried across batches through the keyed state.
    val base = tempDir("attr-stream")
    val streamDir = base.resolve("in")
    Files.createDirectory(streamDir)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsUs = tsMicros(raw)
    val Array(lo, hi) = raw.agg(min(tsUs), max(tsUs))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val span = (hi - lo) / 3 + 1
    (0 until 3).foreach { i =>
      val part = raw.filter(tsUs >= lo + i * span &&
        tsUs < lo + (i + 1) * span)
      val outDir = base.resolve(s"w$i")
      part.coalesce(1).write.parquet(outDir.toString)
      val f = Files.list(outDir).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = streamDir.resolve(f"e$i%02d.parquet")
      Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1000L * (i + 1)))
    }

    val q = StreamOps.attributionStream(spark,
        StreamOps.eventStream(spark, streamDir.toString))
      .writeStream.format("memory").queryName("attr_stream_test")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("attr_stream_test")
      .select("event_id", "source", "cents").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventOps.attributionPerPurchase(spark, sf)
      .select(col("event_id"), col("source"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "test vacuous: no purchases at this sf")
    assert(streamed === batch,
      s"${(streamed -- batch).size} extra / ${(batch -- streamed).size}" +
        " missing streamed attributions vs batch")
    // the attributed revenue then ties out by construction
    assert(streamed.toSeq.map(_._3).sum === batch.toSeq.map(_._3).sum)
  }

  test("abTimelineStream minute frame equals the batch experiment timeline") {
    val stream = StreamOps.eventStream(spark, eventsDir)
    val q = StreamOps.abTimelineStream(stream)
      .writeStream.format("memory").queryName("ab_timeline_test")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(r.fieldIndex("ts_minute")),
        r.getString(r.fieldIndex("arm")),
        r.getLong(r.fieldIndex("n_events")),
        r.getLong(r.fieldIndex("n_purchases")),
        r.getLong(r.fieldIndex("n_errors")))
    val streamed = spark.table("ab_timeline_test").collect().map(key).toSet
    val batch = SparkEntry.queries("ev_ab_timeline")(spark, sf)
      .collect().map(key).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"${(streamed -- batch).size} extra / ${(batch -- streamed).size} missing")
  }

  test("prefixMinuteStream state is BOUNDED: the 2h watermark evicts old minute groups") {
    // ADVICE r15 #3: the complete-mode rollup test above retains all
    // groups by definition, so the docstring's bounded-state claim was
    // untested. Here, update mode + controlled event-time advancement:
    // a minute group must leave the state store once the watermark
    // passes it, and a later-arriving row for that minute must be
    // dropped, not re-opened.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def ts(minute: Long) = new java.sql.Timestamp(minute * 60000L)
    val q = StreamOps.prefixMinuteStream(
        mem.toDF.toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("pm_evict")
      .outputMode("update").start()
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      mem.addData((1L, 1L, "click", ts(60)))
      q.processAllAvailable()
      assert(stateRows == 1L, "one open minute group after batch 1")
      // Jump event time 5 hours: the new watermark (360 - 120 = 240 min)
      // is past minute 60, but eviction applies on the NEXT batch (the
      // watermark is advanced at batch boundaries).
      mem.addData((2L, 1L, "click", ts(360)))
      q.processAllAvailable()
      mem.addData((3L, 1L, "click", ts(361)))
      q.processAllAvailable()
      assert(stateRows == 2L,
        s"minute-60 group must be evicted once the watermark passes it " +
          s"(state rows = $stateRows, want the 2 open minutes 360/361)")
      // A straggler INSIDE the evicted region is dropped, not re-opened.
      mem.addData((4L, 1L, "click", ts(61)))
      q.processAllAvailable()
      val dropped = q.lastProgress.stateOperators(0)
        .numRowsDroppedByWatermark
      assert(stateRows == 2L && dropped == 1L,
        s"late minute-61 row must be watermark-dropped " +
          s"(state=$stateRows dropped=$dropped)")
    } finally q.stop()
  }

  // --- VERDICT r16 #4: the pm_evict pattern, ported to every remaining --
  // --- watermarked twin that claims bounded state in its docstring. ------

  test("abTimelineStream state is BOUNDED: the 2h watermark evicts old minute groups") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def ts(minute: Long) = new java.sql.Timestamp(minute * 60000L)
    val q = StreamOps.abTimelineStream(
        mem.toDF.toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("ab_evict")
      .outputMode("update").start()
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // same user → same arm → one (minute, arm) group per minute.
      mem.addData((1L, 1L, "click", ts(60)))
      q.processAllAvailable()
      assert(stateRows == 1L, "one open (minute, arm) group after batch 1")
      mem.addData((2L, 1L, "purchase", ts(360)))
      q.processAllAvailable()
      mem.addData((3L, 1L, "click", ts(361)))
      q.processAllAvailable()
      assert(stateRows == 2L,
        s"minute-60 group must be evicted once the watermark passes it " +
          s"(state rows = $stateRows, want the 2 open minutes 360/361)")
      mem.addData((4L, 1L, "error", ts(61)))
      q.processAllAvailable()
      val dropped = q.lastProgress.stateOperators(0)
        .numRowsDroppedByWatermark
      assert(stateRows == 2L && dropped == 1L,
        s"late minute-61 row must be watermark-dropped " +
          s"(state=$stateRows dropped=$dropped)")
    } finally q.stop()
  }

  test("nearDupStream state is BOUNDED: bucket state evicts after the 1h horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(minute: Long) = new java.sql.Timestamp(minute * 60000L)
    val q = StreamOps.nearDupStream(spark,
        mem.toDF.toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // Two identical docs at minute 0: one keyed state row per LSH band
      // bucket (16 bands, identical signatures → shared buckets), and the
      // pair emits immediately.
      // minute 100, not 0: epoch-0 event time collides with the INITIAL
      // watermark (0 ms) and the row is dropped as late before any state
      // forms.
      mem.addData((1L, "alpha beta gamma delta epsilon", ts(100)),
        (2L, "alpha beta gamma delta epsilon", ts(100)))
      q.processAllAvailable()
      assert(stateRows == 16L,
        s"16 band buckets after batch 1 (state rows = $stateRows)")
      assert(spark.table("neardup_evict").count() == 16L,
        "the identical pair must emit once per shared band")
      // A doc ~10 h later advances the watermark (1 h) past the old
      // buckets' timeout (last arrival + 1 h); eviction applies on the
      // batch AFTER the watermark advances.
      mem.addData((3L, "zeta eta theta iota kappa", ts(700)))
      q.processAllAvailable()
      mem.addData((4L, "lambda mu nu xi omicron", ts(701)))
      q.processAllAvailable()
      assert(stateRows == 32L,
        s"minute-0 buckets must time out once the watermark passes their " +
          s"horizon (state rows = $stateRows, want docs 3+4's 32 buckets)")
    } finally q.stop()
  }

  test("anomalyStream state is BOUNDED: one key per event type; hours drain on finalize") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def ts(hour: Long) = new java.sql.Timestamp(hour * 3600000L)
    val q = StreamOps.anomalyStream(spark,
        mem.toDF.toDF("event_id", "user_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("anomaly_evict")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // 6 hours of clicks in one batch: state is ONE key (the type), not
      // six hour rows — the hour cells live inside the key's ring/pending.
      // Hours 1-6, not 0-5: an epoch-0 event time collides with the
      // initial watermark and is dropped as late.
      mem.addData((1L to 6L).map(h => (h, 1L, "click", ts(h))): _*)
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"one keyed state row per event type (state rows = $stateRows)")
      // Jump 30 h: the watermark (28 h) finalizes hours 1–6; the key's
      // state row REMAINS (ring retains 24 trailing cells) but no new
      // rows appear — state is flat in stream length.
      mem.addData((100L, 1L, "click", ts(30)))
      q.processAllAvailable()
      mem.addData((101L, 1L, "click", ts(31)))
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"state must stay one row per type as hours stream through " +
          s"(state rows = $stateRows)")
      val emitted = spark.table("anomaly_evict")
        .select("hour").collect().map(_.getTimestamp(0).getTime / 3600000L)
        .toSet
      assert((1L to 6L).forall(emitted.contains),
        s"hours 1-6 must finalize once the watermark passes them " +
          s"(emitted hours: ${emitted.toSeq.sorted.mkString(",")})")
      // A second type gets its own key — state grows with TYPES, not time.
      mem.addData((102L, 1L, "view", ts(31)))
      q.processAllAvailable()
      assert(stateRows == 2L,
        s"a new event type adds exactly one state row (state rows = $stateRows)")
    } finally q.stop()
  }

  test("attributionStream state is BOUNDED: touches evict past the 24h lookback") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def ts(hour: Double) = new java.sql.Timestamp((hour * 3600000L).toLong)
    val q = StreamOps.attributionStream(spark,
        mem.toDF.toDF("event_id", "user_id", "event_type", "ts")
          .withColumn("value", lit(10.0)))
      .writeStream.format("memory").queryName("attr_evict")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // hour 1, not 0: epoch-0 event time is dropped against the initial
      // watermark before any state forms.
      mem.addData((1L, 1L, "click", ts(1)))
      q.processAllAvailable()
      assert(stateRows == 1L, "user 1's touch is one state row")
      // User 2 at hour 51: the watermark (51 − 25 = 26 h) passes user 1's
      // touch + 24 h deadline (25 h); the timeout fires on the NEXT batch.
      mem.addData((2L, 2L, "click", ts(51)))
      q.processAllAvailable()
      mem.addData((3L, 2L, "purchase", ts(51.5)))
      q.processAllAvailable()
      assert(stateRows == 1L,
        s"user 1's expired touch must be evicted (state rows = $stateRows, " +
          "want only user 2's live touch)")
      // User 2's purchase credits its own live touch...
      val out = spark.table("attr_evict")
        .select("event_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(out(3L) == "click", s"purchase 3 must credit the click (${out(3L)})")
      // ...while user 1, whose touch state is GONE, attributes 'direct' —
      // exactly what the batch 24 h lookback would say.
      mem.addData((4L, 1L, "purchase", ts(52)))
      q.processAllAvailable()
      val out2 = spark.table("attr_evict")
        .select("event_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(out2(4L) == "direct",
        s"post-eviction purchase must be 'direct' (${out2(4L)})")
    } finally q.stop()
  }
}
