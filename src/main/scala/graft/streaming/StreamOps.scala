package graft.streaming

import graft.operators.EventOps
import graft.operators.EventOps.{AttributionLookbackUs, SessionGapUs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming twins of the batch event operators (SURVEY §2.C).
  *
  * The reference's event surface is an audit stream of namespace operations;
  * at 100 TB scale these run as `readStream` jobs over the store with
  * watermarked state. The twins here share semantics with
  * [[graft.operators.EventOps]] so the batch oracle validates the logic and
  * the streaming tests validate incremental execution (append mode,
  * watermark eviction, keyed state).
  */
object StreamOps {

  /** Streaming source over a DIRECTORY of events parquet files (the file
    * source requires a directory — in production this is the store path new
    * files land in). The schema is pinned from a batch read of the same
    * directory, so a future parquet schema drift fails at stream definition
    * with a clear message rather than mid-batch; `ts` is normalized through
    * the same dtype-adaptive [[graft.Tables.normalizeTs]] as the batch
    * reader (int64-nanos or native µs timestamp).
    */
  def eventStream(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir))
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming twin of EventOps.evTumblingCounts.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        EventOps.sumValue(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding (hopping) 1-hour windows advancing every 15 minutes — the
    * streaming twin of EventOps.evSlidingCounts. The built-in `window(ts,
    * '1 hour', '15 minutes')` performs the same bounded 4-offset fan-out
    * the batch operator spells out; state is the open window set under the
    * 2-hour watermark.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        EventOps.sumValue(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming per-day approximate distinct users — the incremental twin of
    * EventOps.evDauSketch and the 100 TB streaming-DAU shape: the
    * [[graft.functions.HllRegAgg]] TypedImperativeAggregate runs as the
    * streaming aggregation state, so each open day holds a constant 1 KiB
    * register buffer (vs an exact distinct's per-user state growth) and
    * partials fold into it batch by batch under the 48-hour watermark. The
    * estimate arithmetic is identical to the batch query, so the memory-sink
    * rows equal the batch rows exactly (StreamingSpec).
    */
  def dauSketchStream(events: DataFrame): DataFrame = {
    import graft.functions.HllRegAgg
    events
      .withWatermark("ts", "48 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        HllRegAgg.of(expr(s"CAST(user_id AS BIGINT) % ${HllRegAgg.P}"))
          .as("regs"))
      .withColumn("hit", expr(HllRegAgg.hitFoldSql))
      .withColumn("denom_hit", expr(HllRegAgg.denomHitFoldSql))
      .withColumn("denom",
        col("denom_hit") + (lit(1024L) - col("hit")) * 32768L)
      .select(col("window.start").as("day"), col("n_events"), col("hit"),
        col("denom"), expr(HllRegAgg.estimateSql).as("dau_est"))
  }

  /** Per-user first-seen timestamps — the streaming twin of
    * [[graft.operators.EventOps.evCumulativeUsers]]'s first-seen trick.
    * One stateful min aggregate keyed by user_id (complete mode): state is
    * one timestamp per user — the same cardinality the batch groupBy
    * holds — and min is order-independent, so the result doesn't depend on
    * arrival order the way a dropDuplicates-based dedup would (which keeps
    * the first PROCESSED row, not the event-time minimum). The per-day
    * new-user rollup and running sum are a downstream batch over this
    * compact frame (|users| rows, metadata-sized next to the event log).
    */
  def firstSeenStream(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))

  /** Streaming per-prefix request-rate counters — the CDC feed of
    * [[graft.operators.Audit.nsPrefixHotspot]]: audit entries derive
    * per-row from the event stream (the shared
    * [[graft.operators.Audit.auditEntries]] projection) and fold into the
    * SAME per-(volume, bucket, prefix, minute) counter grain the batch
    * report rolls up ([[graft.operators.Audit.prefixMinuteCounts]] — the
    * shared core, so the two can never drift). State is the open minute
    * set under a 2-hour watermark — bounded by the horizon × active
    * prefixes, not stream length; the hotspot verdict (totals, peak, hot
    * flag) is a downstream batch rollup over this compact frame, exactly
    * as the S3-side throttle monitors consume it.
    */
  def prefixMinuteStream(events: DataFrame): DataFrame =
    graft.operators.Audit.prefixMinuteCounts(
      graft.operators.Audit.auditEntries(events)
        .withColumn("ts_minute", col("ts_minute").cast("timestamp"))
        .withWatermark("ts_minute", "2 hours"))

  /** Live experiment monitor — the streaming leg of `ev_ab_timeline`:
    * per-(minute, arm) event/purchase/error counters folded by the SAME
    * [[graft.operators.EventOps.abMinuteCounts]] core as the batch
    * report, so the dashboard a treatment-breakage alert reads cannot
    * drift from the readout's numbers. No distinct aggregates (those
    * audits are the batch-side ev_ab_srm / ev_ab_guardrail), so the
    * aggregation is watermark-evictable: state is bounded by the 2-hour
    * horizon × open minutes × 2 arms, not stream length.
    */
  def abTimelineStream(events: DataFrame): DataFrame =
    graft.operators.EventOps.abMinuteCounts(
      graft.operators.EventOps.abMinuteEntries(events)
        .withColumn("ts_minute", col("ts_minute").cast("timestamp"))
        .withWatermark("ts_minute", "2 hours"))

  /** Streaming pending-deletion accounting — the trash-emptier / lifecycle
    * twin of the batch `ns_trash_pending` rollup: deleted-key records
    * stream in and per-day per-bucket pending counts/bytes aggregate under
    * a 48-hour watermark, so state is bounded by the retention horizon.
    * Reference: the OM KeyDeletingService runs this accounting
    * continuously over the deletedTable.
    */
  def trashPendingStream(trash: DataFrame): DataFrame =
    trash
      // Parquet round-trips the driver tables' timestamps as NTZ, which
      // event-time watermarks reject — pin to TimestampType (UTC session).
      .withColumn("deletion_time", col("deletion_time").cast("timestamp"))
      .withWatermark("deletion_time", "48 hours")
      .groupBy(window(col("deletion_time"), "1 day"),
        col("volume"), col("bucket"))
      .agg(count(lit(1)).as("n_pending_keys"),
        sum(col("size")).as("pending_bytes"))
      .select(col("window.start").as("day"), col("volume"), col("bucket"),
        col("n_pending_keys"), col("pending_bytes"))

  /** Incremental replica-history maintenance over the replica-report
    * stream — the streaming twin of
    * [[graft.operators.Containers.ctReplicaHistory]] and the exact shape
    * of Recon's live pipeline: datanode container reports arrive
    * continuously and upsert the (container, datanode) row's
    * lastSeenTime, inserting firstSeenTime on first sight
    * (recon/.../scm/ContainerReplicaHistory.java:35-60 setLastSeenTime —
    * min/max/count over the report stream IS that upsert, expressed
    * declaratively). State is one row per (container, replica slot) —
    * bounded by the container count × target replication, not the stream
    * length — so no watermark is needed and a year of reports holds the
    * same state as a day.
    */
  def replicaHistoryStream(reports: DataFrame): DataFrame =
    reports
      .withColumn("report_time", col("report_time").cast("timestamp"))
      .groupBy(col("container_id"), col("replica_index"), col("node_id"))
      .agg(min(col("report_time")).as("first_seen"),
        max(col("report_time")).as("last_seen"),
        count(lit(1)).as("n_reports"))

  /** Incremental file-size histogram maintenance over a namespace CDC
    * stream — the streaming twin of
    * [[graft.operators.Namespace.fileSizeHistogram]] and the exact shape of
    * Recon's incremental task pipeline: `getDBUpdates` ships sequenced OM
    * DB deltas (common/.../om/protocol/OzoneManagerProtocol.java), the
    * OMDBUpdatesHandler turns them into PUT/DELETE events, and
    * FileSizeCountTask applies +1/−1 to its size-bucket counts per batch
    * (recon/.../tasks/FileSizeCountTask.java — `process(OMUpdateEventBatch)`
    * switches on PUT/DELETE exactly like the `d` column here).
    *
    * Input: updates with `op` ('PUT' | 'DELETE') and `size`. State is the
    * histogram ITSELF — ≤ 64 rows total regardless of stream length,
    * because the grouping key is the bit-length bucket, not an entity; no
    * watermark is needed and state can never grow. At 100 TB this is the
    * difference between re-scanning the namespace per report and folding
    * the delta stream.
    */
  def fileSizeCountStream(updates: DataFrame): DataFrame =
    updates
      .withColumn("bucket_exp",
        when(col("size") <= 1, 0).otherwise(length(bin(col("size") - 1))))
      .withColumn("d", when(col("op") === "DELETE", -1L).otherwise(1L))
      .groupBy(col("bucket_exp"))
      .agg(sum(col("d")).as("n_files"),
        sum(col("d") * col("size")).as("total_bytes"))

  /** Incremental per-directory namespace-summary maintenance over a CDC
    * stream — the streaming twin of [[graft.operators.Namespace.du]] and
    * the exact shape of Recon's NSSummaryTask incremental pipeline
    * (recon/.../tasks/NSSummaryTask.java folds PUT/DELETE deltas from
    * getDBUpdates into per-directory numOfFiles/sizeOfFiles, persisted in
    * the NSSummary map): signed +1/−1 folds per key event, keyed by the
    * depth-3 directory. State is one row per LIVE directory — bounded by
    * the namespace's directory count, not the stream length — so no
    * watermark is needed. At 100 TB this replaces a full-namespace rescan
    * per du report with a delta fold.
    */
  def nsDuStream(updates: DataFrame, depth: Int = 3): DataFrame =
    updates
      .withColumn("dir", substring_index(col("key"), "/", depth))
      .withColumn("d", when(col("op") === "DELETE", -1L).otherwise(1L))
      .groupBy(col("volume"), col("bucket"), col("dir"))
      .agg(sum(col("d")).as("num_files"),
        sum(col("d") * col("size")).as("size_of_files"))

  /** Incremental container→key inverse-map maintenance over a namespace
    * CDC stream — the streaming twin of
    * [[graft.operators.Containers.ctKeysPerContainer]] and the last Recon
    * maintained view without an incremental fold (VERDICT r13 #4): Recon's
    * ContainerKeyMapperTask folds sequenced OM key PUT/DELETE deltas into
    * containerKeyTable / containerKeyCountTable
    * (recon/.../tasks/ContainerKeyMapperTask.java —
    * `process(OMUpdateEventBatch)` switches on PUT/DELETE per key event
    * and maintains the per-container key count), reading each key's
    * container ids from its OmKeyInfo block locations — which is why the
    * CDC event here carries `container_id` alongside the key columns: in
    * the reference the locations ride the key event itself, so no join is
    * needed to invert the map.
    *
    * State grain is (container_id, volume, bucket) — bounded by container
    * × bucket metadata, not by the key stream — so no watermark is needed
    * and state can never grow with stream length. The batch op's
    * per-container rollup (n_keys / total_bytes / n_buckets) derives from
    * this frame exactly: n_buckets is the count of nonzero rows per
    * container, so the batch countDistinct needs no unbounded per-key
    * streaming state (same bounded-distinct argument as
    * [[auditOpMixStream]]'s n_users caveat, here resolved by the grain).
    */
  def containerKeyMapperStream(updates: DataFrame): DataFrame =
    updates
      .withColumn("d", when(col("op") === "DELETE", -1L).otherwise(1L))
      .groupBy(col("container_id"), col("volume"), col("bucket"))
      .agg(sum(col("d")).as("n_keys"),
        sum(col("d") * col("size")).as("total_bytes"))

  /** Streaming OM audit-log op-mix — the incremental twin of
    * [[graft.operators.Audit.nsAuditOpMix]]: audit entries derive per-row
    * from the event stream (shared [[graft.operators.Audit.auditEntries]]
    * projection) and fold into per-op entry/failure counters plus the
    * first/last activity minute. Like [[fileSizeCountStream]], the state
    * IS the report — one row per OMAction (≤ the op vocabulary), so no
    * watermark is needed and state can never grow with stream length.
    * (`n_users` from the batch rollup is the one column with no bounded
    * incremental form — an exact streaming distinct would need per-user
    * state; the HLL-sketch route is [[graft.operators.Relational]]'s
    * approx path.)
    */
  def auditOpMixStream(entries: DataFrame): DataFrame =
    graft.operators.Audit.auditEntries(entries)
      .withColumn("d_fail",
        when(col("result") === "FAILURE", 1L).otherwise(0L))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_entries"),
        sum(col("d_fail")).as("n_failures"),
        min(col("ts_minute")).as("first_minute"),
        max(col("ts_minute")).as("last_minute"))

  /** Streaming first-seen-wins exact dedup — the incremental twin of
    * [[graft.operators.Dedup.ddExact]] (SURVEY §6): documents stream in,
    * each row is fingerprinted with the same dual full-text fold hashes,
    * and `dropDuplicatesWithinWatermark` keeps only the first arrival per
    * fingerprint. State is one 16-byte key per distinct fingerprint inside
    * the watermark horizon — bounded by the dedup window, not by all
    * documents ever seen; the raw text never enters the state store.
    * Expects an event-time column `ts` on the input (arrival time in
    * production).
    */
  def dedupStream(docs: DataFrame): DataFrame = {
    graft.operators.Dedup.fingerprints(docs, "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h1", "h2")
  }

  // --- streaming near-dup (MinHash/LSH) candidate emission ----------------

  case class BandRow(band: Int, sig: Long, doc_id: Long, ts: Timestamp)

  /** Per-band-bucket state: member ids (capped), latest event time. */
  case class BucketState(ids: List[Long], lastTs: Long)

  case class CandPair(doc_a: Long, doc_b: Long, band: Int, saturated: Boolean)

  private val NearDupHorizonMs = 3600L * 1000L

  /** Streaming near-dup candidate detection — the incremental twin of
    * [[graft.operators.Dedup.ddMinhashLsh]] (SURVEY §6's last open item).
    * Documents stream in; each lands in its 16 LSH band buckets; a keyed
    * state per (band, sig) bucket holds the member doc_ids (8 bytes each,
    * capped at the batch path's MaxBucket skew guard) and each arrival
    * emits candidate pairs against the bucket's existing members — so
    * every batch candidate pair appears exactly once per shared band, as
    * soon as its second member arrives.
    *
    * Bounded state: per-bucket ids are capped (a saturated bucket emits
    * a tombstone row and stops pairing — the streaming analogue of the
    * batch path DROPPING oversize buckets) and the whole bucket's state is
    * evicted by event-time timeout once the watermark passes its last
    * arrival + 1 h. Raw text never enters the state store.
    */
  def nearDupStream(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.operators.Dedup.MaxBucket
    Dedup.bandRows(Dedup.signatures(docs, "ts"), "ts")
      .withWatermark("ts", "1 hour")
      .as[BandRow]
      .groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.getOrElse(BucketState(Nil, 0L))
            var ids = st0.ids
            var lastTs = st0.lastTs
            val out = scala.collection.mutable.ArrayBuffer[CandPair]()
            for (r <- rows.toSeq.sortBy(_.doc_id)) {
              lastTs = math.max(lastTs, r.ts.getTime)
              if (!ids.contains(r.doc_id)) {
                if (ids.size < MaxBucket) {
                  for (old <- ids)
                    out += CandPair(math.min(old, r.doc_id),
                      math.max(old, r.doc_id), band, saturated = false)
                  ids = r.doc_id :: ids
                } else {
                  // Skew guard hit: report saturation once, pair no further.
                  if (ids.size == MaxBucket) {
                    out += CandPair(-1L, -1L, band, saturated = true)
                    ids = -1L :: ids // sentinel marks "already reported"
                  }
                }
              }
            }
            state.update(BucketState(ids, lastTs))
            state.setTimeoutTimestamp(lastTs + NearDupHorizonMs)
            out.iterator
          }
      }.toDF()
  }

  // --- keyed-state sessionization (flatMapGroupsWithState) ---------------

  case class Ev(user_id: Long, ts: Timestamp, value: Double)

  /** Keyed session state. `sumCents` is exact Long cents (value is
    * 2-decimal money): Double accumulation is order-dependent and can drift
    * from the batch twin's DECIMAL(12,2) sum — Long addition cannot.
    */
  case class SessionState(sessionSeq: Long, lastTs: Long, start: Long,
    n: Long, sumCents: Long)
  case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
    session_start: Timestamp, session_end: Timestamp, sum_value: Double)

  private def emit(user: Long, st: SessionState): SessionOut =
    SessionOut(user, st.sessionSeq, st.n,
      new Timestamp(st.start / 1000L), new Timestamp(st.lastTs / 1000L),
      st.sumCents / 100.0)

  /** Advances `user`'s sessions over a slice of events from `open` (null
    * if none): sorts the slice by time (rows are not ordered within a
    * micro-batch; the slice is bounded by batch size, not total history),
    * then each event opens a session, extends it, or, past the gap, closes
    * it and opens the next. Returns the closed sessions and the open one.
    */
  private def advance(user: Long, rows: Iterator[Ev], open: SessionState)
      : (Seq[SessionOut], SessionState) = {
    var st = open
    val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
    for (e <- rows.toSeq.sortBy(e => (e.ts.getTime, e.value))) {
      val tsMicros = e.ts.getTime * 1000L
      val cents = math.round(e.value * 100)
      if (st == null) st = SessionState(1L, tsMicros, tsMicros, 1L, cents)
      else if (tsMicros - st.lastTs > SessionGapUs) {
        closed += emit(user, st)
        st = SessionState(st.sessionSeq + 1, tsMicros, tsMicros, 1L, cents)
      } else st = st.copy(lastTs = tsMicros, n = st.n + 1,
        sumCents = st.sumCents + cents)
    }
    (closed.toSeq, st)
  }

  /** Gap-based sessionization with explicit keyed state — the streaming twin
    * of EventOps.evSessionize. Emits a session when a gap closes it; the
    * open session flushes on EVENT-TIME TIMEOUT once the watermark passes
    * its gap deadline, and the per-key state is dropped then — state size
    * is bounded by the set of users active inside the watermark horizon,
    * not by all users ever seen (a 2-hour watermark is applied here).
    */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "2 hours")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed the gap deadline: the open session can never
            // be extended — flush it and evict the key's state.
            val st = state.get
            state.remove()
            Iterator.single(emit(user, st))
          } else {
            val (closed, st) = advance(user, rows, state.getOption.orNull)
            if (st != null) {
              state.update(st)
              // Flush when the watermark passes last event + gap.
              state.setTimeoutTimestamp(st.lastTs / 1000L + SessionGapUs / 1000L)
            }
            closed.iterator
          }
      }.toDF()
  }

  // --- streaming anomaly detection (trailing z-score) ---------------------

  case class TypedEv(event_type: String, ts: Timestamp)
  /** Per-type state: open hour counts + the ring of the last 24 FINALIZED
    * (hourMs, count) cells, ascending.
    */
  case class AnomalyState(pending: Map[Long, Long], ring: List[(Long, Long)])
  case class AnomalyOut(event_type: String, hour: Timestamp, n_events: Long,
    trailing_n: Long, trailing_sum: Long, anomaly_flag: Long)

  private val HourMs = 3600L * 1000L

  /** Streaming twin of EventOps.evAnomaly: per event type, each hour's
    * count is tested against the trailing 24 finalized hours with the same
    * integer-exact 3σ inequality. An hour FINALIZES when the watermark
    * passes its end (its count can no longer change); finalization is
    * strictly ascending, so the ring state — at most 24 (hour, count)
    * pairs plus the open hours inside the watermark horizon — reproduces
    * the batch window semantics exactly. State per key is O(24 + horizon),
    * independent of stream length; an event-time timeout drains pending
    * hours when a type goes quiet.
    */
  def anomalyStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._

    def flagOf(c: Long, ring: List[(Long, Long)]): (Long, Long, Long) = {
      val n = ring.size.toLong
      val s = ring.map(_._2).sum
      val q = ring.map(x => x._2 * x._2).sum
      val d = c * n - s
      val flag = if (n >= 12 && d > 0 && d * d > 9L * (n * q - s * s)) 1L else 0L
      (n, s, flag)
    }

    events.select(col("event_type"), col("ts"))
      .withWatermark("ts", "2 hours")
      .as[TypedEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (typ: String, rows: Iterator[TypedEv], state: GroupState[AnomalyState]) =>
          var st = state.getOption.getOrElse(AnomalyState(Map.empty, Nil))
          // Accumulate incoming rows into open hour cells (commutative —
          // micro-batch ordering is irrelevant). Hours already finalized
          // (ts behind the watermark) are genuinely late data: dropped,
          // standard watermark semantics.
          val finalizedFloor = st.ring.lastOption.map(_._1).getOrElse(Long.MinValue)
          for (e <- rows) {
            val h = Math.floorDiv(e.ts.getTime, HourMs) * HourMs
            if (h > finalizedFloor)
              st = st.copy(pending = st.pending.updated(h,
                st.pending.getOrElse(h, 0L) + 1L))
          }
          // Finalize every pending hour the watermark has passed, ascending.
          val wm = state.getCurrentWatermarkMs()
          val (done, open) = st.pending.partition(_._1 + HourMs <= wm)
          val out = done.toSeq.sortBy(_._1).map { case (h, c) =>
            val (n, s, flag) = flagOf(c, st.ring)
            st = st.copy(ring = (st.ring :+ (h, c)).takeRight(24))
            AnomalyOut(typ, new Timestamp(h), c, n, s, flag)
          }
          st = st.copy(pending = open)
          if (st.pending.isEmpty && st.ring.isEmpty) state.remove()
          else {
            state.update(st)
            // Wake when the earliest open hour can finalize (or keep the
            // ring around until another batch arrives).
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.keys.min + HourMs)
          }
          out.iterator
      }.toDF()
  }

  // --- streaming last-touch attribution -----------------------------------

  case class AttrEv(user_id: Long, ts: Timestamp, event_id: Long,
    event_type: String, value: Double)
  /** Per-user attribution state: the most recent click/view, in µs. */
  case class TouchState(touchMicros: Long, touchType: String)
  case class AttrOut(event_id: Long, user_id: Long, source: String,
    cents: Long)


  /** Exact µs of a Timestamp (getTime alone floors to ms — the 24 h
    * lookback boundary and the (ts, event_id) ordering must see the same
    * microseconds the batch window sees via unix_micros).
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Streaming last-touch attribution — the incremental twin of
    * [[graft.operators.EventOps.attributionPerPurchase]]: per purchase,
    * one AttrOut crediting the user's most recent preceding click/view
    * within 24 h (else 'direct'). Keyed state is ONE (µs, type) pair per
    * user — not a buffer of events — updated in (ts, event_id) order
    * within each micro-batch (the batch window's exact ordering); the
    * event-time timeout evicts a user's state once the watermark passes
    * last-touch + 24 h, when the touch can no longer attribute anything,
    * so state is bounded by users active inside the horizon. Revenue
    * rides as exact Long cents (the Double sum would be order-dependent).
    */
  def attributionStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withWatermark("ts", "25 hours")
      .as[AttrEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttrOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[AttrEv], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            // Watermark passed touch + 24 h: nothing left to attribute.
            state.remove()
            Iterator.empty
          } else {
            // Micro-batch rows are unordered; sort this group's slice by
            // the batch window's (ts, event_id) ordering.
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var touch = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[AttrOut]()
            for (e <- sorted) {
              val m = micros(e.ts)
              e.event_type match {
                case "click" | "view" =>
                  touch = TouchState(m, e.event_type)
                case "purchase" =>
                  val source =
                    if (touch == null || m - touch.touchMicros > AttributionLookbackUs)
                      "direct"
                    else touch.touchType
                  out += AttrOut(e.event_id, user, source,
                    math.round(e.value * 100))
                case _ => ()
              }
            }
            if (touch != null) {
              val deadlineMs =
                touch.touchMicros / 1000L + AttributionLookbackUs / 1000L + 1000L
              if (deadlineMs > state.getCurrentWatermarkMs()) {
                state.update(touch)
                state.setTimeoutTimestamp(deadlineMs)
              } else if (state.exists) {
                // the touch is already past the lookback horizon — any
                // future purchase is 'direct' regardless, and a timeout
                // at/below the watermark would throw; evict now instead
                state.remove()
              }
            }
            out.iterator
          }
      }.toDF()
  }

  // --- streaming referential-integrity check ------------------------------

  case class FkRow(key: Long, kind: String, ts: Timestamp)
  /** Per-key FK state: whether the parent arrived, and the orphan-candidate
    * children buffered as a COUNT (never the rows — per-key fan-in is
    * bounded in a sane schema, and the violation report only needs the
    * count + time range).
    */
  case class FkState(parentSeen: Boolean, pending: Long, firstUs: Long,
    lastUs: Long)
  case class FkViolation(key: Long, n_orphans: Long,
    first_seen: Timestamp, last_seen: Timestamp)

  /** Streaming referential-integrity check — the CDC twin of
    * [[graft.operators.RelationalExt.qIntegrityAudit]]'s LEFT ANTI probe:
    * a tagged stream of 'parent' / 'child' rows keyed by the FK; children
    * that arrive before their parent buffer AS A COUNT in keyed state,
    * the parent's arrival absolves them, and a key whose grace deadline
    * (last activity + `graceHours`) passes the watermark with no parent
    * emits one violation row and drops its state.
    *
    * Contract: state is bounded by keys active inside the grace horizon
    * — the price is that a child arriving more than `graceHours` after
    * its key's last activity re-opens the key and, with no parent
    * re-arrival, reports as an orphan. That is the right trade for CDC
    * integrity monitoring (bounded-lag arrivals), and exactly the class
    * of late-data policy a batch LEFT ANTI join cannot express at all.
    */
  def fkViolationStream(spark: SparkSession, rows: DataFrame,
      graceHours: Int = 24 * 180): DataFrame = {
    import spark.implicits._
    val graceMs = graceHours.toLong * 3600L * 1000L
    rows.select(col("key"), col("kind"), col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .as[FkRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[FkState, FkViolation](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, it: Iterator[FkRow], state: GroupState[FkState]) =>
          def violation(st: FkState): Iterator[FkViolation] =
            if (!st.parentSeen && st.pending > 0)
              Iterator.single(FkViolation(key, st.pending,
                new Timestamp(st.firstUs / 1000L),
                new Timestamp(st.lastUs / 1000L)))
            else Iterator.empty
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            violation(st)
          } else {
            val sorted = it.toSeq.sortBy(e => micros(e.ts))
            var st = state.getOption
              .getOrElse(FkState(parentSeen = false, 0L, Long.MaxValue,
                Long.MinValue))
            for (e <- sorted) {
              val m = micros(e.ts)
              if (e.kind == "parent")
                st = st.copy(parentSeen = true, pending = 0L)
              else if (!st.parentSeen)
                st = st.copy(pending = st.pending + 1,
                  firstUs = math.min(st.firstUs, m))
              st = st.copy(lastUs = math.max(st.lastUs, m))
            }
            val deadlineMs = st.lastUs / 1000L + graceMs
            if (deadlineMs > state.getCurrentWatermarkMs()) {
              state.update(st)
              state.setTimeoutTimestamp(deadlineMs)
              Iterator.empty
            } else {
              // grace already elapsed at processing time — same outcome as
              // the timeout path, without arming an in-the-past timer
              state.remove()
              violation(st)
            }
          }
      }.toDF()
  }

  /** Flush remaining open sessions from the final state (test helper for
    * end-of-stream semantics — the streaming path reaches the same flush
    * via event-time timeout in [[sessionize]]).
    */
  def finalSessions(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups { (user: Long, rows: Iterator[Ev]) =>
        val (closed, st) = advance(user, rows, null)
        (closed ++ Option(st).map(emit(user, _))).iterator
      }.toDF()
  }

  /** Streaming ingest gate — the micro-batch twin of
    * [[graft.operators.Dedup.ddIncremental]]: a stream of new documents
    * `(doc_id, text, ...)` is admitted against a STATIC indexed corpus via
    * `foreachBatch`, which is the idiomatic Structured Streaming shape for
    * this operator — the gate's semantics are per-ARRIVAL-BATCH by
    * contract (each micro-batch is "today's ingest", checked against the
    * index; batch-vs-batch duplicates are the next index build's problem,
    * exactly the batch operator's asymmetry), and the verdict pipeline
    * needs joins + aggregates that per-row streaming state cannot express
    * without rebuilding the corpus index as unbounded keyed state.
    * Each micro-batch runs [[graft.operators.Dedup.incrementalVerdicts]]
    * — batch fingerprints/bands BROADCAST against the corpus index, the
    * corpus side never shuffles — and hands the verdict frame to `sink`
    * (production: append to the admissions table / route REJECTs).
    * Exactly-once: foreachBatch re-delivers a batch on failure with the
    * same batchId; idempotence is the sink's contract, as with every
    * foreachBatch writer.
    */
  def ingestGateStream(docs: DataFrame, corpus: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Dedup.incrementalVerdicts(
          batch.select("doc_id", "text"), corpus), batchId)
      }
      .start()
}
