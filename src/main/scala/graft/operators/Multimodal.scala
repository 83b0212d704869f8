package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §2.D, mm_decode_stub).
  *
  * Pattern for 100 TB image/audio pipelines: payloads are opaque BINARY
  * columns with a typed metadata struct alongside; decode / feature-extract
  * runs per-partition so a real decoder (libjpeg, ffmpeg, …) amortizes its
  * init across a whole batch instead of paying it per row. The decode body
  * HERE is a deterministic arithmetic stand-in — kept because a DuckDB
  * oracle can replay arithmetic but not a codec, so these operators stay
  * fully oracle-gated; the REAL decode through the same seam lives in
  * [[ImageCodec]] (genuine PNG bytes through the JDK's javax.imageio
  * codec, spec-gated: ImageCodecSpec). Everything Spark-side — schema,
  * binary encoding, partition batching, typed Dataset encoders, the
  * aggregation after — is real and tested on both paths.
  */
object Multimodal {

  /** Per-image features the (stubbed) decoder emits. */
  case class ImageFeatures(doc_id: Long, byte_len: Long, checksum: Long,
    width: Int, height: Int, mean_brightness: Double)

  /** Binary "image" payloads synthesized from document text + a metadata
    * struct — stands in for a real image column read from the store.
    */
  def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        lit("fake/raw").as("format")).as("meta"))

  /** STUB decode: a real implementation would parse the codec header and
    * decode pixels here (per partition, reusing decoder state). The fake
    * derives deterministic features from the raw bytes so the plumbing is
    * testable end-to-end.
    */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark
    import ss.implicits._
    payloads(spark, dir)
      .select(col("doc_id"), col("payload"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        // --- STUB: stands in for decoder init (once per partition) ---
        rows.map { case (id, bytes, w, h) =>
          var sum = 0L
          var i = 0
          while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
          val mean = if (bytes.isEmpty) 0.0
            else math.round(sum.toDouble / bytes.length * 1e6) / 1e6
          ImageFeatures(id, bytes.length.toLong, sum, w, h, mean)
        }
      }
      .toDF()
  }

  /** mm_decode_stub: features + rollup. The brightness average goes
    * through exact integer micro-units (Σ round(mean·1e6) as LONG, divided
    * once at the end) so the result is FP-order-independent and the
    * deterministic fake decode can be held to a full DuckDB oracle — the
    * plumbing (binary payloads, typed mapPartitions, rollup) is gated, not
    * just row-counted.
    */
  def mmDecodeStub(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(spark, dir)
      .groupBy((col("doc_id") % 10).as("shard"))
      .agg(
        count(lit(1)).as("n_images"),
        sum(col("byte_len")).as("total_bytes"),
        sum(round(col("mean_brightness") * 1e6).cast("long")).as("micro"))
      .select(col("shard"), col("n_images"), col("total_bytes"),
        round(col("micro").cast("double") / col("n_images") / 1e6, 6)
          .as("avg_brightness"))
      .orderBy(col("shard").asc)

  /** The oracle re-derives the fake decode arithmetically: the corpus is
    * pure ASCII, so UTF-8 byte_len = length(text) and the byte checksum is
    * the per-character codepoint sum.
    */
  val mmDecodeStubSql: String =
    """WITH feats AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS byte_len,
      |    CASE WHEN length(text) = 0 THEN 0
      |      ELSE CAST(round(CAST(list_sum(list_transform(string_split(text, ''),
      |        c -> CAST(ascii(c) AS BIGINT))) AS DOUBLE)
      |        / length(text) * 1000000) AS BIGINT) END AS mb_micro
      |  FROM documents
      |)
      |SELECT doc_id % 10 AS shard, COUNT(*) AS n_images,
      |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
      |  round(CAST(SUM(mb_micro) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_brightness
      |FROM feats GROUP BY shard ORDER BY shard ASC""".stripMargin

  // --- mm_frame_sample: strided frame sampling from "video" payloads -----
  case class Frame(doc_id: Long, frame_idx: Int, frame_checksum: Long)

  private val P = graft.functions.Codes.P

  /** Every 4th frame of each payload, decoded per partition (the real
    * video path: open codec once per partition, seek by stride). Frame i
    * covers 16 payload chars at offset (i-1)·16; the STUB "decode" is the
    * polynomial fold fingerprint of that slice, which makes the whole
    * typed pipeline oracle-checkable arithmetically.
    */
  /** The sampled-frame stream (unordered) — shared by mm_frame_sample and
    * mm_scene_cut.
    */
  private def frames(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark
    import ss.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        // --- STUB: stands in for codec init (once per partition) ---
        rows.flatMap { case (id, text) =>
          val nFrames = text.length % 24 + 1
          Iterator.range(1, nFrames + 1, 4).map { i =>
            val start = (i - 1) * 16
            val slice =
              if (start >= text.length) ""
              else text.substring(start, math.min(start + 16, text.length))
            Frame(id, i, graft.functions.CodeKernels.foldCode(
              org.apache.spark.unsafe.types.UTF8String.fromString(slice),
              31L, P))
          }
        }
      }
      .toDF()
  }

  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    frames(spark, dir)
      .orderBy(col("doc_id").asc, col("frame_idx").asc)

  val mmFrameSampleSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(u.i AS INTEGER) AS frame_idx,
       |    substring(text, (u.i - 1) * 16 + 1, 16) AS slice
       |  FROM documents,
       |    UNNEST(range(1, length(text) % 24 + 2, 4)) AS u(i)
       |)
       |SELECT doc_id, frame_idx,
       |  ${graft.functions.Codes.foldCodeSql("coalesce(slice, '')", 31L, P)} AS frame_checksum
       |FROM f ORDER BY doc_id ASC, frame_idx ASC""".stripMargin

  // --- mm_scene_cut: frame-difference scene segmentation ------------------
  /** Scene-cut detection over the sampled frame stream: a cut lands where
    * consecutive sampled frames' feature values jump by more than half the
    * feature range (real pipeline: luma histogram distance; here the
    * 12-bit slice of the frame fingerprint stands in, keeping the whole
    * path integer-exact). Per-payload LAG window over frame_idx — the
    * frames of one payload co-locate under the doc_id partition, so the
    * window never crosses payloads and the shuffle is one pass. Emits the
    * per-video segmentation summary a video-curation pipeline shards by.
    */
  def mmSceneCut(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx").asc)
    frames(spark, dir)
      .withColumn("luma", col("frame_checksum") % 4096)
      .withColumn("prev", lag(col("luma"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev").isNotNull && abs(col("luma") - col("prev")) > 2048,
          1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("is_cut")).as("n_cuts"),
        min(when(col("is_cut") === 1, col("frame_idx"))).as("first_cut_idx"))
      .orderBy(col("doc_id").asc)
  }

  val mmSceneCutSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(u.i AS INTEGER) AS frame_idx,
       |    substring(text, (u.i - 1) * 16 + 1, 16) AS slice
       |  FROM documents,
       |    UNNEST(range(1, length(text) % 24 + 2, 4)) AS u(i)
       |), lm AS (
       |  SELECT doc_id, frame_idx,
       |    ${graft.functions.Codes.foldCodeSql("coalesce(slice, '')", 31L, P)}
       |      % 4096 AS luma
       |  FROM f
       |), d AS (
       |  SELECT doc_id, frame_idx, luma,
       |    LAG(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx ASC) AS prev
       |  FROM lm
       |)
       |SELECT doc_id, COUNT(*) AS n_frames,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL AND abs(luma - prev) > 2048
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  MIN(CASE WHEN prev IS NOT NULL AND abs(luma - prev) > 2048
       |    THEN frame_idx END) AS first_cut_idx
       |FROM d GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin

  // --- mm_resize_plan: metadata-level resize (aspect-preserving) ----------
  /** Resize planning over the typed metadata struct: cap width at 256,
    * scale height by the same integer ratio (floor division both
    * engines). Pure column arithmetic — the pixel work would ride the
    * decode stub's per-partition path.
    */
  def mmResizePlan(spark: SparkSession, dir: String): DataFrame =
    payloads(spark, dir)
      .select(col("doc_id"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .withColumn("scaled_w", least(col("width"), lit(256)))
      .withColumn("scaled_h",
        expr("CAST(height * scaled_w AS BIGINT) DIV greatest(width, 1)")
          .cast("int"))
      .orderBy(col("doc_id").asc)

  val mmResizePlanSql: String =
    """SELECT doc_id,
      |  CAST(n_chars % 640 AS INTEGER) AS width,
      |  CAST(n_chars % 480 AS INTEGER) AS height,
      |  CAST(least(n_chars % 640, 256) AS INTEGER) AS scaled_w,
      |  CAST((n_chars % 480) * least(n_chars % 640, 256)
      |    // greatest(n_chars % 640, 1) AS INTEGER) AS scaled_h
      |FROM documents ORDER BY doc_id ASC""".stripMargin

  // --- mm_ahash: average-hash perceptual fingerprint ----------------------
  case class AHash(doc_id: Long, ahash: Long)

  /** 16-bit average-hash of each payload: the byte stream is cut into 16
    * equal blocks (the stand-in for a 4x4 downsampled image), each block
    * sets its bit when its mean exceeds the global mean. The comparison is
    * integer cross-multiplication (blockSum*len > total*blockLen) — no
    * float division, so the fake decode is held to a full oracle. Buckets
    * of equal hashes are near-dup candidates (the perceptual twin of
    * dd_simhash); one map pass + one shuffle on the 16-bit key.
    */
  /** (doc_id, ahash) for every payload — the shared decode+hash stage of
    * [[mmAhash]] and [[mmPhashDedup]].
    */
  private[graft] def ahashes(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark
    import ss.implicits._
    payloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // --- STUB: stands in for decode + 4x4 downsample per partition ---
        rows.map { case (id, bytes) =>
          val len = bytes.length
          var total = 0L
          var i = 0
          while (i < len) { total += bytes(i) & 0xff; i += 1 }
          var hash = 0L
          var b = 0
          while (b < 16) {
            val start = len * b / 16
            val end = len * (b + 1) / 16
            var bs = 0L
            var j = start
            while (j < end) { bs += bytes(j) & 0xff; j += 1 }
            if (bs * len > total * (end - start)) hash |= 1L << b
            b += 1
          }
          AHash(id, hash)
        }
      }
      .toDF()
  }

  def mmAhash(spark: SparkSession, dir: String): DataFrame =
    ahashes(spark, dir)
      .withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("ahash"))))
      .orderBy(col("doc_id").asc)

  /** ASCII corpus: byte sums are codepoint sums, block [b] covers
    * character positions [len*b//16, len*(b+1)//16). CTE chain ends in
    * h(doc_id, ahash) — shared by the mm_ahash and mm_phash_dedup oracles.
    */
  private val ahashCtes: String = {
    def asum(s: String) =
      s"COALESCE(CAST(list_sum(list_transform(string_split($s, ''), " +
        s"c -> CAST(ascii(c) AS BIGINT))) AS BIGINT), 0)"
    val blockSum = asum("substring(text, (len*b)//16 + 1, " +
      "(len*(b+1))//16 - (len*b)//16)")
    val blockLen = "((len*(b+1))//16 - (len*b)//16)"
    s"""t AS (
       |  SELECT doc_id, text, length(text) AS len, ${asum("text")} AS total
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), b ->
       |    CASE WHEN $blockSum * len > total * $blockLen
       |      THEN 1 << b ELSE 0 END)) AS BIGINT) AS ahash
       |  FROM t
       |)""".stripMargin
  }

  val mmAhashSql: String =
    s"""WITH $ahashCtes
       |SELECT doc_id, ahash,
       |  CAST(COUNT(*) OVER (PARTITION BY ahash) AS BIGINT) AS bucket_size
       |FROM h ORDER BY doc_id ASC""".stripMargin

  // --- mm_phash_dedup: near-dup payloads via perceptual-hash bands --------
  /** Near-duplicate payload pairs at Hamming distance ≤ 2 on the 16-bit
    * perceptual hash — the image twin of [[Dedup.ddMinhashLsh]] (LAION-style
    * image dedup: pHash + banded LSH). The 16 bits split into 4 bands of 4;
    * candidates share at least one band. Recall is EXACT for the ≤ 2
    * threshold: 2 differing bits touch at most 2 bands, so ≥ 2 of the 4
    * bands always match (pigeonhole) — banding here is a pure pruning step,
    * not an approximation. Shape: one shuffle on (band, bucket); each
    * bucket aggregates (doc_id, ahash) members so pairs expand AND
    * Hamming-verify in place — no self-join, no join back for hashes, and
    * the only post-expansion shuffle (the cross-band distinct) carries
    * verified survivors, not every candidate. Buckets over
    * [[PhashMaxBucket]] drop out (skew guard, mirrored in the oracle).
    */
  private val PhashMaxBucket = 1000

  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val hs = ahashes(spark, dir)
    // The hash rides along into the bucket, so the Hamming verify runs
    // INSIDE the pair expansion — candidates that fail the threshold never
    // leave their bucket row, and the post-expansion shuffle (distinct)
    // carries only survivors instead of every candidate pair. No join back.
    val withBand = hs.select(col("doc_id"), col("ahash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ahash"), 4 * b).bitwiseAND(15).as("bkt"))): _*))
          .as("bs"))
      .select(col("bs.band").as("band"), col("bs.bkt").as("bkt"),
        col("doc_id"), col("ahash"))
    val members = withBand.groupBy(col("band"), col("bkt"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("ahash"))))
        .as("ms"))
      .filter(size(col("ms")).between(2, PhashMaxBucket))
    members
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        filter(
          transform(slice(col("ms"), i + lit(2), size(col("ms"))), b =>
            struct(a.getField("doc_id").as("doc_a"),
              b.getField("doc_id").as("doc_b"),
              bit_count(a.getField("ahash").bitwiseXOR(b.getField("ahash")))
                .as("hamming"))),
          p => p.getField("hamming") <= 2)))).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"),
        col("pr.hamming").as("hamming"))
      .distinct()
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  val mmPhashDedupSql: String =
    s"""WITH $ahashCtes, banded AS (
       |  SELECT u.b AS band, (h.ahash >> (4 * u.b)) & 15 AS bkt, h.doc_id
       |  FROM h, UNNEST(range(0, 4)) AS u(b)
       |), bcnt AS (
       |  SELECT band, bkt, doc_id,
       |    COUNT(*) OVER (PARTITION BY band, bkt) AS n FROM banded
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bcnt a JOIN bcnt b
       |    ON a.band = b.band AND a.bkt = b.bkt AND a.doc_id < b.doc_id
       |    AND a.n <= $PhashMaxBucket AND b.n <= $PhashMaxBucket
       |)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(bit_count(xor(ha.ahash, hb.ahash)) AS INT) AS hamming
       |FROM cand c
       |JOIN h ha ON c.doc_a = ha.doc_id
       |JOIN h hb ON c.doc_b = hb.doc_id
       |WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 2
       |ORDER BY c.doc_a ASC, c.doc_b ASC""".stripMargin

  // --- mm_audio_energy: windowed energy over "PCM" payloads ---------------
  case class AudioWindow(doc_id: Long, window_idx: Int, energy: Long,
    silent: Boolean)

  private val AudioWindowBytes = 32
  private val SilenceThreshold = 200000L

  /** Windowed audio-energy extraction: each payload is treated as a PCM
    * sample stream cut into 32-byte windows; per window the integer
    * sum-of-squares energy plus a silence flag (the voice-activity-
    * detection shape). Per-partition typed decode like the other mm_ ops;
    * all-integer features make the stub fully oracle-checkable.
    */
  def mmAudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark
    import ss.implicits._
    payloads(spark, dir)
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // --- STUB: stands in for audio codec init (once per partition) ---
        rows.flatMap { case (id, bytes) =>
          val nWin = (bytes.length + AudioWindowBytes - 1) / AudioWindowBytes
          Iterator.range(0, nWin).map { w =>
            var e = 0L
            var j = w * AudioWindowBytes
            val end = math.min(j + AudioWindowBytes, bytes.length)
            while (j < end) { val v = (bytes(j) & 0xff).toLong; e += v * v; j += 1 }
            AudioWindow(id, w, e, e < SilenceThreshold)
          }
        }
      }
      .toDF()
      .orderBy(col("doc_id").asc, col("window_idx").asc)
  }

  val mmAudioEnergySql: String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(u.w AS INTEGER) AS window_idx,
       |    COALESCE(CAST(list_sum(list_transform(
       |      string_split(substring(text, u.w * $AudioWindowBytes + 1,
       |        $AudioWindowBytes), ''),
       |      c -> CAST(ascii(c) AS BIGINT) * CAST(ascii(c) AS BIGINT)))
       |      AS BIGINT), 0) AS energy
       |  FROM documents,
       |    UNNEST(range(0, (length(text) + ${AudioWindowBytes - 1})
       |      // $AudioWindowBytes)) AS u(w)
       |)
       |SELECT doc_id, window_idx, energy,
       |  energy < $SilenceThreshold AS silent
       |FROM w ORDER BY doc_id ASC, window_idx ASC""".stripMargin

  // --- mm_trim_plan: audio silence-trim layout -----------------------------
  /** Silence trimming plan over the windowed PCM energy — the audio
    * curation step that drops leading/trailing silence before training:
    * per payload the first and last NON-silent window bound the kept span
    * (interior silence is retained — trimming is edges-only), plus the
    * kept fraction in exact integer ppm; fully-silent payloads keep
    * nothing. One aggregate over [[mmAudioEnergy]]'s window frame (the
    * typed per-partition decode runs once; conditional min/max are
    * map-side combinable), so the plan costs one shuffle on doc_id.
    */
  def mmTrimPlan(spark: SparkSession, dir: String): DataFrame =
    mmAudioEnergy(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        min(when(!col("silent"), col("window_idx"))).cast("bigint")
          .as("start_window"),
        max(when(!col("silent"), col("window_idx"))).cast("bigint")
          .as("end_window"))
      .withColumn("kept_windows",
        when(col("start_window").isNull, 0L)
          .otherwise(col("end_window") - col("start_window") + 1L))
      .withColumn("kept_ppm", expr("kept_windows * 1000000 DIV n_windows"))
      .select("doc_id", "n_windows", "start_window", "end_window",
        "kept_windows", "kept_ppm")
      .orderBy(col("doc_id").asc)

  val mmTrimPlanSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(u.w AS INTEGER) AS window_idx,
       |    COALESCE(CAST(list_sum(list_transform(
       |      string_split(substring(text, u.w * $AudioWindowBytes + 1,
       |        $AudioWindowBytes), ''),
       |      c -> CAST(ascii(c) AS BIGINT) * CAST(ascii(c) AS BIGINT)))
       |      AS BIGINT), 0) AS energy
       |  FROM documents,
       |    UNNEST(range(0, (length(text) + ${AudioWindowBytes - 1})
       |      // $AudioWindowBytes)) AS u(w)
       |), t AS (
       |  SELECT doc_id, COUNT(*) AS n_windows,
       |    CAST(MIN(CASE WHEN energy >= $SilenceThreshold
       |      THEN window_idx END) AS BIGINT) AS start_window,
       |    CAST(MAX(CASE WHEN energy >= $SilenceThreshold
       |      THEN window_idx END) AS BIGINT) AS end_window
       |  FROM w GROUP BY doc_id
       |)
       |SELECT doc_id, n_windows, start_window, end_window,
       |  CAST(CASE WHEN start_window IS NULL THEN 0
       |    ELSE end_window - start_window + 1 END AS BIGINT) AS kept_windows,
       |  CAST((CASE WHEN start_window IS NULL THEN 0
       |    ELSE end_window - start_window + 1 END) * 1000000 // n_windows
       |    AS BIGINT) AS kept_ppm
       |FROM t ORDER BY doc_id ASC""".stripMargin

  // --- mm_resolution_histogram: the dataset-card resolution rollup --------
  /** Resolution/orientation histogram of the image payloads — the
    * dataset-card table a multimodal training run reads to pick resize
    * targets and packing buckets BEFORE any decode happens (metadata-only:
    * the plan touches width/height/bytes, never the payload column, so the
    * parquet scan prunes the binary blob). Size classes by pixel count
    * (integer thresholds), orientation by exact integer compare; per cell:
    * items, total payload bytes, mean megapixel-thousandths via one final
    * division. Map-side-combined aggregate over a ≤12-cell frame.
    */
  def mmResolutionHistogram(spark: SparkSession, dir: String): DataFrame =
    payloads(spark, dir)
      .select(col("meta.width").as("width"), col("meta.height").as("height"),
        length(col("payload")).cast("bigint").as("n_bytes"))
      .withColumn("px", col("width").cast("bigint") * col("height"))
      .withColumn("size_class",
        when(col("px") < 10000L, "tiny")
          .when(col("px") < 50000L, "small")
          .when(col("px") < 150000L, "medium").otherwise("large"))
      .withColumn("orientation",
        when(col("width") > col("height"), "landscape")
          .when(col("width") < col("height"), "portrait")
          .otherwise("square"))
      .groupBy(col("size_class"), col("orientation"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        expr("sum(px) DIV (count(1) * 1000)").as("mean_kilopx"))
      .orderBy(col("size_class").asc, col("orientation").asc)

  /** Oracle re-derives the synthesized metadata: width = n_chars % 640,
    * height = n_chars % 480, payload bytes = n_chars (pure-ASCII corpus).
    */
  val mmResolutionHistogramSql: String =
    """WITH m AS (
      |  SELECT CAST(n_chars % 640 AS BIGINT) AS width,
      |    CAST(n_chars % 480 AS BIGINT) AS height,
      |    CAST(n_chars AS BIGINT) AS n_bytes,
      |    CAST((n_chars % 640) * (n_chars % 480) AS BIGINT) AS px
      |  FROM documents
      |), c AS (
      |  SELECT
      |    CASE WHEN px < 10000 THEN 'tiny' WHEN px < 50000 THEN 'small'
      |      WHEN px < 150000 THEN 'medium' ELSE 'large' END AS size_class,
      |    CASE WHEN width > height THEN 'landscape'
      |      WHEN width < height THEN 'portrait' ELSE 'square' END
      |      AS orientation,
      |    n_bytes, px
      |  FROM m
      |)
      |SELECT size_class, orientation, COUNT(*) AS n_items,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(SUM(px) // (COUNT(*) * 1000) AS BIGINT)
      |    AS mean_kilopx
      |FROM c GROUP BY size_class, orientation
      |ORDER BY size_class ASC, orientation ASC""".stripMargin

  /** The registered multimodal metadata queries. */
  val registry: Seq[Query] = Seq(
    Query("mm_resolution_histogram", mmResolutionHistogram,
      mmResolutionHistogramSql),
    Query("mm_trim_plan", mmTrimPlan, mmTrimPlanSql),
    Query("mm_decode_stub", mmDecodeStub, mmDecodeStubSql),
    Query("mm_frame_sample", mmFrameSample, mmFrameSampleSql),
    Query("mm_scene_cut", mmSceneCut, mmSceneCutSql),
    Query("mm_resize_plan", mmResizePlan, mmResizePlanSql),
    Query("mm_ahash", mmAhash, mmAhashSql),
    Query("mm_phash_dedup", mmPhashDedup, mmPhashDedupSql),
    Query("mm_audio_energy", mmAudioEnergy, mmAudioEnergySql))
}
