package graft.operators

import graft.Query
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** REAL audio decode path — the WAV companion to [[ImageCodec]]'s PNG
  * round-trip, closing the same honesty gap for `mm_audio_energy`'s
  * arithmetic stand-in: the JDK ships a complete RIFF/WAVE codec in
  * `javax.sound.sampled`, so the audio claim gets genuine container bytes
  * through the documented per-partition decode seam:
  *
  *  - [[encodeWav]] synthesizes deterministic PCM16 samples and writes
  *    them through the real WAV encoder (`AudioSystem.write`) — true RIFF
  *    header, fmt/data chunks, little-endian frames;
  *  - [[decodeFeatures]] parses payloads back via
  *    `AudioSystem.getAudioInputStream` (real header validation + frame
  *    accounting), decodes the PCM stream and emits exact integer sample
  *    count, L1 energy and peak amplitude. A corrupt payload yields
  *    DECODE_ERROR with zeroed features — a truncated clip at 100 TB must
  *    not kill the stage.
  *
  * The samples are pure arithmetic ((id·31 + 7i) mod 65536 − 32768), and
  * WAV PCM is lossless, so DuckDB can compute the EXPECTED energy totals
  * with no codec while Spark routes the same numbers through genuine
  * encode AND decode — registered oracle-gated as `mm_real_audio`; codec
  * edge behavior (corruption, layout invariance) is spec-gated
  * (AudioCodecSpec). Reference framing: Ozone stores opaque values and
  * leaves content decode to readers — this is the reader side a
  * training-data pipeline bolts on.
  */
object AudioCodec {

  case class DecodedClip(doc_id: Long, status: String, n_samples: Long,
    l1_energy: Long, peak: Long)

  private val SampleRate = 8000f

  /** Deterministic PCM16 sample i of clip `seed` — exact integer math the
    * oracle replays; covers the full signed range including negatives.
    */
  private def sample(seed: Long, i: Int): Int =
    (((seed * 31 + i.toLong * 7) % 65536L) - 32768L).toInt

  /** Samples per clip, kept small: codec realism, not audio volume. */
  def clipSamples(id: Long): Int = (id % 480 + 20).toInt

  /** Synthesize clip `seed` and encode it as a real mono PCM16 WAV. */
  def encodeWav(seed: Long): Array[Byte] = encodeWavWith(wavWriters, seed)

  private def encodeWavWith(
      writers: List[javax.sound.sampled.spi.AudioFileWriter],
      seed: Long): Array[Byte] = {
    val n = clipSamples(seed)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sample(seed, i)
      pcm(i * 2) = (s & 0xff).toByte         // little-endian
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    writeWav(writers, ais, out)
    out.toByteArray
  }

  /** The JDK's WAV reader/writer providers, resolved ONCE (guide §4.5) —
    * `AudioSystem.getAudioInputStream`/`write` re-resolve the provider
    * list under a shared lock per call, which serializes concurrent codec
    * tasks once the scan fans out. ServiceLoader sees the java.desktop
    * module's declared providers; empty loaders fall back to the
    * AudioSystem path, so behavior is identical either way.
    */
  private def wavReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }

  private def wavWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** `AudioSystem.getAudioInputStream` semantics through caller-held
    * providers: first reader that accepts the stream wins, none →
    * UnsupportedAudioFileException (exactly the AudioSystem loop).
    */
  private def openAudio(readers: List[javax.sound.sampled.spi.AudioFileReader],
      bytes: Array[Byte]): AudioInputStream = {
    if (readers.isEmpty)
      return AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    var rest = readers
    while (rest.nonEmpty) {
      try return rest.head.getAudioInputStream(new ByteArrayInputStream(bytes))
      catch { case _: UnsupportedAudioFileException => () }
      rest = rest.tail
    }
    throw new UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  private def writeWav(writers: List[javax.sound.sampled.spi.AudioFileWriter],
      ais: AudioInputStream, out: ByteArrayOutputStream): Unit = {
    writers.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais)) match {
      case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, out); ()
      case None => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out); ()
    }
  }

  /** Real-WAV payload column: one clip per document. */
  def payloads(spark: SparkSession, dir: String): DataFrame = {
    val ss = spark
    import ss.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val writers = wavWriters // once per partition
        ids.map(id => (id, encodeWavWith(writers, id)))
      }
      .toDF("doc_id", "payload")
  }

  /** Decode the payload column per partition with the REAL WAV parser.
    * Header fields are trusted only after `getAudioInputStream` validates
    * the RIFF structure; the PCM stream is then drained and decoded
    * little-endian, so a header/data length mismatch surfaces here too.
    */
  def decodeFeatures(payloads: DataFrame): Dataset[DecodedClip] = {
    val ss = payloads.sparkSession
    import ss.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val readers = wavReaders // once per partition (guide §4.5)
        rows.map { case (id, bytes) =>
          try {
            val ais = openAudio(readers, bytes)
            val pcm = ais.readAllBytes()
            var i = 0
            var n = 0L
            var l1 = 0L
            var peak = 0L
            while (i + 1 < pcm.length) {
              val s = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toLong
              n += 1
              val a = math.abs(s)
              l1 += a
              if (a > peak) peak = a
              i += 2
            }
            DecodedClip(id, "OK", n, l1, peak)
          } catch {
            case _: UnsupportedAudioFileException | _: java.io.IOException =>
              DecodedClip(id, "DECODE_ERROR", 0L, 0L, 0L)
          }
        }
      }
  }

  /** End-to-end: synthesize → real WAV encode → real WAV decode → per-shard
    * energy rollup, oracle-gated as `mm_real_audio` (see object doc).
    */
  def realAudioReport(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(payloads(spark, dir)).toDF()
      .groupBy((col("doc_id") % 10).as("shard"))
      .agg(count(lit(1)).as("n_clips"),
        sum(when(col("status") === "OK", 1L).otherwise(0L)).as("n_ok"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("l1_energy")).as("l1_total"),
        max(col("peak")).as("peak"))
      .orderBy(col("shard").asc)

  /** Oracle re-derives the decoded features from the sample formula,
    * independently of any codec: n = id%480+20, sample i =
    * (id·31 + 7i) mod 65536 − 32768.
    */
  val realAudioReportSql: String =
    """WITH s AS (
      |  SELECT d.doc_id,
      |    abs((d.doc_id * 31 + 7 * u.i) % 65536 - 32768) AS a
      |  FROM documents d, UNNEST(range(d.doc_id % 480 + 20)) AS u(i)
      |), clip AS (
      |  SELECT doc_id, COUNT(*) AS n_samples,
      |    CAST(SUM(a) AS BIGINT) AS l1, CAST(MAX(a) AS BIGINT) AS pk
      |  FROM s GROUP BY doc_id
      |)
      |SELECT doc_id % 10 AS shard, COUNT(*) AS n_clips, COUNT(*) AS n_ok,
      |  CAST(SUM(n_samples) AS BIGINT) AS total_samples,
      |  CAST(SUM(l1) AS BIGINT) AS l1_total,
      |  CAST(MAX(pk) AS BIGINT) AS peak
      |FROM clip GROUP BY shard ORDER BY shard ASC""".stripMargin

  /** The registered audio-codec query. */
  val registry: Seq[Query] = Seq(
    // Fanned only above 4 MiB: per-row WAV encode + decode, the same
    // row-count-bound codec work and measurement as ImageCodec's PNG path.
    Query("mm_real_audio", realAudioReport, realAudioReportSql, Some(4L << 20)))
}
