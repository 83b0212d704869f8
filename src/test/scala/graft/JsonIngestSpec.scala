package graft

import graft.sources.JsonIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines ingestion round-trips the event stream and quarantines
  * malformed lines instead of dropping or failing.
  */
class JsonIngestSpec extends SparkSpec {

  test("jsonl ingest round-trips events and quarantines corrupt lines") {
    val base = tempDir("jsonl")
    val ev = operators.EventOps.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

    // Stage as JSON-lines, then append two malformed lines by hand.
    ev.coalesce(1).write.mode("overwrite").json(s"$base/clean")
    val jsonFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/clean"))
      .filter(_.toString.endsWith(".json")).findFirst().get()
    val dest = java.nio.file.Paths.get(s"$base/in")
    java.nio.file.Files.createDirectory(dest)
    java.nio.file.Files.copy(jsonFile, dest.resolve("events.jsonl"))
    java.nio.file.Files.write(dest.resolve("bad.jsonl"),
      java.util.List.of(
        """{"event_id": 1, "user_id": "not-a-number"}""",
        """this is not json at all"""),
      java.nio.charset.StandardCharsets.UTF_8)

    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts_us", LongType),
      StructField("value", DoubleType)))
    val parsed = JsonIngest.readJsonl(spark, dest.toString, schema)
    val (clean, bad) = JsonIngest.quarantine(parsed)

    assert(bad.count() === 2, "both malformed lines quarantined")
    // Round trip: the clean split equals the original events exactly.
    assert(clean.count() === ev.count())
    assert(clean.exceptAll(ev).isEmpty && ev.exceptAll(clean).isEmpty)
  }
}
