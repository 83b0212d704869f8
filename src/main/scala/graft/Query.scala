package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark builder, its DuckDB oracle
  * (absent only for a query checked on rows alone) and its scan fan-out
  * decision. Each operator object lists its queries as one `registry` of
  * these records, so a name is spelled once; [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] are derived from the concatenated records.
  *
  * `fanout` is the input-size floor above which [[Tables.load]] may fan
  * the scan out while `build` runs, or `None` for never (the default).
  * Decision data: the r17 A/B benches (full suite at sf0.1 3-pass min and
  * the 10× replica, plus paired min-of-3 probes for every borderline
  * query; tables in OPTIMIZATION_r17.md). The fan-out pays when per-row
  * scan-stage work dominates (namespace key derivation, text/hash
  * kernels, decimal chains, per-user windows over full rows) and loses
  * when the first operation collapses the corpus with map-side partial
  * aggregation/dedup over cheap narrow columns (global stats/sketches,
  * container-arithmetic rollups, hour-bucket counts): there the fan-out
  * replaces a collapsed-partials shuffle with a full-corpus one. Queries
  * built outside the registry fan out above [[Query.fanned]]'s floor: the
  * layout mechanism is the right library default, and the records encode
  * the measured per-operator exceptions.
  */
final class Query(val name: String,
    val build: (SparkSession, String) => DataFrame,
    val oracle: Option[String], val fanout: Option[Long])

object Query {

  /** Fan out above the 256 KiB floor (see [[Tables.maybeFanout]]). */
  val fanned: Option[Long] = Some(256L << 10)

  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: String, fanout: Option[Long] = None): Query =
    new Query(name, build, Some(oracle), fanout)
}
