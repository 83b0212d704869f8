package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._

/** The z-ordered layout clusters BOTH dimensions: rows matching a 2-D box
  * predicate land in few files, while a single-column range layout spreads
  * the same rows across (nearly) all files for the non-clustered column —
  * the property that makes parquet min/max stats prune multi-column range
  * scans at scale.
  */
class ZOrderSpec extends SparkSpec {

  test("2-D box predicate touches fewer z-ordered files than linear layout") {
    val base = tempDir("zorder")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey").cast("int").as("pk"),
        col("l_suppkey").cast("int").as("sk"),
        col("l_extendedprice"))
    val nFiles = 16
    ZOrder.writeZOrdered(li, s"$base/z", nFiles, "pk", "sk")
    ZOrder.writeLinear(li, s"$base/linear", nFiles, "pk")

    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("pk").between(0, 50) && col("sk").between(0, 5))
        .select(input_file_name()).distinct().count()

    val zFiles = filesTouched(s"$base/z")
    val linFiles = spark.read.parquet(s"$base/linear")
      .filter(col("sk").between(0, 5))
      .select(input_file_name()).distinct().count()

    // The suppkey-only predicate hits almost every partkey-ranged file;
    // the z-layout confines the 2-D box to a small file subset.
    assert(zFiles < linFiles,
      s"z-order touched $zFiles files, linear $linFiles — no clustering win")
    assert(zFiles <= nFiles / 2,
      s"z-order box query touched $zFiles of $nFiles files")

    // Layout round-trip loses no rows.
    assert(spark.read.parquet(s"$base/z").count() === li.count())
  }

  test("zValue interleaves bits deterministically") {
    import spark.implicits._
    val df = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 5)).toDF("x", "y")
    val zs = df.select(ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // interleave(3,5) = x bits 11 at even positions + y bits 101 at odd
    // positions = 0b100111 = 39.
    assert(zs === Seq(0L, 1L, 2L, 3L, 39L))
  }
}
