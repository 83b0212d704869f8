package graft

import java.io.File
import scala.io.Source

/** The session contract and the scan fan-out's layout estimate.
  *
  * Every main and spec builds its session through [[SparkEntry.session]],
  * so the settings the loaders depend on (UTC, the `nanosAsLong` read
  * behind [[Tables.normalizeTs]], one shuffle partition per core) are
  * asserted once here, together with the fact that nothing else under
  * `src/` builds a session of its own.
  *
  * The auto fan-out decision in [[Tables.load]] reads the data files from
  * the file index Spark listed for the scan; at local[4] a one-file table
  * above the byte floor must fan out, and the same rows as 8 files must
  * not (their estimated scan tasks fill half the cores).
  */
class SessionContractSpec extends SparkSpec {

  private val fanoutTag = "REPARTITION_BY_NUM"
  private val sf001 = new File(new File(sf).getParentFile, "sf0.01").getPath

  private def autoPlan(dir: String): String = {
    val key = "spark.graft.scan.fanout"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "auto")
    try Tables.load(spark, dir, "lineitem").queryExecution.executedPlan.toString
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the factory session carries the contract settings") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
  }

  test("no file under src/ but the factory builds a SparkSession") {
    val call = Seq("SparkSession", "builder(").mkString(".")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val builders = scala(new File("src")).filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.mkString.contains(call) finally src.close()
    }.map(_.getPath.replace(File.separatorChar, '/'))
    assert(builders == Seq("src/main/scala/graft/SparkEntry.scala"))
  }

  test("a one-file table below half the cores fans out at auto") {
    val file = new File(sf001, "lineitem.parquet")
    assert(file.isFile && file.length > (256L << 10))
    assert(autoPlan(sf001).contains(fanoutTag))
  }

  test("the same rows as 8 files do not fan out at auto") {
    val dir = tempDir("fanout").toString
    spark.read.parquet(s"$sf001/lineitem.parquet").repartition(8)
      .write.parquet(s"$dir/lineitem.parquet")
    val parts = new File(dir, "lineitem.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts >= 8)
    assert(!autoPlan(dir).contains(fanoutTag))
  }
}
