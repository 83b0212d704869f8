package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the mains' session factory, pinned to
  * 4 cores (PlanProbe's count, so plan-shape baselines compare).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh `graft-<prefix>…` temp directory, deleted with its contents
    * after the suite. Symbolic links inside it are deleted, not followed.
    */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val d = Files.createTempDirectory(s"graft-$prefix")
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach { d =>
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }) finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.session(cores = 4)

  /** Every line of every `.scala` file under src/main, as (path, line). */
  lazy val mainSourceLines: Seq[(String, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(new java.io.File("src/main")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val path = f.getPath.replace(java.io.File.separatorChar, '/')
      try src.getLines().toList.map(path -> _) finally src.close()
    }
  }

  /** Pins where a decision is written: `re` matches exactly `count` lines
    * of `owner`, and (unless `elsewhereToo`) no line of any other file
    * under src/main. `what` names the decision in failure messages.
    */
  def assertSpelled(what: String, owner: String, re: String, count: Int,
      elsewhereToo: Boolean = false): Unit = {
    import org.scalatest.Assertions.assert
    val r = re.r
    val (mine, elsewhere) = mainSourceLines
      .filter { case (_, l) => r.findFirstIn(l).isDefined }
      .partition(_._1 == owner)
    if (!elsewhereToo)
      assert(elsewhere.isEmpty,
        s"$what spelled outside $owner: ${elsewhere.map(_._1).distinct}")
    assert(mine.size == count, s"$what spelled on ${mine.size} lines, not $count")
  }
}
