package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (getOrCreate — one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tempDirs = new ConcurrentLinkedQueue[File]()

  /** A fresh directory `<java.io.tmpdir>/<prefix>*`, deleted with its
    * contents when the running test ends, whatever its outcome. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!tempDirs.isEmpty) FileUtils.deleteDirectory(tempDirs.poll())
}
