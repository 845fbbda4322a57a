package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs that `body` starts on this thread. The listener bus is
    * asynchronous; a sentinel job started after `body` is delivered after
    * every job `body` started. */
  def jobsStarted[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val started = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") => started.incrementAndGet()
          case Some("sentinel") => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(flushed.await(60, TimeUnit.SECONDS))
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!tempDirs.isEmpty) FileUtils.deleteDirectory(tempDirs.poll())
}
