package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters from Spark's public `SparkListener` events. */
final class EngineProbe extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
      spill = new AtomicLong
  private val blocks = mutable.Map.empty[String, Long]
  private var storage = 0L
  @volatile var storagePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      storage += size - blocks.getOrElse(i.blockId.name, 0L)
      if (size == 0L) blocks.remove(i.blockId.name) else blocks(i.blockId.name) = size
      storagePeak = math.max(storagePeak, storage)
    }
  }

  /** Start a new peak from the storage held now. */
  def resetPeak(): Unit = synchronized { storagePeak = storage }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get)

  /** Wait until no task has ended for `quietMs` (the listener bus is
    * asynchronous), so a snapshot covers every finished task. */
  def settle(quietMs: Long = 150): Unit = {
    var last = -1L
    while (tasks.get != last) { last = tasks.get; Thread.sleep(quietMs) }
  }
}

/** One completed Dataset action, as `QueryExecutionListener` reports it. */
final case class ActionEvent(func: String, durationNs: Long, endNs: Long,
    filesRead: Long, bytesRead: Long)

/** Per-action timings plus scan file/byte counts from the executed plan. */
final class ActionProbe extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[ActionEvent]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val end = System.nanoTime()
    var files, bytes = 0L
    scans(qe.executedPlan).foreach { s =>
      s.metrics.get("numFiles").foreach(m => files += m.value)
      s.metrics.get("filesSize").foreach(m => bytes += m.value)
    }
    events.add(ActionEvent(func, durationNs, end, files, bytes))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def drain(): Seq[ActionEvent] = {
    val out = mutable.ArrayBuffer.empty[ActionEvent]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }
}

/** Micro-batch progress from `StreamingQueryListener`. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of batches that read input (not the idle no-data polls). */
  def batches(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
}

final class Probes(spark: SparkSession) {
  val engine = new EngineProbe
  val actions = new ActionProbe
  val stream = new StreamProbe
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(actions)
  spark.streams.addListener(stream)
}
