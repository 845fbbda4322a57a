package perfbench

import java.io.PrintWriter

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run (one client thread, so the
  * open-span stack is plain state). Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def current: Int = open.headOption.getOrElse(-1)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null
      val parent = current
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, layer, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Record an interval measured elsewhere (a listener) under `parent`. */
  def add(name: String, layer: String, startNs: Long, endNs: Long,
      parent: Int): Unit =
    if (enabled) spans += Span(spans.size, parent, name, layer, startNs, endNs)

  def size: Int = spans.size

  /** Durations in seconds of the spans called `name`. */
  def durations(name: String): Seq[Double] =
    spans.toSeq.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Seconds per layer of span time not covered by child spans. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.toSeq.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = union(kids.getOrElse(s.id, Seq.empty[Span]).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var started = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
