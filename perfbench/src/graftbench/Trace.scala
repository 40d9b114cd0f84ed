package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed interval. `iter` is shared by every span of one benchmark
  * iteration; `parent` is 0 for an iteration's root span. Wall-clock
  * milliseconds ride along so Spark's own timestamps (planning phases)
  * can be attributed to the span that was open when they happened. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans opened with [[span]] nest on the
  * driver thread; [[record]] adds a finished span from any thread (the
  * stub transport's sends run on Spark task threads of the same JVM).
  * Nothing is recorded while `enabled` is false, so the timed run pays
  * one volatile read per layer call. */
object Trace {
  @volatile var enabled = false
  @volatile var iteration = 0
  @volatile private var open = 0
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]()

  def current: Int = open

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open
      val iter = iteration
      open = id
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        open = parent
        spans.add(Span(id, name, parent, iter, t0, System.nanoTime(), m0,
          System.currentTimeMillis()))
      }
    }

  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val now = System.currentTimeMillis()
      val ms = (endNs - startNs) / 1000000L
      spans.add(Span(ids.incrementAndGet(), name, parent, iteration,
        startNs, endNs, now - ms, now))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Total length of the union of half-open intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its children cover. Children may overlap each other (sends
    * run in parallel tasks), so the covered part is a union, clipped
    * to the parent's interval. */
  def selfNs(parent: Span, children: Seq[Span]): Long =
    parent.durNs - unionNs(children.map(c =>
      (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs))))

  /** Spans as JSON lines: name, start, end, parent and iteration id. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}
