package graft.perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the span that made the call
  * (-1 for a root); spans of one benchmark run share `run`. `cpuNs` is the
  * CPU time the recording thread spent inside the span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, run: String, cpuNs: Long = 0) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans nest by call order
  * on the recording thread; they are written out only at exit.
  */
final class Tracer(val run: String) {
  private val spans = new ArrayBuffer[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = threads.getCurrentThreadCpuTime
      open = open.tail
      spans += Span(id, parent, name, t0, t1, run, c1 - c0)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new PrintWriter(Files.newBufferedWriter(path))
    try spans.sortBy(_.id).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"cpu_ns":${s.cpuNs},"run":"${s.run}"}""")
    } finally out.close()
  }
}

object Trace {
  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (overlapping children count once; a child's
    * time outside its parent's interval is not subtracted). */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durationNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time summed per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
