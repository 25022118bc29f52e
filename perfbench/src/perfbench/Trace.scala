package perfbench

import scala.collection.mutable

/** Spans recorded around the benchmark's calls into each layer: name, start,
  * end (ns) and the span that caused it. Kept in memory; written out once at
  * the end of a run. A disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
    def duration: Long = end - start
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(Stats.clip(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Sum of self time per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def toJsonLines(spans: Seq[Span]): Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","start_ns":${s.start},"end_ns":${s.end}}"""
  }
}
