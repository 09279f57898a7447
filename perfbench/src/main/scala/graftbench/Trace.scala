package graftbench

import scala.collection.mutable

/** One timed call. `name` is `<layer>.<what>`; `parent` is the id of the
  * enclosing span (-1 at an operation's root) and `op` the operation id
  * every span of one operation shares. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the driver thread. Spans are kept until the
  * run ends and written out then; nothing is recorded while `enabled` is
  * false, so untraced rounds pay one boolean test per call. */
final class Tracer {
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1

  /** Start a new operation: later spans carry its id until the next one. */
  def beginOp(id: Int): Unit = { op = id; stack = Nil }
  def endOp(): Unit = op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the slot so ids follow start order
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {

  /** Total length of the union of `[start, end)` intervals. */
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

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - unionNs(covered))
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}
