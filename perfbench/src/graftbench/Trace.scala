package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call from the benchmark into a graft layer. `parent` is 0
  * for an operation's root span. Times are wall-clock milliseconds
  * (epoch), so Spark listener events, which carry the same clock, can be
  * placed against them. */
final case class Span(id: Long, parent: Long, layer: String, var name: String,
                      op: Long, startMs: Double, var endMs: Double = Double.NaN) {
  def durMs: Double = endMs - startMs
}

/** Spans of one run, kept in memory and written out when the run ends.
  *
  * With tracing off [[span]] only runs its body. With tracing on it
  * records the span and publishes its id in the Spark local property
  * [[Tracer.SpanProp]], so every job the body submits carries the id of
  * the span that caused it (see [[EngineListener]]). The driver calls
  * graft from one thread, so a stack is enough to track nesting. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L

  private def nowMs: Double = System.nanoTime() / 1e6 + Tracer.clockOffsetMs

  def current: Option[Span] = stack.headOption

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), layer, name,
        parent.map(_.op).getOrElse(nextId), nowMs)
      nextId += 1
      spans += s
      stack.push(s)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Root spans (one per operation) in start order. */
  def roots: Seq[Span] = spans.filter(_.parent == 0L).toSeq
}

object Tracer {
  val SpanProp = "graftbench.span"
  /** Epoch offset for the monotonic clock, fixed once per JVM. */
  val clockOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Self time of each span: its duration minus the part of its
    * interval that its children's spans cover (overlapping children
    * count once). */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }
}
