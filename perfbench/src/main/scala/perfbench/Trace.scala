package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root. `attrs` carries
  * the delivery id(s) a span belongs to, so the spans of one delivery can
  * be joined across threads. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once at the end; with tracing off every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Time `body` as a span of `layer`, nested under this thread's open span,
    * or under `under` when given (a span opened on another thread). */
  def span[A](layer: String, name: String, attrs: => Map[String, Any] = Map.empty,
              under: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (under >= 0) under else stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, layer, name, t0, t1, attrs))
      }
    }

  /** The innermost open span on this thread (0 when none). */
  def current: Long = if (enabled) stack.get().headOption.getOrElse(0L) else 0L

  /** Record a span measured elsewhere (e.g. a streaming progress phase),
    * under an explicit parent. Returns its id. */
  def record(layer: String, name: String, parent: Long, startNs: Long, endNs: Long,
             attrs: Map[String, Any] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, layer, name, startNs, endNs, attrs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {

  /** Self time per span: its duration minus the union of its children's
    * intervals (clipped to the span). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer, in ms. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e6
    }
  }

  def toJsonLines(spans: Seq[Span], t0: Long): Iterator[String] = spans.iterator.map { s =>
    Json.render(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_us" -> (s.startNs - t0) / 1000,
      "dur_us" -> s.durNs / 1000, "attrs" -> s.attrs))
  }
}
