package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

/** Time source of the open-loop sender, replaceable in tests. */
trait Clock {
  def nowNs: Long
  def sleepUntil(ns: Long): Unit
}

object SystemClock extends Clock {
  def nowNs: Long = System.nanoTime()
  def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      TimeUnit.NANOSECONDS.sleep(math.min(left, 50000000L))
      left = ns - System.nanoTime()
    }
  }
}

/** What happened to one scheduled send. `lagNs` is how late the generator
  * started it against its due time; `latencyNs` runs from the DUE time to
  * the reply, so a stall also charges every request queued behind it. */
final case class Sent[R](index: Int, dueNs: Long, startNs: Long, endNs: Long, result: R) {
  def lagNs: Long = startNs - dueNs
  def latencyNs: Long = endNs - dueNs
}

/** Open-loop sender: each item has a due time fixed in advance and is sent
  * then, whether or not earlier replies have come back. Items are spread
  * over `lanes` connections by `lane(i)`; a lane sends its items in order,
  * one at a time, so items of one lane never overtake each other. A slow
  * reply delays the rest of its lane, and that delay shows as lag. */
final class OpenLoop[R](clock: Clock, lanes: Int) {

  def run(dueNs: IndexedSeq[Long], lane: Int => Int)(send: Int => R): Seq[Sent[R]] = {
    val out = new ConcurrentLinkedQueue[Sent[R]]()
    val byLane = dueNs.indices.groupBy(i => lane(i) % lanes)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val threads = (0 until lanes).map { l =>
      val mine = byLane.getOrElse(l, Seq.empty).sortBy(dueNs)
      new Thread(() => {
        try mine.foreach { i =>
          clock.sleepUntil(dueNs(i))
          val start = clock.nowNs
          val r = send(i)
          out.add(Sent(i, dueNs(i), start, clock.nowNs, r))
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }, s"openloop-$l")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get()).foreach(t => throw t)
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.index)
  }
}
