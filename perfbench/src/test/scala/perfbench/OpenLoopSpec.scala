package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  /** Virtual time: sleeping jumps ahead, a send advances it by its cost. */
  final class FakeClock extends Clock {
    @volatile var t = 0L
    def nowNs: Long = t
    def sleepUntil(ns: Long): Unit = if (ns > t) t = ns
  }

  private val ms = 1000000L

  test("a stall makes later sends late, and their latency counts from the due time") {
    val clock = new FakeClock
    // due every 10 ms; each send takes 25 ms, so lane 0 falls behind by 15 ms a send
    val due = (0 until 6).map(_ * 10 * ms)
    val sent = new OpenLoop[Int](clock, 1).run(due, _ => 0) { i => clock.t += 25 * ms; i }
    assert(sent.map(_.index) == (0 until 6))
    assert(sent.map(_.lagNs / ms) == Seq(0, 15, 30, 45, 60, 75))
    assert(sent.map(_.latencyNs / ms) == Seq(25, 40, 55, 70, 85, 100))
  }

  test("a send that keeps up is never late") {
    val clock = new FakeClock
    val due = (0 until 5).map(_ * 10 * ms)
    val sent = new OpenLoop[Int](clock, 1).run(due, _ => 0) { i => clock.t += 4 * ms; i }
    assert(sent.forall(_.lagNs == 0))
    assert(sent.forall(_.latencyNs == 4 * ms))
  }

  test("each lane sends its items in due order, one at a time") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val t0 = System.nanoTime()
    val due = (0 until 40).map(i => t0 + (i % 5) * ms)   // many ties
    new OpenLoop[Unit](SystemClock, 2).run(due, i => i % 2) { i => order.add((i % 2, i)); () }
    import scala.jdk.CollectionConverters._
    val byLane = order.asScala.toSeq.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
    byLane.foreach { case (lane, xs) =>
      val expected = (0 until 40).filter(_ % 2 == lane).sortBy(i => due(i)) // stable on ties
      assert(xs == expected)
    }
  }
}
