package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def webhook(seed: Long) = {
    val g = new WebhookGen(seed, 2000, 100)
    (g.round(1, 300, 0, 125) ++ g.round(1, 150, 40000, 0)).map(d => (d.kind, d.key, d.t, d.body, d.dueMs))
  }
  private def backfill(seed: Long) = {
    val g = new BackfillGen(seed, 3000, 100)
    (g.full, g.newer, g.older, g.bodies(g.full.take(50)))
  }
  private def reads(seed: Long) = {
    val g = new ReadGen(seed, new BackfillGen(1, 3000, 100).afterIncremental, 100)
    Vector.fill(20)(g.step())
  }

  test("the same seed gives the same inputs, another seed other inputs") {
    assert(webhook(7) == webhook(7))
    assert(webhook(7) != webhook(8))
    assert(backfill(7) == backfill(7))
    assert(backfill(7) != backfill(8))
    assert(reads(7) == reads(7))
    assert(reads(7) != reads(8))
  }

  test("webhook mix: every kind occurs, event times are unique per new event") {
    val g = new WebhookGen(3, 20000, 100)
    val ds = g.round(1, 4000, 0, 10)
    val kinds = ds.groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(Set[Kind](Kind.Fresh, Kind.Redelivery, Kind.Late, Kind.BadSignature,
      Kind.PairNewer, Kind.PairOlder).subsetOf(kinds.keySet))
    assert(kinds(Kind.BadSignature) > 40 && kinds(Kind.BadSignature) < 130)
    val newEvents = ds.filter(_.kind != Kind.Redelivery)
    assert(newEvents.map(_.t).distinct.size == newEvents.size)
    assert(newEvents.map(_.eventId).distinct.size == newEvents.size)
  }

  test("reserved keys take exactly one delivery (a pair counts as one), hot keys none of them") {
    val g = new WebhookGen(5, 20000, 100)
    val ds = g.round(1, 3000, 0, 10)
    val special = ds.filter(d => d.kind != Kind.Fresh && d.kind != Kind.Redelivery)
    special.groupBy(_.key).foreach { case (k, xs) =>
      assert(k >= g.hotKeys)
      assert(xs.size == 1 || xs.map(_.kind).toSet == Set[Kind](Kind.PairNewer, Kind.PairOlder))
    }
    assert(ds.filter(d => d.kind == Kind.Fresh).forall(_.key < g.hotKeys))
  }

  test("a reordered pair sends the newer event first, both due together") {
    val g = new WebhookGen(11, 20000, 100)
    val ds = g.round(1, 3000, 0, 10)
    val i = ds.indexWhere(_.kind == Kind.PairNewer)
    assert(i >= 0)
    val (a, b) = (ds(i), ds(i + 1))
    assert(b.kind == Kind.PairOlder && a.key == b.key && a.t > b.t && b.t > g.preloadT(a.key))
  }

  test("a redelivery repeats the latest delivery of its key") {
    val g = new WebhookGen(13, 20000, 100)
    val ds = g.round(1, 3000, 0, 10)
    ds.zipWithIndex.filter(_._1.kind == Kind.Redelivery).foreach { case (r, i) =>
      val latest = ds.take(i).filter(d => d.key == r.key && d.kind == Kind.Fresh).last
      assert(r.body == latest.body && r.eventId == latest.eventId && r.t == latest.t)
    }
  }

  test("a read step runs one query of each guard class, then the saved query twice") {
    val g = new ReadGen(1, new BackfillGen(1, 3000, 100).afterIncremental, 100)
    assert(g.step().map(_.cls) == Vector("point", "range", "aggregate", "capped", "rejected", "saved", "saved"))
  }
}
