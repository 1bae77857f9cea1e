package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {
  import WebhookModel._

  private val gen = new WebhookGen(1, 100, 10)
  private def d(kind: Kind, key: Int, t: Long, idx: Int) =
    Delivery(idx, 1, kind, key, s"evt_$idx", t, "", 0)
  private def preloadRows = (0 until 100).map(k => k -> Stripe.row(k, gen.preloadT(k))).toMap

  test("each key ends at its accepted delivery with the greatest event time") {
    val t = Stripe.T0 + 10000
    val sent = Seq(d(Kind.Fresh, 1, t, 1), d(Kind.Fresh, 1, t + 5, 2),
      d(Kind.Redelivery, 1, t + 5, 3), d(Kind.BadSignature, 90, t + 9, 4),
      d(Kind.Late, 91, Stripe.T0 - 3, 5))
    val exp = expected(gen, sent)
    assert(exp(1) == Stripe.row(1, t + 5))
    assert(exp(90) == Stripe.row(90, gen.preloadT(90)))   // bad signature never lands
    assert(exp(91) == Stripe.row(91, gen.preloadT(91)))   // late event loses to the stored row
    assert(exp(2) == Stripe.row(2, gen.preloadT(2)))      // untouched preload key unchanged
    assert(judge(gen, sent, preloadRows ++ Map(1 -> Stripe.row(1, t + 5))).values.forall(_ == Ok))
  }

  test("a reordered pair that ends at the older event is a stale pair, not a wrong row") {
    val (hi, lo) = (Stripe.T0 + 300, Stripe.T0 + 200)
    val sent = Seq(d(Kind.PairNewer, 95, hi, 1), d(Kind.PairOlder, 95, lo, 2))
    // two microbatches: the newer event survives
    assert(judge(gen, sent, preloadRows + (95 -> Stripe.row(95, hi)))(95) == Ok)
    // one microbatch: last-wins by ingest order keeps the older event
    assert(judge(gen, sent, preloadRows + (95 -> Stripe.row(95, lo)))(95) == StalePair)
    // anything else is wrong
    assert(judge(gen, sent, preloadRows)(95).isInstanceOf[Wrong])
  }

  test("a stale row on a key without a pair is wrong") {
    val t = Stripe.T0 + 10000
    val sent = Seq(d(Kind.Fresh, 3, t, 1), d(Kind.Fresh, 3, t + 1, 2))
    assert(judge(gen, sent, preloadRows + (3 -> Stripe.row(3, t)))(3).isInstanceOf[Wrong])
  }

  test("missing and extra keys are wrong") {
    val v = judge(gen, Nil, preloadRows - 4 + (500 -> Stripe.row(500, 1L)))
    assert(v(4).isInstanceOf[Wrong] && v(500).isInstanceOf[Wrong])
  }

  test("backfill model: re-listed keys keep the later listing, older incremental versions lose") {
    val g = new BackfillGen(2, 2000, 50)
    val full = g.afterFull
    assert(full.size == 2000)
    g.full.groupBy(_._1).foreach { case (k, xs) => assert(full(k).updated == xs.last._2) }
    val inc = g.afterIncremental
    g.newer.foreach { case (k, t) => assert(inc(k).updated == t) }
    g.older.foreach { case (k, _) => assert(inc(k) == full(k)) }
    assert(g.newer.map(_._1).toSet.intersect(g.older.map(_._1).toSet).isEmpty)
  }

  test("read model: a capped query's threshold passes more rows than the cap") {
    val g = new ReadGen(3, new BackfillGen(3, 5000, 100).afterIncremental, 100)
    assert(g.charges.values.count(_.amount >= g.capThreshold) > 1000)
    val q = Query("point", "", 42)
    assert(g.expected(q) == Seq(s"${Stripe.chargeId(42)}|${g.charges(42).updated}|" +
      s"${g.charges(42).amount}|${g.charges(42).status}"))
  }

  test("read model: a rejected query must be rejected, a wrong row fails") {
    val g = new ReadGen(3, new BackfillGen(3, 5000, 100).afterIncremental, 100)
    val rejected = Query("rejected", g.rejected.head, 0)
    assert(g.judge(rejected, Left("rejected")).isEmpty)
    assert(g.judge(rejected, Right((Nil, false))).nonEmpty)
    val point = Query("point", "", 42)
    assert(g.judge(point, Right((g.expected(point), false))).isEmpty)
    assert(g.judge(point, Right((Nil, false))).nonEmpty)
  }

  test("checksum is order free and content sensitive") {
    val rows = (0 until 50).map(k => Stripe.row(k, Stripe.T0 + k))
    assert(Checksum.of(rows) == Checksum.of(rows.reverse))
    assert(Checksum.of(rows) != Checksum.of(rows.updated(3, Stripe.row(3, Stripe.T0 + 99))))
  }
}
