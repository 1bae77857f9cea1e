package perfbench

import graft.plans.ReadonlyGuard
import scala.util.Random

/** Stripe-shaped payloads and the seeded generators of the workloads.
  * The engine only ever sees what these produce; the same seed gives the
  * same inputs. Event times are unix seconds and unique per version, so
  * the reference models below can say exactly which version must win. */
object Stripe {
  /** Base of every event time; the generators count up from here. */
  val T0 = 1600000000L

  def chargeId(k: Int): String = f"ch_$k%07d"
  def customerId(c: Int): String = f"cus_$c%05d"
  def customerOf(k: Int, customers: Int): Int = ((k.toLong * 2654435761L) % customers).toInt.abs

  /** A charge's content is a pure function of (key, version time). */
  def amount(k: Int, t: Long): Long = ((k.toLong * 7919L + t * 104729L) % 100000L).abs + 100L
  def status(k: Int, t: Long): String = Seq("succeeded", "pending", "failed")(((k + t) % 3).toInt.abs)

  def charge(k: Int, t: Long, customers: Int): String = {
    val id = chargeId(k)
    s"""{"id":"$id","object":"charge","amount":${amount(k, t)},""" +
      s""""balance_transaction":"txn_$k","billing_details":{"email":"u$k@example.com"},""" +
      s""""created":$t,"customer":"${customerId(customerOf(k, customers))}","invoice":null,""" +
      s""""payment_method_details":{"type":"card"},"receipt_email":"u$k@example.com",""" +
      s""""status":"${status(k, t)}"}"""
  }

  /** A `charge.updated` event: the stored `updated` is the event's `created`. */
  def chargeEvent(eventId: String, k: Int, t: Long, customers: Int): String =
    s"""{"id":"$eventId","object":"event","type":"charge.updated","created":$t,""" +
      s""""data":{"object":${charge(k, t, customers)}}}"""

  def customerEmail(c: Int): String = s"c$c@example.com"
  def customer(c: Int, t: Long): String =
    s"""{"id":"${customerId(c)}","object":"customer","balance":${c * 10},"created":$t,""" +
      s""""email":"${customerEmail(c)}","name":"Customer $c","phone":"+1555$c"}"""

  /** Expected content of a stored charge row. */
  final case class Row(key: Int, updated: Long, amount: Long, status: String)
  def row(k: Int, t: Long): Row = Row(k, t, amount(k, t), status(k, t))
}

/** Zipf(s) over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

// ------------------------------------------------------------ webhook_live

sealed trait Kind
object Kind {
  /** A new event for a hot key; must become visible. */
  case object Fresh extends Kind
  /** The same body again (same event id and time) as the key's latest. */
  case object Redelivery extends Kind
  /** An event older than the stored row of an otherwise untouched key;
    * must be accepted by HTTP and rejected by the merge. */
  case object Late extends Kind
  /** Signed with the wrong secret: 401, never landed. */
  case object BadSignature extends Kind
  /** The newer event of a reordered pair, sent first. */
  case object PairNewer extends Kind
  /** The older event of a reordered pair, sent right after the newer one. */
  case object PairOlder extends Kind
}

final case class Delivery(idx: Int, round: Int, kind: Kind, key: Int, eventId: String,
                          t: Long, body: String, dueMs: Long) {
  def goodSignature: Boolean = kind != Kind.BadSignature
  def expectedStatus: Int = if (goodSignature) 202 else 401
}

/** Deliveries for `webhook_live`. Keys 0 until `hotKeys` take Zipf-chosen
  * fresh events and redeliveries; every late, bad-signature and reordered
  * delivery gets a key of its own from the remaining keys, so no later
  * delivery lands on it. All deliveries of one key go over one connection
  * in generation order (the lane is the key), so the receiver sees each
  * key's deliveries in the order they were generated. */
final class WebhookGen(seed: Long, val keys: Int, val customers: Int) {
  val hotKeys: Int = (keys * 0.8).toInt
  private val rng = new Random(seed)
  private val zipf = new Zipf(hotKeys, 1.1)
  private val reserved = new Random(seed ^ 0x5eed).shuffle((hotKeys until keys).toVector)
  private var reservedAt = 0
  private var nextT = Stripe.T0 + keys + 1000
  private var lateT = Stripe.T0 - 1
  private var idx = 0
  private val latestByKey = scala.collection.mutable.Map.empty[Int, Delivery]

  /** Preload version of key k (older than every delivery). */
  def preloadT(k: Int): Long = Stripe.T0 + k
  def preloadBodies: Iterator[String] =
    Iterator.range(0, keys).map(k => Stripe.charge(k, preloadT(k), customers))

  private def takeReserved(): Int = {
    require(reservedAt < reserved.size, "reserved key pool exhausted")
    reservedAt += 1
    reserved(reservedAt - 1)
  }

  private def make(round: Int, kind: Kind, key: Int, t: Long, dueMs: Long,
                   eventId: Option[String] = None, body: Option[String] = None): Delivery = {
    idx += 1
    val id = eventId.getOrElse(s"evt_${seed}_$idx")
    Delivery(idx, round, kind, key, id, t,
      body.getOrElse(Stripe.chargeEvent(id, key, t, customers)), dueMs)
  }

  /** `n` deliveries due `intervalMs` apart from `startMs` (interval 0 = all
    * due at once, a burst). Mix: 2% bad signature, 3% identical
    * redelivery, 3% late, 1% reordered pair, the rest fresh. */
  def round(round: Int, n: Int, startMs: Long, intervalMs: Double): Vector[Delivery] = {
    val out = Vector.newBuilder[Delivery]
    var i = 0
    def due: Long = startMs + (i * intervalMs).toLong
    while (i < n) {
      val u = rng.nextDouble()
      if (u < 0.02) {
        nextT += 1
        out += make(round, Kind.BadSignature, takeReserved(), nextT, due)
      } else if (u < 0.05 && latestByKey.nonEmpty) {
        val pick = latestByKey.values.toVector.sortBy(_.idx).apply(rng.nextInt(latestByKey.size))
        out += make(round, Kind.Redelivery, pick.key, pick.t, due, Some(pick.eventId), Some(pick.body))
      } else if (u < 0.08) {
        lateT -= 1
        out += make(round, Kind.Late, takeReserved(), lateT, due)
      } else if (u < 0.09) {
        val k = takeReserved()
        nextT += 2
        out += make(round, Kind.PairNewer, k, nextT, due)
        i += 1
        out += make(round, Kind.PairOlder, k, nextT - 1, due)
      } else {
        nextT += 1
        val d = make(round, Kind.Fresh, zipf.sample(rng), nextT, due)
        latestByKey(d.key) = d
        out += d
      }
      i += 1
    }
    out.result()
  }
}

/** Reference model of `webhook_live`: each key ends at its accepted
  * delivery with the greatest event time (the preload counts as one). The
  * engine collapses a microbatch last-wins by ingest order BEFORE its
  * event-time check, so a reordered pair that lands in one microbatch
  * stores the older event; the model names that outcome instead of
  * failing on it, and fails on every other difference. */
object WebhookModel {

  sealed trait Verdict
  case object Ok extends Verdict
  /** The pair's older event won: the known merge-order defect. */
  case object StalePair extends Verdict
  final case class Wrong(expected: Stripe.Row, got: Option[Stripe.Row]) extends Verdict

  def expected(gen: WebhookGen, sent: Seq[Delivery]): Map[Int, Stripe.Row] = {
    val best = scala.collection.mutable.Map.empty[Int, Long]
    sent.filter(_.goodSignature).foreach { d =>
      best(d.key) = math.max(best.getOrElse(d.key, gen.preloadT(d.key)), d.t)
    }
    (0 until gen.keys).map(k => k -> Stripe.row(k, best.getOrElse(k, gen.preloadT(k)))).toMap
  }

  /** Judge every key of the stored table against the model. */
  def judge(gen: WebhookGen, sent: Seq[Delivery], stored: Map[Int, Stripe.Row]): Map[Int, Verdict] = {
    val exp = expected(gen, sent)
    val pairOlder = sent.collect { case d if d.kind == Kind.PairOlder => d.key -> d.t }.toMap
    val extra = stored.keySet -- exp.keySet
    exp.map { case (k, e) =>
      val got = stored.get(k)
      k -> (if (got.contains(e)) Ok
            else if (got.exists(g => pairOlder.get(k).contains(g.updated) && g == Stripe.row(k, g.updated))) StalePair
            else Wrong(e, got))
    } ++ extra.map(k => k -> (Wrong(Stripe.Row(k, -1, -1, "absent"), stored.get(k)): Verdict))
  }
}

// ----------------------------------------------------------- backfill_sync

/** Items for `backfill_sync`: one charge resource per key (version time
  * T0 + k), plus ~1% re-listed keys carrying a newer version on a later
  * page. The incremental pass updates 10% of keys to newer versions and
  * sends 1% other keys an older version, which the merge must reject. */
final class BackfillGen(seed: Long, val keys: Int, val customers: Int) {
  private val rng = new Random(seed)
  private val relisted: Vector[Int] = rng.shuffle((0 until keys).toVector).take(keys / 100)

  /** Full listing in page order: (key, version time). */
  val full: Vector[(Int, Long)] = {
    val base = (0 until keys).map(k => (k, Stripe.T0 + k)).toVector
    val relistAt = relisted.zipWithIndex.map { case (k, j) =>
      // at a random position after the key's first listing
      val pos = k + 1 + rng.nextInt(keys - k)
      pos -> (k, Stripe.T0 + keys + j)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
    (0 to keys).iterator.flatMap(p => relistAt.getOrElse(p, Nil) ++ base.lift(p)).toVector
  }

  private val shuffled = rng.shuffle((0 until keys).toVector)
  val newer: Vector[(Int, Long)] = shuffled.take(keys / 10).zipWithIndex
    .map { case (k, j) => (k, Stripe.T0 + 3L * keys + j) }
  val older: Vector[(Int, Long)] = shuffled.slice(keys / 10, keys / 10 + keys / 100).zipWithIndex
    .map { case (k, j) => (k, Stripe.T0 - 1 - j) }

  def bodies(items: Seq[(Int, Long)]): Vector[String] =
    items.map { case (k, t) => Stripe.charge(k, t, customers) }.toVector

  /** The table after the full pass: the last listing of each key wins. */
  def afterFull: Map[Int, Stripe.Row] = full.map { case (k, t) => k -> Stripe.row(k, t) }.toMap

  /** The table after the incremental pass: newer versions win, older lose. */
  def afterIncremental: Map[Int, Stripe.Row] = {
    val m = afterFull
    m ++ newer.map { case (k, t) => k -> Stripe.row(k, t) }
      .filter { case (k, r) => r.updated > m(k).updated }
  }
}

/** Order-free checksum of synced rows: a sum of per-row 64-bit mixes. */
object Checksum {
  def mix(key: String, updated: Long, amount: Long): Long = {
    var h = key.hashCode.toLong * 0x9E3779B97F4A7C15L
    h ^= updated * 0xC2B2AE3D27D4EB4FL
    h ^= amount * 0x165667B19E3779F9L
    h ^ (h >>> 31)
  }
  def of(rows: Iterable[Stripe.Row]): Long =
    rows.iterator.map(r => mix(Stripe.chargeId(r.key), r.updated, r.amount)).sum
}

// ----------------------------------------------------------------- reads

/** One read-only query with the class it belongs to. */
final case class Query(cls: String, sql: String, arg: Long)

/** The read step of `backfill_sync`: one query of each class through the
  * read-only guard over the charges table, whose rows the model `charges`
  * gives, plus a saved query run twice through the result cache (the first
  * run after a table rewrite misses, the second hits). */
final class ReadGen(seed: Long, val charges: Map[Int, Stripe.Row], val customers: Int) {
  private val rng = new Random(seed)
  private val zipf = new Zipf(charges.size, 1.1)
  private val minT = charges.values.map(_.updated).min
  private val maxT = charges.values.map(_.updated).max

  def customerOf(k: Int): Int = Stripe.customerOf(k, customers)

  /** The saved query, run by id through the result cache. */
  val saved: (String, String) = "by_status" -> ("SELECT status, count(*) AS n, sum(amount) AS total " +
    s"FROM ${ReadGen.View} GROUP BY status ORDER BY status")

  val rejected: Vector[String] = Vector(
    s"DROP TABLE ${ReadGen.View}",
    s"INSERT INTO ${ReadGen.View} SELECT * FROM ${ReadGen.View}",
    s"CREATE TABLE stolen AS SELECT * FROM ${ReadGen.View}",
    s"ALTER TABLE ${ReadGen.View} RENAME TO gone")

  /** Amount threshold that more than the row cap of charges pass. */
  val capThreshold: Long = {
    val amounts = charges.values.map(_.amount).toVector.sorted
    amounts(amounts.size - 3000)
  }

  /** The queries of one read step, in order; the seed picks keys and
    * parameters. */
  def step(): Vector[Query] = {
    val k = zipf.sample(rng)
    val t = minT + 50 + rng.nextLong(maxT - minT)
    val c = rng.nextInt(customers)
    val r = rng.nextInt(rejected.size)
    Vector(
      Query("point", s"SELECT stripe_id, updated, amount, status FROM ${ReadGen.View} " +
        s"WHERE stripe_id = '${Stripe.chargeId(k)}'", k),
      Query("range", s"SELECT stripe_id, updated FROM ${ReadGen.View} " +
        s"WHERE updated < timestamp_seconds($t) ORDER BY updated DESC LIMIT 50", t),
      Query("aggregate", s"SELECT count(*) AS n, sum(amount) AS total FROM ${ReadGen.View} " +
        s"WHERE customer = '${Stripe.customerId(c)}'", c),
      Query("capped", s"SELECT stripe_id, amount FROM ${ReadGen.View} " +
        s"WHERE amount >= $capThreshold", capThreshold),
      Query("rejected", rejected(r), r),
      Query("saved", saved._1, 0),
      Query("saved", saved._1, 0))
  }

  /** Expected rows of a query, as strings, in result order. */
  def expected(q: Query): Seq[String] = q.cls match {
    case "point" => charges.get(q.arg.toInt).map(r =>
      s"${Stripe.chargeId(r.key)}|${r.updated}|${r.amount}|${r.status}").toSeq
    case "range" => charges.values.filter(_.updated < q.arg).toSeq
      .sortBy(-_.updated).take(50).map(r => s"${Stripe.chargeId(r.key)}|${r.updated}")
    case "aggregate" =>
      val rs = charges.values.filter(r => customerOf(r.key) == q.arg)
      Seq(s"${rs.size}|${if (rs.isEmpty) "null" else rs.map(_.amount).sum.toString}")
    case "saved" =>
      charges.values.groupBy(_.status).toSeq.sortBy(_._1)
        .map { case (s, rs) => s"$s|${rs.size}|${rs.map(_.amount).sum}" }
    case other => sys.error(s"no row-level expectation for class $other")
  }

  /** Judge what a query returned (rows and whether the row cap was
    * reached), or the message it was rejected with; None when right. */
  def judge(q: Query, got: Either[String, (Seq[String], Boolean)]): Option[String] =
    (q.cls, got) match {
      case ("rejected", Left(_)) => None
      case ("rejected", Right(_)) => Some(s"not rejected: ${q.sql}")
      case (_, Left(e)) => Some(s"${q.cls} failed: $e")
      case ("capped", Right((rows, reached))) =>
        val ok = rows.size == ReadonlyGuard.DefaultMaxRows && reached &&
          rows.distinct.size == rows.size && rows.forall { r =>
            val Array(id, amount) = r.split('|')
            charges.get(id.stripPrefix("ch_").toInt).exists(x => x.amount == amount.toLong && x.amount >= q.arg)
          }
        if (ok) None else Some(s"capped query returned ${rows.size} rows, reached=$reached")
      case (_, Right((rows, reached))) =>
        val exp = expected(q)
        if (rows == exp && !reached) None
        else Some(s"${q.cls} differs: ${q.sql} -> ${rows.take(3)} expected ${exp.take(3)}")
    }
}

object ReadGen {
  /** The view the read step registers the charges table under. */
  val View = "stripe_charge_v1"
}
