package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Differential property test for the central merge (U1-U4, E20): random
  * target snapshots and source batches are merged via `Merge.mergeBatch`
  * and compared against a naive per-key map reference implementing the same
  * contract — last-wins in-batch dedup by orderCol, monotonic updateWhere,
  * set-once and skip-nil column policies, and the change marker.
  *
  * The second half checks prefix consistency of a versioned spec: random
  * delivery sequences, cut at random microbatch boundaries, must merge to
  * the table that applying one delivery at a time leaves — through
  * `Merge.upsert`, `PartitionedStore.mergeInto` and the stream's
  * first-write path (dedup, then `PartitionedStore.write`). */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  // row: (key, seq, ts, a, b) — a is set-once, b is skip-nil
  private type R = (Long, Long, Long, Option[String], Option[String])

  private val rowGen: Gen[R] = for {
    key <- Gen.chooseNum(0L, 30L) // small key space forces collisions
    seq <- Gen.chooseNum(0L, 1000000L)
    ts <- Gen.chooseNum(0L, 50L)
    a <- Gen.option(Gen.oneOf("a1", "a2", "a3"))
    b <- Gen.option(Gen.oneOf("b1", "b2", "b3"))
  } yield (key, seq, ts, a, b)

  private val spec = MergeSpec(
    keyCols = Seq("key"), orderCol = "seq",
    updateWhere = (t, s) => s("ts") > t("ts"),
    coalesceOnUpdate = Seq("a"),
    skipNilCols = Seq("b"))

  /** Naive reference: dedup source last-wins by (key, max seq) — seq ties
    * broken by max content hash, the retry-deterministic rule the merge
    * implements — then per-key insert/update/keep with the column policies.
    * `hash` supplies Spark's xxhash64 per row (the one piece of the
    * contract a naive model can't recompute natively). */
  private def reference(target: Seq[R], source: Seq[R],
                        hash: R => Long): Map[Long, (R, String)] = {
    val dedup = source.groupBy(_._1).view
      .mapValues(_.maxBy(r => (r._2, hash(r)))).toMap
    val tgt = target.map(r => r._1 -> r).toMap
    val out = scala.collection.mutable.Map.empty[Long, (R, String)]
    tgt.foreach { case (k, t) =>
      dedup.get(k) match {
        case Some(s) if s._3 > t._3 => // monotonic update
          val a = t._4.orElse(s._4)    // set-once: keep target unless null
          val b = s._5.orElse(t._5)    // skip-nil: source null keeps target
          out(k) = ((k, s._2, s._3, a, b), "update")
        case _ => out(k) = (t, "keep")
      }
    }
    dedup.foreach { case (k, s) =>
      if (!tgt.contains(k)) out(k) = (s, "insert")
    }
    out.toMap
  }

  test("merge matches the naive per-key reference on 40 random batch pairs") {
    val seed = org.scalacheck.rng.Seed(31L)
    val cases = Gen.listOfN(40,
      Gen.zip(Gen.listOfN(25, rowGen), Gen.listOfN(40, rowGen)))
      .apply(Gen.Parameters.default, seed).get
    cases.zipWithIndex.foreach { case ((targetRaw, source), i) =>
      // a valid target snapshot has unique keys
      val target = targetRaw.groupBy(_._1).values.map(_.head).toSeq
      val got = Merge.mergeBatch(
        target.toDF("key", "seq", "ts", "a", "b"),
        source.toDF("key", "seq", "ts", "a", "b"), spec)
        .collect()
        .map { r =>
          r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.getString(3)), Option(r.getString(4))), r.getString(5))
        }.toMap
      // the tie-break hash, computed once through Spark (sorted col order)
      val hashes: Map[R, Long] = source.toDF("key", "seq", "ts", "a", "b")
        .withColumn("__h", xxhash64(Seq("a", "b", "key", "seq", "ts").map(col): _*))
        .collect().map { r =>
          ((r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.getString(3)), Option(r.getString(4))), r.getLong(5))
        }.toMap
      val want = reference(target, source, hashes)
      assert(got == want, s"\ncase $i\n got=${got.toSeq.sortBy(_._1).take(5)}" +
        s"\nwant=${want.toSeq.sortBy(_._1).take(5)}")
    }
  }

  // ------------------------------------------------ versioned: prefix consistency

  // delivery: (key, seq = ingest order, v = version, payload)
  private type D = (String, Long, Long, String)
  private val vspec = MergeSpec(keyCols = Seq("key"), orderCol = "seq",
    versionCol = Some("v"))

  /** A delivery sequence over 6 keys mixing fresh events, identical
    * redeliveries, late (older) events, equal-version events with another
    * payload, and reordered pairs (newer sent first, older right after). */
  private def deliveries(rng: scala.util.Random, n: Int): Vector[D] = {
    val latest = scala.collection.mutable.Map.empty[String, (Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    while (out.size < n) {
      val k = s"k${rng.nextInt(6)}"
      val (v0, p0) = latest.getOrElse(k, (10L, "p0"))
      def fresh(v: Long) = { val p = s"p$v-${rng.nextInt(1000)}"; latest(k) = (v, p); (k, v, p) }
      rng.nextInt(10) match {
        case 0 | 1 => out += ((k, v0, p0))                            // redelivery
        case 2 => out += ((k, v0 - 1 - rng.nextInt(5), "late"))      // late event
        case 3 => out += ((k, v0, s"tie-${rng.nextInt(1000)}"))      // equal version
        case 4 =>                                                     // reordered pair
          out += fresh(v0 + 2); out += ((k, v0 + 1, "older"))
        case _ => out += fresh(v0 + 1 + rng.nextInt(3))
      }
    }
    out.take(n).toVector.zipWithIndex.map { case ((k, v, p), i) => (k, i.toLong, v, p) }
  }

  /** The contract: apply each delivery on its own, in ingest order. */
  private def fold(ds: Seq[D]): Map[String, D] =
    ds.foldLeft(Map.empty[String, D]) { (t, d) =>
      t.get(d._1) match {
        case Some(cur) if cur._3 >= d._3 => t
        case _ => t.updated(d._1, d)
      }
    }

  /** Random cut points: the sequence as 1-4 consecutive microbatches. */
  private def cut(rng: scala.util.Random, ds: Vector[D]): Seq[Vector[D]] = {
    val cuts = (Seq.fill(rng.nextInt(4))(rng.nextInt(ds.size + 1)) :+ 0 :+ ds.size).distinct.sorted
    cuts.sliding(2).collect { case Seq(a, b) if b > a => ds.slice(a, b) }.toSeq
  }

  private def df(ds: Seq[D]) = ds.toDF("key", "seq", "v", "payload")
  private def rows(d: org.apache.spark.sql.DataFrame): Map[String, D] =
    d.select("key", "seq", "v", "payload").collect()
      .map(r => r.getString(0) -> ((r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  test("a versioned merge equals the one-at-a-time fold wherever batches are cut") {
    val rng = new scala.util.Random(6L)
    (0 until 12).foreach { i =>
      val ds = deliveries(rng, 12 + rng.nextInt(20))
      val batches = cut(rng, ds)
      val merged = batches.foldLeft(Map.empty[String, D]) { (t, b) =>
        rows(Merge.upsert(df(t.values.toSeq), df(b), vspec))
      }
      assert(merged == fold(ds), s"case $i, batches ${batches.map(_.size)}: $ds")
      // the stream's first-write path: the whole sequence as one batch
      assert(rows(Merge.dedupLastWins(df(ds), vspec)) == fold(ds), s"case $i (dedup): $ds")
    }
  }

  test("PartitionedStore: first write then mergeInto equals the fold at any cut") {
    val rng = new scala.util.Random(7L)
    (0 until 3).foreach { i =>
      val ds = deliveries(rng, 24)
      val batches = cut(rng, ds)
      val dir = java.nio.file.Files.createTempDirectory("versioned-store").toString
      PartitionedStore.write(Merge.dedupLastWins(df(batches.head), vspec), dir, "key", 4)
      assert(rows(PartitionedStore.read(spark, dir)) == fold(batches.head), s"case $i first write")
      batches.tail.foreach(b => PartitionedStore.mergeInto(spark, dir, df(b), vspec, "key", 4))
      assert(rows(PartitionedStore.read(spark, dir)) == fold(ds),
        s"case $i, batches ${batches.map(_.size)}: $ds")
    }
  }
}
