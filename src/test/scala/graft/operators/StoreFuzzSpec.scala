package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** STATEFUL store fuzzing — the lifecycle analogue of `graft.FuzzRun`'s
  * SQL fuzzing. The hand-written incremental specs check the transition
  * shapes we thought of (1 -> 2 holder recompute, cross-round merges,
  * rep steals, replay idempotence); this drives the stores through
  * seeded RANDOM schedules — random delta partitions, replays of
  * arbitrary earlier deltas interleaved at arbitrary points, read-only
  * probes of not-yet-ingested documents — and gates EVERY intermediate
  * state on the batch oracle, not just the final one. The invariant
  * fuzzed is each store's own equivalence contract:
  *
  *  - [[IncrementalSubstr]]: after any insert-only ingest sequence
  *    (replays included), `report` == `batchReport` over exactly the
  *    ingested docs; `probe` == the batch report over (store ∪ probe)
  *    restricted to the probe rows, and mutates nothing.
  *  - [[IncrementalSplit]]: after any ingest sequence, `assignments`
  *    == the batch star-contraction recompute over the ingested corpus.
  *
  * Schedules are deterministic per seed (documented in failures), so a
  * red run replays exactly. Corpus geometry makes all three transition
  * regimes reachable: substring docs share sentences across random
  * subsets (a shared sentence's second arrival forces a stored-holder
  * recompute in whichever round the schedule put it); split docs use the
  * IncrementalDedupSpec group geometry (i % 10 < 3 near-dups), so merges
  * and rep steals land across random round boundaries. */
class StoreFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def root(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"storefuzz-$tag").toString

  private def pick[A](r: java.util.Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // ---------------------------------------------------------------- substr

  /** ≥ 32 chars each (the window length), lowercase-ASCII. */
  private val sentences = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda",
    "one two three four five six seven eight nine ten eleven twelve",
    "pack my box with five dozen liquor jugs before the night falls",
    "a stitch in time saves nine but only when the thread is strong",
    "the rain in spain stays mainly on the plain said the professor")

  /** Doc i carries 0-2 sentences drawn from the pool by a PER-DOC
    * deterministic rng (independent of the schedule rng, so the same
    * doc_id has the same text in every round's corpus view), padded with
    * doc-unique tokens so no accidental cross-doc window arises. */
  private def substrDoc(i: Long, seed: Long): (Long, String) = {
    val r = new java.util.Random(seed * 7919 + i)
    val shared = (0 until r.nextInt(3)).map(_ => sentences(r.nextInt(sentences.size)))
    val uniq = (0 to 2).map(j => s"uniq${seed}x${i}y$j")
    (i, (uniq.head +: shared :+ uniq(1)).mkString(" ") + " " + uniq(2))
  }

  private def substrDocs(ids: Seq[Long], seed: Long): DataFrame =
    ids.map(substrDoc(_, seed)).toDF("doc_id", "text")

  private def withLen(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text"), length(col("text")).as("len"))

  private def reportRows(d: DataFrame): Set[(Long, Long, Long, Long)] =
    d.select(col("doc_id"), col("n_spans"), col("dup_chars"), col("kept_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  /** Random partition of `ids` into 2-4 non-empty deltas. */
  private def randomDeltas(ids: Seq[Long], r: java.util.Random): Seq[Seq[Long]] = {
    val sr = new scala.util.Random(r)
    val ordered = sr.shuffle(ids)
    val k = r.nextInt(3) + 2
    val cuts = (sr.shuffle((1 until ordered.size).toList).take(k - 1) :+
      ordered.size).distinct.sorted
    (0 +: cuts).sliding(2).map { case Seq(a, b) => ordered.slice(a, b) }
      .filter(_.nonEmpty).toSeq
  }

  for (seed <- Seq(101L, 202L)) {
    test(s"substr store: random ingest/replay/probe schedule equals batch (seed $seed)") {
      val r = new java.util.Random(seed)
      val rt = root("substr")
      val ids = (1L to 20L)
      val deltas = randomDeltas(ids, r)
      var done = 0 // deltas(0 until done) are ingested
      var steps = List.empty[String]
      def ingestedIds = deltas.take(done).flatten
      def corpus = substrDocs(ingestedIds, seed)
      def checkReport(): Unit = {
        val got = reportRows(IncrementalSubstr.report(spark, rt))
        val want = reportRows(IncrementalSubstr.batchReport(withLen(corpus)))
        assert(got == want,
          s"seed=$seed schedule=${steps.reverse.mkString(",")}: store $got != batch $want")
      }
      while (done < deltas.size) {
        r.nextInt(4) match {
          case 0 | 1 => // ingest the next delta, random report route (the
            // refresh/recompute router must agree at every interleaving)
            val route = pick(r, Seq("auto", "refresh", "recompute"))
            IncrementalSubstr.ingest(spark, rt, substrDocs(ingestedIds ++ deltas(done), seed),
              substrDocs(deltas(done), seed), maintainBloom = r.nextBoolean(),
              route = route)
            done += 1; steps ::= s"ingest$done($route)"
            checkReport()
          case 2 if done > 0 => // replay an arbitrary EARLIER delta verbatim
            val j = r.nextInt(done)
            IncrementalSubstr.ingest(spark, rt, corpus, substrDocs(deltas(j), seed),
              route = pick(r, Seq("auto", "refresh", "recompute")))
            steps ::= s"replay$j"
            checkReport()
          case _ if done < deltas.size => // read-only probe of future docs
            val future = deltas.drop(done).flatten
            val probeIds = future.take(r.nextInt(3) + 1)
            val probe = substrDocs(probeIds, seed)
            val got = reportRows(IncrementalSubstr.probe(spark, rt, probe))
            val want = reportRows(
              IncrementalSubstr.batchReport(withLen(corpus.unionByName(probe)))
                .filter(col("doc_id").isin(probeIds.map(java.lang.Long.valueOf): _*)))
            steps ::= s"probe(${probeIds.mkString("/")})"
            assert(got == want,
              s"seed=$seed schedule=${steps.reverse.mkString(",")}: probe $got != batch $want")
            checkReport() // probe must not have mutated anything
          case _ => ()
        }
      }
    }
  }

  // ----------------------------------------------------------------- split

  /** IncrementalDedupSpec group geometry: docs with equal i/10 (when
    * i % 10 < 3) are near-dups; everything else is row-unique. */
  private def splitDoc(i: Long): (Long, String) = {
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    if (i % 10 < 3) {
      val salted = words.split(' ').map(w => s"${w}g${i / 10}").mkString(" ")
      (i, s"$salted tail${i % 10}")
    } else
      (i, words.split(' ').zipWithIndex.map { case (w, j) => s"$w u${i}x$j" }.mkString(" "))
  }

  private def splitDocs(ids: Seq[Long]): DataFrame = ids.map(splitDoc).toDF("doc_id", "text")

  private def batchReps(corpus: DataFrame): Map[Long, Long] = {
    val sigs = IncrementalDedup.signatures(corpus)
    val pairs = IncrementalDedup.verifyPairs(
      IncrementalDedup.candidatePairs(sigs.limit(0), sigs), corpus, 0.5,
      "StoreFuzzSpec.batchReps")
    val lab = DupClusters.assign(pairs.select(col("doc_a"), col("doc_b")))
    val labeled = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.select("doc_id").collect()
      .map(_.getLong(0)).map(id => id -> labeled.getOrElse(id, id)).toMap
  }

  /** Canonical (min, max) pair set from a pairs frame. */
  private def pairSet(d: DataFrame): Set[(Long, Long)] =
    d.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet

  private def batchPairs(corpus: DataFrame): Set[(Long, Long)] = {
    val sigs = IncrementalDedup.signatures(corpus)
    pairSet(IncrementalDedup.verifyPairs(
      IncrementalDedup.candidatePairs(sigs.limit(0), sigs), corpus, 0.5,
      "StoreFuzzSpec.batchPairs"))
  }

  for (seed <- Seq(505L, 606L)) {
    test(s"dedup pair store: random ingest/replay schedule accumulates exactly the batch pairs (seed $seed)") {
      // Invariant fuzzed: after any schedule, the UNION of every round's
      // returned verified pairs equals the batch pair set over the
      // ingested corpus — each pair is found in the round its LATER
      // endpoint arrives, and a replayed delta (banded against the grown
      // store, which now includes itself and any later arrivals) can only
      // RE-find batch pairs, never invent one.
      val r = new java.util.Random(seed)
      val store = root("dedup")
      val ids = Seq(10L, 11L, 12L, 20L, 21L, 22L, 30L, 31L, 32L, 5L, 17L, 28L)
      val deltas = randomDeltas(ids, r)
      var done = 0
      var found = Set.empty[(Long, Long)]
      var steps = List.empty[String]
      def ingestedIds = deltas.take(done).flatten
      def check(): Unit = {
        val want = batchPairs(splitDocs(ingestedIds))
        assert(found == want,
          s"seed=$seed schedule=${steps.reverse.mkString(",")}: union $found != batch $want")
      }
      while (done < deltas.size) {
        r.nextInt(3) match {
          case 0 | 1 =>
            if (done == 0) {
              // round 1 is the operator's init contract: the store is
              // seeded with the first batch's signatures, and that
              // batch's INTERNAL pairs come from the batch path
              IncrementalDedup.initStore(store, splitDocs(deltas(0)))
              found ++= batchPairs(splitDocs(deltas(0)))
            } else {
              val pairs = IncrementalDedup.processDelta(spark, store,
                splitDocs(ingestedIds ++ deltas(done)), splitDocs(deltas(done)))
              found ++= pairSet(pairs)
            }
            done += 1; steps ::= s"ingest$done"
            check()
          case _ if done > 0 =>
            val j = r.nextInt(done)
            val pairs = IncrementalDedup.processDelta(spark, store,
              splitDocs(ingestedIds), splitDocs(deltas(j)))
            val replayed = pairSet(pairs)
            found ++= replayed
            steps ::= s"replay$j"
            check() // re-found pairs are batch pairs; nothing new appears
          case _ => ()
        }
      }
    }
  }

  for (seed <- Seq(303L, 404L)) {
    test(s"split store: random ingest/replay schedule equals batch CC (seed $seed)") {
      val r = new java.util.Random(seed)
      val rt = root("split")
      // three 3-member groups (x0..x2 for x in {10,20,30}) + loners: every
      // random partition scatters group members across rounds, so merges
      // and smaller-id rep steals cross round boundaries by construction
      val ids = Seq(10L, 11L, 12L, 20L, 21L, 22L, 30L, 31L, 32L, 5L, 17L, 28L)
      val deltas = randomDeltas(ids, r)
      var done = 0
      var steps = List.empty[String]
      def ingestedIds = deltas.take(done).flatten
      def checkAssignments(): Unit = {
        val corpus = splitDocs(ingestedIds)
        val got = IncrementalSplit.assignments(spark, rt, corpus.select(col("doc_id")))
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        val want = batchReps(corpus)
        assert(got == want,
          s"seed=$seed schedule=${steps.reverse.mkString(",")}: store $got != batch $want")
      }
      while (done < deltas.size) {
        r.nextInt(3) match {
          case 0 | 1 => // ingest the next delta (index maintenance fuzzed too)
            IncrementalSplit.ingest(spark, rt, splitDocs(ingestedIds ++ deltas(done)),
              splitDocs(deltas(done)), maintainIndex = r.nextBoolean())
            done += 1; steps ::= s"ingest$done"
            checkAssignments()
          case _ if done > 0 => // replay an arbitrary earlier delta verbatim
            val j = r.nextInt(done)
            IncrementalSplit.ingest(spark, rt, splitDocs(ingestedIds), splitDocs(deltas(j)))
            steps ::= s"replay$j"
            checkAssignments()
          case _ => ()
        }
      }
    }
  }
}
