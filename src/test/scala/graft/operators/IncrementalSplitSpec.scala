package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental cluster-representative maintenance: after any ingest
  * sequence the store's assignments must equal the batch connected-
  * components recompute over the full corpus — including merges ACROSS
  * rounds (a later delta gluing two stored clusters, a smaller-id arrival
  * stealing the representative), the very cases where a naive
  * append-only store silently diverges. */
class IncrementalSplitSpec extends SparkSpec {
  import spark.implicits._

  /** Same corpus geometry as IncrementalDedupSpec: docs with equal i/10
    * are near-dups (group-salted tokens, distinct trailing token); others
    * share nothing (row-unique token after every word). */
  private def doc(i: Long): (Long, String) = {
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    if (i % 10 < 3) {
      val salted = words.split(' ').map(w => s"${w}g${i / 10}").mkString(" ")
      (i, s"$salted tail${i % 10}")
    } else
      (i, words.split(' ').zipWithIndex.map { case (w, j) => s"$w u${i}x$j" }.mkString(" "))
  }

  private def docs(ids: Seq[Long]): DataFrame = ids.map(doc).toDF("doc_id", "text")

  private def batchReps(corpus: DataFrame): Map[Long, Long] = {
    val sigs = IncrementalDedup.signatures(corpus)
    val pairs = IncrementalDedup.verifyPairs(
      IncrementalDedup.candidatePairs(sigs.limit(0), sigs), corpus, 0.5,
      "IncrementalSplitSpec.batchReps")
    val lab = DupClusters.assign(pairs.select(col("doc_a"), col("doc_b")))
    val labeled = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.select("doc_id").collect()
      .map(_.getLong(0)).map(id => id -> labeled.getOrElse(id, id)).toMap
  }

  private def storeReps(root: String, corpus: DataFrame): Map[Long, Long] =
    IncrementalSplit.assignments(spark, root, corpus.select(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("multi-round ingest equals batch CC, including cross-round merges") {
    val root = java.nio.file.Files.createTempDirectory("incsplit").toString
    // round 1: (110,111) dups, 200/310 loners, 47 distinct
    val r1 = Seq(110L, 111L, 200L, 310L, 47L)
    // round 2: 112 joins cluster {110,111}; (311,312) would pair with 310
    val r2 = Seq(112L, 311L, 312L)
    // round 3: 201/202 join stored loner 200's group (grow-a-stored-
    // cluster path; the smaller-id rep steal gets its own test below)
    val r3 = Seq(201L, 202L)
    val all = r1 ++ r2 ++ r3
    val c1 = docs(r1); val c2 = docs(r1 ++ r2); val c3 = docs(all)
    IncrementalSplit.ingest(spark, root, c1, docs(r1))
    IncrementalSplit.ingest(spark, root, c2, docs(r2))
    IncrementalSplit.ingest(spark, root, c3, docs(r3))
    val inc = storeReps(root, c3)
    val bat = batchReps(c3)
    assert(inc == bat, s"incremental $inc != batch $bat")
    // the cross-round merges actually happened
    assert(inc(112L) == 110L, "round-2 doc must join the stored cluster")
    assert(inc(311L) == 310L && inc(312L) == 310L)
    assert(inc(201L) == 200L && inc(202L) == 200L)
    assert(inc(47L) == 47L, "distinct doc stays its own representative")
  }

  test("a smaller-id arrival steals the representative of a stored cluster") {
    val root = java.nio.file.Files.createTempDirectory("incsplit2").toString
    // group 5 members: 50,51,52 (i%10<3). Round 1 stores {51,52} with
    // rep 51; round 2 brings 50 — the merged rep must become 50.
    val r1 = Seq(51L, 52L, 99L)
    val r2 = Seq(50L)
    IncrementalSplit.ingest(spark, root, docs(r1), docs(r1))
    assert(storeReps(root, docs(r1))(52L) == 51L)
    IncrementalSplit.ingest(spark, root, docs(r1 ++ r2), docs(r2))
    val reps = storeReps(root, docs(r1 ++ r2))
    assert(reps(50L) == 50L && reps(51L) == 50L && reps(52L) == 50L,
      s"stored rows must be relabeled when a smaller id joins: $reps")
    assert(reps == batchReps(docs(r1 ++ r2)))
  }

  test("delta replay is idempotent: same assignments, no duplicate pairs") {
    val root = java.nio.file.Files.createTempDirectory("incsplit3").toString
    val r1 = Seq(70L, 71L, 85L)
    val r2 = Seq(72L)
    IncrementalSplit.ingest(spark, root, docs(r1), docs(r1))
    IncrementalSplit.ingest(spark, root, docs(r1 ++ r2), docs(r2))
    val before = storeReps(root, docs(r1 ++ r2))
    val pairsBefore = IncrementalSplit.pairs(spark, root).count()
    // crashed-attempt replay of round 2
    IncrementalSplit.ingest(spark, root, docs(r1 ++ r2), docs(r2))
    assert(storeReps(root, docs(r1 ++ r2)) == before)
    assert(IncrementalSplit.pairs(spark, root).count() == pairsBefore,
      "pair ledger reads must collapse replayed rows")
    assert(before == batchReps(docs(r1 ++ r2)))
  }

  test("concurrent ingests serialize on the writer lock and stay batch-equal") {
    val root = java.nio.file.Files.createTempDirectory("incsplit6").toString
    // four deltas whose dup groups SPAN deltas (group 12: one member per
    // delta; group 13: two in one) — any interleaving that broke the
    // one-store-state-per-round discipline would split or mislabel them
    val deltas = Seq(
      Seq(120L, 130L, 55L), Seq(121L, 131L), Seq(122L, 77L), Seq(132L))
    val all = deltas.flatten
    val corpus = docs(all)
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(4)
    try {
      val fs = deltas.map(d => pool.submit(new Runnable {
        def run(): Unit =
          IncrementalSplit.ingest(spark, root, corpus, docs(d))
      }))
      fs.foreach(_.get())
    } finally pool.shutdown()
    val inc = storeReps(root, corpus)
    assert(inc == batchReps(corpus), s"concurrent ingests diverged: $inc")
    assert(inc(122L) == 120L && inc(131L) == 130L && inc(132L) == 130L)
  }

  test("maintained band index answers the online probe across ingest rounds") {
    val root = java.nio.file.Files.createTempDirectory("incsplit5").toString
    val r1 = Seq(80L, 81L, 95L)
    val r2 = Seq(82L)
    IncrementalSplit.ingest(spark, root, docs(r1), docs(r1), maintainIndex = true)
    IncrementalSplit.ingest(spark, root, docs(r1 ++ r2), docs(r2), maintainIndex = true)
    // an UNSEEN near-dup of group 8 probes the live store: finds the
    // round-1 members AND the round-2 appendee, never itself
    val probe = docs(Seq(80L)).select(
      (col("doc_id") + 900000L).as("doc_id"), col("text"))
    val hits = IncrementalSplit.probe(spark, root, probe)
      .collect().map(r => r.getLong(1)).toSet
    assert(hits == Set(80L, 81L, 82L), s"$hits")
  }

  test("multi-round ingest through the band index equals batch CC too") {
    // the index-routed candidate path (maintainIndex) must produce the
    // SAME pairs/reps as the store-scanning path — same banding, probed
    // from the partitioned index instead of banding the signature store
    val root = java.nio.file.Files.createTempDirectory("incsplit7").toString
    val r1 = Seq(110L, 111L, 200L, 310L, 47L)
    val r2 = Seq(112L, 311L, 312L)
    val r3 = Seq(201L, 202L)
    val all = r1 ++ r2 ++ r3
    // frac 1.0 force-probes every round (a 3-doc delta exceeds the
    // default single-doc threshold): the equivalence, not the routing
    // heuristic, is what this test pins
    IncrementalSplit.ingest(spark, root, docs(r1), docs(r1),
      maintainIndex = true, indexProbeMaxFrac = 1.0)
    IncrementalSplit.ingest(spark, root, docs(r1 ++ r2), docs(r2),
      maintainIndex = true, indexProbeMaxFrac = 1.0)
    IncrementalSplit.ingest(spark, root, docs(all), docs(r3),
      maintainIndex = true, indexProbeMaxFrac = 1.0)
    assert(storeReps(root, docs(all)) == batchReps(docs(all)))
  }

  test("once a root has an index, every ingest maintains it (flag or not)") {
    // the coverage invariant behind the probe-path candidates: an index
    // can never silently fall behind the signature store
    val root = java.nio.file.Files.createTempDirectory("incsplit8").toString
    IncrementalSplit.ingest(spark, root, docs(Seq(80L, 81L)), docs(Seq(80L, 81L)),
      maintainIndex = true)
    // maintainIndex NOT passed — the existing index must still absorb 82
    IncrementalSplit.ingest(spark, root, docs(Seq(80L, 81L, 82L)), docs(Seq(82L)))
    val probe = docs(Seq(80L)).select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val hits = IncrementalSplit.probe(spark, root, probe)
      .collect().map(r => r.getLong(1)).toSet
    assert(hits == Set(80L, 81L, 82L), s"$hits")
  }

  test("a content-CHANGING re-ingest is rejected before anything mutates") {
    val root = java.nio.file.Files.createTempDirectory("incsplit9").toString
    IncrementalSplit.ingest(spark, root, docs(Seq(60L, 61L, 35L)), docs(Seq(60L, 61L, 35L)))
    val pairsBefore = IncrementalSplit.pairs(spark, root).count()
    val changed = Seq((35L, "completely different content now a near dup of nothing"))
      .toDF("doc_id", "text")
    val e = intercept[RuntimeException] {
      IncrementalSplit.ingest(spark, root, docs(Seq(60L, 61L)).unionByName(changed), changed)
    }
    assert(e.getMessage.contains("CHANGED content") && e.getMessage.contains("35"))
    // nothing mutated: ledger count and assignments are untouched
    assert(IncrementalSplit.pairs(spark, root).count() == pairsBefore)
    assert(storeReps(root, docs(Seq(60L, 61L, 35L))) ==
      Map(60L -> 60L, 61L -> 60L, 35L -> 35L))
  }

  test("the index-routed refresh reads fewer records than the store scan") {
    // the scale claim behind the routing: a small delta's candidate stage
    // probes <= LshBands bucket partitions of the index instead of
    // banding the whole signature store. Records read are deterministic
    // for fixed data, so the comparison gates pruning exactly; both
    // rounds pay the same check-join/corpus/fold scans.
    val storeIds = (0 until 50).flatMap(g => Seq(g * 10L, g * 10L + 1L)) ++
      (0 until 100).map(i => 5000L + i * 10L + 5L) // 200 stored docs
    val delta = Seq(42L) // near-dup of stored group 4
    val corpus = docs(storeIds ++ delta)
    // explicit index width 64: this test gates the pruning claim, which
    // needs a one-doc probe's <= 4 band buckets to be a small slice; the
    // default sig-count geometry correctly picks a coarse width for a
    // 200-doc index (where the probe and the scan read about the same)
    def measuredIngest(maintain: Boolean): Long = {
      val root = java.nio.file.Files.createTempDirectory("incsplitRG").toString
      IncrementalSplit.ingest(spark, root, docs(storeIds), docs(storeIds),
        maintainIndex = maintain, indexBuckets = 64)
      val (_, m) = graft.plans.QueryMetrics.measureAction(spark) {
        IncrementalSplit.ingest(spark, root, corpus, docs(delta),
          maintainIndex = maintain, indexBuckets = 64)
      }
      m.inputRecords
    }
    val viaIndex = measuredIngest(maintain = true)
    val viaScan = measuredIngest(maintain = false)
    assert(viaIndex < viaScan,
      s"index-routed refresh read $viaIndex records vs $viaScan via store scan")
  }

  test("a merge joining two STORED clusters relabels both sides' rows") {
    val root = java.nio.file.Files.createTempDirectory("incsplit4").toString
    // group 9: members 90,91,92. Store {91} and {92} as singletons via
    // separate rounds with thresholds that... simpler: store 91 alone
    // (no pair -> not in store), then 92 pairs with 91 (cluster {91,92}),
    // then 90 pairs with both and becomes rep of the merged cluster.
    IncrementalSplit.ingest(spark, root, docs(Seq(91L)), docs(Seq(91L)))
    IncrementalSplit.ingest(spark, root, docs(Seq(91L, 92L)), docs(Seq(92L)))
    IncrementalSplit.ingest(spark, root, docs(Seq(90L, 91L, 92L)), docs(Seq(90L)))
    val reps = storeReps(root, docs(Seq(90L, 91L, 92L)))
    assert(reps == Map(90L -> 90L, 91L -> 90L, 92L -> 90L), s"$reps")
  }
}
