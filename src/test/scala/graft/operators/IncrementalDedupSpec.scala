package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dedup against the persisted signature store: each round
  * finds the delta's near-dups vs store + delta, appends its signatures,
  * and never forms store x store pairs. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Doc i's text: near-dup groups share a base id (i / 10); every token
    * carries the group id (so DIFFERENT groups share zero shingles) and
    * members differ only in a trailing token (so same-group Jaccard stays
    * high). Distinct docs (i % 10 >= 3) get a row-unique token interleaved
    * after every word — they share nothing with anyone. */
  private def doc(i: Long): (Long, String) = {
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    if (i % 10 < 3) { // group of up-to-3 near-dups per base id
      val salted = words.split(' ').map(w => s"${w}g${i / 10}").mkString(" ")
      (i, s"$salted tail${i % 10}")
    } else
      (i, words.split(' ').zipWithIndex.map { case (w, j) => s"$w u${i}x$j" }.mkString(" "))
  }

  private def docs(ids: Seq[Long]): DataFrame = ids.map(doc).toDF("doc_id", "text")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("two rounds: delta finds dups vs store and itself, never store x store") {
    val dir = java.nio.file.Files.createTempDirectory("incdedup").toString + "/sigs"
    val baseIds = Seq(10L, 11L, 20L, 23L, 30L, 35L) // dups: (10,11); 20,30 singletons in-store
    val d1Ids = Seq(12L, 21L, 40L, 41L, 47L)        // 12 dups 10/11; 21 dups 20; (40,41) intra-delta
    val d2Ids = Seq(22L, 42L, 55L)                  // 22 dups 20+21; 42 dups 40/41

    IncrementalDedup.initStore(dir, docs(baseIds))

    val r1 = IncrementalDedup.processDelta(spark, dir, docs(baseIds ++ d1Ids), docs(d1Ids))
    val p1 = pairSet(r1)
    // every pair touches the delta
    assert(p1.forall { case (a, b) => d1Ids.contains(a) || d1Ids.contains(b) })
    // delta x store dups found, intra-delta dup found, store x store absent
    assert(p1.contains((10L, 12L)) && p1.contains((11L, 12L)))
    assert(p1.contains((20L, 21L)))
    assert(p1.contains((40L, 41L)))
    assert(!p1.contains((10L, 11L)), "store-internal pair must not re-emit")

    val corpus2 = docs(baseIds ++ d1Ids ++ d2Ids)
    val r2 = IncrementalDedup.processDelta(spark, dir, corpus2, docs(d2Ids))
    val p2 = pairSet(r2)
    // round-2 delta sees BOTH the original base and round-1's appended sigs
    assert(p2.contains((20L, 22L)), "dup vs original store")
    assert(p2.contains((21L, 22L)), "dup vs round-1 delta (appended signatures)")
    assert(p2.contains((40L, 42L)) && p2.contains((41L, 42L)))
    assert(p2.forall { case (a, b) => d2Ids.contains(a) || d2Ids.contains(b) })
    assert(!p2.exists { case (a, b) => d1Ids.contains(a) && d1Ids.contains(b) },
      "round-1 delta is store now; its internal pairs were settled in round 1")
  }

  test("incremental rounds reproduce the batch pair set exactly") {
    val dir = java.nio.file.Files.createTempDirectory("incdedup2").toString + "/sigs"
    val baseIds = Seq(10L, 11L, 20L, 33L, 44L)
    val d1Ids = Seq(12L, 21L, 50L, 51L)
    val d2Ids = Seq(22L, 52L, 67L)
    val all = docs(baseIds ++ d1Ids ++ d2Ids)

    // batch reference: all verified pairs over the full corpus
    val sigs = IncrementalDedup.signatures(all)
    val batch = pairSet(IncrementalDedup.verifyPairs(
      IncrementalDedup.candidatePairs(sigs.limit(0), sigs), all, 0.5,
      "IncrementalDedupSpec.batch"))

    IncrementalDedup.initStore(dir, docs(baseIds))
    val inc0 = pairSet(IncrementalDedup.verifyPairs(
      IncrementalDedup.candidatePairs(
        IncrementalDedup.signatures(docs(baseIds)).limit(0),
        IncrementalDedup.signatures(docs(baseIds))), docs(baseIds), 0.5,
      "IncrementalDedupSpec.base"))
    val inc1 = pairSet(IncrementalDedup.processDelta(spark, dir, docs(baseIds ++ d1Ids), docs(d1Ids)))
    val inc2 = pairSet(IncrementalDedup.processDelta(spark, dir, all, docs(d2Ids)))
    assert((inc0 ++ inc1 ++ inc2) === batch,
      "base-internal + per-round delta pairs must equal the batch pair set")
  }

  test("a crash-replayed round neither changes pairs nor bloats the store") {
    val dir = java.nio.file.Files.createTempDirectory("incdedup3").toString + "/sigs"
    val baseIds = Seq(10L, 11L, 33L)
    val d1Ids = Seq(12L, 44L)
    IncrementalDedup.initStore(dir, docs(baseIds))
    val corpus = docs(baseIds ++ d1Ids)
    val first = pairSet(IncrementalDedup.processDelta(spark, dir, corpus, docs(d1Ids)))
    // the round crashed after its signature append; the scheduler re-runs it
    val replay = pairSet(IncrementalDedup.processDelta(spark, dir, corpus, docs(d1Ids)))
    assert(replay === first)
    val dupSigRows = spark.read.parquet(dir).groupBy("doc_id").count()
      .filter(col("count") > 1).count()
    assert(dupSigRows === 0L, "replayed append must not duplicate signature rows")
  }

  test("a re-ingested doc's new content supersedes its stale signature") {
    val dir = java.nio.file.Files.createTempDirectory("incdedup4").toString + "/sigs"
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    def text(group: Long, tail: Long): String =
      words.split(' ').map(w => s"${w}g$group").mkString(" ") + s" tail$tail"
    val base = Seq((10L, text(1, 0)), (11L, text(1, 1))).toDF("doc_id", "text")
    IncrementalDedup.initStore(dir, base)

    // doc 10 is re-ingested with ENTIRELY new content (group 5); the corpus
    // serves the new text per the operator contract.
    val d1 = Seq((10L, text(5, 0))).toDF("doc_id", "text")
    val corpus1 = Seq((10L, text(5, 0)), (11L, text(1, 1))).toDF("doc_id", "text")
    val r1 = pairSet(IncrementalDedup.processDelta(spark, dir, corpus1, d1))
    assert(r1 === Set.empty, "new content matches nothing; the stale (10,11) " +
      "candidate must die at verification against the new text")
    // the store must now hold 10's NEW signature, exactly once
    val store = spark.read.parquet(dir)
    assert(store.groupBy("doc_id").count().filter(col("count") > 1).count() === 0L)

    // a later delta near-duplicating the NEW content must find doc 10 —
    // impossible if the store still banded 10 under the stale sketch.
    val d2 = Seq((12L, text(5, 1))).toDF("doc_id", "text")
    val corpus2 = corpus1.unionByName(d2)
    val r2 = pairSet(IncrementalDedup.processDelta(spark, dir, corpus2, d2))
    assert(r2 === Set((10L, 12L)), "dup vs the re-ingested doc's current content")
  }

  test("recoverStore heals every rewrite crash window") {
    val root = java.nio.file.Files.createTempDirectory("incdedup5").toString
    val dir = root + "/sigs"
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    def text(group: Long, tail: Long): String =
      words.split(' ').map(w => s"${w}g$group").mkString(" ") + s" tail$tail"
    val base = Seq((10L, text(1, 0)), (11L, text(1, 1))).toDF("doc_id", "text")

    // Window A: crash AFTER the .rewrite write, BEFORE the delete — the
    // live store must win and the stale sibling must be cleared.
    IncrementalDedup.initStore(dir, base)
    IncrementalDedup.initStore(dir + ".rewrite",
      Seq((99L, text(9, 0))).toDF("doc_id", "text"))
    IncrementalDedup.recoverStore(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".rewrite")))
    assert(spark.read.parquet(dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(10L, 11L), "live store must survive")

    // Window B: crash AFTER the delete, BEFORE the rename — the completed
    // rewrite must be promoted to the store path.
    IncrementalDedup.initStore(dir + ".rewrite",
      Seq((10L, text(5, 0)), (11L, text(1, 1))).toDF("doc_id", "text"))
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    IncrementalDedup.recoverStore(spark, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".rewrite")))
    // and a normal round runs against the healed store
    val d = Seq((12L, text(5, 1))).toDF("doc_id", "text")
    val corpus = Seq((10L, text(5, 0)), (11L, text(1, 1)), (12L, text(5, 1)))
      .toDF("doc_id", "text")
    val r = pairSet(IncrementalDedup.processDelta(spark, dir, corpus, d))
    assert(r === Set((10L, 12L)))
  }

  test("verify re-shingles only candidate docs (on-demand fetch contract)") {
    // a corpus row whose text would FAIL shingling inspection if touched is
    // fine as long as it never appears in a candidate pair: verifyPairs
    // must semi-join the corpus down to candidate ids before shingling.
    val cand = Seq((10L, 11L)).toDF("doc_a", "doc_b")
    val corpus = docs(Seq(10L, 11L)).unionByName(
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // null text on a non-candidate doc must not break the verify
    val out = IncrementalDedup.verifyPairs(cand, corpus, 0.5, "IncrementalDedupSpec.null")
    assert(pairSet(out) === Set((10L, 11L)))
  }

  test("verifyPairs reads a caller-pinned candidate set without pinning it again") {
    // DedupStream.runBatch hands verifyPairs an eagerly pinned candidate
    // set; copying it into a second pin was one wasted job per microbatch
    val ids = Seq(10L, 11L, 12L, 20L, 21L, 40L, 41L, 47L)
    val corpus = docs(ids)
    val sigs = IncrementalDedup.signatures(corpus)
    val cand = IncrementalDedup.candidatePairs(sigs.filter(col("doc_id") < 30L),
      sigs.filter(col("doc_id") >= 12L)).localCheckpoint(true)
    val owner = "IncrementalDedupSpec:pinned"
    def run(c: DataFrame) = graft.plans.QueryMetrics.measureAction(spark)(
      pairSet(IncrementalDedup.verifyPairs(c, corpus, 0.5, owner)))
    val (copied, mCopied) = run(cand.select("*"))
    val (reused, mReused) = run(cand)
    assert(reused == copied && reused.contains((10L, 12L)))
    assert(mCopied.jobs - mReused.jobs == 1,
      s"copied: ${mCopied.jobs} jobs, reused: ${mReused.jobs} jobs")
    Pins.park(s"verify:$owner")
    assert(cand.count() > 0, "the caller's pin stays the caller's")
  }
}
