package graft.operators

import graft.functions.{Hashing, Text}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup detection against a persisted signature store — the
  * daily-ingest shape of corpus dedup. A 100 TB corpus is signatured ONCE;
  * each new batch ("delta") is MinHashed, LSH-joined against the stored
  * signatures plus itself, verified, and its signatures appended for the
  * next batch. The work per batch is O(delta + candidates), never
  * O(corpus): store-side docs participate only through their few-longs
  * signature row, and their shingle sets are recomputed ONLY for the docs
  * that actually appear in a candidate pair (a semi-join back to the corpus
  * by doc_id — candidates are rare, so the re-shingle is a sliver of the
  * corpus scan the batch-mode dedup would pay).
  *
  * Reference behavior: the batch dedup stack (see DedupQueries) run
  * continuously — same MinHash/LSH/Jaccard semantics (one md5 per token,
  * integer arithmetic above it), restricted to pairs that touch the delta.
  *
  * Scale shape: the only shuffles are (band -> bucket join) and
  * (doc_id -> shingle fetch); the store side of the band join is the
  * signature table (~10^-4 of corpus bytes). Store-x-store pairs are never
  * formed — the delta side is always one leg of the join.
  */
object IncrementalDedup {

  /** MinHash configuration — delegated to Hashing, the single source of
    * truth, so a store built by the batch pipeline (DedupQueries) bands
    * identically under the incremental one. */
  val K = Hashing.MinhashK
  val Bands = Hashing.LshBands
  val RowsPerBand = Hashing.LshRowsPerBand

  /** doc_id + distinct 3-gram shingle hashes for a (doc_id, text) table. */
  def shingles(docs: DataFrame): DataFrame = {
    val th = docs.select(
      col("doc_id"),
      transform(Text.tokens(col("text")), w => Hashing.hash32(w)).as("th"),
      Hashing.hash32(Text.normalize(col("text"))).as("nh"))
    th.select(col("doc_id"), Hashing.shingleHashes(col("th"), col("nh")).as("sh"))
  }

  /** doc_id + k-permutation MinHash signature for a (doc_id, text) table. */
  def signatures(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), Hashing.minhashSignature(col("sh"), K).as("sig"))

  /** Initialize the signature store: signature the full corpus once. */
  def initStore(storeDir: String, docs: DataFrame): Unit =
    signatures(docs).write.mode(SaveMode.Overwrite).parquet(storeDir)

  /** LSH candidate pairs touching the delta: delta x (store U delta),
    * canonicalized to doc_a < doc_b. The join's left leg is ALWAYS the
    * delta — store x store is structurally impossible, which is the whole
    * point: the stored corpus's internal pairs were settled when its docs
    * were themselves deltas. Delta-delta pairs form twice (once per
    * orientation) and collapse in the distinct. */
  def candidatePairs(storeSigs: DataFrame, deltaSigs: DataFrame): DataFrame = {
    def banded(sigs: DataFrame): DataFrame = sigs.select(
      col("doc_id"),
      explode(Hashing.lshBandKeys(col("sig"), Bands, RowsPerBand)).as("band"))
    val delta = banded(deltaSigs).select(col("band"), col("doc_id").as("d_id"))
    val all = banded(storeSigs.select(col("doc_id"), col("sig"))
        .unionByName(deltaSigs.select(col("doc_id"), col("sig"))))
      .select(col("band"), col("doc_id").as("o_id"))
    delta.join(all, Seq("band"))
      .filter(col("d_id") =!= col("o_id"))
      .select(least(col("d_id"), col("o_id")).as("doc_a"),
        greatest(col("d_id"), col("o_id")).as("doc_b"))
      .distinct()
  }

  /** Verify candidates by exact shingle-set Jaccard, re-shingling ONLY the
    * docs that appear in some candidate pair. `corpus` must serve the text
    * of every candidate doc (store-side docs included — the store holds
    * signatures, not shingle sets: at corpus scale the shingle sets ARE the
    * corpus, so they are fetched on demand, not persisted).
    *
    * PINNED subtrees (the r14b job-trace finding, guide §1.2): the
    * candidate set is referenced by the endpoint union AND the verify join,
    * and the fetched shingle table by BOTH join legs — under AQE each
    * broadcast/shuffle leg materializes independently, so the un-pinned
    * shape re-executed the LSH banding join and the corpus shingle fetch
    * once per leg (measured: ~15 racing duplicate jobs per q201 ingest
    * round). Both frames are candidate-sized (the operator's whole point),
    * so eager localCheckpoints cost one small job each and every leg reads
    * the cached blocks. LIFETIME: the returned frame depends on the pins,
    * so they are parked under `verify:<owner>` ([[Pins]]): `owner` names
    * the calling root or stream dir, and the frame stays valid until the
    * next verifyPairs with the same owner. A candidate frame the caller
    * already pinned is read as it is: the caller owns that pin, and
    * copying it would cost one more job per call. */
  def verifyPairs(candidates: DataFrame, corpus: DataFrame,
                  threshold: Double, owner: String): DataFrame = {
    val callerPinned = Pins.isPinned(candidates)
    val cand = if (callerPinned) candidates else candidates.localCheckpoint(true)
    val needed = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sh = shingles(corpus.join(needed, Seq("doc_id"), "left_semi"))
      .localCheckpoint(true)
    if (callerPinned) Pins.park(s"verify:$owner", sh)
    else Pins.park(s"verify:$owner", cand, sh)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", Hashing.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** One ingest round: find the delta's verified near-dups (against the
    * store and within the delta), then fold the delta's signatures into the
    * store so the next round sees them. Returns the verified pairs.
    *
    * Store update semantics: LATEST CONTENT WINS. A doc_id already in the
    * store whose delta signature is UNCHANGED is skipped (that is the
    * crashed-attempt replay case — a re-run must not duplicate rows); a
    * doc_id whose signature CHANGED (the doc was re-ingested with new
    * content) REPLACES its store row, so future rounds band against the
    * current content rather than a stale sketch. The common no-rewrite path
    * stays O(delta) appends; only a round that actually carries changed
    * re-ingests pays an O(store) rewrite (the store is ~10^-4 of corpus
    * bytes, so this is still a sliver of the corpus scan batch dedup pays).
    * The rewrite goes through a `.rewrite` sibling dir + rename, never an
    * in-place overwrite: a crash at any point leaves either the old or the
    * new store recoverable (`recoverStore` heals the delete-before-rename
    * window on the next round's read).
    *
    * `corpus` = every doc the store has signatures for, plus the delta
    * (the text source for on-demand shingle fetches); for re-ingested docs
    * it must serve the NEW text.
    *
    * LIFETIME: the returned pairs are a pin parked under `delta:<storeDir>`
    * ([[Pins]]), valid until the next processDelta on the same store. */
  def processDelta(spark: SparkSession, storeDir: String, corpus: DataFrame,
                   delta: DataFrame, threshold: Double = 0.5): DataFrame = {
    recoverStore(spark, storeDir)
    val storeSigs = spark.read.parquet(storeDir)
    val deltaSigs = signatures(delta).cache()
    val pairs =
      verifyPairs(candidatePairs(storeSigs, deltaSigs), corpus, threshold,
        storeDir).orderBy(col("doc_a"), col("doc_b"))
    // Materialize results BEFORE mutating the store: localCheckpoint pins
    // the rows so the fold below cannot leak into a lazy re-read.
    val out = pairs.localCheckpoint(eager = true)
    Pins.park(s"delta:$storeDir", out)
    KeyedStore.fold(spark, storeDir, deltaSigs, "doc_id")
    deltaSigs.unpersist()
    out
  }

  /** See KeyedStore.recover — kept as the operator-level entry point. */
  def recoverStore(spark: SparkSession, storeDir: String): Unit =
    KeyedStore.recover(spark, storeDir)
}
