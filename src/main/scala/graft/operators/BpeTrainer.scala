package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE (byte-pair-encoding) tokenizer training over a corpus:
  * the standard merge-learning loop — count adjacent symbol pairs across
  * the (frequency-weighted) vocabulary, merge the most frequent pair,
  * repeat — expressed Spark-first.
  *
  * Scale shape (the Lloyd's-iteration discipline): the vocabulary table
  * stays distributed (word frequencies are ONE token-keyed shuffle over the
  * corpus, map-side combined); the full adjacent-pair count is built ONCE,
  * and every merge step after that maintains it INCREMENTALLY — only the
  * words that actually contain the merged pair (a map-side `contains`
  * filter) are re-exploded, contributing their old pairs with negative
  * weight and their new pairs with positive weight, and that delta is
  * folded into the cached pair-count table. The only thing that ever
  * reaches the driver is the single argmax row per step. Applying a merge
  * is a map-side literal string replace. At 100 TB the vocab is ~10^7
  * rows — step cost is O(pair table + affected words), independent of
  * corpus size AND (unlike a per-step full recount) independent of vocab
  * size except for one predicate-only scan; a 50k-merge production run
  * pays the full-vocab explode exactly once.
  *
  * Exactness: words are encoded as "` c1; c2; ...`" (every symbol prefixed
  * with a space, suffixed with `;`), so a merge of pair (l, r) is the
  * literal replacement of "` l; r;`" by "` lr;`". Literal string replace is
  * leftmost-non-overlapping and resumes AFTER each replacement in both the
  * JVM and SQL engines — exactly BPE's within-word merge order, including
  * back-to-back runs ("a a a a" -> "aa aa"). Ties on count break
  * lexicographically by (left, right): fully deterministic, reproducible
  * by an external SQL oracle replaying the same chain.
  */
object BpeTrainer {

  final case class Merge(step: Long, left_sym: String, right_sym: String,
                         merged: String, cnt: Long)

  /** Encode a word as its space/`;`-delimited character symbols. */
  private def encode(word: org.apache.spark.sql.Column) = {
    val chars = transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))
    concat(lit(" "), array_join(transform(chars, c => concat(c, lit(";"))), " "))
  }

  /** Re-cache the lazily-chained replace lineage every this many merges.
    * Between checkpoints a step is ONE job (the argmax) whose scan replays
    * at most this many map-side replaces over the cached ancestor — total
    * char work stays O(CacheEvery * steps * vocab) instead of paying a
    * materialization job per step. A production 50k-merge run keeps the
    * same loop and just re-caches on this cadence. */
  private val CacheEvery = sys.env.getOrElse("GRAFT_BPE_CACHE_EVERY", "8").toInt

  /** Batched-pass merge selection: from the top rows of the pair table
    * (sorted by the serial order: cnt desc, l, r), the longest prefix that
    * provably matches the serial argmax sequence when applied as one pass:
    *
    *  1. pairwise DISJOINT: no symbol (or concat) of an accepted member
    *     reappears in a later one — disjoint merges cannot change each
    *     other's counts (a replace consumes only its own two symbols and
    *     can never create adjacency between two surviving symbols);
    *  2. FRESH concats only: every multi-char symbol in this encoding is
    *     the concat of a previous merge, so `mergedSoFar` decides exactly
    *     whether a candidate's concat already exists as a symbol — if it
    *     does, merging would add instances to PRE-EXISTING pairs touching
    *     that symbol, which could boost one past a later batch member
    *     (the one channel by which any non-member count can rise);
    *  3. STRICT drop at the cut: trailing members tied with the first
    *     excluded pair's count are popped, so during the pass every
    *     non-member (old pairs only ever lose instances; pairs on a fresh
    *     concat are bounded by the excluded pair they subset) stays
    *     strictly below every remaining member.
    *
    * Under 1-3 the serial trainer would pick exactly these pairs in
    * exactly this order (ties among members follow the same (cnt, l, r)
    * sort), so the batched pass is equivalence-preserving, not an
    * approximation — `BpeBatchSpec` pins batched == serial merge lists.
    * The stop-at-first-conflict rule (rather than skip-and-continue)
    * matters: a skipped pair would outrank later members at its serial
    * step. */
  private def selectBatch(top: Seq[Row], want: Int,
                          mergedSoFar: Set[String]): Seq[Row] = {
    val used = scala.collection.mutable.Set.empty[String]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Row]
    var cut: Option[Long] = None // count of the first excluded pair
    var solo = false
    top.foreach { row =>
      if (cut.isEmpty) {
        val (l, r) = (row.getString(0), row.getString(1))
        val parts = Seq(l, r, l + r)
        if (chosen.isEmpty) {
          chosen += row; used ++= parts
          // the argmax is ALWAYS safe alone — but if its concat is an
          // already-existing symbol (two merge routes can mint the same
          // string: (ab,c) and (a,bc) both make "abc"), merging it ADDS
          // instances to pre-existing pairs on that symbol, which could
          // outrank a batch mate mid-pass — so it gets no mates
          solo = mergedSoFar.contains(l + r)
        } else if (!solo && chosen.size < want &&
            parts.forall(!used.contains(_)) && !mergedSoFar.contains(l + r)) {
          chosen += row; used ++= parts
        } else cut = Some(row.getLong(2))
      }
    }
    cut.foreach { c0 =>
      var c = c0
      while (chosen.size > 1 && chosen.last.getLong(2) == c) {
        c = chosen.last.getLong(2)
        chosen.remove(chosen.size - 1)
      }
    }
    chosen.toSeq
  }

  /** Learn up to `steps` merges from a (doc_id, text) corpus; stops early
    * when no adjacent pair remains.
    *
    * `batchTop` > 1 turns on batched passes (the production lever for
    * 50k-merge runs): each pass collects the top `batchTop + 1` pairs
    * once, applies the longest provably-serial-equivalent prefix
    * ([[selectBatch]]), and folds ALL the members' deltas into the pair
    * table in ONE union — per-pass job count replaces per-step job count
    * (one argmax collect + one fold instead of one of each per merge),
    * while the merge LIST stays bit-identical to `batchTop = 1` (the
    * deltas themselves are still computed member-by-member on the
    * evolving vocabulary, so within-word semantics are serial by
    * construction). */
  /** Pass count of the most recent [[train]] call on this thread — bench
    * instrumentation (one pass = one argmax collect + one pair-table
    * fold), not part of the training contract. */
  val lastPasses = new ThreadLocal[Int]

  def train(docs: DataFrame, steps: Int, batchTop: Int = 1): Seq[Merge] = {
    // Eager localCheckpoint everywhere a table is re-materialized: it cuts
    // the LOGICAL lineage, not just the physical one. A cache() would keep
    // a plan tree that grows by one delta-subtree per merge step, and the
    // driver re-canonicalizes that whole tree on every cache lookup — at
    // step k the "scan a tiny cached table" argmax was paying O(k) plan
    // work. With checkpoints every plan in the loop stays constant-size,
    // so step cost is pure executor work. (On a cluster the durable
    // analog is checkpoint() to the cluster FS; local mode keeps blocks
    // in the block manager.)
    val tSetup0 = System.nanoTime()
    val base = docs
      .select(explode(Text.tokens(col("text"))).as("word"))
      // tokens carrying the ';' delimiter would corrupt the symbol
      // encoding (phantom empty symbols in the pair statistics, replace
      // literals that misfire) — exclude them from merge learning, the
      // way production trainers byte-escape their marker characters; the
      // oracle applies the identical exclusion
      .filter(!col("word").contains(";"))
      // non-ASCII tokens are excluded too: the symbol split iterates code
      // points here but grapheme clusters in the SQL oracle (DuckDB
      // split(word, '')), so combining sequences would yield different
      // symbol lists and diverging merge statistics; on ASCII the two
      // agree exactly. The oracle applies the identical exclusion.
      .filter(!col("word").rlike("[^\\x00-\\x7F]"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), encode(col("word")).as("w"), col("cnt"))
      .localCheckpoint(true)
    val tSetup1 = System.nanoTime()
    var w: DataFrame = base.select(col("w"), col("cnt"))
    var wCkpt: DataFrame = base // most recent checkpointed ancestor of w
    var sinceCache = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // The full pair count — built once, then maintained incrementally per
    // merge step. At step 0 every symbol is a single character, so the
    // initial count is a CHARACTER-BIGRAM count over the raw words — one
    // 2-char string per pair instead of a struct of two strings (the
    // struct-array explode was ~2-3x more allocation for the same
    // aggregate); the (l, r) split happens after aggregation, on the tiny
    // distinct-pair table.
    var pc = base
      .select(explode(when(length(col("word")) >= 2,
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2))))
        .otherwise(array().cast(ArrayType(StringType)))).as("bg"), col("cnt"))
      .groupBy(col("bg")).agg(sum(col("cnt")).as("cnt"))
      .select(substring(col("bg"), 1, 1).as("l"),
        substring(col("bg"), 2, 1).as("r"), col("cnt"))
      .localCheckpoint(true)
    if (sys.env.contains("GRAFT_BPE_DEBUG"))
      println(f"[bpe] setup base=${(tSetup1 - tSetup0) / 1e9}%.2f pc0=${(System.nanoTime() - tSetup1) / 1e9}%.2f")
    var step = 1
    var exhausted = false
    var passes = 0
    val mergedSoFar = scala.collection.mutable.Set.empty[String]
    while (step <= steps && !exhausted) {
        passes += 1
        val tDbg0 = System.nanoTime()
        val want = math.min(math.max(batchTop, 1), steps - step + 1)
        val top = pc.orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(want + 1).collect()
        val tDbg1 = System.nanoTime()
        if (top.isEmpty) exhausted = true
        else {
          val batch = selectBatch(top.toSeq, want, mergedSoFar.toSet)
          val deltas = batch.map { row =>
          val Row(l: String, r: String, c: Long) = row
          merges += Merge(step.toLong, l, r, l + r, c)
          mergedSoFar += (l + r)
          val pat = s" $l; $r;"
          val merged = call_function("replace", col("w"), lit(pat), lit(s" $l$r;"))
          // Incremental maintenance: only words containing the merged pair
          // change their pair multiset (the replace is a no-op on every
          // other row), and within such a word only the pairs TOUCHING a
          // merge site change. Splitting the encoded word on the pattern
          // (Java split and Java replace share leftmost-non-overlapping
          // resume-after-match semantics, so the k = |segments|-1 matches
          // are exactly the k applied merges) lets one map-side pass emit
          // just the O(k) boundary deltas instead of re-exploding every
          // pair of the word:
          //   - the merged pair itself: (l, r) at -k*cnt;
          //   - non-empty prefix seg s0 with last symbol a: -(a,l) +(a,lr);
          //   - non-empty suffix seg sk with first symbol b: -(r,b) +(lr,b);
          //   - inner gap seg (between two merge sites): an empty gap means
          //     the sites were adjacent, so -(r,l) +(lr,lr); otherwise both
          //     a first-symbol boundary -(r,b) +(lr,b) and a last-symbol
          //     boundary -(a,l) +(a,lr) fire (one-symbol gaps take both —
          //     both old pairs existed through that symbol).
          // Folding that delta into pc reproduces the full recount exactly
          // (integer counts, no approximation).
          val delta = {
            val lr = l + r
            val segs = split(col("w"), java.util.regex.Pattern.quote(pat), -1)
            val k = size(segs) - 1
            // every non-empty segment is " a; ...; z;" — first/last symbol
            // via substring_index, O(symbol) not O(pairs-in-segment)
            def firstSym(s: org.apache.spark.sql.Column) =
              substring(substring_index(s, ";", 1), 2, Int.MaxValue)
            def lastSym(s: org.apache.spark.sql.Column) =
              translate(substring_index(s, " ", -1), ";", "")
            val cntc = col("cnt")
            def d(lc: org.apache.spark.sql.Column, rc: org.apache.spark.sql.Column,
                  dw: org.apache.spark.sql.Column) =
              struct(lc.as("l"), rc.as("r"), dw.as("cnt"))
            val none = array().cast(ArrayType(StructType(Seq(
              StructField("l", StringType), StructField("r", StringType),
              StructField("cnt", LongType)))))
            val eMerged = array(d(lit(l), lit(r), -cntc * k))
            val ePre = when(element_at(segs, 1) =!= "", array(
              d(lastSym(element_at(segs, 1)), lit(l), -cntc),
              d(lastSym(element_at(segs, 1)), lit(lr), cntc))).otherwise(none)
            val eSuf = when(element_at(segs, -1) =!= "", array(
              d(lit(r), firstSym(element_at(segs, -1)), -cntc),
              d(lit(lr), firstSym(element_at(segs, -1)), cntc))).otherwise(none)
            val eGaps = flatten(transform(slice(segs, lit(2), k - 1), g =>
              when(g === "", array(
                d(lit(r), lit(l), -cntc), d(lit(lr), lit(lr), cntc)))
              .otherwise(array(
                d(lit(r), firstSym(g), -cntc), d(lit(lr), firstSym(g), cntc),
                d(lastSym(g), lit(l), -cntc), d(lastSym(g), lit(lr), cntc)))))
            w.filter(col("w").contains(pat))
              .select(explode(concat(eMerged, ePre, eSuf, eGaps)).as("e"))
              .select(col("e.l").as("l"), col("e.r").as("r"), col("e.cnt").as("cnt"))
          }
          // the NEXT member's delta must see this member's replace applied
          // (within-word serial semantics); the fold below is still one job
          w = w.select(merged.as("w"), col("cnt"))
          step += 1
          delta
          }
          val pcOld = pc
          pc = pc.unionByName(deltas.reduce(_ unionByName _))
            .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("cnt"))
            .filter(col("cnt") > 0)
            .localCheckpoint(true) // eager: materializes AND cuts lineage
          Pins.free(pcOld)
          if (sys.env.contains("GRAFT_BPE_DEBUG"))
            println(f"[bpe] steps=${step - batch.size}..${step - 1} argmax=${(tDbg1 - tDbg0) / 1e9}%.2f delta=${(System.nanoTime() - tDbg1) / 1e9}%.2f batch=${batch.size}")
          sinceCache += batch.size
          if (sinceCache >= CacheEvery) {
            val wOld = wCkpt
            wCkpt = w.localCheckpoint(true)
            w = wCkpt
            Pins.free(wOld)
            sinceCache = 0
          }
        }
      }
    Pins.free(pc)
    Pins.free(wCkpt)
    lastPasses.set(passes)
    merges.toSeq
  }

  /** The learned merge table as a DataFrame (step, left_sym, right_sym,
    * merged, cnt) — the artifact a tokenizer ships. */
  def mergeTable(spark: SparkSession, docs: DataFrame, steps: Int,
                 batchTop: Int = 8): DataFrame = {
    import spark.implicits._
    // batched passes by default: the merge list is BIT-IDENTICAL to
    // serial (selectBatch is equivalence-preserving — BpeBatchSpec, and
    // the q108 oracle replays the serial chain over the same corpus), so
    // callers only see the ~2.5x fewer jobs (BENCH_sf1_bpe_batch.json)
    train(docs, steps, batchTop).toDF().orderBy(col("step"))
  }

  /** APPLY the learned merges — the consumption half of training: per
    * document, the word count and the subword-token count after encoding
    * each word and replaying the merge chain in order. Out-of-alphabet
    * words (carrying the ';' delimiter or non-ASCII — the same exclusions
    * merge learning applies) count as ONE opaque token, the unsplittable-
    * unknown convention.
    *
    * Scale shape: tokenization is a pure map-side projection, and the
    * whole merge table rides the plan as ONE `BpeEncode` expression
    * (constant plan size — a production 50k-merge vocab compiles and
    * applies the same as 10 merges; `BpeApplySpec` proves the expression
    * bit-equal to the literal replace chain it replaces); the only
    * shuffle is the per-document count aggregation. */
  def subwordCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    subwordCountsWith(docs,
      graft.functions.expressions.BpeEncode.bpeEncode(
        col("word"), merges.map(m => (m.left_sym, m.right_sym))))

  /** The same contract via the literal replace chain — `steps` nested
    * `replace` calls, the definitional semantics `BpeEncode` compiles.
    * Kept as the parity-spec reference; unshippable at production merge
    * counts (plan size and codegen scale with the vocabulary). */
  def subwordCountsLiteral(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    subwordCountsWith(docs,
      merges.foldLeft(encode(col("word"))) { (c, m) =>
        call_function("replace", c,
          lit(s" ${m.left_sym}; ${m.right_sym};"), lit(s" ${m.merged};"))
      })

  private def subwordCountsWith(docs: DataFrame,
      encN: org.apache.spark.sql.Column): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("word"))
    val oov = col("word").contains(";") || col("word").rlike("[^\\x00-\\x7F]")
    // each symbol ends in ';', so symbols = count of ';' in the encoding
    val nSub = when(oov, lit(1L))
      .otherwise((length(encN) - length(translate(encN, ";", ""))).cast(LongType))
    words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(nSub).as("n_subwords"))
  }
}
