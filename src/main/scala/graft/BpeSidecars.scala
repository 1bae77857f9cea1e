package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Sidecars.{Ctx, Measured, Spec, median, obj, scaledDocs, timed}
import graft.operators.BpeTrainer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sidecars for BPE training and application at production merge counts,
  * over a deterministic synthetic corpus whose vocabulary sustains 1000+
  * merges. */
object BpeSidecars {

  /** A fixed LCG: the corpora below are the same on every run. */
  private final class Lcg {
    private var seed = 0x2545f4914f6cdd1dL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    /** `n` words of 8-12 letters over `alpha`. */
    def vocab(n: Int, alpha: String): Array[String] = Array.tabulate(n) { _ =>
      val len = 8 + nextInt(5)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(alpha(nextInt(alpha.length))))
      sb.toString
    }
    /** 10,000 docs of 60 words drawn zipf-ish from `vocab` (low ranks
      * favored), pinned. */
    def docs(spark: SparkSession, vocab: Array[String]): DataFrame = {
      import spark.implicits._
      (0 until NDocs).map { i =>
        (i.toLong, (0 until WordsPerDoc).map { _ =>
          val u = nextInt(vocab.length)
          vocab(nextInt(u + 1))
        }.mkString(" "))
      }.toDF("doc_id", "text").localCheckpoint(true)
    }
  }
  private val NDocs = 10000
  private val WordsPerDoc = 60

  /** The 1000-merge training corpus: ~4000 distinct 8-12 char words over
    * a 12-letter alphabet. Returns the generator too, so a later phase can
    * continue its sequence. */
  private def trainingCorpus(spark: SparkSession): (DataFrame, Lcg) = {
    val rng = new Lcg
    val vocab = rng.vocab(4000, "abcdefghijkl")
    (rng.docs(spark, vocab), rng)
  }

  /** Driver-side greedy BPE over a distinct-word vocabulary (uniform
    * weights): repeatedly merge the highest-count adjacent symbol pair,
    * ties to the lexicographically smallest (left, right) — the same
    * selection rule as BpeTrainer, evaluated in memory so a 30k-rank
    * table trains in seconds instead of hours. Counts are maintained
    * incrementally per touched word; the max is a lazily-invalidated
    * priority queue. A candidate whose merged string was already produced
    * is skipped (real vocabularies have unique entries — and this keeps
    * the funnel preconditions intact for the fast path). */
  private[graft] def trainInMemory(vocab: Array[String], steps: Int)
      : Seq[BpeTrainer.Merge] = {
    import scala.collection.mutable
    val words: Array[mutable.ArrayBuffer[String]] =
      vocab.map(w => mutable.ArrayBuffer(w.map(_.toString): _*))
    val counts = mutable.HashMap[(String, String), Long]().withDefaultValue(0L)
    val holders = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    val touched = mutable.HashSet[(String, String)]()
    def addWordPairs(wi: Int, delta: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        counts(p) = counts(p) + delta
        touched += p
        if (delta > 0) holders.getOrElseUpdate(p, mutable.HashSet[Int]()) += wi
        i += 1
      }
    }
    words.indices.foreach(addWordPairs(_, 1L))
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = b._2.compareTo(a._2) // reverse: smaller lex wins ties
          if (l != 0) l else b._3.compareTo(a._3)
        }
      }
    }
    val pq = mutable.PriorityQueue[(Long, String, String)]()(ord)
    counts.foreach { case ((l, r), c) => pq.enqueue((c, l, r)) }
    val produced = mutable.HashSet[String]()
    val done = mutable.HashSet[(String, String)]()
    val out = mutable.ArrayBuffer[BpeTrainer.Merge]()
    while (out.length < steps && pq.nonEmpty) {
      val (c, l, r) = pq.dequeue()
      val p = (l, r)
      if (!done(p) && c > 0 && counts(p) == c) {
        val m = l + r
        if (produced.contains(m)) done += p // unique-vocab skip
        else {
          produced += m
          done += p
          out += BpeTrainer.Merge(out.length + 1L, l, r, m, c)
          touched.clear()
          holders.getOrElse(p, mutable.HashSet.empty).foreach { wi =>
            val s = words(wi)
            var has = false
            var i = 0
            while (i < s.length - 1 && !has) {
              if (s(i) == l && s(i + 1) == r) has = true
              i += 1
            }
            if (has) { // holder sets are lazily stale — verify first
              addWordPairs(wi, -1L)
              val ns = mutable.ArrayBuffer[String]()
              var j = 0
              while (j < s.length) {
                if (j < s.length - 1 && s(j) == l && s(j + 1) == r) {
                  ns += m; j += 2
                } else { ns += s(j); j += 1 }
              }
              words(wi) = ns
              addWordPairs(wi, 1L)
            }
          }
          touched.foreach { tp =>
            val tc = counts(tp)
            if (tc > 0 && !done(tp)) pq.enqueue((tc, tp._1, tp._2))
          }
        }
      }
    }
    out.toSeq
  }

  /** BPE APPLICATION: train >= 1000 real merges, then apply the table
    * corpus-wide two ways —
    *  - `expr`: the `BpeEncode` expression, ONE plan node carrying the
    *    whole table: plan and execution time flat in the merge count;
    *  - `lit`: the definitional nested-replace chain, whose plan work grows
    *    with the merge count (executed to 250; planned only at 500/1000).
    * A second phase takes the expression to production vocabulary: a
    * 30k-rank table, driver-trained in memory over a 12k-word vocabulary
    * (the same greedy rule, so the funnel preconditions hold and the fast
    * path runs), with plan time at rank 10 vs 30k and encode throughput. */
  private def applyScale(ctx: Ctx): ObjectNode = {
    import ctx._
    val (docs, rng) = trainingCorpus(spark)
    val nWords = NDocs.toLong * WordsPerDoc
    val train = timed(BpeTrainer.train(docs, 1000))
    val merges = train.value
    require(merges.size >= 1000, s"corpus exhausted at ${merges.size} merges")

    /** Median planning time, and median execution time of the planned
      * frame (None: planning only). */
    def planAndRun(k: Int, execute: Boolean)(mk: () => DataFrame) = {
      val plan = median(reps)(mk().queryExecution.executedPlan)
      val exec = if (!execute) None else {
        var df: DataFrame = null
        Some(median(reps, before = { df = mk(); df.queryExecution.executedPlan })(
          df.agg(sum(col("n_subwords"))).collect()))
      }
      (k, plan, exec)
    }
    def named(tag: String, rs: Seq[(Int, Measured[Any], Option[Measured[Any]])]) =
      rs.map { case (k, plan, exec) =>
        s"${tag}_$k" -> obj("plan_sec" -> plan, "exec_sec" -> exec.orNull)
      }
    val expr = Seq(10, merges.size).map(k => planAndRun(k, execute = true)(
      () => BpeTrainer.subwordCounts(docs, merges.take(k))))
    val literal = Seq(10, 100, 250, 500, 1000).map(k => planAndRun(k, execute = k <= 250)(
      () => BpeTrainer.subwordCountsLiteral(docs, merges.take(k))))

    val bigVocab = rng.vocab(12000, "abcdefghijklmnop").distinct
    val bigTrain = timed(trainInMemory(bigVocab, 30000))
    val bigMerges = bigTrain.value
    require(bigMerges.size >= 30000,
      s"synthetic vocabulary exhausted at ${bigMerges.size} merges")
    require(new graft.functions.expressions.BpeEncode.MergeTable(
        bigMerges.map(m => (m.left_sym, m.right_sym))).fastPathOk,
      "driver-trained table must satisfy the funnel preconditions")
    val bigDocs = rng.docs(spark, bigVocab)
    val big = Seq(10, bigMerges.size).map(k => planAndRun(k, execute = true)(
      () => BpeTrainer.subwordCounts(bigDocs, bigMerges.take(k))))
    obj(Seq("metric" -> "bpe_apply_scale", "unit" -> "sec", "merges" -> merges.size,
      "train_sec" -> train.sec, "corpus_words" -> nWords) ++
      named("expr", expr) ++ named("lit", literal) ++
      Seq("big_merges" -> bigMerges.size, "big_train_sec" -> bigTrain.sec) ++
      named("big_expr", big) ++
      Seq("big_words_per_sec" -> math.round(nWords / big.last._3.get.sec)): _*)
  }

  /** BATCHED-PASS BPE training: the same 1000 merges over [[applyScale]]'s
    * corpus serially (batchTop 1) and batched at widths 8 and 32. The
    * merge lists are REQUIRED identical (the batch selector preserves
    * equivalence; `BpeBatchSpec` proves the rules), and the record holds
    * walls plus PASS counts (one argmax collect + one pair-table fold
    * each), the quantity batching divides. */
  private def batchScale(ctx: Ctx): ObjectNode = {
    val (docs, _) = trainingCorpus(ctx.spark)
    val steps = 1000
    def run(b: Int) = {
      val m = timed(BpeTrainer.train(docs, steps, batchTop = b))
      (m, BpeTrainer.lastPasses.get())
    }
    val (serial, serialPasses) = run(1)
    require(serial.value.size == steps, s"corpus exhausted at ${serial.value.size}")
    val batched = Seq(8, 32).map { b =>
      val (m, passes) = run(b)
      require(m.value == serial.value,
        s"batchTop=$b merge list diverged from serial — equivalence broken")
      s"batch_$b" -> obj("sec" -> m, "passes" -> passes)
    }
    obj(Seq("metric" -> "bpe_batch_scale", "unit" -> "sec", "merges" -> steps,
      "corpus_words" -> NDocs.toLong * WordsPerDoc,
      "serial" -> obj("sec" -> serial, "passes" -> serialPasses)) ++ batched ++
      Seq("merge_lists_identical" -> true): _*)
  }

  /** The BPE trainer on the hostile vocabulary of the dedup sidecar's
    * corpus (`scaledDocs` interleaves a unique token after every filler
    * word, ~50x the vocabulary): 10 merges, the attribution of that
    * sidecar's q108 number. */
  private def hostile(ctx: Ctx): ObjectNode = {
    import ctx._
    val docs = scaledDocs(Tables.documents(spark, sfDir), copies)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val m = median(reps, before = spark.catalog.clearCache())(
      BpeTrainer.train(Tables.parallel(docs), 10))
    obj("metric" -> "bpe_hostile_scale", "unit" -> "sec", "docs" -> docs.count(),
      "merges" -> m.value.size, "sec" -> m)
  }

  val specs: Seq[Spec] = Seq(
    Spec("bpe_apply", "BENCH_sf1_bpe_apply", None, Nil, applyScale),
    Spec("bpe_batch", "BENCH_sf1_bpe_batch", None, Nil, batchScale),
    Spec("bpe_hostile", "BENCH_sf1_bpe_hostile", Some(10), Nil, hostile))
}
