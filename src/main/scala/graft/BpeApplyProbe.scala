package graft

import graft.operators.BpeTrainer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for BPE tokenizer APPLICATION at production merge
  * counts: trains >= 1000 real merges on a synthetic corpus whose vocabulary
  * is rich enough to sustain them, then applies the learned table corpus-wide
  * two ways:
  *
  *  - `expr`: the `BpeEncode` expression — ONE plan node carrying the whole
  *    table; plan-build time and execution wall must be flat in the merge
  *    count (measured at 10 vs the full table);
  *  - `literal`: the definitional nested-replace chain — plan work grows
  *    with the merge count (measured at 10/100/250; planning only at
  *    500/1000, where execution is no longer a reasonable plan).
  *
  * The vocabulary is deterministic (fixed LCG): ~4000 distinct 8-12 char
  * words over a 12-letter alphabet, zipf-ish document sampling, so adjacent-
  * pair statistics stay deep enough for 1000+ merges.
  *
  * A second phase pushes the expression to PRODUCTION vocabulary size: a
  * 30k-rank merge table (driver-trained in memory over a 12k-word
  * vocabulary — same greedy selection rule, so the funnel preconditions
  * hold and the fast path runs) applied corpus-wide, recording plan time
  * at rank 10 vs 30k (must stay flat — one expression node either way)
  * and encode throughput in words/sec against the full table.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_bpe_apply.json` in the cwd.
  */
object BpeApplyProbe {

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

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.create()
    import spark.implicits._

    // deterministic synthetic corpus ------------------------------------
    var seed = 0x2545f4914f6cdd1dL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val alpha = "abcdefghijkl"
    val vocab = Array.tabulate(4000) { _ =>
      val len = 8 + nextInt(5)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(alpha(nextInt(alpha.length))))
      sb.toString
    }
    def zipfWord(): String = {
      // bias toward low ranks: square the uniform draw
      val u = nextInt(vocab.length)
      vocab(nextInt(u + 1))
    }
    val nDocs = 10000
    val wordsPerDoc = 60
    val docs = (0 until nDocs).map { i =>
      (i.toLong, (0 until wordsPerDoc).map(_ => zipfWord()).mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint(true)
    val nWords = nDocs.toLong * wordsPerDoc

    // train ---------------------------------------------------------------
    val tTrain0 = System.nanoTime()
    val merges = BpeTrainer.train(docs, 1000)
    val trainSec = (System.nanoTime() - tTrain0) / 1e9
    println(s"trained ${merges.size} merges in $trainSec s")
    require(merges.size >= 1000, s"corpus exhausted at ${merges.size} merges")

    // measurement helpers -------------------------------------------------
    def planAndRun(mk: () => DataFrame, execute: Boolean): (Double, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = mk()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val tPlan = (System.nanoTime() - t0) / 1e9
      val tExec = if (execute) {
        val t1 = System.nanoTime()
        df.agg(sum(col("n_subwords"))).collect()
        (System.nanoTime() - t1) / 1e9
      } else -1d
      (tPlan, tExec)
    }
    def med(f: () => (Double, Double)): (Double, Double) = {
      val runs = Seq(f(), f(), f())
      (runs.map(_._1).sorted.apply(1), runs.map(_._2).sorted.apply(1))
    }

    val exprRounds = Seq(10, merges.size).map { k =>
      val (p, e) = med(() =>
        planAndRun(() => BpeTrainer.subwordCounts(docs, merges.take(k)), execute = true))
      (k, p, e)
    }
    val litExec = Seq(10, 100, 250).map { k =>
      val (p, e) = med(() =>
        planAndRun(() => BpeTrainer.subwordCountsLiteral(docs, merges.take(k)), execute = true))
      (k, p, e)
    }
    val litPlanOnly = Seq(500, 1000).map { k =>
      val (p, _) = med(() =>
        planAndRun(() => BpeTrainer.subwordCountsLiteral(docs, merges.take(k)), execute = false))
      (k, p, -1d)
    }

    // production-vocabulary phase: a 30k-rank merge table ----------------
    // Training 30k merges through the Spark loop would take hours, so the
    // table is trained by an in-memory driver-side BPE over a synthetic
    // 12k-word vocabulary (the same greedy max-pair/lex-tie algorithm, so
    // the result is a REAL valid table: sides are chars or earlier
    // outputs, merged strings unique, no duplicate pairs — the funnel
    // preconditions hold and the expression takes its fast path, verified
    // below). The claims at this scale: plan time FLAT at rank 10 vs 30k
    // (one expression node either way) and corpus-wide encode throughput
    // in words/sec against the full table.
    val bigAlpha = "abcdefghijklmnop"
    val bigVocab = Array.tabulate(12000) { _ =>
      val len = 8 + nextInt(5)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(bigAlpha(nextInt(bigAlpha.length))))
      sb.toString
    }.distinct
    val tBig0 = System.nanoTime()
    val bigMerges = trainInMemory(bigVocab, 30000)
    val bigTrainSec = (System.nanoTime() - tBig0) / 1e9
    require(bigMerges.size >= 30000,
      s"synthetic vocabulary exhausted at ${bigMerges.size} merges")
    val bigPairs = bigMerges.map(m => (m.left_sym, m.right_sym))
    require(new graft.functions.expressions.BpeEncode.MergeTable(bigPairs).fastPathOk,
      "driver-trained table must satisfy the funnel preconditions")
    val bigDocs = (0 until nDocs).map { i =>
      (i.toLong, (0 until wordsPerDoc).map { _ =>
        val u = nextInt(bigVocab.length)
        bigVocab(nextInt(u + 1))
      }.mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint(true)
    val bigRounds = Seq(10, bigMerges.size).map { k =>
      val (p, e) = med(() =>
        planAndRun(() => BpeTrainer.subwordCounts(bigDocs, bigMerges.take(k)),
          execute = true))
      (k, p, e)
    }
    val bigThroughput = nWords / bigRounds.last._3

    import ScaleCorpus.fmt
    def part(tag: String, rs: Seq[(Int, Double, Double)]) = rs.map { case (k, p, e) =>
      val exec = if (e < 0) "null" else fmt(e)
      s""""${tag}_$k":{"plan_sec":${fmt(p)},"exec_sec":$exec}"""
    }.mkString(",")
    val line =
      s"""{"metric":"bpe_apply_scale","unit":"sec","merges":${merges.size},"train_sec":${fmt(trainSec)},"corpus_words":$nWords,${part("expr", exprRounds)},${part("lit", litExec ++ litPlanOnly)},"big_merges":${bigMerges.size},"big_train_sec":${fmt(bigTrainSec)},${part("big_expr", bigRounds)},"big_words_per_sec":${math.round(bigThroughput)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_bpe_apply.json"),
      (line + "\n").getBytes)
    println(line)
    spark.stop()
  }
}
