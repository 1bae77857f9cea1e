package graft

import graft.operators.BpeTrainer

/** Scale-evidence sidecar for BATCHED-PASS BPE training — the measured
  * close of SCALE.md's standing lever ("batch non-interacting merges per
  * pass"). Trains the same 1000 merges over [[BpeApplyProbe]]'s exact
  * corpus (same LCG, same constants — walls comparable with
  * `BENCH_sf1_bpe_apply.json`'s train_sec) three ways: serial
  * (batchTop 1), and batched at widths 8 and 32. The merge lists are
  * REQUIRED identical (the batch selector is equivalence-preserving, not
  * an approximation — `BpeBatchSpec` proves the rules; this probe proves
  * them again at production depth), and the probe records walls plus the
  * actual PASS counts (one pass = one argmax collect + one pair-table
  * fold), the quantity batching exists to divide.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_bpe_batch.json` in the cwd.
  */
object BpeBatchProbe {

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.create()
    import spark.implicits._

    // BpeApplyProbe's deterministic corpus, verbatim
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
      val u = nextInt(vocab.length)
      vocab(nextInt(u + 1))
    }
    val nDocs = 10000
    val wordsPerDoc = 60
    val docs = (0 until nDocs).map { i =>
      (i.toLong, (0 until wordsPerDoc).map(_ => zipfWord()).mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint(true)

    val steps = 1000
    def run(b: Int): (Seq[BpeTrainer.Merge], Double, Int) = {
      val t0 = System.nanoTime()
      val m = BpeTrainer.train(docs, steps, batchTop = b)
      ((m, (System.nanoTime() - t0) / 1e9, BpeTrainer.lastPasses.get()))
    }
    val (serial, serialSec, serialPasses) = run(1)
    require(serial.size == steps, s"corpus exhausted at ${serial.size}")
    val batched = Seq(8, 32).map { b =>
      val (m, sec, passes) = run(b)
      require(m == serial,
        s"batchTop=$b merge list diverged from serial — equivalence broken")
      (b, sec, passes)
    }

    import ScaleCorpus.fmt
    val parts = batched.map { case (b, sec, p) =>
      s""""batch_$b":{"sec":${fmt(sec)},"passes":$p}""" }.mkString(",")
    val line =
      s"""{"metric":"bpe_batch_scale","unit":"sec","merges":$steps,"corpus_words":${nDocs.toLong * wordsPerDoc},"serial":{"sec":${fmt(serialSec)},"passes":$serialPasses},$parts,"merge_lists_identical":true}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_bpe_batch.json"),
      (line + "\n").getBytes)
    println(line)
    spark.stop()
  }
}
