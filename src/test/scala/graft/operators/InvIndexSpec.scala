package graft.operators

import graft.{SparkSpec, Tables}
import graft.plans.QueryMetrics
import graft.queries.PipelineQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The persisted inverted index must equal the batch legs bit-for-bit
  * (stats == q181, search == q183), prune its reads to the query's
  * buckets, reject the contract violations before mutating, and stay
  * exact under replayed / content-changing redeliveries (the
  * marker-commit protocol's whole point). */
class InvIndexSpec extends SparkSpec {
  import spark.implicits._

  private def root() =
    java.nio.file.Files.createTempDirectory("invidxspec").toString

  // explicit width 64: the pruning-claim gate below needs enough buckets
  // for a one-term read to be a small slice at spec scale (the default
  // delta-sized geometry correctly picks a handful of buckets for a
  // KB-scale corpus, where pruning has nothing to buy)
  private def ingestThirds(r: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
    (0 until 3).foreach { i =>
      InvIndex.ingest(spark, r, docs.filter(col("doc_id") % 3 === i), i.toLong,
        buckets = 64)
    }
  }

  private def statRows(d: DataFrame): Seq[(String, Long, Long, Long)] =
    d.select(col("word"), col("df"), col("cf"), col("postings_sig"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  test("store-maintained stats equal the batch q181 index") {
    val r = root(); ingestThirds(r)
    assert(statRows(InvIndex.stats(spark, r)) ==
      statRows(PipelineQueries.q181(spark, sfDir)))
  }

  test("store-served BM25 equals the batch q183 ranking") {
    val r = root(); ingestThirds(r)
    val got = PipelineQueries.q214(spark, sfDir).collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    val want = PipelineQueries.q183(spark, sfDir).collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("driver-side bucket mirror equals the executor expression") {
    val words = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("word"))
      .distinct().limit(200)
    val mismatches = words
      .select(col("word"), InvIndex.bucketOfWord(col("word"), 64).as("b"))
      .collect()
      .filter(r => InvIndex.bucketOfWordDriver(r.getString(0), 64) != r.getInt(1))
    assert(mismatches.isEmpty,
      s"driver/executor bucket divergence: ${mismatches.take(3).mkString(",")}")
  }

  test("search reads a pruned slice of the postings, not the whole store") {
    val r = root(); ingestThirds(r)
    val fullRecords = spark.read.parquet(s"$r/post").count()
    val (_, m) = QueryMetrics.measureAction(spark) {
      InvIndex.search(spark, r, Seq("join"), 10).count()
    }
    // one term touches 1 of 64 buckets; dl + meta reads ride along, so
    // bound loosely at half
    assert(m.inputRecords < fullRecords / 2,
      s"search read ${m.inputRecords} of $fullRecords postings — pruning lost")
  }

  test("the query-term postings scan prunes partitions and pushes the word list") {
    val r = root(); ingestThirds(r)
    val plan = InvIndex.queryPostings(spark, r, Seq("join", "hash", "filter"),
      InvIndex.committedBatches(spark, r), 64).queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no parquet scan in\n$plan"))
    val partitionFilters = scan.metadata("PartitionFilters")
    assert(partitionFilters.contains("ingest_batch") &&
      partitionFilters.contains("bucket"), partitionFilters)
    assert(scan.metadata("PushedFilters").contains("In(word,"),
      scan.metadata("PushedFilters"))
  }

  test("hot-word skew: salted writes split the hot bucket, results identical") {
    // Zipfian head word: "hot" appears in EVERY doc, so its postings all
    // hash to ONE bucket at any modulus (the r13-verdict skew finding —
    // 64% of postings in 1 of 8 buckets); the tail words are unique. With
    // a forced writer spread the hot bucket's rows are written by several
    // tasks (multiple files under one bucket directory — no straggler
    // writer), every file stays word-sorted (so parquet min/max stats can
    // prune a co-bucketed innocent word's probe at scale), and the index
    // contents are IDENTICAL to the unsalted write.
    // isolated session with AQE partition coalescing OFF: at spec scale
    // AQE (correctly) coalesces the KB-sized salted shuffle back to one
    // task, which would hide the placement under test; at warehouse scale
    // the salted partitions exceed the advisory size and stay apart
    val sess = spark.newSession()
    sess.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val docs = sess.createDataFrame((0 until 400)
      .map(i => (i.toLong, s"hot t${i}a t${i}b t${i}c t${i}d")))
      .toDF("doc_id", "text")
    val salted = root(); InvIndex.ingest(sess, salted, docs, 0L, buckets = 8, spread = 4)
    val plain = root(); InvIndex.ingest(sess, plain, docs, 0L, buckets = 8)
    assert(statRows(InvIndex.stats(spark, salted)) ==
      statRows(InvIndex.stats(spark, plain)))
    val hotBucket = InvIndex.bucketOfWordDriver("hot", 8)
    def bucketFiles(r: String) =
      new java.io.File(s"$r/post/ingest_batch=0/bucket=$hotBucket")
        .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(bucketFiles(salted).length > 1,
      s"hot bucket still written by one task (${bucketFiles(salted).length} file)")
    // word-sorted within every file: the §6 sort that makes row-group
    // min/max prune hot-word bytes for innocent probes
    bucketFiles(salted).foreach { f =>
      val words = spark.read.parquet(f.getAbsolutePath)
        .select(col("word")).collect().map(_.getString(0))
      assert(words.sameElements(words.sorted), s"unsorted postings in $f")
    }
  }

  test("a doc_id committed under another batch is rejected before mutation") {
    val r = root()
    InvIndex.ingest(spark, r, Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text"), 0L)
    val before = statRows(InvIndex.stats(spark, r))
    val e = intercept[RuntimeException] {
      InvIndex.ingest(spark, r, Seq((2L, "delta")).toDF("doc_id", "text"), 1L)
    }
    assert(e.getMessage.contains("insert-only"))
    assert(statRows(InvIndex.stats(spark, r)) == before, "rejection mutated the store")
  }

  test("a replayed batch replaces its own partitions, never doubles them") {
    val r = root()
    val d = Seq((1L, "alpha beta alpha"), (2L, "beta")).toDF("doc_id", "text")
    InvIndex.ingest(spark, r, d, 0L)
    val once = statRows(InvIndex.stats(spark, r))
    InvIndex.ingest(spark, r, d, 0L) // crashed-attempt redelivery
    assert(statRows(InvIndex.stats(spark, r)) == once)
  }

  test("a content-CHANGING redelivery leaves no stale buckets behind") {
    val r = root()
    // v1 spreads words across many buckets; v2 uses different words, so
    // stale v1 buckets would surface as extra words in stats
    InvIndex.ingest(spark, r,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), 0L)
    InvIndex.ingest(spark, r, Seq((1L, "omega")).toDF("doc_id", "text"), 0L)
    val fresh = root()
    InvIndex.ingest(spark, fresh, Seq((1L, "omega")).toDF("doc_id", "text"), 0L)
    assert(statRows(InvIndex.stats(spark, r)) ==
      statRows(InvIndex.stats(spark, fresh)))
  }

  test("an uncommitted batch (crash before the marker) is invisible") {
    val r = root()
    InvIndex.ingest(spark, r, Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    InvIndex.ingest(spark, r, Seq((2L, "gamma")).toDF("doc_id", "text"), 1L)
    val committed = statRows(InvIndex.stats(spark, r))
    // simulate the crash window: batch 1's partitions landed but its
    // commit marker did not
    val p = new org.apache.hadoop.fs.Path(s"$r/meta/ingest_batch=1")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val onlyB0 = root()
    InvIndex.ingest(spark, onlyB0, Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    assert(statRows(InvIndex.stats(spark, r)) == statRows(InvIndex.stats(spark, onlyB0)))
    assert(statRows(InvIndex.stats(spark, r)) != committed)
    // and the healing move is a plain redelivery
    InvIndex.ingest(spark, r, Seq((2L, "gamma")).toDF("doc_id", "text"), 1L)
    assert(statRows(InvIndex.stats(spark, r)) == committed)
  }

  test("empty and conflicting deltas: no-op and loud rejection") {
    val r = root()
    InvIndex.ingest(spark, r, Seq((1L, "alpha")).toDF("doc_id", "text"), 0L)
    val before = statRows(InvIndex.stats(spark, r))
    InvIndex.ingest(spark, r,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 5L)
    assert(statRows(InvIndex.stats(spark, r)) == before)
    assert(InvIndex.committedBatches(spark, r) == Seq(0L),
      "an empty delta must not commit a batch")
    val e = intercept[RuntimeException] {
      InvIndex.ingest(spark, r,
        Seq((9L, "one text"), (9L, "another text")).toDF("doc_id", "text"), 2L)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("searching an empty or missing store answers empty, not an error") {
    val r = root()
    assert(InvIndex.search(spark, s"$r/nothere", Seq("join"), 5).count() == 0L)
    assert(InvIndex.stats(spark, s"$r/nothere").count() == 0L)
  }

  test("driver-side totals read equals the Spark meta aggregation") {
    val r = root(); ingestThirds(r)
    val committed = InvIndex.committedBatches(spark, r)
    val driver = InvIndex.totalsDriver(spark, r, committed)
    assert(driver.isDefined, "three tiny batches are inside the driver bound")
    val agg = spark.read.parquet(s"$r/meta")
      .filter(col("ingest_batch").isin(committed: _*))
      .agg(coalesce(sum(col("t")), lit(0L)), coalesce(sum(col("n")), lit(0L)))
      .head()
    assert(driver.get == ((agg.getLong(0), agg.getLong(1))))
    // past the bound the tier declines and the Spark aggregation stands
    assert(InvIndex.totalsDriver(spark, r,
      (0L to InvIndex.DriverMetaReadMaxBatches.toLong).toSeq).isEmpty)
    assert(InvIndex.totalsDriver(spark, r, Seq.empty) == Some((0L, 0L)))
  }
}
