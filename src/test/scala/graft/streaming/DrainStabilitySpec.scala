package graft.streaming

import graft.SparkSpec
import graft.operators.{MergeSpec, PartitionedStore}
import graft.plans.QueryMetrics
import graft.replicators.Replicators
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The fixed costs a drain pays again must not come back: back-to-back
  * AvailableNow drains of the partitioned stream run their batches under
  * the caller's session (one executor classloader, so the codegen cache
  * hits), and a store read is one manifest-backed scan (no schema-inference
  * job, the same plan shape however many epochs are live). */
class DrainStabilitySpec extends SparkSpec {
  import spark.implicits._

  private val spec = Replicators.stripeChargeV1Partitioned

  private def charge(id: String, amount: Int, created: Long) =
    s"""{"id":"$id","object":"charge","amount":$amount,"created":$created,"status":"ok"}"""
  private def event(resource: String, created: Long, seq: Long) = {
    val body = s"""{"object":"event","created":$created,"data":{"object":$resource}}"""
      .replace("\"", "\\\"")
    s"""{"body":"$body","headers":{},"path":"/v1","method":"POST","__ingest_seq":$seq}"""
  }

  /** The RDD names of every job that starts while `f` runs, per job. */
  private def jobsDuring[A](f: => A): (A, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.stageInfos.flatMap(_.rddInfos.map(_.name)))
    }
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.GraftListenerBridge.drainListeners(sc)
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("the third back-to-back drain compiles no codegen class and infers no schema") {
    val dir = Files.createTempDirectory("drain-stability").toString
    val src = s"$dir/landing"; Files.createDirectories(Paths.get(src))
    val table = s"$dir/table"
    def drain(i: Int): Unit = {
      // each drain: 20 keys, half of them seen by the drain before
      Files.writeString(Paths.get(src, s"req-$i.json"), (0 until 20).map { j =>
        val k = i * 10 + j
        event(charge(s"ch_$k", 100 * i + j, 1000L * i + j), 1000L * i + j, 100L * i + j)
      }.mkString("\n"))
      WebhookStream.startPartitioned(spark, spec, src, table, s"$dir/chk", buckets = 4)
        .awaitTermination()
    }
    drain(1)
    drain(2)
    val ((_, third), jobs) = jobsDuring(QueryMetrics.measureAction(spark)(drain(3)))
    assert(third.codegenClasses == 0, QueryMetrics.render(third))
    assert(jobs.nonEmpty)
    // a parquet footer-inference job is a parallelized file list
    assert(!jobs.exists(_.contains("ParallelCollectionRDD")), jobs.mkString("\n"))
    val stored = PartitionedStore.read(spark, table).select("stripe_id", "amount")
      .as[(String, Long)].collect().toMap
    assert(stored.size == 40)
    assert(stored("ch_30") == 300L && stored("ch_29") == 209L && stored("ch_10") == 100L)
  }

  test("a read over three live epochs is one scan, and a bucket filter prunes it") {
    val dir = Files.createTempDirectory("one-scan").toString
    val mspec = MergeSpec(keyCols = Seq("k"), orderCol = "__ingest_seq")
    def rows(ks: Seq[Int], v: Long) = ks.map(k => (s"key$k", v, 0L)).toDF("k", "v", "__ingest_seq")
    PartitionedStore.write(rows(0 until 40, 1L), dir, "k", 8)
    // two single-key merges: each re-owns one bucket under a new epoch
    Seq("key3", "key5").foreach { k =>
      PartitionedStore.mergeInto(spark, dir, Seq((k, 2L, 1L)).toDF("k", "v", "__ingest_seq"),
        mspec, "k", 8)
    }
    assert(PartitionedStore.currentManifest(dir).get.epochDirs.size >= 3)
    val all = PartitionedStore.read(spark, dir)
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans(all).size == 1)
    assert(all.count() == 40 && all.where($"v" === 2L).count() == 2)
    val bucket = all.where($"k" === "key3").select(PartitionedStore.BucketCol).as[Int].head()
    val one = all.where(col(PartitionedStore.BucketCol) === bucket)
    val scan = scans(one).head
    assert(scan.metadata("PartitionFilters").contains(PartitionedStore.BucketCol))
    assert(scan.selectedPartitions.partitionCount == 1)
    assert(one.where($"k" === "key3").select("v").as[Long].head() == 2L)
  }
}
