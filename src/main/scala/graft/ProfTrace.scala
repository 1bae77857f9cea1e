package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Scratch job-trace profiler (NOT a bench surface): runs the q211/q212/
  * q201/q213 store lifecycles with a listener that prints every Spark job's
  * wall clock and first-stage name, interleaved with the operators' phase
  * profilers — the attribution tool for the job-count work (guide §1.5/
  * r13-verdict item 1). */
object ProfTrace {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.create()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val taskN = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts.put(j.jobId, (System.nanoTime(), s"${j.stageIds.length} stages"))
        j.stageIds.foreach(s => jobOfStage.put(s, j.jobId))
        j.stageInfos.foreach(si => stageNames.put(si.stageId, si.name.take(60)))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val j = jobOfStage.getOrDefault(t.stageId, -1)
        if (j >= 0 && t.taskMetrics != null) {
          taskMs.computeIfAbsent(j, _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(t.taskMetrics.executorRunTime)
          taskN.computeIfAbsent(j, _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(1L)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, st) = starts.getOrDefault(e.jobId, (0L, "?"))
        val tm = Option(taskMs.get(e.jobId)).map(_.get()).getOrElse(0L)
        val tn = Option(taskN.get(e.jobId)).map(_.get()).getOrElse(0L)
        println(f"JOB ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  " +
          f"taskSum=$tm%6d ms  nTasks=$tn%4d  $st")
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo; val m = si.taskMetrics
        if (m != null)
          println(f"  STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"run=${m.executorRunTime}%6d deser=${m.executorDeserializeTime}%5d " +
            f"gc=${m.jvmGCTime}%5d cpu=${m.executorCpuTime / 1000000}%6d " +
            f"${si.name.take(70)}")
      }
    })
    def timed(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"PHASE $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val which = if (args.isEmpty) "q211" else args(0)

    // one untimed warmup of the same shape, then the traced run
    def runQ211(): Unit = {
      val root = java.nio.file.Files.createTempDirectory("trace211").toString
      val docs = Tables.parallel(Tables.documents(spark, d))
      Seq(1L, 2L, 0L).foreach { k =>
        timed(s"ingest k=$k") {
          graft.operators.IncrementalSubstr.ingest(spark, root, docs,
            docs.filter(pmod(col("doc_id"), lit(3L)) === k),
            maintainBloom = false)
        }
      }
      timed("report")(graft.operators.IncrementalSubstr.report(spark, root)
        .orderBy(col("doc_id")).count())
    }
    def runQ212(): Unit = {
      val root = java.nio.file.Files.createTempDirectory("trace212").toString
      val docs = Tables.parallel(Tables.documents(spark, d))
      val store = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      Seq(1L, 0L).foreach { k =>
        timed(s"ingest k=$k") {
          graft.operators.IncrementalSubstr.ingest(spark, root, store,
            store.filter(pmod(col("doc_id"), lit(2L)) === k))
        }
      }
      timed("probe")(graft.operators.IncrementalSubstr
        .probe(spark, root, docs.filter(pmod(col("doc_id"), lit(7L)) === 0L))
        .orderBy(col("doc_id")).count())
    }
    def runQ201(): Unit = {
      val root = java.nio.file.Files.createTempDirectory("trace201").toString
      val docs = Tables.documents(spark, d)
      val v1 = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      timed("ingest 1")(graft.operators.IncrementalSplit.ingest(spark, root, v1, v1,
        maintainIndex = true))
      timed("ingest 2")(graft.operators.IncrementalSplit.ingest(spark, root, docs, delta,
        maintainIndex = true))
      timed("assignments")(graft.operators.IncrementalSplit
        .assignments(spark, root, docs.select(col("doc_id"))).count())
    }
    def runQ213(): Unit = {
      val root = java.nio.file.Files.createTempDirectory("trace213").toString
      val docs = Tables.documents(spark, d)
      (0 until 3).foreach { i =>
        timed(s"ingest $i")(graft.operators.InvIndex.ingest(spark, root,
          docs.filter(col("doc_id") % 3 === i), i.toLong))
      }
      timed("stats")(graft.operators.InvIndex.stats(spark, root)
        .orderBy(col("word")).count())
    }
    def runWexp(): Unit = {
      val docs = Tables.parallel(Tables.documents(spark, d))
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      timed("windows explode (noop)")(
        noop(graft.operators.IncrementalSubstr.windows(docs)))
      timed("windows + xxhash (noop)")(
        noop(graft.operators.IncrementalSubstr.windows(docs)
          .select(col("doc_id"), col("p"), xxhash64(col("w")).as("h"))))
      timed("windows + groupBy(w) (noop)")(
        noop(graft.operators.IncrementalSubstr.windows(docs)
          .groupBy("w").agg(count(lit(1)).as("n"))))
      timed("bare scan (noop)")(noop(docs))
    }
    val run: () => Unit = which match {
      case "q211" => runQ211 _
      case "q212" => runQ212 _
      case "q201" => runQ201 _
      case "q213" => runQ213 _
      case "wexp" => runWexp _
      case other => sys.error(s"unknown trace target $other")
    }
    println(s"=== warmup $which ===")
    run()
    MemoRegistry.resetAll(); spark.catalog.clearCache()
    println(s"=== traced $which ===")
    run()
    spark.stop()
  }
}
