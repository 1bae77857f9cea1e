package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution metrics for one query run — the observability surface an
  * operator of a shared 100 TB engine needs next to the admission gates in
  * [[ReadonlyGuard]]: how much was actually read, shuffled, and spilled,
  * so per-org cost attribution and regression alarms have numbers instead
  * of plans.
  *
  * Attribution is real, not best-effort: the measured action runs with a
  * local property of its own set to a fresh id, the listener collects the
  * stage ids of exactly the jobs carrying that id, and only task-ends from
  * those stages are summed — concurrent queries on the same SparkContext
  * (other orgs, other suites) do not contaminate the numbers. The property
  * is not the job group: a Structured Streaming query's thread inherits the
  * property from the thread that starts the query, and each microbatch's
  * `setJobGroup(runId)` leaves it alone, so the microbatches of a query
  * started inside the measured action count toward it. A query started on
  * a thread that existed before the measurement does not.
  *
  * Besides the bytes, the same listener counts the run's layers: the jobs
  * started, the stages completed (a stage skipped because its shuffle
  * output was reused is not counted) and the tasks ended, with the tasks'
  * summed run time, CPU time, GC time and deserialize time. Task time far
  * above CPU time points at waiting (codegen compiles, locks, IO), not
  * computing; deserialize time is the per-task cost of loading the task's
  * closure and classes.
  *
  * `codegenClasses` and `codegenMs` are the classes Spark generated
  * (`CodegenMetrics`) and the time its code generator spent compiling
  * during the action. Both counters are JVM-wide: a compile by a
  * concurrent query counts too, so they are exact only for an action that
  * runs alone.
  *
  * Nesting: the caller's value of the property is restored afterwards, so
  * an outer measurement keeps counting the jobs that run after an inner one
  * returns. Jobs of the inner action count toward the inner one only. The
  * caller's job group is left as it is.
  */
object QueryMetrics {

  final case class Metrics(
      inputBytes: Long, inputRecords: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      resultRows: Long, wallMs: Long,
      jobs: Long, stages: Long, tasks: Long,
      taskTimeMs: Long, cpuMs: Long, gcMs: Long,
      deserializeMs: Long, codegenClasses: Long, codegenMs: Long)

  /** The local property that tags the jobs of one measurement. */
  private val MeasureKey = "graft.metrics.id"

  /** (classes generated, compile ns) so far in this JVM. The compile time
    * is the code generator's own exact counter: `CodegenMetrics` keeps it
    * only as a sampled histogram, whose scaled sum is not monotonic once
    * the sample is full. */
  private def codegenSoFar: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private val idCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `df.count()` under a metrics listener and return what it cost.
    * For metering a query you are also serving, prefer [[measureAction]] —
    * count()'s column-pruned plan can read far fewer bytes than the real
    * collect, and running both doubles the work. */
  def measure(df: DataFrame): Metrics = {
    val (rows, m) = measureAction(df.sparkSession)(df.count())
    m.copy(resultRows = rows)
  }

  /** Run an arbitrary Spark `action` under a metrics listener and return its
    * result together with what that exact execution cost. This is the real
    * attribution path: one execution, metered as served — not a side count()
    * whose pruned plan under-reports input bytes. `resultRows` is 0 (the
    * action's result is opaque here); callers that know their row count set
    * it via `copy`. */
  def measureAction[A](spark: SparkSession)(action: => A): (A, Metrics) = {
    val sc = spark.sparkContext
    val id = s"graft-metrics-${idCounter.incrementAndGet()}"
    val myStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    var input = 0L; var records = 0L
    var sw = 0L; var sr = 0L; var memSpill = 0L; var diskSpill = 0L
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty(MeasureKey) == id)) synchronized {
          jobs += 1
          j.stageIds.foreach(s => myStages.add(s))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (myStages.contains(s.stageInfo.stageId)) synchronized { stages += 1 }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && myStages.contains(t.stageId)) synchronized {
          input += m.inputMetrics.bytesRead
          records += m.inputMetrics.recordsRead
          sw += m.shuffleWriteMetrics.bytesWritten
          sr += m.shuffleReadMetrics.totalBytesRead
          memSpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
          tasks += 1
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          deserMs += m.executorDeserializeTime
        }
      }
    }
    sc.addSparkListener(listener)
    val caller = sc.getLocalProperty(MeasureKey)
    val (classes0, compileNs0) = codegenSoFar
    val t0 = System.nanoTime()
    try {
      sc.setLocalProperty(MeasureKey, id)
      val result = try action finally sc.setLocalProperty(MeasureKey, caller)
      // listener events are posted asynchronously; drain before reading
      org.apache.spark.GraftListenerBridge.drainListeners(sc)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val (classes1, compileNs1) = codegenSoFar
      val m = listener.synchronized {
        Metrics(input, records, sw, sr, memSpill, diskSpill, 0L, wallMs,
          jobs, stages, tasks, runMs, cpuNs / 1000000L, gcMs,
          deserMs, classes1 - classes0, (compileNs1 - compileNs0) / 1000000L)
      }
      (result, m)
    } finally sc.removeSparkListener(listener)
  }

  /** Human-oriented one-liner (ops logs, the reference's admin diag style). */
  def render(m: Metrics): String =
    f"rows=${m.resultRows} wall=${m.wallMs}ms read=${m.inputBytes}B/" +
      f"${m.inputRecords}rec shuffle=${m.shuffleWriteBytes}B/w+${m.shuffleReadBytes}B/r " +
      f"spill=${m.memorySpillBytes}+${m.diskSpillBytes}B " +
      f"jobs=${m.jobs} stages=${m.stages} tasks=${m.tasks} " +
      f"task=${m.taskTimeMs}ms cpu=${m.cpuMs}ms gc=${m.gcMs}ms " +
      f"deser=${m.deserializeMs}ms codegen=${m.codegenClasses}/${m.codegenMs}ms"
}
