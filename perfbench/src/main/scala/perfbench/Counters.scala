package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Engine-wide work counters, summed over task ends. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    cpuMs: Long = 0, gcMs: Long = 0, deserializeMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0,
    outputRows: Long = 0, outputBytes: Long = 0,
    codegenMs: Double = 0, codegenClasses: Long = 0) {

  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuMs - o.cpuMs, gcMs - o.gcMs, deserializeMs - o.deserializeMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes, outputRows - o.outputRows,
    outputBytes - o.outputBytes,
    codegenMs - o.codegenMs, codegenClasses - o.codegenClasses)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "deserialize_ms" -> deserializeMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "output_rows" -> outputRows, "output_bytes" -> outputBytes,
    "codegen_compile_ms" -> codegenMs, "codegen_classes" -> codegenClasses)
}

/** A benchmark-owned listener: counts every job, stage and task of the
  * context. */
final class EngineListener extends SparkListener {
  private val total = new AtomicWork

  override def onJobStart(j: SparkListenerJobStart): Unit = total.jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = total.stages.incrementAndGet()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) total.add(t.taskMetrics)

  def snapshot: Work = total.get
}

private final class AtomicWork {
  val jobs, stages, tasks, taskMs, cpuNs, gcMs, deser, shR, shW, spill, in, outR, outB =
    new AtomicLong(0)
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    taskMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    deser.addAndGet(m.executorDeserializeTime)
    shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    in.addAndGet(m.inputMetrics.bytesRead)
    outR.addAndGet(m.outputMetrics.recordsWritten)
    outB.addAndGet(m.outputMetrics.bytesWritten)
  }
  def get: Work = Work(jobs.get, stages.get, tasks.get, taskMs.get, cpuNs.get / 1000000L,
    gcMs.get, deser.get, shR.get, shW.get, spill.get, in.get, outR.get, outB.get)
}

/** Whole-stage codegen cost from Spark's own `CodegenMetrics` histograms.
  * They are JVM-wide; the compile-time histogram keeps every sample while
  * fewer than its reservoir size (1028) have been taken, so the sum is
  * exact below that and scaled from the retained sample above it. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot: (Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val vals = h.getSnapshot.getValues
    val n = h.getCount
    val sum = if (vals.isEmpty) 0.0 else vals.map(_.toDouble).sum * n / vals.length
    (sum, CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }
}

/** Engine counters sampled at operation boundaries: Spark work from the
  * listener (after draining the listener bus), codegen and JVM GC. */
final class Counters(spark: SparkSession) {
  val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit = org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)

  /** Context-wide work so far (listener bus drained first). */
  def now: Work = {
    drain()
    val (cgMs, cgN) = Codegen.snapshot
    listener.snapshot.copy(codegenMs = cgMs, codegenClasses = cgN)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** JVM heap and GC, from the platform MXBeans. Two heap figures: the peak
  * heap still in use right after a collection over the watched interval,
  * and the live heap after a full collection at its end. Both leave out
  * the garbage a raw used-heap peak would show, whose amount is the
  * collector's choice; the first still depends on when old-generation
  * collections happen to run, the second does not. */
final class JvmWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  /** Heap in use after a full collection. The second collection runs
    * after Spark's context cleaner has had a moment to drop the blocks
    * (broadcasts, shuffles) whose owners the first one found unreachable. */
  private def liveNow: Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def start(): Unit = {
    peak.set(0)
    emitters.foreach(_.addNotificationListener(listener, null, null))
  }

  /** Stop watching; returns (peak retained heap, live heap now) in MB. */
  def stop(): (Double, Double) = {
    val live = liveNow
    peak.accumulateAndGet(live, math.max)
    emitters.foreach(e => try e.removeNotificationListener(listener)
      catch { case _: javax.management.ListenerNotFoundException => () })
    (peak.get / 1048576.0, live / 1048576.0)
  }
}
