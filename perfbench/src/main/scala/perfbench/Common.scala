package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one measured segment of a workload produced. `e2e` carries the
  * BENCHMARK.json end-to-end metrics, `named` the workload's own metrics
  * under their own names (value, unit), `layers` the per-layer metrics
  * this workload has. */
final case class Segment(
    e2e: Map[String, Double],
    named: Map[String, (Double, String)],
    layers: Map[String, Double],
    detail: Map[String, Any])

/** Outcome of the output checks, run once after every segment. */
final case class Checked(correct: Boolean, attempted: Long, failed: Long,
                         problems: Seq[String], named: Map[String, (Double, String)],
                         layers: Map[String, Double])

/** A workload: its tables loaded once, set-up (timed, repeated, each time
  * on a new session over the loaded tables), an untimed warm-up, measured
  * segments and the final output checks. `tracer` is the segment's. */
trait Workload {
  def load(spark: SparkSession, dir: Path): Unit = ()
  def setup(spark: SparkSession, dir: Path): Unit
  def teardown(): Unit = ()
  def warm(spark: SparkSession): Unit
  def segment(spark: SparkSession, seconds: Int, tracer: Tracer, counters: Counters): Segment
  def check(spark: SparkSession): Checked
}

object Files2 {
  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }

  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }

  def bytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)
}

/** Store-layer facts read from a committed partitioned table's files. */
object StoreFacts {
  import graft.operators.PartitionedStore

  /** Bytes of the parquet files the current manifest references. */
  def liveBytes(dir: Path): Long =
    PartitionedStore.currentManifest(dir.toString).map { m =>
      m.buckets.toSeq.map { case (b, e) =>
        Files2.bytes(dir.resolve(s"e$e/${PartitionedStore.BucketCol}=$b"))
      }.sum
    }.getOrElse(0L)

  def liveEpochs(dir: Path): Int =
    PartitionedStore.currentManifest(dir.toString).map(_.epochDirs.size).getOrElse(0)

  def manifestVersions(dir: Path): Int = PartitionedStore.versions(dir.toString).size

  /** Data files a read of the table lists: every file under a live bucket. */
  def liveFiles(dir: Path): Int =
    PartitionedStore.currentManifest(dir.toString).map { m =>
      m.buckets.toSeq.map { case (b, e) =>
        Files2.list(dir.resolve(s"e$e/${PartitionedStore.BucketCol}=$b")).count(_.toString.endsWith(".parquet"))
      }.sum
    }.getOrElse(0)

  /** Buckets whose owning epoch differs between two manifests. */
  def bucketsChanged(before: Option[PartitionedStore.Manifest],
                     after: Option[PartitionedStore.Manifest]): Int = {
    val a = before.map(_.buckets).getOrElse(Map.empty)
    val b = after.map(_.buckets).getOrElse(Map.empty)
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
  }
}

/** JSON output, rendered by the Jackson that ships with Spark. NaN and
  * infinities become null first, so every line stays valid JSON. */
object Json {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.module.scala.DefaultScalaModule

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case Some(x) => Some(finite(x))
    case other => other
  }

  def render(v: Any): String = mapper.writeValueAsString(finite(v))
}

object Ms {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def of(ns: Long): Double = ns / 1e6
}
