package graft.io

import graft.SparkSpec
import graft.operators.{MergeSpec, PartitionedStore}
import graft.replicators.Replicators
import graft.streaming.WebhookStream
import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** A store's commits and a stream's checkpoint logs start no process: every
  * `jdk.ProcessStart` recorded while they run is listed, and none may name
  * this spec's directory (concurrent suites spawn under their own). With
  * Hadoop's stock local filesystem the same work starts one `chmod` per
  * file, `.crc` and directory it creates, and `readlink`s per log rename. */
class NoProcessSpawnSpec extends SparkSpec {
  import spark.implicits._

  private def charge(id: String, amount: Int, created: Long) =
    s"""{"id":"$id","object":"charge","amount":$amount,"created":$created,"status":"ok"}"""
  private def event(resource: String, created: Long, seq: Long) = {
    val body = s"""{"object":"event","created":$created,"data":{"object":$resource}}"""
      .replace("\"", "\\\"")
    s"""{"body":"$body","headers":{},"path":"/v1","method":"POST","__ingest_seq":$seq}"""
  }

  /** The command lines of the processes this JVM started while `f` ran. */
  private def spawnsDuring(f: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val file = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def mine(spawns: Seq[String], dir: java.nio.file.Path): Seq[String] = {
    val names = Set(dir.toString, dir.toRealPath().toString)
    spawns.filter(c => names.exists(c.contains))
  }

  /** Count per program, then the first few command lines. */
  private def show(spawns: Seq[String]): String =
    spawns.groupBy(_.takeWhile(_ != ' ')).map { case (k, v) => s"$k x${v.size}" }
      .mkString(", ") + "\n" + spawns.take(5).mkString("\n")

  test("store write, merge, compact and vacuum start no process") {
    val dir = Files.createTempDirectory("nospawn-store")
    val table = dir.resolve("t").toString
    val mspec = MergeSpec(keyCols = Seq("k"), orderCol = "__ingest_seq")
    def rows(ks: Seq[Int], v: Long) = ks.map(k => (s"key$k", v, v)).toDF("k", "v", "__ingest_seq")
    val spawns = spawnsDuring {
      PartitionedStore.write(rows(0 until 40, 1L), table, "k", 8)
      PartitionedStore.mergeInto(spark, table, rows(Seq(3, 5, 30), 2L), mspec, "k", 8)
      PartitionedStore.mergeInto(spark, table, rows(Seq(7), 3L), mspec, "k", 8)
      PartitionedStore.compact(spark, table)
      PartitionedStore.vacuum(table, retain = 0)
    }
    assert(mine(spawns, dir).isEmpty, show(mine(spawns, dir)))
    val stored = PartitionedStore.read(spark, table).select("k", "v").as[(String, Long)]
      .collect().toMap
    assert(stored.size == 40 && stored("key3") == 2L && stored("key7") == 3L && stored("key0") == 1L)
    assert(PartitionedStore.currentManifest(table).get.epochDirs.size == 1)
  }

  test("two AvailableNow drains, checkpoint logs included, start no process") {
    val dir = Files.createTempDirectory("nospawn-drain")
    val src = dir.resolve("landing"); Files.createDirectories(src)
    val table = dir.resolve("table").toString
    val chk = dir.resolve("chk").toString
    def drain(i: Int): Unit = {
      Files.writeString(src.resolve(s"req-$i.json"), (0 until 10).map { j =>
        val k = i * 5 + j
        event(charge(s"ch_$k", 100 * i + j, 1000L * i + j), 1000L * i + j, 100L * i + j)
      }.mkString("\n"))
      WebhookStream.startPartitioned(spark, Replicators.stripeChargeV1Partitioned,
        src.toString, table, chk, buckets = 4).awaitTermination()
    }
    val spawns = spawnsDuring { drain(1); drain(2) }
    assert(mine(spawns, dir).isEmpty, show(mine(spawns, dir)))
    // both microbatches committed: offsets, commits and the source log
    Seq("offsets", "commits").foreach { log =>
      assert(Files.exists(Paths.get(chk, log, "1")), s"$log/1")
    }
    assert(PartitionedStore.read(spark, table).count() == 15)
  }
}
