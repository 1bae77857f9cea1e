package graft.streaming

import graft.SparkSpec
import graft.replicators.Replicators
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** S1/§3.1 end-to-end: landed webhook files -> Structured Streaming ->
  * foreachBatch merge -> snapshot store; out-of-order + duplicate events
  * across microbatches resolve exactly like the batch path. */
class WebhookStreamSpec extends SparkSpec {

  private def charge(id: String, amount: Int, created: Long) =
    s"""{"id":"$id","object":"charge","amount":$amount,"created":$created,"status":"ok"}"""
  private def event(resource: String, created: Long, seq: Long) = {
    val body = s"""{"object":"event","created":$created,"data":{"object":$resource}}"""
      .replace("\"", "\\\"")
    s"""{"body":"$body","headers":{},"path":"/v1","method":"POST","__ingest_seq":$seq}"""
  }

  test("streaming ingest merges batches idempotently with monotonic updates") {
    val dir = Files.createTempDirectory("whstream").toString
    val src = s"$dir/src"; Files.createDirectories(Paths.get(src))
    val spec = Replicators.stripeChargeV1

    // batch 1: two charges
    Files.writeString(Paths.get(src, "b1.json"),
      event(charge("ch_1", 100, 1000), 1000, 1) + "\n" +
        event(charge("ch_2", 200, 2000), 2000, 2) + "\n")
    val q1 = WebhookStream.start(spark, spec, src, s"$dir/snap", s"$dir/chk")
    q1.awaitTermination()

    // batch 2: newer ch_1, STALE ch_2 (must not overwrite), new ch_3, dup ch_3
    Files.writeString(Paths.get(src, "b2.json"),
      event(charge("ch_1", 111, 3000), 3000, 3) + "\n" +
        event(charge("ch_2", 222, 500), 500, 4) + "\n" +
        event(charge("ch_3", 300, 100), 100, 5) + "\n" +
        event(charge("ch_3", 333, 200), 200, 6) + "\n")
    val q2 = WebhookStream.start(spark, spec, src, s"$dir/snap", s"$dir/chk")
    q2.awaitTermination()

    val store = new SnapshotStore(s"$dir/snap")
    val out = store.readOr(graft.operators.Pipeline.emptyTarget(spec, spark)).orderBy("stripe_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("amount") == 111L) // updated
    assert(out(1).getAs[Long]("amount") == 200L) // stale write suppressed
    assert(out(2).getAs[Long]("amount") == 333L) // in-batch last-wins
  }

  test("snapshot store prunes versions beyond current + predecessor") {
    val dir = Files.createTempDirectory("snapstore").toString
    import spark.implicits._
    val store = new SnapshotStore(dir)
    (0L to 4L).foreach(b => store.write(Seq((b, s"v$b")).toDF("id", "tag"), b))
    // replay needs current (v4) + predecessor (v3); older versions are gone
    assert(store.readVersion(4).isDefined && store.readVersion(3).isDefined)
    assert(store.readVersion(2).isEmpty && store.readVersion(0).isEmpty)
    assert(store.readOr(sys.error("missing")).collect()
      .map(_.getString(1)).toSeq == Seq("v4"))
  }

  test("a reader polling the LATEST pointer only ever sees a committed version") {
    val dir = Files.createTempDirectory("snapflip").toString
    import spark.implicits._
    val store = new SnapshotStore(dir)
    val flips = 200
    val committed = new java.util.concurrent.atomic.AtomicLong(-1L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val polls = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() => {
      while (!done.get) {
        // the pointer names only v<N> of a write that has started: write N
        // starts after N-1 is committed, so N <= (committed, read after) + 1
        try store.latestVersion.foreach { v =>
          val upTo = committed.get + 1
          if (!v.matches("v\\d+") || v.drop(1).toLong > upTo) bad.add(s"'$v' (bound $upTo)")
        } catch { case e: java.io.IOException => bad.add(e.toString) }
        polls.incrementAndGet()
      }
    })
    reader.start()
    try (0 until flips).foreach { b =>
      store.write(Seq((b.toLong, s"v$b")).toDF("id", "tag"), b.toLong)
      committed.set(b.toLong)
    } finally { done.set(true); reader.join(60000) }
    assert(!reader.isAlive)
    assert(bad.isEmpty, bad.asScala.take(5).mkString(", "))
    assert(polls.get > flips, s"only ${polls.get} polls")
    assert(store.latestVersion.contains(s"v${flips - 1}"))
    assert(!Files.exists(Paths.get(dir, ".LATEST.tmp")))
  }
}
