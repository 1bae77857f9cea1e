package perfbench

import graft.operators.{Merge, PartitionedStore, Projection}
import graft.replicators.Replicators
import graft.sources.Backfiller
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine behaviour the webhook model names a stale pair: a
  * microbatch collapses duplicate keys last-wins by ingest order BEFORE
  * the event-time check, so newer-then-older in one batch stores the
  * older event, while the same two events in two batches store the newer. */
class ReorderedPairSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  private val spec = Replicators.stripeChargeV1Partitioned
  private val dir = java.nio.file.Files.createTempDirectory("perfbench-pair")

  override def afterAll(): Unit = { spark.stop(); Files2.delete(dir) }

  private def batch(seqBase: Long, events: (Int, Long)*) =
    Projection.project(spec, Backfiller.toWebhookDf(spark,
      events.map { case (k, t) => Stripe.chargeEvent(s"evt_$t", k, t, 10) })
      .withColumn(Projection.IngestSeqCol, org.apache.spark.sql.functions.col(Projection.IngestSeqCol) + seqBase))

  private def storedT(table: String, k: Int): Long =
    PartitionedStore.read(spark, table).where(s"stripe_id = '${Stripe.chargeId(k)}'")
      .select("updated").collect().head.getTimestamp(0).getTime / 1000

  private def table(name: String): String = {
    val t = dir.resolve(name).toString
    PartitionedStore.write(Merge.dedupLastWins(batch(0, 7 -> 100L), spec.mergeSpec), t,
      spec.remoteKeyCol, 4)
    t
  }

  test("newer then older in ONE microbatch stores the older event") {
    val t = table("one")
    PartitionedStore.mergeInto(spark, t, batch(10, 7 -> 300L, 7 -> 200L), spec.mergeSpec,
      spec.remoteKeyCol, 4)
    assert(storedT(t, 7) == 200L)
  }

  test("newer then older in TWO microbatches stores the newer event") {
    val t = table("two")
    PartitionedStore.mergeInto(spark, t, batch(10, 7 -> 300L), spec.mergeSpec, spec.remoteKeyCol, 4)
    PartitionedStore.mergeInto(spark, t, batch(20, 7 -> 200L), spec.mergeSpec, spec.remoteKeyCol, 4)
    assert(storedT(t, 7) == 300L)
  }
}
