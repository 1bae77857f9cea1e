package graft.streaming

import graft.operators.IncrementalAgg
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained rollup: the streaming face of
  * [[graft.operators.IncrementalAgg]]. Each microbatch folds its partial
  * aggregate into a versioned snapshot of the keyed state — the rollup is
  * always query-ready, each batch costs O(state keys + batch keys), and a
  * replayed batch (failure recovery) lands on the same snapshot version it
  * originally produced, so recovery is an idempotent overwrite rather than
  * double counting.
  *
  * This is the warehouse-rollup maintenance loop at stream cadence: where
  * [[WebhookStream]] keeps the raw replica current, this keeps its
  * aggregates current without ever recomputing history.
  */
object RollupStream {

  /** Start maintaining `groupBy(keys).agg(count, sum, min, max of valueCol)`
    * over a JSON landing stream. `schemaDdl` describes the input rows. */
  def start(spark: org.apache.spark.sql.SparkSession, sourceDir: String,
            stateDir: String, checkpointDir: String, schemaDdl: String,
            keys: Seq[String], valueCol: String): StreamingQuery = {
    val store = new SnapshotStore(stateDir, spark = spark)
    spark.readStream
      .schema(schemaDdl)
      .json(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // under the caller's session: see WebhookStream on why
        val delta = IncrementalAgg.partial(
          GraftColumnBridge.onSession(spark, batch), keys, valueCol)
        // Read the PREDECESSOR batch's version, never LATEST: a replayed
        // batch (recovery) must fold onto the state it originally saw, or
        // its rows double-count. With version = batchId the rewrite lands
        // byte-identically and the pointer flip is a no-op.
        val prevPath = java.nio.file.Paths.get(stateDir, s"v${batchId - 1}")
        // fail loudly if the predecessor snapshot is missing: folding onto
        // empty state would silently drop all history and serve a
        // wrong-but-plausible rollup
        require(batchId == 0 || java.nio.file.Files.exists(prevPath),
          s"rollup state $prevPath missing for batch $batchId — " +
            "state dir and checkpoint are out of sync")
        val prev =
          if (batchId > 0) spark.read.parquet(prevPath.toString)
          else delta.limit(0)
        store.write(IncrementalAgg.merge(prev, delta, keys), batchId)
        ()
      }
      .start()
  }

  /** Query-ready view of the maintained rollup (derived avg included). */
  def read(spark: org.apache.spark.sql.SparkSession, stateDir: String,
           emptyLike: => DataFrame): DataFrame =
    IncrementalAgg.finish(new SnapshotStore(stateDir).readOr(emptyLike))
}
