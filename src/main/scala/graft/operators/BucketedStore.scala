package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed catalog tables (the co-located-join layout): writing both sides
  * of a recurring join bucketed+sorted by the join key lets sort-merge joins
  * run with ZERO exchanges — the shuffle is paid once at write time, then
  * every join/aggregation on the key is exchange-free. This is the layout
  * for replica tables that serve repeated key joins at 100 TB (the Spark
  * analog of the reference's indexed join columns).
  */
object BucketedStore {

  /** Persist as a bucketed, sorted catalog table, in the replica layout
    * ([[ParquetLayout.writer]]). */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int): Unit =
    ParquetLayout.writer(df).mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** True when the (executed, AQE-final) plan of `df` contains no shuffle
    * exchange — the property bucketed joins buy. Executes df's OWN
    * QueryExecution (a `count()` would build and finalize a different
    * plan, leaving this one unfinalized), then matches the `Exchange`
    * node name at any tree position (`+-`, `:-`, root) while ignoring
    * `BroadcastExchange`/`ReusedExchange`, which move no shuffle data. */
  def isExchangeFree(df: DataFrame): Boolean = {
    df.queryExecution.executedPlan.executeCollect()
    val plan = df.queryExecution.executedPlan.toString
    """(?<!Broadcast)(?<!Reused)\bExchange\b""".r.findFirstIn(plan).isEmpty
  }
}
