package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession: every entry point (the board, the oracle
  * dump, the scale sidecars, the fuzzer) and the test session build through
  * here, so a conf the engine depends on is set in one place and an
  * embedding application gets it by calling [[create]] too. */
object EngineSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def create(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // `events.ts` ships as TIMESTAMP(NANOS) in some testdata generations;
      // Tables.events normalizes the long this conf reads it as
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Codegen class cache sized to a query's working set (measured): the
      // 100-entry default thrashes under the multi-round store lifecycles
      // (>100 distinct codegen units per run), so every run re-pays
      // 0.2-0.9 s Janino compiles per stage with all tasks herd-blocked on
      // the loading cache (q213 ingest 5.2 s -> 1.7 s at any size >= 512,
      // the q211 BenchOne median 13.6 s -> 7.8 s). Scale-neutral (the same
      // thrash recurs per executor JVM on a cluster) and bounded
      // (generated-class metadata only). A static conf: it must be set
      // before the first session starts.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
