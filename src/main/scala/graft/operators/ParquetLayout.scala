package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The on-disk layout of every replica table: the one place that decides
  * how a table the read-only SQL surface and the sync read is written.
  * [[writer]] applies it to [[PartitionedStore]] (write, merge, compact),
  * `SnapshotStore`, [[BucketedStore]], [[writeWithBloom]], `ResultCache`
  * and `OrgNamespace.registerTable`.
  *
  *  - Every file is written with zstd. A replica row's largest column is
  *    the provider's full JSON payload (`data`), and zstd stores it in
  *    less than half of snappy's bytes (a backfilled 10k-row table: `data`
  *    52.7 -> 24.4 B/row, the whole table 126.7 -> 77.3 B/row; SCALE.md
  *    "Storage layout").
  *  - The JSON payload columns ([[PayloadCols]]) are written without a
  *    dictionary. Every row's payload is unique, so parquet would build a
  *    dictionary for each page only to find it no smaller and fall back to
  *    plain; skipping that attempt gives the same bytes and pays for
  *    zstd's extra compression time on the write path. Every other column
  *    (`status`, keys, timestamps) keeps its dictionary.
  *
  * The layout travels with each write as write options, not as session
  * conf, so a write in any session (an embedding application's own
  * included) gets it. Readers need nothing: parquet records the codec per
  * column chunk, so a table whose older epochs are snappy reads, merges,
  * time-travels and diffs as before, and its next rewrite of a bucket is
  * zstd.
  *
  * Operator-internal state (`KeyedStore`, `BatchStore`, `InvIndex`, the
  * substring and split ledgers, the band, IVF and dedup stores) and the
  * outbound export pages keep Spark's default writer.
  *
  * On top of that layout, [[writeWithBloom]] adds the knobs of
  * point-lookup-heavy tables: bloom filters + bounded row groups.
  *
  * Row-group min/max statistics prune range predicates on SORTED columns
  * (what [[ZOrder]] and [[BucketedStore]] arrange). They cannot prune
  * equality probes on a column whose values are scattered — every row group
  * spans roughly the full value range, so every group "might" contain the
  * key and a point lookup scans the table. A per-column bloom filter closes
  * exactly that gap: the reader tests the probe key against each row
  * group's filter and skips groups that definitely lack it, turning a
  * full-table point lookup into a few-row-group read. At 100 TB this is
  * the difference between touching ~every file and touching the handful
  * that can match — the parquet-native analog of the reference's unique
  * remote-key index (`db_adapter.rb` index DDL).
  *
  * Smaller row groups multiply the skip granularity (more groups = finer
  * pruning) at the cost of more metadata; the default here keeps groups at
  * 1 MiB for lookup-heavy tables vs parquet's 128 MiB scan-oriented
  * default.
  */
object ParquetLayout {

  val DefaultRowGroupBytes: Long = 1L << 20

  /** The codec of every replica-table file. */
  val Codec = "zstd"

  /** The replicator's JSON payload columns, written without a dictionary
    * where a table stores them. */
  val PayloadCols: Seq[String] = Seq("data", "enrichment")

  /** A writer for `df` with the replica-table layout applied. */
  def writer(df: DataFrame): DataFrameWriter[Row] = {
    val noDictionary = PayloadCols.filter(df.columns.contains)
      .map(c => s"parquet.enable.dictionary#$c" -> "false")
    df.write.option("compression", Codec).options(noDictionary.toMap)
  }

  /** Write `df` in the replica layout ([[writer]]) with bloom filters on
    * `bloomCols` and `rowGroupBytes`-sized row groups. Options are
    * parquet-mr's own (`parquet.bloom.filter.enabled#<col>`), applied per
    * column so non-keyed columns pay nothing.
    *
    * `expectedDistinct` is the distinct count PER ROW GROUP (each group
    * gets its own filter) — sizing it at the table's global cardinality
    * inflates every filter: measured here, a 100×-oversized ndv made the
    * probe read 26 MB of bloom structures to skip 26 MB of data. At the
    * 128 MiB groups of a scan-oriented table, ~1M ndv costs ~1.2 MB of
    * filter per group (~1%), the right trade for lookup-heavy replicas.
    *
    * Dictionary encoding is pinned OFF for the bloom columns: a fully
    * dictionary-encoded column already gets EXACT row-group skipping from
    * dictionary filtering (and parquet-mr skips writing the redundant
    * bloom). Blooms exist for the columns whose per-group cardinality
    * overflows the dictionary page — the normal state of a remote-key
    * column at 100 TB — and pinning the encoding makes layout behavior
    * deterministic instead of flipping with data volume. */
  def writeWithBloom(df: DataFrame, dir: String, bloomCols: Seq[String],
                     rowGroupBytes: Long = DefaultRowGroupBytes,
                     expectedDistinct: Long = 100000L): Unit = {
    var w = writer(df).mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
    bloomCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedDistinct.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    w.parquet(dir)
  }

  /** Read back for point lookups. Bloom-based row-group skipping happens
    * inside the parquet reader when the equality filter is pushed down —
    * verify with `PushedFilters` in `.explain` and input-bytes metrics. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
