package graft.operators

import graft.SparkSpec
import graft.plans.{OrgNamespace, ResultCache}
import graft.streaming.SnapshotStore
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The replica-table layout of [[ParquetLayout]], read back from parquet
  * footers: every replica-table writer lands zstd files, the JSON payload
  * is stored without a dictionary while low-cardinality columns keep
  * theirs, and a table whose older epochs are snappy still reads, merges,
  * time-travels and diffs. */
class ReplicaLayoutSpec extends SparkSpec {
  import spark.implicits._
  import PartitionedStore.BucketCol

  // more buckets than a merge touches: each merge leaves some buckets to
  // the epochs before it
  private val Buckets = 32
  private val spec = MergeSpec(keyCols = Seq("k"), orderCol = "seq", versionCol = Some("v"))
  private type R = (String, Long, Long, String, String)

  /** A replica-shaped frame. `data` repeats across keys on purpose: with
    * the dictionary left on, parquet would dictionary-encode it, so only
    * the layout's rule keeps it plain. */
  private def rows(ks: Range, v: Long, seq: Long): DataFrame =
    ks.map(k => (s"key$k", v, seq, Seq("paid", "open", "void")(k % 3),
      s"""{"id":"x${k % 4}","v":$v}""")).toDF("k", "v", "seq", "status", "data")

  private def sorted(df: DataFrame): Seq[R] =
    df.select("k", "v", "seq", "status", "data").as[R].collect().toSeq.sortBy(_._1)

  private def parquetFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally walk.close()
  }

  /** Every column chunk of every row group of `file`, by column name. */
  private def chunks(file: String): Seq[(String, ColumnChunkMetaData)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c)
    finally reader.close()
  }

  private def codecs(files: Seq[String]): Set[CompressionCodecName] = {
    assert(files.nonEmpty, "the writer left no parquet file")
    files.flatMap(chunks).map(_._2.getCodec).toSet
  }

  private def dictionaryEncoded(files: Seq[String], column: String): Set[Boolean] =
    files.flatMap(chunks).collect { case (`column`, c) =>
      c.getEncodings.asScala.exists(_.usesDictionary) }.toSet

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("every replica-table writer lands zstd files; the payload has no dictionary") {
    // enough rows per file for a dictionary to pay: parquet drops it for a
    // column whose first page it does not shrink
    val table = rows(0 until 4000, 1L, 0L)
    // PartitionedStore: write, mergeInto, compact — each commit's epoch
    val pdir = tmp("layout-partitioned")
    val t = pdir.toString
    PartitionedStore.write(table, t, "k", Buckets)
    PartitionedStore.mergeInto(spark, t, rows(0 until 10, 2L, 1L), spec, "k", Buckets)
    PartitionedStore.compact(spark, t)
    assert(PartitionedStore.versions(t) == Seq(1L, 2L, 3L))
    (1 to 3).foreach { e =>
      val files = parquetFiles(pdir.resolve(s"e$e")).map(_.toString)
      assert(codecs(files) == Set(CompressionCodecName.ZSTD), s"epoch $e")
    }
    assert(dictionaryEncoded(parquetFiles(pdir).map(_.toString), "data") == Set(false))
    // the merge's epoch holds a few rows per bucket: too few to judge
    val full = Seq("e1", "e3").flatMap(e => parquetFiles(pdir.resolve(e))).map(_.toString)
    assert(dictionaryEncoded(full, "status") == Set(true))

    // SnapshotStore
    val sdir = tmp("layout-snapshot")
    new SnapshotStore(sdir.toString, spark = spark).write(table, 0L)
    val sfiles = parquetFiles(sdir).map(_.toString)
    assert(codecs(sfiles) == Set(CompressionCodecName.ZSTD))
    assert(dictionaryEncoded(sfiles, "data") == Set(false))
    assert(dictionaryEncoded(sfiles, "status") == Set(true))

    // BucketedStore
    try {
      BucketedStore.writeBucketed(table, "layout_bucketed", "k", 4)
      assert(codecs(spark.table("layout_bucketed").inputFiles.toSeq) ==
        Set(CompressionCodecName.ZSTD))
    } finally spark.sql("DROP TABLE IF EXISTS layout_bucketed")

    // writeWithBloom keeps its own options on top of the layout
    val bdir = tmp("layout-bloom").resolve("t").toString
    ParquetLayout.writeWithBloom(table, bdir, Seq("k"))
    val bfiles = parquetFiles(Paths.get(bdir)).map(_.toString)
    assert(codecs(bfiles) == Set(CompressionCodecName.ZSTD))
    assert(dictionaryEncoded(bfiles, "k") == Set(false))
    assert(dictionaryEncoded(bfiles, "data") == Set(false))

    // ResultCache: the cached result of a query over a replica table
    val cdir = tmp("layout-cache")
    val cache = new ResultCache(spark, cdir.resolve("cache").toString)
    cache.run(PartitionedStore.read(spark, t).select("k", "status", "data")).count()
    assert(codecs(parquetFiles(cdir.resolve("cache")).map(_.toString)) ==
      Set(CompressionCodecName.ZSTD))

    // OrgNamespace.registerTable: the table the org's read-only SQL serves
    try {
      OrgNamespace.provision(spark, "layoutco")
      OrgNamespace.registerTable(spark, "layoutco", "charges", table)
      val ofiles = spark.table("org_layoutco.charges").inputFiles.toSeq
      assert(codecs(ofiles) == Set(CompressionCodecName.ZSTD))
      assert(dictionaryEncoded(ofiles, "data") == Set(false))
    } finally OrgNamespace.drop(spark, "layoutco")
  }

  /** Commit the bucketed frame `b` as epoch `v` the way a pre-zstd writer
    * did: snappy bucket directories, then the manifest (the format of the
    * `PartitionedStore` scaladoc) mapping the buckets it landed over those
    * of `prior`. */
  private def snappyCommit(dir: Path, b: DataFrame, v: Long, prior: Map[Int, Long]): Map[Int, Long] = {
    b.write.option("compression", "snappy").partitionBy(BucketCol)
      .parquet(dir.resolve(s"e$v").toString)
    val landed = Files.list(dir.resolve(s"e$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSeq
    val buckets = prior ++ landed.map(_ -> v)
    val bs = buckets.toSeq.sorted.map { case (bk, e) => s""""$bk":$e""" }.mkString(",")
    val schema = b.drop(BucketCol).schema.json
    Files.createDirectories(dir.resolve("_manifest"))
    Files.writeString(dir.resolve("_manifest").resolve(f"v$v%012d.json"),
      s"""{"version":$v,"buckets":{$bs},"schema":$schema}""")
    buckets
  }

  private val first = rows(0 until 40, 1L, 0L)
  private val second = rows(30 until 35, 2L, 1L)
  /** The table after `second` is merged onto `first`. */
  private def afterSecond: DataFrame =
    first.where(!col("k").isin((30 until 35).map(k => s"key$k"): _*)).unionByName(second)

  /** An all-snappy table of two versions: v1 holds `first` in every
    * bucket, v2 rewrites the buckets `second` touches with their merged
    * rows, so both epochs stay live. */
  private def snappyTable(): Path = {
    val dir = tmp("layout-snappy")
    def bucketed(df: DataFrame) = PartitionedStore.withBucket(df, "k", Buckets)
    val touched = bucketed(second).select(BucketCol).distinct().as[Int].collect().toSeq
    val v1 = snappyCommit(dir, bucketed(first), 1L, Map.empty)
    snappyCommit(dir, bucketed(afterSecond).where(col(BucketCol).isin(touched: _*)), 2L, v1)
    assert(PartitionedStore.currentManifest(dir.toString).get.epochDirs.size == 2)
    assert(codecs(parquetFiles(dir).map(_.toString)) == Set(CompressionCodecName.SNAPPY))
    dir
  }

  test("a merge onto a snappy table gives the rows it gives on a zstd one") {
    val batch = rows(0 until 10, 3L, 2L) // older versions of 10 until 20 must lose
      .unionByName(rows(10 until 20, 0L, 2L))
    val sdir = snappyTable()
    val s = sdir.toString
    val z = tmp("layout-zstd").toString
    PartitionedStore.write(first, z, "k", Buckets)
    PartitionedStore.mergeInto(spark, z, second, spec, "k", Buckets)
    assert(sorted(PartitionedStore.read(spark, s)) == sorted(PartitionedStore.read(spark, z)))

    PartitionedStore.mergeInto(spark, s, batch, spec, "k", Buckets)
    PartitionedStore.mergeInto(spark, z, batch, spec, "k", Buckets)
    val merged = sorted(PartitionedStore.read(spark, s))
    assert(merged == sorted(PartitionedStore.read(spark, z)))
    assert(merged.size == 40 && merged.count(_._2 == 3L) == 10)
    val owners = PartitionedStore.currentManifest(s).get.buckets.values.toSet
    assert(owners.contains(3L) && owners.exists(_ < 3L),
      "the merge leaves snappy buckets live next to its zstd ones")
    assert(codecs(parquetFiles(sdir.resolve("e3")).map(_.toString)) ==
      Set(CompressionCodecName.ZSTD))
    // the snappy versions still time-travel
    assert(sorted(PartitionedStore.readAt(spark, s, 1L)) == sorted(first))
    assert(sorted(PartitionedStore.readAt(spark, s, 2L)) == sorted(afterSecond))
  }

  test("a zstd compaction of a snappy version diffs empty against it") {
    val sdir = snappyTable()
    val s = sdir.toString
    PartitionedStore.compact(spark, s)
    assert(PartitionedStore.versions(s) == Seq(1L, 2L, 3L))
    assert(codecs(parquetFiles(sdir.resolve("e3")).map(_.toString)) ==
      Set(CompressionCodecName.ZSTD))
    assert(PartitionedStore.diff(spark, s, 2L, 3L, Seq("k")).count() == 0)
    assert(sorted(PartitionedStore.read(spark, s)) == sorted(afterSecond))
    // the diff still sees data: from v1, exactly the rows `second` wrote
    assert(PartitionedStore.diff(spark, s, 1L, 3L, Seq("k")).as[(String, String)]
      .collect().toSeq.sorted ==
      (30 until 35).map(k => (s"key$k", "changed")).sorted)
  }
}
