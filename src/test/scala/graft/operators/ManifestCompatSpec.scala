package graft.operators

import graft.SparkSpec
import graft.plans.ResultCache
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The manifest-backed read keeps every contract of the store: manifests
  * written before the schema was recorded still read, time travel, diff,
  * compaction and vacuum give the rows the per-epoch union read gave, an
  * interrupted commit stays invisible, and the result cache still sees a
  * merge. */
class ManifestCompatSpec extends SparkSpec {
  import spark.implicits._
  import PartitionedStore.BucketCol

  private val spec = MergeSpec(keyCols = Seq("k"), orderCol = "seq", versionCol = Some("v"))
  private type R = (String, Long, Long, String)
  // more buckets than keys per merge: each merge leaves some buckets to
  // the epochs before it
  private val Buckets = 32

  private def rows(ks: Range, v: Long, seq: Long): DataFrame =
    ks.map(k => (s"key$k", v, seq, s"p$k-$v")).toDF("k", "v", "seq", "payload")
  private def sorted(df: DataFrame): Seq[R] =
    df.select("k", "v", "seq", "payload").as[R].collect().toSeq.sortBy(_._1)
  /** The table the three commits of [[history]] leave after `n` of them. */
  private def model(n: Int): Seq[R] = {
    val commits = Seq((0 until 30, 1L, 0L), (0 until 5, 2L, 1L), (20 until 35, 3L, 2L)).take(n)
    commits.foldLeft(Map.empty[String, R]) { case (t, (ks, v, seq)) =>
      t ++ ks.map(k => s"key$k" -> ((s"key$k", v, seq, s"p$k-$v")))
    }.values.toSeq.sortBy(_._1)
  }

  /** Versions 1-3: a write, then two merges that each re-own some buckets. */
  private def history(): String = {
    val dir = Files.createTempDirectory("manifest-compat").toString
    PartitionedStore.write(rows(0 until 30, 1L, 0L), dir, "k", Buckets)
    PartitionedStore.mergeInto(spark, dir, rows(0 until 5, 2L, 1L), spec, "k", Buckets)
    PartitionedStore.mergeInto(spark, dir, rows(20 until 35, 3L, 2L), spec, "k", Buckets)
    dir
  }

  /** The read the store made before its reads became one relation: one
    * parquet scan per live epoch, unioned. */
  private def epochUnion(dir: String): DataFrame =
    PartitionedStore.currentManifest(dir).get.epochDirs.toSeq.sortBy(_._1).map { case (e, bs) =>
      spark.read.option("basePath", s"$dir/e$e").parquet(bs.map(b => s"$dir/e$e/$BucketCol=$b"): _*)
    }.reduce(_ unionByName _)

  private def manifestFile(dir: String, v: Long) = Paths.get(dir, "_manifest", f"v$v%012d.json")

  test("a manifest without a schema, as earlier writers left it, reads the same rows") {
    val dir = history()
    val schema = PartitionedStore.read(spark, dir).schema
    PartitionedStore.versions(dir).foreach { v =>
      val f = manifestFile(dir, v)
      Files.writeString(f, Files.readString(f).replaceFirst(""","schema":.*\}$""", "}"))
    }
    assert(PartitionedStore.currentManifest(dir).get.schema.isEmpty)
    val legacy = PartitionedStore.read(spark, dir)
    assert(legacy.schema == schema)
    assert(sorted(legacy) == model(3))
    (1 to 3).foreach(v => assert(sorted(PartitionedStore.readAt(spark, dir, v)) == model(v)))
    // the next commit records the schema again
    PartitionedStore.mergeInto(spark, dir, rows(0 until 1, 4L, 3L), spec, "k", Buckets)
    assert(PartitionedStore.currentManifest(dir).get.schema.isDefined)
    assert(PartitionedStore.read(spark, dir).schema == schema)
  }

  test("an empty snapshot an earlier writer committed reads with its schema") {
    val dir = Files.createTempDirectory("manifest-empty").toString
    // earlier writers landed one unpartitioned empty file and no schema
    PartitionedStore.withBucket(rows(0 until 0, 0L, 0L), "k", Buckets).write.parquet(s"$dir/e1")
    Files.createDirectories(Paths.get(dir, "_manifest"))
    Files.writeString(manifestFile(dir, 1), """{"version":1,"buckets":{}}""")
    val empty = PartitionedStore.read(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("k", "v", "seq", "payload", BucketCol))
    PartitionedStore.mergeInto(spark, dir, rows(0 until 3, 1L, 0L), spec, "k", Buckets)
    assert(sorted(PartitionedStore.read(spark, dir)).map(_._1) == Seq("key0", "key1", "key2"))
    // an empty snapshot written now carries its schema in the manifest instead
    val fresh = Files.createTempDirectory("manifest-empty-now").toString
    PartitionedStore.write(rows(0 until 0, 0L, 0L), fresh, "k", Buckets)
    assert(PartitionedStore.read(spark, fresh).schema == empty.schema)
  }

  test("readAt, diff, compact and vacuum agree with the per-epoch union read") {
    val dir = history()
    assert(PartitionedStore.currentManifest(dir).get.epochDirs.size >= 2)
    assert(sorted(PartitionedStore.read(spark, dir)) == sorted(epochUnion(dir)))
    assert(PartitionedStore.read(spark, dir).schema == epochUnion(dir).schema)
    (1 to 3).foreach(v => assert(sorted(PartitionedStore.readAt(spark, dir, v)) == model(v)))
    def diff(a: Long, b: Long) = PartitionedStore.diff(spark, dir, a, b, Seq("k"))
      .as[(String, String)].collect().toSeq.sorted
    val changed13 = ((0 until 5) ++ (20 until 30)).map(k => s"key$k" -> "changed")
    val added = (30 until 35).map(k => s"key$k" -> "added")
    assert(diff(1, 3) == (changed13 ++ added).sorted)
    assert(diff(2, 3) == ((20 until 30).map(k => s"key$k" -> "changed") ++ added).sorted)
    assert(diff(3, 1) == (changed13 ++ (30 until 35).map(k => s"key$k" -> "removed")).sorted)
    assert(diff(3, 3).isEmpty)
    PartitionedStore.compact(spark, dir)
    val m = PartitionedStore.currentManifest(dir).get
    assert(m.version == 4 && m.epochDirs.keySet == Set(4L))
    assert(sorted(PartitionedStore.read(spark, dir)) == model(3))
    assert(diff(3, 4).isEmpty)
    val removed = PartitionedStore.vacuum(dir, retain = 0)
    assert(removed == Seq("e1", "e2", "e3"))
    assert(sorted(PartitionedStore.read(spark, dir)) == model(3))
    assert(sorted(epochUnion(dir)) == model(3))
  }

  test("a commit killed between the epoch write and the manifest publish leaves the previous version") {
    val dir = history()
    val before = sorted(PartitionedStore.read(spark, dir))
    // the epoch write dies part way: nothing is published
    val boom = rows(0 until 10, 9L, 5L).withColumn("payload",
      when($"k" === "key7", raise_error(lit("killed"))).otherwise($"payload"))
    intercept[Exception](PartitionedStore.mergeInto(spark, dir, boom, spec, "k", Buckets))
    assert(PartitionedStore.currentManifest(dir).get.version == 3)
    assert(sorted(PartitionedStore.read(spark, dir)) == before)
    // the epoch write finished, the publish never ran
    PartitionedStore.withBucket(rows(0 until 10, 9L, 5L), "k", Buckets)
      .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$dir/e4")
    assert(sorted(PartitionedStore.read(spark, dir)) == before)
    // the next writer commits over the orphan
    PartitionedStore.mergeInto(spark, dir, rows(0 until 2, 10L, 6L), spec, "k", Buckets)
    val after = sorted(PartitionedStore.read(spark, dir))
    assert(after.take(2).map(_._2) == Seq(10L, 10L))
    assert(after.drop(2) == before.filterNot(r => Set("key0", "key1")(r._1)))
  }

  test("a ResultCache fingerprint moves with a merge and holds otherwise") {
    val dir = history()
    val cache = new ResultCache(spark, Files.createTempDirectory("manifest-rc").toString)
    def fp() = cache.fingerprint(PartitionedStore.read(spark, dir).where($"v" > 0L))
    val f1 = fp()
    assert(fp() == f1)
    PartitionedStore.mergeInto(spark, dir, rows(0 until 1, 7L, 9L), spec, "k", Buckets)
    val f2 = fp()
    assert(f2 != f1)
    assert(fp() == f2)
  }
}
