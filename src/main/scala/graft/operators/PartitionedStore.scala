package graft.operators

import graft.functions.Converters
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Hash-partitioned snapshot layout (U5, `partitionable_mixin.rb:33-129`,
  * DDL `db_adapter/pg.rb:134-139`): very large replica tables store under
  * `bucket = pmod(str2inthash(remote_key), n)` partitions. Because the merge
  * conflict target includes the partition column, an incremental merge only
  * touches the buckets present in the batch — partition pruning instead of
  * a full-table rewrite, which is the difference between O(batch) and
  * O(table) at 100 TB.
  *
  * Commits are ATOMIC across buckets via a manifest pointer flip (the
  * reference gets the same guarantee from PG transactions, `base.rb:762-785`):
  * each write lands bucket data under a fresh epoch directory `e<V>/`, then
  * publishes `_manifest/v<V>.json` mapping every bucket to the epoch that
  * owns its current data. Readers resolve the highest manifest; a crash
  * after data write but before manifest publish leaves only an orphan epoch
  * directory — the visible snapshot is unchanged, never half-old/half-new.
  * On local/HDFS filesystems the publish is an atomic rename; on object
  * stores the same protocol maps to a conditional PUT of the next version.
  * Writer concurrency contract: single writer per table (the reference's
  * advisory-lock discipline); a version collision fails the late writer.
  *
  * Manifest format: `{"version":V,"buckets":{"<bucket>":<epoch>,...},
  * "schema":<StructType json>}`. `schema` is the table's stored columns
  * (everything but `part_bucket`), written inside the same atomic publish
  * as the bucket map, so recording it opens no new crash window. Manifests
  * written before it was recorded have no `schema`; their reads take it
  * from one data file's footer instead.
  *
  * Every epoch is written in the replica layout of [[ParquetLayout]]:
  * zstd, with the JSON payload (`data`, and `enrichment` where a spec
  * stores it) written without a dictionary, because each row's payload is
  * unique and a dictionary page would only be built and thrown away. The
  * layout is per file, so epochs written before it (snappy) stay readable
  * next to zstd ones: a merge rewrites only its touched buckets in zstd,
  * and a compaction rewrites them all.
  *
  * Every read — [[read]], [[readAt]], [[diff]], and the reads inside
  * [[mergeInto]] and [[compact]] — is ONE parquet relation over a
  * [[ManifestIndex]]: the requested buckets' files, each listed under the
  * epoch that owns it, with `part_bucket` as the partition column (bucket
  * filters prune at planning). Its plan has the same shape however many
  * epochs are live, and it runs no schema-inference job.
  */
object PartitionedStore {

  val BucketCol = "part_bucket"
  private val ManifestDir = "_manifest"

  /** `schema`: the stored columns, None in a manifest written before the
    * schema was recorded. */
  final case class Manifest(version: Long, buckets: Map[Int, Long],
                            schema: Option[StructType]) {
    def epochDirs: Map[Long, Seq[Int]] =
      buckets.groupBy(_._2).map { case (e, bs) => e -> bs.keys.toSeq.sorted }
  }

  // ------------------------------------------------------------- manifest io

  private def render(m: Manifest): String = {
    val bs = m.buckets.toSeq.sortBy(_._1)
      .map { case (b, e) => s""""$b":$e""" }.mkString(",")
    val schema = m.schema.map(st => s""","schema":${st.json}""").getOrElse("")
    s"""{"version":${m.version},"buckets":{$bs}$schema}"""
  }

  private def parse(s: String): Manifest = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    require(node != null && node.has("version") && node.has("buckets"), s"bad manifest: $s")
    val buckets = node.get("buckets").fields().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong).toMap
    val schema = Option(node.get("schema"))
      .map(n => DataType.fromJson(n.toString).asInstanceOf[StructType])
    Manifest(node.get("version").asLong, buckets, schema)
  }

  private def manifestName(v: Long): String = f"v$v%012d.json"

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Latest committed manifest, or None for a directory with no snapshot
    * (or a pre-manifest flat layout). */
  def currentManifest(dir: String): Option[Manifest] = {
    val md = Paths.get(dir, ManifestDir)
    if (!Files.isDirectory(md)) return None
    val latest = listDir(md)
      .filter(_.getFileName.toString.matches("v\\d{12}\\.json"))
      .maxByOption(_.getFileName.toString)
    latest.map(p => parse(new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** Publish a manifest version: full write to a temp name, then an atomic
    * rename into place — the commit point. A pre-existing version file means
    * a concurrent writer won the race; fail rather than clobber. */
  private def publish(dir: String, m: Manifest): Unit = {
    val md = Paths.get(dir, ManifestDir)
    Files.createDirectories(md)
    val dst = md.resolve(manifestName(m.version))
    require(!Files.exists(dst),
      s"concurrent writer: manifest version ${m.version} already committed")
    val tmp = Files.createTempFile(md, ".tmp-", ".json")
    Files.write(tmp, render(m).getBytes("UTF-8"))
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Buckets that actually materialized files under an epoch directory
    * (a merge can leave a touched bucket empty — it must not be flipped). */
  private def bucketsIn(epochDir: Path): Seq[Int] =
    if (!Files.isDirectory(epochDir)) Seq.empty
    else listDir(epochDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith(s"$BucketCol=") =>
        s.stripPrefix(s"$BucketCol=").toInt }
      .sorted

  /** The stored columns of a frame about to be written: all but the layout
    * column. */
  private def storedSchema(df: DataFrame): StructType =
    StructType(df.schema.filterNot(_.name == BucketCol))

  // ------------------------------------------------------------ read path

  private val partitionSchema = StructType(Seq(StructField(BucketCol, IntegerType)))

  /** The file listing of one read: one partition per bucket, holding the
    * data files of the epoch that owns the bucket in the manifest read.
    * Listed once on the driver when the read is built (a manifest's epochs
    * are immutable); [[listFiles]] prunes by the scan's bucket filters.
    * Equal listings compare equal, so two reads of the same snapshot are
    * the same relation to the plan cache. */
  private[operators] final case class ManifestIndex(root: HPath, partitions: Seq[PartitionDirectory])
      extends FileIndex {
    override def rootPaths: Seq[HPath] = Seq(root)
    override def partitionSchema: StructType = PartitionedStore.partitionSchema
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      partitionFilters.reduceOption(And) match {
        case None => partitions
        case Some(f) =>
          // the only partition column is the bucket: bind every reference to it
          val p = Predicate.createInterpreted(f.transform {
            case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
          })
          p.initialize(0)
          partitions.filter(d => p.eval(d.values))
      }
    override def inputFiles: Array[String] =
      partitions.flatMap(_.files.map(_.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
  }

  /** The one read path: `buckets` (those absent from `m` are skipped)
    * as a single parquet relation over a [[ManifestIndex]]. No bucket
    * gives an empty relation of the table's schema. */
  private def readBuckets(spark: SparkSession, dir: String, m: Manifest,
                          buckets: Seq[Int]): DataFrame = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(e: Long, b: Int): Array[FileStatus] =
      fs.listStatus(new HPath(root, s"e$e/$BucketCol=$b")).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
    val parts = buckets.distinct.sorted.flatMap(b => m.buckets.get(b).map(e =>
      PartitionDirectory(InternalRow(b), dataFiles(e, b))))
    val schema = m.schema.getOrElse(footerSchema(spark, dir, m, parts))
    val rel = HadoopFsRelation(ManifestIndex(fs.makeQualified(root), parts),
      partitionSchema, GraftColumnBridge.asNullable(schema), None,
      new ParquetFileFormat, Map.empty)(spark)
    GraftColumnBridge.ofRows(spark, LogicalRelation(rel))
  }

  /** Stored columns of a manifest written before the schema was recorded:
    * one data file's footer (a committed empty snapshot left one
    * unpartitioned empty file under its own epoch). */
  private def footerSchema(spark: SparkSession, dir: String, m: Manifest,
                           parts: Seq[PartitionDirectory]): StructType = {
    val file = parts.flatMap(_.files).headOption.map(_.getPath.toString).getOrElse {
      val epochs = (m.buckets.values.toSeq :+ m.version).distinct.sorted.reverse
      epochs.map(e => Paths.get(dir, s"e$e")).filter(Files.isDirectory(_))
        .flatMap(listDir).find(_.toString.endsWith(".parquet"))
        .map(_.toString).getOrElse(sys.error(s"no data file under $dir"))
    }
    StructType(spark.read.parquet(file).schema.filterNot(_.name == BucketCol))
  }

  // ------------------------------------------------------------------ api

  def withBucket(df: DataFrame, keyCol: String, buckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(Converters.str2inthash(col(keyCol)), lit(buckets)))

  /** Write a full snapshot as epoch v, then commit it. Serialized per table
    * by [[TableLock]] (the advisory-lock discipline, `base.rb:995-1044`);
    * the manifest-version collision in [[publish]] stays as the backstop
    * for writers that bypass the lock. */
  def write(df: DataFrame, dir: String, keyCol: String, buckets: Int): Unit =
    TableLock.withLock(dir) { writeLocked(df, dir, keyCol, buckets) }

  private def writeLocked(df: DataFrame, dir: String, keyCol: String, buckets: Int): Unit = {
    val v = currentManifest(dir).map(_.version + 1).getOrElse(1L)
    val b = withBucket(df, keyCol, buckets)
    ParquetLayout.writer(b).mode("overwrite").partitionBy(BucketCol).parquet(s"$dir/e$v")
    // a snapshot of zero rows lands no bucket at all: the manifest's schema
    // is what its reads answer with
    val landed = bucketsIn(Paths.get(dir, s"e$v"))
    publish(dir, Manifest(v, landed.map(_ -> v).toMap, Some(storedSchema(b))))
  }

  /** Read the committed snapshot: one parquet relation over every bucket,
    * each listed under the epoch that owns it (see the object doc). */
  def read(spark: SparkSession, dir: String): DataFrame =
    currentManifest(dir) match {
      case None => spark.read.parquet(dir) // pre-manifest flat layout
      case Some(m) => readManifest(spark, dir, m)
    }

  /** Time travel: read the snapshot as of a PAST committed version — every
    * manifest inside the [[ManifestRetention]] window is a complete,
    * immutable description of its snapshot (epochs are append-only until
    * [[vacuum]], which honors the same window). */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readManifest(spark, dir, manifestAt(dir, version))

  private def manifestAt(dir: String, version: Long): Manifest = {
    val p = Paths.get(dir, ManifestDir, manifestName(version))
    require(Files.exists(p),
      s"version $version is not committed (or vacuumed past retention) at $dir")
    parse(new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** Committed versions still readable, oldest first. */
  def versions(dir: String): Seq[Long] = {
    val md = Paths.get(dir, ManifestDir)
    if (!Files.isDirectory(md)) Seq.empty
    else listDir(md).map(_.getFileName.toString)
      .filter(_.matches("v\\d{12}\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted
  }

  private def readManifest(spark: SparkSession, dir: String, m: Manifest): DataFrame =
    readBuckets(spark, dir, m, m.buckets.keys.toSeq)

  /** Row-level diff between two committed versions: (keys..., change) with
    * change in {added, removed, changed} — the audit view time travel
    * enables ("what did batch N actually do"). One full-outer join on the
    * key; content comparison is an md5 over the non-key columns in sorted
    * column order, so column order changes don't read as data changes.
    *
    * BUCKET-PRUNED: epoch directories are immutable once committed, so a
    * bucket owned by the SAME epoch in both manifests is byte-identical and
    * cannot contribute a diff row — only buckets whose owning epoch differs
    * (or that exist on one side only) are read. For adjacent versions that
    * is O(buckets the batch touched), not O(table); after a compaction every
    * bucket changes owner and the compare degrades to the full scan it
    * genuinely needs. */
  def diff(spark: SparkSession, dir: String, fromVersion: Long, toVersion: Long,
           keyCols: Seq[String]): DataFrame = {
    val mFrom = manifestAt(dir, fromVersion)
    val mTo = manifestAt(dir, toVersion)
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(bkt => mFrom.buckets.get(bkt) != mTo.buckets.get(bkt))
      .toSeq.sorted
    def hashed(m: Manifest, tag: String): DataFrame = {
      val df = readBuckets(spark, dir, m, changed)
      // exclude the layout column: rebucketing (different bucket count)
      // must not read as data change
      val payload = df.columns
        .filterNot(c => keyCols.contains(c) || c == BucketCol).sorted
      df.select(keyCols.map(col) :+
        md5(to_json(struct(payload.map(col).toSeq: _*))).as(s"__h_$tag"): _*)
    }
    val a = hashed(mFrom, "from")
    val b = hashed(mTo, "to")
    a.join(b, keyCols, "full_outer")
      .withColumn("change",
        when(col("__h_from").isNull, lit("added"))
          .when(col("__h_to").isNull, lit("removed"))
          .when(col("__h_from") =!= col("__h_to"), lit("changed")))
      .where(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** Merge a batch into the snapshot, rewriting ONLY the buckets the batch
    * touches: read prunes to the touched-bucket set, merge runs on the
    * pruned slice, the result lands under a new epoch directory, and the
    * manifest flip commits every touched bucket at once — atomically.
    *
    * Serialized per table by [[TableLock]]: a streaming microbatch and a
    * concurrent backfill merging the same table take turns and BOTH land —
    * the manifest is read inside the lock, so the second writer merges onto
    * the first writer's commit instead of colliding with it. */
  def mergeInto(spark: SparkSession, dir: String, batch: DataFrame,
                spec: MergeSpec, keyCol: String, buckets: Int): Unit =
    TableLock.withLock(dir) { mergeIntoLocked(spark, dir, batch, spec, keyCol, buckets) }

  private def mergeIntoLocked(spark: SparkSession, dir: String, batch: DataFrame,
                              spec: MergeSpec, keyCol: String, buckets: Int): Unit = {
    val m = currentManifest(dir).getOrElse(
      sys.error(s"no committed snapshot at $dir — write() first"))
    val bucketed = withBucket(batch, keyCol, buckets)
    val touched = bucketed.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val current = readBuckets(spark, dir, m, touched.toSeq)
    val mergeSpec = spec.copy(keyCols = (BucketCol +: spec.keyCols).distinct)
    val merged = Merge.upsert(
      current.select(bucketed.columns.map(col): _*), bucketed, mergeSpec)
    val v = m.version + 1
    ParquetLayout.writer(merged).mode("overwrite").partitionBy(BucketCol).parquet(s"$dir/e$v")
    val landed = bucketsIn(Paths.get(dir, s"e$v"))
    publish(dir, Manifest(v, m.buckets ++ landed.map(_ -> v), Some(storedSchema(current))))
  }

  /** Compact only when the live-epoch count crosses `maxEpochs` — the
    * policy a per-microbatch merge cadence needs: merges stay O(batch)
    * while the epoch directories a read lists stay bounded, and the full rewrite amortizes over
    * `maxEpochs` batches. Returns true when a compaction ran. */
  def maybeCompact(spark: SparkSession, dir: String, maxEpochs: Int = 8): Boolean =
    currentManifest(dir) match {
      case Some(m) if m.epochDirs.size > maxEpochs => compact(spark, dir); true
      case _ => false
    }

  /** Fold all live epochs into one: a full rewrite that bounds the live
    * epoch count (run on the reference's retention cadence, not per batch).
    * Takes the [[TableLock]] — compaction is a writer. */
  def compact(spark: SparkSession, dir: String): Unit = TableLock.withLock(dir) {
    val m = currentManifest(dir).getOrElse(return)
    if (m.epochDirs.size <= 1) return
    val v = m.version + 1
    val live = readManifest(spark, dir, m)
    ParquetLayout.writer(live).mode("overwrite").partitionBy(BucketCol).parquet(s"$dir/e$v")
    publish(dir, Manifest(v, bucketsIn(Paths.get(dir, s"e$v")).map(_ -> v).toMap,
      Some(storedSchema(live))))
  }

  /** Delete epoch directories no manifest-current bucket references —
    * crash orphans and compacted-away history. Safe after the readers of
    * superseded versions have drained (the reference's retention window). */
  /** How many superseded manifest versions [[vacuum]] retains (time-travel
    * / late-reader window; the current version never counts against it). */
  val ManifestRetention = 10

  /** Takes the [[TableLock]]: an in-flight writer's epoch directory (data
    * written, manifest not yet published) would otherwise look orphaned and
    * be reclaimed out from under it. The no-table check stays OUTSIDE the
    * lock — acquiring would create the directory, turning a no-op sweep
    * over removed tables into a directory resurrection. */
  def vacuum(dir: String, retain: Int = ManifestRetention): Seq[String] = {
    if (!Files.isDirectory(Paths.get(dir))) return Seq.empty
    TableLock.withLock(dir) { vacuumLocked(dir, retain) }
  }

  private def vacuumLocked(dir: String, retain: Int): Seq[String] = {
    val current = currentManifest(dir)
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    // 1. Prune superseded manifest files past the retention window first (a
    //    per-microbatch merge cadence would otherwise grow _manifest forever
    //    and slow every currentManifest listing).
    current.foreach { _ =>
      val md = Paths.get(dir, ManifestDir)
      listDir(md)
        .filter(_.getFileName.toString.matches("v\\d{12}\\.json"))
        .sortBy(_.getFileName.toString)
        .dropRight(retain + 1)
        .foreach(Files.delete)
    }
    // 2. Live epochs = everything ANY retained manifest still references —
    //    readAt() must keep working for the whole retention window, not
    //    just the newest version. A version's own epoch stays live even
    //    when it owns no buckets (an empty snapshot committed before the
    //    manifest recorded the schema keeps its schema there).
    val live: Set[Long] = {
      val md = Paths.get(dir, ManifestDir)
      if (!Files.isDirectory(md)) Set.empty
      else listDir(md)
        .filter(_.getFileName.toString.matches("v\\d{12}\\.json"))
        .map(p => parse(new String(Files.readAllBytes(p), "UTF-8")))
        .flatMap(m => m.buckets.values.toSet + m.version)
        .toSet
    }
    val doomed = listDir(root)
      .filter(p => p.getFileName.toString.matches("e\\d+") &&
        !live.contains(p.getFileName.toString.stripPrefix("e").toLong))
    // 3. Reclaim pre-manifest flat-layout bucket dirs orphaned by the
    //    layout upgrade (only once a manifest owns the table).
    val legacy = if (current.isEmpty) Seq.empty
    else listDir(root).filter(_.getFileName.toString.startsWith(s"$BucketCol="))
    (doomed ++ legacy).foreach { p =>
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
    (doomed ++ legacy).map(_.getFileName.toString).sorted
  }
}
