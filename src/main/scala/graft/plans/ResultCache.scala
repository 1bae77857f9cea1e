package graft.plans

import graft.operators.{ParquetLayout, TableLock}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.nio.file.{Files, Paths}

/** Version-aware query RESULT cache: repeated reads of the same query over
  * unchanged data are served from a materialized parquet result instead of
  * re-running the plan — the dashboard/saved-query workload of a shared
  * warehouse, where the same rollup is requested orders of magnitude more
  * often than its inputs change.
  *
  * The cache key is an md5 over
  *  - the CANONICALIZED optimized plan (expression ids normalized by
  *    Catalyst itself, so two sessions building the same query agree),
  *    rendered UNTRUNCATED (`treeString` with unlimited maxFields — the
  *    default `toString` elides operator arg lists beyond
  *    `spark.sql.debug.maxToStringFields` to "... N more fields", which
  *    would give two queries differing only in an elided expression the
  *    same key), and
  *  - every leaf input file's (path, length, modificationTime).
  * Any data change — a new file, a rewritten bucket, a compaction — moves
  * the key, so a hit can never serve stale rows; there is no TTL to tune
  * and no explicit invalidation call to forget. Granularity caveat: an
  * in-place rewrite that preserves a file's byte length within one
  * modification-time tick (1 ms on POSIX-local; coarser on some object
  * stores) is invisible to the key — the supported mutation protocol is
  * what every writer in this repo does (write new files / atomic-rename
  * directories), never same-length in-place patching. Queries with a
  * NON-file-backed leaf (local relations, temp views over in-memory data,
  * JDBC) are REFUSED at fingerprint time: their data is invisible to the
  * file-status key (two different local relations even canonicalize to
  * the same plan text), so caching them could serve another query's rows.
  *
  * Results land under `cacheDir/<key>` via a temp-dir + atomic-rename
  * publish (concurrent writers of the same key: one rename wins, the
  * loser discards — both computed identical bytes), guarded by the
  * store's advisory [[TableLock]] only around the rename so readers never
  * see a partial result. Eviction renames the victim OUT of the key
  * space first (atomic disappear), then deletes — a concurrent reader
  * either sees the whole entry or a clean miss/failure, never a silent
  * subset; the residual hazard (a lazy read that resolved the path before
  * an eviction) fails loudly at action time, the same contract as any
  * table dropped mid-query.
  *
  * Scale: the cached artifact is the query RESULT (rollup-sized), not the
  * input; `prune` bounds the directory by entry count AND total bytes
  * (oldest access evicted first — a single giant cached result cannot
  * hide from the bound), and sweeps orphaned `.tmp-*`/`.evict-*` debris
  * left by crashed writers. Not a substitute for [[graft.operators.IncrementalAgg]]
  * — that maintains a rollup under appends; this memoizes arbitrary
  * results between changes. */
final class ResultCache(spark: SparkSession, cacheDir: String) {

  Files.createDirectories(Paths.get(cacheDir))

  /** Run (or serve) `df`. `hits`/`misses` counters are exposed for specs
    * and ops visibility. */
  def run(df: DataFrame): DataFrame = {
    val key = fingerprint(df)
    val target = Paths.get(cacheDir, key)
    if (Files.isDirectory(target)) {
      hits.incrementAndGet()
      touch(target)
      spark.read.parquet(target.toString)
    } else {
      misses.incrementAndGet()
      val tmp = Paths.get(cacheDir, s".tmp-$key-${java.util.UUID.randomUUID()}")
      ParquetLayout.writer(df).mode("overwrite").parquet(tmp.toString)
      TableLock.withLock(cacheDir) {
        if (Files.isDirectory(target)) {
          // another writer published the same key first: identical bytes
          // by construction — discard ours
          delete(tmp)
        } else {
          Files.move(tmp, target)
        }
      }
      touch(target)
      spark.read.parquet(target.toString)
    }
  }

  /** The version-aware key: canonicalized plan + input file statuses.
    * Throws for plans with a non-file-backed leaf — see the class doc. */
  def fingerprint(df: DataFrame): String = {
    val nonFile = df.queryExecution.analyzed.collect {
      case l: LeafNode if !l.isInstanceOf[LogicalRelation] => l.nodeName
      case lr: LogicalRelation if !lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.getClass.getSimpleName
    }
    require(nonFile.isEmpty,
      s"ResultCache keys on input FILE statuses; plan has non-file leaves " +
        s"(${nonFile.distinct.mkString(", ")}) whose data the key cannot see " +
        "— caching them could serve stale or foreign rows")
    // UNTRUNCATED render: plain toString caps operator arg lists at
    // spark.sql.debug.maxToStringFields (25), so e.g. two Projects over
    // >25 columns differing only in column 26 would collide
    val plan = df.queryExecution.optimizedPlan.canonicalized.treeString(
      verbose = true, addSuffix = false, maxFields = Int.MaxValue,
      printOperatorId = false, printOutputColumns = true)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val inputs = df.inputFiles.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(hadoopConf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(plan.getBytes("UTF-8"))
    inputs.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Keep only the most recently ACCESSED results, bounded by BOTH entry
    * count and total cached bytes (`maxBytes` sums every file under each
    * entry, so one giant result cannot hide from the bound — it simply
    * counts for what it weighs). Victims are renamed out of the key space
    * atomically BEFORE deletion. Also sweeps `.tmp-*`/`.evict-*` debris
    * older than `orphanAgeMs` — a writer that crashed between its temp
    * parquet write and the locked publish leaves such a directory that no
    * success path ever revisits; age-gating keeps the sweep from racing a
    * LIVE writer's in-flight temp dir. */
  def prune(maxEntries: Int, maxBytes: Long = Long.MaxValue,
            orphanAgeMs: Long = 3600000L): Unit = TableLock.withLock(cacheDir) {
    val (hidden, visible) = listDir(Paths.get(cacheDir))
      .partition(_.getFileName.toString.startsWith("."))
    // crashed-writer debris: dot-prefixed and past the age gate
    val now = System.currentTimeMillis()
    hidden.filter { p =>
      val n = p.getFileName.toString
      (n.startsWith(".tmp-") || n.startsWith(".evict-")) &&
        now - Files.getLastModifiedTime(p).toMillis >= orphanAgeMs
    }.foreach(delete)
    val entries = visible.filter(Files.isDirectory(_))
      .map(p => (p, entryBytes(p)))
      .sortBy { case (p, _) => -Files.getLastModifiedTime(p).toMillis }
    // newest-accessed first: keep every entry that still FITS the
    // remaining budgets (not just a recency prefix — dropWhile here would
    // let one giant most-recent result evict the entire rest of the cache
    // even though the smaller, older entries fit the leftover budget)
    var kept = 0
    var bytes = 0L
    val victims = entries.filterNot { case (_, sz) =>
      val fits = kept < maxEntries && bytes + sz <= maxBytes
      if (fits) { kept += 1; bytes += sz }
      fits
    }
    victims.foreach { case (victim, _) =>
      val hid = victim.resolveSibling(
        s".evict-${victim.getFileName}-${java.util.UUID.randomUUID()}")
      Files.move(victim, hid) // atomic disappear from the key space
      delete(hid)
    }
  }

  /** Total bytes of every regular file under an entry directory. */
  private def entryBytes(dir: java.nio.file.Path): Long = {
    val w = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    } finally w.close()
  }

  /** Files.list with the stream closed (it holds a directory fd). */
  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList
    } finally s.close()
  }

  private def touch(p: java.nio.file.Path): Unit =
    try Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch {
      // entry evicted between the existence check and the touch: the read
      // will surface it; access-time upkeep must not
      case _: java.nio.file.NoSuchFileException => ()
    }

  private def delete(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      } finally w.close()
    } else Files.deleteIfExists(p)
    ()
  }

  val hits = new java.util.concurrent.atomic.AtomicLong(0L)
  val misses = new java.util.concurrent.atomic.AtomicLong(0L)
}
