package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** An operator call on one root must not invalidate the frame another
  * root's call returned: the pins behind a returned frame belong to its
  * root, not to the JVM. */
class TwoRootPinSpec extends SparkSpec {
  import spark.implicits._

  private def root(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Reads `df` through a NEW plan: collecting the same Dataset again would
    * reuse its finished shuffle stages and never touch the pins behind it. */
  private def reread(df: DataFrame): Seq[Row] = df.select("*").collect().toSeq

  test("a probe on root B leaves root A's probe report readable") {
    val s = "the quick brown fox jumps over the dogsx"
    val docs = Seq(1L -> s"aaaa bbbb $s cccc",
      2L -> "totally unique content with nothing shared anywhere at all")
      .toDF("doc_id", "text")
    val a = root("pins-probe-a"); val b = root("pins-probe-b")
    Seq(a, b).foreach(r => IncrementalSubstr.ingest(spark, r, docs, docs))
    val probeDocs = Seq(70L -> s"pp $s qq").toDF("doc_id", "text")
    val fromA = IncrementalSubstr.probe(spark, a, probeDocs)
    val first = fromA.collect().toSeq
    IncrementalSubstr.probe(spark, b, probeDocs).collect()
    assert(first.nonEmpty && reread(fromA) == first)
  }

  test("a search on root B leaves root A's search result readable") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val a = root("pins-search-a"); val b = root("pins-search-b")
    Seq(a, b).foreach(r => InvIndex.ingest(spark, r, docs, 0L))
    val terms = Seq("join", "hash", "filter")
    val fromA = InvIndex.search(spark, a, terms, 10)
    val first = fromA.collect().toSeq
    InvIndex.search(spark, b, terms, 10).collect()
    assert(first.nonEmpty && reread(fromA) == first)
  }
}
