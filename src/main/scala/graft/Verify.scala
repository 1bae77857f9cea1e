package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * Usage: `Verify <sfDir> <outDir> [query ...]`. With query names, only
  * those are dumped and listed in oracle_sql.json (fast iteration on a
  * few queries; `tools/check.py` then compares exactly those). */
object Verify {

  /** oracle_sql.json's text: one JSON object of name -> SQL, in name
    * order. Jackson escapes every control character, so a tab or CR in
    * an oracle's SQL cannot break a JSON reader. */
  def oracleJson(sqls: Iterable[(String, String)]): String = {
    val m = new java.util.LinkedHashMap[String, String]()
    sqls.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    new ObjectMapper().writeValueAsString(m)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def selected(name: String): Boolean = names.isEmpty || names(name)
    val spark = EngineSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (name, _) => selected(name) }))
    spark.stop()
  }
}
