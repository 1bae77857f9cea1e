package graft

/** Dev tool: print formatted physical plans for the named queries (all when
  * none named) — used to audit pushdown/broadcast/codegen per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = EngineSession.create()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Exception => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
