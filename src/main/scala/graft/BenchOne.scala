package graft

/** Dev tool: [[Bench]]'s per-query measurement ([[Bench.measure]]: same
  * session, isolation, untimed warmup, median-of-3 and metrics) restricted
  * to the named queries — the optimize-loop harness, so a single query's
  * number can be re-measured without the full 200+ sweep. Takes query
  * names as args; prints one line per query. The official board stays
  * [[Bench]]. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.warmSession()
    args.foreach { name =>
      val (sec, m, _) = Bench.measure(spark, sfDir, name)
      println(f"BENCHONE $name%-40s median=$sec%7.3f s  input=${m.inputBytes}%d B " +
        f"shuffleWrite=${m.shuffleWriteBytes}%d B " +
        f"spill=${m.memorySpillBytes + m.diskSpillBytes}%d B")
    }
    spark.stop()
  }
}
