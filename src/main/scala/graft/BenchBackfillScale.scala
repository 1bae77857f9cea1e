package graft

import graft.sources.{Backfiller, DistributedBackfill}

/** Scale-evidence sidecar for the DataSourceV2 distributed backfill (the
  * q88/q89 protocol family): pages/sec as the CURSOR count grows 10x.
  *
  * The operator's 100 TB claim is that each independent cursor is one
  * InputPartition whose whole pagination loop runs inside an executor
  * task — so concurrency is bounded by executor slots, not driver memory,
  * and 10x the cursors (10x the pages) should cost far less than 10x the
  * wall time until slots saturate. Two workload flavors per cursor count:
  *
  *  - `cpu`: zero-latency fetchers (page assembly only) — measures the
  *    source's own throughput ceiling (pages/sec should RISE with cursor
  *    count as partitions cover the 32 slots);
  *  - `latency`: 2 ms simulated remote-API latency per page — the
  *    realistic regime; ideal wall is pages * 2 ms / slots, so scaling
  *    pages 10x should scale wall ~10x at saturated slots while staying
  *    ~32x below the serial loop's pages * 2 ms.
  *
  * Deterministic synthetic pages (no RNG); emits ONE JSON line and writes
  * `BENCH_sf1_backfill.json` in the cwd.
  */
object BenchBackfillScale {

  private def fetcher(cursor: Long, pages: Int, perPage: Int,
                      latencyMs: Long): DistributedBackfill.PageFetcher =
    new DistributedBackfill.PageFetcher {
      def fetchPage(token: Option[String]): (Seq[String], Option[String]) = {
        if (latencyMs > 0) Thread.sleep(latencyMs)
        val p = token.map(_.toInt).getOrElse(0)
        val page = (0 until perPage).map { i =>
          val id = cursor * 1000000L + p.toLong * perPage + i
          s"""{"id":$id,"cursor":$cursor,"page":$p,"i":$i}"""
        }
        (page, if (p + 1 < pages) Some((p + 1).toString) else None)
      }
    }

  def main(args: Array[String]): Unit = {
    val baseCursors = sys.env.getOrElse("SPARK_GRAFT_SCALE_CURSORS", "150").toInt
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val pagesPerCursor = 20
    val perPage = 25
    val spark = EngineSession.create()

    val rounds = for {
      c <- Seq(baseCursors, baseCursors * copies)
      (mode, latency) <- Seq(("cpu", 0L), ("latency", 2L))
    } yield {
      val fetchers: Seq[Backfiller.PageFetcher with Serializable] =
        (0 until c).map(i => fetcher(i.toLong, pagesPerCursor, perPage, latency))
      var items = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        items = DistributedBackfill.read(spark, fetchers).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val sec = Seq(once(), once(), once()).sorted.apply(1)
      val pages = c.toLong * pagesPerCursor
      assert(items == pages * perPage, s"expected ${pages * perPage} items, got $items")
      (c, mode, pages, items, sec)
    }

    val rJson = rounds.map { case (c, mode, pages, items, sec) =>
      s"""{"cursors":$c,"mode":"$mode","pages":$pages,"items":$items,""" +
        s""""sec":${ScaleCorpus.fmt(sec)},"pages_per_sec":${ScaleCorpus.fmt(pages / sec)}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"backfill_scale","unit":"sec","rounds":$rJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_backfill.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
