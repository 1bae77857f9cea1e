package graft.operators

import graft.{MemoRegistry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Parked pins are per owner: parking frees only the same owner's previous
  * pins, and a harness reset frees every owner's. */
class PinsSpec extends SparkSpec {
  private def pin(): DataFrame = spark.range(10).toDF("id").localCheckpoint(true)

  private def level(df: DataFrame): StorageLevel = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.getStorageLevel
    case other => fail(s"not a checkpoint: $other")
  }

  test("park frees the owner's previous pins and leaves other owners' alone") {
    val a1 = pin(); val b = pin()
    Pins.park("PinsSpec:a", a1)
    Pins.park("PinsSpec:b", b)
    val a2 = pin()
    Pins.park("PinsSpec:a", a2)
    assert(level(a1) == StorageLevel.NONE)
    assert(level(b) != StorageLevel.NONE && level(a2) != StorageLevel.NONE)
    assert(b.count() == 10 && a2.count() == 10)
    Pins.park("PinsSpec:a")
    Pins.park("PinsSpec:b")
    assert(level(a2) == StorageLevel.NONE && level(b) == StorageLevel.NONE)
  }

  test("MemoRegistry.resetAll frees every parked pin") {
    val a = pin(); val b = pin()
    Pins.park("PinsSpec:reset-a", a)
    Pins.park("PinsSpec:reset-b", b)
    MemoRegistry.resetAll()
    assert(level(a) == StorageLevel.NONE && level(b) == StorageLevel.NONE)
  }

  test("processDelta's result is parked per store and freed by the next round") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("pinsdelta").toString + "/sigs"
    val words = "the quick brown fox jumps over a lazy dog near the river bank today"
    def docs(ids: Seq[Long]) = ids.map { i =>
      (i, words.split(' ').map(w => s"${w}g${i / 10}").mkString(" ") + s" tail${i % 10}")
    }.toDF("doc_id", "text")
    IncrementalDedup.initStore(store, docs(Seq(10L, 20L)))
    val first = IncrementalDedup.processDelta(spark, store, docs(Seq(10L, 11L, 20L)), docs(Seq(11L)))
    assert(first.count() > 0 && level(first) != StorageLevel.NONE)
    val second = IncrementalDedup.processDelta(spark, store,
      docs(Seq(10L, 11L, 20L, 21L)), docs(Seq(21L)))
    assert(level(first) == StorageLevel.NONE)
    assert(second.count() > 0 && level(second) != StorageLevel.NONE)
    Pins.park(s"delta:$store")
  }
}
