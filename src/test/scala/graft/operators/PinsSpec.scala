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
}
