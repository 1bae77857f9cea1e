package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are cheap). */
object TestSpark {
  // 8 cores whatever the host: the plan goldens lock 8 shuffle partitions
  lazy val spark: SparkSession = EngineSession.create(8)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
