package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks one JVM for tests),
  * built with the engine's own settings ([[GraftSession.builder]]) plus the
  * test-only overrides below. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
