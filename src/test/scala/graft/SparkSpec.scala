package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks one JVM for tests). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's class-loader setup (GraftSession): one executor class
      // loader, so one codegen cache, shared by every session and query
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
