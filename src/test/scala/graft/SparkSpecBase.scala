package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM; sbt forks once). */
object SparkSpecBase {
  lazy val spark: SparkSession = Harness.start(Harness.builder(8)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft_warehouse"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
