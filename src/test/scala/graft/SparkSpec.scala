package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (tests fork one JVM). */
object TestSpark {
  val conf: Seq[(String, String)] = GraftSession.localConf(4, Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse"))

  lazy val spark: SparkSession = GraftSession.create(conf)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  TestSpark.spark.sparkContext.setLogLevel("ERROR")
}
