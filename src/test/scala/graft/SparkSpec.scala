package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM SparkSession built by
  * [[GraftSession.local]], with 4 cores (and so 4 shuffle partitions)
  * to match the test scale. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
