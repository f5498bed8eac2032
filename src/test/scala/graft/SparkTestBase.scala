package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  // the product profile: tests exercise the configuration users get
  lazy val spark: SparkSession = Graft.session("local[4]", 4)
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf0001: String = SparkTestBase.sf0001
}
