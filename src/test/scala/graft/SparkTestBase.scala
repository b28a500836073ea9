package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object = JVM singleton),
  * built by the mains' recipe on 4 cores.
  */
object SparkTestBase {
  lazy val spark: SparkSession = Harness.session(4)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"
}
