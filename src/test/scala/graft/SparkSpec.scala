package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session): the
  * engine's own session, so the tests check what Bench and Verify run.
  */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(4)
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
