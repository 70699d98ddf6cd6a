package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build("8", logLevel = None)

  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"
}
