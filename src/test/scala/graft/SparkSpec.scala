package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single-session base for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The entry points' own session, so a conf dropped from the shared
    * builder shows up in the suites.
    */
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
