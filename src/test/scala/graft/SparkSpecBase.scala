package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared across all suites (sbt forks a single test JVM;
  * per-suite sessions would pay ~5s startup each). Built through the
  * library's front door, so tests run under the same posture as the mains
  * (graft extensions bound), on four task slots and shuffle partitions.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
