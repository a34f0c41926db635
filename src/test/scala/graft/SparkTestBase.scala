package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite, built by the engine's
  * own factory on 4 cores, so specs plan under the conf the mains run.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = GraftEngine.localSession(4, "graft-test")
}
