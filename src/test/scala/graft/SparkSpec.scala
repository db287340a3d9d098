package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** smoke tier fixtures (TESTDATA.md) */
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
