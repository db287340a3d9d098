package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** smoke tier fixtures (TESTDATA.md) */
  val sf0001 = "/root/testdata/sf0.001"

  /** `body` with both broadcast thresholds at −1: the shuffle branch a
    * corpus-scale batch takes on its own. */
  def shuffleBranch[A](body: => A): A = {
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = thresholds.map(t => t -> spark.conf.getOption(t)).toMap
    thresholds.foreach(spark.conf.set(_, "-1"))
    try body
    finally prev.foreach {
      case (t, Some(v)) => spark.conf.set(t, v)
      case (t, None)    => spark.conf.unset(t)
    }
  }
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
