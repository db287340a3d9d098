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
  def shuffleBranch[A](body: => A): A =
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  /** `body` with the given session confs, restored after. */
  def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
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
