package graft.tools

import graft.{Session, SparkEntry}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** Dev probe: Spark JOB count per declared key — the fixed-cost floor
  * auditor for the driver-blip keys (verdict r16 #5: q_dedup,
  * q_join_bcast, q_join_range, q_intersect_all tripped the single-run
  * 2× threshold on per-query job count, not plan cost). A key whose
  * count() is one job has no extra actions to fold.
  * Usage: runMain graft.tools.ProbeJobs <sfDir> <key>[,<key>…]
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    for (k <- keys; fn <- SparkEntry.queries.get(k)) {
      fn(spark, d).count() // warm: AQE shape, codegen, footer cache
      Thread.sleep(200); jobs.set(0)
      val t0 = System.nanoTime()
      val n = fn(spark, d).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let late listener events drain
      println(f"[jobs] $k%-22s jobs=${jobs.get()} rows=$n t=$secs%.2fs")
    }
    spark.stop()
  }
}
