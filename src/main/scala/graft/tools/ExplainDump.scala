package graft.tools

import graft.{Session, SparkEntry}

/** Dev tool: write `.explain("formatted")` for declared keys to files —
  * the plans/r18 before/after evidence the optimization rounds commit.
  * Runs each key once first so AQE's final plan (the one that actually
  * executed) is what gets dumped, then writes BOTH the pre-execution
  * formatted plan and the executed-plan string.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <key>[,<key>…]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(d, outDir, suffix, keyCsv) = args.take(4)
    val keys = keyCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (k <- keys; fn <- SparkEntry.queries.get(k)) {
      val df = fn(spark, d)
      df.count() // execute so AQE finalizes subplans
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val out = s"$outDir/${k}_$suffix.txt"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"== explain(formatted) — $k @ $d ==\n" + formatted +
          "\n\n== executed plan (post-AQE where finalized) ==\n" + executed)
      println(s"[explain] wrote $out")
    }
    spark.stop()
  }
}
