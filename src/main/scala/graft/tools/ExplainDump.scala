package graft.tools

import graft.{Session, SparkEntry}

/** Dev tool: write `.explain("formatted")` for declared keys to files —
  * the plans/r18 before/after evidence the optimization rounds commit.
  * Collects each key's own DataFrame first (not a `count()`, which runs
  * a different query), so both the formatted plan and the executed-plan
  * string show the plan AQE actually ran (`isFinalPlan=true`), with
  * every adaptive branch it took.
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
      df.collect() // run this plan, so AQE finalizes it
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val out = s"$outDir/${k}_$suffix.txt"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"== explain(formatted) — $k @ $d ==\n" + formatted +
          "\n\n== executed plan (AQE final) ==\n" + executed)
      println(s"[explain] wrote $out")
    }
    spark.stop()
  }
}
