package graft

import graft.sources.Tables

/** Diagnostic (not a test): try EVERY declared oracle through
  * spark.sql and classify it — OK (rows match the DataFrame query),
  * MISMATCH, or PARSE/RESOLVE error — to decide which keys belong in
  * SqlEntrySpec.ansiCommon. Run: sbt "Test/runMain graft.SqlEntryScan" */
object SqlEntryScan {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"))
      (t match {
        case "events" => Tables.events(spark, d)
        case other    => Tables.load(spark, d, other)
      }).createOrReplaceTempView(t)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    }
    for ((k, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)) {
      val verdict = try {
        val viaSql = rows(spark.sql(sql))
        val viaDf = rows(SparkEntry.queries(k)(spark, d))
        if (viaDf == viaSql) "OK"
        else s"MISMATCH df=${viaDf.size} sql=${viaSql.size}"
      } catch { case e: Throwable =>
        "ERR " + String.valueOf(e.getMessage)
          .linesIterator.take(1).mkString.take(110)
      }
      println(s"[sqlscan] $k\t$verdict")
    }
    spark.stop()
  }
}
