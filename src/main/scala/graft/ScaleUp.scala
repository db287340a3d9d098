package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Synthesizes a larger tier from an existing one by unioning key-offset
  * replicas — every key column (and its foreign references) shifts by the
  * same per-replica offset, so FK structure, join selectivity, and
  * per-key cardinalities are preserved and query outputs scale linearly.
  * Used to measure how the declared plans behave at 10× the bench tier
  * (the honest scale-up probe; replicating rows WITHOUT offsets would
  * quadratically inflate self-joins instead).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> [replicas]
  */
object ScaleUp {
  /** key columns per table, all offset by replica × stride */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey"),
    "nation"     -> Seq("n_nationkey", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_nationkey"),
    "supplier"   -> Seq("s_suppkey", "s_nationkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Stride = 100000000L // far above any fixture key

  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the session's nanosAsLong lets an ns-encoded source events fixture
    // load, and the scaled copy then holds a plain BIGINT ns column; a
    // µs fixture passes through as TIMESTAMP/NTZ — Tables.events sniffs
    // the resolved type and normalizes either encoding (FixtureDriftSpec)
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for ((table, keys) <- keyCols) {
      val base = Tables.load(spark, src, table)
      val scaled: DataFrame = (0 until replicas).map { i =>
        keys.foldLeft(base) { (df, k) =>
          // int keys (nation/region) stay int-ranged via small stride
          val stride = if (df.schema(k).dataType.typeName == "integer") 1000L
                       else Stride
          df.withColumn(k, (col(k) + lit(i * stride)).cast(df.schema(k).dataType))
        }
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${base.count()} -> ${scaled.count()} rows")
    }
    spark.stop()
  }
}
