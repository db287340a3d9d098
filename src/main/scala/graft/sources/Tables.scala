package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every declared query reads ONLY through these — one place to change if
  * the physical layout evolves (partitioned dirs, bucketed tables, a real
  * catalog). At cluster scale these would be catalog tables with
  * statistics; here they are parquet scans, which Spark's vectorized
  * reader + Catalyst pushdown already handle well.
  *
  * Each table's schema is resolved once and then supplied to the reader:
  * footer inference is a Spark job of its own, and at small scale it was
  * about a quarter of a cheap key's jobs. The memo's key is the qualified
  * path, the (path, length, mtime) of every leaf file, and the session's
  * explicitly set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * confs — so a fixture rewritten in place is re-inferred, and a vanilla
  * and a `nanosAsLong` session never share an entry. A failed inference
  * is not cached.
  */
object Tables {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, Long, Long)], Seq[(String, String)]), StructType]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
    // a missing path keys on no files; the inference below raises its error
    try {
      val it = fs.listFiles(qualified, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = (qualified.toString, files.toSeq.sorted, confs)
    val schema = Option(schemas.get(key)).getOrElse {
      val inferred = spark.read.parquet(path.toString).schema
      Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
    }
    spark.read.schema(schema).parquet(path.toString)
  }

  def region(s: SparkSession, d: String)     = load(s, d, "region")
  def nation(s: SparkSession, d: String)     = load(s, d, "nation")
  def customer(s: SparkSession, d: String)   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String)   = load(s, d, "supplier")
  def part(s: SparkSession, d: String)       = load(s, d, "part")
  def orders(s: SparkSession, d: String)     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String)   = load(s, d, "lineitem")
  /** `events.ts` has drifted across fixture generations: parquet
    * TIMESTAMP(NANOS) (which Spark 4 rejects outright unless
    * `spark.sql.legacy.parquet.nanosAsLong` maps it to a long) and
    * TIMESTAMP(MICROS) without UTC adjustment (read as TimestampNTZ).
    * Sniff the RESOLVED type after load and normalize, so the exposed `ts`
    * is always a regular µs TIMESTAMP and window()/session_window()/
    * unix_micros work unchanged whatever the footer encodes:
    *   - LongType (ns-as-long): integer-divide to µs (`div` is exact on
    *     int64 where a double division would lose ULPs at 1.7e18; same
    *     truncation as DuckDB's epoch_us).
    *   - TimestampNTZType: the stored wall-clock IS the UTC instant (the
    *     fixture generator's contract). A bare cast to TIMESTAMP would
    *     interpret it in the SESSION timezone — correct only on the
    *     engine's own UTC-pinned sessions and silently hours off on an
    *     external caller's local-TZ session (the same defensive-caller
    *     contract the nanosAsLong set below exists for). The
    *     `from_utc_timestamp(cast, current_timezone())` composition
    *     cancels the session offset exactly: cast subtracts it,
    *     from_utc_timestamp adds it back — TZ-independent, and a no-op
    *     chain under UTC (bit-identical to the previous behavior there).
    *   - TimestampType: already what we want. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, current_timezone, expr, from_utc_timestamp, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Defensive: lets a vanilla external session read a ns-encoded fixture.
    // Harmless for µs fixtures (the conf only affects NANOS columns).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts",
        from_utc_timestamp(col("ts").cast(TimestampType), current_timezone()))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected ns-long, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, d: String)  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = load(s, d, "embeddings")
}
