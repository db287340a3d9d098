package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import graft.sources.Tables

/** Fixture-schema-drift guard (round-10 verdict item #2).
  *
  * The round-9 breakage: the driver regenerated `events.parquet` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and the old unconditional
  * ns-as-long shim failed analysis, zeroing out 24/151 keys with no test
  * catching it. This spec pins the contract that survives ANY such
  * regeneration: every `Tables.*` loader must resolve on a session WITHOUT
  * the legacy nanos conf, at every tier, and `events.ts` must come out a
  * plain µs TIMESTAMP carrying the same instant whatever the footer
  * encodes (ns-as-long, µs NTZ, or µs UTC-adjusted). `Tables.load`'s
  * schema memo must never serve a schema that the current footer, or the
  * calling session's parquet confs, no longer resolve to.
  */
class FixtureDriftSpec extends SparkSpec {

  private val tiers =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("every table loads on a vanilla session (no legacy confs) at all tiers") {
    // newSession shares the context but gets its own SQLConf; drop the
    // legacy conf once — no load may set it back on the caller's session
    val vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.session.timeZone", "UTC")
    vanilla.conf.unset(nanosAsLong)
    for (tier <- tiers; name <- tables) {
      val df = name match {
        case "events" => Tables.events(vanilla, tier)
        case other    => Tables.load(vanilla, tier, other)
      }
      // analysis + one row forces the physical parquet read path
      assert(df.limit(1).count() == 1, s"$tier/$name: empty or unreadable")
      if (name == "events")
        assert(df.schema("ts").dataType == TimestampType,
          s"$tier/events.ts resolved to ${df.schema("ts").dataType}, want µs TIMESTAMP")
    }
    assert(!vanilla.conf.getOption(nanosAsLong).contains("true"),
      "a µs fixture load set nanosAsLong on the caller's session")
  }

  test("events.ts instants are session-timezone-INDEPENDENT (external non-UTC caller)") {
    // the round-10 review catch: a bare NTZ→timestamp cast interprets the
    // stored wall-clock in the session zone — hours off for any caller
    // not pinned to UTC. Pin equality of unix_micros across UTC and a
    // DST-observing zone on the real fixture.
    val utc = spark.newSession()
    utc.conf.set("spark.sql.session.timeZone", "UTC")
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    def micros(s: org.apache.spark.sql.SparkSession): Map[Long, Long] =
      Tables.events(s, "/root/testdata/sf0.001")
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(micros(ny) == micros(utc),
      "events.ts drifts with the session timezone — external callers get shifted instants")
  }

  test("Tables.events normalizes ns-long, µs-NTZ and µs-UTC encodings identically") {
    val base = java.nio.file.Files.createTempDirectory("graft-drift").toString
    // Ground truth: 1000 instants straddling a second boundary, in µs.
    val us = spark.range(1000)
      .select(col("id").as("event_id"),
        (lit(1700000000000000L) + col("id") * 999937L).as("us"))

    // (a) ns-as-long: plain INT64 column named ts holding ns since epoch.
    //     (Spark cannot WRITE parquet TIMESTAMP(NANOS); the contract under
    //     test is the RESOLVED LongType branch, which is identical for a
    //     NANOS footer read under nanosAsLong and for a plain int64.)
    us.select(col("event_id"), (col("us") * 1000L + 537L).as("ts"))
      .write.mode("overwrite").parquet(s"$base/ns/events.parquet")
    // (b) µs TIMESTAMP_NTZ — what the round-9 regenerated fixture encodes.
    us.select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    // (c) µs UTC-adjusted TIMESTAMP — the pre-round-3 encoding.
    us.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$base/utc/events.parquet")

    val expected = us.select(col("event_id"), col("us")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (enc <- Seq("ns", "ntz", "utc")) {
      val got = Tables.events(spark, s"$base/$enc")
      assert(got.schema("ts").dataType == TimestampType, s"$enc: wrong type")
      val vals = got.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(vals == expected, s"$enc: µs instants differ from ground truth")
    }
  }

  /** Schema, row count and an order-free content hash of a frame. */
  private def fingerprint(df: DataFrame): (StructType, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hash(df.columns.map(col): _*).cast("long"))).head
    (df.schema, r.getLong(0), r.getLong(1))
  }

  /** Tables.load, twice (the second a memo hit), must match a bare read. */
  private def assertMatchesBareRead(s: SparkSession, dir: String, name: String,
                                    what: String): Unit = {
    val bare = fingerprint(s.read.parquet(s"$dir/$name.parquet"))
    for (i <- 1 to 2)
      assert(fingerprint(Tables.load(s, dir, name)) == bare, s"$what, load $i: differs from a bare read")
  }

  test("a fixture rewritten in place is re-inferred, never served a stale schema") {
    val base = Files.createTempDirectory("graft-memo").toString
    val v1 = spark.range(50).select(col("id").cast("int").as("k"),
      (col("id") * 3).cast("int").as("v"))
    val versions = Seq(
      "original" -> v1,
      "changed type" -> v1.select(col("k"), col("v").cast("long").as("v")),
      "added column" -> v1.select(col("k"), col("v").cast("long").as("v"),
        (col("k") * 0.5).as("w")))
    // a single-file fixture, as the driver generates them
    def writeFile(df: DataFrame): Unit = {
      val tmp = s"$base/tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$base/file.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    // a Spark-written directory
    def writeDir(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$base/dir.parquet")
    for ((name, write) <- Seq("file" -> (writeFile _), "dir" -> (writeDir _));
         (what, df) <- versions) {
      write(df)
      def fields(t: StructType) = t.fields.toSeq.map(f => f.name -> f.dataType)
      assert(fields(Tables.load(spark, base, name).schema) == fields(df.schema),
        s"$name/$what: stale schema")
      assertMatchesBareRead(spark, base, name, s"$name/$what")
    }
  }

  /** A single-file fixture of (event_id, ts) rows with `tsType` as the
    * footer's ts annotation, written as a non-Spark generator would: no
    * Spark schema in the footer metadata (Spark cannot write NANOS). */
  private def writeEvents(path: String, tsType: String, ts: Long => Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message m { required int64 event_id; required int64 ts ($tsType); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val w = ExampleParquetWriter.builder(out).withConf(conf).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try for (i <- 0 until 100)
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ts(i)))
    finally w.close()
  }

  test("the schema memo resolves per session: one path, two parquet confs") {
    val base = Files.createTempDirectory("graft-memo-conf").toString
    writeEvents(s"$base/events.parquet", "TIMESTAMP(MICROS,false)",
      i => 1700000000000000L + i * 999937L)
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for (_ <- 1 to 2) {
      assert(Tables.load(ntz, base, "events").schema("ts").dataType == TimestampNTZType)
      assert(Tables.load(ltz, base, "events").schema("ts").dataType == TimestampType)
    }
    assertMatchesBareRead(ntz, base, "events", "inferTimestampNTZ on")
    assertMatchesBareRead(ltz, base, "events", "inferTimestampNTZ off")
  }

  test("a NANOS footer resolves per session; the failed vanilla inference is not cached") {
    val base = Files.createTempDirectory("graft-memo-ns").toString
    writeEvents(s"$base/events.parquet", "TIMESTAMP(NANOS,true)",
      i => 1700000000000000000L + i * 999937L)
    val nanos = spark.newSession()
    nanos.conf.set(nanosAsLong, "true")
    val vanilla = spark.newSession()
    vanilla.conf.unset(nanosAsLong)
    intercept[Exception](vanilla.read.parquet(s"$base/events.parquet").schema)
    intercept[Exception](Tables.load(vanilla, base, "events"))
    assert(Tables.load(nanos, base, "events").schema("ts").dataType == LongType)
    assertMatchesBareRead(nanos, base, "events", "nanosAsLong")
    // not served the nanosAsLong session's entry, and still failing
    intercept[Exception](Tables.load(vanilla, base, "events"))
  }

  test("Tables.events on a vanilla session still reads a NANOS footer, as µs instants") {
    val base = Files.createTempDirectory("graft-events-ns").toString
    val ns = (i: Long) => 1700000000000000000L + i * 999937L
    writeEvents(s"$base/events.parquet", "TIMESTAMP(NANOS,true)", ns)
    val vanilla = spark.newSession()
    vanilla.conf.unset(nanosAsLong)
    val got = Tables.events(vanilla, base)
    assert(got.schema("ts").dataType == TimestampType)
    val vals = got.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals == (0L until 100L).map(i => i -> ns(i) / 1000).toMap,
      "µs instants differ from the written ns values")
  }

  test("events.ts loads as long under the legacy conf only when footer is ns") {
    // On the CURRENT fixtures (µs) the legacy conf must be a no-op: the
    // raw read already resolves to a timestamp type, never LongType.
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    assert(raw.schema("ts").dataType != LongType,
      "current fixture read as long — nanosAsLong leaked onto a µs column")
  }
}
