package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.SparkSpec

/** Batch-equivalence harness for every s_* surface (SURVEY §2.9/§5.3) —
  * the TopologyTestDriver analog: drive out-of-order micro-batches through
  * MemoryStream, compare the final MemorySink contents to the SAME
  * transform applied in one batch.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  /** Out-of-order fixture: 3 users, views+purchases interleaved across a
    * 3-hour span. Fed in 3 batches with late arrivals inside watermark. */
  private val batch1 = Seq(
    Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(8), 1, "purchase", 10.0),
    Ev(3, ts(10), 2, "view", 1.0), Ev(4, ts(62), 2, "click", 0.5))
  private val batch2 = Seq(
    Ev(5, ts(14), 2, "purchase", 20.0), // 4 min after view 3 → joins
    Ev(6, ts(70), 1, "view", 1.0), Ev(7, ts(85), 1, "purchase", 30.0), // 15 min gap → NO join
    Ev(8, ts(66), 3, "view", 1.0))
  private val batch3 = Seq(
    Ev(9, ts(72), 3, "purchase", 40.0), // 6 min after view 8 → joins
    Ev(10, ts(130), 2, "view", 1.0), Ev(11, ts(131), 2, "purchase", 50.0),
    Ev(12, ts(180), 1, "click", 2.0))
  private val all = batch1 ++ batch2 ++ batch3
  /** sentinel far in the future — advances the watermark past everything */
  private val flush = Seq(Ev(99, ts(100000), 9, "flush", 0.0))

  /** Run `f` over the batches incrementally, return final sink contents. */
  private def runStream(name: String, mode: String,
                        batches: Seq[Seq[Ev]],
                        f: DataFrame => DataFrame): DataFrame = {
    val mem = MemoryStream[Ev](spark)
    val q: StreamingQuery = f(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("s_source_memory: MemoryStream → MemorySink round trip") {
    val out = runStream("t_source", "append", Seq(batch1, batch2),
      df => df.select("event_id", "user_id", "event_type"))
    assert(out.count() === (batch1.size + batch2.size))
    assert(sortedRows(out) ===
      sortedRows((batch1 ++ batch2).toDF().select("event_id", "user_id", "event_type")))
  }

  test("s_tumbling: incremental result equals batch twin") {
    val noFlush = col("event_type") =!= "flush"
    val stream = runStream("t_tumb", "append", Seq(batch1, batch2, batch3, flush),
      Streams.tumbling(_)).filter(noFlush)
    val batch = Streams.tumbling((all ++ flush).toDF()).filter(noFlush)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  // sliding/session use a 60-min watermark here: the fixture's replayed
  // events are up to 48 min late, and unlike tumbling (whose 1-hour windows
  // stay open long enough), 10-min sliding/session windows would correctly
  // DROP them — which s_watermark_late asserts separately.
  test("s_sliding: incremental result equals batch twin") {
    val noFlush = col("event_type") =!= "flush"
    val stream = runStream("t_slide", "append", Seq(batch1, batch2, batch3, flush),
      Streams.sliding(_, watermark = "60 minutes")).filter(noFlush)
    val batch = Streams.sliding((all ++ flush).toDF()).filter(noFlush)
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("s_session: incremental result equals batch twin") {
    val noFlush = col("user_id") =!= 9
    val stream = runStream("t_sess", "append", Seq(batch1, batch2, batch3, flush),
      Streams.session(_, watermark = "60 minutes")).filter(noFlush)
    val batch = Streams.session((all ++ flush).toDF()).filter(noFlush)
    assert(sortedRows(stream) === sortedRows(batch))
    // sanity: user 2's events at minutes 10,14 merge into ONE session
    // (gap < 30m) ending 14+30; the click at 62 starts a new one.
    val u2 = stream.filter(col("user_id") === 2)
      .orderBy("session_start_us").collect()
    assert(u2.head.getAs[Long]("n_events") === 2)
    assert(u2.head.getAs[Long]("session_end_us") === (14L + 30L) * 60000000L)
  }

  test("s_watermark_late: events later than the watermark are dropped") {
    // batch A advances watermark to ~minute 170 (max 180 − 10m wm);
    // batch B's event at minute 30 is hopelessly late → dropped.
    val a = Seq(Ev(1, ts(5), 1, "view", 1.0), Ev(12, ts(180), 1, "click", 2.0))
    val late = Seq(Ev(13, ts(30), 1, "view", 7.0))
    val stream = runStream("t_late", "append", Seq(a, late, flush),
      Streams.tumbling(_))
    // window [0h,1h) must count ONLY event 1 — the late view never lands
    val h0 = stream.filter(col("ws_us") === 0L).collect()
    assert(h0.length === 1 && h0.head.getAs[Long]("n") === 1L)
    // …whereas the batch twin over all rows would count 2 there
    val batchH0 = Streams.tumbling((a ++ late ++ flush).toDF())
      .filter(col("ws_us") === 0L).collect()
    assert(batchH0.head.getAs[Long]("n") === 2L)
  }

  test("s_join_stream_stream: the flagship — equals q_join_interval logic") {
    val mkViews = (df: DataFrame) => df.filter(col("event_type") === "view")
    val mkPurch = (df: DataFrame) => df.filter(col("event_type") === "purchase")
    val mem = MemoryStream[Ev](spark)
    val src = mem.toDF()
    val q = Streams.viewPurchaseJoin(mkViews(src), mkPurch(src))
      .writeStream.format("memory").queryName("t_ssj").outputMode("append").start()
    try Seq(batch1, batch2, batch3, flush).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("t_ssj")
    val batchDf = (all ++ flush).toDF()
    val batch = Streams.viewPurchaseJoin(mkViews(batchDf), mkPurch(batchDf))
    assert(sortedRows(stream) === sortedRows(batch))
    // pairs within 10 min: (1→2, 3 min), (3→5, 4 min), (8→9, 6 min),
    // (10→11, 1 min); NOT (6→7, 15 min)
    val pairs = stream.select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 5L), (8L, 9L), (10L, 11L)))
  }

  test("s_join_stream_stream left-outer: unmatched views get null purchase") {
    val mkViews = (df: DataFrame) => df.filter(col("event_type") === "view")
    val mkPurch = (df: DataFrame) => df.filter(col("event_type") === "purchase")
    val mem = MemoryStream[Ev](spark)
    val src = mem.toDF()
    val q = Streams.viewPurchaseLeftJoin(mkViews(src), mkPurch(src))
      .writeStream.format("memory").queryName("t_ssj_left").outputMode("append").start()
    try Seq(batch1, batch2, batch3, flush).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("t_ssj_left")
    // matched pairs identical to the inner join…
    val matched = stream.filter(col("purchase_id").isNotNull)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === Set((1L, 2L), (3L, 5L), (8L, 9L), (10L, 11L)))
    // …and view 6 (whose only candidate purchase is 15 min away) emits a
    // null row once the watermark passes its window
    val unmatched = stream.filter(col("purchase_id").isNull)
      .select("view_id").collect().map(_.getLong(0)).toSet
    assert(unmatched.contains(6L))
    // batch twin agrees on the full result
    val batchDf = (all ++ flush).toDF()
    val batch = Streams.viewPurchaseLeftJoin(mkViews(batchDf), mkPurch(batchDf))
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("s_join_stream_stream full-outer: both sides' unmatched rows emit") {
    val mkViews = (df: DataFrame) => df.filter(col("event_type") === "view")
    val mkPurch = (df: DataFrame) => df.filter(col("event_type") === "purchase")
    val mem = MemoryStream[Ev](spark)
    val src = mem.toDF()
    val q = Streams.viewPurchaseOuterJoin(mkViews(src), mkPurch(src))
      .writeStream.format("memory").queryName("t_ssj_full")
      .outputMode("append").start()
    try Seq(batch1, batch2, batch3, flush).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("t_ssj_full")
    // matched pairs identical to the inner join
    val matched = stream
      .filter(col("purchase_id").isNotNull && col("view_id").isNotNull)
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === Set((1L, 2L), (3L, 5L), (8L, 9L), (10L, 11L)))
    // view 6 has no purchase within 10 min → null-purchase row;
    // purchase 7 (15 min after its view) matched no view → null-view row
    assert(stream.filter(col("purchase_id").isNull)
      .select("view_id").collect().map(_.getLong(0)).toSet.contains(6L))
    assert(stream.filter(col("view_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet.contains(7L))
    // batch twin agrees on the full result
    val batchDf = (all ++ flush).toDF()
    val batch = Streams.viewPurchaseOuterJoin(mkViews(batchDf), mkPurch(batchDf))
    assert(sortedRows(stream) === sortedRows(batch))
  }

  test("latestPerKey: KTable materialization picks the newest row per user") {
    val latest = graft.Graft.latestPerKey(all.toDF())
    val expected = all.groupBy(_.user_id).map { case (_, evs) =>
      evs.maxBy(e => (e.ts.getTime, e.event_id))
    }.map(_.event_id).toSet
    assert(latest.select("event_id").collect().map(_.getLong(0)).toSet
      === expected)
  }

  test("s_join_stream_table: lookup join tracks the CHANGING table side") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ONE source split by event_type guarantees table and stream rows of
    // the same addData land in the same micro-batch, making the
    // processor's in-batch event-time fold deterministic and testable
    val mem = MemoryStream[Ev](spark)
    val src = mem.toDS()
    val q = Streams.streamTableJoin(
        src.filter(_.event_type == "click"),
        src.filter(_.event_type == "table"))
      .writeStream.format("memory").queryName("t_stj")
      .outputMode("append").start()
    try {
      // batch 1: table row t1 (ts 5), stream rows s1 (ts 10, after t1 in
      // event time → joins t1) and s2 (ts 3, BEFORE t1 in event time —
      // the in-batch fold is by event time, so s2 sees no table row)
      mem.addData(Seq(Ev(100, ts(5), 1, "table", 7.0),
                      Ev(1, ts(10), 1, "click", 1.0),
                      Ev(2, ts(3), 1, "click", 1.0)))
      q.processAllAvailable()
      // batch 2: newer table row t2 (ts 20) replaces t1; s3 joins t2;
      // user 2 has no table row → unmatched
      mem.addData(Seq(Ev(101, ts(20), 1, "table", 9.0),
                      Ev(3, ts(30), 1, "click", 1.0),
                      Ev(4, ts(31), 2, "click", 1.0)))
      q.processAllAvailable()
      // batch 3: STALE table row (ts 1) must NOT replace t2
      mem.addData(Seq(Ev(102, ts(1), 1, "table", 3.0),
                      Ev(5, ts(40), 1, "click", 1.0)))
      q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    val out = spark.table("t_stj").as[EnrichedEv].collect()
      .map(e => e.event_id -> e).toMap
    assert(out(1).matched && out(1).table_event_id === 100L)
    assert(!out(2).matched, "stream row before any table row must be unmatched")
    assert(out(3).matched && out(3).table_event_id === 101L)
    assert(!out(4).matched, "user without table rows must be unmatched")
    assert(out(5).matched && out(5).table_event_id === 101L,
      "stale table update must not regress the table state")
  }

  test("s_timers: event-time timer closes sessions after the gap (punctuate)") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev](spark)
    val q = Streams.sessionCloser(
        mem.toDS().withWatermark("ts", "10 minutes"), gapMinutes = 30)
      .writeStream.format("memory").queryName("t_timers")
      .outputMode("append").start()
    try {
      // user 1: events at minutes 5 and 10 (one session); user 2 at 8
      mem.addData(Seq(Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(10), 1, "view", 1.0),
                      Ev(3, ts(8), 2, "view", 1.0)))
      q.processAllAvailable()
      // nothing fires while the watermark sits behind the gap
      assert(spark.table("t_timers").count() === 0L)
      // flush advances the watermark far past every timer → both sessions
      // close with their event counts and last-activity stamps
      mem.addData(flush); q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    val out = spark.table("t_timers").as[ClosedSession].collect()
      .filter(_.user_id != 9).map(c => c.user_id -> c).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L).n_events === 2L &&
      out(1L).last_ts_us === 10L * 60000000L)
    assert(out(2L).n_events === 1L &&
      out(2L).last_ts_us === 8L * 60000000L)
  }

  test("s_timers_wallclock: processing-time timer fires after the delay, never early") {
    // KS punctuate(WALL_CLOCK_TIME) analog — TimeMode.ProcessingTime:
    // output driven by real time on the host, not by event timestamps.
    // NOTE: a query with processing-time timers runs micro-batches
    // continuously (the engine must keep checking the wall clock), so
    // processAllAvailable() never quiesces — the test POLLS the sink
    // instead, with margins far wider than scheduler jitter.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def inputRows(q: StreamingQuery): Long =
      q.recentProgress.map(p => p.numInputRows).sum
    val delayMs = 8000L
    val mem = MemoryStream[Ev](spark)
    val q = Streams.wallClockFlush(mem.toDS(), delayMs)
      .writeStream.format("memory").queryName("t_wallclock")
      .outputMode("update").start()
    try {
      val t0 = System.nanoTime()
      mem.addData(Seq(Ev(1, ts(5), 1, "view", 1.0), Ev(2, ts(10), 1, "view", 2.0),
                      Ev(3, ts(8), 2, "view", 3.0)))
      // wait until the input batch is consumed; the early-fire assertion
      // below self-disables if a loaded VM pushes consumption past the
      // delay, so a generous deadline cannot make the test wrong
      val consumeDeadline = System.currentTimeMillis() + 30000L
      while (inputRows(q) < 3 && System.currentTimeMillis() < consumeDeadline)
        Thread.sleep(100L)
      assert(inputRows(q) >= 3, "input batch not consumed within 30 s")
      // NO early fire: input is consumed, delay has not elapsed
      if ((System.nanoTime() - t0) / 1e6 < delayMs - 1500)
        assert(spark.table("t_wallclock").count() === 0L,
          "processing-time timer fired before its delay elapsed")
      // after the delay the timers must fire (engine batches run
      // continuously, no further input needed)
      val fireDeadline = System.currentTimeMillis() + delayMs + 30000L
      while (spark.table("t_wallclock").count() < 2 &&
             System.currentTimeMillis() < fireDeadline)
        Thread.sleep(200L)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    val out = spark.table("t_wallclock").as[UserCount].collect()
    val byUser = out.map(c => c.user_id -> c).toMap
    // both users flushed their buffered totals exactly once — a fired
    // timer disarms, and with no further input nothing re-arms
    assert(out.length === 2 && byUser.keySet === Set(1L, 2L),
      s"expected exactly one flush per user: ${out.toSeq}")
    assert(byUser(1L).n_events === 2L && byUser(1L).sum_value === 3.0)
    assert(byUser(2L).n_events === 1L && byUser(2L).sum_value === 3.0)
  }

  test("s_state_rocksdb: counter + restart + state query under RocksDB changelog") {
    // the 100-TB state answer: RocksDB-backed stores with CHANGELOG
    // checkpointing (per-batch deltas to the checkpoint, not full
    // snapshots) — run the statefulCounter through a kill/restart and an
    // interactive state-store read, all on the RocksDB provider
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_rocksdb_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val run2 = scala.collection.mutable.ArrayBuffer.empty[UserCount]
    try {
      val mem = MemoryStream[Ev](spark)
      def start(sink: (org.apache.spark.sql.Dataset[UserCount], Long) => Unit) =
        Streams.statefulCounter(mem.toDS())
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink).start()
      val q1 = start((df, _) => { df.collect(); () })
      try { mem.addData(batch1); q1.processAllAvailable() } finally q1.stop()
      // kill + restart from the same checkpoint: RocksDB state must
      // recover from the changelog files
      val q2 = start((df, _) => run2.synchronized { run2 ++= df.collect() })
      try Seq(batch2, batch3).foreach { b =>
        mem.addData(b); q2.processAllAvailable()
      } finally q2.stop()
      val finalState = run2.groupBy(_.user_id)
        .map { case (_, snaps) => snaps.maxBy(_.n_events) }
        .map(s => (s.user_id, s.n_events, s.sum_value, s.last_ts_us))
        .toSeq.map(_.toString).sorted
      val expected = all.groupBy(_.user_id).map { case (u, evs) =>
        (u, evs.size.toLong, evs.map(_.value).sum,
         evs.map(e => e.ts.getTime * 1000L).max)
      }.toSeq.map(_.toString).sorted
      assert(finalState === expected,
        "RocksDB state lost across restart — changelog recovery broken")
      // interactive query over the RocksDB store (KS IQ analog)
      val state = spark.read.format("statestore").load(ckpt)
        .select("key.value", "value.groupState.n_events",
                "value.groupState.sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expectedState = all.groupBy(_.user_id).map { case (u, evs) =>
        (u, evs.size.toLong, evs.map(_.value).sum)
      }.toSet
      assert(state === expectedState,
        s"RocksDB state-store read diverged: $state vs $expectedState")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("s_join_stream_static: stream events × static customer dim") {
    val dim = spark.read.parquet(s"$sf0001/customer.parquet")
    val stream = runStream("t_sst", "append", Seq(batch1, batch2),
      Streams.streamStatic(_, dim))
    val batch = Streams.streamStatic((batch1 ++ batch2).toDF(), dim)
    assert(sortedRows(stream) === sortedRows(batch))
    assert(stream.count() > 0) // user_ids 1..3 exist in the customer dim
  }

  test("s_dedup: duplicate event_ids within watermark collapse to one") {
    val dups = Seq(Ev(1, ts(5), 1, "view", 1.0), Ev(1, ts(5), 1, "view", 1.0))
    val more = Seq(Ev(1, ts(6), 1, "view", 1.0), // same id again, batch 2
                   Ev(2, ts(7), 1, "click", 0.5))
    val stream = runStream("t_dedup", "append", Seq(dups, more, flush),
      Streams.dedup(_))
    assert(stream.select("event_id").as[Long].collect().sorted
      === Array(1L, 2L, 99L))
  }

  test("s_stateful_counter: running per-user state matches batch fold") {
    val mem = MemoryStream[Ev](spark)
    val q = Streams.statefulCounter(mem.toDS())
      .writeStream.format("memory").queryName("t_state").outputMode("update").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    // LAST emission per user = final state; compare to a plain batch agg
    val finalState = spark.table("t_state")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
    val expected = all.toDF().groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"),
           (max(unix_micros(col("ts")))).as("last_ts_us"))
    assert(sortedRows(finalState.select("user_id", "n_events", "sum_value", "last_ts_us"))
      === sortedRows(expected.select("user_id", "n_events", "sum_value", "last_ts_us")))
  }

  test("s_dedup_soft: copy ordinals accumulate across batches; final = batch n_copies") {
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.softDedup(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_soft").outputMode("append")
      .start()
    // "aa" arrives 3× across two batches, "bb" 2× in one, "cc" once
    val b1 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "cc"))
    val b2 = Seq((5L, "aa"), (6L, "bb"))
    try Seq(b1, b2).foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("t_soft")
      .select("doc_id", "copy_no").as[(Long, Long)].collect().toMap
    // ordinals follow arrival (doc_id order within a batch)
    assert(got === Map(1L -> 1L, 3L -> 2L, 5L -> 3L,   // aa
                       2L -> 1L, 6L -> 2L,              // bb
                       4L -> 1L))                       // cc
    // final ordinal per hash ≡ the batch twin's n_copies on the same docs
    val batchDocs = (b1 ++ b2).toDF("doc_id", "text")
    val batchCopies = batchDocs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"))
    val streamFinal = spark.table("t_soft")
      .groupBy("content_hash").agg(max("copy_no").as("n_copies"))
    assert(sortedRows(streamFinal.select("content_hash", "n_copies"))
      === sortedRows(batchCopies.select("content_hash", "n_copies")))
  }

  test("s_quality_cascade: stateless per-doc decisions, one per rule exercised") {
    // one crafted doc per cascade outcome — expected first_fail computed
    // BY HAND from the rule definitions, not by replaying the expression
    val docs = Seq(
      (1L, "a b c"),                                   // 3 toks → count (1)
      (2L, Seq.fill(15)("a").mkString(" ")),           // 1-char toks → meanlen (2)
      (3L, (1 to 15).map(i => f"wrd$i%02d").mkString(" ")),  // no stopword (3)
      (4L, (Seq.fill(4)("a") ++
        (1 to 11).map(i => f"tok$i%02d")).mkString(" ")),    // singles (4)
      (5L, (Seq.fill(8)("the") ++ Seq.fill(4)("data") ++
        Seq.fill(4)("query") ++ Seq.fill(4)("rows")).mkString(" ")), // distinct (5)
      (6L, (Seq("the", "the") ++
        (1 to 14).map(i => f"wrd$i%02d")).mkString(" ")))    // pass (0)
    val expected = Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
                       5L -> 5L, 6L -> 0L)
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.qualityCascade(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_cascade")
      .outputMode("append").start()
    // split across two micro-batches: stateless ⇒ batch boundaries are
    // invisible in the output
    try Seq(docs.take(3), docs.drop(3)).foreach { b =>
      mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("t_cascade")
      .select("doc_id", "first_fail").as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  test("s_boilerplate: streamed scores ≡ batch twin vs stored blocklist, replay-idempotent") {
    // continuous boilerplate scoring against the frozen common-gram
    // blocklist: per-doc scores depend only on the doc + the blocklist,
    // so the union is batching-invariant and replay changes nothing.
    import graft.queries.DedupOps
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val block = s"$tmp/graft_boiler_block"
    val out = s"$tmp/graft_boiler_out"
    for (p <- Seq(block, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    DedupOps.commonGrams(DedupOps.gramRows(docs), minDocs = 2)
      .write.parquet(block)
    val want = DedupOps.boilerplateCoverage(docs, DedupOps.gramRows(docs),
        spark.read.parquet(block))
      .collect().map(_.toString).sorted.toSeq
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.boilerplateBatch(b, block, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed boilerplate union diverges from the batch twin")
    Streams.boilerplateBatch(groups.last.toDF("doc_id", "text"), block, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the scores")
  }

  test("s_decontam_near: streamed hits ≡ the declared key vs stored bench index") {
    import graft.queries.PipelineOps
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val index = s"$tmp/graft_decontam_near_idx"
    val out = s"$tmp/graft_decontam_near_out"
    for (p <- Seq(index, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val isBench = col("doc_id") % 50 === 7
    PipelineOps.storeDecontamNearIndex(docs.filter(isBench), index)
    // the declared in-flight key IS the truth for the streamed union —
    // same corpus split, same arithmetic
    val want = graft.SparkEntry.queries("q_decontam_near")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val rows = docs.filter(!isBench).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.decontamBatch(b, index, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed contamination union diverges from the declared key")
    Streams.decontamBatch(groups.last.toDF("doc_id", "text"), index, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the hits")
  }

  test("s_dedup_frames: streamed frame hits ≡ one-shot screen vs stored index") {
    import graft.operators.{FrameIndex, PHash}
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val index = s"$tmp/graft_frameidx"
    val out = s"$tmp/graft_frameidx_out"
    for (p <- Seq(index, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val isIngest = col("doc_id") % 3 === 0
    FrameIndex.build(docs.filter(!isIngest), index)
    val stored = FrameIndex.stored(spark, index)
    // one-shot screen of ALL ingest docs against the frozen index IS
    // the truth for the streamed union (a doc's hits depend only on
    // the doc + the index)
    val want = PHash.screenFrames(docs.filter(isIngest), stored)
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty, "fixture produced no cross-split frame hits")
    // cross-machinery law: the batch key's directed pairs, restricted
    // to (ingest → stored), carry the identical counts/containment
    val cross = graft.operators.PHash.frameContainment(docs)
      .filter(col("doc_a") % 3 === 0 && col("doc_b") % 3 =!= 0)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_inter"),
        col("containment"))
      .collect().map(_.toString).sorted.toSeq
    assert(cross === want,
      "streamed-screen machinery diverges from the declared batch key")
    val rows = docs.filter(isIngest).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 4).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.frameDedupBatch(b, index, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed frame-hit union diverges from the one-shot screen")
    // replay the last batch verbatim: exactly-once via version overwrite
    Streams.frameDedupBatch(groups.last.toDF("doc_id", "text"), index, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the hits")
  }

  test("s_frame_index_ingest: screen-then-admit union ≡ corpus-wide q_dedup_frames") {
    import graft.operators.FrameIndex
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val root = s"$tmp/graft_frameingest/idx"
    val out = s"$tmp/graft_frameingest_out"
    for (p <- Seq(s"$tmp/graft_frameingest", out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // empty backfill: this stream IS the corpus from scratch, so the
    // committed union must equal the corpus-wide declared key — each
    // directed pair emitted exactly once, by whichever batch completes
    // it (later-arriving side's batch, in either containment direction)
    FrameIndex.build(docs.filter(lit(false)), root)
    val want = graft.SparkEntry.queries("q_dedup_frames")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 4).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.frameIndexIngest(b, root, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "screen-then-admit union diverges from the corpus-wide pair set")
    // replay the last batch verbatim: the version self-overwrites, the
    // anti-join keeps the batch's own (now admitted) rows out of the
    // cross screen, and the ingest partition rewrites only itself
    Streams.frameIndexIngest(groups.last.toDF("doc_id", "text"), root, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the pair set")
    // compact, then a replay of a FOLDED batch is skipped idempotently
    // (the pair versions still self-overwrite to the same content)
    FrameIndex.compact(spark, root)
    val storedBefore = FrameIndex.stored(spark, root)
      .collect().map(_.toString).sorted.toSeq
    Streams.frameIndexIngest(groups.last.toDF("doc_id", "text"), root, out,
      (groups.size - 1).toLong)
    assert(FrameIndex.stored(spark, root)
      .collect().map(_.toString).sorted.toSeq === storedBefore,
      "a folded replay changed the store")
    assert(committed() === want)
  }

  test("s_embed_outliers: streamed scores ≡ batch twin vs stored model, replay-idempotent") {
    import graft.queries.LlmOps
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val model = s"$tmp/graft_outlier_model"
    val out = s"$tmp/graft_outlier_out"
    for (p <- Seq(model, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label", "embedding")
    LlmOps.storeOutlierModel(emb, model)
    val want = LlmOps.scoreStoredOutliers(spark, model, emb)
      .collect().map(_.toString).sorted.toSeq
    val rows = emb.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getSeq[Float](2))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, Int, Seq[Float])](spark)
    val q = mem.toDF().toDF("vec_id", "label", "embedding").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.outlierBatch(b, model, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed outlier union diverges from the batch twin")
    Streams.outlierBatch(groups.last.toDF("vec_id", "label", "embedding"),
      model, out, (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the scores")
    // the stored-model batch twin itself matches the declared key's
    // decisions (frozen thresholds ≡ in-flight thresholds: same corpus)
    val declared = graft.SparkEntry.queries("q_embed_outliers")(spark, sf0001)
      .select("vec_id", "label", "d2", "is_outlier")
      .collect().map(_.toString).sorted.toSeq
    assert(want.sorted === declared,
      "stored-model scoring diverges from the in-flight key")
  }

  test("s_stateful_counter: transformWithState matches flatMapGroupsWithState") {
    // transformWithState needs the RocksDB state store (multiple column
    // families); the default HDFS-backed provider rejects it
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev](spark)
    val q = Streams.statefulCounterTws(mem.toDS())
      .writeStream.format("memory").queryName("t_tws").outputMode("update").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    def lastPerUser(t: String) = spark.table(t)
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("sum_value").as("sum_value"),
           max("last_ts_us").as("last_ts_us"))
    // t_state was produced by the flatMapGroupsWithState test; rebuild the
    // final state from a fresh fmgws run to avoid cross-test ordering
    val mem2 = MemoryStream[Ev](spark)
    val q2 = Streams.statefulCounter(mem2.toDS())
      .writeStream.format("memory").queryName("t_fmgws").outputMode("update").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem2.addData(b); q2.processAllAvailable()
    } finally q2.stop()
    assert(sortedRows(lastPerUser("t_tws")) === sortedRows(lastPerUser("t_fmgws")))
  }

  test("s_latest_per_key: streaming KTable view matches batch latestPerKey") {
    // transformWithState needs the RocksDB provider (see the tws test)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev](spark)
    val q = Streams.latestPerKey(mem.toDS())
      .writeStream.format("memory").queryName("t_latest")
      .outputMode("update").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    // the emitted latest row only ever advances in (ts, event_id) order,
    // so the final state per user = the max emission per user
    val streamFinal = spark.table("t_latest").as[Ev].collect()
      .groupBy(_.user_id)
      .map { case (u, evs) => u -> evs.maxBy(e => (e.ts.getTime, e.event_id)) }
    val batchFinal = graft.Graft.latestPerKey(all.toDF()).as[Ev].collect()
      .map(e => e.user_id -> e).toMap
    assert(streamFinal === batchFinal)
  }

  test("s_scd2: streaming CDC→SCD2 chain converges to batch scd2" +
       " under out-of-order input") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Ev](spark)
    val q = Streams.scd2Stream(mem.toDS())
      .writeStream.format("memory").queryName("t_scd2")
      .outputMode("update").start()
    // the fixture is genuinely out of order across batches (user 2's
    // event 5 arrives after its later event 4) — the chain splice must
    // absorb it
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    // materialize the streamed dimension: last emission per (user, version)
    val streamed = spark.table("t_scd2").as[ScdVer].collect().toSeq
      .zipWithIndex
      .groupBy(r => (r._1.user_id, r._1.version))
      .map { case (_, emits) => emits.maxBy(_._2)._1 }.toSeq
    val batchChain = graft.Graft.scd2(
        all.toDF().withColumn("us", graft.util.Det.epochUs(col("ts"))),
        "user_id", "us", tieBreak = Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_id"),
        col("us").as("valid_from_us"), col("valid_to").as("valid_to_us"),
        col("event_type"), col("is_current"))
      .as[ScdVer].collect().toSeq
    assert(streamed.sortBy(r => (r.user_id, r.version))
      === batchChain.sortBy(r => (r.user_id, r.version)))
  }

  test("s_checkpoint_recovery: stateful query resumes from checkpoint") {
    // THE state-store guarantee everything in §2.9 rests on: kill a
    // stateful query mid-stream, restart from its checkpoint, feed the
    // rest — final state must equal one uninterrupted run.
    // the memory sink refuses checkpoint recovery, so capture emissions
    // with foreachBatch (a fault-tolerant, recovery-capable sink)
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val run2 = scala.collection.mutable.ArrayBuffer.empty[UserCount]
    def start(sink: (org.apache.spark.sql.Dataset[UserCount], Long) => Unit,
              mem: MemoryStream[Ev]) =
      Streams.statefulCounter(mem.toDS())
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink).start()
    val mem = MemoryStream[Ev](spark)
    // run 1 must CONSUME its batches (an unconsumed frame never commits
    // its state stores), even though its emissions are not asserted on
    val q1 = start((df, _) => { df.collect(); () }, mem)
    try { mem.addData(batch1); q1.processAllAvailable() } finally q1.stop()
    // restart from the SAME checkpoint — offsets + per-user state recover
    val q2 = start((df, _) => run2.synchronized { run2 ++= df.collect() }, mem)
    try Seq(batch2, batch3).foreach { b =>
      mem.addData(b); q2.processAllAvailable()
    } finally q2.stop()
    // batches 2+3 touch every user, so run 2 emits each user's final
    // state — which must include batch1's contributions (recovered state;
    // a replayed batch can only re-emit an older snapshot, so max-fold)
    val finalState = run2.groupBy(_.user_id)
      .map { case (u, snaps) => snaps.maxBy(_.n_events) }
      .map(s => (s.user_id, s.n_events, s.sum_value, s.last_ts_us))
      .toSeq.map(_.toString).sorted
    val expected = all.groupBy(_.user_id).map { case (u, evs) =>
      (u, evs.size.toLong, evs.map(_.value).sum,
       evs.map(e => e.ts.getTime * 1000L).max)
    }.toSeq.map(_.toString).sorted
    assert(finalState === expected,
      "state lost across restart — checkpoint recovery broken")
  }

  test("s_trigger_available_now: backfill trigger drains everything, then stops") {
    // the batch-catchup mode an operational pipeline uses for backfills:
    // process ALL available input in bounded batches, then self-terminate
    val mem = MemoryStream[Ev](spark)
    mem.addData(batch1); mem.addData(batch2); mem.addData(batch3)
    val q = mem.toDF().groupBy("user_id").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("t_avnow")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-stop")
    assert(!q.isActive)
    val batch = all.toDF().groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(sortedRows(spark.table("t_avnow")) === sortedRows(batch))
  }

  test("s_branch: predicate routing partitions the stream exactly") {
    // KS split().branch analog: same source, two filtered sink queries;
    // together they must partition the input (disjoint and covering)
    val mem = MemoryStream[Ev](spark)
    val (hi, lo) = Streams.branch(mem.toDF(), col("value") >= 1.0)
    val qHi = hi.writeStream.format("memory").queryName("t_branch_hi")
      .outputMode("append").start()
    val qLo = lo.writeStream.format("memory").queryName("t_branch_lo")
      .outputMode("append").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); qHi.processAllAvailable(); qLo.processAllAvailable()
    } finally { qHi.stop(); qLo.stop() }
    val got = spark.table("t_branch_hi").unionByName(spark.table("t_branch_lo"))
    assert(sortedRows(got) === sortedRows(all.toDF()),
      "branches do not partition the input")
    val hiIds = spark.table("t_branch_hi").select("event_id")
      .collect().map(_.getLong(0)).toSet
    val loIds = spark.table("t_branch_lo").select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert((hiIds & loIds).isEmpty, "branches overlap")
  }

  test("s_merge: two streams interleave into one, nothing lost or duplicated") {
    val memA = MemoryStream[Ev](spark)
    val memB = MemoryStream[Ev](spark)
    val q = Streams.merge(memA.toDF(), memB.toDF())
      .writeStream.format("memory").queryName("t_merge")
      .outputMode("append").start()
    try {
      memA.addData(batch1); memB.addData(batch2); q.processAllAvailable()
      memB.addData(batch3); q.processAllAvailable()
    } finally q.stop()
    assert(sortedRows(spark.table("t_merge")) === sortedRows(all.toDF()))
  }

  test("s_cogroup: two streams merge into one keyed aggregate (KS cogroup)") {
    // KS CogroupedKStream streaming twin of Graft.cogroupAgg: views and
    // purchases co-aggregated per user through the SAME union-tagged
    // single-shuffle plan, incrementally in update mode. Final state must
    // equal the one-shot batch cogroup of all data.
    val memV = MemoryStream[Ev](spark)
    val memP = MemoryStream[Ev](spark)
    def cg(v: DataFrame, p: DataFrame) =
      graft.Graft.cogroupAgg(Seq((v, "user_id", "value"),
                                 (p, "user_id", "value")))
    val q = cg(memV.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("t_cogroup")
      .outputMode("complete").start()
    val views = all.filter(_.event_type == "view")
    val purchases = all.filter(_.event_type == "purchase")
    try {
      memV.addData(views.take(2)); q.processAllAvailable()
      memP.addData(purchases); q.processAllAvailable()
      memV.addData(views.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val expected = cg(views.toDF(), purchases.toDF())
    assert(sortedRows(spark.table("t_cogroup")) === sortedRows(expected))
  }

  test("s_suppress: append-mode window agg emits each window once, only on close") {
    // KS suppress(untilWindowCloses) analog: in APPEND mode a windowed
    // aggregate emits a window exactly once, and only after the
    // watermark passes its end — no partial results, no re-emissions
    val mem = MemoryStream[Ev](spark)
    val q = Streams.tumbling(mem.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("t_suppress")
      .outputMode("append").start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      // nothing can be final yet: watermark = max(ts) - 10 min is inside
      // the latest open window
      val early = spark.table("t_suppress").count()
      mem.addData(batch2); q.processAllAvailable()
      mem.addData(batch3); q.processAllAvailable()
      mem.addData(flush); q.processAllAvailable()
      val out = spark.table("t_suppress")
        .select("ws_us", "event_type", "n", "sum_value").collect()
      // each (window, type) exactly once
      val keys = out.map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(keys.distinct.size === keys.size,
        "a window re-emitted in append mode")
      // and the final emission set equals the batch result for the
      // closed windows (every fixture window closes once flush arrives)
      val expected = Streams.tumbling(all.toDF())
        .select("ws_us", "event_type", "n", "sum_value")
      assert(out.map(_.toString).sorted.toSeq ===
        expected.collect().map(_.toString).sorted.toSeq)
      assert(early <= expected.count(),
        "append mode emitted more than the final window set early")
    } finally q.stop()
  }

  /** The 100-TB property behind every watermark: join state must be
    * EVICTED once the watermark passes a row's join window, or state
    * grows with the stream instead of with the window. Feed batches
    * whose event times advance far past the 20-min watermark + 10-min
    * window each step and assert the state-store row count does NOT
    * grow monotonically with input (eviction keeps it window-bound).
    * Parameterized by state-store provider: the property must hold on
    * the default (HDFS-backed) store AND on RocksDB — the store a real
    * cluster runs stream-stream joins on (its eviction path — range
    * scans over the watermark index — is entirely different code). */
  private def assertJoinStateEvicted(queryName: String,
                                     provider: Option[String]): Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    provider.foreach(spark.conf.set(providerKey, _))
    val mem = MemoryStream[Ev](spark)
    val df = mem.toDF()
    val q = Streams.viewPurchaseJoin(
        df.filter(col("event_type") === "view"),
        df.filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName(queryName).outputMode("append")
      .start()
    val stateRows = scala.collection.mutable.ArrayBuffer[Long]()
    try {
      // 6 waves, each 10 HOURS later: every wave obsoletes the previous
      // wave's state entirely once the watermark advances
      for (w <- 0 until 6) {
        val base = w * 600L // minutes
        mem.addData(Seq(
          Ev(w * 10 + 1, ts(base + 1), 1, "view", 1.0),
          Ev(w * 10 + 2, ts(base + 4), 1, "purchase", 10.0),
          Ev(w * 10 + 3, ts(base + 2), 2, "view", 1.0)))
        q.processAllAvailable()
        for (p <- Option(q.lastProgress); so <- p.stateOperators.headOption)
          stateRows += so.numRowsTotal
      }
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    assert(stateRows.nonEmpty, "no state-operator metrics captured")
    // 18 input rows total; without eviction state ends >= 15 (all rows
    // minus the final wave's unexpired). With eviction it stays at the
    // last-two-waves level. Assert the END state is far below the total
    // and did not keep growing across the final waves.
    assert(stateRows.last < 10,
      s"join state grew with the stream, not the window: $stateRows")
  }

  test("s_state_eviction: watermark bounds stream-stream join state") {
    assertJoinStateEvicted("t_evict", None)
  }

  test("s_state_eviction holds on RocksDB (the store a cluster runs)") {
    assertJoinStateEvicted("t_evict_rocks", Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }

  test("s_dedup_index: continuous ingest emits exactly the corpus near-dup pairs, replay-idempotent") {
    // the streaming face of the dedup index at rest: an (empty) backfill
    // index, documents arriving in interleaved micro-batches, each batch
    // deduped WITHIN itself and AGAINST the stored index, pairs committed
    // as immutable versions, the batch appended as its own ingest
    // partition. Invariant: over ANY batch partitioning of the corpus the
    // committed pairs equal the corpus-wide exact near-dup pair set —
    // each pair emitted exactly once, by whichever batch completes it.
    import graft.operators.DedupIndex
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val root = s"$tmp/graft_sdedupindex_root"
    val pairsDir = s"$tmp/graft_sdedupindex_pairs"
    for (p <- Seq(root, pairsDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    // empty backfill: this stream IS the corpus from scratch
    DedupIndex.build(graft.Graft.shingleRows(
      Tables.documents(spark, sf0001).filter(lit(false)),
      "doc_id", "text", n = 3), root)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // interleaved thirds: near-dup pairs form both within and across batches
    val groups = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.dedupIndexIngest(b, root, pairsDir, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    val want = sortedRows(
      graft.SparkEntry.queries("q_dedup_minhash")(spark, sf0001))
    def committed() = sortedRows(Streams.committedPairs(spark, pairsDir)
      .select("doc_a", "doc_b", "jaccard"))
    assert(committed() === want,
      "streamed ingest pair set diverges from the batch corpus-wide dedup")
    // replay the LAST batch with its original batchId: the re-delivered
    // rows are already in the index — pair set and index must not change
    Streams.dedupIndexIngest(groups.last.toDF("doc_id", "text"), root,
      pairsDir, (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the pair set — ingest not idempotent")
  }

  test("s_phash_index_ingest: continuous screen-then-admit emits exactly " +
      "the corpus hamming pairs, replay-idempotent") {
    // the streaming face of the phash index at rest — the s_dedup_index
    // invariant at image grain. Constructed corpus (the shared fixtures
    // are all hamming-distant — PHashIndexSpec records why): replica
    // groups + near variants, interleaved thirds so pairs form both
    // within and across batches.
    import graft.operators.{PHash, PHashIndex}
    val tmp = System.getProperty("java.io.tmpdir")
    val root = s"$tmp/graft_sphashindex_root"
    val pairsDir = s"$tmp/graft_sphashindex_pairs"
    for (p <- Seq(root, pairsDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    def payload(seed: Int): String = {
      val rnd = new scala.util.Random(seed * 7919 + 13)
      (0 until 144).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val docs: Seq[(Long, String)] =
      (0 until 100).map(i => (i.toLong, payload(i / 5))) ++
      (0 until 20).map { b =>
        val p = payload(b)
        val c = if ((p(60) + p(61)) / 2 >= 'n') 'a' else 'z'
        (100L + b, p.updated(60, c).updated(61, c))
      }
    // empty backfill: this stream IS the corpus from scratch
    PHashIndex.build(docs.take(1).toDF("doc_id", "text")
      .filter(lit(false)), root)
    val groups = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.phashIndexIngest(b, root, pairsDir, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    // truth: brute-force undirected hamming-≤-3 pairs from the same sigs
    val sigs = PHash.signatures(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (for {
      (da, pa) <- sigs; (db, pb) <- sigs if da < db
      h = java.lang.Long.bitCount(pa ^ pb).toLong if h <= 3
    } yield s"$da|$db|$h").sorted
    assert(want.nonEmpty, "constructed corpus produced no pairs")
    def committed() = sortedRows(Streams.committedPairs(spark, pairsDir)
      .select("doc_a", "doc_b", "hamming"))
    assert(committed() === want,
      "streamed ingest pair set diverges from the corpus-wide screen")
    // replay the LAST batch verbatim: pair set and index must not change
    Streams.phashIndexIngest(groups.last.toDF("doc_id", "text"), root,
      pairsDir, (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the pair set")
  }

  test("s_knn_index_ingest: streamed vectors land as a batch append would, replay-idempotent") {
    // continuous ANN index maintenance: a backfilled IVF+PQ index at
    // rest, new vectors arriving in micro-batches, each encoded against
    // the STORED models (no retraining) and committed under its own
    // immutable batch partitions. Invariant: the stored codes — and
    // every query answered from them — are identical whatever the
    // micro-batch slicing, and replaying a batch changes nothing.
    import graft.operators.AnnIndex
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val rootStream = s"$tmp/graft_sknnindex_stream"
    val rootBatch = s"$tmp/graft_sknnindex_batch"
    for (p <- Seq(rootStream, rootBatch))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val emb = graft.queries.LlmOps.embDouble(Tables.embeddings(spark, sf0001))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
    val base = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    AnnIndex.build(base, rootStream)
    AnnIndex.build(base, rootBatch)
    AnnIndex.append(rest, rootBatch, batchId = 1)
    // interleaved thirds of the new vectors, streamed through foreachBatch
    val rows = rest.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, Seq[Double])](spark)
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.annIndexIngest(b, rootStream, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def stored(root: String): Seq[String] =
      spark.read.parquet(s"$root/codes")
        .select("vec_id", "cell", "codes")
        .collect().map(_.toString).sorted.toSeq
    assert(stored(rootStream) === stored(rootBatch),
      "streamed ingest codes diverge from the one-shot batch append")
    val qv = emb.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    def top10(root: String): Seq[String] =
      AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
        excludeId = Some(0L)).collect().map(_.toString).toSeq
    assert(top10(rootStream) === top10(rootBatch))
    // replay the LAST micro-batch with its original foreachBatch id
    val before = stored(rootStream)
    Streams.annIndexIngest(groups.last.toDF("vec_id", "v"), rootStream,
      (groups.size - 1).toLong)
    assert(stored(rootStream) === before,
      "replaying a committed batch changed the store — ingest not idempotent")
  }

  test("s_text_index_ingest: streamed postings answer like the batch index, replay-idempotent") {
    // continuous BM25 inverted-index maintenance: a backfilled index at
    // rest, new documents arriving in micro-batches, each tokenized into
    // its own immutable batch partitions. Invariant: a query after any
    // micro-batch slicing answers exactly like the index built from the
    // same documents in one shot (df and corpus stats are SUMS over
    // batch partitions), and replaying a batch changes nothing.
    import graft.operators.InvertedIndex
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val rootStream = s"$tmp/graft_stextindex_stream"
    val rootBatch = s"$tmp/graft_stextindex_batch"
    for (p <- Seq(rootStream, rootBatch))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 25)
    val rest = docs.filter(col("doc_id") >= 25)
    InvertedIndex.build(base, rootStream)
    InvertedIndex.build(docs, rootBatch)
    val rows = rest.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.textIndexIngest(b, rootStream, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    val terms = Seq("spark", "window", "dup", "merge")
    def top(root: String): Seq[String] =
      InvertedIndex.query(spark, root, terms, k = 20)
        .collect().map(_.toString).toSeq
    assert(top(rootStream) === top(rootBatch),
      "streamed index answers diverge from the one-shot build")
    def stored(root: String): Seq[String] =
      spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl")
        .collect().map(_.toString).sorted.toSeq
    assert(stored(rootStream) === stored(rootBatch),
      "streamed postings diverge from the one-shot build")
    // replay the LAST micro-batch with its original foreachBatch id
    val before = stored(rootStream)
    Streams.textIndexIngest(groups.last.toDF("doc_id", "text"), rootStream,
      (groups.size - 1).toLong)
    assert(stored(rootStream) === before,
      "replaying a committed batch changed the store — ingest not idempotent")
  }

  test("s_foreachbatch_upsert: versioned keyed merge matches batch latestPerKey, replay-idempotent") {
    // the foreachBatch exactly-once pattern: each micro-batch merges into
    // a keyed table committed as an immutable batchId-named version —
    // replaying a batch rewrites its own version with identical content
    import org.apache.spark.sql.Dataset
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_upsert_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val mem = MemoryStream[Ev](spark)
    val q = mem.toDS().writeStream
      .foreachBatch((b: Dataset[Ev], id: Long) => Streams.upsertBatch(b, dir, id))
      .start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val want = graft.Graft.latestPerKey(all.toDF())
    val cols = want.columns.map(col).toSeq
    val got = Streams.latestTable(spark, dir).get
    assert(sortedRows(got.select(cols: _*)) === sortedRows(want),
      "upserted table diverges from batch latestPerKey")
    // replay the LAST batch with its original batchId: table must not change
    Streams.upsertBatch(batch3.toDS(), dir, 2L)
    val again = Streams.latestTable(spark, dir).get
    assert(sortedRows(again.select(cols: _*)) === sortedRows(want),
      "replaying a committed batch changed the table — sink not idempotent")
  }

  test("s_file_sink: exactly-once parquet sink across a restart") {
    // the file sink's _spark_metadata manifest is the exactly-once
    // mechanism a production pipeline lands on: files written by batches
    // the checkpoint has not committed are invisible to readers, and a
    // restarted query never re-emits a committed batch
    val root = System.getProperty("java.io.tmpdir")
    val dir = s"$root/graft_filesink_test"
    val ckpt = s"$root/graft_filesink_ckpt"
    for (p <- Seq(dir, ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val mem = MemoryStream[Ev](spark)
    def start() = mem.toDF()
      .select("event_id", "user_id", "event_type", "value")
      .writeStream.format("parquet")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try { mem.addData(batch1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { mem.addData(batch2); q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(dir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = (batch1 ++ batch2).map(_.event_id).sorted
    assert(ids === expected,
      s"file sink lost or duplicated rows: got $ids expected $expected")
  }

  test("s_state_query: state-store data source reads live operator state") {
    // KS interactive-queries analog: the state a stateful query built is
    // itself a queryable table — spark.read.format("statestore") over
    // the checkpoint exposes per-key state as batch rows
    val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_statequery_ckpt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val mem = MemoryStream[Ev](spark)
    val q = Streams.statefulCounter(mem.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[UserCount], _: Long) =>
        { df.collect(); () }).start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
      .select("key.value", "value.groupState.n_events",
              "value.groupState.sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = all.groupBy(_.user_id).map { case (u, evs) =>
      (u, evs.size.toLong, evs.map(_.value).sum)
    }.toSet
    assert(state === expected,
      s"state-store read diverged: $state vs $expected")
  }

  test("s_output_modes: complete ⊇ update ⊇ final changes; counts agree") {
    def agg(df: DataFrame) =
      df.groupBy("user_id").agg(count(lit(1)).as("n"))
    val complete = runStream("t_mode_c", "complete", Seq(batch1, batch2, batch3), agg)
    // complete mode: final table is exactly the batch result
    assert(sortedRows(complete) === sortedRows(agg(all.toDF())))
    // update mode: sink accumulates every changed row; the LAST row per
    // user equals the batch result
    val mem = MemoryStream[Ev](spark)
    val q = agg(mem.toDF()).writeStream.format("memory")
      .queryName("t_mode_u").outputMode("update").start()
    try Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    } finally q.stop()
    val lastPerUser = spark.table("t_mode_u")
      .groupBy("user_id").agg(max("n").as("n"))
    assert(sortedRows(lastPerUser) === sortedRows(agg(all.toDF())))
  }

  test("s_cluster_assign: streamed assignments ≡ batch twin under any slicing, replay-idempotent") {
    // continuous topic-bucketing against the stored centroid model: the
    // union of per-micro-batch assignments must equal the batch twin's
    // output whatever the batch boundaries, and replaying a committed
    // batch must change nothing.
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val cents = s"$tmp/graft_scluster_cents"
    val out = s"$tmp/graft_scluster_out"
    for (p <- Seq(cents, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val emb = graft.queries.LlmOps.embDouble(Tables.embeddings(spark, sf0001))
    graft.operators.IvfKMeans.centroids(emb, k = 8, iters = 5)
      .write.parquet(cents)
    // the batch twin trains the identical deterministic model, so its
    // output IS the truth for the streamed union
    val want = graft.SparkEntry.queries("q_cluster_assign")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val rows = emb.select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, Seq[Double])](spark)
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.clusterAssign(b, cents, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed assignment union diverges from the batch twin")
    Streams.clusterAssign(
      groups.last.toDF("vec_id", "v"), cents, out, (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the assignments")
  }

  test("s_bpe_encode: streamed encodings ≡ batch twin under any slicing, replay-idempotent") {
    // continuous tokenization against the stored merge table: the union
    // of per-micro-batch encodings must equal the batch twin's output
    // whatever the batch boundaries, and replaying a committed batch
    // must change nothing.
    import graft.operators.BpeTrain
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val merges = s"$tmp/graft_sbpe_merges"
    val out = s"$tmp/graft_sbpe_out"
    for (p <- Seq(merges, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    BpeTrain.store(docs, merges, nMerges = 10)
    val want = BpeTrain.encodeStats(docs, BpeTrain.loadMerges(spark, merges))
      .collect().map(_.toString).sorted.toSeq
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.bpeEncodeBatch(b, merges, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed encoding union diverges from the batch twin")
    Streams.bpeEncodeBatch(
      groups.last.toDF("doc_id", "text"), merges, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the encodings")
  }

  test("s_classify_nb: streamed predictions ≡ batch twin under any slicing, replay-idempotent") {
    // continuous document classification against the stored NB model:
    // the union of per-micro-batch predictions must equal the batch
    // twin's output whatever the batch boundaries, and replaying a
    // committed batch must change nothing.
    import graft.operators.NbClassifier
    import graft.sources.Tables
    val tmp = System.getProperty("java.io.tmpdir")
    val model = s"$tmp/graft_snb_model"
    val out = s"$tmp/graft_snb_out"
    for (p <- Seq(model, out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text")
    NbClassifier.store(docs, model)
    // the at-rest batch twin scores from the identical stored model, so
    // its output IS the truth for the streamed union
    val want = graft.operators.NbClassifier
      .scoreStored(spark, model, docs)
      .collect().map(_.toString).sorted.toSeq
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val groups = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    val mem = MemoryStream[(Long, String, String)](spark)
    val q = mem.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch((b: DataFrame, id: Long) =>
        Streams.classifyBatch(b, model, out, id))
      .start()
    try groups.foreach { g => mem.addData(g); q.processAllAvailable() }
    finally q.stop()
    def committed(): Seq[String] =
      Streams.committed(spark, out)
        .collect().map(_.toString).sorted.toSeq
    assert(committed() === want,
      "streamed prediction union diverges from the batch twin")
    Streams.classifyBatch(
      groups.last.toDF("doc_id", "lang", "text"), model, out,
      (groups.size - 1).toLong)
    assert(committed() === want,
      "replaying a committed batch changed the predictions")
  }
}
