package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.util.Det._

/** Event row as fed through MemoryStream in tests (mirrors the `events`
  * fixture minus `props`). */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Running per-user state emitted by [[Streams.statefulCounter]]. */
case class UserCount(user_id: Long, n_events: Long, sum_value: Double,
                     last_ts_us: Long)

/** A per-user session closed by an event-time timer (KS punctuate
  * analog) — emitted when the watermark passes last activity + gap. */
case class ClosedSession(user_id: Long, n_events: Long, last_ts_us: Long)

/** A doc's copy ordinal at stream-arrival time — [[Streams.softDedup]]. */
case class DocCopy(doc_id: Long, content_hash: String, copy_no: Long)

/** Stream row enriched against the table side of a KStream⋈KTable join —
  * null/-1 sentinel-free: `matched` = false means no table row yet. */
case class EnrichedEv(event_id: Long, user_id: Long, value: Double,
                      matched: Boolean, table_event_id: Long,
                      table_value: Double)

/** One SCD2 dimension version emitted by [[Streams.scd2Stream]] —
  * mirrors the batch `q_scd2` output (valid_to_us = None ⟺ current). */
case class ScdVer(user_id: Long, version: Long, event_id: Long,
                  valid_from_us: Long, valid_to_us: Option[Long],
                  event_type: String, is_current: Boolean)

/** Structured Streaming operators — SURVEY.md §2.9, the reference's native
  * semantics (a Kafka Streams join example → Spark Structured Streaming).
  *
  * Every transform is written against a plain DataFrame so the SAME code
  * path serves the batch twin (DuckDB-oracled in graft.queries.Windows /
  * Joins) and the incremental streaming run (ScalaTest batch-equivalence,
  * the TopologyTestDriver analog). Watermarks are no-ops in batch mode,
  * so one definition serves both.
  *
  * Scale: stateful operators partition by their grouping/join key — state
  * lives in per-partition StateStores (RocksDB on a real cluster), exactly
  * the layout a 1000-executor job wants. Nothing below collects to the
  * driver or assumes a single JVM.
  */
object Streams {

  /** Event-time in epoch MICROSECONDS — the one definition every stateful
    * operator's `last_ts_us` uses. `getTime` is epoch millis; the nanos
    * term restores the sub-millisecond micros the fixture's ns-precision
    * timestamps carry (two operators disagreeing here would report
    * different values for the same-named field). */
  private[streaming] def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + t.getNanos / 1000 % 1000

  /** KS TimeWindows analog: 1-hour tumbling count+sum per event_type. */
  def tumbling(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(epochUs(col("window.start")).as("ws_us"), col("event_type"),
              col("n"), col("sum_value"))

  /** KS hopping-window analog: 10-minute windows sliding every 5. */
  def sliding(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(epochUs(col("window.start")).as("ws_us"), col("event_type"),
              col("n"), col("sum_value"))

  /** KS SessionWindows analog: per-user sessions, 30-min inactivity gap. */
  def session(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
              epochUs(col("session_window.start")).as("session_start_us"),
              epochUs(col("session_window.end")).as("session_end_us"),
              col("n_events"), col("sum_value"))

  /** Shared body of the view→purchase windowed joins — ONE definition of
    * the watermarks, window width, and output schema for both variants. */
  private def vpJoin(views: DataFrame, purchases: DataFrame,
                     joinType: String): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ts").as("v_ts"))
      .withWatermark("v_ts", "20 minutes")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "20 minutes")
    v.join(p, col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
              epochUs(col("v_ts")).as("view_ts_us"),
              epochUs(col("p_ts")).as("purchase_ts_us"),
              col("purchase_value"))
  }

  /** THE reference operator (KStream#join with JoinWindows): view→purchase
    * attribution within 10 minutes per user, watermarked both sides.
    * Batch twin: graft.queries.Joins q_join_interval — identical plan,
    * StreamingSymmetricHashJoinExec instead of SortMergeJoin. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    vpJoin(views, purchases, "inner")

  /** KS KStream#leftJoin(JoinWindows) analog: LEFT OUTER stream-stream
    * join — unmatched views emit a null purchase once the watermark passes
    * their join window (state eviction decides "no match ever"). */
  def viewPurchaseLeftJoin(views: DataFrame,
                           purchases: DataFrame): DataFrame =
    vpJoin(views, purchases, "left_outer")

  /** KS KStream#outerJoin(JoinWindows) analog: FULL OUTER — unmatched
    * rows of EITHER side emit with nulls after watermark eviction. */
  def viewPurchaseOuterJoin(views: DataFrame,
                            purchases: DataFrame): DataFrame =
    vpJoin(views, purchases, "full_outer")

  /** KS KStream⋈KTable analog: streaming events against a static dim —
    * the static side is (re)read per micro-batch, no state store needed. */
  def streamStatic(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(customers, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"),
              col("event_type"), col("value"))

  /** KS KStream⋈KTable with a CHANGING table — the reference's core
    * lookup-join semantics: table updates mutate per-key state, stream
    * rows join against the latest table row known at processing time
    * (no retraction of already-emitted joins, exactly like Kafka
    * Streams). Implemented as the streaming form of the AsOf union
    * trick: tag both inputs, union, key by user, and fold each batch's
    * rows in (ts, event_id) order through one ValueState — so a table
    * update and a stream row in the same micro-batch still resolve by
    * event time deterministically. State shards by key across
    * executors; nothing touches the driver.
    *
    * `table` rows are `Ev`s whose latest (by ts, event_id) value per
    * user is the table row; `stream` rows emit one [[EnrichedEv]] each. */
  def streamTableJoin(stream: Dataset[Ev], table: Dataset[Ev]): Dataset[EnrichedEv] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    val tagged = stream.map(e => (1, e)).unionByName(table.map(e => (0, e)))
    tagged.groupByKey(_._2.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[
            Long, (Int, Ev), EnrichedEv] {
          @transient private var latest:
            org.apache.spark.sql.streaming.ValueState[Ev] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            latest = getHandle.getValueState[Ev](
              "latestTableRow", Encoders.product[Ev], TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[(Int, Ev)],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[EnrichedEv] = {
            val out = Vector.newBuilder[EnrichedEv]
            for ((side, e) <- rows.toSeq.sortBy(r => (r._2.ts.getTime,
                                                      r._2.event_id))) {
              if (side == 0) {
                // table update: keep only the newest row per key
                val cur = Option(latest.get())
                val newer = cur.forall(c =>
                  c.ts.getTime < e.ts.getTime ||
                    (c.ts.getTime == e.ts.getTime && c.event_id < e.event_id))
                if (newer) latest.update(e)
              } else {
                val t = Option(latest.get())
                out += EnrichedEv(e.event_id, user, e.value,
                  t.isDefined, t.map(_.event_id).getOrElse(0L),
                  t.map(_.value).getOrElse(0.0))
              }
            }
            out.result().iterator
          }
        },
        TimeMode.None(), OutputMode.Append())
  }

  /** Exactly-once-per-key within the watermark: KS reduce-to-first analog. */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Spark 4 `transformWithState` form of [[statefulCounter]] — the
    * successor API (SPARK-46815): explicit `ValueState` handle from the
    * processor lifecycle, same running per-user count/sum/last-seen.
    * Both forms are kept: flatMapGroupsWithState is the stable cross-
    * version API, StatefulProcessor the forward-looking one; the spec
    * asserts they produce identical final state. */
  def statefulCounterTws(events: Dataset[Ev]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    events.groupByKey(_.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserCount] {
          @transient private var state:
            org.apache.spark.sql.streaming.ValueState[UserCount] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            state = getHandle.getValueState[UserCount](
              "userCount", Encoders.product[UserCount], TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[Ev],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[UserCount] = {
            val prev = Option(state.get())
              .getOrElse(UserCount(user, 0L, 0.0, 0L))
            val next = rows.toSeq.sortBy(_.event_id).foldLeft(prev) { (acc, e) =>
              UserCount(user, acc.n_events + 1, acc.sum_value + e.value,
                        math.max(acc.last_ts_us, tsUs(e.ts)))
            }
            state.update(next)
            Iterator.single(next)
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** KTable changelog view (KS `KTable#toStream` analog) — the STREAMING
    * twin of [[graft.Graft.latestPerKey]]: emits the newest full event
    * row per user whenever it ADVANCES, newest = max (ts, event_id)
    * exactly like the batch window spec. A micro-batch carrying only
    * stale (older) rows for a key changes nothing and emits nothing —
    * a true changelog, no duplicate re-emissions in Update mode. One
    * ValueState[Ev] per key via Spark-4 transformWithState; state is
    * per-partition (RocksDB on a real cluster), so a 1000-executor
    * changelog materialization shards by user_id with no driver
    * involvement. */
  def latestPerKey(events: Dataset[Ev]): Dataset[Ev] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    events.groupByKey(_.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Ev] {
          @transient private var state:
            org.apache.spark.sql.streaming.ValueState[Ev] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            state = getHandle.getValueState[Ev](
              "latest", Encoders.product[Ev], TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[Ev],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[Ev] = {
            val cur = Option(state.get())
            val newest = (cur.iterator ++ rows)
              .maxBy(e => (e.ts.getTime, e.event_id))
            if (cur.exists(c => c.ts.getTime == newest.ts.getTime &&
                                c.event_id == newest.event_id))
              Iterator.empty // nothing advanced — suppress the re-emission
            else {
              state.update(newest)
              Iterator.single(newest)
            }
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming SCD2 build — the continuous CDC→dimension twin of
    * [[graft.Graft.scd2]] / `q_scd2`: every change row appends to its
    * key's version chain; the key's CORRECTED chain (closed previous
    * version + new current) is re-emitted in Update mode whenever it
    * changes. State carries the key's raw change set (ListState — the
    * dimension history IS the state, as in a KS changelog-backed KTable),
    * so a LATE change splices into the middle of the chain and the
    * downstream materialization (last emission per (user, version))
    * still converges to exactly the batch result — StreamingSpec proves
    * equivalence on an out-of-order fixture. Per-batch cost is
    * O(chain length) per TOUCHED key only; state shards by key across
    * executors (RocksDB on a real cluster). */
  def scd2Stream(events: Dataset[Ev]): Dataset[ScdVer] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    events.groupByKey(_.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, ScdVer] {
          @transient private var chain:
            org.apache.spark.sql.streaming.ListState[Ev] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            chain = getHandle.getListState[Ev](
              "chain", Encoders.product[Ev], TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[Ev],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[ScdVer] = {
            val merged = (chain.get().toSeq ++ rows)
              .distinctBy(_.event_id)
              .sortBy(e => (tsUs(e.ts), e.event_id))
            chain.clear()
            chain.appendList(merged.toArray)
            merged.zipWithIndex.map { case (e, i) =>
              val us = tsUs(e.ts)
              val next = merged.lift(i + 1).map(n => tsUs(n.ts))
              ScdVer(user, (i + 1).toLong, e.event_id, us, next,
                e.event_type, next.isEmpty)
            }.iterator
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /** KS WALL-CLOCK punctuate analog — PROCESSING-TIME TIMERS: buffers
    * per-user counts silently and emits one [[UserCount]] snapshot only
    * when a wall-clock timer fires, `delayMs` after the key's first
    * (un-flushed) arrival. The other Processor-API time mode from
    * [[sessionCloser]] (event-time): here output is driven by REAL time
    * passing on the processing host, independent of event timestamps —
    * no watermark required or consulted. Each key re-arms itself on the
    * first input after a flush, so an idle key costs nothing. Timers
    * live in the per-partition state store — shard-local at any scale. */
  def wallClockFlush(events: Dataset[Ev],
                     delayMs: Long): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    events.groupByKey(_.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[
            Long, Ev, UserCount] {
          // (n_events, sum_value, last_ts_us, timer_armed)
          @transient private var state:
            org.apache.spark.sql.streaming.ValueState[(Long, Double, Long, Boolean)] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            state = getHandle.getValueState[(Long, Double, Long, Boolean)](
              "buffered", Encoders.product[(Long, Double, Long, Boolean)],
              TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[Ev],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[UserCount] = {
            val prev = Option(state.get()).getOrElse((0L, 0.0, 0L, false))
            val next = rows.toSeq.sortBy(_.event_id).foldLeft(prev) { (acc, e) =>
              (acc._1 + 1, acc._2 + e.value,
               math.max(acc._3, tsUs(e.ts)), acc._4)
            }
            if (!next._4)
              getHandle.registerTimer(
                timers.getCurrentProcessingTimeInMs() + delayMs)
            state.update((next._1, next._2, next._3, true))
            Iterator.empty // silent until the wall clock fires
          }
          override def handleExpiredTimer(user: Long,
              timers: org.apache.spark.sql.streaming.TimerValues,
              expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
              : Iterator[UserCount] = {
            val out = Option(state.get()).map { case (n, sum, last, _) =>
              // disarm but KEEP the running totals — the next input re-arms
              state.update((n, sum, last, false))
              UserCount(user, n, sum, last)
            }
            out.iterator
          }
        },
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** KS punctuate analog — EVENT-TIME TIMERS: a session closer that
    * emits one [[ClosedSession]] per user once the watermark passes
    * their last activity + `gap`. Each new event re-arms the key's
    * single timer (delete + register); the expired-timer callback emits
    * and clears state. This is the piece of the Processor API that
    * `statefulCounter` (per-record process) does not exercise: output
    * driven by TIME passing, not by input arriving. Timers live in the
    * per-partition state store alongside the value state — shard-local
    * at any scale. Input must carry a watermark on `ts`. */
  def sessionCloser(events: Dataset[Ev],
                    gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .transformWithState(
        new org.apache.spark.sql.streaming.StatefulProcessor[
            Long, Ev, ClosedSession] {
          @transient private var state:
            org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
          override def init(outputMode: OutputMode,
                            timeMode: TimeMode): Unit =
            state = getHandle.getValueState[(Long, Long)](
              "sess", Encoders.product[(Long, Long)], TTLConfig.NONE)
          override def handleInputRows(user: Long, rows: Iterator[Ev],
              timers: org.apache.spark.sql.streaming.TimerValues)
              : Iterator[ClosedSession] = {
            val rs = rows.toSeq // materialize: the iterator is single-pass
            val prev = Option(state.get())
            val lastMs = (prev.map(_._2).iterator ++
              rs.iterator.map(_.ts.getTime)).max
            val n = prev.map(_._1).getOrElse(0L) + rs.size
            state.update((n, lastMs))
            prev.foreach(p => getHandle.deleteTimer(p._2 + gapMs))
            getHandle.registerTimer(lastMs + gapMs)
            Iterator.empty
          }
          override def handleExpiredTimer(user: Long,
              timers: org.apache.spark.sql.streaming.TimerValues,
              expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
              : Iterator[ClosedSession] = {
            val out = Option(state.get()).map { case (n, lastMs) =>
              ClosedSession(user, n, lastMs * 1000L)
            }
            state.clear()
            out.iterator
          }
        },
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Soft dedup at the STREAM edge (the incremental q_dedup_soft): a
    * running per-content-hash multiplicity via flatMapGroupsWithState.
    * Each arriving doc is emitted immediately with its copy ORDINAL
    * (1 = first sighting); the final ordinal per hash equals the batch
    * key's n_copies, so a downstream weighter can re-weight at rest
    * (1/n) or act online (drop copies past a cap, the 100-TB ingest
    * policy). State is ONE long per distinct content hash — the
    * smallest exact-multiplicity footprint; partitioned by the hash, so
    * 1000 executors count disjoint key ranges with no coordination. */
  def softDedup(docs: DataFrame): Dataset[DocCopy] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"),
        sha2(col("text"), 256).as("content_hash"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, DocCopy](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          // doc_id order within a batch so replays are deterministic
          val out = rows.toSeq.sortBy(_._1).map { case (id, _) =>
            n += 1; DocCopy(id, h, n) }
          state.update(n)
          out.iterator
      }
  }

  /** s_quality_cascade — the filter cascade's per-doc DECISION grain at
    * the stream edge: each arriving doc is attributed to its first
    * failing rule (TextOps.cascadeFirstFail — the exact expression the
    * batch funnel aggregates) the moment it arrives. Stateless map — no
    * state store, no watermark, survives any reshard — so the streaming
    * gate and the batch report can never disagree on a document
    * (StreamingSpec pins stream decisions ≡ batch attribution and the
    * funnel law n_reached − n_dropped = n_survived over them). */
  def qualityCascade(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.queries.TextOps.cascadeFirstFail.as("first_fail"))

  /** KS Processor-API analog (state store + per-record process): running
    * per-user count/sum/last-seen via flatMapGroupsWithState. */
  def statefulCounter(events: Dataset[Ev]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserCount, UserCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[UserCount]) =>
          val prev = state.getOption.getOrElse(UserCount(user, 0L, 0.0, 0L))
          // fold in event-id order so replays are deterministic
          val sorted = rows.toSeq.sortBy(_.event_id)
          val next = sorted.foldLeft(prev) { (acc, e) =>
            UserCount(user, acc.n_events + 1, acc.sum_value + e.value,
                      math.max(acc.last_ts_us, tsUs(e.ts)))
          }
          state.update(next)
          Iterator.single(next)
      }
  }

  /** KS `KStream#split().branch(pred)` analog: route one stream into
    * disjoint substreams by predicate. In Structured Streaming each
    * branch is its own sink query over the SAME source — Spark plans the
    * filters independently (and pushes them to the source), so branches
    * scale independently; together the two frames partition the input
    * exactly (asserted in StreamingSpec). */
  def branch(events: DataFrame,
             pred: org.apache.spark.sql.Column): (DataFrame, DataFrame) =
    (events.filter(pred), events.filter(!pred))

  /** KS `KStream#merge` analog: interleave two streams of the same
    * schema into one. Union of streaming sources is planned as one
    * multi-source scan — no state, no shuffle. */
  def merge(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** foreachBatch idempotent UPSERT sink — the KS "materialize the KTable
    * to an external store" / exactly-once-sink analog. Each micro-batch
    * MERGEs into a keyed parquet table (newest row per user by
    * (ts, event_id), the same spec as [[graft.Graft.latestPerKey]]) and
    * commits the result as an immutable VERSION directory named by
    * batchId. Replaying a batch after a restart re-reads the same
    * pre-state and overwrites its OWN version with identical content, so
    * the sink is idempotent — the standard batchId-keyed foreachBatch
    * exactly-once pattern. Readers take the highest committed version,
    * so a concurrent reader never observes a
    * half-written merge. The merge itself is a window top-1 per key:
    * shuffle-partitioned by user_id, no driver state, cost bound by
    * table size per batch. The version listing uses the local
    * filesystem; a cluster deployment swaps in the Hadoop FileSystem
    * API (or a transactional table format) — the merge plan is
    * unchanged. */
  def upsertBatch(batch: Dataset[Ev], tableDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val merged = latestTable(spark, tableDir) match {
      case Some(cur) => cur.as[Ev].unionByName(batch)
      case None => batch
    }
    graft.Graft.latestPerKey(merged.toDF()).as[Ev]
      .write.mode("overwrite").parquet(versionDir(tableDir, batchId))
  }

  private def versionDir(tableDir: String, v: Long): String =
    f"$tableDir/v=$v%06d"

  /** Continuous-ingest near-duplicate detection — the streaming face of
    * [[graft.operators.DedupIndex]], and the shape a 100-TB corpus
    * actually dedups in: an index at rest (backfilled once, possibly
    * empty), a stream of document batches, and per micro-batch
    *   (1) the batch's stored rows (one profile-kernel pass, persisted)
    *       appended to the index as its OWN ingest partition;
    *   (2) ONE pair pass over the stored docs ∪ the batch rows: the
    *       WITHIN-batch near-dup pairs and the CROSS pairs against the
    *       index, with zero corpus shuffle for an increment-sized batch
    *       (DedupIndex.ingestPairs);
    *   (3) the pairs committed as an immutable batchId-named version
    *       (the upsertBatch exactly-once pattern).
    * Appending first means (1) is the job that fills the cache, so (2)
    * picks broadcast or shuffle from the cached batch's measured size
    * without a count. The pass reads the ingests committed before (1),
    * less the batch's own partition, and anti-joins the batch's ids
    * from them, so the batch meets only its own rows. Every step is
    * idempotent under replay: (1) overwrites the batch's ingest
    * partition (or is skipped when a compaction already folded it —
    * its docs are in ingest 0, and the high-water mark would refuse
    * it), (2) excludes the re-delivered ids wherever they are stored,
    * and (3) overwrites the batch's version. A batch costs four Spark
    * jobs: the append, two broadcasts and the pair write. The union of
    * committed versions over any batch partitioning of a corpus equals
    * the corpus-wide exact near-dup pair set — each pair is emitted
    * exactly once, by whichever batch completes it (asserted against
    * q_dedup_minhash in StreamingSpec). */
  def dedupIndexIngest(batch: DataFrame, root: String, pairsDir: String,
                       batchId: Long): Unit = {
    import graft.operators.DedupIndex
    val s = batch.sparkSession
    require(DedupIndex.exists(s, root),
      s"no dedup index under $root — build the backfill first (may be empty)")
    // ingest ids start at 1: 0 is the backfill's partition
    val ingestId = batchId + 1
    val ingests = DedupIndex.committedIngests(s, root).filter(_ != ingestId)
    val rows = DedupIndex.rowsOfDocs(batch).persist()
    try {
      if (ingestId > DedupIndex.compactedThrough(s, root))
        DedupIndex.writeIngest(rows, root, ingestId)
      DedupIndex.ingestPairs(s, root, ingests, rows)
        .write.mode("overwrite").parquet(versionDir(pairsDir, batchId))
    } finally rows.unpersist()
  }

  /** s_phash_index_ingest — continuous perceptual-hash dedup, the
    * screen-then-admit loop at IMAGE grain, in [[dedupIndexIngest]]'s
    * shape on the fifth stored index. Per micro-batch of payloads:
    *   (1) the batch's banded signature rows (one hash pass, persisted)
    *       admitted as its OWN ingest partition (skipped idempotently
    *       when a compaction already folded it);
    *   (2) ONE pair pass over the stored rows ∪ the batch rows: the
    *       WITHIN-batch hamming pairs and the CROSS pairs against the
    *       index, recall exact by pigeonhole (PHashIndex.ingestPairs);
    *   (3) the pairs committed as an immutable batchId-named version.
    * Appending first fills the cache, so (2) is planned on the cached
    * batch's measured size. The pass reads the ingests committed
    * before (1), less the batch's own partition, and anti-joins the
    * batch's ids from them, so a replayed batch meets only its own
    * rows. Union-over-batches ≡ the corpus-wide hamming-pair set under
    * any batch slicing (each undirected pair emitted exactly once, by
    * whichever batch completes it — pinned in StreamingSpec). */
  def phashIndexIngest(batch: DataFrame, root: String, pairsDir: String,
                       batchId: Long): Unit = {
    import graft.operators.PHashIndex
    val s = batch.sparkSession
    require(PHashIndex.exists(s, root),
      s"no phash index under $root — build the backfill first (may be empty)")
    val ingestId = batchId + 1
    val ingests = PHashIndex.committedIngests(s, root).filter(_ != ingestId)
    val rows = PHashIndex.sigRows(batch).persist()
    try {
      if (ingestId > PHashIndex.compactedThrough(s, root))
        PHashIndex.writePrepared(rows, root, ingestId)
      PHashIndex.ingestPairs(s, root, ingests, rows)
        .write.mode("overwrite").parquet(versionDir(pairsDir, batchId))
    } finally rows.unpersist()
  }

  /** s_knn_index_ingest — continuous ANN index maintenance, the
    * streaming face of [[graft.operators.AnnIndex.append]]: each
    * micro-batch of (vec_id, v: array<double>, L2-normalized) is
    * encoded against the STORED centroids/codebooks (no retraining)
    * and committed as its own immutable `batch=` dir. foreachBatch's
    * stable batchId makes replay exactly-once: a re-delivered batch
    * rewrites only itself.
    * Ingest ids start at 1: 0 is the backfill's partition. A replay of
    * a batch an [[graft.operators.AnnIndex.compact]] has since folded
    * is skipped idempotently (its vectors are already in the folded
    * partition set) instead of tripping append's high-water-mark
    * require — the dedupIndexIngest discipline. */
  def annIndexIngest(batch: DataFrame, root: String, batchId: Long): Unit = {
    import graft.operators.AnnIndex
    val ingestId = batchId + 1
    if (ingestId > AnnIndex.compactedThrough(batch.sparkSession, root))
      AnnIndex.append(batch, root, batchId = ingestId)
  }

  /** s_text_index_ingest — continuous BM25 inverted-index maintenance,
    * the streaming face of [[graft.operators.InvertedIndex.append]]:
    * each micro-batch of documents is tokenized into postings (term,
    * doc_id, tf, dl) plus one batch-stats row, both committed as the
    * batch's own immutable `batch=` dirs. foreachBatch's stable batchId
    * makes replay exactly-once: a re-delivered batch rewrites only itself, and because query-time df
    * and corpus stats are SUMS over batch partitions, a query after any
    * prefix of batches equals the full rebuild over those documents
    * (batching-invariance asserted in StreamingSpec). Ingest ids start
    * at 1: 0 is the backfill's partition. */
  def textIndexIngest(batch: DataFrame, root: String, batchId: Long): Unit =
    graft.operators.InvertedIndex.append(batch, root, batchId = batchId + 1)

  /** s_bpe_encode — continuous corpus tokenization, the streaming face
    * of q_text_bpe_apply: each micro-batch of (doc_id, text) encodes
    * against the STORED merge table (no retraining — the merges bake
    * into the projection as literals, a pure per-row map: O(batch) per
    * batch, never O(corpus)) and commits as its own
    * version dir. foreachBatch's stable batchId makes
    * replay exactly-once. Invariants (spec-pinned): the union of
    * streamed encodings equals the batch twin's output under ANY
    * micro-batch slicing (fixed merges + per-row map ⇒
    * batching-invariant by construction), and replaying a committed
    * batch changes nothing. */
  def bpeEncodeBatch(batch: DataFrame, mergesRoot: String, outDir: String,
                     batchId: Long): Unit = {
    val ms = graft.operators.BpeTrain
      .loadMerges(batch.sparkSession, mergesRoot)
    graft.operators.BpeTrain.encodeStats(batch, ms)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))
  }

  /** s_classify_nb — continuous document classification, the streaming
    * face of q_text_classify_at_rest: each micro-batch of (doc_id, lang,
    * text) is scored against the STORED NB model (no retraining — the
    * vocab-sized llk grid broadcasts, scoring is a per-batch
    * broadcast-join + integer sums, O(batch) per batch, never O(corpus))
    * and committed as its own version dir.
    * foreachBatch's stable batchId makes replay exactly-once. Invariants
    * (spec-pinned): the union of streamed predictions equals the batch
    * twin's output under ANY micro-batch slicing (fixed model +
    * per-doc-independent scoring ⇒ batching-invariant by construction),
    * and replaying a committed batch changes nothing. */
  def classifyBatch(batch: DataFrame, modelRoot: String, outDir: String,
                    batchId: Long): Unit =
    graft.operators.NbClassifier
      .scoreStored(batch.sparkSession, modelRoot, batch)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))

  /** s_boilerplate — continuous boilerplate scoring against the STORED
    * common-gram blocklist (DedupOps.commonGrams written once at rest
    * from the reference corpus — blocklists change rarely, ingest never
    * stops): each arriving micro-batch of (doc_id, text) is scored with
    * the EXACT batch machinery (DedupOps.boilerplateCoverage — gram
    * explode, blocklist equi-join, window-union coverage), O(batch) per
    * batch, never O(corpus), committed as version
    * dirs. Per-doc scores depend only on the doc and the frozen
    * blocklist ⇒ the union is batching-invariant, replay exactly-once
    * via foreachBatch batchId (both pinned in StreamingSpec). */
  def boilerplateBatch(batch: DataFrame, blockRoot: String, outDir: String,
                       batchId: Long): Unit = {
    val block = batch.sparkSession.read.parquet(blockRoot)
    graft.queries.DedupOps.boilerplateCoverage(batch,
        graft.queries.DedupOps.gramRows(batch), block)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))
  }

  /** s_embed_outliers — continuous embedding-quality screening against
    * the STORED outlier model (per-label centroid arrays + adaptive-tail
    * thresholds, LlmOps.storeOutlierModel — models retrain rarely,
    * vectors arrive constantly): each micro-batch of (vec_id, label,
    * embedding) scores via two broadcast joins + a pure-map zip_with
    * fold — O(batch) per batch, never O(corpus) — committed as
    * version dirs. Frozen model ⇒ per-vector scores
    * are batching-invariant; replay exactly-once via foreachBatch
    * batchId (both pinned in StreamingSpec). */
  def outlierBatch(batch: DataFrame, modelRoot: String, outDir: String,
                   batchId: Long): Unit =
    graft.queries.LlmOps
      .scoreStoredOutliers(batch.sparkSession, modelRoot, batch)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))

  /** s_decontam_near — continuous FUZZY contamination screening against
    * the STORED bench index (PipelineOps.storeDecontamNearIndex: band
    * table + shingle profiles — bench suites change rarely, corpora
    * arrive forever): each micro-batch of (doc_id, text) shingles
    * itself, finds candidates via its bands against the broadcast
    * stored band table, exact-Jaccard-verifies against the broadcast
    * stored profiles, and commits its per-doc best matches as a
    * version dir. A doc's hits depend only on the doc
    * and the frozen index, so the union is batching-invariant and ≡ the
    * declared q_decontam_near on the same docs (pinned); replay
    * exactly-once via foreachBatch batchId. */
  def decontamBatch(batch: DataFrame, indexRoot: String, outDir: String,
                    batchId: Long): Unit =
    graft.queries.PipelineOps
      .scoreStoredDecontam(batch.sparkSession, indexRoot, batch)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))

  /** s_dedup_frames — continuous per-frame perceptual screening against
    * a STORED [[graft.operators.FrameIndex]] (the reference corpus
    * sampled + dHashed once; video ingest never stops): each
    * micro-batch of (doc_id, text-as-payload) samples and hashes ONLY
    * itself, broadcasts its frame signatures onto the streamed stored
    * rows, and commits every "this upload is a clip of a stored video"
    * hit (directed containment ≥ 0.8 at frame grain) as a version dir.
    * The stored rows and the hot-hash guard are read with declared
    * schemas, committed ingests only. A doc's hits depend only on the
    * doc and the frozen index, so the union is batching-invariant and
    * ≡ the one-shot [[graft.operators.PHash.screenFrames]] on the same
    * docs (pinned); replay exactly-once via foreachBatch batchId. */
  def frameDedupBatch(batch: DataFrame, indexRoot: String, outDir: String,
                      batchId: Long): Unit = {
    import graft.operators.{FrameIndex, PHash}
    val s = batch.sparkSession
    PHash.screenFrames(broadcast(batch), FrameIndex.stored(s, indexRoot),
        hotHashes = Some(FrameIndex.hotHashes(s, indexRoot)))
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))
  }

  /** s_frame_index_ingest — the SCREEN-THEN-ADMIT loop, the video
    * platform's continuous shape (the s_dedup_index discipline at
    * frame grain): each micro-batch of uploads is
    *   (1) screened WITHIN itself (PHash.frameContainment — directed
    *       containment among batch-mates, content grain),
    *   (2) screened against the STORED frame index in BOTH directions
    *       (the upload may be a clip of a stored video, and a stored
    *       clip may sit inside the new longer upload — the stored
    *       row's denormalized n_fr grades the second direction with
    *       zero corpus re-aggregation), the batch's own re-delivered
    *       rows anti-joined away,
    *   (3) the union committed as an immutable batchId-named version,
    *   (4) the batch ADMITTED as its own ingest partition (skipped
    *       idempotently when a compaction already folded it).
    * Every step is replay-idempotent, and the union of committed pairs
    * over ANY batch partitioning of a corpus (empty backfill) equals
    * the corpus-wide q_dedup_frames pair set — each directed pair
    * emitted exactly once, by whichever batch completes it (pinned in
    * StreamingSpec).
    *
    * Per-batch cost discipline (the measured one — PLANS_r18):
    * a micro-batch's wall is TINY-JOB COUNT, not rows; the unfused
    * form paid ~36 actions/batch (three separate signature passes +
    * checkpoint actions guarding recomputes that cost nothing at
    * 1000-doc grain). So the batch's (doc_id, fhash) signature set is
    * computed and checkpointed ONCE here, and the whole screen —
    * within-batch containment AND both-direction stored screen — runs
    * as ONE candidate pass (PHash.ingestScreenFused: one pair groupBy,
    * one size aggregation, branch filters as per-row flags) inside the
    * single output-write job; the admit is one more. Row-identical to
    * the unfused operators by construction (same sets, same
    * thresholds; StreamingSpec's batching-invariance law,
    * FrameIndexSpec's fused-screen and appendSig laws pin it). */
  def frameIndexIngest(batch: DataFrame, root: String, outDir: String,
                       batchId: Long): Unit = {
    import graft.operators.{FrameIndex, Multimodal, PHash}
    val s = batch.sparkSession
    require(FrameIndex.exists(s, root),
      s"no frame index under $root — build the backfill first (may be empty)")
    val sig = PHash.frameSignaturesFused(batch, PHash.NPix, 2)
      .localCheckpoint(true) // the ONE signature pass (fused kernel —
                             // no Dataset ser/de, no distinct exchange);
                             // feeds screen + admit
    PHash.ingestScreenFused(batch, sig, FrameIndex.stored(s, root),
        FrameIndex.hotHashes(s, root))
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))
    val ingestId = batchId + 1
    if (ingestId > FrameIndex.compactedThrough(s, root))
      FrameIndex.appendSig(sig, root, ingestId)
  }

  /** s_cluster_assign — continuous topic-bucketing, the streaming face
    * of q_cluster_assign: each micro-batch of (vec_id, v: array<double>)
    * is assigned to its max-cosine centroid from the STORED k-row model
    * (no retraining — assignment is a per-row map against a broadcast
    * model-sized table, so per-batch cost is O(batch), never O(corpus))
    * and committed as its own version dir.
    * foreachBatch's stable batchId makes replay exactly-once: a
    * re-delivered batch overwrites only its own version. Invariants
    * (spec-pinned): the union of streamed assignments equals the batch
    * twin's output under ANY micro-batch slicing (deterministic model +
    * per-row map ⇒ batching-invariant by construction), and replaying a
    * committed batch changes nothing. */
  def clusterAssign(batch: DataFrame, centsRoot: String, outDir: String,
                    batchId: Long): Unit = {
    val cents = batch.sparkSession.read.parquet(centsRoot)
    graft.operators.IvfKMeans.assignClusters(
        batch.withColumn("nrm", graft.functions.VectorExprs.norm(col("v"))),
        cents)
      .write.mode("overwrite").parquet(versionDir(outDir, batchId))
  }

  /** Union of every committed version under `dir` — the output of any
    * batchId-versioned sink here ([[dedupIndexIngest]],
    * [[frameIndexIngest]], [[classifyBatch]], …). Readers see whole
    * batches only: a version dir counts once its write committed
    * (util.IndexStore.committed). */
  def committed(spark: org.apache.spark.sql.SparkSession,
                dir: String): DataFrame = {
    val vs = graft.util.IndexStore.committed(spark, dir)
    require(vs.nonEmpty, s"no committed versions under $dir")
    spark.read.parquet(vs.map(versionDir(dir, _)): _*)
  }

  /** [[committed]] for the near-dup pairs of [[dedupIndexIngest]]. */
  def committedPairs(spark: org.apache.spark.sql.SparkSession,
                     pairsDir: String): DataFrame = committed(spark, pairsDir)

  /** Highest COMMITTED version of the upserted table, if any exists. */
  def latestTable(spark: org.apache.spark.sql.SparkSession,
                  tableDir: String): Option[DataFrame] =
    graft.util.IndexStore.committed(spark, tableDir).lastOption
      .map(v => spark.read.parquet(versionDir(tableDir, v)))
}
