package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

final case class Doc(doc_id: Long, text: String)

/** Continuous near-duplicate ingest: a MemoryStream feeds
  * `foreachBatch(Streams.dedupIndexIngest)` into a DedupIndex backfilled
  * from the seed corpus, and `DedupIndex.compact` folds the index every
  * `CompactEvery` batches. The window has a closed-loop capacity phase
  * (fixed-size batches back to back) and then an open-loop latency phase
  * (one generator thread sending on a fixed schedule). */
final class Ingest extends Workload {
  import Ingest._

  private var ctx: Ctx = _
  private var backfillDocs = 0L
  private var pool: Array[Doc] = Array.empty
  @volatile private var sent = 0 // docs handed to the stream
  private var mem: MemoryStream[Doc] = _
  private var query: StreamingQuery = _
  @volatile private var phase = "warmup"
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val ticks = mutable.ArrayBuffer.empty[Tick]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val folds = mutable.ArrayBuffer.empty[(Double, Double)]
  private var capacity = (0, 0.0) // docs, seconds
  private val capacityBatchS = mutable.ArrayBuffer.empty[Double]
  private var windowS = 0.0
  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  private val warmup = mutable.ArrayBuffer.empty[Double]

  private def root = s"${ctx.work}/index"
  private def pairsDir = s"${ctx.work}/pairs"

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String): Long =
        if (s == null || s == "null" || s.isEmpty) -1L else s.trim.toLong
      import scala.jdk.CollectionConverters._
      progress.synchronized {
        progress += Progress(p.batchId, off(p.sources.head.startOffset),
          off(p.sources.head.endOffset), p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  private def onBatch(b: DataFrame, id: Long): Unit = {
    val s = b.sparkSession
    val traced = ctx.tracer.enabled
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val group = s"batch-$id"
    ctx.tracer.span("operators.ingest", group) { _ =>
      // one input partition, as from a one-partition source, however
      // many sends the batch holds
      graft.streaming.Streams.dedupIndexIngest(b.coalesce(1), root, pairsDir, id)
    }
    val t1 = System.nanoTime
    var compactMs = -1.0
    if ((id + 1) % CompactEvery == 0) {
      ctx.tracer.span("operators.compact", group) { _ =>
        graft.operators.DedupIndex.compact(s, root)
      }
      compactMs = (System.nanoTime - t1) / 1e6
      if (ctx.trace) folds += indexFiles()
    }
    val t2 = System.nanoTime
    batches += Batch(id, phase, traced, t0, t1, t2, startMs,
      System.currentTimeMillis, compactMs)
  }

  /** (bytes per indexed doc, parquet data files) of the index at rest. */
  private def indexFiles(): (Double, Double) = {
    import java.nio.file.{Files, Paths}
    val files = Files.walk(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    (files.map(Files.size(_)).sum.toDouble / (backfillDocs + sent), files.length.toDouble)
  }

  /** Sends `n` pool docs as one MemoryStream offset. */
  private def send(n: Int): Long = {
    val docs = pool.slice(sent, sent + n)
    require(docs.length == n, s"document pool exhausted at $sent")
    sent += n
    mem.addData(docs.toSeq).toString.trim.toLong
  }

  private def closedBatch(): Double = {
    val t0 = System.nanoTime
    send(BatchDocs)
    query.processAllAvailable()
    (System.nanoTime - t0) / 1e9
  }

  def setup(c: Ctx): Unit = {
    ctx = c
    val s = ctx.spark
    var t = System.nanoTime
    def lap(name: String): Unit = {
      val now = System.nanoTime
      setupPhases(name) = (now - t) / 1e9
      t = now
    }
    import s.implicits._
    pool = s.read.parquet(s"${ctx.input}/stream.parquet").select("doc_id", "text")
      .as[Doc].collect().sortBy(_.doc_id)
    lap("inputs")
    val backfill = s.read.parquet(s"${ctx.input}/backfill.parquet")
    backfillDocs = backfill.count()
    graft.operators.DedupIndex.buildDocs(backfill, root)
    lap("backfill")
    mem = MemoryStream[Doc](s)
    s.streams.addListener(listener)
    query = mem.toDF().writeStream
      .option("checkpointLocation", s"${ctx.work}/checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => onBatch(b, id))
      .start()
    lap("query_start")
    // whole compaction cycles until cycle time has levelled off: the
    // last three cycles within 15% of their median
    def level: Boolean = {
      val cycles = warmup.grouped(CompactEvery).map(_.sum).toSeq.takeRight(3)
      val m = Stats.median(cycles)
      cycles.size == 3 && cycles.forall(x => math.abs(x - m) <= 0.15 * m)
    }
    while (warmup.size < WarmupMin || !level) {
      if (warmup.size >= WarmupMax) throw new IllegalStateException(
        s"batch time did not level off in $WarmupMax warm-up batches: " +
          warmup.map(x => f"$x%.2f").mkString(", "))
      for (_ <- 0 until CompactEvery) warmup += closedBatch()
    }
    lap("warmup")
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  def window(c: Ctx, seconds: Double): Unit = {
    // capacity: fixed-size batches back to back
    phase = "capacity"
    val t0 = System.nanoTime
    for (i <- 0 until CapacityBatches) {
      // traced runs alternate pairs of batches, so that as many traced
      // as untraced batches compact
      ctx.tracer.enabled = ctx.trace && (i / CompactEvery) % 2 == 1
      capacityBatchS += closedBatch()
    }
    ctx.tracer.enabled = ctx.trace
    capacity = (CapacityBatches * BatchDocs, (System.nanoTime - t0) / 1e9)
    // latency: one generator sends every TickMs whatever the stream does
    phase = "latency"
    val perTick = RateDocsPerS * TickMs / 1000
    val nTicks = math.max(MinTicks, (seconds * 1000 / TickMs).toInt)
    val start = System.nanoTime + TickMs * 1000000L
    for (k <- 0 until nTicks) {
      val due = start + k * TickMs * 1000000L
      val wait = due - System.nanoTime
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val sentNs = System.nanoTime
      ticks += Tick(due, sentNs, send(perTick), perTick)
    }
    query.processAllAvailable()
    windowS = (System.nanoTime - t0) / 1e9
    ctx.tracer.enabled = false
    // progress events trail their batch
    val deadline = System.currentTimeMillis + 5000
    while (progress.synchronized(progress.size) < batches.size &&
           System.currentTimeMillis < deadline) Thread.sleep(20)
  }

  def layers(c: Ctx): Map[String, Double] = {
    val ex = ctx.exec
    val loads = Sources.probe(ctx, Seq("backfill", "stream"))
    val w = batches.filter(_.phase != "warmup").toSeq
    val byId = progressById
    val prog = w.flatMap(b => byId.get(b.id))
    def dur(k: String) = Stats.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    val groups = w.map(b => b -> ex.group(s"batch-${b.id}"))
    for ((b, g) <- groups; (js, je) <- g.jobSpans)
      ctx.tracer.record("exec.job", s"batch-${b.id}", -1, js * 1000, je * 1000)
    def perBatch(f: ex.Group => Double) = Stats.mean(groups.map(x => f(x._2)))
    val busy = groups.map(_._2.runMs).sum.toDouble
    val pairs = ctx.spark.read.parquet(s"${ctx.work}/pairs.parquet").count()
    loads ++ Map(
      "operators.ingest_batch_ms" -> Stats.median(w.map(b => (b.ingestNs - b.startNs) / 1e6)),
      "operators.compact_ms" -> Stats.median(w.filter(_.compactMs >= 0).map(_.compactMs)),
      "operators.pairs_per_kdoc" -> pairs * 1000.0 / sent,
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.rows_per_batch" -> Stats.median(prog.map(_.rows.toDouble)),
      "streaming.jobs_per_batch" -> perBatch(_.jobs.toDouble),
      "util.index_bytes_per_doc" -> Stats.median(folds.map(_._1).toSeq),
      "util.index_data_files" -> Stats.median(folds.map(_._2).toSeq),
      "exec.jobs" -> perBatch(_.jobs.toDouble),
      "exec.stages" -> perBatch(_.stages.toDouble),
      "exec.tasks" -> perBatch(_.tasks.toDouble),
      "exec.job_ms" -> perBatch(_.jobSpans.map { case (a, b) => (b - a).toDouble }.sum),
      "exec.driver_gap_ms" -> Stats.mean(groups.map { case (b, g) =>
        (b.endMs - b.startMs) - Stats.covered(g.jobSpans.toSeq, b.startMs, b.endMs).toDouble }),
      "exec.task_run_ms" -> perBatch(_.runMs.toDouble),
      "exec.task_cpu_ms" -> perBatch(_.cpuNs / 1e6),
      "exec.task_gc_ms" -> perBatch(_.gcMs.toDouble),
      "exec.task_wait_ms" -> perBatch(_.waitMs.toDouble),
      "exec.core_busy_share" -> busy / (ctx.cores * windowS * 1000),
      "exec.shuffle_read_bytes" -> perBatch(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> perBatch(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> perBatch(_.spill.toDouble),
      "exec.input_bytes" -> perBatch(_.input.toDouble),
      "exec.task_failures" -> perBatch(_.taskFailures.toDouble))
  }

  /** Committed pairs, for the exact-Jaccard check. */
  override def afterWindow(c: Ctx): Unit =
    graft.streaming.Streams.committedPairs(ctx.spark, pairsDir)
      .select("doc_a", "doc_b", "jaccard").coalesce(1)
      .write.parquet(s"${ctx.work}/pairs.parquet")

  private def progressById: Map[Long, Progress] =
    progress.synchronized(progress.toList).map(p => p.batchId -> p).toMap

  def result: Json.V = {
    val prog = progressById
    Json.obj(
      "backfill_docs" -> Json.long(backfillDocs),
      "ingested_docs" -> Json.long(sent),
      "capacity" -> Json.obj("docs" -> Json.long(capacity._1),
        "seconds" -> Json.num(capacity._2),
        "batch_docs" -> Json.long(BatchDocs),
        "compact_every" -> Json.long(CompactEvery),
        "batch_s" -> Json.arr(capacityBatchS.toSeq.map(Json.num))),
      "rate_docs_per_s" -> Json.long(RateDocsPerS),
      "setup_phases_s" -> Json.nums(setupPhases),
      "warmup_batch_s" -> Json.arr(warmup.toSeq.map(Json.num)),
      "ticks" -> Json.arr(ticks.toSeq.map(t => Json.obj(
        "due_ns" -> Json.long(t.dueNs), "sent_ns" -> Json.long(t.sentNs),
        "offset" -> Json.long(t.offset), "docs" -> Json.long(t.docs)))),
      "batches" -> Json.arr(batches.toSeq.map(b => Json.obj(
        "id" -> Json.long(b.id), "phase" -> Json.str(b.phase),
        "traced" -> Json.bool(b.traced),
        "start_offset" -> Json.long(prog.get(b.id).map(_.startOffset).getOrElse(-2L)),
        "end_offset" -> Json.long(prog.get(b.id).map(_.endOffset).getOrElse(-2L)),
        "start_ns" -> Json.long(b.startNs), "commit_ns" -> Json.long(b.endNs),
        "ms" -> Json.num((b.endNs - b.startNs) / 1e6),
        "compact_ms" -> Json.num(b.compactMs)))))
  }
}

object Ingest {
  final case class Batch(id: Long, phase: String, traced: Boolean,
                         startNs: Long, ingestNs: Long, endNs: Long,
                         startMs: Long, endMs: Long, compactMs: Double)
  final case class Tick(dueNs: Long, sentNs: Long, offset: Long, docs: Int)
  /** A batch's StreamingQueryProgress: offsets (start, end] it read. */
  final case class Progress(batchId: Long, startOffset: Long, endOffset: Long,
                            rows: Long, durations: Map[String, Long])

  val BatchDocs = 100
  val CompactEvery = 2
  /** Three compaction cycles; the rate takes the median cycle time. */
  val CapacityBatches = 6
  /** Warm-up runs whole cycles until cycle time levels off. Batch time
    * falls steeply for about 12 batches; a minimum of that many keeps the
    * warm-up, and so set-up time, much the same from run to run. */
  val WarmupMin = 12
  val WarmupMax = 28
  /** Open-loop send rate, well below the capacity phase's rate. */
  val RateDocsPerS = 40
  /** Each send is one MemoryStream block and one latency sample, all its
    * docs committed together; a p90 needs 100 sends (10 beyond it). */
  val TickMs = 50
  val MinTicks = 110
}
