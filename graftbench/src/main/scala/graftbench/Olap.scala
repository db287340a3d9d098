package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** The `olap` workload, a closed loop over declared query keys: each of
  * `Clients` threads takes whole passes over the key set from a shared
  * queue, each pass in an order drawn from the seed and the pass number,
  * its next op starting when its previous one returns. The window ends
  * when at least `MinOps` ops and the given seconds are done. An op is
  * the key function plus one action (collect) that consumes every output
  * column. */
final class Olap extends Workload {
  import Olap._

  private val verified = mutable.LinkedHashMap.empty[String, Verified]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private var windowS = 0.0
  private val opCount = new java.util.concurrent.atomic.AtomicInteger

  /** Order-insensitive digest: wrapping sum of mixed row hashes. */
  private def digest(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    var z = r.hashCode.toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    acc + (z ^ (z >>> 31))
  }

  private def runOp(ctx: Ctx, key: String, pass: Int, check: Boolean,
                    traced: Boolean, inject: Boolean = false): (Op, Array[Row], DataFrame) = {
    val s = ctx.spark
    val sc = s.sparkContext
    val n = opCount.getAndIncrement
    val group = (if (traced) "t-" else "") + f"op-$n%05d"
    val f = graft.SparkEntry.queries(key)
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    var t1 = t0
    var df: DataFrame = null
    val res = try {
      ctx.tracer.span("op", group, on = traced) { opSpan =>
        sc.setJobGroup(s"$group-b", key)
        df = ctx.tracer.span("queries.build", group, opSpan, traced)(_ => f(s, ctx.input))
        t1 = System.nanoTime
        sc.setJobGroup(s"$group-a", key)
        val rows = ctx.tracer.span("queries.action", group, opSpan, traced)(_ => df.collect())
        // a deliberately wrong result, for testing the output check
        Right(if (!inject) rows else if (rows.nonEmpty) rows.tail else Array(Row.empty))
      }
    } catch { case t: Throwable => Left(s"${t.getClass.getName}: ${t.getMessage}") }
    finally sc.clearJobGroup()
    val t2 = System.nanoTime
    val endMs = System.currentTimeMillis
    val phases = Option(df).map(_.queryExecution.tracker.phases.map {
      case (k, p) => k -> (p.startTimeMs, p.endTimeMs)
    }.toMap).getOrElse(Map.empty)
    res match {
      case Right(rows) =>
        val d = digest(rows)
        val ok = !check || verified.get(key).exists(v =>
          v.rows.length == rows.length && v.digest == d)
        (Op(key, pass, traced, group, startMs, endMs, (t1 - t0) / 1e6,
          (t2 - t1) / 1e6, rows.length, d, ok,
          if (ok) "" else "result differs from the verified result", phases),
          rows, df)
      case Left(err) =>
        (Op(key, pass, traced, group, startMs, endMs, (t1 - t0) / 1e6,
          (t2 - t1) / 1e6, -1, 0, ok = false, err, phases), null, df)
    }
  }

  def setup(ctx: Ctx): Unit = {
    // each key once, untimed, on one thread per core: code paths
    // compiled, results kept for the checks
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      val runs = Keys.map(k => k -> pool.submit(
        () => runOp(ctx, k, -1, check = false, traced = false)))
      for ((k, f) <- runs) {
        val (op, rows, df) = f.get()
        if (!op.ok) throw new IllegalStateException(s"warm-up of $k failed: ${op.error}")
        verified(k) = Verified(rows, df.schema, op.digest)
      }
    } finally pool.shutdown()
  }

  override def afterSetup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val out = s"${ctx.work}/verify"
    for ((k, v) <- verified)
      s.createDataFrame(java.util.Arrays.asList(v.rows: _*), v.schema)
        .coalesce(1).write.parquet(s"$out/$k")
    Json.write(Json.obj(Keys.flatMap(k =>
      graft.SparkEntry.oracleSql.get(k).map(k -> Json.str(_))): _*),
      s"$out/oracle_sql.json")
  }

  def window(ctx: Ctx, seconds: Double): Unit = {
    // whole passes, each taken by the next free client
    val passes = math.ceil(MinOps.toDouble / Keys.size).toInt
    val next = new java.util.concurrent.atomic.AtomicInteger
    val timedOps = new java.util.concurrent.atomic.AtomicInteger
    val t0 = System.nanoTime
    def client: Runnable = () => {
      var pass = next.getAndIncrement
      while (pass < passes || (System.nanoTime - t0) / 1e9 < seconds) {
        // traced runs alternate untraced and traced passes
        val traced = ctx.trace && pass % 2 == 1
        for (k <- new scala.util.Random(ctx.seed * 1000 + pass).shuffle(Keys)) {
          val inject = ctx.injectWrongOp == timedOps.getAndIncrement
          val op = runOp(ctx, k, pass, check = true, traced, inject)._1
          ops.synchronized(ops += op)
        }
        pass = next.getAndIncrement
      }
    }
    val threads = (0 until Clients).map(c => new Thread(client, s"client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    windowS = (System.nanoTime - t0) / 1e9
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val sc = s.sparkContext
    val ex = ctx.exec
    val loads = Sources.probe(ctx, Tables)
    val traced = ops.filter(_.traced).toSeq.sortBy(_.startMs)
    for (o <- traced; part <- Seq("b", "a"); (js, je) <- ex.group(s"${o.group}-$part").jobSpans)
      ctx.tracer.record("exec.job", o.group, -1, js * 1000, je * 1000)
    for (o <- traced; (ph, (ps, pe)) <- o.phases)
      ctx.tracer.record(s"catalyst.$ph", o.group, -1, ps * 1000, pe * 1000)
    def perOp(f: ex.Group => Double): Double =
      Stats.mean(traced.map(o => f(ex.group(s"${o.group}-b")) + f(ex.group(s"${o.group}-a"))))
    def phase(p: String): Double =
      Stats.median(traced.map(o => o.phases.get(p).map { case (a, b) => (b - a).toDouble }.getOrElse(0.0)))
    val jobMs = traced.map { o =>
      Seq("b", "a").flatMap(p => ex.group(s"${o.group}-$p").jobSpans)
    }
    val gap = traced.zip(jobMs).map { case (o, spans) =>
      (o.endMs - o.startMs) - Stats.covered(spans, o.startMs, o.endMs)
    }
    // every op of the window, traced or not: the clients overlap
    val busy = ops.map(o =>
      ex.group(s"${o.group}-b").runMs + ex.group(s"${o.group}-a").runMs).sum
    val wall = windowS * 1000
    loads ++ Map(
      "queries.build_ms" -> Stats.median(traced.map(_.buildMs)),
      "queries.build_jobs" -> Stats.mean(traced.map(o => ex.group(s"${o.group}-b").jobs.toDouble)),
      "queries.action_ms" -> Stats.median(traced.map(_.actionMs)),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "exec.jobs" -> perOp(_.jobs.toDouble),
      "exec.stages" -> perOp(_.stages.toDouble),
      "exec.tasks" -> perOp(_.tasks.toDouble),
      "exec.job_ms" -> Stats.mean(jobMs.map(_.map { case (a, b) => (b - a).toDouble }.sum)),
      "exec.driver_gap_ms" -> Stats.mean(gap.map(_.toDouble)),
      "exec.task_run_ms" -> perOp(_.runMs.toDouble),
      "exec.task_cpu_ms" -> perOp(_.cpuNs / 1e6),
      "exec.task_gc_ms" -> perOp(_.gcMs.toDouble),
      "exec.task_wait_ms" -> perOp(_.waitMs.toDouble),
      "exec.core_busy_share" -> busy / (ctx.cores * wall),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> perOp(_.spill.toDouble),
      "exec.input_bytes" -> perOp(_.input.toDouble),
      "exec.task_failures" -> perOp(_.taskFailures.toDouble))
  }

  def result: Json.V = Json.obj(
    "window_s" -> Json.num(windowS),
    "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(
      "key" -> Json.str(o.key), "pass" -> Json.long(o.pass),
      "traced" -> Json.bool(o.traced),
      "ms" -> Json.num(o.buildMs + o.actionMs),
      "build_ms" -> Json.num(o.buildMs), "action_ms" -> Json.num(o.actionMs),
      "rows" -> Json.long(o.rows), "ok" -> Json.bool(o.ok),
      "error" -> Json.str(o.error)))),
    "verified_rows" -> Json.obj(verified.toSeq.map { case (k, v) =>
      k -> Json.long(v.rows.length) }: _*))
}

object Olap {
  final case class Op(key: String, pass: Int, traced: Boolean, group: String,
                      startMs: Long, endMs: Long, buildMs: Double,
                      actionMs: Double, rows: Long, digest: Long,
                      ok: Boolean, error: String,
                      phases: Map[String, (Long, Long)])

  final case class Verified(rows: Array[Row],
                            schema: org.apache.spark.sql.types.StructType,
                            digest: Long)

  /** The twelve DuckDB-proxy keys of BASELINE.md. */
  val Keys = Seq("q_agg_hash", "q_join_multiway", "q_win_topk_group",
    "q_topk", "q_join_interval", "q_join_asof", "q_tumbling", "q_json_funcs",
    "q_knn_cosine", "q_events_session", "q_intersect", "q_dedup")
  /** The tables the keys read. */
  val Tables = Seq("lineitem", "orders", "customer", "nation", "events", "embeddings")
  /** A p90 needs 100 ops (10 beyond it); one client takes about a minute. */
  val MinOps = 100
  val Clients = 3
}
