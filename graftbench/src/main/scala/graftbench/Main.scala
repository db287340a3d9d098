package graftbench

import org.apache.spark.sql.SparkSession

/** What every workload shares over one run. */
final class Ctx(val seed: Long, val trace: Boolean, val cores: Int,
                val work: String, val input: String, val injectWrongOp: Int) {
  var spark: SparkSession = _
  val tracer = new Tracer
  /** Registered in traced runs only. */
  val exec = new ExecListener
}

trait Workload {
  /** Set-up on a fresh session: stored artifacts and warm-up. */
  def setup(ctx: Ctx): Unit
  /** Work after set-up that is not set-up cost (oracle inputs). */
  def afterSetup(ctx: Ctx): Unit = ()
  def window(ctx: Ctx, seconds: Double): Unit
  /** Work after the window that is not measured (output for the checks). */
  def afterWindow(ctx: Ctx): Unit = ()
  /** Stops what the workload started on the current session. */
  def close(): Unit = ()
  /** Per-layer metrics, traced runs only. */
  def layers(ctx: Ctx): Map[String, Double]
  def result: Json.V
}

/** The `sources` layer alone: direct `Tables.load` calls on every table
  * a workload reads, three times each. */
object Sources {
  def probe(ctx: Ctx, tables: Seq[String]): Map[String, Double] = {
    val s = ctx.spark
    val loads = for (rep <- 1 to 3; t <- tables) yield {
      val g = s"src-$t-$rep"
      s.sparkContext.setJobGroup(g, t)
      val t0 = System.nanoTime
      if (t == "events") graft.sources.Tables.events(s, ctx.input)
      else graft.sources.Tables.load(s, ctx.input, t)
      s.sparkContext.clearJobGroup()
      (g, (System.nanoTime - t0) / 1e6)
    }
    ctx.exec.drain()
    Map("sources.load_ms" -> Stats.median(loads.map(_._2)),
      "sources.load_jobs" -> Stats.mean(loads.map(l => ctx.exec.group(l._1).jobs.toDouble)))
  }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Length of [from, to) covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var end = from
    var sum = 0L
    for ((a, b) <- spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
           .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a2 = math.max(a, end)
      if (b > a2) { sum += b - a2; end = b }
    }
    sum
  }
}

/** Entry point of one benchmark run:
  * `Main <workload> <seed> <seconds> <trace 0|1> <workDir> [injectWrongOp]`.
  * Everything the run writes lives under `workDir`; the raw measurements
  * go to `workDir/result.json`, which the launcher turns into metrics. */
object Main {
  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "500000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (ctx.trace) s.sparkContext.addSparkListener(ctx.exec)
    s
  }

  def workload(name: String): Workload = name match {
    case "olap" => new Olap
    case "ingest" => new Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case t: Throwable =>
      // a failed run must end now, whatever threads it leaves behind
      t.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, input) = args.take(6)
    val ctx = new Ctx(seedS.toLong, traceS == "1",
      Runtime.getRuntime.availableProcessors, work, input,
      if (args.length > 6) args(6).toInt else -1)
    val wl = workload(name)
    val t0 = System.nanoTime
    ctx.spark = session(ctx)
    val sessionS = (System.nanoTime - t0) / 1e9
    wl.setup(ctx)
    val setupS = (System.nanoTime - t0) / 1e9
    wl.afterSetup(ctx)

    val calBefore = Host.calibrationMs()
    val steal = new Host.Steal
    val gc0 = Host.gcMs()
    wl.window(ctx, secondsS.toDouble)
    val gcMs = Host.gcMs() - gc0
    val stealShare = steal.share()
    val calAfter = Host.calibrationMs()
    wl.afterWindow(ctx)

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else wl.layers(ctx) ++ Kernels.probe(ctx.seed) ++ Map(
        "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.retained_heap_mb" -> Host.retainedHeapMb())
    Json.write(Json.obj(
      "workload" -> Json.str(name),
      "cores" -> Json.long(ctx.cores),
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "host" -> Json.obj(
        "steal_share" -> Json.num(stealShare),
        "calibration_ms" -> Json.arr(Seq(Json.num(calBefore), Json.num(calAfter)))),
      "layers" -> Json.nums(layers),
      "spans" -> ctx.tracer.toJson,
      "run" -> wl.result), s"$work/result.json")
    wl.close()
    ctx.spark.stop()
  }
}
