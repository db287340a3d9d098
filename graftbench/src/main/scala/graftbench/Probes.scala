package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark jobs, stages and tasks, tied to the op (or micro-batch) that
  * launched them. An op is identified by the job group it sets
  * (`spark.jobGroup.id`); streaming jobs carry their micro-batch id in
  * `streaming.sql.batchId` and are grouped as `batch-<id>`. Jobs without
  * either are ignored. */
final class ExecListener extends SparkListener {
  final class Group {
    var jobs, stages, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleRead, shuffleWrite, spill, input = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val groups = mutable.LinkedHashMap.empty[String, Group]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private var open = 0

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map(b => s"batch-$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (g <- groupOf(e.properties)) {
      val st = groups.getOrElseUpdate(g, new Group)
      st.jobs += 1
      st.stages += e.stageIds.size
      e.stageIds.foreach(stageGroup(_) = g)
      jobGroup(e.jobId) = (g, e.time)
      open += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((g, start) <- jobGroup.remove(e.jobId)) {
      groups(g).jobSpans += ((start, e.time))
      open -= 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); st <- groups.get(g)) {
      st.tasks += 1
      if (!e.taskInfo.successful) st.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        // launch to finish, less the time the task body ran
        st.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Waits until every job seen has ended and its events arrived. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (synchronized(open) > 0 && System.currentTimeMillis < end)
      Thread.sleep(10)
    Thread.sleep(50) // the task-end events trail their job-end event
  }

  def group(g: String): Group = synchronized(groups.getOrElse(g, new Group))
}

/** Spans from the benchmark's own code around each call into a layer,
  * kept in memory and written out once at exit. Times are epoch
  * microseconds so they line up with Spark's job events. */
final class Tracer {
  import Tracer.Span
  private val baseUs = System.currentTimeMillis * 1000L
  private val baseNs = System.nanoTime
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false

  def nowUs: Long = baseUs + (System.nanoTime - baseNs) / 1000L

  /** Runs `body` inside a span when tracing is `on`; passes the span's id. */
  def span[T](name: String, op: String, parent: Int = -1,
              on: Boolean = enabled)(body: Int => T): T =
    if (!on) body(-1)
    else {
      val id = synchronized { spans += null; spans.size - 1 }
      val t0 = nowUs
      try body(id)
      finally synchronized { spans(id) = Span(id, name, op, parent, t0, nowUs) }
    }

  /** A span whose times were taken elsewhere (a Spark job). */
  def record(name: String, op: String, parent: Int, startUs: Long,
             endUs: Long): Unit = synchronized {
    spans += Span(spans.size, name, op, parent, startUs, endUs)
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toList)

  def toJson: Json.V = Json.arr(all.map(s => Json.obj(
    "id" -> Json.long(s.id), "name" -> Json.str(s.name),
    "op" -> Json.str(s.op), "parent" -> Json.long(s.parent),
    "start_us" -> Json.long(s.startUs), "end_us" -> Json.long(s.endUs))))
}

object Tracer {
  final case class Span(id: Int, name: String, op: String, parent: Int,
                        startUs: Long, endUs: Long)
}

/** What the host and the JVM did over a window. */
object Host {
  private def cpuTicks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Share of CPU time stolen by the hypervisor between two calls. */
  final class Steal {
    private val a = try cpuTicks() catch { case _: Exception => Array.empty[Long] }
    def share(): Double = {
      val b = try cpuTicks() catch { case _: Exception => Array.empty[Long] }
      if (a.length < 8 || b.length < 8) 0.0
      else {
        val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
        if (total <= 0) 0.0 else (b(7) - a(7)).toDouble / total
      }
    }
  }

  /** A fixed single-thread integer loop, in ms (median of three). */
  def calibrationMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      if (acc == 42) println("") // keeps the loop from being removed
      (System.nanoTime - t0) / 1e6
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** The result file, as json4s values. */
object Json {
  import org.json4s._
  type V = JValue
  def num(d: Double): V = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
  def long(l: Long): V = JLong(l)
  def str(s: String): V = JString(s)
  def bool(b: Boolean): V = JBool(b)
  def arr(xs: Seq[V]): V = JArray(xs.toList)
  def obj(kvs: (String, V)*): V = JObject(kvs.toList)
  def nums(m: collection.Map[String, Double]): V =
    JObject(m.toList.map { case (k, v) => k -> num(v) })

  def write(v: V, path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      org.json4s.jackson.JsonMethods.compact(v))
}
