package graftbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BigramKeys, ShingleProfile, SimdDot}

/** Single-thread probes of the `functions` kernels on fixed seeded
  * inputs: the per-row cost of each kernel without Spark around it. */
object Kernels {
  /** Median of five timed repetitions after two untimed ones, in ns per item. */
  private def nsPerItem(items: Long)(body: => Long): Double = {
    var sink = 0L
    val times = for (rep <- 1 to 7) yield {
      val t0 = System.nanoTime
      sink += body
      (System.nanoTime - t0).toDouble / items
    }
    if (sink == 42) println("")
    Stats.median(times.drop(2))
  }

  def probe(seed: Long): Map[String, Double] = {
    val rng = new scala.util.Random(seed)
    val lnV = math.log(60000)
    val docs = Array.fill(2000)(Array.fill(50)(
      "t" + math.ceil(math.exp(rng.nextDouble() * lnV)).toLong))
    val arrays = docs.map(d =>
      new GenericArrayData(d.map(t => UTF8String.fromString(t): Any)))
    val unbound = Literal(null, ArrayType(StringType))
    val shingle = ShingleProfile(unbound, 3, 16)
    val vocab = docs.flatten.distinct
    val bigram = BigramKeys(unbound, vocab, vocab.indices.toArray)

    val n = 1024
    val a = Array.fill(n)(rng.nextGaussian())
    val b = Array.fill(n)(rng.nextGaussian())
    val dotReps = 2000

    val d = 64
    val rows = 4096
    val panel = Array.fill(rows * d)(rng.nextGaussian().toFloat)
    val nrms = Array.fill(rows)(1f)
    val q = Array.fill(d)(rng.nextGaussian().toFloat)
    val hits = new Array[Int](rows + 2 * SimdDot.PANEL)
    val simd = try SimdDot.dot(Array(2.0), Array(3.0), 1) == 6.0
               catch { case _: Throwable => false }

    val vector = if (!simd) Map.empty[String, Double] else Map(
      "functions.dot_ns_per_elem" -> nsPerItem(n.toLong * dotReps) {
        var s = 0.0
        var i = 0
        while (i < dotReps) { s += SimdDot.dot(a, b, n); i += 1 }
        s.toLong
      },
      "functions.screen_ns_per_dot" -> nsPerItem(rows.toLong * 50) {
        var m = 0L
        var i = 0
        while (i < 50) {
          m += SimdDot.screenPanel(q, panel, nrms, d, 0, rows, 1.0, hits)
          i += 1
        }
        m
      })
    vector ++ Map(
      "functions.shingle_us_per_doc" -> nsPerItem(docs.length) {
        arrays.map(x => shingle.fold(x).numFields.toLong).sum } / 1000,
      "functions.bigram_keys_us_per_doc" -> nsPerItem(docs.length) {
        arrays.map(x => bigram.fold(x).numElements().toLong).sum } / 1000,
      "functions.simd_on" -> (if (simd) 1.0 else 0.0))
  }
}
