package graft.util

import org.apache.spark.sql.SparkSession

/** Session-conf contract enforcement for the bounded-state aggregates.
  *
  * TopKByScore (q_knn_join's rank reduce) and FreqSketch
  * (q_text_heavyhitters) are TypedImperativeAggregates and run under
  * ObjectHashAggregate, whose fallback knob
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` defaults
  * to 128 DISTINCT KEYS PER PARTITION: above it, execution silently
  * degrades to sort-based aggregation — every input row re-sorted, the
  * partial-reduce-before-exchange win gone. Results stay correct; the
  * scale property doesn't. Every repo session is built by
  * [[graft.Session]], which sets it to 500000, but a FOREIGN session (a
  * caller's own builder) would degrade silently, so the two affected
  * queries raise the floor defensively at plan-build time. Raising a
  * runtime conf is session-scoped and monotone here (never lowers a
  * user's higher setting). */
object Confs {
  val ObjHashKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  def ensureObjectHashHeadroom(s: SparkSession,
                               atLeast: Int = 500000): Unit = {
    val cur = scala.util.Try(s.conf.get(ObjHashKey).toInt).getOrElse(128)
    if (cur < atLeast) s.conf.set(ObjHashKey, atLeast.toString)
  }
}
