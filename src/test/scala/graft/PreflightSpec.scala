package graft

import org.apache.spark.sql.functions._

/** The guard that was missing in round 1: every declared key must be
  * registered, runnable on the smoke tier, and consistent with its oracle
  * declaration — so the driver's Verify can never silently run nothing.
  */
class PreflightSpec extends SparkSpec {

  /** Declared surfaces whose oracle is a ScalaTest, not DuckDB SQL
    * (approximate results / hash families DuckDB can't replicate). */
  private val testOracled =
    Set("q_agg_approx_distinct", "q_agg_approx_percentile",
        "q_agg_sketch_union", "q_agg_sketch_table",
        "q_dedup_simhash", "q_dedup_simhash_cluster", "q_dedup_semantic",
        "q_knn_lsh", "q_knn_ivf",
        "q_knn_pq", "q_knn_ivfpq", "q_knn_index_query",
        "q_knn_index_compact", "q_knn_index_filtered", "q_knn_join_ann",
        "q_knn_graph_ann", "q_knn_graph_cluster_ann",
        "q_embed_pca", "q_cluster_kmeans", "q_cluster_assign", "q_knn_rerank",
        "q_tok_bpe_train", "q_text_bpe_apply")

  test("every query has an oracle (SQL or test) and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracleSql keys without a query: ${o -- q}")
    assert((q -- o -- testOracled).isEmpty,
      s"queries missing an oracle declaration: ${q -- o -- testOracled}")
  }

  test("the registry is non-trivial (wiring regression guard)") {
    assert(SparkEntry.queries.size >= 84)
    assert(SparkEntry.oracleSql.size >= 80)
  }

  test("entry() smoke: flagship runs on sf0.001 with rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Every declared query must execute on sf0.001 and, run twice, produce
  // an identical result (determinism contract §7.6 — total ordering).
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs deterministically on sf0.001") {
      val a = fn(spark, sf0001)
      val rows1 = a.collect().map(_.toString).toSeq
      val rows2 = fn(spark, sf0001).collect().map(_.toString).toSeq
      assert(rows1 === rows2, "two runs differed — nondeterministic output")
      assert(a.schema.fieldNames.distinct.length === a.schema.fieldNames.length,
        "duplicate output column names break the driver's column-sorted hash")
      // empty results are legal for some keys at sf0.001, but the query
      // must at least produce a schema
      assert(a.schema.nonEmpty)
    }
  }

  test("q_agg_approx_distinct: HLL estimate within 5% of exact") {
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, sf0001)
      .select("event_type", "approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(s"$sf0001/events.parquet")
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    for ((k, e) <- exact) {
      val a = approx(k).toDouble
      assert(math.abs(a - e) / e <= 0.05,
        s"$k: approx $a vs exact $e beyond 5% (HLL++ default rsd is 5%)")
    }
  }

  test("q_agg_sketch_union: two-level HLL union within 5% of exact distinct") {
    val approx = SparkEntry.queries("q_agg_sketch_union")(spark, sf0001)
      .select("event_type", "approx_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.events(spark, sf0001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    for ((k, e) <- exact)
      assert(math.abs(approx(k).toDouble - e) / e <= 0.05,
        s"$k: sketch-union estimate ${approx(k)} vs exact $e beyond 5%")
  }

  test("q_agg_sketch_table: sketches survive the parquet round-trip exactly") {
    // identical sketch bytes in ⟹ identical union estimate out — the
    // at-rest form must match the in-flight form row for row
    val atRest = SparkEntry.queries("q_agg_sketch_table")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val inFlight = SparkEntry.queries("q_agg_sketch_union")(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(atRest === inFlight)
  }

  test("q_agg_approx_percentile: estimate's rank within the sketch bound") {
    val approx = SparkEntry.queries("q_agg_approx_percentile")(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(approx.keySet === li.keySet)
    // accuracy=1000 bounds the rank error at n/1000; allow 2x slack
    for ((flag, sortedVals) <- li; n = sortedVals.length) {
      def rankOf(v: Double): Double =
        sortedVals.count(_ <= v).toDouble / n
      val (p50, p90) = approx(flag)
      assert(math.abs(rankOf(p50) - 0.5) <= 0.002 + 2.0 / 1000,
        s"$flag: p50 estimate $p50 at rank ${rankOf(p50)}")
      assert(math.abs(rankOf(p90) - 0.9) <= 0.002 + 2.0 / 1000,
        s"$flag: p90 estimate $p90 at rank ${rankOf(p90)}")
    }
  }

  test("repo sessions carry the conf contract Confs assumes (graft.Session)") {
    val c = spark.conf
    assert(c.get(graft.util.Confs.ObjHashKey).toInt >= 500000)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.extensions").split(",").contains("graft.GraftExtensions"))
  }

  test("q_knn_join / q_text_heavyhitters self-configure on a foreign session") {
    // a user's own SparkSession won't carry the repo entry points'
    // objectHashAggregate headroom; the two affected queries must raise
    // it themselves (monotone — a higher user setting is kept)
    val key = graft.util.Confs.ObjHashKey
    val foreign = spark.newSession()
    foreign.conf.set(key, "128") // Spark's default
    SparkEntry.queries("q_text_heavyhitters")(foreign, sf0001).count()
    assert(foreign.conf.get(key).toInt >= 500000,
      "heavyhitters left the fallback threshold at the degraded default")
    val generous = spark.newSession()
    generous.conf.set(key, "900000")
    SparkEntry.queries("q_knn_join")(generous, sf0001).count()
    assert(generous.conf.get(key).toInt === 900000,
      "a user's higher setting must never be lowered")
  }

  test("oracle SQL is single-statement and bare-table-referenced") {
    for ((k, sql) <- SparkEntry.oracleSql) {
      assert(!sql.contains(";"), s"$k: multi-statement oracle")
      assert(!sql.toLowerCase.contains("read_parquet"),
        s"$k: oracle must reference bare table names (driver binds views)")
    }
  }
}
