package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Q
import graft.sources.Tables

/** Table-maintenance surfaces: the rewrite operations a long-lived
  * 100-TB corpus table needs between queries — targeted deletion (the
  * GDPR right-to-be-forgotten shape) and CDC change-set application
  * (the batch twin of the streaming `s_foreachbatch_upsert`).
  *
  * Both are REWRITES, not in-place mutations — parquet is immutable, so
  * the scalable form is "read snapshot, anti-join/merge, write new
  * snapshot", with the audit accounting a compliance pipeline needs.
  * The declared results are pure functions of the fixture (the driver
  * contract), verified through the same snapshot-rewrite code path a
  * real maintenance job runs.
  */
object MaintenanceOps {

  val queries: Map[String, Q] = Map(
    // ---- targeted deletion with audit accounting: forget every doc of
    // the "erasure request" set (doc_id % 97 = 13 stands in for the
    // requested users), by ANTI-JOIN rewrite — one shuffle-free scan
    // filter here (the predicate is derivable per row); with an
    // external request TABLE it becomes a broadcast anti-join, same
    // plan shape as q_decontaminate's bench side. The audit row proves
    // losslessness: kept + deleted = before, and the kept checksum is
    // reproducible for the compliance log.
    "q_sink_delete" -> ((s, d) => {
      val tmp = Scans.scratch("delete", s, d)
      val docs = Tables.documents(s, d)
      val forget = docs.filter(pmod(col("doc_id"), lit(97L)) === 13L)
        .select(col("doc_id").as("f_id"))
      docs.join(forget, col("doc_id") === col("f_id"), "left_anti")
        .write.mode("overwrite").parquet(tmp)
      val kept = s.read.parquet(tmp)
      val nBefore = docs.count()
      kept.agg(
          lit(nBefore).as("n_before"),
          count(lit(1)).as("n_after"),
          (lit(nBefore) - count(lit(1))).as("n_deleted"),
          sum(col("doc_id")).as("kept_id_sum"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
    }),

    // ---- CDC change-set application (MERGE INTO semantics): a base
    // snapshot (orders with o_orderkey % 10 <> 9) absorbs a
    // deterministic change-set — UPDATEs (% 10 in 0..2: totalprice
    // +1%), DELETEs (% 10 = 5), INSERTs (the % 10 = 9 rows) — via ONE
    // full-outer equi-join on the key: matched+update → new row,
    // matched+delete → dropped, unmatched change → insert, unmatched
    // base → carried. At 100 TB the change-set is ≪ the base, so AQE
    // broadcasts it and the base never shuffles; per-month accounting
    // + decimal-exact totals prove the merge.
    "q_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val m = pmod(col("o_orderkey"), lit(10L))
      // ALL price arithmetic in exact decimal: the +1% update computed as
      // round(double*1.01, 2) drifts between engines (Spark rounds the
      // exact binary value, DuckDB rounds a scaled double — one cent off
      // on ~1-in-10^4 rows); decimal × decimal is exact on both, and the
      // .50-cent halfway cases round identically (both round away from 0)
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(28, 2))
      val bumped = round(dec(col("o_totalprice")) *
        lit(new java.math.BigDecimal("1.01")), 2).cast(DecimalType(28, 2))
      val base = o.filter(m =!= 9L)
        .select(col("o_orderkey"), dec(col("o_totalprice")).as("o_totalprice"),
                col("o_orderdate"))
      val changes = o.filter(m <= 2L || m === 5L || m === 9L)
        .select(col("o_orderkey").as("c_key"),
          when(m === 5L, lit("D")).otherwise(lit("U")).as("op"),
          when(m <= 2L, bumped)
            .otherwise(dec(col("o_totalprice"))).as("c_totalprice"),
          col("o_orderdate").as("c_orderdate"))
      val merged = base
        .join(changes, col("o_orderkey") === col("c_key"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(
          coalesce(col("o_orderkey"), col("c_key")).as("key"),
          coalesce(col("c_totalprice"), col("o_totalprice")).as("price"),
          coalesce(col("c_orderdate"), col("o_orderdate")).as("odate"),
          when(col("o_orderkey").isNull, "insert")
            .when(col("op").isNotNull, "update")
            .otherwise("carry").as("row_kind"))
      merged.groupBy("row_kind")
        .agg(count(lit(1)).as("n"),
             round(sum(col("price")).cast("double"), 2).as("total"),
             min("key").as("min_key"), max("key").as("max_key"))
        .orderBy("row_kind")
    }),

    // ---- incremental aggregate maintenance (materialized-rollup delta
    // application): the nightly-ETL pattern a 100-TB fact table lives
    // by — a STORED rollup of all history (mergeable partials: counts +
    // decimal sums, never averages) absorbs one period's delta by
    // re-aggregating (stored ∪ delta-partials), so the daily job reads
    // ONE day of facts plus a rollup whose size is the GROUP count, not
    // the corpus. History before the cutoff is aggregated once per
    // (session, sf) into a scratch artifact (the index-at-rest
    // discipline); the delta scan carries a pushed-down shipdate
    // predicate (row-group skip — at rest this is the partition prune
    // of a date-partitioned fact table). Output ≡ a full recompute —
    // which is exactly what the DuckDB oracle runs; equality IS the
    // correctness statement of incremental view maintenance.
    "q_agg_incremental" -> ((s, d) => {
      val root = Scans.scratch("aggbase", s, d)
      val li = Tables.lineitem(s, d)
      val cutoff = lit("1998-06-01").cast("timestamp")
      // mergeable partials in EXACT decimal: double partials would make
      // (base + delta) ordering visible in the 15th digit; decimal sums
      // merge associatively and cast to double only at the very end
      def partials(df: org.apache.spark.sql.DataFrame) = {
        val price = col("l_extendedprice").cast(DecimalType(12, 2))
        val discF = (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2))
        df.groupBy(col("l_returnflag"), col("l_linestatus"),
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
              .cast("long").as("ship_ym"))
          .agg(count(lit(1)).as("n_rows"),
               sum(col("l_quantity").cast(DecimalType(28, 4))).as("p_qty"),
               sum(price * discF).as("p_rev"))
      }
      if (!graft.util.IndexStore.isCommitted(s, root))
        partials(li.filter(col("l_shipdate") < cutoff))
          .write.mode("overwrite").parquet(root)
      val delta = partials(li.filter(col("l_shipdate") >= cutoff))
      s.read.parquet(root).unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus", "ship_ym")
        .agg(sum(col("n_rows")).as("n_rows"),
             sum(col("p_qty")).cast("double").as("sum_qty"),
             sum(col("p_rev")).cast("double").as("sum_disc_price"))
        .orderBy("l_returnflag", "l_linestatus", "ship_ym")
    })
  )

  val oracle: Map[String, String] = Map(
    // the incremental result must equal a FULL recompute — the oracle IS
    // that recompute, over the whole fact table in one pass
    "q_agg_incremental" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
           AS ship_ym,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
           AS sum_disc_price
         FROM lineitem
         GROUP BY 1, 2, 3
         ORDER BY l_returnflag, l_linestatus, ship_ym""",
    "q_sink_delete" ->
      """SELECT
           (SELECT COUNT(*) FROM documents) AS n_before,
           COUNT(*) AS n_after,
           (SELECT COUNT(*) FROM documents) - COUNT(*) AS n_deleted,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
           CAST(SUM(length(text)) AS BIGINT) AS kept_chars
         FROM documents
         WHERE (doc_id % 97 + 97) % 97 <> 13""",
    "q_merge_upsert" ->
      """WITH m AS (
           SELECT *, (o_orderkey % 10 + 10) % 10 AS md FROM orders),
         base AS (
           SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(28,2))
                    AS o_totalprice, o_orderdate, md FROM m
           WHERE md <> 9),
         changes AS (
           SELECT o_orderkey AS c_key,
             CASE WHEN md = 5 THEN 'D' ELSE 'U' END AS op,
             CASE WHEN md <= 2 THEN CAST(ROUND(
                    CAST(o_totalprice AS DECIMAL(28,2))
                      * CAST(1.01 AS DECIMAL(4,2)), 2) AS DECIMAL(28,2))
                  ELSE CAST(o_totalprice AS DECIMAL(28,2)) END
               AS c_totalprice,
             o_orderdate AS c_orderdate
           FROM m WHERE md <= 2 OR md = 5 OR md = 9),
         merged AS (
           SELECT
             COALESCE(b.o_orderkey, c.c_key) AS key,
             COALESCE(c.c_totalprice, b.o_totalprice) AS price,
             CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                  WHEN c.op IS NOT NULL THEN 'update'
                  ELSE 'carry' END AS row_kind
           FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.c_key
           WHERE c.op IS NULL OR c.op <> 'D')
         SELECT row_kind, COUNT(*) AS n,
           ROUND(CAST(SUM(price) AS DOUBLE), 2) AS total,
           MIN(key) AS min_key, MAX(key) AS max_key
         FROM merged GROUP BY 1 ORDER BY row_kind"""
  )
}
