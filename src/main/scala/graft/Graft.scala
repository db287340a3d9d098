package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.operators.{AsOf, MinHashLSH, SaltedJoin}
import graft.util.Det

/** The public facade of the engine — the operators a user of the reference
  * (a Kafka-Streams join app) reaches for, as composable DataFrame
  * transforms. Everything here is a thin, documented entry point over the
  * implementations in `graft.operators` / `graft.functions` /
  * `graft.streaming`; the declared queries in `graft.queries.*` are the
  * oracle-verified exemplars of the same calls.
  *
  * All transforms are lazy and driver-light (nothing collects). Scale
  * characteristics are per method: the join/dedup/shingle/LSH/cell paths
  * partition by their natural keys and are safe at 100-TB inputs; the
  * single-query probes (`knnCosine`) broadcast one query row and scan
  * once, and `similarityJoin` is exact-with-pruning via
  * operators.VectorSimJoin (shuffle equi-join on centroid cells).
  */
object Graft {

  // ---- joins ----

  /** Point-in-time (as-of) join: latest `right` row with time ≤ left time
    * per key (or, with `forward = true`, earliest right row ≥ left time).
    * One shuffle + one local sort over |L|+|R|; never quadratic.
    * Right side must be unique per (key, time). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               carry: Seq[String], forward: Boolean = false): DataFrame =
    AsOf.join(left, right, leftKey, rightKey, leftTime, rightTime, carry,
              forward)

  /** Nearest-in-time join (the ML feature-join variant of as-of): each
    * left row takes whichever same-key right row is CLOSER in time,
    * backward winning ties; emits `delta` (left − right time). Same
    * one-shuffle/one-sort cost as [[asofJoin]]. `rightTime` must be in
    * `carry` and numeric. */
  def asofJoinNearest(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTime: String, rightTime: String,
                      carry: Seq[String]): DataFrame =
    AsOf.joinNearest(left, right, leftKey, rightKey, leftTime, rightTime,
      carry)

  /** Interval (stream-stream-window batch analog) join: rows of `left`
    * matched to `right` rows with the same key and right time within
    * [left time, left time + window]. The equi key carries the shuffle;
    * the time band is a join residual, never a cross product. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTimeUs: Column, rightTimeUs: Column,
                   windowUs: Long): DataFrame = {
    // keep ONE key column in the output (both sides carry `key`; leaving
    // two identically-named columns breaks every downstream reference)
    val r = right.withColumnRenamed(key, "__rkey")
    left.join(r,
        left(key) === r("__rkey") &&
          rightTimeUs >= leftTimeUs &&
          rightTimeUs <= leftTimeUs + lit(windowUs))
      .drop("__rkey")
  }

  /** Skew-mitigated equi-join (deterministic salting; result ≡ plain join). */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 saltSrc: Seq[Column], fanOut: Int = 8): DataFrame =
    SaltedJoin.join(fact, dim, factKey, dimKey, saltSrc, fanOut)

  /** KTable materialization (changelog → latest value per key): newest
    * event per user by (ts, event_id). BATCH form — window functions are
    * unsupported on streaming frames; the streaming twin is
    * [[graft.streaming.Streams.latestPerKey]] (transformWithState), with
    * a StreamingSpec batch-equivalence test tying the two together. */
  def latestPerKey(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** KS CogroupedKStream analog: merge N keyed inputs into ONE keyed
    * aggregate. `sides` are (frame, keyCol, valueCol) triples; the output
    * has `key` plus, per input i, `n_i` (row count) and `sum_i`
    * (decimal-exact value sum as double, null when input i has no rows
    * for the key — full-outer semantics, as in KS).
    *
    * Plan shape: rows are union-tagged and aggregated through a SINGLE
    * shuffle on the key (conditional aggregates per tag) — vs the naive
    * join-of-aggregates, which shuffles every input separately and then
    * joins the N outputs. At 100 TB: one exchange of (key, tag, value)
    * instead of N exchanges + an N-way join. */
  def cogroupAgg(sides: Seq[(DataFrame, String, String)]): DataFrame = {
    require(sides.nonEmpty, "cogroupAgg needs at least one input")
    val tagged = sides.zipWithIndex.map { case ((df, k, v), i) =>
      df.select(col(k).as("key"), lit(i).as("src"),
                col(v).cast(org.apache.spark.sql.types.DecimalType(28, 4))
                  .as("v"))
    }
    val aggCols = sides.indices.flatMap { i => Seq(
      count(when(col("src") === i, lit(1))).as(s"n_$i"),
      sum(when(col("src") === i, col("v"))).cast("double").as(s"sum_$i"))
    }
    tagged.reduce(_ unionByName _)
      .groupBy("key")
      .agg(aggCols.head, aggCols.tail: _*)
  }

  // ---- dedup ----

  /** Exact dedup: one row per distinct `textCol` value, keeping the
    * smallest `idCol` (deterministic, unlike dropDuplicates). */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle rows (doc_id, shingle:int64) for similarity ops. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val lambda = (0 until n).map(k => s"toks[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(toks) - $n), i -> $lambda)"))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("shingle"))
  }

  /** Near-duplicate pairs with exact Jaccard ≥ `threshold` over word
    * 3-gram shingles. `lsh = true` routes candidate generation through
    * MinHash banding (the 100-TB path); either way the returned pairs are
    * exactly-verified. */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", threshold: Double = 0.8,
                   lsh: Boolean = false): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol)
    val cands = if (lsh) Some(MinHashLSH.candidatePairs(sh)) else None
    queries.DedupOps.jaccardPairs(sh, cands)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash near-dup pairs (hamming ≤ `maxHamming` over 64-bit
    * signatures) with banded candidate generation — recall exactly 1 by
    * pigeonhole (operators.SimHash). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3): DataFrame =
    operators.SimHash.pairs(docs, idCol, textCol, maxHamming = maxHamming)

  /** Near-dup pairs → dedup DECISION: connected components of the pair
    * graph; every id in `allIds` gets (doc_id, cluster_id) with
    * cluster_id = smallest reachable id (the canonical keeper). See
    * operators.DedupCluster for the fixpoint shape and scale notes. */
  def dedupClusters(allIds: DataFrame, pairs: DataFrame): DataFrame =
    operators.DedupCluster.clusters(allIds, pairs)

  // ---- similarity search ----

  /** Brute-force cosine top-k against one query vector (broadcast).
    * Vectors: `array<float>` or `array<double>` column `vecCol`.
    * Contract: `queryId` must exist in `df` — an unknown id yields an
    * empty result (the probe row set is empty), not an error. */
  def knnCosine(df: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int = 10): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val emb = df.select(col(idCol).as("__id"), v.as("__v"),
                        VectorExprs.norm(v).as("__n"))
    val q = emb.filter(col("__id") === queryId)
      .select(col("__v").as("__qv"), col("__n").as("__qn"))
    emb.filter(col("__id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("__id").as(idCol),
        round(VectorExprs.dot(col("__v"), col("__qv")) /
          (col("__n") * col("__qn")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** All vector pairs with cosine ≥ `threshold` (id_a < id_b) — EXACT,
    * computed via centroid-cell candidate generation with a sound angular
    * triangle-inequality bound (operators.VectorSimJoin): candidates
    * arrive through a shuffle equi-join on cell ids, never a broadcast
    * nested loop, so the join is memory-bounded and partition-parallel at
    * corpus scale. Pruning is data-adaptive (strong on clustered
    * corpora); for sub-quadratic APPROXIMATE search use the LSH/IVF
    * probes (q_knn_lsh / q_knn_ivf). */
  def similarityJoin(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, cells: Int = -1): DataFrame =
    operators.VectorSimJoin.pairs(df, idCol, vecCol, threshold, cells)

  /** Exact corpus-wide kNN join: top `k` cosine neighbors of every
    * vector (self excluded) — see operators.VectorSimJoin.knnJoin for
    * the distributed block-join shape and its Ω(N²) honesty note. */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String,
              k: Int = 10, cells: Int = -1): DataFrame =
    operators.VectorSimJoin.knnJoin(df, idCol, vecCol, k, cells)

  // ---- text analysis ----

  /** (doc_id, term, tfidf) for the top term per document (ln-idf). */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"),
              explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df2 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tf.join(df2, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "term", "tfidf")
  }

  // ---- training-data pipeline ----

  /** Per-doc sequence-packing assignment: docs are concatenated in
    * `idCol` order within each of `shards` id-mod shards and cut every
    * `budget` tokens — a doc belongs to the chunk its FIRST token lands
    * in. Returns (idCol, shard_id, n_tok, chunk_id); aggregate by
    * (shard_id, chunk_id) for chunk manifests. Per-shard packing keeps
    * the running sum partition-parallel (a corpus-global cumsum would
    * serialize into one partition). */
  def packSequences(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", budget: Int = 256,
                    shards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard_id").orderBy(idCol)
    docs.select(col(idCol),
        pmod(col(idCol), lit(shards.toLong)).as("shard_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_tok")) / lit(budget.toDouble)).cast("long"))
  }

  /** Benchmark decontamination: training docs sharing any word-`n`-gram
    * with `bench`, with distinct shared-shingle and bench-doc counts.
    * The bench side broadcasts — benchmark suites are tiny by nature, so
    * contamination detection is a map-side join over the training
    * shingles (the 100-TB side is never shuffled for the join). */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 3): DataFrame = {
    // shingleRows normalizes the id to `doc_id` — group on THAT, then
    // restore the caller's name (referencing col(idCol) here failed
    // analysis for any idCol != "doc_id"; caught by the decontamIndex
    // facade-equality test)
    val bsh = shingleRows(bench, idCol, textCol, n)
      .select(col("shingle"), col("doc_id").as("bench_id"))
    shingleRows(train, idCol, textCol, n)
      .join(broadcast(bsh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_shared"),
           countDistinct("bench_id").as("n_bench_docs"))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Dictionary/regex scrubbing (the PII-masking shape): adds `scrubbed`
    * (pattern replaced) and `n_masked` (audit count) — one codegen
    * projection, no shuffle. */
  def scrubText(docs: DataFrame, pattern: String,
                replacement: String = "<MASK>",
                textCol: String = "text"): DataFrame =
    docs
      .withColumn("scrubbed", regexp_replace(col(textCol), pattern, replacement))
      .withColumn("n_masked",
        regexp_count(col(textCol), lit(pattern)).cast("long"))

  /** Directed containment near-dup pairs C(a→b) = |A∩B|/|A| >= num/den
    * over word-3-gram shingles — the sub-document duplication predicate
    * (a quoted inside b) symmetric Jaccard misses. Prefix-filtered on
    * the contained side (operators.PrefixFilter.containmentCandidates),
    * verified candidate-first, integer threshold arithmetic. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       tauNum: Int = 4, tauDen: Int = 5): DataFrame =
    queries.CorpusOps.containmentPairs(
      shingleRows(docs, idCol, textCol, n = 3).localCheckpoint(true),
      tauNum, tauDen)

  /** Write `df` Z-ORDERED on two integer dimensions: each dimension is
    * min-max scaled into the 16-bit grid (raw interleave degenerates
    * to a 1-d sort when one range dominates), Morton codes
    * range-partitioned into `files` sorted files. 2-d box predicates
    * over (xCol, yCol) then touch only the files their rectangle
    * overlaps — the OPTIMIZE ZORDER maintenance pass.
    *
    * Scaling is shift-based (ZOrder.scaleTo16Wide) so ANY int64 value
    * domain is exact — no multiply, no overflow; the only requirement,
    * enforced here, is that each dimension's (max − min) itself fits
    * in int64. The stats pass is one 4-value agg collected driver-side
    * (this method is a write action already). Null dimension values
    * sort together at the front of the z range. The written schema is
    * exactly `df`'s — the internal Morton key is dropped before the
    * write (ordering survives the projection). */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    path: String, files: Int = 8): Unit = {
    import graft.operators.ZOrder
    val st = df.agg(min(col(xCol).cast("long")), max(col(xCol).cast("long")),
                    min(col(yCol).cast("long")), max(col(yCol).cast("long")))
      .first()
    if (st.isNullAt(0) || st.isNullAt(2)) {
      // no non-null (x, y) values anywhere — nothing to order by
      df.coalesce(files).write.mode("overwrite").parquet(path)
      return
    }
    val (mnx, mxx, mny, mxy) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    def shift(mn: Long, mx: Long, name: String): Int = {
      require(BigInt(mx) - BigInt(mn) <= BigInt(Long.MaxValue),
        s"writeZOrdered: $name range [$mn, $mx] exceeds int64 — " +
          "pre-bucket the dimension (e.g. pmod) before z-ordering")
      ZOrder.gridShift(mx - mn)
    }
    df.withColumn("__z", ZOrder.morton(
        ZOrder.scaleTo16Wide(col(xCol), mnx, shift(mnx, mxx, xCol)),
        ZOrder.scaleTo16Wide(col(yCol), mny, shift(mny, mxy, yCol))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** int8 symmetric quantization of an array<float|double> column:
    * adds `q` (array<long> codes in [-127, 127]) and `q_scale`
    * (127/max|v|) — the 4×-storage ANN scale path; dot products in
    * code space are exact int64 arithmetic. An all-zero vector
    * round-trips as all-zero codes with q_scale = 0 (the 0/0 would
    * otherwise poison every downstream int64 dot with NaN codes). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("q_maxabs", array_max(transform(v, x => abs(x))))
      .withColumn("q", when(col("q_maxabs") === 0.0,
          transform(v, _ => lit(0L)))
        .otherwise(transform(v,
          x => round(x * lit(127.0) / col("q_maxabs"), 0).cast("long"))))
      .withColumn("q_scale", when(col("q_maxabs") === 0.0, lit(0.0))
        .otherwise(lit(127.0) / col("q_maxabs")))
      .drop("q_maxabs")
  }

  /** Product-quantized approximate kNN of `queryId` (operators.
    * ProductQuantizer): L2-normalize, train m×kCodes codebooks, encode
    * the corpus to m-byte codes, score via the ADC table. Returns
    * (vec_id, approx_d2) — squared L2 in normalized space, monotone
    * with cosine. */
  def pqKnn(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
            n: Int = 10, m: Int = 16, kCodes: Int = 16): DataFrame = {
    import graft.operators.ProductQuantizer._
    val v = col(vecCol).cast("array<double>")
    val nrm = graft.functions.VectorExprs.norm(v)
    val emb = df.select(col(idCol).as("vec_id"),
      transform(v, x => x / nrm).as("v"))
    // dimension from the first row (one-row pushdown scan); all rows
    // are ASSUMED equal-dim — ProductQuantizer.subvectors slices by it
    val dim = df.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"pqKnn: input frame is empty — cannot infer $vecCol dimension"))
    val subs = subvectors(emb, m, dim).localCheckpoint(true)
    // train on a deterministic quarter-sample (constant training cost
    // at any corpus size — matches the declared q_knn_pq path)
    val train = subs.filter(
      pmod(xxhash64(col("vec_id"), lit(99)), lit(4L)) === 0L)
    val cb = codebooks(train, kCodes, iters = 2)
    val codes = encode(subs.filter(col("vec_id") =!= queryId), cb)
    adcTopK(codes, cb, subs.filter(col("vec_id") === queryId), n)
  }

  // ---- warehouse / series maintenance ----

  /** SCD2 (type-2 slowly-changing-dimension) build: each changelog row
    * becomes a version with `version` (1-based per key), `valid_to`
    * (the NEXT change's `timeCol` value, null = current) and
    * `is_current`. `tieBreak` columns break equal-time ordering (pass a
    * unique id — versions must be totally ordered per key). ONE window
    * per key: state is a single following row, keys parallelize, the
    * key partitioning is the only shuffle. `q_scd2` is the oracle-
    * verified exemplar. */
  def scd2(changelog: DataFrame, keyCol: String, timeCol: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy((col(timeCol) +: tieBreak.map(col)): _*)
    changelog
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col(timeCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Two-snapshot reconciliation: every key classified added / removed /
    * changed / unchanged through ONE full-outer join on `keyCols`, the
    * non-key columns compared by hash. Schemas must match. Returns the
    * key columns + `diff_class`; join back to either snapshot for
    * payloads. The audit twin of a MERGE: q_merge_upsert APPLIES a
    * changeset, this DERIVES one. `q_table_diff` is the oracle-verified
    * exemplar (with decimal-exact money rollups). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(oldDf.columns.sameElements(newDf.columns),
      s"snapshot schemas differ: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val valCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    require(valCols.nonEmpty, "no non-key columns to compare")
    def hashed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+
        xxhash64(valCols.map(col): _*).as(as): _*)
    hashed(oldDf, "__old_h")
      .join(hashed(newDf, "__new_h"), keyCols, "full_outer")
      .withColumn("diff_class",
        when(col("__old_h").isNull, "added")
          .when(col("__new_h").isNull, "removed")
          .when(col("__old_h") =!= col("__new_h"), "changed")
          .otherwise("unchanged"))
      .drop("__old_h", "__new_h")
  }

  /** Dense-grid gap fill + forward fill of a keyed integer-tick series:
    * every key gets a row for EVERY tick in the corpus [min, max] range
    * (grid generated from a 1-row broadcast bounds aggregate — never
    * shuffled wide), missing ticks flagged `is_gap` and `valCol` carried
    * forward per key (null until a key's first observation). The fill
    * window is one sequential pass per key. `q_timeseries_fill` is the
    * oracle-verified exemplar. */
  def gapFillForward(series: DataFrame, keyCol: String, tickCol: String,
                     valCol: String): DataFrame = {
    val bounds = series.agg(min(col(tickCol)).as("__mn"),
                            max(col(tickCol)).as("__mx"))
    val grid = series.select(keyCol).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol),
        explode(sequence(col("__mn"), col("__mx"))).as(tickCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(tickCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    grid.join(series, Seq(keyCol, tickCol), "left")
      .withColumn("is_gap", col(valCol).isNull)
      .withColumn(valCol, last(col(valCol), ignoreNulls = true).over(w))
  }

  /** PMI-ranked bigram collocations with support ≥ `minCount` — the
    * tokenizer-induction / phrase-mining statistic. Three bounded-key
    * count-aggregates over one bigram explode; marginals broadcast at
    * any corpus size (vocabulary cardinality, not corpus).
    * `q_text_collocations` is the oracle-verified exemplar. */
  def collocations(docs: DataFrame, textCol: String = "text",
                   minCount: Long = 5L): DataFrame = {
    val bg = docs.select(split(col(textCol), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(l) - 2)," +
          " i -> struct(l[i] AS w1, l[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    val cb = bg.groupBy("w2").agg(count(lit(1)).as("nb"))
    val tot = bg.agg(count(lit(1)).as("n_total"))
    c2.join(c1, Seq("w1")).join(cb, Seq("w2")).crossJoin(broadcast(tot))
      .filter(col("n2") >= minCount)
      .select(col("w1"), col("w2"), col("n2"),
        round(log((col("n2") * col("n_total")).cast("double")
          / (col("n1") * col("nb")).cast("double")), 6).as("pmi"))
  }

  /** Per-doc cross-document duplicated-n-gram stats (the RefinedWeb
    * boilerplate filter): (doc_id, n_shingles, n_dup, dup_frac) where
    * n_dup counts shingles shared with ANY other document. One
    * map-side-combinable document-frequency aggregate + one equi-join
    * on the 64-bit shingle hash. `q_quality_dupngrams` is the
    * oracle-verified exemplar. */
  def dupNgramStats(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 2, 1)).as("n_dup"),
        round(count(when(col("df") >= 2, 1)).cast("double")
          / count(lit(1)), 6).as("dup_frac"))
  }

  /** SemDeDup (cluster-scoped semantic dedup, operators.SemDedup):
    * k-means cells over the L2-normalized vectors, pairwise cosine only
    * WITHIN a cell (pair work O(N²/k)), keep policy = farthest-from-
    * centroid first with deterministic chain-dropping. Returns
    * (vec_id, cell, cent_sim, is_dropped 0/1). Pick k ~ √N as the
    * corpus grows. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, tau: Double = 0.4): DataFrame = {
    val emb = normalized(df, idCol, vecCol)
      .withColumn("nrm", VectorExprs.norm(col("v")))
    val cents = graft.operators.IvfKMeans.centroids(
      emb.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(2L)) === 0L),
      k = k, iters = 2)
    graft.operators.SemDedup.decisions(emb, cents, tau)
  }

  // ---- indexes at rest (retrieval / dedup over a stored corpus) ----

  /** Train and persist an IVF+PQ ANN index (operators.AnnIndex): coarse
    * centroids, per-subspace codebooks, and ~m-byte-per-vector codes
    * hive-partitioned by coarse cell. `df(idCol, vecCol)`; vectors are
    * L2-normalized here. Build once offline; query forever from storage. */
  def annIndexBuild(df: DataFrame, idCol: String, vecCol: String,
                    root: String, k: Int = 8, m: Int = 16,
                    dim: Int = 64, kCodes: Int = 16): Unit =
    graft.operators.AnnIndex.build(normalized(df, idCol, vecCol), root,
      k = k, m = m, dim = dim, kCodes = kCodes)

  /** Incrementally add vectors to a stored ANN index: encode-only against
    * the stored models (O(batch), no retraining), committed under an
    * immutable `batch=batchId` partition set — replaying a batch id
    * overwrites only itself (exactly-once ingest). */
  def annIndexAppend(df: DataFrame, idCol: String, vecCol: String,
                     root: String, batchId: Long,
                     m: Int = 16, dim: Int = 64): Unit =
    graft.operators.AnnIndex.append(normalized(df, idCol, vecCol), root,
      batchId, m = m, dim = dim)

  /** Top-`n` approximate neighbors of `qv` answered purely from a stored
    * ANN index — only the `nprobe` probed cells' partitions are read.
    * Returns (vec_id, approx_d2), squared L2 in normalized space
    * (monotone with cosine). */
  def annIndexQuery(spark: org.apache.spark.sql.SparkSession, root: String,
                    qv: Seq[Double], nprobe: Int = 2, n: Int = 10,
                    excludeId: Option[Long] = None, m: Int = 16): DataFrame =
    graft.operators.AnnIndex.query(spark, root, qv, nprobe, n, excludeId, m)

  private def normalized(df: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val nrm = VectorExprs.norm(v)
    df.select(col(idCol).as("vec_id"),
      transform(v, x => x / nrm).as("v"))
  }

  /** Build/refresh the MinHash dedup index at rest (operators.DedupIndex)
    * from `docs(idCol, textCol)`: one parquet row per doc with its band
    * hashes and exact shingle profile. An incoming batch then dedups against the
    * stored corpus via [[dedupIndexQuery]] with zero corpus shuffle. */
  def dedupIndexBuild(docs: DataFrame, idCol: String, textCol: String,
                      root: String, shingleN: Int = 3): Unit =
    graft.operators.DedupIndex.build(
      shingleRows(docs, idCol, textCol, shingleN), root)

  /** Near-dup pairs (batch doc × indexed corpus doc, exact Jaccard ≥ the
    * index threshold) for an incoming batch against the stored index —
    * the batch side broadcasts, the stored tables stream. */
  def dedupIndexQuery(batch: DataFrame, idCol: String, textCol: String,
                      root: String, shingleN: Int = 3): DataFrame =
    graft.operators.DedupIndex.queryBatch(batch.sparkSession, root,
      shingleRows(batch, idCol, textCol, shingleN))

  /** Build and persist the BM25 inverted index (operators.InvertedIndex)
    * from `docs(idCol, textCol)`: hash-bucket-partitioned postings with
    * inlined doc norms plus per-batch corpus stats. Build once offline;
    * probe forever from storage via [[textIndexQuery]]. */
  def textIndexBuild(docs: DataFrame, idCol: String, textCol: String,
                     root: String): Unit =
    graft.operators.InvertedIndex.build(asDocs(docs, idCol, textCol), root)

  /** Incrementally add documents to a stored BM25 index: new postings +
    * stats land under their own `batch=batchId` partitions (exactly-once
    * under replay); df/corpus stats SUM at query time, so nothing is
    * rewritten. */
  def textIndexAppend(docs: DataFrame, idCol: String, textCol: String,
                      root: String, batchId: Long): Unit =
    graft.operators.InvertedIndex.append(asDocs(docs, idCol, textCol),
      root, batchId)

  /** Top-`k` quantized-BM25 matches for `terms` answered purely from the
    * stored index — only the query terms' hash buckets are read. */
  def textIndexQuery(spark: org.apache.spark.sql.SparkSession, root: String,
                     terms: Seq[String], k: Int = 20): DataFrame =
    graft.operators.InvertedIndex.query(spark, root, terms, k)

  /** BATCHED retrieval: top-`k` per query id for a whole query set
    * against ONE pruned probe of the stored index — per-(qid, doc)
    * scores partial-reduce through graft_topk, so the exchange carries
    * k·maps rows per query however many documents match. Per-qid
    * results ≡ [[textIndexQuery]] one at a time. */
  def textIndexQueryMulti(spark: org.apache.spark.sql.SparkSession,
                          root: String, queries: Seq[(Long, Seq[String])],
                          k: Int = 5): DataFrame =
    graft.operators.InvertedIndex.queryMulti(spark, root, queries, k)

  /** Fold all ingest batches of a stored BM25 index into one batch-0
    * partition set — rows preserved exactly, probe file count restored. */
  def textIndexCompact(spark: org.apache.spark.sql.SparkSession,
                       root: String): Unit =
    graft.operators.InvertedIndex.compact(spark, root)

  private def asDocs(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** Train BPE merges from `docs(textCol)` — the merge table artifact
    * (step, left, right, merged, pair_count); corpus scanned once, merge
    * loop over the word-frequency table (operators.BpeTrain). */
  def bpeTrain(docs: DataFrame, textCol: String = "text",
               nMerges: Int = 10): DataFrame =
    graft.operators.BpeTrain.merges(
      docs.select(col(textCol).as("text")), nMerges)

  /** Encode a word column with a trained merge list — a pure map (the
    * merges bake in as expression literals; no join, no shuffle). */
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    graft.operators.BpeTrain.encode(word, merges)

  /** Weighted sample without replacement (Efraimidis–Spirakis): the k
    * rows with the smallest −ln(u)/w keys, u a deterministic overflow-
    * safe integer LCG on `idCol` — one scan, TakeOrdered partial-reduce,
    * reproducible on any engine forever. Contract: weights must be
    * STRICTLY POSITIVE (the E-S transform is undefined otherwise — a
    * negative weight would always win the sample, a zero weight never
    * would). The contract is ENFORCED here, not just documented: rows
    * with weight ≤ 0 or NULL are excluded from the draw, so a zero
    * weight can never become es_key = +Infinity on one engine and NULL
    * on another (oracles must mirror `WHERE w > 0`). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    val uNum = pmod(col(idCol), lit(1000003L)) * lit(2654435761L) +
      lit(12345L)
    val u = (pmod(uNum, lit(1000000006L)) + lit(1L)).cast("double") /
      1000000007.0
    df.filter(col(weightCol) > 0)
      .withColumn("es_key", round(-log(u) / col(weightCol), 9))
      .orderBy(col("es_key").asc, col(idCol).asc)
      .limit(k)
  }

  /** Build and persist the benchmark-contamination index
    * (operators.DecontamIndex): the bench suite's shingles as a Bloom
    * sketch + exact rows. Screen training corpora forever from storage
    * via [[decontamIndexQuery]] — a pure map over the corpus plus an
    * exact join on the Bloom survivors. */
  def decontamIndexBuild(bench: DataFrame, idCol: String, textCol: String,
                         root: String): Unit =
    graft.operators.DecontamIndex.build(
      shingleRows(bench, idCol, textCol), root)

  /** Contamination report (doc_id, n_shared, n_bench_docs) for a
    * training corpus against the stored index — result ≡
    * [[decontaminate]] exactly (the sketch only prunes). */
  def decontamIndexQuery(train: DataFrame, idCol: String, textCol: String,
                         root: String): DataFrame =
    graft.operators.DecontamIndex.query(
        shingleRows(train, idCol, textCol), root)
      .withColumnRenamed("doc_id", idCol)

  /** Train and persist a multinomial-NB document classifier
    * (operators.NbClassifier) from `docs(idCol, labelCol, textCol)` —
    * a vocab-sized quantized log-likelihood grid + one priors row.
    * Train once offline; score every batch from storage. */
  def nbClassifierStore(docs: DataFrame, idCol: String, labelCol: String,
                        textCol: String, root: String): Unit =
    graft.operators.NbClassifier.store(
      asLabeled(docs, idCol, labelCol, textCol), root)

  /** Score documents against a stored NB model — broadcast grid join +
    * integer sums, O(batch); returns (doc_id, predicted, actual). */
  def nbClassify(spark: org.apache.spark.sql.SparkSession, root: String,
                 docs: DataFrame, idCol: String, labelCol: String,
                 textCol: String): DataFrame =
    graft.operators.NbClassifier.scoreStored(spark, root,
      asLabeled(docs, idCol, labelCol, textCol))

  private def asLabeled(docs: DataFrame, idCol: String, labelCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(labelCol).as("lang"),
      col(textCol).as("text"))

  // ---- determinism helpers re-exported ----

  /** Order-independent exact sum of a money/measure double. */
  def dsum(c: Column): Column = Det.dsum(c)
  /** Timestamp → epoch µs (NTZ-safe, ns-truncating like DuckDB epoch_us). */
  def epochUs(c: Column): Column = Det.epochUs(c)
}
