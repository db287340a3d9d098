package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.IndexStore

/** BM25 inverted index AT REST — the lexical-retrieval sibling of
  * [[AnnIndex]], and the second leg of hybrid (lexical + semantic)
  * retrieval over a training/RAG corpus.
  *
  * q_text_bm25 demonstrates the BM25 *math* as a map-only full scan; no
  * 100-TB corpus serves queries that way. The deployment shape is the
  * classic search-engine artifact — build-once / append-batches /
  * answer-every-query-from-storage:
  *
  *   root/stats/    — (n_docs, total_tokens, nb)   PARTITIONED BY (batch)
  *   root/postings/ — (term, doc_id, dl, tf)       PARTITIONED BY (batch, tb)
  *   root/dfs/      — (term, df)                   PARTITIONED BY (batch, tb)
  *
  * in the shared at-rest layout (util.IndexStore: each `batch=N` dir is
  * one write committed by its marker, plus the compaction high-water
  * mark and staged swap).
  *
  * `dfs` is the DICTIONARY side table (vocabulary-sized): per-term
  * document frequency per batch, so the probe's idf comes from a
  * dictionary lookup instead of a count over every pruned postings row
  * — see [[dfsOf]] for the write-order crash contract and the exactness
  * argument.
  *
  * `tb = pmod(xxhash64(term), 32)` is a hash term-bucket: a query's
  * terms map to a handful of buckets, and the probe's `tb IN (…)`
  * literal filter becomes STATIC PARTITION PRUNING — only those
  * buckets' files are ever listed or read, however many terms the
  * corpus holds. The per-doc token length `dl` is DENORMALIZED into
  * every posting (the Lucene norms discipline): query-time scoring
  * needs no join against a corpus-sized doc-length table — everything
  * after the pruned scan is arithmetic plus one broadcast of per-term
  * idf rows.
  *
  * Scoring is quantized-BM25 (k1 = 1.2, b = 0.75, Robertson idf):
  * each (doc, term) contribution is rounded to 1e-6 and summed as an
  * exact INT64 — integer addition commutes, so the per-doc score is
  * bit-identical whatever the partitioning or merge order, and a
  * DuckDB full-scan recompute hash-matches the stored-index answer
  * (the q_text_index_query oracle).
  *
  * Batch stats rows sum at query time (n_docs, total_tokens are
  * associative), so appends never rewrite history; one overwrite per
  * `batch=` dir gives exactly-once replay — the s_text_index_ingest
  * contract, same as AnnIndex.append.
  */
object InvertedIndex {

  val NumBuckets = 32
  val K1 = 1.2
  val B  = 0.75

  private def statsDir(root: String)    = s"$root/stats"
  private def postingsDir(root: String) = s"$root/postings"
  private def dfsDir(root: String)      = s"$root/dfs"

  private[graft] val StatsSchema =
    "n_docs BIGINT, total_tokens BIGINT, nb BIGINT, batch BIGINT"
  private[graft] val PostingsSchema =
    "term STRING, doc_id BIGINT, dl BIGINT, tf BIGINT, batch BIGINT, tb INT"
  private[graft] val DfsSchema = "term STRING, df BIGINT, batch BIGINT, tb INT"

  /** The batch ids BOTH tables have committed. A crash between append()'s
    * two writes leaves a torn batch committed on one side only — reading
    * the intersection makes that batch invisible (the index answers as
    * if the append never ran) instead of silently skewing df/avgdl with
    * stats rows whose postings are missing. Replaying the batch repairs
    * it in place. */
  private def committedBatches(s: SparkSession, root: String): Seq[Long] =
    IndexStore.committed(s, statsDir(root))
      .intersect(IndexStore.committed(s, postingsDir(root)))

  /** Highest batch id folded into batch 0 by [[compact]] (−1 before any
    * compaction). append() refuses ids at or below it: a foreachBatch
    * re-delivery of an ALREADY-FOLDED batch would otherwise re-create
    * its partitions next to the compacted copies and double-count every
    * posting. (Operate compaction only past the stream's committed
    * checkpoint and the error can never fire.) */
  def compactedThrough(s: SparkSession, root: String): Long =
    IndexStore.compactedThrough(s, root)

  /** True iff a complete index exists under `root` (stats are written
    * last, so their committed backfill implies postings). Heals a torn
    * compaction swap first (util.IndexStore). */
  def exists(s: SparkSession, root: String): Boolean =
    IndexStore.exists(s, root, statsDir(root))

  /** Tokens of `text` — split on single spaces, empties dropped. ONE
    * definition shared by the index build and the full-scan twin so
    * `tf`/`dl` can never disagree between the two paths. */
  def tokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Postings rows for a document frame — (term, doc_id, tf, dl, tb).
    * One explode + one (doc, term) count: the only corpus-sized shuffle
    * in the whole build. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    toks.groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(NumBuckets.toLong)))
  }

  /** Batch stats. NOTE: tokenizes the batch a second time (postingsOf
    * is the first) — deliberately NOT derived from the postings rows,
    * whose (doc, term) grain drops zero-token documents from n_docs.
    * Builds/appends pay two scans of their own batch; queries pay none.
    * `nb` pins the bucketing constant INTO the artifact so a probe
    * compiled with a different NumBuckets fails loudly instead of
    * pruning to the wrong partitions. */
  private def statsOf(docs: DataFrame): DataFrame =
    docs.select(size(tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))
      .withColumn("nb", lit(NumBuckets.toLong))

  /** Per-term document frequencies of ONE batch set's postings — the
    * DICTIONARY side table of a classic inverted index: (term, tb, df),
    * vocabulary-sized. Stored beside the postings so the probe's idf
    * table is a dictionary lookup instead of a count over every pruned
    * postings row (the probe's only corpus-DENSITY-dependent aggregation:
    * at the 100× replica tier the four bench terms match 1.19M postings
    * rows, and re-counting them per query was the measured residual the
    * file-listing theory failed to explain — the scans themselves
    * min-of-5 at 0.15 s). Exactness: (term, doc_id) is unique across
    * batches by the append contract, so df(term) = Σ over batches of the
    * per-batch df. WHO writes it: build (batch 0) and compact (the fold)
    * — NOT append: a per-micro-batch dictionary write costs two extra
    * jobs per batch and measured s_text_index_ingest at 2.8× slower, so
    * streamed batches stay dictionary-less until a compaction folds
    * them, and [[dfTable]] HYBRIDIZES — dictionary for the covered
    * bulk + a recount over only the uncovered ingest TAIL (tail batches
    * are micro-batch-sized by construction; the corpus-dense bulk is
    * exactly what build/compact covered). A dictionary batch whose
    * write tore (no commit marker) counts as uncovered. */
  private def dfsOf(postings: DataFrame): DataFrame =
    postings.groupBy("term", "tb").agg(count(lit(1)).as("df"))

  /** Hybrid df table for the probe: Some((term, df)) = dictionary rows
    * over the covered batches + a pruned-postings recount over the
    * uncovered (post-compaction ingest tail) batches; None — full
    * recount — for pre-dictionary artifacts. */
  private def dfTable(s: SparkSession, root: String, terms: Seq[String],
      buckets: Seq[Long], committed: Seq[Long]): Option[DataFrame] = {
    val covered = IndexStore.committed(s, dfsDir(root)).intersect(committed)
    if (covered.isEmpty) None
    else {
      val dict = IndexStore.read(s, dfsDir(root), DfsSchema, "batch", covered)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("term").isin(terms: _*))
        .select("term", "df")
      val tail = committed.diff(covered)
      val withTail =
        if (tail.isEmpty) dict
        else dict.unionByName(
          IndexStore.read(s, postingsDir(root), PostingsSchema, "batch", tail)
            .filter(col("tb").isin(buckets: _*))
            .filter(col("term").isin(terms: _*))
            .groupBy("term").agg(count(lit(1)).as("df")))
      Some(withTail.groupBy("term").agg(sum("df").as("df")))
    }
  }

  /** The compact physical layout every postings write emits: repartition
    * ON the bucket id so each tb lands wholly in one task — exactly ONE
    * file per (tb, batch) instead of up-to-shuffle.partitions files (the
    * groupBy shuffle otherwise scatters a bucket's rows over every
    * reducer, and probe cost at the 100x tier proved file-LISTING bound
    * even under perfect partition pruning) — and sort within partitions
    * on (tb, term) so row-group min/max stats prune the probe's
    * In(term, ...) pushdown inside the file too. One extra exchange at
    * write time (postings-sized, build/append/compact only); queries pay
    * nothing, ever. */
  private def compactLayout(postings: DataFrame): DataFrame =
    postings.repartition(NumBuckets, col("tb"))
      .sortWithinPartitions("tb", "term", "doc_id")

  /** The dictionary write shared by build/compact: df rows laid out
    * like the postings (one file per (batch, tb), term-sorted). */
  private def writeDfs(dfs: DataFrame, root: String, batchId: Long): Unit =
    IndexStore.write(dfs.repartition(NumBuckets, col("tb"))
      .sortWithinPartitions("tb", "term"), dfsDir(root), "batch", batchId, "tb")

  /** One batch's postings and stats rows, postings FIRST: the batch is
    * visible once both are committed ([[committedBatches]]), and stats
    * is a single-row write, so the torn window is a postings write with
    * no stats row — invisible until replayed. */
  private def writeBatch(docs: DataFrame, root: String, batchId: Long): Unit = {
    IndexStore.write(compactLayout(postingsOf(docs)), postingsDir(root),
      "batch", batchId, "tb")
    IndexStore.write(statsOf(docs), statsDir(root), "batch", batchId)
  }

  /** Build and persist the backfill index (batch 0). Wipes any previous
    * artifact first — stats land after postings, so a rebuild dying
    * mid-way reads as exists()==false (the AnnIndex.build discipline).
    * Emits the compacted one-file-per-bucket layout directly (see
    * [[compactLayout]]) — a fresh backfill should never need a compaction
    * pass to reach its own steady-state file count. The dictionary (dfs)
    * is derived by reading the WRITTEN postings back — vocabulary-sized
    * agg over an already-tokenized artifact, not a third corpus pass —
    * and lands after them: a crash in that window leaves a complete,
    * correct index whose probes fall back to counting df (dfTable's
    * coverage check), never a wrong one. */
  def build(docs: DataFrame, root: String): Unit = {
    val s = docs.sparkSession
    IndexStore.wipe(s, root)
    writeBatch(docs, root, 0L)
    writeDfs(dfsOf(IndexStore.read(s, postingsDir(root), PostingsSchema,
      "batch", Seq(0L))), root, 0L)
  }

  /** Append a NEW batch of documents under its own `batch=` dirs —
    * replaying a batch id rewrites only itself (exactly-once under any
    * re-delivery). Contract: doc_ids must be new to the index;
    * re-delivery of a whole batch under its original batchId is the
    * supported replay path. Per-batch cost is O(batch) — the stored
    * corpus partitions are untouched, and the batch's stats row sums in
    * at query time instead of rewriting the global counters. */
  def append(docs: DataFrame, root: String, batchId: Long): Unit = {
    IndexStore.requireAppendable(docs.sparkSession, root, statsDir(root),
      batchId)
    writeBatch(docs, root, batchId)
  }

  /** Compact all ingest batches into a single batch-0 partition set —
    * the index-maintenance step a continuously-ingesting deployment
    * runs periodically: streaming appends leave one small file set per
    * (bucket, batch), and probe cost degrades with file COUNT even when
    * pruning is perfect. Compaction preserves the postings ROWS exactly
    * and sums the stats rows, so every query answers identically before
    * and after (pinned in RetrievalSpec) — only the physical layout
    * changes. Staged write + two-rename swap (util.IndexStore): a crash
    * at any point is healed inside exists() — never a missing artifact,
    * never a half-compacted index that answers wrongly. */
  def compact(s: SparkSession, root: String): Unit = {
    require(exists(s, root), s"no inverted index under $root")
    // fold only batches COMMITTED on both sides — a torn append's
    // orphan partition would otherwise be baked into batch 0
    val folded = committedBatches(s, root)
    val postings =
      IndexStore.read(s, postingsDir(root), PostingsSchema, "batch", folded)
    IndexStore.compact(s, root, folded) { staging =>
      IndexStore.write(
        IndexStore.read(s, statsDir(root), StatsSchema, "batch", folded)
          .agg(sum("n_docs").as("n_docs"),
            sum("total_tokens").as("total_tokens"))
          .withColumn("nb", lit(NumBuckets.toLong)),
        statsDir(staging), "batch", 0L)
      IndexStore.write(
        compactLayout(postings.select("term", "doc_id", "dl", "tf", "tb")),
        postingsDir(staging), "batch", 0L, "tb")
      // dictionary fold: sum per-batch dfs when the artifact carries them
      // for every folded batch, else recount from the folded postings —
      // either way the compacted artifact is dictionary-carrying (a
      // compaction UPGRADES a pre-dfs index)
      val dfs =
        if (folded.diff(IndexStore.committed(s, dfsDir(root))).isEmpty)
          IndexStore.read(s, dfsDir(root), DfsSchema, "batch", folded)
            .groupBy("term", "tb").agg(sum("df").as("df"))
        else dfsOf(postings)
      writeDfs(dfs, staging, 0L)
    }
  }

  /** Quantized-BM25 contribution of one (doc, term) posting as an exact
    * INT64 millionth: round(idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) · 1e6).
    * `idf`/`avgdl` are column expressions so the same formula serves the
    * stored-index path (joined stats) and the full-scan twin (literal
    * stats from one agg row). */
  def contribMicros(tf: org.apache.spark.sql.Column,
                    dl: org.apache.spark.sql.Column,
                    idf: org.apache.spark.sql.Column,
                    avgdl: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val sat = (tf * (K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0) - B + lit(B) * dl / avgdl))
    round(idf * sat * 1e6).cast("long")
  }

  /** Robertson idf = ln(1 + (N − df + ½)/(df + ½)) — positive for every
    * df ≤ N, so quantized contributions never cancel. */
  def idf(df: org.apache.spark.sql.Column,
          nDocs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    log(lit(1.0) + (nDocs.cast("double") - df + 0.5) / (df + 0.5))

  /** Top-`k` BM25 matches for `terms`, answered ONLY from the stored
    * artifacts — the corpus is never scanned. Returns
    * (doc_id, score) with score = Σ contributions / 1e6 rounded to 6 dp,
    * ties broken by doc_id.
    *
    * The probe: the query terms' hash buckets are computed with the SAME
    * xxhash64 expression the writer used (on a terms-sized local frame —
    * a model-sized driver collect, not a data pull), then the postings
    * scan filters `tb IN (…)` (static partition pruning at file-listing
    * level) and `term IN (…)` (row-group pushdown inside the pruned
    * buckets). Per-term df is counted from the pruned postings
    * themselves — exact because (term, doc) is unique across batches by
    * the append contract — and broadcasts back as a terms-sized idf
    * table. One shuffle on doc_id for the score sum; every other input
    * is model-sized. Repeated query terms are DISTINCT'd (each distinct
    * term scores once — the same semantics as the full-scan twin's
    * fixed-term columns); both tables read only the batch ids committed
    * on BOTH sides (torn appends invisible until replayed), and the
    * stored `nb` must match this build's NumBuckets or the probe fails
    * loudly instead of pruning to the wrong partitions. */
  def query(s: SparkSession, root: String, terms0: Seq[String], k: Int = 20)
      : DataFrame = {
    val (pruned, idfTab) = probe(s, root, terms0.distinct)
    pruned.join(broadcast(idfTab), Seq("term"))
      .select(col("doc_id"),
        contribMicros(col("tf"), col("dl"), col("idf"), col("avgdl"))
          .as("cq"))
      .groupBy("doc_id")
      .agg(round(sum("cq").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The shared probe preamble of [[query]] and [[queryMulti]]: validate
    * the artifact, prune the postings to the query terms' buckets and
    * committed batches, and derive the terms-sized idf/avgdl table. */
  private def probe(s: SparkSession, root: String, terms: Seq[String])
      : (DataFrame, DataFrame) = {
    require(exists(s, root), s"no inverted index under $root")
    import s.implicits._
    val committed = committedBatches(s, root)
    val qterms = terms.toDF("term")
      .withColumn("tb", pmod(xxhash64(col("term")), lit(NumBuckets.toLong)))
    val buckets = graft.util.Local.model(qterms.select("tb"))
      .collect().map(_.getLong(0)).distinct.toSeq
    // ONE driver job folds the nb check and the corpus constants: the
    // stats table is batches-sized, and running nb-check + st-broadcast
    // as separate jobs charged two fixed scheduling rounds to every
    // probe. n_docs/total_tokens are exact INT64 sums, so shipping them
    // as literals is bit-identical to the former broadcast crossJoin
    // (avgdl: cast-to-double then divide, same IEEE op either way).
    val stRow = graft.util.Local.model(
      IndexStore.read(s, statsDir(root), StatsSchema, "batch", committed)
        .agg(sum("n_docs").as("n_docs"),
          sum("total_tokens").as("total_tokens"), max("nb").as("nb"))
    ).collect().head
    require(stRow.isNullAt(2) || stRow.getLong(2) == NumBuckets.toLong,
      s"index at $root was bucketed with nb=${stRow.get(2)}, this build " +
        s"probes with $NumBuckets — rebuild or match the constant")
    val nDocs = if (stRow.isNullAt(0)) 0L else stRow.getLong(0)
    val totTok = if (stRow.isNullAt(1)) 0L else stRow.getLong(1)
    val avgdl = if (nDocs == 0L) 0.0 else totTok.toDouble / nDocs
    val pruned =
      IndexStore.read(s, postingsDir(root), PostingsSchema, "batch", committed)
        .filter(col("tb").isin(buckets: _*))
        .filter(col("term").isin(terms: _*))
    val idfTab = dfTable(s, root, terms, buckets, committed)
      .getOrElse(pruned.groupBy("term").agg(count(lit(1)).as("df")))
      .select(col("term"),
        idf(col("df"), lit(nDocs)).as("idf"),
        lit(avgdl).as("avgdl"))
    (pruned, idfTab)
  }

  /** BATCHED retrieval — the production serving shape (queries arrive in
    * micro-batches, not one at a time): top-`k` per query id for a whole
    * query SET against one pruned probe. All queries' terms prune
    * together (union of their buckets), the (qid, term) frame broadcasts
    * onto the pruned postings, and per-(qid, doc) scores partial-reduce
    * through [[graft.functions.TopKByScore]] — each map task emits at
    * most k rows per qid BEFORE the exchange, so the shuffle carries
    * k·maps·|queries| rows however many documents match (the q_knn_join
    * discipline; a rank window here would shuffle and sort every scored
    * (qid, doc) pair). Scores are the exact INT64 micros (< 2^53, so the
    * double-typed buffer is exact); ties break by doc_id asc inside the
    * buffer's total order. Returns (qid, rank, doc_id, score) ordered by
    * (qid, rank) — per-qid results identical to [[query]] one at a time
    * (law pinned in RetrievalSpec). */
  def queryMulti(s: SparkSession, root: String,
                 queries: Seq[(Long, Seq[String])], k: Int = 5)
      : DataFrame = {
    import s.implicits._
    graft.util.Confs.ensureObjectHashHeadroom(s)
    val (pruned, idfTab) = probe(s, root, queries.flatMap(_._2).distinct)
    val qdf = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("qid", "term")
    pruned.join(broadcast(qdf), Seq("term"))
      .join(broadcast(idfTab), Seq("term"))
      .select(col("qid"), col("doc_id"),
        contribMicros(col("tf"), col("dl"), col("idf"), col("avgdl"))
          .as("cq"))
      .groupBy("qid", "doc_id").agg(sum("cq").as("sq"))
      .groupBy("qid")
      .agg(graft.functions.TopKByScore
        .topk(col("sq").cast("double"), col("doc_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("long").as("rank"),
        col("t.id").as("doc_id"),
        round(col("t.score") / 1e6, 6).as("score"))
      .orderBy("qid", "rank")
  }
}
