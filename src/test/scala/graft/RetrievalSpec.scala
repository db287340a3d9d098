package graft

import org.apache.spark.sql.functions._
import graft.operators.InvertedIndex
import graft.sources.Tables

/** The lexical-retrieval contract: the stored inverted index answers
  * BM25 queries (a) identically to the map-only full scan, (b) through
  * a partition-pruned probe that lists only the query terms' hash
  * buckets, and (c) incrementally via append — batching-invariant and
  * replay-idempotent, because df and corpus stats are sums over batch
  * partitions. Plus the RRF fusion law for q_retrieval_hybrid. */
class RetrievalSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tidx_$tag").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("q_text_index_query == q_text_bm25 (stored index ≡ full scan) at two tiers") {
    for (sf <- Seq(sf0001, sf001)) {
      val scan = SparkEntry.queries("q_text_bm25")(spark, sf)
      val idx = SparkEntry.queries("q_text_index_query")(spark, sf)
      assert(rows(idx) === rows(scan), s"index/scan divergence at $sf")
    }
  }

  test("the postings probe partition-prunes to the query terms' buckets") {
    val root = tmpRoot("prune")
    InvertedIndex.build(Tables.documents(spark, sf0001), root)
    val q = InvertedIndex.query(spark, root, Seq("spark", "dup"), k = 5)
    val plan = q.queryExecution.executedPlan.toString
    // the committed-batch filter shares the partition-filter list, so
    // match the tb membership term anywhere inside it
    assert("""PartitionFilters: \[[^\]]*tb#\d+ IN \(""".r
        .findFirstIn(plan).isDefined,
      s"postings scan lost its term-bucket partition filter:\n$plan")
    assert(q.count() > 0)
  }

  test("append: batch-split invariant, replay exactly-once, stats additive") {
    val docs = Tables.documents(spark, sf001)
    val base = docs.filter(col("doc_id") < 250)
    val b1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
    val b2 = docs.filter(col("doc_id") >= 375)
    val terms = Seq("spark", "window", "dup", "merge")
    def stored(root: String): Seq[String] =
      spark.read.parquet(s"$root/postings")
        .select("term", "doc_id", "tf", "dl", "tb", "batch")
        .collect().map(_.toString).sorted.toSeq
    def top(root: String): Seq[String] =
      rows(InvertedIndex.query(spark, root, terms, k = 20))
    val rootSplit = tmpRoot("apsplit")
    InvertedIndex.build(base, rootSplit)
    InvertedIndex.append(b1, rootSplit, batchId = 1)
    InvertedIndex.append(b2, rootSplit, batchId = 2)
    val rootFull = tmpRoot("apfull")
    InvertedIndex.build(docs, rootFull)
    // the incrementally-built index answers EXACTLY like the full
    // rebuild: postings rows are per-doc facts and df/stats are sums
    // over batch partitions, so the split cannot show through
    assert(top(rootSplit) === top(rootFull),
      "incremental index diverges from the full rebuild")
    val statsSplit = spark.read.parquet(s"$rootSplit/stats")
      .agg(sum("n_docs"), sum("total_tokens")).collect().head
    val statsFull = spark.read.parquet(s"$rootFull/stats")
      .agg(sum("n_docs"), sum("total_tokens")).collect().head
    assert(statsSplit === statsFull, "batch stats do not sum to the corpus")
    // replay batch 2 verbatim: store must not change
    val before = stored(rootSplit)
    InvertedIndex.append(b2, rootSplit, batchId = 2)
    assert(stored(rootSplit) === before,
      "replaying a committed batch changed the store — append not idempotent")
  }

  test("compact: answers preserved exactly, batch partitions fold to one") {
    val docs = Tables.documents(spark, sf001)
    val terms = Seq("spark", "window", "dup", "merge")
    val root = tmpRoot("compact")
    InvertedIndex.build(docs.filter(col("doc_id") < 250), root)
    InvertedIndex.append(
      docs.filter(col("doc_id") >= 250 && col("doc_id") < 375), root, 1)
    InvertedIndex.append(docs.filter(col("doc_id") >= 375), root, 2)
    def batchDirs(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/postings")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/postings/batch=*"))
        .map(_.getPath.getName).distinct.toSeq.sorted
    }
    assert(batchDirs() === Seq("batch=0", "batch=1", "batch=2"))
    val before = rows(InvertedIndex.query(spark, root, terms, k = 20))
    val postingsBefore = spark.read.parquet(s"$root/postings")
      .select("term", "doc_id", "tf", "dl")
      .collect().map(_.toString).sorted.toSeq
    InvertedIndex.compact(spark, root)
    assert(batchDirs() === Seq("batch=0"),
      "compaction left more than the single batch-0 partition set")
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20)) === before,
      "compaction changed the query answer")
    val postingsAfter = spark.read.parquet(s"$root/postings")
      .select("term", "doc_id", "tf", "dl")
      .collect().map(_.toString).sorted.toSeq
    assert(postingsAfter === postingsBefore,
      "compaction changed the postings rows")
  }

  test("dictionary df ≡ recount fallback; coverage gate catches partial dfs") {
    // the stored dfs dictionary must answer bit-identically to counting
    // df from the pruned postings (the pre-dictionary path), and any
    // artifact whose dfs side does not cover every committed batch must
    // fall back to counting — never silently undercount idf
    val docs = Tables.documents(spark, sf001)
    val terms = Seq("spark", "window", "dup", "merge")
    val root = tmpRoot("dict")
    InvertedIndex.build(docs.filter(col("doc_id") < 375), root)
    InvertedIndex.append(docs.filter(col("doc_id") >= 375), root, 1)
    val p = new org.apache.hadoop.fs.Path(s"$root/dfs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), "build/append did not write the dfs dictionary")
    val withDict = rows(InvertedIndex.query(spark, root, terms, k = 20))
    // partial coverage: a dictionary write torn inside its job commit —
    // half of batch 0's bucket dirs landed and its marker never did
    val dfsBuckets =
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$root/dfs/batch=0/tb=*"))
    assert(dfsBuckets.length > 1, "fixture too small to split buckets")
    dfsBuckets.take(dfsBuckets.length / 2).foreach(st => fs.delete(st.getPath, true))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/dfs/batch=0/_SUCCESS"), false))
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20)) === withDict,
      "partial dfs coverage changed the answer (fallback not taken?)")
    // no dictionary at all: the pre-dfs artifact shape
    fs.delete(p, true)
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20)) === withDict,
      "dictionary and recount paths disagree")
    // a compaction of the dictionary-less artifact restores the dfs side
    InvertedIndex.compact(spark, root)
    assert(fs.exists(p), "compaction did not upgrade the artifact with dfs")
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20)) === withDict,
      "post-compaction dictionary answer drifted")
  }

  test("every postings write emits one file per (tb, batch) — layout law") {
    // probe cost at the 100x tier proved file-LISTING bound: build and
    // append must land each bucket in exactly one file (the groupBy
    // shuffle would otherwise scatter a bucket over every reducer)
    val docs = Tables.documents(spark, sf001)
    val root = tmpRoot("layout")
    InvertedIndex.build(docs.filter(col("doc_id") < 375), root)
    InvertedIndex.append(docs.filter(col("doc_id") >= 375), root, 1)
    val p = new org.apache.hadoop.fs.Path(s"$root/postings")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$root/postings/batch=*/tb=*/part-*"))
    val byDir = files.groupBy(_.getPath.getParent.toString)
    assert(byDir.nonEmpty)
    val fat = byDir.filter(_._2.length > 1).keys.toSeq.sorted
    assert(fat.isEmpty,
      s"buckets with more than one file per batch: ${fat.take(5)}")
  }

  test("a torn append is invisible until replayed (batch intersection)") {
    // simulate a crash between append()'s two writes: append fully, then
    // delete the batch's postings partitions so only its stats row
    // remains — the query must answer exactly like the pre-append index
    // (NOT with inflated n_docs/avgdl), and replaying the batch repairs
    val docs = Tables.documents(spark, sf001)
    val terms = Seq("spark", "window", "dup", "merge")
    val base = docs.filter(col("doc_id") < 400)
    val b1 = docs.filter(col("doc_id") >= 400)
    val root = tmpRoot("torn")
    InvertedIndex.build(base, root)
    val baseAnswer = rows(InvertedIndex.query(spark, root, terms, k = 20))
    InvertedIndex.append(b1, root, batchId = 1)
    val fullAnswer = rows(InvertedIndex.query(spark, root, terms, k = 20))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (st <- fs.globStatus(new org.apache.hadoop.fs.Path(
           s"$root/postings/batch=1")))
      fs.delete(st.getPath, true)
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20))
      === baseAnswer,
      "orphan stats row leaked into the scores — torn batch not masked")
    InvertedIndex.append(b1, root, batchId = 1)
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20))
      === fullAnswer, "replaying the torn batch did not repair the index")
  }

  test("a PARTIAL postings commit with no stats row is invisible (write order)") {
    // The realistic crash under the postings-FIRST/stats-LAST ordering:
    // the multi-partition postings job died mid-commit, leaving SOME
    // batch=N/tb=* dirs, and the (last-written) stats row never landed.
    // The batch intersection must mask the partial postings — scores
    // must equal the pre-append index, not a blend of full stats and
    // half a batch's postings — and a replay must repair in place.
    val docs = Tables.documents(spark, sf001)
    val terms = Seq("spark", "window", "dup", "merge")
    val base = docs.filter(col("doc_id") < 400)
    val b1 = docs.filter(col("doc_id") >= 400)
    val root = tmpRoot("tornpart")
    InvertedIndex.build(base, root)
    val baseAnswer = rows(InvertedIndex.query(spark, root, terms, k = 20))
    InvertedIndex.append(b1, root, batchId = 1)
    val fullAnswer = rows(InvertedIndex.query(spark, root, terms, k = 20))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stats row gone (it is written last, so the crash window is before it)
    for (st <- fs.globStatus(new org.apache.hadoop.fs.Path(
           s"$root/stats/batch=1")))
      fs.delete(st.getPath, true)
    // and only HALF the batch's postings buckets survived the crash
    val bucketDirs = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$root/postings/batch=1/tb=*"))
    assert(bucketDirs.length > 1, "fixture too small to split buckets")
    for (st <- bucketDirs.take(bucketDirs.length / 2))
      fs.delete(st.getPath, true)
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20))
      === baseAnswer,
      "partial postings with no stats row leaked into the scores")
    InvertedIndex.append(b1, root, batchId = 1)
    assert(rows(InvertedIndex.query(spark, root, terms, k = 20))
      === fullAnswer, "replaying the partial batch did not repair the index")
  }

  test("replaying an already-compacted batch is refused (high-water mark)") {
    val docs = Tables.documents(spark, sf0001)
    val root = tmpRoot("hwm")
    InvertedIndex.build(docs.filter(col("doc_id") < 25), root)
    val b1 = docs.filter(col("doc_id") >= 25)
    InvertedIndex.append(b1, root, batchId = 1)
    InvertedIndex.compact(spark, root)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.append(b1, root, batchId = 1)
    }
    assert(e.getMessage.contains("high-water"),
      s"unexpected refusal message: ${e.getMessage}")
    // NEW batches past the mark still append fine
    InvertedIndex.append(
      docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 100000L), root, batchId = 2)
  }

  test("duplicate query terms score once (distinct semantics)") {
    val root = tmpRoot("dup")
    InvertedIndex.build(Tables.documents(spark, sf0001), root)
    assert(
      rows(InvertedIndex.query(spark, root,
        Seq("spark", "spark", "dup"), k = 10))
      === rows(InvertedIndex.query(spark, root, Seq("spark", "dup"), k = 10)))
  }

  test("queryMulti ≡ query one at a time (batched-serving law)") {
    val root = tmpRoot("multi")
    InvertedIndex.build(Tables.documents(spark, sf001), root)
    val multi = InvertedIndex
      .queryMulti(spark, root, graft.queries.RetrievalOps.bmMulti, k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    for ((qid, terms) <- graft.queries.RetrievalOps.bmMulti) {
      val single = InvertedIndex.query(spark, root, terms, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(multi(qid) === single,
        s"qid $qid: batched answer diverges from the single-query path")
    }
  }

  test("q_retrieval_hybrid: RRF law holds and the semantic leg matches knnCosine") {
    val out = SparkEntry.queries("q_retrieval_hybrid")(spark, sf001).collect()
    assert(out.length === 10)
    // rrf must equal the fusion law recomputed from the row's own ranks
    for (r <- out) {
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val sem = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lex.isDefined || sem.isDefined)
      val expect = BigDecimal(
          lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          sem.map(x => 1.0 / (60 + x)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === expect, s"rrf law broken for row $r")
    }
    // the semantic ranks must agree with the declared knn facade's
    // independent top-20 (same rounding, same tie-break)
    val semTop = graft.Graft.knnCosine(
        Tables.embeddings(spark, sf001), "vec_id", "embedding",
        queryId = 0, k = 20)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1).toLong }.toMap
    for (r <- out; if !r.isNullAt(2))
      assert(semTop(r.getLong(0)) === r.getLong(2),
        s"sem_rank mismatch for doc ${r.getLong(0)}")
    for (r <- out; if r.isNullAt(2))
      assert(!semTop.contains(r.getLong(0)),
        s"doc ${r.getLong(0)} should carry its semantic rank")
  }
}
