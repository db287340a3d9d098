package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Ev, Streams}

/** Streaming throughput bench — the s_* counterpart of [[Bench]].
  *
  * Batch keys have BENCH.json at three tiers; this closes the one
  * unmeasured tier by timing the flagship stream-stream interval join
  * (s_join_stream_stream) and a stateful key (s_stateful_counter — plus
  * its RocksDB+changelog twin s_state_rocksdb, same corpus, so backend
  * cost is a measured delta)
  * END-TO-END over a fixed deterministic MemoryStream corpus: N events
  * fed in B micro-batches, `processAllAvailable` after each feed (the
  * StreamingSpec drive pattern), watermark advanced past everything by a
  * final flush batch. Reported per key: wall seconds from query start to
  * final drain, micro-batch count (lastProgress.batchId + 1), input
  * rows/s, and total sink output rows — so streaming perf is a committed
  * artifact (BENCH_STREAM.json), not narrative.
  *
  * The sink is `noop`: memory-sink accumulation would turn a throughput
  * measurement into a driver-heap measurement. Determinism: the corpus
  * is a fixed arithmetic sequence (no RNG), so output-row counts are
  * exact invariants — 100k view→purchase pairs at +3 min ≪ the 10-min
  * join window, one final UserCount per user per input batch.
  */
object BenchStream {

  private case class KeyResult(wallSec: Double, microBatches: Long,
                               inputRows: Long, outputRows: Long,
                               extra: String = "")

  /** Run `body` with the RocksDB + changelog-checkpointing state store
    * confs set, restoring the previous values after. */
  private def onRocksDb[A](spark: SparkSession)(body: => A): A = {
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"),
      ("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled") -> "true")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // State partitions are a FIXED cost per micro-batch: every one of a
    // stream-stream join's 4 state stores per partition snapshots every
    // batch, whatever the row volume. 32 partitions for a 5k-row batch
    // measured 2.4 s/batch of pure store commits (~10k file ops over the
    // run) — per-batch overhead, not throughput. 8 partitions is the
    // right-sized state layout for this corpus; a real deployment sizes
    // this to keyspace × executor count, not to local core count.
    val statePartitions = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8")
    val spark = Session.builder(cpus.toInt)
      .config("spark.sql.shuffle.partitions", statePartitions)
      // output_rows is summed from recentProgress, which retains only
      // this many entries — keep retention far above any batch count
      // this bench produces (and assert below) so the sum never
      // silently undercounts
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nPairs = sys.env.getOrElse("SPARK_GRAFT_STREAM_PAIRS", "100000").toInt
    val nBatches = 40
    // view at t, matching purchase 3 min later (inside the 10-min window)
    val corpus: Vector[Ev] = (0 until nPairs).iterator.flatMap { k =>
      val user = (k % 512).toLong
      val t = k.toLong * 1000L // one view per second of event time
      Iterator(
        Ev(2L * k, new Timestamp(t), user, "view", 1.0),
        Ev(2L * k + 1, new Timestamp(t + 180000L), user, "purchase", 10.0))
    }.toVector
    val flush = Seq(Ev(-1L, new Timestamp(nPairs.toLong * 1000L + 86400000L),
      -1L, "flush", 0.0))
    val batches: Seq[Seq[Ev]] =
      corpus.grouped(math.max(1, corpus.size / nBatches)).toSeq :+ flush

    // the SAME corpus in 10×-larger feeds: per-batch fixed costs (state
    // snapshots × 4 stores × partitions, micro-batch planning) amortize
    // over 25k pairs/feed, exposing the ROW-bound throughput ceiling
    // that the 40-batch rows' per-batch floor hides — two regimes, both
    // committed, so the flagship number is quotable at either batch shape
    val bigBatches: Seq[Seq[Ev]] =
      corpus.grouped(math.max(1, corpus.size / 4)).toSeq :+ flush

    def drive(f: MemoryStream[Ev] => org.apache.spark.sql.DataFrame,
              mode: String, feed: Seq[Seq[Ev]] = batches): KeyResult = {
      val mem = MemoryStream[Ev](spark)
      val t0 = System.nanoTime()
      val q = f(mem).writeStream.format("noop").outputMode(mode).start()
      try feed.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val nb = q.lastProgress.batchId + 1
      require(nb < 1000,
        s"$nb micro-batches exceeds progress retention — output_rows would undercount")
      val out = q.recentProgress.iterator
        .map(p => p.sink.numOutputRows).filter(_ > 0).sum
      KeyResult(wall, nb, corpus.size.toLong + flush.size, out)
    }

    // entries are THUNKS so the key filter below can skip a key without
    // paying its setup or run (the Bench.scala SPARK_GRAFT_BENCH_KEYS
    // pattern — targeted re-measurement writes its own artifact via
    // SPARK_GRAFT_STREAM_OUT and never clobbers the canonical file)
    val results: Seq[(String, () => KeyResult)] = Seq(
      "s_join_stream_stream" -> (() => drive(m => {
        val src = m.toDF()
        Streams.viewPurchaseJoin(
          src.filter(col("event_type") === "view"),
          src.filter(col("event_type") === "purchase"))
      }, "append")),
      // the flagship join in the row-bound regime (bigBatches above):
      // identical operator, corpus and output invariant — only the feed
      // granularity changes, so (this row − the 40-batch row) IS the
      // measured per-batch overhead share
      "s_join_stream_stream_bigbatch" -> (() => drive(m => {
        val src = m.toDF()
        Streams.viewPurchaseJoin(
          src.filter(col("event_type") === "view"),
          src.filter(col("event_type") === "purchase"))
      }, "append", bigBatches)),
      "s_stateful_counter" -> (() => drive(m =>
        Streams.statefulCounter(m.toDS()).toDF(), "update")),
      // the SAME stateful counter on the RocksDB provider with CHANGELOG
      // checkpointing — the state backend the 100-TB story depends on
      // (per-batch deltas, state off-heap, no full snapshots). Running it
      // against the identical corpus makes backend cost a measured DELTA
      // vs the HDFS-backed default above, not a correctness-only claim.
      "s_state_rocksdb" -> (() =>
        onRocksDb(spark)(
          drive(m => Streams.statefulCounter(m.toDS()).toDF(), "update"))),
      // the stream-stream JOIN on RocksDB+changelog — the heaviest state
      // shape (4 stores per partition, both sides buffered to the
      // watermark) on the backend a 100-TB deployment runs; paired with
      // the HDFS-backed flagship row above, join-state backend cost is a
      // measured delta too, not just the counter's
      "s_join_rocksdb" -> (() =>
        onRocksDb(spark)(drive(m => {
          val src = m.toDF()
          Streams.viewPurchaseJoin(
            src.filter(col("event_type") === "view"),
            src.filter(col("event_type") === "purchase"))
        }, "append"))),
      // the LLM-side stateful key: running per-content multiplicity
      // (softDedup — one long of state per distinct content, sha2 keys)
      // over a 4×-duplicated document corpus, the ingest-dedup shape of
      // a crawl pipeline. Output rows ≡ input rows (every doc emits its
      // ordinal) — an exact invariant like the join's pair count.
      "s_dedup_soft" -> (() => {
        val nDocs = 100000
        val docCorpus: Vector[(Long, String)] = (0 until nDocs).iterator
          .map { k =>
            val base = k % 25000 // 4 exact copies of each distinct text
            (k.toLong,
              s"crawl snapshot body $base with stable filler tokens " +
                s"for realistic width ${base % 97}")
          }.toVector
        val docBatches = docCorpus.grouped(
          math.max(1, docCorpus.size / nBatches)).toSeq
        val mem = MemoryStream[(Long, String)](spark)
        val t0 = System.nanoTime()
        val q = Streams.softDedup(mem.toDF().toDF("doc_id", "text")).toDF()
          .writeStream.format("noop").outputMode("append").start()
        try docBatches.foreach { b => mem.addData(b); q.processAllAvailable() }
        finally q.stop()
        val wall = (System.nanoTime() - t0) / 1e9
        val out = q.recentProgress.iterator
          .map(p => p.sink.numOutputRows).filter(_ > 0).sum
        KeyResult(wall, q.lastProgress.batchId + 1, nDocs.toLong, out)
      }))

    // ---- the AT-REST INGEST family: foreachBatch streams scoring
    // against STORED artifacts (model/blocklist/index built once at
    // setup, outside the timed window — artifacts change rarely, ingest
    // never stops). The 100-TB streaming claim for these keys is
    // O(batch) work per micro-batch, never O(corpus); these rows turn
    // that claim into measured docs/s. Output rows are counted from the
    // committed parquet itself (foreachBatch sinks report -1 through
    // progress), so the artifact records what a downstream reader
    // actually sees.
    val tmpDir = System.getProperty("java.io.tmpdir")
    def clean(ps: String*): Unit = ps.foreach { p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    }
    def driveForeach[T <: Product](
        data: Seq[T], cols: Seq[String],
        fn: (org.apache.spark.sql.DataFrame, Long) => Unit,
        countOut: () => Long, nb: Int = nBatches)(
        implicit ev: org.apache.spark.sql.Encoder[T]): KeyResult = {
      val bs = data.grouped(math.max(1, data.size / nb)).toSeq
      val mem = MemoryStream[T](spark)
      val t0 = System.nanoTime()
      val q = mem.toDF().toDF(cols: _*).writeStream
        .foreachBatch(fn).start()
      try bs.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      KeyResult(wall, q.lastProgress.batchId + 1, data.size.toLong,
        countOut())
    }

    /** driveForeach + a compaction every `compactEvery` feeds (inside the
      * timed window — steady-state operating point, not pure ingest).
      * Extra JSON: fold count and the data-file-count curve (pre → post
      * per fold), the number that says WHY the fold cadence exists. */
    def driveCompacting[T <: Product](
        data: Seq[T], cols: Seq[String],
        fn: (org.apache.spark.sql.DataFrame, Long) => Unit,
        countOut: () => Long, root: String, compactFn: () => Unit)(
        implicit ev: org.apache.spark.sql.Encoder[T]): KeyResult = {
      // clamp like the batch-size guard below: 0 would divide-by-zero
      // the modulo, a negative would silently disable compaction while
      // still labeling the row a compact-in-loop measurement
      val compactEvery = math.max(1,
        sys.env.getOrElse("SPARK_GRAFT_STREAM_COMPACT_EVERY", "8").toInt)
      def dataFiles(): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        val f = new java.io.File(root)
        if (f.exists()) walk(f) else 0L
      }
      val bs = data.grouped(math.max(1, data.size / nBatches)).toSeq
      val curve = Seq.newBuilder[(Long, Long)]
      val mem = MemoryStream[T](spark)
      val t0 = System.nanoTime()
      val q = mem.toDF().toDF(cols: _*).writeStream
        .foreachBatch(fn).start()
      try bs.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b); q.processAllAvailable()
        if ((i + 1) % compactEvery == 0) {
          val pre = dataFiles(); compactFn(); curve += ((pre, dataFiles()))
        }
      }
      finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val folds = curve.result()
      val extra = s""","compactions":${folds.size},"files_curve":[""" +
        folds.map { case (a, b) => s"[$a,$b]" }.mkString(",") + "]"
      KeyResult(wall, q.lastProgress.batchId + 1, data.size.toLong,
        countOut(), extra)
    }

    // deterministic ingest corpus: 4 exact copies per distinct text
    // (the s_dedup_soft crawl shape), lang striped for the classifier.
    // Distinct texts draw 12 tokens from a 60k pseudo-random vocabulary
    // so UNRELATED docs share ~no shingles (cross-text J ≈ 0, like a
    // real crawl). The first cut reused the s_dedup_soft filler
    // sentence, whose distinct texts differ in 2 of 12 tokens — every
    // cross pair sat at J ≈ 0.4, banding collapsed (P(collide) ≈ 0.75)
    // and the "dedup" keys spent 40 s/batch exact-verifying ~10M
    // candidate pairs that no real corpus would produce. A bench corpus
    // must model the SEPARATION structure, not just the duplication
    // structure.
    val nIngest = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "100000").toInt
    val nDistinct = math.max(1, nIngest / 4)
    def tok(b: Int, i: Int): String =
      s"w${(b.toLong * 131 + i * 31 + (b.toLong * i) % 17) % 60013}"
    def cleanText(b: Int): String =
      (0 until 12).map(i => tok(b, i)).mkString(" ")
    // SPARK_GRAFT_STREAM_CORPUS=zipf: the ZipfDocs `dups` corpus shape
    // for the INGEST keys — Zipf(s≈1) 60k-term vocabulary (realistic
    // head-term skew in the shingle/frame/posting distributions), ~15%
    // exact replicas of a local base doc, ~10% one-token near-dups
    // (3-gram J ≈ 0.87) — so the dedup/frame/phash ingest rows measure
    // under the same realistic corpus the batch dedup tiers got
    // (BENCH_ZIPF dedup_tiers). Driver-side deterministic twin of the
    // ZipfDocs column formulas (splitmix64 in place of xxhash64 — the
    // SHAPE is the contract, not bit-identity with the parquet tier).
    // Separate artifact via SPARK_GRAFT_STREAM_OUT; the default corpus
    // stays canonical.
    val corpusMode = sys.env.getOrElse("SPARK_GRAFT_STREAM_CORPUS", "sep")
    def smix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def zipfDupText(id: Long): String = {
      val lnV = math.log(60000.0)
      val cls = java.lang.Long.remainderUnsigned(smix(id * 17 + 3), 20L)
      val src = if (cls < 5) id - id % 16 else id
      val n = 40 + java.lang.Long.remainderUnsigned(
        smix(src * 31 + 7), 20L).toInt
      val toks = (1 to n).map { i =>
        val u = (smix(src * 1000003L + i) >>> 11).toDouble / (1L << 53).toDouble
        "t" + math.ceil(math.exp(u * lnV)).toLong
      }.toArray
      if (cls >= 3 && cls < 5) // near-dup: one token swapped for a
        toks(4) = "t" +        // tail term derived from THIS id
          (java.lang.Long.remainderUnsigned(smix(id * 13 + 11), 20000L)
            + 60001L)
      toks.mkString(" ")
    }
    val ingestDocs: Vector[(Long, String)] = corpusMode match {
      case "zipf" => (0 until nIngest).iterator
        .map(k => (k.toLong, zipfDupText(k.toLong))).toVector
      case _ => (0 until nIngest).iterator
        .map(k => (k.toLong, cleanText(k % nDistinct))).toVector
    }
    val langDocs: Vector[(Long, String, String)] =
      ingestDocs.map { case (id, t) => (id, s"l${id % 5}", t) }
    // boilerplate corpus: same separated texts, plus a SHARED 7-token
    // boilerplate prefix on every 5th doc — the blocklist is then the
    // prefix grams (flagged path) while the other docs stay clean, the
    // realistic mixture (the filler corpus made EVERY gram common)
    val boilerDocs: Vector[(Long, String)] = ingestDocs.map { case (id, t) =>
      (id, if (id % 5 == 0) s"terms of service all rights reserved inc $t"
           else t)
    }
    // deterministic 64-dim vectors (the CorpusOpsSpec fixture formula)
    val nVec = sys.env.getOrElse("SPARK_GRAFT_STREAM_VECS", "100000").toInt
    val vecs: Vector[(Long, Seq[Double])] = (0 until nVec).iterator.map { k =>
      (k.toLong, (0 until 64).map { dd =>
        ((k % 20) * 37 + dd * 17) % 101 / 50.0 - 1.0 +
          ((k.toLong * 7919 + dd * 104729) % 997 - 498) / 4000.0
      })
    }.toVector
    val refDocs = ingestDocs.take(math.max(1, nIngest / 5))

    val ingestResults: Seq[(String, () => KeyResult)] = Seq(
      "s_classify_nb" -> (() => {
        val model = s"$tmpDir/graft_bench_nb_model"
        val out = s"$tmpDir/graft_bench_nb_out"
        clean(model, out)
        graft.operators.NbClassifier.store(
          langDocs.take(refDocs.size).toDF("doc_id", "lang", "text"), model)
        driveForeach(langDocs, Seq("doc_id", "lang", "text"),
          (b, id) => Streams.classifyBatch(b, model, out, id),
          () => Streams.committedPredictions(spark, out).count())
      }),
      "s_boilerplate" -> (() => {
        val block = s"$tmpDir/graft_bench_boiler_block"
        val out = s"$tmpDir/graft_bench_boiler_out"
        clean(block, out)
        graft.queries.DedupOps.commonGrams(
            graft.queries.DedupOps.gramRows(
              boilerDocs.take(refDocs.size).toDF("doc_id", "text")),
            minDocs = 2)
          .write.mode("overwrite").parquet(block)
        driveForeach(boilerDocs, Seq("doc_id", "text"),
          (b, id) => Streams.boilerplateBatch(b, block, out, id),
          () => Streams.committedBoilerplate(spark, out).count())
      }),
      "s_decontam_near" -> (() => {
        val idx = s"$tmpDir/graft_bench_decontam_idx"
        val out = s"$tmpDir/graft_bench_decontam_out"
        clean(idx, out)
        // suite-sized bench: every 500th corpus doc verbatim, so hits
        // exist and the exact-Jaccard verify path is exercised
        graft.queries.PipelineOps.storeDecontamNearIndex(
          ingestDocs.filter(_._1 % 500 == 0)
            .map { case (id, t) => (id + 10000000L, t) }
            .toDF("doc_id", "text"), idx)
        driveForeach(ingestDocs, Seq("doc_id", "text"),
          (b, id) => Streams.decontamBatch(b, idx, out, id),
          () => Streams.committedContaminations(spark, out).count())
      }),
      "s_cluster_assign" -> (() => {
        val cents = s"$tmpDir/graft_bench_cluster_cents"
        val out = s"$tmpDir/graft_bench_cluster_out"
        clean(cents, out)
        graft.operators.IvfKMeans.centroids(
            vecs.take(20000).toDF("vec_id", "v").withColumn("nrm",
              graft.functions.VectorExprs.norm(col("v"))),
            k = 8, iters = 2)
          .write.mode("overwrite").parquet(cents)
        driveForeach(vecs, Seq("vec_id", "v"),
          (b, id) => Streams.clusterAssign(b, cents, out, id),
          () => Streams.committedAssignments(spark, out).count())
      }),
      "s_dedup_frames" -> (() => {
        val idx = s"$tmpDir/graft_bench_frameidx"
        val out = s"$tmpDir/graft_bench_frameidx_out"
        clean(idx, out)
        // stored side = the reference slice; ~80% of ingest docs carry a
        // stored base text, so the broadcast-join screen path is hot
        graft.operators.PHash.storeFrameIndex(
          refDocs.toDF("doc_id", "text"), idx)
        driveForeach(ingestDocs, Seq("doc_id", "text"),
          (b, id) => Streams.frameDedupBatch(b, idx, out, id),
          () => Streams.committedFrameHits(spark, out).count())
      }),
      "s_text_index_ingest" -> (() => {
        val root = s"$tmpDir/graft_bench_textindex"
        clean(root)
        // backfill = the reference slice; the stream appends the rest
        graft.operators.InvertedIndex.build(
          refDocs.toDF("doc_id", "text"), root)
        val rest = ingestDocs.drop(refDocs.size)
        driveForeach(rest, Seq("doc_id", "text"),
          (b, id) => Streams.textIndexIngest(b, root, id),
          () => spark.read.parquet(s"$root/postings").count())
      }),
      "s_knn_index_ingest" -> (() => {
        val root = s"$tmpDir/graft_bench_knningest/idx"
        clean(s"$tmpDir/graft_bench_knningest")
        // backfill trains the models (outside the timed window is
        // wrong here: training is part of no batch, so it runs in
        // setup); each micro-batch then encodes against the STORED
        // centroids/codebooks — pure per-row arithmetic, O(batch)
        val nrm = graft.functions.VectorExprs.norm(col("v"))
        def unit(df: org.apache.spark.sql.DataFrame) =
          df.select(col("vec_id"),
            org.apache.spark.sql.functions.transform(
              col("v"), x => x / nrm).as("v"))
        graft.operators.AnnIndex.build(
          unit(vecs.take(20000).toDF("vec_id", "v")), root)
        val rest = vecs.drop(20000)
        driveForeach(rest, Seq("vec_id", "v"),
          (b, id) => Streams.annIndexIngest(unit(b), root, id),
          () => spark.read.parquet(s"$root/codes").count())
      }),
      "s_frame_index_ingest" -> (() => {
        val root = s"$tmpDir/graft_bench_frameingest/idx"
        val out = s"$tmpDir/graft_bench_frameingest_out"
        clean(s"$tmpDir/graft_bench_frameingest", out)
        // empty backfill: the stream IS the corpus. Capped like
        // s_dedup_index — each batch screens against the index admitted
        // SO FAR, so total work grows with corpus × batches, the honest
        // cost structure of screen-then-admit, measured as-is.
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_FRAME_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.FrameIndex.build(
          docsN.take(1).toDF("doc_id", "text").filter(lit(false)), root)
        driveForeach(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.frameIndexIngest(b, root, out, id),
          () => Streams.committedFramePairs(spark, out).count())
      }),
      // ---- the COMPACT-IN-LOOP regime: the growing-index rows above
      // measure pure ingest, but the production operating point all four
      // stored indexes support is ingest with PERIODIC COMPACTION folding
      // the accumulated ingest=/batch= partitions (file count — and with
      // it screen/query cost — otherwise grows without bound). These rows
      // drive the SAME corpus with a compact every `compactEvery`
      // micro-batches INSIDE the timed window (the maintenance job a
      // platform owner actually provisions against) and log the
      // file-count curve: files before → after each fold. Throughput is
      // therefore end-to-end steady-state docs/s, amortizing the folds.
      "s_frame_index_ingest_compact" -> (() => {
        val root = s"$tmpDir/graft_bench_frameingestc/idx"
        val out = s"$tmpDir/graft_bench_frameingestc_out"
        clean(s"$tmpDir/graft_bench_frameingestc", out)
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_FRAME_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.FrameIndex.build(
          docsN.take(1).toDF("doc_id", "text").filter(lit(false)), root)
        driveCompacting(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.frameIndexIngest(b, root, out, id),
          () => Streams.committedFramePairs(spark, out).count(),
          root, () => graft.operators.FrameIndex.compact(spark, root))
      }),
      "s_knn_index_ingest_compact" -> (() => {
        val root = s"$tmpDir/graft_bench_knningestc/idx"
        clean(s"$tmpDir/graft_bench_knningestc")
        val nrm = graft.functions.VectorExprs.norm(col("v"))
        def unit(df: org.apache.spark.sql.DataFrame) =
          df.select(col("vec_id"),
            org.apache.spark.sql.functions.transform(
              col("v"), x => x / nrm).as("v"))
        graft.operators.AnnIndex.build(
          unit(vecs.take(20000).toDF("vec_id", "v")), root)
        driveCompacting(vecs.drop(20000), Seq("vec_id", "v"),
          (b, id) => Streams.annIndexIngest(unit(b), root, id),
          () => spark.read.parquet(s"$root/codes").count(),
          root, () => graft.operators.AnnIndex.compact(spark, root))
      }),
      "s_text_index_ingest_compact" -> (() => {
        val root = s"$tmpDir/graft_bench_textindexc"
        clean(root)
        graft.operators.InvertedIndex.build(
          refDocs.toDF("doc_id", "text"), root)
        driveCompacting(ingestDocs.drop(refDocs.size), Seq("doc_id", "text"),
          (b, id) => Streams.textIndexIngest(b, root, id),
          () => spark.read.parquet(s"$root/postings").count(),
          root, () => graft.operators.InvertedIndex.compact(spark, root))
      }),
      "s_dedup_index_compact" -> (() => {
        val root = s"$tmpDir/graft_bench_dedupindexc"
        val pairs = s"$tmpDir/graft_bench_dedupindexc_pairs"
        clean(root, pairs)
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_DEDUP_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.DedupIndex.build(
          graft.Graft.shingleRows(
            docsN.take(1).toDF("doc_id", "text").filter(lit(false)),
            "doc_id", "text", n = 3), root)
        driveCompacting(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.dedupIndexIngest(b, root, pairs, id),
          () => Streams.committedPairs(spark, pairs).count(),
          root, () => graft.operators.DedupIndex.compact(spark, root))
      }),
      "s_phash_index_ingest" -> (() => {
        val root = s"$tmpDir/graft_bench_phashindex"
        val pairs = s"$tmpDir/graft_bench_phashindex_pairs"
        clean(root, pairs)
        // empty backfill: the stream IS the corpus (the s_dedup_index
        // discipline at image grain — each batch screens against the
        // signatures admitted SO FAR, corpus × batches total work,
        // measured as-is)
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_PHASH_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.PHashIndex.build(
          docsN.take(1).toDF("doc_id", "text").filter(lit(false)), root)
        driveForeach(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.phashIndexIngest(b, root, pairs, id),
          () => Streams.committedPairs(spark, pairs).count())
      }),
      // the SAME ingest under the RocksDB + changelog state provider —
      // the comparative row the 100-TB state question needs on the path
      // that carries the most per-batch commit weight. EXPECTED delta:
      // ~zero, and that IS the finding — the index-ingest keys are
      // foreachBatch pipelines whose state lives in the PARQUET ARTIFACT
      // (ingest partitions + version dirs), not in Spark's state store
      // (no stateful operator in the plan), so the store backend can't
      // matter here; the backend-sensitive keys are the stateful ones
      // (s_stateful_counter vs s_state_rocksdb measures that delta).
      // Committing the measured near-zero delta turns "backend doesn't
      // matter for artifact-backed ingest" from an argument into a row.
      "s_dedup_index_rocksdb" -> (() => onRocksDb(spark) {
        val root = s"$tmpDir/graft_bench_dedupindexr"
        val pairs = s"$tmpDir/graft_bench_dedupindexr_pairs"
        clean(root, pairs)
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_DEDUP_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.DedupIndex.build(
          graft.Graft.shingleRows(
            docsN.take(1).toDF("doc_id", "text").filter(lit(false)),
            "doc_id", "text", n = 3), root)
        driveForeach(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.dedupIndexIngest(b, root, pairs, id),
          () => Streams.committedPairs(spark, pairs).count())
      }),
      "s_dedup_index" -> (() => {
        val root = s"$tmpDir/graft_bench_dedupindex"
        val pairs = s"$tmpDir/graft_bench_dedupindex_pairs"
        clean(root, pairs)
        // empty backfill: this stream IS the corpus from scratch. Capped
        // below the other keys by default: each batch queries the index
        // built SO FAR, so total work grows with corpus × batches — the
        // honest cost structure of continuous dedup, measured as-is.
        val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_DEDUP_DOCS",
          "40000").toInt
        val docsN = ingestDocs.take(n)
        graft.operators.DedupIndex.build(
          graft.Graft.shingleRows(
            docsN.take(1).toDF("doc_id", "text").filter(lit(false)),
            "doc_id", "text", n = 3), root)
        driveForeach(docsN, Seq("doc_id", "text"),
          (b, id) => Streams.dedupIndexIngest(b, root, pairs, id),
          () => Streams.committedPairs(spark, pairs).count())
      }))

    // ---- TRIGGER-SIZING MATRIX (the operator-level trigger story): the
    // same flagship stream-stream join and the same index ingest driven
    // at 4–160 micro-batches over the IDENTICAL corpus, so the per-batch
    // commit floor is a measured per-key number (wall(b=N) ≈ rows/rate +
    // N · floor) and a user picks a trigger from one table instead of
    // folklore. Env-gated (SPARK_GRAFT_STREAM_TRIGGER_SWEEP=1) so the
    // canonical full run is unchanged; rows land in the same artifact
    // under `@b<N>` suffixes. The join sweeps the stateful per-batch
    // cost (4 state stores × partitions snapshot per batch); the ingest
    // sweeps the committed-write floor (one output version + one index
    // partition per batch, whatever the batch size).
    val sweepResults: Seq[(String, () => KeyResult)] =
      if (!sys.env.contains("SPARK_GRAFT_STREAM_TRIGGER_SWEEP")) Nil
      else {
        val joinRows = Seq(4, 10, 40, 160).map { nb =>
          s"s_join_stream_stream@b$nb" -> (() => drive(m => {
            val src = m.toDF()
            Streams.viewPurchaseJoin(
              src.filter(col("event_type") === "view"),
              src.filter(col("event_type") === "purchase"))
          }, "append",
            corpus.grouped(math.max(1, corpus.size / nb)).toSeq :+ flush))
        }
        val ingestRows = Seq(10, 40, 160).map { nb =>
          s"s_dedup_index@b$nb" -> (() => {
            val root = s"$tmpDir/graft_bench_dedupindex_b$nb"
            val pairs = s"${root}_pairs"
            clean(root, pairs)
            val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_DEDUP_DOCS",
              "40000").toInt
            val docsN = ingestDocs.take(n)
            graft.operators.DedupIndex.build(
              graft.Graft.shingleRows(
                docsN.take(1).toDF("doc_id", "text").filter(lit(false)),
                "doc_id", "text", n = 3), root)
            driveForeach(docsN, Seq("doc_id", "text"),
              (b, id) => Streams.dedupIndexIngest(b, root, pairs, id),
              () => Streams.committedPairs(spark, pairs).count(), nb)
          })
        }
        joinRows ++ ingestRows
      }

    val keyFilter = sys.env.get("SPARK_GRAFT_STREAM_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allResults = (results ++ ingestResults ++ sweepResults)
      .filter { case (k, _) => keyFilter.forall(_(k)) }
      .map { case (k, f) => k -> f() }
    require(allResults.nonEmpty,
      s"SPARK_GRAFT_STREAM_KEYS matched no stream bench keys: $keyFilter")

    def fmt(v: Double): String = (math.rint(v * 1000) / 1000).toString
    val qs = allResults.map { case (k, r) =>
      s""""$k":{"wall_sec":${fmt(r.wallSec)},"micro_batches":${r.microBatches},""" +
        s""""input_rows":${r.inputRows},"rows_per_sec":${fmt(r.inputRows / r.wallSec)},""" +
        s""""output_rows":${r.outputRows}${r.extra}}"""
    }.mkString("{", ",", "}")
    val total = allResults.map(_._2.wallSec).sum
    val line =
      s"""{"metric":"stream_total","value":${fmt(total)},"unit":"sec","pairs":$nPairs,"queries":$qs}"""
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO",
      System.getProperty("user.dir"))
    val artifact = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "BENCH_STREAM.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$repoRoot/$artifact"), line)
    catch { case e: Throwable =>
      Console.err.println(s"WARN: stream bench artifact write failed: $e")
    }
    println(line)
    spark.stop()
  }
}
