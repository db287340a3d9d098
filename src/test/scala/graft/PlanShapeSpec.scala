package graft

/** Plan-shape guards (SURVEY §5.3): the physical plans we argued for in
  * §4 must actually be the plans Catalyst produces — regressions in plan
  * quality fail CI here, not silently in the bench.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  /** The AQE-FINAL plan (exchange reuse only materializes once the plan
    * has executed), truncated before the "== Initial Plan ==" section so
    * assertions don't match pre-adaptive operators. */
  private def executedFinal(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    finalPlan(df)
  }

  /** `df`'s AQE-final plan; `df` must have run. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
    s.indexOf("== Initial Plan ==") match {
      case -1 => s
      case i  => s.substring(0, i)
    }
  }

  test("q_join_bcast uses BroadcastHashJoin (GlobalKTable analog)") {
    assert(plan("q_join_bcast").contains("BroadcastHashJoin"))
  }

  test("q_join_fk_agg broadcasts both dims") {
    val p = plan("q_join_fk_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_date_funcs broadcasts the pruned orders build side") {
    // the r4 tail fix: order-side datetime exprs computed below the join,
    // pruned 150K-row build side broadcast — no shuffle join
    val p = plan("q_date_funcs")
    assert(p.contains("BroadcastHashJoin"), s"orders side not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_scan_filter_pushdown pushes the timestamp predicate to parquet") {
    val p = plan("q_scan_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate") || p.contains("PushedFilters: [Greater"),
      s"no pushed filters in:\n${p.take(2000)}")
  }

  test("q_scan_prune reads only the 3 projected columns") {
    val p = plan("q_scan_prune")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:bigint,l_quantity:double>")
      || p.contains("ReadSchema: struct<l_orderkey"),
      s"projection not pruned:\n${p.take(2000)}")
    assert(!p.contains("l_extendedprice"), "unprojected column reached the scan")
  }

  test("q_sink_partitioned prunes at the partition (directory) level") {
    val p = plan("q_sink_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition pruning in:\n${p.take(2000)}")
  }

  test("no CartesianProduct outside q_join_cross (and broadcast 1-row joins)") {
    for (name <- SparkEntry.queries.keys if name != "q_join_cross") {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a CartesianProduct")
    }
  }

  test("pair generation is never an id-inequality nested loop") {
    // the all-pairs anti-pattern reads `BroadcastNestedLoopJoin ... (id_a <
    // id_b)`; after banding/cell-bucketing the only nested loops left are
    // conditionless tiny-side broadcasts (centroids, cell-pair metadata)
    val idCols = "(id_a|id_b|keep_id|dup_id|doc_a|doc_b|vec_a|vec_b|u_id|v_id)#".r
    for (name <- Seq("q_dedup_simhash", "q_dedup_minhash", "q_dedup_near",
                     "q_dedup_embed", "q_sim_join", "q_dedup_containment",
                     "q_dedup_semantic", "q_dedup_phash")) {
      val bad = plan(name).linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filter(l => idCols.findFirstIn(l).isDefined)
        .toSeq
      assert(bad.isEmpty,
        s"$name generates pairs via nested loop:\n${bad.mkString("\n")}")
    }
  }

  test("q_dedup_near: content-grain expansion + prefix-filtered rep pairs") {
    // the declared plan is the membership EXPANSION (the rep-grain pair
    // subtree materializes once behind grainedNearDup's checkpoint) —
    // pin the expansion shape on the key, and the prefix-filter routing
    // on the shared machinery with checkpointing bypassed
    val p = plan("q_dedup_near")
    assert(p.contains("explode(members"),
      s"content-grain membership expansion missing:\n${p.take(2000)}")
    val sh = Graft.shingleRows(
      graft.sources.Tables.documents(spark, sf0001), "doc_id", "text")
    val rp = graft.queries.DedupOps.jaccardPairs(sh,
      Some(graft.operators.PrefixFilter.candidatePairs(sh, 0.8)))
    val pairPlan = rp.queryExecution.optimizedPlan.toString
    assert(pairPlan.contains("prefix_pos"),
      s"prefix filter missing from the pair machinery:\n${pairPlan.take(2000)}")
    assert(pairPlan.contains("row_number()"),
      s"df-order ranking missing from the pair machinery:\n${pairPlan.take(2000)}")
  }

  test("q_dedup_containment prefix-filters the CONTAINED side") {
    val p = plan("q_dedup_containment")
    assert(p.contains("prefix_pos"),
      s"contained-side prefix filter missing from plan:\n${p.take(2000)}")
  }

  test("q_dedup_frames: candidates via the fhash equi-join, no nested loop") {
    // the video-analog containment must never degenerate to an
    // all-pairs product: rep-grain signatures self-join on the frame
    // hash, membership expands through equi-joins
    val p = plan("q_dedup_frames")
    assert(p.contains("fhash"), "pair join lost its fhash equi key")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "frame containment degenerated to a nested loop")
  }

  test("q_dedup_simhash candidates arrive via a band equi-join, no nested loop") {
    val p = plan("q_dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n${p.take(2000)}")
    assert(p.contains("Join [band_idx") || p.contains("Join [band_val"),
      s"no band equi-join in:\n${p.take(2000)}")
  }

  test("q_sim_join / q_dedup_embed pair scoring is cell-screened, never all-pairs") {
    // two sanctioned shapes (VectorSimJoin picks by corpus size):
    //  - broadcast-corpus block scorer (graft_corpus_block_simpairs):
    //    the cell screen runs INSIDE the expression against the
    //    broadcast corpus — zero joins, one exchange;
    //  - the gated shuffle fallback: block-pair equi-join on cell ids
    //    (pinned separately in VectorSimJoinSpec's forced-shuffle test).
    // Either way the plan must never degenerate to an all-pairs product.
    for (name <- Seq("q_sim_join", "q_dedup_embed")) {
      val p = plan(name)
      assert(p.contains("corpus_block_simpairs") || p.contains("Join [cell_b"),
        s"$name lost both the broadcast-corpus scorer and the cell " +
          s"equi-join:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to an all-pairs product:\n${p.take(2000)}")
    }
  }

  test("q_join_interval shuffles on the equi key, not a cross product") {
    val p = plan("q_join_interval")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"interval join degenerated:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_agg_hash uses two-phase HashAggregate") {
    val p = plan("q_agg_hash")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial agg missing")
  }

  test("q_decontaminate broadcasts the benchmark shingles") {
    // contamination detection must be a map-side hash join over the
    // training shingles — the benchmark suite is the tiny side by nature
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bench side not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), "training shingles were shuffle-joined")
  }

  test("q_pack_sequences packs per shard, never a global window") {
    // a corpus-global running sum would serialize into ONE partition;
    // the window spec must carry the shard_id partition key
    val p = plan("q_pack_sequences")
    assert(p.contains("windowspecdefinition(shard_id"),
      s"packing window is not shard-partitioned:\n${p.take(2000)}")
  }

  test("q_dedup_lines / q_text_scrub stay shuffle-free (pure projections)") {
    for (name <- Seq("q_dedup_lines", "q_text_scrub")) {
      val p = plan(name)
      // one exchange is allowed for the final orderBy; no aggregate or
      // join exchanges — the ops themselves are per-row codegen
      assert(!p.contains("HashAggregate") && !p.contains("Join"),
        s"$name grew an aggregate/join:\n${p.take(1500)}")
    }
  }

  test("q_sink_bucketed joins co-bucketed tables with ZERO join-side shuffle") {
    // the bucket layout satisfies the join's distribution requirement on
    // BOTH sides — the only exchanges left are above the join (final agg
    // + orderBy). A hashpartitioning on either join key means bucketing
    // was ignored and the 100-TB win is gone.
    val p = plan("q_sink_bucketed")
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n${p.take(2500)}")
    assert(!p.contains("hashpartitioning(l_orderkey") &&
           !p.contains("hashpartitioning(o_orderkey"),
      s"join re-shuffled a bucketed side:\n${p.take(2500)}")
    assert(p.contains("Bucketed: true"), s"scan ignored the bucket layout")
  }

  test("q_agg_cogroup merges N inputs through ONE shuffle") {
    // the cogroup shape's whole point: union-tag then a single exchange
    // on the key — not one exchange per input plus a join
    val p = plan("q_agg_cogroup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges:\n${p.take(2500)}")
    assert(p.contains("Union"), s"no union in cogroup plan:\n${p.take(1500)}")
  }

  test("q_agg_stats computes all six moments in one aggregate pass") {
    val p = plan("q_agg_stats")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"moments should need one exchange, got $exchanges")
  }

  test("q_dedup_simhash pairs at signature grain (single signature pass)") {
    // the expensive subtree (tokenize + 64 partial sums + shuffle) now
    // computes ONCE BY CONSTRUCTION: SimHash.pairs groups docs by
    // signature behind a single checkpoint, the candidate self-join runs
    // over signature-keyed rows (sig_a/sig_b), and doc pairs expand from
    // membership. Pin the grain: signature-keyed band join + membership
    // expansion, zero document scans in the declared plan (they all
    // happened inside the one materialization).
    val p = executedFinal("q_dedup_simhash")
    assert(p.contains("sig_a#") && p.contains("sig_b#"),
      s"candidate join is not at signature grain:\n${p.take(3000)}")
    assert(p.contains("Join [simhash") || p.contains("[simhash#"),
      s"membership expansion join missing:\n${p.take(3000)}")
    val docScans = "FileScan parquet \\[doc_id".r.findAllIn(p).size
    assert(docScans == 0,
      s"documents scanned $docScans times post-checkpoint — signature subtree duplicated")
  }

  test("dedup verify paths reuse the per-doc profile subtree (one build each)") {
    // jaccardPairs/containmentPairs join the SAME profile frame for the
    // doc_a and doc_b sides; the b-side must arrive as a ReusedExchange
    // of the a-side's broadcast, not a second aggregate build
    for (name <- Seq("q_dedup_near", "q_dedup_minhash", "q_dedup_containment")) {
      val p = executedFinal(name)
      assert("ReusedExchange \\[doc_b".r.findFirstIn(p).isDefined,
        s"$name rebuilt the doc_b profile side:\n${p.take(3000)}")
    }
  }

  test("q_source_caps partial-reduces the cap before the exchange (no rank window)") {
    // the cap exists BECAUSE some sources are huge; a rank window would
    // shuffle and sort every row of the mega-source to one reducer. The
    // TopKByScore shape bounds the shuffle to ≤ cap rows per source per
    // map task and must not regress to Window/Sort.
    val p = plan("q_source_caps")
    assert(p.contains("ObjectHashAggregate"), s"no partial top-k:\n${p.take(1500)}")
    assert(!p.contains("Window"), s"cap regressed to a rank window:\n${p.take(1500)}")
    // law: survivors are exactly the brute-force top-10 per source
    val got = SparkEntry.queries("q_source_caps")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.sortBy { case (_, id, n) => (-n, id) }.take(10).zipWithIndex
        .map { case ((s, id, n), i) => (s, id, n, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4))
    assert(got.toSeq == want, "cap survivors or ranks diverge from brute force")
  }

  test("q_text_bm25 scores without any corpus-keyed shuffle (map-only + stats broadcast)") {
    // the ONLY exchange allowed is the SinglePartition merge of the
    // one-row corpus-stats aggregate; per-doc tf/dl are array
    // expressions, the stats come back as a broadcast, and the top-20 is
    // a TakeOrdered partial-reduce — nothing keyed by doc or term ever
    // shuffles, which is what makes the full scan the honest linear
    // reference at 100 TB
    val p = plan("q_text_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not partial-reduced:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning") &&
           !p.contains("Exchange rangepartitioning"),
      s"q_text_bm25 grew a keyed shuffle:\n${p.take(2000)}")
  }

  test("q_sample_weighted compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_sample_weighted").contains("TakeOrderedAndProject"))
  }

  test("q_text_classify_nb scores as a pure map (baked grid, no corpus join)") {
    // the non-negotiable scale property, tightened in r18: scoring must
    // never shuffle the corpus against its own model. The r18 form bakes
    // the model-sized grid into ONE expression (functions.NbGridSums) —
    // no token explode, no grid join of any kind, no doc_id exchange;
    // the only remaining operators between scan and the ordered output
    // are projections and the one-row priors broadcast.
    val p = plan("q_text_classify_nb")
    assert(p.contains("nb_grid_sums"),
      s"baked-grid scoring expression missing:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastHashJoin [term"),
      s"token-grain grid join crept back in:\n${p.take(2000)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus exchange crept into the score pass:\n${p.take(2000)}")
  }

  test("q_dedup_soft is one shuffle on the content hash (window, no join-back)") {
    val p = plan("q_dedup_soft")
    // the naive form groupBy(hash).count + join-back would show a join
    // and TWO hash exchanges; the window form has neither
    assert(!p.contains("Join"), s"join-back crept in:\n${p.take(1500)}")
    assert(p.contains("Window"), "window count missing")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected <=1 hash exchange, got $shuffles")
  }

  test("q_shuffle_global sorts per shard window, never a global-partition window") {
    val p = plan("q_shuffle_global")
    // a corpus-global row_number would compile to a SinglePartition
    // exchange feeding the window — the serialization this key exists
    // to avoid
    assert(p.contains("Window"), "window missing")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"global window partition:\n${p.take(2000)}")
  }

  test("q_quality_cascade touches the corpus exactly once") {
    // the funnel is window arithmetic on a 6-row literal frame; a second
    // corpus scan (e.g. a separate total-count pass) would double the
    // 100-TB read
    val p = plan("q_quality_cascade")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected 1 corpus scan, got $scans:\n${p.take(2000)}")
  }

  test("q_dedup_keep_best is a partial aggregate, not a corpus window") {
    // the argmax-by-struct groupBy ships one partial per (group, map
    // task); the row_number window it replaces would shuffle AND sort
    // every corpus row. max(struct) is NOT hash-aggregable (struct
    // buffer), so the plan is SortAggregate — what matters for 100 TB
    // is the partial_max map-side combine, which must be present.
    val p = plan("q_dedup_keep_best")
    assert(!p.contains("Window"), s"corpus window crept in:\n${p.take(1500)}")
    assert(p.contains("partial_max"),
      s"map-side partial aggregation missing:\n${p.take(1500)}")
  }

  test("q_mix_budget reads the corpus once into a model-sized allocator") {
    val p = plan("q_mix_budget")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans === 1, s"expected 1 corpus scan, got $scans:\n${p.take(2000)}")
  }

  test("q_dedup_boilerplate and q_decontam_near stay equi-join (no pair products)") {
    // boilerplate: gram groupBy + narrow join-back; decontam: banded
    // candidates + profile verify — an all-pairs nested loop in either
    // would be quadratic in the corpus at 100 TB
    for (k <- Seq("q_dedup_boilerplate", "q_decontam_near")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"$k compiled to a pair product:\n${p.take(2000)}")
    }
  }

  test("q_mix_anneal reads the corpus once; q_embed_outliers joins broadcast") {
    val p1 = plan("q_mix_anneal")
    val scans = "FileScan parquet".r.findAllIn(p1).size
    assert(scans === 1, s"expected 1 corpus scan, got $scans:\n${p1.take(2000)}")
    // outliers: the centroid/threshold sides are model-sized and must
    // broadcast; a shuffle join on 10 label keys would be skew city
    val p2 = plan("q_embed_outliers")
    assert(p2.contains("BroadcastHashJoin"), s"no broadcast join:\n${p2.take(2000)}")
    assert(!p2.contains("SortMergeJoin") && !p2.contains("CartesianProduct"),
      s"corpus-shuffling join on label keys:\n${p2.take(2000)}")
  }

  test("q_knn_graph symmetrizes the checkpointed kNN list without re-scoring") {
    // the kNN list is computed once and localCheckpoint'd; the executed
    // graph plan must join two scans of that checkpoint — any BlockTopK
    // / cell-join machinery appearing here would mean the corpus is
    // being re-scored per side
    val p = executedFinal("q_knn_graph")
    assert(!p.contains("graft_block"), s"re-scoring in graph plan:\n${p.take(2000)}")
    assert(p.contains("Join"), "symmetrization join missing")
  }

  test("building a DuckDB-proxy key launches no Spark job once its tables are resolved") {
    // the twelve DuckDB-proxy keys of BASELINE.md; their only build-time
    // jobs were parquet footer inference, which Tables.load now memoizes
    val keys = Seq("q_agg_hash", "q_join_multiway", "q_win_topk_group",
      "q_topk", "q_join_interval", "q_join_asof", "q_tumbling", "q_json_funcs",
      "q_knn_cosine", "q_events_session", "q_intersect", "q_dedup")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    keys.foreach(k => SparkEntry.queries(k)(spark, sf0001))  // the warm call
    sc.addSparkListener(listener)
    try {
      for (k <- keys) {
        sc.setJobGroup(s"build-$k", k)
        try SparkEntry.queries(k)(spark, sf0001) finally sc.clearJobGroup()
      }
      // listener events arrive in order: once a sentinel job is seen,
      // every job the builds started has been counted
      sc.setJobGroup("build-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30e9.toLong
      while (!jobs.containsKey("build-sentinel") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(jobs.containsKey("build-sentinel"), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    val built = keys.flatMap(k => Option(jobs.get(s"build-$k")).map(k -> _))
    assert(built.isEmpty, s"keys launched Spark jobs at build time: ${built.mkString(", ")}")
  }

  /** Spark jobs `body` launches, attributed by job group. */
  private def jobCount(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a sentinel job is seen,
      // every job the body started has been counted
      sc.setJobGroup("count-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30e9.toLong
      while (!jobs.containsKey("count-sentinel") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(jobs.containsKey("count-sentinel"), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    Option(jobs.get("counted")).map(_.intValue).getOrElse(0)
  }

  test("stored-index probes and appends read declared schemas: no inference jobs") {
    // reading a stored table without a declared schema runs a
    // footer-inference job per table, so these counts rise if one does
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, InvertedIndex}
    val emb = graft.queries.LlmOps.embDouble(
        graft.sources.Tables.embeddings(spark, sf0001))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
      .localCheckpoint(true)
    val qv = emb.filter(col("vec_id") === 0).select("v").first().getSeq[Double](0)
    val ann = java.nio.file.Files.createTempDirectory("graft_jobs_ann").toString
    AnnIndex.build(emb.filter(col("vec_id") < 400), ann)
    val inv = java.nio.file.Files.createTempDirectory("graft_jobs_inv").toString
    InvertedIndex.build(graft.sources.Tables.documents(spark, sf0001), inv)
    val annQuery = jobCount(AnnIndex.query(spark, ann, qv, nprobe = 3).collect())
    val annAppend = jobCount(
      AnnIndex.append(emb.filter(col("vec_id") >= 400), ann, batchId = 1))
    val invQuery = jobCount(InvertedIndex.query(spark, inv,
      Seq("spark", "window", "dup", "merge")).collect())
    info(s"jobs: AnnIndex.query $annQuery, AnnIndex.append $annAppend, " +
      s"InvertedIndex.query $invQuery")
    assert(annQuery <= 5, s"AnnIndex.query ran $annQuery jobs")
    assert(annAppend <= 5, s"AnnIndex.append ran $annAppend jobs")
    assert(invQuery <= 6, s"InvertedIndex.query ran $invQuery jobs")
  }

  test("the phash and frame screens build with no Spark job; a phash " +
      "ingest batch stays within its job count") {
    // a size gate (count, with a checkpoint so the counted frame is not
    // recomputed) runs its jobs while the DataFrame is being built;
    // broadcast-or-shuffle is Catalyst's decision at execution instead
    import org.apache.spark.sql.functions._
    import graft.operators.{FrameIndex, PHash, PHashIndex}
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    val m5 = pmod(col("doc_id"), lit(5))
    val batch = docs.filter(m5 === 0)
    val ph = java.nio.file.Files.createTempDirectory("graft_jobs_ph").toString
    PHashIndex.build(docs.filter(m5 =!= 0), ph)
    val fr = java.nio.file.Files.createTempDirectory("graft_jobs_fr").toString
    FrameIndex.build(docs.filter(m5 =!= 0), fr)
    val queryBuild = jobCount { PHashIndex.queryBatch(spark, ph, batch); () }
    val screenBuild = jobCount {
      PHash.screenFrames(batch, FrameIndex.stored(spark, fr)); ()
    }
    val pairs = java.nio.file.Files.createTempDirectory("graft_jobs_pp").toString
    val ingest = jobCount(
      graft.streaming.Streams.phashIndexIngest(batch, ph, pairs, 0L))
    info(s"jobs: PHashIndex.queryBatch build $queryBuild, " +
      s"PHash.screenFrames build $screenBuild, phashIndexIngest $ingest")
    assert(queryBuild == 0, s"building PHashIndex.queryBatch ran $queryBuild jobs")
    assert(screenBuild == 0, s"building PHash.screenFrames ran $screenBuild jobs")
    assert(ingest <= 4, s"one phashIndexIngest batch ran $ingest jobs")
  }

  /** The DuckDB-proxy keys whose final ORDER BY sorts a small result
    * of measured aggregate stages (not q_join_interval, whose sort sits
    * above a join; q_topk and q_knn_cosine have no global sort). */
  private val smallSortKeys = Seq("q_agg_hash", "q_join_multiway",
    "q_win_topk_group", "q_join_asof", "q_tumbling", "q_json_funcs",
    "q_events_session", "q_intersect", "q_dedup")

  test("SmallSort: the small-sort proxy keys sort on one partition") {
    for (k <- smallSortKeys) {
      val p = executedFinal(k)
      assert(p.contains("Exchange SinglePartition") &&
        !p.contains("Exchange rangepartitioning"),
        s"$k kept its range exchange:\n${p.take(3000)}")
    }
  }

  test("SmallSort: the small-sort proxy keys run no range-sampling job") {
    // action jobs at sf0.001; with the range exchange each ran one more,
    // the RangePartitioner's sampling job
    val want = Map("q_agg_hash" -> 3, "q_join_multiway" -> 6,
      "q_win_topk_group" -> 3, "q_join_asof" -> 4, "q_tumbling" -> 3,
      "q_json_funcs" -> 3, "q_events_session" -> 3, "q_intersect" -> 4,
      "q_dedup" -> 4)
    smallSortKeys.foreach(k => SparkEntry.queries(k)(spark, sf0001))  // the warm call
    val got = smallSortKeys.map { k =>
      val df = SparkEntry.queries(k)(spark, sf0001)
      k -> jobCount(df.collect())
    }.toMap
    info(s"action jobs: ${smallSortKeys.map(k => s"$k ${got(k)}").mkString(", ")}")
    assert(got === want)
  }

  test("SmallSort branch law: with coalescing off each key keeps its " +
      "range exchange and returns the same rows in the same order") {
    for (k <- smallSortKeys) {
      val single = SparkEntry.queries(k)(spark, sf0001).collect().toSeq
      val (plan, ranged) =
        withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
          val df = SparkEntry.queries(k)(spark, sf0001)
          val rows = df.collect().toSeq
          (finalPlan(df), rows)
        }
      assert(plan.contains("Exchange rangepartitioning") &&
        !plan.contains("Exchange SinglePartition"),
        s"$k lost its range exchange with coalescing off:\n${plan.take(3000)}")
      assert(ranged == single, s"$k: the one-partition sort changed the rows or their order")
    }
  }

  test("SmallSort leaves large sorts, repartitionByRange and sorts above a join alone") {
    import org.apache.spark.sql.functions._
    // input above the size AQE coalesces into one partition
    val large = withConfs(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1") {
      executedFinal("q_agg_hash")
    }
    assert(large.contains("Exchange rangepartitioning") &&
      !large.contains("Exchange SinglePartition"),
      s"a sort above the one-partition size lost its range exchange:\n${large.take(3000)}")
    def agg(name: String) = spark.range(2000)
      .groupBy((col("id") % 50).as("k")).agg(sum("id").as(name))
    // the same small aggregate, sorted: the rule fires
    val sorted = agg("s").orderBy("k")
    sorted.collect()
    assert(finalPlan(sorted).contains("Exchange SinglePartition"),
      s"a small sort kept its range exchange:\n${finalPlan(sorted)}")
    // a user's repartitionByRange keeps its partition count
    val byRange = agg("s").repartitionByRange(8, col("k"))
    byRange.collect()
    assert("Exchange rangepartitioning\\([^\\n]*, 8\\), REPARTITION_BY_NUM".r
      .findFirstIn(finalPlan(byRange)).isDefined,
      s"repartitionByRange(8) rewritten:\n${finalPlan(byRange)}")
    assert(byRange.rdd.getNumPartitions === 8)
    // a sort above a join: the stages' sizes do not bound its input
    val joined = agg("s").join(agg("t"), "k").orderBy("k")
    joined.collect()
    assert(finalPlan(joined).contains("Exchange rangepartitioning"),
      s"a sort above a join lost its range exchange:\n${finalPlan(joined)}")
    val interval = executedFinal("q_join_interval")
    assert(interval.contains("Exchange rangepartitioning"),
      s"q_join_interval lost its range exchange:\n${interval.take(3000)}")
  }

  test("whole-stage codegen covers the hot path of the flagship") {
    // AQE finalizes the plan only on execution; codegen'd operators carry
    // the "*(n)" prefix in the executed plan string.
    val df = SparkEntry.queries("q_join_interval")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen spans in:\n${p.take(1500)}")
  }
}
