package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, MinHashLSH}
import graft.sources.Tables
import graft.streaming.Streams

/** The dedup-index-at-rest contract: the stored docs table dedups an
  * incoming batch (a) identically to the exhaustive exact-Jaccard pair
  * set restricted to the batch/corpus split, (b) purely from storage on
  * repeat queries, (c) incrementally via append — indexing a batch
  * costs O(batch), never a corpus re-signature — and (d) without ever
  * shuffling the stored corpus for an increment-sized batch (broadcast-
  * batch plan shape, the 100-TB property the artifact exists for). */
class DedupIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf001 = "/root/testdata/sf0.01"
  private val m5 = pmod(col("doc_id"), lit(5))

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_didx_$tag").toString

  private def shingles(sfDir: String, pred: org.apache.spark.sql.Column) =
    graft.Graft.shingleRows(
      Tables.documents(spark, sfDir).filter(pred), "doc_id", "text", n = 3)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every stored row of the index, whatever its ingest partition. */
  private def storedRows(root: String): Seq[String] =
    sorted(spark.read.parquet(s"$root/docs")
      .select("doc_id", "bands", "ss", "n_sh"))

  private def broadcastJoins(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }

  /** Exchanges (shuffle or broadcast) of an executed plan that have a
    * scan of the stored docs table below them. */
  private def exchangesOverStore(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      .filter(e => collect(e) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains("/docs/ingest=")) => s
      }.nonEmpty)

  /** Exhaustive ground truth: exact Jaccard >= t over batch×corpus pairs
    * via the shared shingle equi-join path (no banding involved). */
  private def exhaustive(sfDir: String, t: Double): Seq[String] = {
    val sh = graft.Graft.shingleRows(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3)
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("ss"),
           count(lit(1)).as("n_sh"))
    val batch = sets.filter(m5 === 0)
      .select(col("doc_id").as("batch_doc"), col("ss").as("sa"),
              col("n_sh").as("n_a"))
    val corpus = sets.filter(m5 =!= 0)
      .select(col("doc_id").as("corpus_doc"), col("ss").as("sb"),
              col("n_sh").as("n_b"))
    batch.crossJoin(corpus)
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("j", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("j") >= t)
      .select(col("batch_doc"), col("corpus_doc"),
              round(col("j"), 6).as("jaccard"))
      .orderBy("batch_doc", "corpus_doc")
      .collect().map(_.toString).toSeq
  }

  private def declared(sfDir: String): Seq[String] =
    SparkEntry.queries("q_dedup_index_query")(spark, sfDir)
      .collect().map(_.toString).toSeq

  test("q_dedup_index_query == exhaustive batch×corpus Jaccard at two tiers") {
    for (sf <- Seq(sf0001, sf001))
      assert(declared(sf) === exhaustive(sf, 0.8), s"mismatch at $sf")
  }

  test("profile kernel ≡ exploded shingle form: ss/n_sh/mh and band rows") {
    // the doc-grain kernel (functions.ShingleProfile) and the exploded
    // shingle-row form must write EQUAL stored tables — sorted shingle
    // sets, counts and band arrays — at two tiers; and position i of
    // the stored band array must be band i of the exploded band rows
    for (sf <- Seq(sf0001, sf001)) {
      val docs = Tables.documents(spark, sf)
      val sh = graft.Graft.shingleRows(docs, "doc_id", "text", n = 3)
      val (viaShingles, viaKernel) = (tmpRoot("kshingle"), tmpRoot("kdocs"))
      DedupIndex.build(sh, viaShingles)
      DedupIndex.buildDocs(docs, viaKernel)
      assert(storedRows(viaKernel) === storedRows(viaShingles),
        s"profile kernel drifted at $sf")
      val stored = spark.read.parquet(s"$viaKernel/docs")
        .select(col("doc_id"), posexplode(col("bands")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val exploded = MinHashLSH.bands(MinHashLSH.signatures(sh, 16), 8, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(stored.nonEmpty && stored === exploded,
        s"stored band arrays drifted from the band rows at $sf")
    }
    // sub-nGram docs drop exactly as shingleRows' size filter dropped them
    import spark.implicits._
    val tiny = Seq((1L, "one two"), (2L, "a b c"), (3L, ""),
      (4L, "x"), (5L, null)).toDF("doc_id", "text")
    val kept = DedupIndex.rowsOfDocs(tiny).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L), "sub-nGram doc filtering drifted")
  }

  test("repeat queries answer purely from storage (no rebuild, identical)") {
    // first declared call built the artifact; a second must return the
    // identical pair set without re-signaturing the corpus
    val first = declared(sf0001)
    val second = declared(sf0001)
    assert(first === second && first.nonEmpty)
  }

  test("append == rebuild: incremental indexing matches a full build") {
    val corpusPred = m5 =!= 0
    // full build over the whole corpus
    val full = tmpRoot("full")
    DedupIndex.build(shingles(sf001, corpusPred), full)
    // half-then-append: initial backfill + an incremental day
    val incr = tmpRoot("incr")
    DedupIndex.build(
      shingles(sf001, corpusPred && col("doc_id") < 250), incr)
    DedupIndex.append(
      shingles(sf001, corpusPred && col("doc_id") >= 250), incr, ingestId = 1)
    val batch = shingles(sf001, m5 === 0).localCheckpoint(true)
    def ask(root: String) =
      DedupIndex.queryBatch(spark, root, batch)
        .orderBy("batch_doc", "corpus_doc").collect().map(_.toString).toSeq
    assert(ask(incr) === ask(full) && ask(full).nonEmpty)
  }

  test("the query path never shuffles the stored corpus (broadcast-batch shape)") {
    // an increment-sized batch is broadcast and the stored docs scan
    // streams: an exchange (shuffle OR broadcast) above that scan would
    // mean the corpus moves per batch. Both plans are pinned: the query
    // path, sized from the source's statistics, and the ingest pair
    // pass, sized from the cached batch that its append materialized.
    val root = tmpRoot("shape")
    DedupIndex.build(shingles(sf001, m5 =!= 0), root)
    val q = DedupIndex.queryBatch(spark, root, shingles(sf001, m5 === 0))
    assert(q.collect().nonEmpty)
    assert(broadcastJoins(q).nonEmpty,
      s"query path broadcasts nothing:\n${q.queryExecution.executedPlan}")
    assert(exchangesOverStore(q).isEmpty,
      s"query path moves the stored docs:\n${q.queryExecution.executedPlan}")
    val rows = DedupIndex.rowsOfDocs(
      Tables.documents(spark, sf001).filter(m5 === 0)).persist()
    try {
      rows.count() // fills the cache, as the ingest's append does
      val p = DedupIndex.ingestPairs(spark, root,
        DedupIndex.committedIngests(spark, root), rows)
      assert(p.collect().nonEmpty)
      assert(broadcastJoins(p).nonEmpty,
        s"ingest pass broadcasts nothing:\n${p.queryExecution.executedPlan}")
      assert(exchangesOverStore(p).isEmpty,
        s"ingest pass moves the stored docs:\n${p.queryExecution.executedPlan}")
    } finally rows.unpersist()
  }

  test("shuffle branch (corpus-scale batch) ≡ broadcast branch at two sizes") {
    // The size decision's OTHER arm — the plan that exists because a
    // forced broadcast of a 100k-doc batch OOMed the 100× probe. At
    // fixture scale Catalyst broadcasts; forcing both thresholds to −1
    // takes the branch a corpus-scale batch takes, and it must answer
    // bit-for-bit the same with no broadcast join left in the plan.
    for (sf <- Seq(sf0001, sf001)) {
      val root = tmpRoot("shufbr")
      DedupIndex.build(shingles(sf, m5 =!= 0), root)
      val batch = shingles(sf, m5 === 0)
      val bcast = DedupIndex.queryBatch(spark, root, batch)
      val bcastRows = sorted(bcast)
      assert(broadcastJoins(bcast).nonEmpty, s"no broadcast branch at $sf")
      val (shuf, shufRows) = shuffleBranch {
        val df = DedupIndex.queryBatch(spark, root, batch)
        (df, sorted(df))
      }
      assert(shufRows === bcastRows,
        s"shuffle branch diverged from broadcast branch at $sf")
      val plan = shuf.queryExecution.executedPlan
      assert(broadcastJoins(shuf).isEmpty,
        s"shuffle branch still broadcasts at $sf:\n$plan")
      assert(collect(plan) { case s: ShuffleExchangeLike => s }.nonEmpty,
        s"shuffle branch shows no key exchange at $sf:\n$plan")
    }
  }

  test("compact: answers, band and profile rows preserved; ingests fold to one") {
    val corpusPred = m5 =!= 0
    val root = tmpRoot("cpt")
    DedupIndex.build(
      shingles(sf001, corpusPred && col("doc_id") < 200), root)
    DedupIndex.append(
      shingles(sf001, corpusPred && col("doc_id") >= 200 &&
        col("doc_id") < 320), root, ingestId = 1)
    DedupIndex.append(
      shingles(sf001, corpusPred && col("doc_id") >= 320), root,
      ingestId = 2)
    val batch = shingles(sf001, m5 === 0).localCheckpoint(true)
    def ask() = DedupIndex.queryBatch(spark, root, batch)
      .orderBy("batch_doc", "corpus_doc").collect().map(_.toString).toSeq
    val (beforeAns, beforeRows) = (ask(), storedRows(root))
    DedupIndex.compact(spark, root)
    assert(ask() === beforeAns, "compaction changed the query answer")
    assert(storedRows(root) === beforeRows,
      "compaction changed the stored rows (bands, ss, n_sh)")
    val ingests = new java.io.File(s"$root/docs").listFiles().toSeq
      .map(_.getName).filter(_.startsWith("ingest="))
    assert(ingests === Seq("ingest=0"),
      "compaction left more than the single ingest-0 partition")
    // one writer per 64 MB: a fixture-sized index folds to one file
    val files = new java.io.File(s"$root/docs/ingest=0").listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.size === 1, s"fixture-sized fold wrote ${files.size} files")
  }

  test("replaying an ingest already folded by compaction is refused (HWM)") {
    val root = tmpRoot("cpthwm")
    DedupIndex.build(shingles(sf001, col("doc_id") < 100), root)
    val inc = shingles(sf001,
      col("doc_id") >= 100 && col("doc_id") < 150).localCheckpoint(true)
    DedupIndex.append(inc, root, ingestId = 1)
    val folded = storedRows(root)
    DedupIndex.compact(spark, root)
    assert(DedupIndex.compactedThrough(spark, root) === 1L)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.append(inc, root, ingestId = 1)
    }
    assert(e.getMessage.contains("high-water"),
      s"wrong refusal message: ${e.getMessage}")
    assert(storedRows(root) === folded, "a refused replay changed the index")
    // a NEW ingest above the mark is still accepted
    DedupIndex.append(
      shingles(sf001, col("doc_id") >= 150 && col("doc_id") < 180), root,
      ingestId = 2)
    assert(storedRows(root).size > folded.size)
  }

  test("an uncommitted (crashed) append is invisible to queries and redeliverable") {
    // an append is one write whose _SUCCESS marker commits it: a torn
    // append (rows on disk, no marker) must read as 'ingest absent' —
    // trusting partial rows would answer wrongly until the replay. The
    // FrameIndexSpec crashed-append law, on this index.
    val root = tmpRoot("crash")
    DedupIndex.build(shingles(sf001, col("doc_id") < 200), root)
    def q(): Seq[String] =
      sorted(DedupIndex.queryBatch(spark, root, shingles(sf001, m5 === 0)))
    val before = q()
    assert(before.nonEmpty, "fixture produced no stored hits")
    val inc = shingles(sf001,
      col("doc_id") >= 200 && col("doc_id") < 260).localCheckpoint(true)
    DedupIndex.append(inc, root, ingestId = 1)
    val committed = q()
    assert(committed.size > before.size,
      "test shape: the appended docs must add query hits")
    val marker = new java.io.File(s"$root/docs/ingest=1/_SUCCESS")
    assert(marker.exists && marker.delete())
    assert(new java.io.File(s"$root/docs/ingest=1").listFiles()
      .exists(_.getName.endsWith(".parquet")), "test shape: rows stay on disk")
    assert(q() === before, "uncommitted ingest rows visible to queries")
    // the at-least-once redelivery lands normally
    DedupIndex.append(inc, root, ingestId = 1)
    assert(q() === committed, "redelivered ingest must restore the answer")
  }

  test("ingest pair pass ≡ within ∪ stored-query, redeliveries out, both branches") {
    // the one-scan pass must reproduce the separate operators exactly
    // on a split where every population is non-trivial: within-batch
    // near-dups, batch×stored hits, and re-delivered docs (in both batch
    // and store — they must match nothing of themselves). The sf0.01
    // fixture carries natural near-dups in all groups.
    val root = tmpRoot("fused")
    val pairsDir = tmpRoot("fused_pairs")
    DedupIndex.build(shingles(sf001, m5 =!= 0 && m5 =!= 1), root)
    // batch = splits 0+1, with split-1 docs ALSO appended to the store
    // first (the redelivery population)
    DedupIndex.append(shingles(sf001, m5 === 1), root, ingestId = 1)
    val batchDocs = Tables.documents(spark, sf001)
      .filter(m5 === 0 || m5 === 1).select("doc_id", "text")
    val sh = graft.Graft.shingleRows(batchDocs, "doc_id", "text", n = 3)
      .localCheckpoint(true)
    val within = graft.queries.DedupOps
      .jaccardPairs(sh, Some(MinHashLSH.candidatePairs(sh)))
      .filter(col("jaccard_raw") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cross = DedupIndex.queryBatch(spark, root, sh)
      .join(broadcast(batchDocs.select(col("doc_id").as("corpus_doc"))),
            Seq("corpus_doc"), "left_anti")
      .select(least(col("batch_doc"), col("corpus_doc")).as("doc_a"),
              greatest(col("batch_doc"), col("corpus_doc")).as("doc_b"),
              col("jaccard"))
    val unfused = sorted(within.unionByName(cross))
    def ingest(): Seq[String] = {
      Streams.dedupIndexIngest(batchDocs, root, pairsDir, 4L)
      sorted(Streams.committedPairs(spark, pairsDir)
        .select("doc_a", "doc_b", "jaccard"))
    }
    assert(ingest() === unfused,
      "one-scan pair pass diverges from the separate operators")
    // the replay now also finds its own rows stored (ingest 5)
    assert(shuffleBranch(ingest()) === unfused,
      "shuffle branch of the pair pass diverges from the broadcast branch")
    // teeth: every population contributed
    assert(within.count() > 0, "no within-batch pairs in the fixture")
    assert(cross.count() > 0, "no batch×stored pairs in the fixture")
    assert(Tables.documents(spark, sf001).filter(m5 === 1).count() > 0)
  }

  test("a pair sharing several bands is emitted once, within batch and vs the store") {
    // two docs meet once per band they share; only the meeting at their
    // first shared band may survive. Exact copies share all 8 bands; the
    // variant shares some but not band 0, so its pairs survive at a
    // later index.
    import spark.implicits._
    val base = (0 until 40).map(i => s"w$i")
    val t = base.mkString(" ")
    val bandsOf = DedupIndex.rowsOfDocs(
        (t +: base.indices.map(j => base.updated(j, "zz").mkString(" ")))
          .zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def shared(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    val variant = (1 to base.size).find { j =>
      bandsOf(j).head != bandsOf(0).head && shared(bandsOf(j), bandsOf(0)) >= 2
    }.map(j => base.updated(j - 1, "zz").mkString(" "))
    assert(variant.isDefined, "test shape: no variant shares >= 2 bands past band 0")
    val v = variant.get
    val root = tmpRoot("once")
    val pairsDir = tmpRoot("once_pairs")
    DedupIndex.buildDocs(Seq((1L, t), (2L, v)).toDF("doc_id", "text"), root)
    val batch = Seq((10L, t), (11L, t), (12L, v)).toDF("doc_id", "text")
    val cross = sorted(DedupIndex.queryBatchDocs(spark, root, batch)
      .select("batch_doc", "corpus_doc"))
    assert(cross === Seq("[10,1]", "[10,2]", "[11,1]", "[11,2]", "[12,1]",
      "[12,2]"), "query path emitted a pair more than once (or lost one)")
    Streams.dedupIndexIngest(batch, root, pairsDir, 0L)
    val ingested = sorted(Streams.committedPairs(spark, pairsDir)
      .select("doc_a", "doc_b"))
    assert(ingested === Seq("[1,10]", "[1,11]", "[1,12]", "[10,11]",
      "[10,12]", "[11,12]", "[2,10]", "[2,11]", "[2,12]"),
      "ingest pass emitted a pair more than once (or lost one)")
  }

  test("a root in the retired bands/ + profiles/ layout fails loudly, not as no index") {
    // the two-table layout an earlier version wrote must neither answer
    // from an empty docs/ nor read as "no index" (which invites a
    // wipe-and-rebuild from whatever frame the caller holds)
    import spark.implicits._
    val root = tmpRoot("oldlayout")
    for (d <- Seq("bands", "profiles")) {
      val p = new java.io.File(s"$root/$d/ingest=0")
      assert(p.mkdirs() && new java.io.File(p, "_SUCCESS").createNewFile())
    }
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    def refused(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("bands/ + profiles/"),
        s"$what: the refusal does not name the layout: ${e.getMessage}")
    }
    refused("exists")(DedupIndex.exists(spark, root))
    refused("compactedThrough")(DedupIndex.compactedThrough(spark, root))
    refused("queryBatchDocs")(DedupIndex.queryBatchDocs(spark, root, docs))
    refused("appendDocs")(DedupIndex.appendDocs(docs, root, ingestId = 1))
    refused("compact")(DedupIndex.compact(spark, root))
    refused("ingest")(Streams.dedupIndexIngest(docs, root, tmpRoot("old_pairs"), 0L))
    assert(!new java.io.File(s"$root/docs").exists,
      "a refused call wrote into the retired root")
    // an explicit rebuild replaces it
    DedupIndex.buildDocs(docs, root)
    assert(DedupIndex.exists(spark, root))
  }

  test("an ingest batch runs at most 6 Spark jobs, a compaction at most 2") {
    // jobs attributed by job group (the PlanShapeSpec build-job pin): a
    // micro-batch is the append, the two broadcasts of the batch and the
    // pair write; a compaction is one write
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
    val root = tmpRoot("jobs")
    val pairsDir = tmpRoot("jobs_pairs")
    DedupIndex.buildDocs(docs.filter(m5 =!= 0), root)
    val batch = docs.filter(m5 === 0).select("doc_id", "text")
      .orderBy("doc_id").limit(100).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(batch.size === 100, "test shape: a 100-doc batch")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ingest", "ingest")
      try Streams.dedupIndexIngest(batch.toDF("doc_id", "text"), root, pairsDir, 0L)
      finally sc.clearJobGroup()
      sc.setJobGroup("compact", "compact")
      try DedupIndex.compact(spark, root) finally sc.clearJobGroup()
      // listener events arrive in order: once a sentinel job is seen,
      // every earlier job has been counted
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30e9.toLong
      while (!jobs.containsKey("sentinel") && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(jobs.containsKey("sentinel"), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    assert(Streams.committedPairs(spark, pairsDir).count() > 0,
      "test shape: the batch must pair")
    val ingestJobs = Option(jobs.get("ingest")).map(_.intValue).getOrElse(0)
    val compactJobs = Option(jobs.get("compact")).map(_.intValue).getOrElse(0)
    assert(ingestJobs >= 1 && ingestJobs <= 6, s"ingest batch ran $ingestJobs jobs")
    assert(compactJobs >= 1 && compactJobs <= 2, s"compaction ran $compactJobs jobs")
  }
}
