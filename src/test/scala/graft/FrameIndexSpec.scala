package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec,
  BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import graft.operators.{FrameIndex, PHash}
import graft.sources.Tables
import graft.streaming.Streams

/** The frame-index-at-rest contract — the fourth stored index's
  * lifecycle laws (DedupIndexSpec / RetrievalSpec / AnnIndexSpec are
  * the siblings): append ≡ rebuild, replay exactly-once, compaction
  * preserves rows and answers while folding the layout, the high-water
  * mark refuses folded replays, and a torn compaction swap heals on
  * first touch. */
class FrameIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmpRoot(tag: String): String = new java.io.File(
    java.nio.file.Files.createTempDirectory(s"graft_fidx_$tag").toFile,
    "idx").toString

  private def docs = Tables.documents(spark, sf0001).select("doc_id", "text")

  private def storedRows(root: String): Seq[String] =
    FrameIndex.stored(spark, root)
      .collect().map(_.toString).sorted.toSeq

  private def broadcastJoins(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }

  private def isStoreScan(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.toString.contains("/frames/ingest="))
    case _ => false
  }

  private def storeScans(p: SparkPlan): Seq[SparkPlan] =
    collect(p) { case s if isStoreScan(s) => s }

  /** True iff a stored frame scan feeds `p` with no join in between:
    * an exchange over such a subtree moves the stored rows themselves. */
  private def reachesStore(p: SparkPlan): Boolean = p match {
    case _: BaseJoinExec => false
    case q: QueryStageExec => reachesStore(q.plan)
    case a: AdaptiveSparkPlanExec => reachesStore(a.executedPlan)
    case other => isStoreScan(other) || other.children.exists(reachesStore)
  }

  private def screen(root: String): Seq[String] =
    PHash.screenFrames(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        FrameIndex.stored(spark, root))
      .collect().map(_.toString).sorted.toSeq

  test("append == rebuild: batching never changes the stored rows or answers") {
    val m5 = pmod(col("doc_id"), lit(5))
    val rootSplit = tmpRoot("apsplit")
    FrameIndex.build(docs.filter(m5 === 1 || m5 === 2), rootSplit)
    FrameIndex.append(docs.filter(m5 === 3), rootSplit, ingestId = 1)
    FrameIndex.append(docs.filter(m5 === 4), rootSplit, ingestId = 2)
    val rootOne = tmpRoot("apone")
    FrameIndex.build(docs.filter(m5 =!= 0), rootOne)
    assert(storedRows(rootSplit) === storedRows(rootOne),
      "stored rows depend on how the admissions were batched")
    assert(screen(rootSplit) === screen(rootOne))
    // replay ingest 2 verbatim: store must not change
    val before = storedRows(rootSplit)
    FrameIndex.append(docs.filter(m5 === 4), rootSplit, ingestId = 2)
    assert(storedRows(rootSplit) === before,
      "replaying a committed ingest changed the store")
  }

  test("appendSig == append: the fused micro-batch admit stores " +
      "identical rows (and one file per wave)") {
    // the streaming ingest admits via appendSig (one precomputed
    // signature pass, one sorted file); the law is row-identity with
    // append on the same docs — n_fr re-derived from the same distinct
    // (doc_id, fhash) set
    import graft.operators.Multimodal
    val m5 = pmod(col("doc_id"), lit(5))
    val rootA = tmpRoot("sigap")
    val rootB = tmpRoot("sigapB")
    FrameIndex.build(docs.filter(m5 === 1), rootA)
    FrameIndex.build(docs.filter(m5 === 1), rootB)
    val wave = docs.filter(m5 === 2)
    FrameIndex.append(wave, rootA, ingestId = 1)
    val sig = PHash.frameSignatures(Multimodal.sampleFrames(
      Multimodal.fromDocuments(wave), PHash.NPix, 2))
    FrameIndex.appendSig(sig, rootB, ingestId = 1)
    assert(storedRows(rootA) === storedRows(rootB),
      "fused admit stored different rows than append")
    val files = new java.io.File(s"$rootB/frames/ingest=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"micro-batch admit wrote $files files, wanted 1")
    // the fused admit honors the same high-water-mark refusal
    FrameIndex.compact(spark, rootB)
    val e = intercept[IllegalArgumentException] {
      FrameIndex.appendSig(sig, rootB, ingestId = 1)
    }
    assert(e.getMessage.contains("folded"))
  }

  test("compact: rows and screen answers preserved, ingests fold to one") {
    val m5 = pmod(col("doc_id"), lit(5))
    val root = tmpRoot("cpt")
    FrameIndex.build(docs.filter(m5 === 1 || m5 === 2), root)
    FrameIndex.append(docs.filter(m5 === 3), root, ingestId = 1)
    FrameIndex.append(docs.filter(m5 === 4), root, ingestId = 2)
    val (beforeRows, beforeAns) = (storedRows(root), screen(root))
    assert(beforeAns.nonEmpty, "fixture produced no screen hits")
    FrameIndex.compact(spark, root)
    assert(storedRows(root) === beforeRows,
      "compaction changed the stored rows")
    assert(screen(root) === beforeAns,
      "compaction changed the screen answer")
    val ingests = new java.io.File(s"$root/frames").listFiles().toSeq
      .map(_.getName).filter(_.startsWith("ingest=")).sorted
    assert(ingests === Seq("ingest=0"),
      s"compaction left non-folded ingest partitions: $ingests")
    // folded replay refused on the batch face…
    assert(FrameIndex.compactedThrough(spark, root) === 2L)
    val err = intercept[IllegalArgumentException] {
      FrameIndex.append(docs.filter(m5 === 4), root, ingestId = 2)
    }
    assert(err.getMessage.contains("high-water"))
    // …and a NEW ingest above the mark still lands
    FrameIndex.append(docs.filter(m5 === 0), root, ingestId = 3)
    assert(storedRows(root).size > beforeRows.size)
  }

  test("screen branches: forced shuffle ≡ broadcast, bit-for-bit") {
    // the backfill-wave safety valve: a corpus-scale batch takes the
    // plain equi-join when Catalyst sizes it past the broadcast
    // threshold, and that branch must answer exactly like the
    // broadcast one (both thresholds at −1 force it)
    val m5 = pmod(col("doc_id"), lit(5))
    val root = tmpRoot("branches")
    FrameIndex.build(docs.filter(m5 === 0), root)
    val wave = docs.filter(m5 =!= 0)
    def run(): (DataFrame, Seq[String]) = {
      val df = PHash.screenFrames(wave, FrameIndex.stored(spark, root))
      (df, df.collect().map(_.toString).sorted.toSeq)
    }
    val (bdf, bcast) = run()
    assert(bcast.nonEmpty, "fixture produced no backfill-wave hits")
    assert(broadcastJoins(bdf).nonEmpty, "no broadcast branch")
    val (sdf, shuf) = shuffleBranch(run())
    assert(shuf === bcast,
      "shuffle branch diverges from the broadcast branch")
    assert(broadcastJoins(sdf).isEmpty,
      s"shuffle branch still broadcasts:\n${sdf.queryExecution.executedPlan}")
  }

  test("frameDedupBatch broadcasts the micro-batch: the stored frame " +
      "rows never cross an exchange") {
    // the screen joins the batch's frame signatures onto a stream of
    // the stored rows; an exchange between the stored scan and that
    // join would move the corpus every batch (the pair aggregate's
    // exchange above the join moves only pair counts)
    val m5 = pmod(col("doc_id"), lit(5))
    val root = tmpRoot("dedupbatch")
    FrameIndex.build(docs.filter(m5 =!= 0), root)
    val out = tmpRoot("dedupbatch_out")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def screens = plans.toArray(Array.empty[SparkPlan]).toSeq
      .filter(p => storeScans(p).nonEmpty)
    try {
      Streams.frameDedupBatch(docs.filter(m5 === 0), root, out, 0L)
      // listener events arrive asynchronously
      val deadline = System.nanoTime + 30e9.toLong
      while (screens.isEmpty && System.nanoTime < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(screens.size === 1, s"expected one screen write, saw ${screens.size}")
    val plan = screens.head
    assert(Streams.committed(spark, out).count() > 0,
      "fixture produced no screen hits")
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"screen broadcasts nothing:\n$plan")
    val moved = collect(plan) { case e: Exchange => e }
      .filter(e => reachesStore(e.child))
    assert(moved.isEmpty, s"screen moves the stored frame rows:\n$plan")
  }

  test("an uncommitted (crashed) append is invisible: excluded from screens, never folded, redeliverable") {
    // the output dir is created at job SETUP, before commit — a crash
    // mid-append leaves an ingest= dir WITHOUT _SUCCESS. That batch
    // must not screen, must not raise the compaction high-water mark
    // (else the streaming face skips its redelivery as 'already
    // folded' and the rows are lost forever), and its redelivery must
    // land normally after a compaction ran in between.
    val m5 = pmod(col("doc_id"), lit(5))
    val root = tmpRoot("crash")
    FrameIndex.build(docs.filter(m5 === 1 || m5 === 2), root)
    FrameIndex.append(docs.filter(m5 === 3), root, ingestId = 1)
    val committed = storedRows(root)
    val crashBatch = docs.filter(m5 === 4)
    FrameIndex.append(crashBatch, root, ingestId = 2)
    val marker = new java.io.File(s"$root/frames/ingest=2/_SUCCESS")
    assert(marker.exists, "test setup: committed append has no marker")
    assert(marker.delete())
    assert(storedRows(root) === committed,
      "uncommitted ingest rows are visible to screens")
    FrameIndex.compact(spark, root)
    assert(FrameIndex.compactedThrough(spark, root) === 1L,
      "compaction raised the high-water mark past an UNCOMMITTED batch")
    // the at-least-once redelivery is NOT refused as already-folded…
    FrameIndex.append(crashBatch, root, ingestId = 2)
    assert(storedRows(root).size > committed.size,
      "redelivered batch rows missing from the store")
  }

  test("the stored hot-hash set guards screens against boilerplate frames") {
    // 500 stored videos all share one boilerplate frame (a black
    // frame): its fhash is the entire candidate fan-out — 2500 join
    // rows for a 5-doc batch here, df(batch)·df(stored) ≈ 10¹² on a
    // real corpus. The at-rest hot set (materialized at build/compact,
    // broadcast at screen time) removes it; unique evidence still
    // screens.
    def block(seed: Long): String = {
      val rnd = new scala.util.Random(seed * 2654435761L + 29)
      (0 until 72).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    import spark.implicits._
    val hotB = block(-1L)
    val storedDocs = (0 until 500)
      .map(i => i.toLong -> (hotB + block(i))).toDF("doc_id", "text")
    // batch doc 9000 shares ONLY the hot frame; 9001 is a true clip of
    // stored doc 7 (its unique frame) — the guard must drop the first
    // and keep the second
    val batch = Seq(9000L -> (hotB + block(900000L)),
                    9001L -> block(7L)).toDF("doc_id", "text")
    val root = tmpRoot("hot")
    FrameIndex.build(storedDocs, root, stride = 1, dfCap = 50)
    val hot = FrameIndex.hotHashes(spark, root)
    assert(hot.count() === 1L, "exactly the boilerplate hash is hot")
    val guarded = PHash.screenFrames(batch, FrameIndex.stored(spark, root),
        stride = 1, num = 1, den = 2, hotHashes = Some(hot))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(guarded === Seq((9001L, 7L)),
      s"guarded screen must keep exactly the true-clip hit: $guarded")
    val unguarded = PHash.screenFrames(batch, FrameIndex.stored(spark, root),
        stride = 1, num = 1, den = 2).count()
    assert(unguarded >= 500L,
      "control: without the guard the hot hash floods the candidates")
    // compaction refreshes the set; the guarded answer is unchanged
    FrameIndex.compact(spark, root, dfCap = 50)
    assert(FrameIndex.hotHashes(spark, root).count() === 1L)
  }

  test("incremental hot set ≡ full recompute; a torn df delta falls " +
      "back to recounting, never undercounts") {
    // a boilerplate frame whose df crosses the cap only SUMMED across
    // ingests (3 + 2 + 2 = 7 > 5, each ingest alone ≤ 3) — the case a
    // per-ingest fold gets wrong unless the deltas are truly additive
    def block(seed: Long): String = {
      val rnd = new scala.util.Random(seed * 2654435761L + 29)
      (0 until 72).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    import spark.implicits._
    val hotB = block(-1L)
    def wave(ids: Range) = ids.map(i => i.toLong -> (hotB + block(i)))
      .toDF("doc_id", "text")
    val root = tmpRoot("inc")
    val cap = 5L
    FrameIndex.build(wave(0 until 3), root, stride = 1, dfCap = cap)
    assert(FrameIndex.hotHashes(spark, root).count() === 0L,
      "below the cap after the backfill alone")
    FrameIndex.append(wave(100 until 102), root, ingestId = 1, stride = 1)
    FrameIndex.append(wave(200 until 202), root, ingestId = 2, stride = 1)
    // appends are delta-less by design (no second committed write per
    // micro-batch) — the fold must mix the stored backfill delta with
    // per-ingest recounts and still be exact across the cap boundary
    FrameIndex.refreshHot(spark, root, cap)
    val full = PHash.hotFrameHashes(
      FrameIndex.stored(spark, root).select("doc_id", "fhash"), cap)
      .collect().map(_.getLong(0)).sorted.toSeq
    def hotNow() = FrameIndex.hotHashes(spark, root)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(full.size === 1L, "test shape: exactly the shared frame is hot")
    assert(hotNow() === full,
      "dfs-fold hot set must equal the full (doc, fhash) recompute")
    // tear the BACKFILL's delta (crash between the frames and dfs
    // commits of build): the fold must RECOUNT ingest 0 from its
    // frames — trusting the torn per-bucket set would undercount df
    // and silently unguard the hot frame
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/dfs/ingest=0/_SUCCESS"), false), "test setup: tear the delta")
    FrameIndex.refreshHot(spark, root, cap)
    assert(hotNow() === full,
      "torn delta must recount from frames, not undercount df")
    // compaction restores the folded delta and the UPGRADED artifact
    // keeps answering identically
    FrameIndex.compact(spark, root, dfCap = cap)
    assert(hotNow() === full)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/dfs/ingest=0/_SUCCESS")),
      "compaction must re-materialize the folded df delta")
  }

  test("ingestScreenFused == frameContainment ∪ screenAdmitFused, with " +
      "both the df cap and the hot set firing") {
    // the one-candidate-pass screen must reproduce the unfused pair
    // EXACTLY on a corpus engineered so every branch semantic is
    // load-bearing: duplicate payloads (within-intra + content-grain
    // expansion), shared frames across distinct payloads (within-inter),
    // true clips of stored docs (cross, both directions), a stored-hot
    // boilerplate frame in a batch doc (the cross-only hot filter), a
    // frame shared by MORE payload groups than the within df cap (the
    // within-only cap filter), and a redelivered doc_id (the replay
    // anti-join)
    def block(seed: Long): String = {
      val rnd = new scala.util.Random(seed * 2654435761L + 29)
      (0 until 72).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    import spark.implicits._
    import graft.operators.Multimodal
    val hotB = block(-1L)
    val storedDocs = (0 until 10)
      .map(i => i.toLong -> (hotB + block(i))).toDF("doc_id", "text")
    val root = tmpRoot("fused")
    FrameIndex.build(storedDocs, root, stride = 1, dfCap = 5)
    val hot = FrameIndex.hotHashes(spark, root)
    assert(hot.count() === 1L, "test shape: the boilerplate hash is hot")
    val capped = block(999L)
    val batch = (
      // two identical payloads clipping stored doc 3 (intra + cross)
      Seq(100L -> (block(3L) + block(777L)),
          101L -> (block(3L) + block(777L)),
          // shares block(777) with the group above (within-inter)
          102L -> (block(777L) + block(778L)),
          // carries the stored-hot frame: cross must DROP that frame
          // from both n_inter and the denominator, within must KEEP it
          103L -> (hotB + block(4L)),
          // a redelivered id: present in stored, must not match itself
          5L -> (hotB + block(5L))) ++
      // seven distinct payloads sharing one frame — over the within df
      // cap of 5, so the within branch drops it while cross keeps it
      (0 until 7).map(i => (200L + i) -> (capped + block(300L + i)))
    ).toDF("doc_id", "text")
    val sig = PHash.frameSignatures(Multimodal.sampleFrames(
      Multimodal.fromDocuments(batch), PHash.NPix, 1))
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val within = PHash.frameContainment(batch, stride = 1, num = 1,
      den = 2, dfCap = 5)
    val cross = PHashReference.screenAdmitFused(sig,
      FrameIndex.stored(spark, root),
      excludeStored = batch, num = 1, den = 2, hotHashes = Some(hot))
    val unfused = rows(within.unionByName(cross))
    val fused = rows(PHash.ingestScreenFused(batch, sig,
      FrameIndex.stored(spark, root), hot, num = 1, den = 2, dfCap = 5))
    assert(fused === unfused,
      "one-candidate-pass screen diverges from the unfused operators")
    // teeth: every engineered branch actually contributed pairs
    assert(rows(within).nonEmpty && rows(cross).nonEmpty)
    assert(within.filter(col("containment") === 1.0).count() >= 2,
      "intra pairs missing")
    assert(cross.filter(col("doc_a") === 103L)
        .select("doc_b").collect().map(_.getLong(0)).toSeq === Seq(4L),
      "103 must cross-hit exactly stored 4 (its real frame) — the hot " +
        "frame it shares with every stored doc is filtered")
    assert(within.filter(col("doc_a") >= 200L && col("doc_b") >= 200L)
        .count() === 0,
      "the capped frame must not generate within pairs (df 7 > cap 5)")
    assert(cross.filter(col("doc_a") === 5L || col("doc_b") === 5L)
        .count() === 0,
      "a redelivered doc matched its own stored rows (its only non-hot " +
        "frame lives in the excluded stored doc)")
  }

  test("ingestScreenFused == unfused on RANDOM batches (generated " +
      "duplicates, shared frames, redeliveries)") {
    // the constructed-corpus law above pins each engineered branch;
    // this one drives the same identity over generated batches where
    // duplicate payloads, frame sharing, hot overlaps, cap crossings,
    // and redelivered ids arise in arbitrary combinations — the
    // PropertySpec seeded-generator discipline (scalatestplus-
    // scalacheck isn't in the offline cache)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    import graft.operators.Multimodal
    def block(seed: Long): String = {
      val rnd = new scala.util.Random(seed * 2654435761L + 29)
      (0 until 72).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val hotB = block(-1L)
    val storedDocs = (0 until 8)
      .map(i => i.toLong -> (hotB + block(i))).toDF("doc_id", "text")
    val root = tmpRoot("rand")
    FrameIndex.build(storedDocs, root, stride = 1, dfCap = 5)
    val hot = FrameIndex.hotHashes(spark, root)
    val stored = FrameIndex.stored(spark, root)
    // a doc = 1..3 blocks from a 14-block pool (ids 0..7 overlap the
    // stored corpus's evidence frames; 100..105 are batch-only; -1 is
    // the hot frame); doc ids draw from a range overlapping stored ids
    val genDoc: Gen[(Long, String)] = for {
      id <- Gen.choose(0L, 40L)
      n <- Gen.choose(1, 3)
      bs <- Gen.listOfN(n, Gen.oneOf(
        (0L until 8L) ++ (100L to 105L) :+ (-1L)))
    } yield (id, bs.map(block).mkString)
    val genBatch: Gen[List[(Long, String)]] =
      Gen.choose(4, 12).flatMap(sz => Gen.listOfN(sz, genDoc))
        // one doc_id = one payload (the ingest contract): keep the
        // first draw per id
        .map(_.groupBy(_._1).map(_._2.head).toList)
    (1 to 5).foreach { i =>
      val docs = genBatch(Gen.Parameters.default, Seed(i.toLong)).get
      val batch = docs.toDF("doc_id", "text")
      val sig = PHash.frameSignatures(Multimodal.sampleFrames(
        Multimodal.fromDocuments(batch), PHash.NPix, 1))
        .localCheckpoint(true)
      val unfused = PHash.frameContainment(batch, stride = 1, num = 1,
          den = 2, dfCap = 3)
        .unionByName(PHashReference.screenAdmitFused(sig, stored,
          excludeStored = batch, num = 1, den = 2,
          hotHashes = Some(hot)))
        .collect().map(_.toString).sorted.toSeq
      val fused = PHash.ingestScreenFused(batch, sig, stored, hot,
          num = 1, den = 2, dfCap = 3)
        .collect().map(_.toString).sorted.toSeq
      assert(fused === unfused, s"fused != unfused on random batch $i")
    }
  }

  test("a compaction swap torn mid-rename heals on the next exists()") {
    val m5 = pmod(col("doc_id"), lit(5))
    val root = tmpRoot("torn")
    FrameIndex.build(docs.filter(m5 =!= 0 && m5 =!= 4), root)
    FrameIndex.append(docs.filter(m5 === 4), root, ingestId = 1)
    FrameIndex.compact(spark, root)
    val beforeAns = screen(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val staging = graft.util.IndexStore.stagingPath(rootP)
    assert(fs.rename(rootP, staging), "test setup: rename to staging")
    assert(FrameIndex.exists(spark, root),
      "torn swap read as 'no index' instead of healing")
    assert(screen(root) === beforeAns, "healed index answers differently")
  }
}
