package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import graft.operators.{PHash, PHashIndex}

/** The phash-index-at-rest contract — the FIFTH stored index's
  * lifecycle laws (DedupIndexSpec / FrameIndexSpec / AnnIndexSpec are
  * the siblings): queryBatch ≡ the brute-force hamming screen (recall
  * is EXACT by pigeonhole, so this is equality, not a recall bound),
  * append ≡ rebuild, replay exactly-once, the broadcast and shuffle
  * branches bit-equal, the ingest pair pass streaming the stored rows
  * under a broadcast batch, compaction preserves answers while folding the layout,
  * and the high-water mark refuses folded replays.
  *
  * The shared fixtures can't drive this family (their texts are all
  * hamming-distant — the near-dup structure only appears at replica
  * bench tiers), so the corpus here is CONSTRUCTED: 20 base payloads ×
  * 5 identical replicas (hamming 0 — the dominant real population, a
  * re-posted image) plus one 1-char-nudged variant per base (a 144-char
  * payload maps 2 chars per pixel, so one nudge moves one pixel and
  * flips ≤ 2 dHash bits — the re-encoded near-dup population). */
class PHashIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def broadcastJoins(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }

  /** Exchanges (shuffle or broadcast) of an executed plan that have a
    * scan of the stored band table below them. */
  private def exchangesOverStore(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      .filter(e => collect(e) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(
              _.toString.contains("/sigs/ingest=")) => s
      }.nonEmpty)

  private def tmpRoot(tag: String): String = new java.io.File(
    java.nio.file.Files.createTempDirectory(s"graft_phidx_$tag").toFile,
    "idx").toString

  private def payload(seed: Int): String = {
    val rnd = new scala.util.Random(seed * 7919 + 13)
    (0 until 144).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }

  /** ids 0–99: payload(id / 5) (5 CONSECUTIVE ids per base, so every
    * replica group straddles the %5 split the tests query across);
    * ids 100–119: the base payload with one char bumped (hamming ≤ 2
    * of its group). */
  private lazy val corpus = {
    val reps = (0 until 100).map(i => (i.toLong, payload(i / 5)))
    val near = (0 until 20).map { b =>
      val p = payload(b)
      // move pixel 30 (payload chars 60–61, 2 bytes/pixel) to an
      // extreme: flips 1–2 of its dHash comparisons — hamming 1–2 of
      // the base, never > 3 (one pixel touches two comparisons)
      val hi = (p(60) + p(61)) / 2 >= 'n'
      val c = if (hi) 'a' else 'z'
      (100L + b, p.updated(60, c).updated(61, c))
    }
    (reps ++ near).toDF("doc_id", "text").localCheckpoint(true)
  }

  /** Brute-force truth: directed (batch_doc, corpus_doc, hamming ≤ 3)
    * pairs across a doc_id-predicate split, from the SAME signatures
    * the engine computes — collected once, joined driver-side. */
  private def brute(batchPred: Long => Boolean,
                    corpusPred: Long => Boolean): Seq[(Long, Long, Long)] = {
    val sigs = PHash.signatures(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    for {
      (da, pa) <- sigs if batchPred(da)
      (db, pb) <- sigs if corpusPred(db)
      h = java.lang.Long.bitCount(pa ^ pb).toLong if h <= 3
    } yield (da, db, h)
  }.sorted

  private def ask(root: String, pred: org.apache.spark.sql.Column)
      : Seq[(Long, Long, Long)] =
    PHashIndex.queryBatch(spark, root, corpus.filter(pred))
      .as[(Long, Long, Long)].collect().toSeq.sorted

  test("queryBatch == brute-force hamming screen (exact recall), " +
      "fixture exercises hamming 0 and 1-2 populations") {
    val m5 = pmod(col("doc_id"), lit(5L))
    val root = tmpRoot("q")
    PHashIndex.build(corpus.filter(m5 =!= 0), root)
    val got = ask(root, m5 === 0)
    val want = brute(_ % 5 == 0, _ % 5 != 0)
    assert(want.nonEmpty, "constructed corpus produced no near pairs")
    assert(want.exists(_._3 == 0L) && want.exists(_._3 > 0L),
      "fixture must exercise both exact-dup and near-dup hamming")
    assert(got === want)
  }

  test("append == rebuild; replaying a committed ingest changes nothing") {
    val m5 = pmod(col("doc_id"), lit(5L))
    val split = tmpRoot("apsplit")
    PHashIndex.build(corpus.filter(m5 === 1 || m5 === 2), split)
    PHashIndex.append(corpus.filter(m5 === 3), split, ingestId = 1)
    PHashIndex.append(corpus.filter(m5 === 4), split, ingestId = 2)
    val one = tmpRoot("apone")
    PHashIndex.build(corpus.filter(m5 =!= 0), one)
    assert(ask(split, m5 === 0) === ask(one, m5 === 0),
      "stored answers depend on how admissions were batched")
    val before = ask(split, m5 === 0)
    PHashIndex.append(corpus.filter(m5 === 4), split, ingestId = 2)
    assert(ask(split, m5 === 0) === before, "replay changed the index")
  }

  test("shuffle branch (corpus-scale batch) ≡ broadcast branch") {
    // at fixture scale Catalyst broadcasts the batch; forcing both
    // thresholds to −1 takes the branch a corpus-scale batch takes, and
    // it must answer bit-for-bit the same with no broadcast join left
    val m5 = pmod(col("doc_id"), lit(5L))
    val root = tmpRoot("gate")
    PHashIndex.build(corpus.filter(m5 =!= 0), root)
    // collect each DataFrame itself: its executed plan is the one read
    def run(): (DataFrame, Seq[String]) = {
      val df = PHashIndex.queryBatch(spark, root, corpus.filter(m5 === 0))
      (df, df.collect().map(_.toString).sorted.toSeq)
    }
    val (bcast, bc) = run()
    assert(broadcastJoins(bcast).nonEmpty, "no broadcast branch")
    val (shuf, sh) = shuffleBranch(run())
    assert(bc.nonEmpty && bc === sh, "the two branches diverge")
    assert(broadcastJoins(shuf).isEmpty,
      s"shuffle branch still broadcasts:\n${shuf.queryExecution.executedPlan}")
  }

  test("the ingest pair pass on a cached batch broadcasts it: " +
      "no exchange above the stored scan") {
    // the ingest appends first, which fills the batch cache; the pair
    // pass is then planned on the measured size and must stream the
    // stored band rows under a broadcast of the batch's
    val m5 = pmod(col("doc_id"), lit(5L))
    val root = tmpRoot("shape")
    PHashIndex.build(corpus.filter(m5 =!= 0), root)
    val rows = PHashIndex.sigRows(corpus.filter(m5 === 0)).persist()
    try {
      rows.count() // fills the cache, as the ingest's append does
      val p = PHashIndex.ingestPairs(spark, root,
        PHashIndex.committedIngests(spark, root), rows)
      assert(p.collect().nonEmpty)
      val plan = p.queryExecution.executedPlan
      assert(broadcastJoins(p).nonEmpty, s"pair pass broadcasts nothing:\n$plan")
      assert(exchangesOverStore(p).isEmpty,
        s"pair pass moves the stored band rows:\n$plan")
    } finally rows.unpersist()
  }

  test("compact: answers preserved, ingests fold to one file set, " +
      "folded replays refused (HWM)") {
    val m5 = pmod(col("doc_id"), lit(5L))
    val root = tmpRoot("cpt")
    PHashIndex.build(corpus.filter(m5 === 1 || m5 === 2), root)
    PHashIndex.append(corpus.filter(m5 === 3), root, ingestId = 1)
    PHashIndex.append(corpus.filter(m5 === 4), root, ingestId = 2)
    val before = ask(root, m5 === 0)
    assert(before.nonEmpty)
    PHashIndex.compact(spark, root)
    assert(ask(root, m5 === 0) === before,
      "compaction changed the answers")
    val ingests = new java.io.File(s"$root/sigs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest="))
    assert(ingests.map(_.getName).toSeq == Seq("ingest=0"),
      s"fold left ${ingests.map(_.getName).mkString(",")}")
    val e = intercept[IllegalArgumentException] {
      PHashIndex.append(corpus.filter(m5 === 4), root, ingestId = 2)
    }
    assert(e.getMessage.contains("folded"))
  }

  test("append to a root with no index is refused and writes nothing") {
    val root = tmpRoot("unbuilt")
    val e = intercept[IllegalArgumentException] {
      PHashIndex.append(corpus, root, ingestId = 1)
    }
    assert(e.getMessage.contains("build the backfill first"), e.getMessage)
    assert(!new java.io.File(root).exists, "a refused append wrote into the root")
    assert(!PHashIndex.exists(spark, root))
  }
}
