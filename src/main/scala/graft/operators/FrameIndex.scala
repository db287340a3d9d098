package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.IndexStore

/** The frame-hash index AT REST with the full maintenance lifecycle —
  * the fourth stored index to get it (DedupIndex, InvertedIndex,
  * AnnIndex are the siblings), closing the video-modality loop:
  * [[PHash.screenFrames]] answers "is this upload a clip of a stored
  * video?" against THIS artifact, and an accepted upload is then
  * ADMITTED to it ([[append]]) so the next upload screens against a
  * corpus that grew — the screen-then-admit loop a video platform runs
  * forever (the DedupIndex continuous-dedup shape at frame grain).
  *
  * Storage: one table (`frames/`) of DISTINCT (doc_id, fhash) rows,
  * hive-partitioned
  * by `ingest` (0 = the backfill, 1… = streamed admissions), each
  * partition fhash-sorted for row-group stats. One table ⇒ appends
  * commit atomically under the Hadoop job-commit protocol (no two-table
  * torn-append window; contrast InvertedIndex.committedBatches).
  * Screening reads ALL ingest partitions — a probe never cares which
  * wave admitted a video — so accumulated small ingest files degrade
  * every probe at flat row volume: [[compact]] folds them into ingest-0
  * under the shared at-rest protocol ([[graft.util.IndexStore]]: commit
  * markers, crash-safe swap, and a high-water mark that refuses
  * re-appends of folded ingests — streaming callers skip those
  * idempotently).
  */
object FrameIndex {

  private def framesDir(root: String) = s"$root/frames"
  private def hotDir(root: String) = s"$root/hot"
  private def dfsDir(root: String) = s"$root/dfs"

  private[graft] val FramesSchema =
    "doc_id BIGINT, fhash BIGINT, n_fr BIGINT, ingest BIGINT"
  private[graft] val DfsSchema = "fhash BIGINT, df BIGINT, ingest BIGINT"
  private[graft] val HotSchema = "fhash BIGINT"

  /** True iff an index exists under `root`; heals a torn compaction
    * swap first (util.IndexStore). */
  def exists(s: SparkSession, root: String): Boolean =
    IndexStore.exists(s, root, framesDir(root))

  /** Highest ingest id folded into ingest 0 by [[compact]] (−1 before
    * any compaction). [[append]] refuses ids at or below it: a
    * re-delivered already-folded ingest would store its frame rows
    * twice and double-count n_inter at screen time. */
  def compactedThrough(s: SparkSession, root: String): Long =
    IndexStore.compactedThrough(s, root)

  /** Ingest ids whose partition carries its commit marker. A crashed
    * append leaves an `ingest=` dir without it: trusting the bare
    * listing would raise the compaction high-water mark past that
    * UNCOMMITTED batch, and the streaming face would then skip its
    * redelivery as "already folded" — the batch's frame rows silently
    * lost forever. [[compact]]/[[stored]] read only this set. */
  private def committedIngests(s: SparkSession, root: String): Seq[Long] =
    IndexStore.committed(s, framesDir(root))

  /** (doc_id, fhash, n_fr) — the doc's distinct frame hashes plus its
    * TOTAL distinct-frame count denormalized onto every row. Storing
    * n_fr with the postings is what lets a screen grade containment in
    * BOTH directions (a stored clip inside a new longer upload needs
    * the STORED doc's denominator) without ever re-aggregating the
    * corpus per batch — the join row already carries it. */
  private case class SigSet(withN: DataFrame, dfDelta: DataFrame)

  private def signatures(docs: DataFrame, frameBytes: Int,
                         stride: Int): SigSet = {
    // fused kernel pass (PHash.frameSignaturesFused discipline): the
    // per-doc distinct-frame count is size() of the kernel's array —
    // functionally dependent on the doc — so n_fr rides the explode
    // and the old per-doc count aggregation + re-attach join are gone
    val sig = docs.select(col("doc_id"),
        graft.functions.PHashExprs.frameHashSet(
          col("text").cast("binary"), frameBytes, stride).as("fhs"))
      .select(col("doc_id"), explode(col("fhs")).as("fhash"),
        size(col("fhs")).cast("long").as("n_fr"))
      .localCheckpoint(true) // feeds the rows + df delta
    SigSet(
      sig,
      // this ingest's df contribution — (doc_id, fhash) is distinct
      // within the batch, so count(1) per fhash is its distinct-doc df
      sig.groupBy("fhash").agg(count(lit(1)).as("df")))
  }

  /** Persist one ingest's (fhash, df) delta beside its frame rows. The
    * stored deltas are what makes [[refreshHot]] INCREMENTAL: docs
    * are distinct across ingests (the append contract), so corpus
    * df(h) = Σ per-ingest df(h) — the InvertedIndex dictionary
    * argument at frame grain — and the hot set folds from these
    * hash-grain tables instead of re-aggregating every stored
    * (doc, fhash) posting (the full re-aggregation that moved
    * q_frame_index_backfill 18.1 → 33.9 s at the 100× tier when the
    * df-cap guard landed). WHO writes it: [[build]] (the corpus-sized
    * backfill, from the already-checkpointed signature frame) and
    * [[compact]] (the fold) — NOT [[append]]: streamed micro-batches
    * stay delta-less (see the note there) and [[dfTable]] recounts
    * them from their own batch-sized frames partitions. Written AFTER
    * the frames partition commits: a crash in the window leaves a
    * complete index whose fold recounts, never a wrong one. */
  private def writeDfs(dfDelta: DataFrame, root: String,
                       ingestId: Long): Unit =
    IndexStore.write(byHash(dfDelta), dfsDir(root), "ingest", ingestId)

  /** Corpus-wide (fhash, df) across every committed frame ingest:
    * stored deltas where present, a recount from the frames partition
    * for any ingest lacking one (crash window, pre-dfs artifact) —
    * exact either way, hash-grain work in the common case. */
  private def dfTable(s: SparkSession, root: String): DataFrame = {
    val frames = committedIngests(s, root)
    // a torn delta (no marker) reads as absent, not as an undercount
    // baked into the hot set
    val have = IndexStore.committed(s, dfsDir(root)).toSet intersect
      frames.toSet
    val missing = frames.filterNot(have)
    val fromDfs =
      if (have.isEmpty) None
      else Some(IndexStore.read(s, dfsDir(root), DfsSchema, "ingest",
          have.toSeq.sorted).select("fhash", "df"))
    val fromFrames =
      if (missing.isEmpty) None
      else Some(IndexStore.read(s, framesDir(root), FramesSchema, "ingest",
          missing).groupBy("fhash").agg(count(lit(1)).as("df")))
    (fromDfs ++ fromFrames).reduceOption(_ unionByName _)
      .map(_.groupBy("fhash").agg(sum("df").as("df")))
      .getOrElse(s.emptyDataFrame
        .select(lit(0L).as("fhash"), lit(0L).as("df")).limit(0))
  }

  /** Rows RANGE-partitioned on fhash and sorted within each file, so a
    * corpus-scale ingest spreads over many files whose row-group
    * min/max stats cover disjoint hash ranges. */
  private def byHash(rows: DataFrame): DataFrame =
    rows.repartitionByRange(col("fhash")).sortWithinPartitions("fhash")

  /** Build the backfill (ingest 0) from the reference corpus, wiping any
    * previous artifact under `root` first. */
  def build(docs: DataFrame, root: String,
            frameBytes: Int = PHash.NPix, stride: Int = 2,
            dfCap: Long = PHash.DefaultFrameDfCap): Unit = {
    IndexStore.wipe(docs.sparkSession, root)
    val sig = signatures(docs, frameBytes, stride)
    IndexStore.write(byHash(sig.withN), framesDir(root), "ingest", 0L)
    writeDfs(sig.dfDelta, root, 0L)
    refreshHot(docs.sparkSession, root, dfCap)
  }

  /** Materialize the corpus's hot-hash set (hashes in more than dfCap
    * distinct stored docs — boilerplate, so tiny) under `hot/`. Run at
    * [[build]] and [[compact]] time so every per-batch screen gets the
    * guard as a broadcast. INCREMENTAL since r17: the df counts fold
    * from the per-ingest [[writeDfs]] deltas (hash-grain tables, docs
    * distinct across ingests ⇒ dfs sum exactly) instead of
    * re-aggregating every stored (doc, fhash) posting — the full
    * re-aggregation was most of q_frame_index_backfill's 18.1 → 33.9 s
    * regression at the 100× tier; an ingest missing its delta (crash
    * window, pre-dfs artifact) is recounted from its own frames
    * partition, so the fold is exact either way (hot ≡ full-recompute
    * law in FrameIndexSpec). Between compactions the set is stale by
    * at most the appended waves' df contributions (a hash can only
    * become HOTTER; screens are uncapped on it until the next fold —
    * bounded, and the fixture never reaches any cap at all). */
  def refreshHot(s: SparkSession, root: String, dfCap: Long): Unit =
    dfTable(s, root).filter(col("df") > dfCap).select("fhash")
      .coalesce(1)
      .write.mode("overwrite").parquet(hotDir(root))

  /** The stored hot-hash set (empty frame if the artifact is missing —
    * a crash between the frames write and [[refreshHot]] leaves a
    * usable, merely uncapped, index). Callers pass it to
    * [[PHash.screenFrames]] and [[PHash.ingestScreenFused]]. */
  def hotHashes(s: SparkSession, root: String): DataFrame = {
    if (IndexStore.isCommitted(s, hotDir(root)))
      // static schema: the artifact layout is ours, and schema inference
      // is a footer-reading Spark job the streaming screen would pay
      // EVERY micro-batch
      s.read.schema(HotSchema).parquet(hotDir(root))
    else
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fhash",
            org.apache.spark.sql.types.LongType))))
  }

  /** Admit a batch of accepted uploads under its own immutable
    * `ingest=` partition (util.IndexStore.write: one write, committed
    * by its marker). A
    * replayed ingest id overwrites only its own directory, so replay
    * is exactly-once;
    * ids at or below the compaction high-water mark are refused — the
    * streaming face skips them instead
    * ([[graft.streaming.Streams.frameIndexIngest]]). */
  def append(docs: DataFrame, root: String, ingestId: Long,
             frameBytes: Int = PHash.NPix, stride: Int = 2): Unit = {
    IndexStore.requireAppendable(docs.sparkSession, root, framesDir(root),
      ingestId)
    IndexStore.write(byHash(signatures(docs, frameBytes, stride).withN),
      framesDir(root), "ingest", ingestId)
    // NO df delta at append — the InvertedIndex discipline: a second
    // committed write PER MICRO-BATCH is the one cost a streaming
    // ingest pays forever (s_frame_index_ingest measured it well
    // beyond the ambient band), while [[dfTable]]'s fold recounts
    // delta-less ingests from their own batch-sized frames partitions
    // for free at maintenance cadence; [[compact]] folds them into
    // the single stored delta.
  }

  /** [[append]] for the MICRO-BATCH ingest path: takes the batch's
    * already-computed (doc_id, fhash) signature set (the one signature
    * pass [[graft.streaming.Streams.frameIndexIngest]] shares across
    * screen + containment + admit) instead of re-sampling the payloads,
    * and writes ONE fhash-sorted file — a trigger-bounded batch never
    * needs the range spread (its sampling job + up-to-shuffle.partitions
    * files per ingest were per-batch costs the probe measured), and one
    * file per admission wave is exactly what [[compact]]'s fold cadence
    * is sized against. Stored rows are row-identical to [[append]] on
    * the same docs (n_fr re-derived from the same distinct set;
    * FrameIndexSpec pins the law). */
  def appendSig(sig: DataFrame, root: String, ingestId: Long): Unit = {
    IndexStore.requireAppendable(sig.sparkSession, root, framesDir(root),
      ingestId)
    // n_fr as a window over the single coalesced partition: the
    // aggregate+self-join form paid a shuffle plus a broadcast build
    // per micro-batch for a value the one-partition window computes in
    // the write task itself (same rows — n_fr is the doc's distinct
    // frame count either way; the one-file-per-wave layout already
    // forced coalesce(1))
    IndexStore.write(sig.coalesce(1)
      .withColumn("n_fr", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .sortWithinPartitions("fhash"), framesDir(root), "ingest", ingestId)
  }

  /** The stored (doc_id, fhash, n_fr) rows across every COMMITTED
    * ingest — what [[PHash.screenFrames]] / [[PHash.ingestScreenFused]]
    * screen against. Restricted to committed partitions (a static
    * partition filter — pruned at listing time, no data read): a
    * crashed append's partial rows would otherwise screen with a wrong
    * n_inter until the replay overwrote them. */
  def stored(s: SparkSession, root: String): DataFrame =
    IndexStore.read(s, framesDir(root), FramesSchema, "ingest",
      committedIngests(s, root)).select("doc_id", "fhash", "n_fr")

  /** Fold every ingest partition into a single ingest-0 set — the
    * periodic maintenance step of the screen-then-admit loop. Frame
    * rows are preserved exactly (each ingest holds distinct docs, so
    * the union is already distinct) ⇒ every screen answers identically
    * before and after (pinned in FrameIndexSpec); only the layout
    * changes, for the better: one range-partitioned fhash-sorted file
    * set instead of one per admission wave. Staged write + two-rename
    * swap (util.IndexStore); a crash at any point heals inside
    * [[exists]]. */
  def compact(s: SparkSession, root: String,
              dfCap: Long = PHash.DefaultFrameDfCap): Unit = {
    require(exists(s, root), s"no frame index under $root")
    IndexStore.compact(s, root, committedIngests(s, root)) { staging =>
      IndexStore.write(byHash(stored(s, root)), framesDir(staging), "ingest",
        0L)
      // the folded artifact carries ONE folded df delta (sum of the
      // per-ingest deltas; recount fallback inside dfTable) so future
      // appends keep folding hash-grain — a compaction UPGRADES a
      // pre-dfs artifact the same way InvertedIndex.compact does
      writeDfs(dfTable(s, root), staging, 0L)
      refreshHot(s, staging, dfCap) // fold cadence = hot-set refresh cadence
    }
  }
}
