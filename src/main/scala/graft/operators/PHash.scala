package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perceptual-hash (dHash) dedup over OPAQUE BINARY payloads — the dedup
  * family's image-modality face. The first operator here that derives a
  * decision from payload CONTENT, not metadata: the payload byte stream
  * is treated as a grayscale raster, box-filter-downsampled to a 9×8
  * pixel grid (the classic dHash resize), and hashed by comparing each
  * pixel to its right neighbor — 8 rows × 8 comparisons. Near-duplicate
  * images (re-encoded, brightness-shifted, lightly cropped) keep most
  * comparisons stable, so near-dups land at small hamming distance
  * exactly like SimHash text signatures do.
  *
  * The "decode" (bytes → pixel grid) is the stub slot: this container
  * has no image codecs, so pixels are integer block-averages of the raw
  * payload bytes — a real deployment swaps in libjpeg decode + true
  * resize AT THE SAME SEAM (one pure column expression per row; the
  * hash, banding, and clustering downstream are codec-agnostic). On the
  * fixture the payload is the utf-8 text bytes (the q_multimodal_binary
  * convention), which keeps the whole pipeline SQL-oracle-able: DuckDB
  * computes the identical pixels/hash from the same bytes.
  *
  * 63 bits, not 64: bit i (i = row·8 + col, i ≤ 62) is set iff
  * pixel[row·9+col] < pixel[row·9+col+1]; the last comparison (row 7,
  * col 7) is dropped so the hash stays non-negative — DuckDB's BIGINT
  * left shift is overflow-CHECKED at bit 63 (`1::BIGINT << 63` errors),
  * and one bit of a 64-bit perceptual hash is noise. Hamming semantics
  * are unchanged; SimHash's 16-bit banding still gives exact recall for
  * hamming ≤ 3 by pigeonhole (63 differing bits still span ≤ 3 bands).
  *
  * Scale design: the signature is a pure map-side expression (no
  * shuffle, whole-stage-codegen'd); clustering reuses
  * [[SimHash.clustersFromSignatures]] — banded equi-join candidates at
  * DISTINCT-signature grain, exact hamming verify, rep-grain CC
  * fixpoint, membership join-back. Identical payloads (the dominant
  * duplicate population: same image re-posted) share one signature, so
  * all pair work is per distinct image, constant in the duplication
  * factor.
  */
object PHash {

  /** Pixel-grid geometry: 9 columns × 8 rows (dHash compares across the
    * 9 columns to emit 8 bits per row). */
  val Cols = 9
  val Rows = 8
  val NPix: Int = Cols * Rows // 72

  /** Column: the payload byte-value array from a STRING payload column
    * (ascii bytes — the fixture payloads are ascii text standing in for
    * image bytes). Kept as its OWN projection by callers so the O(n)
    * split runs once per row, not once per pixel (CollapseProject does
    * not inline a non-cheap alias referenced 72 times). */
  def byteValues(textCol: String): Column =
    expr(s"transform(split($textCol, ''), c -> ascii(c))")

  /** Column: the 72-entry pixel array from a byte-value array column.
    * pixel p = integer mean of the byte segment [p·n/72, (p+1)·n/72);
    * empty segments (payload shorter than 72 bytes) read as 0. All
    * quantities are non-negative, so Spark `div` ≡ DuckDB `//` (the
    * floor-vs-truncate divergence never fires). */
  def pixels(bytesCol: String): Column = expr(
    s"""transform(sequence(0, ${NPix - 1}), p -> CASE
          WHEN ((p+1) * size($bytesCol)) div $NPix
             - (p * size($bytesCol)) div $NPix >= 1
          THEN aggregate(
                 slice($bytesCol,
                       cast((p * size($bytesCol)) div $NPix + 1 as int),
                       cast(((p+1) * size($bytesCol)) div $NPix
                            - (p * size($bytesCol)) div $NPix as int)),
                 cast(0 as bigint), (a, x) -> a + x)
               div (((p+1) * size($bytesCol)) div $NPix
                    - (p * size($bytesCol)) div $NPix)
          ELSE cast(0 as bigint) END)""".replaceAll("\\s+", " "))

  /** Column: the 63-bit dHash from a pixel-array column. */
  def dhash(px: Column): Column =
    (0 until 63).map { i =>
      val r = i / 8; val c = i % 8
      when(element_at(px, r * Cols + c + 1) <
           element_at(px, r * Cols + c + 2), lit(1L << i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** (doc_id, phash) — one pure map-side pass, no shuffle, via the
    * codegen kernel (functions.PHashExprs.dhashString: one tight loop
    * per row over the payload bytes). The [[byteValues]]/[[pixels]]/
    * [[dhash]] column builders above remain the executable geometry
    * SPEC — the kernel is pinned value-identical to their stacked
    * projection in PHashSpec (which at ~3.5 KB/doc materialized an
    * n-element string array per row and was the signature pass's
    * actual cost, ~50 µs/doc at the 100× tier). */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.PHashExprs.dhashString(col(textCol)).as("phash"))

  /** Decision frame (doc_id, phash, cluster_id, is_keeper): connected
    * components over the hamming-≤-maxHamming perceptual-hash graph,
    * keeper = min doc_id of the component — SimHash's signature-grain
    * machinery verbatim, with the dHash as the signature. */
  def clusters(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", b: Int = 4,
               maxHamming: Int = 3): DataFrame = {
    val sig = signatures(docs, idCol, textCol).localCheckpoint(true)
    SimHash.clustersFromSignatures(
        docs.select(col(idCol).as("doc_id")),
        sig.select(col("doc_id"), col("phash").as("simhash")),
        b, maxHamming)
      .join(sig, Seq("doc_id"))
      .select("doc_id", "phash", "cluster_id", "is_keeper")
  }

  /** Column: the byte-value array (0–255, unsigned) of a BINARY column,
    * byte-faithful for arbitrary payloads: hex() then one base-16 parse
    * per byte pair. The whole-payload path's [[byteValues]] goes through
    * split+ascii on a STRING column, which is only faithful for ascii
    * payloads — fine there (the fixture contract), but the frame-grain
    * API hands a real decoder's raw bytes through [[SampledFrame]], and
    * a string round-trip would corrupt any non-UTF8 byte into a
    * replacement char before hashing. Callers project the hex string as
    * its own alias first so the O(n) hex() runs once per row, not once
    * per byte. */
  def binaryByteValues(hexCol: String): Column =
    expr(s"""transform(sequence(1, length($hexCol) div 2),
               i -> cast(conv(substr($hexCol, cast(2*i-1 as int), 2),
                              16, 10) as bigint))"""
      .replaceAll("\\s+", " "))

  /** Per-frame dHash signature SET — (doc_id, fhash) DISTINCT — from
    * sampled frames: the video-modality analog of [[signatures]]. Each
    * frame's content bytes are hashed with the SAME 9×8 grid + dHash as
    * the whole-payload path (a 72-byte frame makes each pixel exactly
    * one byte, so the generic block-average math reduces to identity —
    * reused anyway so the two grains cannot drift), but the bytes are
    * read DIRECTLY from the binary frame ([[binaryByteValues]]) so a
    * real ffmpeg decoder's non-ascii pixel bytes hash faithfully — the
    * SQL oracle twin stays ascii-constrained (it recomputes frames from
    * the text column), which the fixture payloads satisfy by contract.
    * DISTINCT because containment is a SET predicate: a frame repeated
    * within one doc (a looped intro) is one element of the doc's
    * frame-hash set. Pure map-side until the distinct's single
    * shuffle. */
  def frameSignatures(frames: org.apache.spark.sql.Dataset[SampledFrame])
      : DataFrame =
    frames.toDF()
      .select(col("doc_id"),
        graft.functions.PHashExprs.dhashBytes(col("frame")).as("fhash"))
      .distinct()

  /** [[frameSignatures]] FUSED to one kernel pass over the payload
    * column (functions.FrameHashSet): windowing, per-frame dHash,
    * within-payload dedup and (optionally) hot-hash exclusion run
    * inside PHashKernel, so the signature pass is map-side — no typed
    * Dataset ser/de, no per-frame allocation, and the (doc_id, fhash)
    * DISTINCT costs no exchange (it factors exactly over doc rows).
    * Law-pinned row-identical to the Dataset pipeline in PHashSpec. */
  def frameSignaturesFused(docs: DataFrame, frameBytes: Int = NPix,
                           stride: Int = 2,
                           exclude: Array[Long] = Array.emptyLongArray)
      : DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.PHashExprs.frameHashSet(
        col("text").cast("binary"), frameBytes, stride, exclude))
        .as("fhash"))

  /** DIRECTED frame-grain containment pairs — the video-analog of
    * [[graft.queries.CorpusOps]]'s q_dedup_containment (sub-document →
    * sub-SEQUENCE duplication): doc_a is reported against doc_b when
    * ≥ num/den of doc_a's distinct frame hashes also occur in doc_b —
    * a clip whose sampled frames all appear inside a longer video is a
    * contained duplicate even though whole-payload hashes differ
    * completely. Composes [[Multimodal.sampleFrames]] (the 1→N decoder
    * fan-out; a real deployment swaps ffmpeg seek+decode into that
    * iterator and per-frame dHash here is unchanged) with the
    * [[frameSignatures]] set and one equi-join on the frame hash.
    *
    * Scale shape: content grain + equi-join candidates. Sampling,
    * hashing, and all pair work run once per DISTINCT payload (a
    * re-posted video is free — see the body comment); candidates come
    * ONLY from the fhash equi-join, so pair work is Σ df(h)² over
    * distinct frame hashes at distinct-payload grain, never corpus² —
    * the MinHashLSH band-join discipline. The one hash population that
    * breaks that bound on a real video corpus is HOT frames (black
    * frames, title cards, station idents): one hash at df 10⁶ alone
    * costs 10¹² join rows. So a document-frequency cap is WIRED into
    * the pair path (`dfCap`, default [[DefaultFrameDfCap]]): hashes
    * shared by more than dfCap distinct payloads are dropped from the
    * signature sets — from the intersection AND the n_fr denominator,
    * consistently — before any join, bounding pair work per hash at
    * dfCap² (exactly PrefixFilter's df-ordering argument: a frame
    * everyone shares carries no dedup evidence; it IS the boilerplate
    * population). A payload whose every frame is hot becomes frameless
    * and stays a singleton. The fixture's max frame-df is 4 ≪ the
    * default cap, so declared keys are byte-identical to the uncapped
    * semantics and the SQL oracle needs no cap clause; the capped
    * behavior is law-pinned in PHashSpec. frame_sum/offset never leave
    * the signature projection, so the fan-out columns prune at the
    * scan. */
  /** The content-grain frame machinery shared by [[frameContainment]]
    * and [[frameClusters]]: payload groups, rep-grain signatures and
    * sizes, and the directed rep-grain containment pairs. */
  private case class FrameGrain(groups: DataFrame, sizes: DataFrame,
                                repPairs: DataFrame)

  /** Hashes shared by more than this many DISTINCT payloads are
    * boilerplate (black frames, title cards), not dedup evidence — the
    * frame family's pair joins drop them (see [[frameContainment]]).
    * Any value ≫ the fixture's max frame-df of 4 leaves declared-key
    * results byte-identical; 1000 bounds per-hash pair work at 10⁶
    * rows on a real corpus. */
  val DefaultFrameDfCap = 1000L

  /** The hot-hash set of a stored (doc_id, fhash) signature relation:
    * hashes occurring in more than dfCap distinct docs. Tiny by
    * construction (the boilerplate population), so callers broadcast
    * it; [[graft.operators.FrameIndex]] materializes it at rest at
    * build/compact time so screens never re-aggregate the corpus. */
  def hotFrameHashes(sig: DataFrame, dfCap: Long = DefaultFrameDfCap)
      : DataFrame =
    sig.groupBy("fhash").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("fhash")

  private def frameGrain(docs: DataFrame, frameBytes: Int, stride: Int,
                         num: Int, den: Int,
                         dfCap: Long = DefaultFrameDfCap): FrameGrain = {
    // CONTENT grain (the DedupOps.grainedNearDup discipline): identical
    // payloads — the dominant duplicate population, a re-posted video —
    // share one frame-signature set, so sampling, hashing, and ALL pair
    // work run once per distinct payload; ordered doc pairs expand from
    // narrow membership joins. Doc grain would pay df² per frame hash
    // on every copy of a hot payload (100 replicas ⇒ 10,000 join rows
    // per hash) for pairs whose containment is 1.0 by identity.
    val g = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep"),
           collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true)
    // hot-hash df cap BEFORE any pair work: one window count on the
    // same fhash key the pair join shuffles on; a hash at rep-grain
    // df > dfCap leaves the signature sets entirely (intersection AND
    // n_fr denominator — consistent containment semantics). Never
    // fires on the fixture (max df 4); bounds Σ df² at dfCap² per hash
    // on a real corpus.
    val sig = frameSignaturesFused(
        g.select(col("rep").as("doc_id"), col("text")), frameBytes, stride)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fhash")))
      .filter(col("df") <= dfCap).drop("df")
      .localCheckpoint(true) // feeds sizes + both join sides
    val sizes = sig.groupBy("doc_id").agg(count(lit(1)).as("n_fr"))
    val shared = sig.as("a")
      .join(sig.as("b"), col("a.fhash") === col("b.fhash") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val repPairs = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fr").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fr").as("n_b")),
        Seq("doc_b"))
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        round(col("n_inter").cast("double") / col("n_a").cast("double"), 6)
          .as("containment"))
    FrameGrain(g, sizes, repPairs)
  }

  def frameContainment(docs: DataFrame, frameBytes: Int = NPix,
                       stride: Int = 2, num: Int = 4, den: Int = 5,
                       dfCap: Long = DefaultFrameDfCap)
      : DataFrame = {
    val fg = frameGrain(docs, frameBytes, stride, num, den, dfCap)
    val (g, sizes, repPairs) = (fg.groups, fg.sizes, fg.repPairs)
    // narrow (rep, doc_id) membership — never the member array carried
    // per intermediate row (quadratic memory on a hot group)
    val m = g.select(col("rep"), explode(col("members")).as("doc_id"))
    // intra-group: identical payloads with ≥ 1 frame contain each other
    // exactly (n_a = n_b = n_inter = the group's frame-set size); the
    // sizes join keeps frameless payloads (< one full window) out, as
    // doc grain does
    val intra = m.join(sizes.withColumnRenamed("doc_id", "rep"), Seq("rep"))
      .select(col("rep"), col("n_fr"), col("doc_id").as("doc_a"))
      .join(m.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_fr").as("n_a"),
        col("n_fr").as("n_b"), col("n_fr").as("n_inter"),
        lit(1.0).as("containment"))
    // inter-group: rep pairs inherit verbatim across both memberships
    // (identical frame sets ⇒ identical n/containment)
    val inter = repPairs
      .join(m.select(col("rep").as("doc_a"), col("doc_id").as("da")),
        Seq("doc_a"))
      .join(m.select(col("rep").as("doc_b"), col("doc_id").as("db")),
        Seq("doc_b"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_a"), col("n_b"), col("n_inter"), col("containment"))
    // the declared batch keys' oracle-stable order
    intra.unionByName(inter).orderBy("doc_a", "doc_b")
  }

  /** The frame-containment DECISION frame (doc_id, cluster_id,
    * is_keeper): connected components over the UNDIRECTED closure of
    * the directed containment pairs (a clip and its container are one
    * dedup group whichever way containment held), keeper = component
    * min. The fixpoint runs at REP grain — only distinct-payload edges
    * ever enter the contraction, and doc labels expand through the
    * narrow membership join afterwards (LINEAR in corpus size; the
    * doc-grain alternative feeds the fixpoint the quadratic intra-group
    * pair expansion — 100 copies ⇒ 9,900 pairs per payload — and
    * OOMed at the 100× replica tier, measured). cluster_id is the true
    * doc-grain component min: every rep is its group's min doc_id, so
    * min over reps ≡ min over docs. Frameless payloads (< one full
    * window) have no pairs and stay per-doc singletons, matching the
    * doc-grain SQL oracle exactly. */
  def frameClusters(docs: DataFrame, frameBytes: Int = NPix,
                    stride: Int = 2, num: Int = 4, den: Int = 5,
                    dfCap: Long = DefaultFrameDfCap)
      : DataFrame = {
    val fg = frameGrain(docs, frameBytes, stride, num, den, dfCap)
    val repLabels = DedupCluster.clusters(
        fg.sizes.select(col("doc_id")),
        fg.repPairs.select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("doc_id", "rep")
    fg.groups.select(col("rep"), explode(col("members")).as("doc_id"))
      .join(repLabels, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper",
        (col("doc_id") === col("cluster_id")).cast("long"))
  }

  /** Directed frame-grain containment of a (small) incoming batch
    * against the STORED frame-hash index: (batch_doc, corpus_doc,
    * n_fr, n_inter, containment) for every stored doc that contains
    * ≥ num/den of the batch doc's distinct frame hashes — "is this
    * upload a clip of something we already have?", answered per batch
    * in O(batch ⋈ matching postings) with the corpus never re-hashed:
    * one equi-join of the batch's frame signatures onto the stored rows
    * (the DedupIndex.queryBatch shape), broadcast or shuffle as
    * Catalyst sizes the batch — a micro-batch ships as a broadcast, so
    * per-batch cost is the stored scan + a broadcast hash join however
    * large the corpus, and a corpus-scale backfill wave takes the
    * exchange instead of an OOMing broadcast. Join fan-out is bounded
    * by the true answer size (every stored doc containing a batch
    * frame is a candidate) —
    * EXCEPT at hot frame hashes (black frames: one batch frame hash at
    * stored-df 10⁶ fans out 10⁶ rows), so `hotHashes` — the stored
    * corpus's over-df-cap hash set, materialized at rest by
    * [[graft.operators.FrameIndex]] at build/compact time, tiny by
    * construction — is broadcast-anti-joined off the batch signatures
    * BEFORE the join, and the batch n_fr denominator counts surviving
    * frames only (same consistent semantics as [[frameContainment]]'s
    * dfCap). None ⇒ uncapped (the fixture contract). */
  def screenFrames(batchDocs: DataFrame, stored: DataFrame,
                   frameBytes: Int = NPix, stride: Int = 2,
                   num: Int = 4, den: Int = 5,
                   hotHashes: Option[DataFrame] = None): DataFrame = {
    // the batch signature pass is ONE fused kernel map (windowing,
    // dHash, dedup, hot-hash exclusion — frameSignaturesFused), and the
    // per-doc surviving-frame count rides every exploded row via
    // size() (it is functionally dependent on the doc), so the old
    // shape's two checkpoints, the anti-join, the bsize aggregation
    // and its re-attach join are all gone: the batch side reaches the
    // candidate join with zero exchanges and n_fr already aboard
    // (recovered in the pair aggregate as max — constant per
    // batch_doc). The hot set is collected once (tiny by construction
    // — the boilerplate population, materialized at rest).
    val hot: Array[Long] = hotHashes
      .map(_.select("fhash").collect().map(_.getLong(0)))
      .getOrElse(Array.emptyLongArray)
    val b = batchDocs.select(col("doc_id"),
        graft.functions.PHashExprs.frameHashSet(
          col("text").cast("binary"), frameBytes, stride, hot).as("fhs"))
      .select(col("doc_id").as("batch_doc"),
        // n_frb, not n_fr: the stored rows carry their own n_fr column
        size(col("fhs")).cast("long").as("n_frb"),
        explode(col("fhs")).as("bhash"))
    stored
      .join(b, col("fhash") === col("bhash"))
      .groupBy(col("batch_doc"), col("doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("n_inter"), max(col("n_frb")).as("n_fr"))
      .filter(col("n_inter") * den >= col("n_fr") * num)
      .select(col("batch_doc"), col("corpus_doc"), col("n_fr"),
        col("n_inter"),
        round(col("n_inter").cast("double") / col("n_fr").cast("double"), 6)
          .as("containment"))
  }

  /** The same frame sampling + per-frame dHash + directed containment
    * as DuckDB SQL (oracle twin of [[frameContainment]], generated from
    * the same geometry/threshold constants). Mirrors the engine exactly:
    * full 72-byte windows at offsets f·72 for f ∈ {0, stride, 2·stride…},
    * DISTINCT (doc, hash), df-join, num/den integer predicate. */
  def oracleFrameContainmentSql(frameBytes: Int = NPix, stride: Int = 2,
                                num: Int = 4, den: Int = 5): String =
    s"""WITH ${framePairCtes(frameBytes, stride)}
        SELECT doc_a, doc_b, sa.n_fr AS n_a, sb.n_fr AS n_b, n_inter,
          ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_fr AS DOUBLE), 6)
            AS containment
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_inter * $den >= sa.n_fr * $num
        ORDER BY doc_a, doc_b"""

  /** The shared frame-sampling / per-frame-hash / shared-count CTE
    * chain (fr, sig, sizes, inter) of the frame-grain oracles. */
  private def framePairCtes(frameBytes: Int, stride: Int): String = {
    val sig = oracleSignatureSql("fr", "doc_id", "ftext")
    s"""fr AS (
          SELECT doc_id, substr(text, f*$frameBytes + 1, $frameBytes)
                   AS ftext
          FROM (SELECT doc_id, text,
                       unnest(range(0, length(text) // $frameBytes,
                                    $stride)) AS f
                FROM documents)),
        sig AS (SELECT DISTINCT doc_id, phash AS fhash FROM ($sig)),
        sizes AS (SELECT doc_id, COUNT(*) AS n_fr FROM sig GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM sig a JOIN sig b ON a.fhash = b.fhash
                                 AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)"""
  }

  /** The frame-containment DECISION as DuckDB SQL (oracle twin of the
    * q_dedup_frames_cluster key): connected components over the
    * UNDIRECTED closure of the directed containment pairs (a clip and
    * its container belong to one dedup group whichever way containment
    * held), keeper = min doc_id — the recursive-CC CTE of the other
    * cluster oracles over this family's own pair predicate. */
  def oracleFrameClusterSql(frameBytes: Int = NPix, stride: Int = 2,
                            num: Int = 4, den: Int = 5): String =
    s"""WITH RECURSIVE ${framePairCtes(frameBytes, stride)},
        p AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON doc_a = sa.doc_id
          WHERE n_inter * $den >= sa.n_fr * $num),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM p),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster_id,
               CAST(src = MIN(dst) AS BIGINT) AS is_keeper
        FROM reach GROUP BY src ORDER BY doc_id"""

  /** The ENTIRE per-batch screen of the screen-then-admit loop —
    * within-batch containment (content grain, [[frameContainment]]
    * semantics) AND the both-direction stored screen (an upload may be
    * a clip of a stored video, and a stored clip may sit inside the new
    * longer upload — graded by the stored row's denormalized n_fr, the
    * batch's re-delivered ids anti-joined away) — as ONE candidate pass
    * over one join: the batch's rep-grain signature set probes a single
    * unioned candidate side (stored rows tagged `s` ∪ the rep set itself
    * tagged `b`), and every output branch (within-intra, within-inter, cross
    * both directions) derives from the one grouped pair frame. The two
    * branch filters that used to force separate joins become PER-ROW
    * FLAGS on the rep signatures — `over_cap` (the within family's
    * rep-grain df cap) and `is_hot` (the stored corpus's boilerplate
    * guard; the cross screen's filter) — enforced in the join residual
    * per candidate tag, so the one join serves both semantics exactly.
    * The cross branch also inherits the content-grain saving: identical
    * payloads probe the stored corpus ONCE and their hits expand
    * through the membership list (identical signature sets ⇒ identical
    * n_inter/n_b for every member, the frameContainment argument).
    * Output is row-identical to
    * `frameContainment` (order aside) ∪ the unfused two-direction
    * stored screen on the same batch — pinned against that unfused
    * reference pair in FrameIndexSpec on a corpus where BOTH the df cap
    * and the hot set fire — but the plan
    * runs ~half the exchanges: one pair groupBy instead of two, one
    * size aggregation carrying both denominators, one membership
    * expansion frame shared by all branches. At a trigger-bounded
    * micro-batch the wall is AQE stage-job count, not rows
    * (PLANS_r18), so exchange count IS the throughput. */
  def ingestScreenFused(batch: DataFrame, sig: DataFrame,
                        stored: DataFrame, hotHashes: DataFrame,
                        num: Int = 4, den: Int = 5,
                        dfCap: Long = DefaultFrameDfCap): DataFrame = {
    // content grain: identical payloads share one signature set. ALL
    // batch-grain derived state — the flagged rep signatures AND the
    // group membership — materializes in ONE localCheckpoint action
    // (two kinds unioned into one frame): every broadcast below roots
    // in it, and un-materialized each broadcast re-ran the groupBy +
    // window chain (measured as MORE stage jobs than the unfused
    // screen, inverting the fusion's point), while one checkpoint per
    // derived frame still paid a per-action floor the union amortizes.
    // Flags on the sig rows carry both branch filters (each branch's
    // n_inter AND denominator see the same population as the unfused
    // forms: within drops over-cap rows on both sides, cross drops hot
    // rows on the batch side — the stored side of a hot hash can't
    // join once the probe row is gone); w_b / x_b are the two per-rep
    // denominators (surviving-the-cap count = within n_fr,
    // surviving-the-hot-filter count = cross n_fr) as window columns —
    // a separate sizes aggregation re-ran per broadcast consumer
    // (different projections defeat ReuseExchange).
    // (a one-action union of the two frames was probed and is NOT
    // better: AQE materializes the same stage count either way, and
    // the membership-as-rows form costs one more broadcast downstream)
    val g = batch.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep"),
           collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true)
    val rsig = sig
      .join(g.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("rdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fhash")))
      .withColumn("over_cap", col("rdf") > dfCap).drop("rdf")
      .join(broadcast(hotHashes.select(col("fhash"),
        lit(true).as("is_hot"))), Seq("fhash"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
      .withColumn("w_b", sum(when(!col("over_cap"), 1L).otherwise(0L))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")))
      .withColumn("x_b", sum(when(!col("is_hot"), 1L).otherwise(0L))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")))
      .localCheckpoint(true)
    val m = g.select(col("rep"), explode(col("members")).as("doc_id"))
    val candS = stored
      .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"),
        "left_anti") // the replay guard: a re-delivered batch is
                     // already IN the index and must not match itself
      .select(col("doc_id").as("cid"), col("fhash"),
        col("n_fr").as("n_c"), lit(false).as("c_over_cap"),
        lit("s").as("tag"))
    val candB = rsig.select(col("doc_id").as("cid"), col("fhash"),
      lit(null).cast("long").as("n_c"), col("over_cap").as("c_over_cap"),
      col("w_b").as("w_c"), lit("b").as("tag"))
    val probe = broadcast(rsig.select(col("doc_id").as("bd"),
      col("fhash"), col("over_cap"), col("is_hot"),
      col("w_b"), col("x_b")))
    val inter = candS
      .withColumn("w_c", lit(null).cast("long"))
      .unionByName(candB)
      .join(probe, Seq("fhash"))
      .filter(!(col("tag") === "s" && col("is_hot")) &&
              !(col("tag") === "b" && (col("over_cap") ||
                col("c_over_cap") || col("cid") === col("bd"))))
      .groupBy(col("bd"), col("cid"), col("tag"))
      .agg(count(lit(1)).as("n_inter"), max(col("n_c")).as("n_c"),
           max(col("w_c")).as("w_c"), max(col("w_b")).as("w_b"),
           max(col("x_b")).as("x_b"))
    // inter is consumed ONCE — the tag decides each row's direction
    // set inside the explode (a per-tag filter split would re-run the
    // stored-scan join per branch, the cost the fusion exists to kill):
    // tag `b` rows are within-batch rep pairs (one directed pair per
    // row — the symmetric join already produced both orders) expanded
    // through BOTH memberships; tag `s` rows are stored hits expanded
    // through the batch membership, emitting both directions (a
    // two-struct explode). Size/membership joins attach to
    // the single stream; the cid-side joins are LEFT (stored ids have
    // no batch group) and unused fields ride as nulls.
    val attached = inter
      .join(broadcast(m.select(col("rep").as("bd"),
        col("doc_id").as("da"))), Seq("bd"))
      .join(broadcast(m.select(col("rep").as("cid"),
        col("doc_id").as("db"))), Seq("cid"), "left")
    val interPairs = attached
      .select(col("n_inter"), explode(when(col("tag") === "b",
          array(struct(col("da").as("doc_a"), col("db").as("doc_b"),
                       col("w_b").as("n_a"), col("w_c").as("n_b"))))
        .otherwise(
          array(struct(col("da").as("doc_a"), col("cid").as("doc_b"),
                       col("x_b").as("n_a"), col("n_c").as("n_b")),
                struct(col("cid").as("doc_a"), col("da").as("doc_b"),
                       col("n_c").as("n_a"), col("x_b").as("n_b")))))
        .as("p"))
      .filter(col("n_inter") * den >= col("p.n_a") * num)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") / col("p.n_a").cast("double"),
          6).as("containment"))
    // within-intra: identical payloads with ≥1 surviving frame contain
    // each other exactly — a double explode off the group row replaces
    // the m ⋈ sizes ⋈ m join chain (same pairs, two fewer exchanges)
    val withinIntra = g
      .join(broadcast(rsig.select(col("doc_id").as("rep"),
          col("w_b").as("n_fr")).distinct()
        .filter(col("n_fr") >= 1)),
        Seq("rep"))
      .select(col("n_fr"), explode(col("members")).as("doc_a"),
        col("members"))
      .select(col("n_fr"), col("doc_a"),
        explode(col("members")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_fr").as("n_a"),
        col("n_fr").as("n_b"), col("n_fr").as("n_inter"),
        lit(1.0).as("containment"))
    withinIntra.unionByName(interPairs)
  }

  /** The same frame sampling + per-frame dHash + DIRECTED batch→corpus
    * screen as DuckDB SQL (oracle twin of [[screenFrames]] over a
    * documents split, generated from the same geometry/threshold
    * constants). `batchPred` / `corpusPred` are SQL predicates over the
    * `documents` table selecting the two sides. */
  def oracleScreenSql(batchPred: String, corpusPred: String,
                      frameBytes: Int = NPix, stride: Int = 2,
                      num: Int = 4, den: Int = 5): String = {
    val sig = oracleSignatureSql("fr", "doc_id", "ftext")
    s"""WITH fr AS (
          SELECT doc_id, substr(text, f*$frameBytes + 1, $frameBytes)
                   AS ftext
          FROM (SELECT doc_id, text,
                       unnest(range(0, length(text) // $frameBytes,
                                    $stride)) AS f
                FROM documents)),
        sig AS (SELECT DISTINCT doc_id, phash AS fhash FROM ($sig)),
        bsig AS (SELECT s.* FROM sig s JOIN documents d USING (doc_id)
                 WHERE $batchPred),
        csig AS (SELECT s.* FROM sig s JOIN documents d USING (doc_id)
                 WHERE $corpusPred),
        bsize AS (SELECT doc_id, COUNT(*) AS n_fr FROM bsig GROUP BY 1),
        inter AS (
          SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
                 COUNT(*) AS n_inter
          FROM bsig b JOIN csig c ON b.fhash = c.fhash
          GROUP BY 1, 2)
        SELECT batch_doc, corpus_doc, s.n_fr, n_inter,
          ROUND(CAST(n_inter AS DOUBLE) / CAST(s.n_fr AS DOUBLE), 6)
            AS containment
        FROM inter JOIN bsize s ON batch_doc = s.doc_id
        WHERE n_inter * $den >= s.n_fr * $num
        ORDER BY batch_doc, corpus_doc"""
  }

  /** The same pixel grid + dHash as DuckDB SQL over `$table` (oracle
    * twin of [[signatures]] — generated from the same geometry so the
    * two engines cannot drift). Yields a relation (doc_id, phash). */
  /** The stored-phash-index screen as DuckDB SQL (oracle twin of
    * [[PHashIndex.queryBatch]] over a documents split): the same dHash
    * from the same bytes, brute-force hamming ≤ maxHamming join across
    * the split — exact, because banding recall is exact by pigeonhole
    * (maxHamming < b), so the index keys get a full SQL oracle. */
  def oraclePhashScreenSql(batchPred: String, corpusPred: String,
                           maxHamming: Int = 3): String = {
    val sig = oracleSignatureSql()
    s"""WITH sig AS ($sig),
        b AS (SELECT s.doc_id, s.phash FROM sig s
              JOIN documents d USING (doc_id) WHERE $batchPred),
        c AS (SELECT s.doc_id, s.phash FROM sig s
              JOIN documents d USING (doc_id) WHERE $corpusPred)
        SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
               CAST(bit_count(xor(b.phash, c.phash)) AS BIGINT) AS hamming
        FROM b JOIN c ON bit_count(xor(b.phash, c.phash)) <= $maxHamming
        ORDER BY batch_doc, corpus_doc"""
  }

  def oracleSignatureSql(table: String = "documents",
                         idCol: String = "doc_id",
                         textCol: String = "text"): String = {
    val n = s"length($textCol)"
    val px = s"""[CASE
        WHEN ((p+1) * $n) // $NPix - (p * $n) // $NPix >= 1
        THEN list_sum(([ascii(c) for c in string_split($textCol, '')])
               [(p * $n) // $NPix + 1 : ((p+1) * $n) // $NPix])
             // (((p+1) * $n) // $NPix - (p * $n) // $NPix)
        ELSE 0 END for p in range(0, $NPix)]"""
    val bits = (0 until 63).map { i =>
      val r = i / 8; val c = i % 8
      s"CASE WHEN px[${r * Cols + c + 1}] < px[${r * Cols + c + 2}] " +
        s"THEN (1::BIGINT << $i) ELSE 0::BIGINT END"
    }.mkString(" + ")
    s"""SELECT $idCol AS doc_id, $bits AS phash
        FROM (SELECT $idCol, $px AS px FROM $table) t"""
  }
}
