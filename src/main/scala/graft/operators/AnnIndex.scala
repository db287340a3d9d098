package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorExprs
import graft.util.IndexStore

/** IVF+PQ index AT REST — the artifact-centric half of the ANN stack.
  *
  * q_knn_ivfpq demonstrates the IVF+PQ *math* end-to-end, but retrains
  * the codebooks inside every execution; no 100-TB retrieval corpus
  * works that way. The real deployment shape is train-once /
  * store-the-artifact / answer-every-query-from-storage, exactly like
  * the HLL sketches-at-rest pattern (q_agg_sketch_table):
  *
  *   root/centroids/ — (cent_id, cv, cnrm)            k rows
  *   root/codebooks/ — (sub, code_id, cv)             m×kCodes rows
  *   root/codes/     — (vec_id, codes)  PARTITIONED BY (batch, cell)
  *
  * in the shared at-rest layout (util.IndexStore: each `batch=N` dir is
  * one write committed by its marker, plus the compaction high-water
  * mark and staged swap).
  *
  * The codes table is the corpus at rest: ~m bytes per vector (16 int
  * codes here ≈ 8 information bytes at kCodes=16) instead of dim×8 raw —
  * and because it is hive-partitioned on the coarse cell id, a query's
  * `cell IN (probed…)` filter becomes STATIC PARTITION PRUNING: only
  * nprobe/k of the stored files are ever listed or read. At 100 TB
  * that is the difference between scanning the corpus and scanning a
  * few partitions of 8-byte rows.
  *
  * Query-time float math stays entirely in Catalyst (the same
  * VectorExprs/dist2 expressions the in-flight q_knn_ivfpq uses), so
  * the stored-index answer is bit-identical to the in-flight one —
  * pinned in AnnIndexSpec. The only driver materializations are
  * model-sized artifact reads (k centroid rows, nprobe cell ids): the
  * util.Local.model discipline.
  *
  * Training mirrors q_knn_ivfpq exactly: coarse centroids from a
  * deterministic half-sample (IvfKMeans), PQ codebooks on RESIDUALS
  * from a deterministic quarter-sample (ProductQuantizer) — constant
  * training cost however large the corpus. The one intentional
  * difference: build() encodes EVERY cell (an index serves all future
  * queries), where the one-shot query encodes only probed cells.
  */
object AnnIndex {

  private def centroidsDir(root: String) = s"$root/centroids"
  private def codebooksDir(root: String) = s"$root/codebooks"
  private def codesDir(root: String)     = s"$root/codes"
  private def attrsDir(root: String)     = s"$root/attrs"

  private[graft] val CentroidsSchema = "cent_id INT, cv ARRAY<DOUBLE>, cnrm DOUBLE"
  private[graft] val CodebooksSchema = "sub INT, code_id INT, cv ARRAY<DOUBLE>"
  private[graft] val CodesSchema =
    "vec_id BIGINT, codes ARRAY<INT>, batch BIGINT, cell INT"

  /** True iff a complete index exists under `root` (codes are written
    * last, so their committed backfill implies the whole artifact).
    * Heals a torn compaction swap first (util.IndexStore). */
  def exists(s: SparkSession, root: String): Boolean =
    IndexStore.exists(s, root, codesDir(root))

  /** Highest ingest batch id folded into batch 0 by [[compact]] (−1
    * before any compaction). append() refuses ids at or below it: a
    * foreachBatch re-delivery of an ALREADY-FOLDED batch would
    * otherwise re-create its partitions next to the compacted copies
    * and double-count every vector's ADC sum at query time. */
  def compactedThrough(s: SparkSession, root: String): Long =
    IndexStore.compactedThrough(s, root)

  /** Committed batch ids of the codes table. A batch is visible only
    * once its whole write committed: the writer moves the batch's cell
    * dirs into place one by one at job commit, so a crash inside it
    * leaves some cells only — queried or folded, those would lose the
    * missing vectors for good once the high-water mark passed them. */
  private def committedBatches(s: SparkSession, root: String): Seq[Long] =
    IndexStore.committed(s, codesDir(root))

  /** The stored coarse-quantizer model — (cent_id, cv, cnrm), k rows. */
  def centroids(s: SparkSession, root: String): DataFrame =
    s.read.schema(CentroidsSchema).parquet(centroidsDir(root))

  /** The stored PQ codebooks — (sub, code_id, cv), m×kCodes rows. */
  def codebooks(s: SparkSession, root: String): DataFrame =
    s.read.schema(CodebooksSchema).parquet(codebooksDir(root))

  /** Max-cosine cell assignment against `cents` (a k-row model frame):
    * (vec_id, cell, rv = v − centroid). Shared verbatim by build() and
    * append() so an appended vector lands exactly where a rebuilt index
    * would put it. */
  private def assign(emb0: DataFrame, cents: DataFrame): DataFrame = {
    // pure-map top-1 probe (functions.IvfCellProbes at nprobe = 1): the
    // crossJoin + window this replaces sorted N·k rows per call; cell
    // pick and residual are bit-identical, so stored artifacts and
    // appends stay byte-compatible with indexes built by the old form
    val emb = emb0.select(col("vec_id"), col("v"),
      VectorExprs.norm(col("v")).as("nrm"))
    val rows = graft.util.Local
      .modelRows(cents.select("cent_id", "cv", "cnrm"))
    val probes = graft.functions.IvfProbe
      .cellProbes(col("v"), col("nrm"), rows, nprobe = 1)
    emb.select(col("vec_id"), explode(probes).as("p"))
      .select(col("vec_id"), col("p.cell").as("cell"), col("p.rv").as("rv"))
  }

  /** Pack each vector's m subspace codes into one array row ordered by
    * subspace — the ~8-byte-per-vector corpus artifact. */
  private def packCodes(subs: DataFrame, cb: DataFrame): DataFrame =
    // `subs` carries the cell id through the explode (r18), so grouping
    // on (vec_id, cell) — cell is functionally dependent on vec_id —
    // replaces the old groupBy(vec_id) + shuffle join back onto the
    // assignment frame: same rows, one exchange fewer (guide §2.4)
    ProductQuantizer.encode(subs, cb, keep = Seq("cell"))
      .groupBy("vec_id", "cell")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code_id")))),
        e => e("code_id")).as("codes"))
      .select("vec_id", "codes", "cell")

  /** True iff the index carries the [[attrs]] sidecar (written at
    * build time — an index is either attribute-carrying or not for its
    * whole life; filtered queries on a bare index are a loud error,
    * never a silent unfiltered answer). */
  def hasAttrs(s: SparkSession, root: String): Boolean =
    IndexStore.committed(s, attrsDir(root)).contains(0L)

  /** The sidecar rows of committed `batches`. The attribute columns are
    * the caller's, so this one read keeps schema inference. */
  private def attrRows(s: SparkSession, root: String, batches: Seq[Long])
      : DataFrame =
    s.read.option("basePath", attrsDir(root))
      .parquet(batches.map(IndexStore.part(attrsDir(root), "batch", _)): _*)

  /** Write one batch's attribute rows partitioned EXACTLY like the
    * codes — (batch, cell) hive partitions — so a filtered probe's
    * `cell IN (…)` prunes the attribute scan at file-listing level the
    * same way it prunes the codes scan (the Vespa/Milvus filtered-ANN
    * layout: attributes ride the index partitioning; a vec_id-keyed
    * side table would re-scan the corpus per probe). Written BEFORE
    * the batch's codes commit: codes-committed ⇒ attrs-committed, so a
    * crash in the window leaves only orphan attr rows whose vec_ids
    * never surface (the probe semi-joins FROM the codes side) and the
    * replay overwrites both. */
  private def writeAttrs(attrs: DataFrame, assigned: DataFrame,
                         root: String, batchId: Long): Unit = {
    // Coverage contract, enforced: every vector in the batch MUST have
    // an attrs row. The join below is inner, so a vec_id absent from
    // attrs would silently vanish from every filtered probe (query()'s
    // left_semi drops it) — the exact "silent unfiltered answer" class
    // this module promises to fail loudly on. One anti-join count at
    // write time (build path, not serving path) buys the guarantee.
    val uncovered = assigned.select("vec_id")
      .join(attrs.select("vec_id"), Seq("vec_id"), "left_anti").count()
    require(uncovered == 0L,
      s"AnnIndex attrs sidecar must cover the batch: $uncovered " +
      s"vector(s) in batch $batchId have no attrs row; such vectors " +
      "would silently match no filtered query. Supply an attrs row " +
      "per vec_id (null attribute values are fine) or build bare.")
    IndexStore.write(attrs.join(assigned.select("vec_id", "cell"),
      Seq("vec_id")), attrsDir(root), "batch", batchId, "cell")
  }

  /** Train and persist the index. `emb` = (vec_id, v: array<double>)
    * with v already L2-normalized (squared-L2 order ≡ cosine order).
    * The codes table is written as ingest batch 0 — append() adds
    * later batches under their own partitions. `attrs` (optional) =
    * (vec_id, attribute columns…) — the metadata sidecar filtered
    * queries predicate on; see [[writeAttrs]] for the layout. */
  def build(emb0: DataFrame, root: String, k: Int = 8, m: Int = 16,
            dim: Int = 64, kCodes: Int = 16,
            attrs: Option[DataFrame] = None): Unit = {
    // wipe any previous artifact FIRST: centroids/codebooks are written
    // before codes, so a rebuild that dies mid-way over an existing root
    // would otherwise leave new models next to stale codes with exists()
    // still true — a silently wrong index
    IndexStore.wipe(emb0.sparkSession, root)
    val emb = emb0.select(col("vec_id"), col("v"),
      VectorExprs.norm(col("v")).as("nrm"))
    // coarse quantizer on a deterministic half-sample (q_knn_ivfpq's
    // exact training path — same seed, same sample predicate)
    val cents = IvfKMeans.centroids(
      emb.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(2L)) === 0L),
      k, iters = 2)
    // assign EVERY vector to its max-cosine cell; residual = v − centroid
    val assigned = assign(emb, cents).localCheckpoint(true)
    val subs = ProductQuantizer.subvectors(
        assigned.select(col("vec_id"), col("cell"), col("rv").as("v")),
        m, dim, keep = Seq("cell"))
      .localCheckpoint(true)
    val cb = ProductQuantizer.codebooks(
      subs.filter(pmod(xxhash64(col("vec_id"), lit(99)), lit(4L)) === 0L),
      kCodes, iters = 2)
    cents.write.mode("overwrite").parquet(centroidsDir(root))
    cb.write.mode("overwrite").parquet(codebooksDir(root))
    // attrs BEFORE codes (codes-present ⇒ attrs-present; exists() keys
    // on the codes marker, so a crash here still reads as no-index)
    attrs.foreach(a => writeAttrs(a, assigned, root, 0L))
    // hive-partition on (ingest batch, coarse cell): probes prune on
    // cell at the FILE LISTING level; appends overwrite only their own
    // batch dir (exactly-once under replay)
    IndexStore.write(packCodes(subs, cb), codesDir(root), "batch", 0L, "cell")
  }

  /** Encode and store a NEW batch of vectors against the STORED models —
    * the incremental-maintenance half of the index-at-rest story. No
    * retraining: centroids and codebooks are read back (model-sized),
    * the batch is assigned/encoded with the exact expressions build()
    * uses, and written as its own `batch=batchId` dir — replaying a batch
    * id overwrites only itself, so ingest is exactly-once however often
    * a batch is re-delivered.
    * Per-row cost is O(batch), never O(corpus); the stored corpus is
    * untouched. Batching-invariant by construction: encode is per-row
    * arithmetic against fixed models.
    *
    * Contract: vec_ids must be NEW to the index. Re-delivery of a whole
    * batch under its original batchId is the supported replay path
    * (overwrites itself); appending an already-indexed vec_id under a
    * DIFFERENT batch id would store it twice and double-count its ADC
    * sum at query time. Ingest pipelines get this for free when ids are
    * assigned upstream (the foreachBatch batchId discipline). */
  def append(emb0: DataFrame, root: String, batchId: Long,
             m: Int = 16, dim: Int = 64,
             attrs: Option[DataFrame] = None): Unit = {
    val s = emb0.sparkSession
    IndexStore.requireAppendable(s, root, codesDir(root), batchId)
    require(attrs.isEmpty || hasAttrs(s, root),
      "attrs passed to append but the index was built without the " +
        "sidecar — rebuild with attrs (an index is attribute-carrying " +
        "for its whole life or not at all)")
    require(attrs.nonEmpty || !hasAttrs(s, root),
      "the index carries the attrs sidecar but this append has none — " +
        "its vectors would silently vanish from every filtered probe")
    val cents = centroids(s, root)
    val cb = codebooks(s, root)
    val assigned = assign(emb0, cents).localCheckpoint(true)
    val subs = ProductQuantizer.subvectors(
      assigned.select(col("vec_id"), col("cell"), col("rv").as("v")),
      m, dim, keep = Seq("cell"))
    attrs.foreach(a => writeAttrs(a, assigned, root, batchId))
    IndexStore.write(packCodes(subs, cb), codesDir(root), "batch", batchId,
      "cell")
  }

  /** Fold every ingest `batch=` partition of the codes table into a
    * single batch-0 partition set — the index-maintenance step a
    * continuously-ingesting ANN deployment runs periodically, and the
    * third stored index to get it (operators/DedupIndex.compact and
    * InvertedIndex.compact are the siblings). s_knn_index_ingest
    * commits one partition set per micro-batch; every query's probe
    * scan lists and opens the probed cells' accumulated files, and
    * Spark pays a per-FILE open cost, so probe latency degrades with
    * file COUNT at flat row volume — the small-file trap measured on
    * the dedup index's stream bench (DedupIndex.writeIngest
    * Scaladoc). Code ROWS are preserved exactly and the ADC sum is an
    * order-independent decimal aggregate, so every query answers
    * bit-identically before and after (pinned in AnnIndexSpec) — only
    * the physical layout changes, and it improves on the build layout:
    * the fold repartitions ON the cell id, so each cell lands in ONE
    * file (build's vec_id-hashed shuffle writes up to one file per
    * shuffle partition per cell), sorted on vec_id for row-group stats.
    *
    * Models (centroids, codebooks) copy over row-for-row — compaction
    * retrains nothing, so stored codes stay decodable. Staged write +
    * two-rename swap (util.IndexStore): a crash at any point is healed
    * inside exists(), and the high-water mark makes a post-compaction
    * replay of a folded batch a loud error in [[append]] — streaming
    * callers skip those batches idempotently instead
    * ([[graft.streaming.Streams.annIndexIngest]]). Only committed
    * batches fold. */
  def compact(s: SparkSession, root: String): Unit = {
    require(exists(s, root), s"no ANN index under $root")
    val folded = committedBatches(s, root)
    val attrsToo = hasAttrs(s, root)
    IndexStore.compact(s, root, folded) { staging =>
      centroids(s, root).write.parquet(centroidsDir(staging))
      codebooks(s, root).write.parquet(codebooksDir(staging))
      // attrs fold mirrors the codes fold (same layout argument);
      // restricting to codes-committed batches drops any orphan attr
      // batch a crashed append left behind
      if (attrsToo)
        IndexStore.write(byCell(attrRows(s, root, folded).drop("batch")),
          attrsDir(staging), "batch", 0L, "cell")
      IndexStore.write(byCell(IndexStore.read(s, codesDir(root), CodesSchema,
          "batch", folded).select("vec_id", "codes", "cell")),
        codesDir(staging), "batch", 0L, "cell")
    }
  }

  /** One file per cell, vec_id-sorted for row-group stats. */
  private def byCell(rows: DataFrame): DataFrame =
    rows.repartition(col("cell")).sortWithinPartitions("cell", "vec_id")

  /** Top-`n` approximate neighbors of `qv` (an L2-normalized query
    * vector) answered ONLY from the stored artifacts under `root` —
    * the corpus frame is never touched. Returns (vec_id, approx_d2),
    * squared L2 in normalized space (monotone with cosine). */
  def query(s: SparkSession, root: String, qv: Seq[Double],
            nprobe: Int = 2, n: Int = 10,
            excludeId: Option[Long] = None, m: Int = 16,
            attrFilter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(attrFilter.isEmpty || hasAttrs(s, root),
      s"attribute-filtered query against $root, which has no attrs " +
        "sidecar — a silent unfiltered answer would be wrong; rebuild " +
        "with attrs = Some(...)")
    require(qv.length % m == 0, s"dim ${qv.length} not divisible by m $m")
    val qvc = typedLit(qv)
    val cents = centroids(s, root)
    // probe the nprobe max-cosine cells; per-cell query residual for ADC.
    // Local.model: k rows — the artifact-read discipline, not a data pull.
    val probed = graft.util.Local.model(
      cents.withColumn("sim",
          VectorExprs.dot(qvc, col("cv")) /
            (VectorExprs.norm(qvc) * col("cnrm")))
        .orderBy(col("sim").desc, col("cent_id").asc)
        .limit(nprobe)
        .select(col("cent_id").as("cell"),
          zip_with(qvc, col("cv"), (x, c) => x - c).as("qrv")))
    val cellIds = probed.select("cell").collect().map(_.getInt(0)).toSeq
    // per-cell ADC tables: m×kCodes exact query-residual-to-codeword
    // distances, broadcast to the probe scan
    val w = qv.length / m
    val qsubs = probed.select(col("cell"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(qrv, s * $w + 1, $w))"))
      .as(Seq("sub", "qv")))
    val dtab = qsubs.join(broadcast(codebooks(s, root)), Seq("sub"))
      .select(col("cell"), col("sub"), col("code_id"),
        ProductQuantizer.dist2(col("qv"), col("cv")).as("d"))
    // the probe scan: cell IN (…) literals → static partition pruning —
    // only the probed cells' files of committed batches are read
    val codes0 = IndexStore.read(s, codesDir(root), CodesSchema, "batch",
        committedBatches(s, root))
      .filter(col("cell").isin(cellIds: _*))
      .filter(excludeId.map(id => col("vec_id") =!= id).getOrElse(lit(true)))
    // metadata filter BEFORE selection (filtered top-k ≠ filter(top-k)):
    // the attrs scan prunes to the SAME probed cells as the codes scan
    // (identical partitioning — file-listing-level pruning both sides),
    // then a cell-local vec_id semi-join drops non-matching candidates
    // before any ADC work. AQE sizes the join; on a fixture-scale probe
    // the filtered attr side broadcasts itself.
    val codesF = attrFilter.fold(codes0)(pred =>
      codes0.join(
        s.read.parquet(attrsDir(root))
          .filter(col("cell").isin(cellIds: _*)).filter(pred)
          .select("vec_id"),
        Seq("vec_id"), "left_semi"))
    val codes = codesF.select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code_id")))
    codes.join(broadcast(dtab), Seq("cell", "sub", "code_id"))
      .groupBy("vec_id")
      .agg(round(sum(col("d").cast(DecimalType(28, 12))).cast("double"), 6)
        .as("approx_d2"))
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
      .limit(n)
  }
}
