package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.VectorExprs

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
  *   root/codes/     — (vec_id, codes)  PARTITIONED BY (cell, batch)
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
  private def hwmPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/compacted_through")

  private def fsOf(s: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  /** True iff a complete index exists under `root` (codes are written
    * last, so their _SUCCESS marker implies the whole artifact). Side
    * effect by design: first repairs any compaction swap a crash tore
    * mid-rename (util.AtomicSwap.recover), so a torn swap heals on
    * first touch instead of reading as "no index" and baiting callers
    * into a wipe-and-rebuild over the orphaned fold. */
  def exists(s: SparkSession, root: String): Boolean = {
    val fs = fsOf(s, root)
    graft.util.AtomicSwap.recover(
      fs, new org.apache.hadoop.fs.Path(root), "compacted_through")
    fs.exists(new org.apache.hadoop.fs.Path(s"${codesDir(root)}/_SUCCESS"))
  }

  /** Highest ingest batch id folded into batch 0 by [[compact]] (−1
    * before any compaction). append() refuses ids at or below it: a
    * foreachBatch re-delivery of an ALREADY-FOLDED batch would
    * otherwise re-create its partitions next to the compacted copies
    * and double-count every vector's ADC sum at query time (the
    * DedupIndex/InvertedIndex high-water-mark rule). */
  def compactedThrough(s: SparkSession, root: String): Long = {
    val fs = fsOf(s, root)
    if (!fs.exists(hwmPath(root))) -1L
    else {
      val in = fs.open(hwmPath(root))
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Ingest batch ids present under the codes table (directory listing,
    * not a data scan). append() is a single-table write committed by
    * the Hadoop job-commit protocol, so a present `batch=` directory is
    * a committed batch — there is no two-table torn-append window here
    * (contrast InvertedIndex.committedBatches). */
  private def batchIds(s: SparkSession, root: String): Seq[Long] =
    fsOf(s, root).globStatus(
      new org.apache.hadoop.fs.Path(s"${codesDir(root)}/cell=*/batch=*"))
      match {
        case null => Nil
        case st => st.toSeq
          .map(_.getPath.getName.stripPrefix("batch=").toLong)
          .distinct.sorted
      }

  /** The stored coarse-quantizer model — (cent_id, cv, cnrm), k rows. */
  def centroids(s: SparkSession, root: String): DataFrame =
    s.read.parquet(centroidsDir(root))

  /** The stored PQ codebooks — (sub, code_id, cv), m×kCodes rows. */
  def codebooks(s: SparkSession, root: String): DataFrame =
    s.read.parquet(codebooksDir(root))

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
    fsOf(s, root).exists(attrsMarker(root))

  /** Explicit sidecar commit marker — the dynamic-partition-overwrite
    * protocol [[writeAttrs]] uses emits no `_SUCCESS` of its own
    * (verified on disk), so [[writeAttrs]] creates this after its
    * write returns; a crash mid-write reads as "no sidecar". */
  private def attrsMarker(root: String) =
    new org.apache.hadoop.fs.Path(s"${attrsDir(root)}/_GRAFT_COMMIT")

  /** Write one batch's attribute rows partitioned EXACTLY like the
    * codes — (cell, batch) hive partitions — so a filtered probe's
    * `cell IN (…)` prunes the attribute scan at file-listing level the
    * same way it prunes the codes scan (the Vespa/Milvus filtered-ANN
    * layout: attributes ride the index partitioning; a vec_id-keyed
    * side table would re-scan the corpus per probe). Written BEFORE
    * the batch's codes partition commits: codes-present ⇒
    * attrs-present, so a crash in the window leaves only orphan attr
    * rows whose vec_ids never surface (the probe semi-joins FROM the
    * codes side) and the replay overwrites both. */
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
    attrs.join(assigned.select("vec_id", "cell"), Seq("vec_id"))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch")
      .parquet(attrsDir(root))
    fsOf(attrs.sparkSession, root).create(attrsMarker(root), true).close()
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
    // wipe any previous artifact FIRST (the DedupIndex.build discipline):
    // centroids/codebooks are written before codes, so a rebuild that
    // dies mid-way over an existing root would otherwise leave new
    // models next to stale codes with exists() still true — a silently
    // wrong index. Deleting root up front makes a partial rebuild read
    // as exists()==false, per the exists() contract above.
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(
      emb0.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
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
    // hive-partition on (coarse cell, ingest batch): probes prune on
    // cell at the FILE LISTING level; appends overwrite only their own
    // batch partitions (exactly-once under replay)
    packCodes(subs, cb)
      .withColumn("batch", lit(0L))
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(codesDir(root))
  }

  /** Encode and store a NEW batch of vectors against the STORED models —
    * the incremental-maintenance half of the index-at-rest story. No
    * retraining: centroids and codebooks are read back (model-sized),
    * the batch is assigned/encoded with the exact expressions build()
    * uses, and written under `batch=batchId` partitions with DYNAMIC
    * partition overwrite — replaying a batch id overwrites only itself,
    * so ingest is exactly-once however often a batch is re-delivered.
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
    require(exists(s, root),
      s"no ANN index under $root — build the backfill first")
    require(batchId > 0L, "batch 0 is the backfill partition")
    require(attrs.isEmpty || hasAttrs(s, root),
      "attrs passed to append but the index was built without the " +
        "sidecar — rebuild with attrs (an index is attribute-carrying " +
        "for its whole life or not at all)")
    require(attrs.nonEmpty || !hasAttrs(s, root),
      "the index carries the attrs sidecar but this append has none — " +
        "its vectors would silently vanish from every filtered probe")
    val hwm = compactedThrough(s, root)
    require(batchId > hwm,
      s"batch $batchId was already folded by a compaction (high-water " +
        s"mark $hwm) — re-appending it would store every vector twice " +
        s"and double-count its ADC sum at query time")
    val cents = s.read.parquet(centroidsDir(root))
    val cb = s.read.parquet(codebooksDir(root))
    val assigned = assign(emb0, cents).localCheckpoint(true)
    val subs = ProductQuantizer.subvectors(
      assigned.select(col("vec_id"), col("cell"), col("rv").as("v")),
      m, dim, keep = Seq("cell"))
    attrs.foreach(a => writeAttrs(a, assigned, root, batchId))
    packCodes(subs, cb)
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch")
      .parquet(codesDir(root))
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
    * Models (centroids, codebooks) copy over byte-for-byte — compaction
    * retrains nothing, so stored codes stay decodable. Staged write +
    * two-rename swap (util.AtomicSwap) with the high-water mark written
    * LAST as the completeness marker: a crash at any point is healed by
    * the recover call inside exists(). The HWM makes a post-compaction
    * replay of a folded batch a loud error in [[append]] — streaming
    * callers skip those batches idempotently instead
    * ([[graft.streaming.Streams.annIndexIngest]]). */
  def compact(s: SparkSession, root: String): Unit = {
    require(exists(s, root), s"no ANN index under $root")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(s, root)
    val stagingPath = graft.util.AtomicSwap.stagingPath(rootPath)
    val staging = stagingPath.toString
    if (fs.exists(stagingPath)) fs.delete(stagingPath, true)
    val committed = batchIds(s, root)
    s.read.parquet(centroidsDir(root))
      .write.mode("overwrite").parquet(centroidsDir(staging))
    s.read.parquet(codebooksDir(root))
      .write.mode("overwrite").parquet(codebooksDir(staging))
    // attrs fold mirrors the codes fold (same layout argument);
    // restricting to codes-committed batches drops any orphan attr
    // partition a crashed append left behind
    if (hasAttrs(s, root)) {
      val committedSet = committed.map(java.lang.Long.valueOf)
      s.read.parquet(attrsDir(root))
        .filter(col("batch").isin(committedSet: _*))
        .drop("batch").withColumn("batch", lit(0L))
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("cell", "batch")
        .parquet(attrsDir(staging))
      fs.create(attrsMarker(staging), true).close()
    }
    s.read.parquet(codesDir(root))
      .select(col("vec_id"), col("codes"), col("cell"))
      .withColumn("batch", lit(0L))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "vec_id")
      .write.mode("overwrite").partitionBy("cell", "batch")
      .parquet(codesDir(staging))
    val hwm = math.max(committed.max, compactedThrough(s, root))
    val out = fs.create(hwmPath(staging), true)
    try out.write(hwm.toString.getBytes("UTF-8")) finally out.close()
    graft.util.AtomicSwap.promote(fs, rootPath)
  }

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
    val cents = s.read.parquet(centroidsDir(root))
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
    val cb = s.read.parquet(codebooksDir(root))
    val dtab = qsubs.join(broadcast(cb), Seq("sub"))
      .select(col("cell"), col("sub"), col("code_id"),
        ProductQuantizer.dist2(col("qv"), col("cv")).as("d"))
    // the probe scan: cell IN (…) literals → static partition pruning —
    // only the probed cells' files are listed/read from the store
    val codes0 = s.read.parquet(codesDir(root))
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
