package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** EXACT cosine-threshold similarity self-join over dense vectors, with
  * candidate generation via centroid cells and a sound angular
  * triangle-inequality bound — the distributed replacement for the
  * broadcast all-pairs nested loop.
  *
  * Plan shape: assign every vector to its nearest of `k` centroids (one
  * broadcast + one map-side-combined shuffle), compute each cell's
  * angular radius, prune cell PAIRS with the bound
  * θ(ca,cb) − r_a − r_b > θ_threshold (no member pair of a pruned cell
  * pair can reach the threshold, by two applications of the spherical
  * triangle inequality), then join vectors through the surviving cell
  * pairs — a Catalyst-native shuffle EQUI-join on cell ids — and verify
  * every candidate with the exact codegen dot product. Output is
  * provably identical to the all-pairs form (the bound only ever prunes
  * pairs that cannot qualify), but the plan is shuffle-partitioned and
  * memory-bounded instead of broadcast-bounded: at 100 TB the cell id is
  * the partition key, k scales with corpus size, and AQE's skew handling
  * splits oversized cells.
  *
  * Pruning is data-adaptive: on clustered corpora (real embedding sets)
  * most of the k² cell pairs are pruned and per-pair work collapses to
  * overlapping-cluster blocks; on an isotropic corpus (this fixture's
  * Gaussian-tail pairs at τ=0.4) little can be pruned and the join
  * degrades gracefully to a distributed block-partitioned exact join —
  * still O(N²) compute, because NO exact sub-quadratic algorithm exists
  * for low-threshold dense cosine (at τ=0.4 a random hyperplane agrees
  * with probability 0.63 vs 0.50 for unrelated pairs, so recall-1 LSH
  * would need ~10⁵ hash tables or admit ~every pair as a candidate).
  * Sub-quadratic similarity at that threshold is *approximate* by
  * nature — see q_knn_lsh / q_knn_ivf — while THIS operator is the
  * honest exact form.
  *
  * Caller contract: vectors must have non-zero norm — a zero vector
  * yields NaN cosines, which Spark's ordering treats as LARGEST (they
  * would outrank real matches in knnJoin). Filter degenerate rows
  * upstream.
  */
object VectorSimJoin {

  /** acos with the argument clamped to [-1, 1] (FP noise in
    * dot/(|a||b|) can stray a few ULPs outside the domain). */
  private def ang(c: Column): Column =
    acos(least(lit(1.0), greatest(lit(-1.0), c)))

  /** Normalize the input to (id, v: array<double>, nrm). */
  private def prepare(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("v"), VectorExprs.norm(v).as("nrm"))
  }

  /** Deterministic coarse quantizer: the k lowest-id vectors. Centroid
    * QUALITY only affects pruning, never output correctness. */
  private def centroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy("id").limit(k)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** Data-adaptive cell count: ~√N cells, clamped to [16, 512]. The
    * block join's parallelism is bounded by the number of DISTINCT cell
    * keys and its per-task buffers by cell size, so a FIXED k caps a
    * growing corpus at k-way parallelism with O(N/k)-row cells — at the
    * 10x replica tier (20k vectors) moving 16 → √N cells measured
    * knnJoin 49.2 → 20.5 s and the τ=0.4 pair join 22.4 → 10.7 s with
    * bit-identical output. √N keeps cell size AND cell count growing as
    * √N (balanced blocks); the 512 cap keeps the k² cell-pair frame
    * broadcastable and the N·k assignment cost ≪ the N²/2 pair work. */
  private def cellsFor(n: Long): Int =
    math.max(16, math.min(512, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Broadcast the corpus when it fits comfortably in executor memory
    * (an adaptive broadcast-or-shuffle pick). Session conf
    * (tests force the shuffle path with 0); the default is the same
    * 256 MB bound under which the old plan broadcast its b-side block
    * set, so the memory story is unchanged. */
  private[graft] val BroadcastBytesKey = "spark.graft.simjoin.broadcastBytes"
  private val MaxBroadcastBlockBytes = 256L << 20

  private def broadcastGate(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption(BroadcastBytesKey).map(_.toLong)
      .getOrElse(MaxBroadcastBlockBytes)

  /** Hard ceiling on rows per packed block. The block product's skew
    * story: with one row per CELL, a hot cell (a clustered corpus where
    * 80% of vectors share one cell) becomes one giant eval that AQE
    * cannot split — skew-join rewrites operate on multi-row partitions,
    * not inside a single row. Slicing bounds every task STRUCTURALLY:
    * a cell with n rows splits into ⌈n/2048⌉ hash-slices, cell pairs
    * expand to slice pairs, and the biggest eval is ≤ 2048² dots
    * (~0.3 s) whatever the cell distribution. 2048²·8 B of unpacked
    * doubles ≈ 2 MB/task — cache-friendly, far under executor memory. */
  private[graft] val MaxBlockRows = 2048L

  /** (cell, slice, blk) — per-cell vector blocks, hash-sliced so no
    * block exceeds [[MaxBlockRows]] rows. Slice ids are deterministic
    * (xxhash64 of the vector id mod the cell's slice count). */
  private[graft] def packedBlocks(assign: DataFrame): DataFrame = {
    val cnts = assign.groupBy("cell").agg(count(lit(1)).as("n_cell"))
      .select(col("cell"),
        ceil(col("n_cell").cast("double") / MaxBlockRows.toDouble)
          .cast("long").as("n_slices"))
    assign.join(broadcast(cnts), Seq("cell"))
      .withColumn("slice", pmod(xxhash64(col("id")), col("n_slices")))
      .groupBy("cell", "slice")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("blk"))
  }

  /** (id, cell, theta, v, nrm): nearest-centroid assignment as a PURE
    * MAP (functions.NearestCellScore) — the model-sized centroid table
    * bakes into the expression and one eval scans all cells in a
    * primitive loop. The crossJoin + min_by form this replaces pushed
    * N·k rows (89M at the 100× tier) through the aggregate operator's
    * row machinery just to keep one per vector; now row volume stays N
    * with zero exchange. Output-identical: exact-operator results are
    * provably invariant to the assignment, and the emitted theta is the
    * angle to the PICKED cell either way (min_by's tie pick was
    * partition-order-dependent; the scan's lowest-cent_id tie is
    * deterministic). */
  private[graft] def assignments(e: DataFrame, cents: DataFrame): DataFrame =
    assignments(e, graft.util.Local
      .modelRows(cents.select("cent_id", "cv", "cn")))

  /** Overload on pre-collected centroid rows — callers that already hold
    * the model on the driver (the corpus-broadcast paths) skip the extra
    * collect job. */
  private[graft] def assignments(e: DataFrame,
      centRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val nc = graft.functions.IvfProbe
      .nearestCell(col("v"), col("nrm"), centRows, emitTheta = true)
    e.select(col("id"), nc.as("nc"), col("v"), col("nrm"))
      .select(col("id"), col("nc.cell").as("cell"),
        col("nc.score").as("theta"), col("v"), col("nrm"))
  }

  /** Surviving ordered cell pairs (cell_a, cell_b) under the angular
    * bound — ≤ k² rows, both orientations plus the diagonal (the
    * downstream id_a < id_b filter canonicalizes pairs, so each
    * candidate pair is produced exactly once). The slack terms keep the
    * bound sound under FP noise: they only ADMIT extra candidates. */
  private[graft] def survivingCellPairs(assign: DataFrame, cents: DataFrame,
                                        threshold: Double): DataFrame = {
    val radii = assign.groupBy("cell").agg(max(col("theta")).as("r"))
    val meta = radii.join(cents, col("cell") === col("cent_id"))
      .select(col("cell"), col("r"), col("cv"), col("cn"))
    // round(c,4) >= t admits c >= t - 5e-5; widen to t - 1e-3 for safety
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold - 1e-3)))
    val m1 = meta.select(col("cell").as("cell_a"), col("r").as("r_a"),
                         col("cv").as("cv_a"), col("cn").as("cn_a"))
    val m2 = meta.select(col("cell").as("cell_b"), col("r").as("r_b"),
                         col("cv").as("cv_b"), col("cn").as("cn_b"))
    m1.crossJoin(broadcast(m2))
      .filter(ang(VectorExprs.dot(col("cv_a"), col("cv_b")) /
                  (col("cn_a") * col("cn_b")))
                - col("r_a") - col("r_b") <= lit(thetaT + 1e-6))
      .select("cell_a", "cell_b")
  }

  /** (row count, max vector dimension) in ONE job — the broadcast-gate
    * probe. A separate count() plus a limit(1) dim sniff was two ~120 ms
    * local-mode job floors on every call. */
  private def gateProbe(e: DataFrame): (Long, Long) = {
    val r = graft.util.Local.modelRows(
      e.agg(count(lit(1)).as("n"), max(size(col("v"))).as("d"))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getInt(1).toLong)
  }

  /** All pairs (id_a < id_b) with round(cos, 4) ≥ threshold — exact.
    * `k` ≤ 0 (the default) picks the adaptive √N cell count.
    *
    * Same block-product execution as [[knnJoin]] (packed cells scored
    * inside functions.BlockSimPairs' primitive loop — no per-pair join
    * rows, no per-pair BigDecimal round), but with the angular cell-pair
    * PRUNING kept in front: only surviving cell pairs reach the scorer,
    * so clustered corpora still collapse to overlapping-cluster blocks.
    * The id_a < id_b gate inside the eval canonicalizes pairs exactly as
    * the old row-wise filter did (each unordered pair passes in exactly
    * one of a cell pair's two orientations). */
  def pairs(df: DataFrame, idCol: String, vecCol: String,
            threshold: Double, k: Int = -1): DataFrame = {
    val s = df.sparkSession
    val e = prepare(df, idCol, vecCol)
    val (n, dim) = gateProbe(e)
    val kCells = if (k > 0) k else cellsFor(n)
    val bBytes = (dim * 8L + 24L) * n
    if (bBytes <= broadcastGate(s) && n > 0) {
      // CORPUS-BROADCAST path (functions.CorpusKnn Scaladoc): ship the
      // per-cell corpus + surviving partner lists as ONE broadcast
      // variable (unpacked once per executor) and score whole packed
      // a-blocks per eval — the block-pair join, its explode fan-out
      // and the b-side block unpacking all disappear. Cell-pair
      // pruning survives, computed ON THE DRIVER from the collected
      // corpus (the same angular bound, same slack terms, no extra
      // Spark job — at sf0.1 the distributed radii+crossJoin plan and
      // the separate cents collect were two ~120 ms job floors on a
      // ~1 s key). The idb > ida suffix gate canonicalizes pairs
      // exactly as before, and the pair SET is gate-determined —
      // identical output (VectorSimJoinSpec pins both paths against
      // brute force).
      import graft.functions.CorpusKnn
      val centRows = graft.util.Local.modelRows(
        centroids(e, kCells).select("cent_id", "cv", "cn"))
      val assign = assignments(e, centRows)
      val rows = assign.select("cell", "id", "v", "nrm", "theta").collect()
      val byCellRows = rows.groupBy(_.getLong(0))
      // radii from the collected thetas; the angular bound verbatim from
      // survivingCellPairs (same 1e-3 / 1e-6 slack — double-precision
      // noise between this loop and the Catalyst form is ~1e-16, dwarfed
      // by the slack, and the bound is sound under any of it)
      val radii = byCellRows.map { case (c, rs) =>
        (c, rs.iterator.map(_.getDouble(4)).max) }
      val cmeta = centRows.iterator.map { r =>
        (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2)))
      }.toMap
      val thetaT = math.acos(math.max(-1.0,
        math.min(1.0, threshold - 1e-3))) + 1e-6
      val live = radii.keys.toArray.sorted
      val partners = live.iterator.map { a =>
        val (cva, cna) = cmeta(a)
        val ra = radii(a)
        val ps = live.filter { b =>
          val (cvb, cnb) = cmeta(b)
          var dot = 0.0
          var i = 0
          val m = math.min(cva.length, cvb.length)
          while (i < m) { dot += cva(i) * cvb(i); i += 1 }
          val c = math.max(-1.0, math.min(1.0, dot / (cna * cnb)))
          math.acos(c) - ra - radii(b) <= thetaT
        }
        (a, ps)
      }.toMap
      val byCell = byCellRows.map { case (c, rs) =>
        (c, CorpusKnn.CorpusVectors.fromRows(rs.map(r =>
          org.apache.spark.sql.Row(r.getLong(1), r.getSeq[Double](2),
            r.getDouble(3)))))
      }
      val bc = s.sparkContext.broadcast(
        new CorpusKnn.CellCorpus(byCell, partners))
      // BLOCK grain, not row grain: a per-row eval re-streams the
      // partner corpus from DRAM once per a-row (bandwidth-bound —
      // the CorpusKnn Scaladoc's 100×-tier profile); packing a-rows
      // into the same bounded (cell, slice) blocks the shuffle path
      // uses lets the eval tile chunk-outer/a-row-inner so each
      // corpus chunk is read once per BLOCK. Slice counts come from
      // the driver-side cell counts (the distributed packedBlocks
      // needs a groupBy + broadcast join just to learn them). The
      // explicit repartition spreads the byte-tiny block frame over
      // the full task width (AQE-coalesce-exempt — the knnJoin
      // lesson).
      val slices = byCellRows.map { case (c, rs) =>
        (c, math.max(1L, (rs.length + MaxBlockRows - 1) / MaxBlockRows))
      }
      val blocks = assign
        .withColumn("slice", pmod(xxhash64(col("id")),
          element_at(typedLit(slices), col("cell"))))
        .groupBy("cell", "slice")
        .agg(collect_list(struct(col("id"), col("v"), col("nrm")))
          .as("blk"))
      return blocks
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("cell"), col("slice"))
        .select(explode(CorpusKnn.blockSimPairs(col("cell"), col("blk"),
          bc, threshold)).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.cos_sim").as("cos_sim"))
    }
    val cents = centroids(e, kCells)
    val assign = assignments(e, cents)
    val cellPairs = survivingCellPairs(assign, cents, threshold)
    val blocks = packedBlocks(assign).localCheckpoint(true)
    // expand surviving cell pairs to BLOCK-KEY pairs by joining the
    // actual (cell, slice) key sets — hot cells contribute several
    // bounded slices instead of one giant block (skew handled
    // structurally; AQE's skew rewrite cannot split inside one row)
    val keysA = blocks.select(col("cell").as("cell_a"),
      col("slice").as("slice_a"))
    val keysB = blocks.select(col("cell").as("cell_b"),
      col("slice").as("slice_b"))
    val blockPairs = cellPairs
      .join(broadcast(keysA), Seq("cell_a"))
      .join(broadcast(keysB), Seq("cell_b"))
    // spread the byte-tiny pair frame explicitly (AQE-coalesce-exempt) —
    // it carries all the compute (the knnJoin lesson)
    val p = s.sessionState.conf.numShufflePartitions
    val spread = blockPairs.repartition(p,
      col("cell_a"), col("slice_a"), col("cell_b"), col("slice_b"))
    val a = blocks.select(col("cell").as("cell_a"),
      col("slice").as("slice_a"), col("blk").as("blk_a"))
    val b = blocks.select(col("cell").as("cell_b"),
      col("slice").as("slice_b"), col("blk").as("blk_b"))
    // past the corpus-broadcast gate the block sets don't broadcast
    // either — both sides attach by shuffle equi-join on the block key
    val attached = spread.join(a, Seq("cell_a", "slice_a"))
      .join(b, Seq("cell_b", "slice_b"))
    attached
      .select(explode(graft.functions.BlockKnn
        .simPairsPerBlockPair(col("blk_a"), col("blk_b"), threshold)).as("p"))
      .select("p.id_a", "p.id_b", "p.cos_sim")
  }

  /** Exact k-nearest-neighbor JOIN: the top `k` neighbors of EVERY
    * vector by cosine (self excluded) — the batch shape a training
    * pipeline runs corpus-wide, vs the single-query probe of knnCosine.
    * Candidates flow through the same cell equi-join as [[pairs]] but
    * with NO cell-pair pruning: exact top-k has no similarity floor, so
    * every block pair must be scored (exact kNN join is Ω(N²) compute —
    * the cell structure provides the memory-bounded distributed
    * block-join shape, and the ANN surfaces are the sub-quadratic
    * alternative). Ranking totalized by (rounded cosine desc, id asc). */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String,
              k: Int, cells: Int = -1): DataFrame = {
    // BLOCK product, not pair rows: pack each cell into ONE row and
    // score whole cell pairs inside functions.BlockTopK's primitive
    // loop. The old form streamed one JOIN ROW per candidate pair — N²
    // rows of hash-probe + UnsafeRow + aggregate-update machinery around
    // a 64-multiply kernel (72 s at the 10× tier, machinery-bound). Now
    // the join streams cells² block rows (≤ 512² by the adaptiveCells
    // cap), each eval runs |A|·|B| fused dots on primitive arrays, and
    // only ≤ |A|·k result structs per block pair reach the exchange —
    // operator-row volume drops from N² to N·cells·k while the
    // arithmetic (left-to-right dot, nrm division, HALF_UP 4-dp round)
    // stays bit-identical (VectorSimJoinSpec pins new ≡ old).
    // At 100 TB: the block frames shuffle-join on cell id (AQE
    // broadcasts the cells-sized pair list), per-task memory is two
    // √N-sized blocks, and the final merge is the same bounded
    // TopKByScore partial reduce — the exchange never scales with N².
    // NOTE: needs spark.sql.objectHashAggregate.sortBased
    // .fallbackThreshold above the per-partition group count (builders
    // set 500000) or ObjectHashAggregate silently falls back to sort.
    val s = df.sparkSession
    val e = prepare(df, idCol, vecCol)
    val (n, dim) = gateProbe(e)
    val bBytesPre = (dim * 8L + 24L) * n
    if (bBytesPre <= broadcastGate(s) && n > 0) {
      // CORPUS-BROADCAST path (functions.CorpusKnn Scaladoc): exact
      // top-k needs no cell structure at all — one driver collect ships
      // the whole corpus as a broadcast variable (the SAME ≤256 MB gate
      // under which the old plan broadcast its b-side block set), and
      // every row's eval scans it once with the two-phase screen. The
      // block fan-out, the block join, the per-block partial top-k AND
      // the final TopKByScore merge exchange all disappear: the plan is
      // scan → project → explode, zero exchanges, row volume N·k.
      // Output identical: same insert arithmetic under the same
      // (score desc, id asc) total order, which is scan-order-
      // independent (VectorSimJoinSpec pins both paths ≡ brute force).
      import graft.functions.CorpusKnn
      val corpus = CorpusKnn.CorpusVectors.fromRows(e.collect())
      val bc = s.sparkContext.broadcast(corpus)
      // BLOCK grain, not row grain: a per-row eval re-streams the whole
      // broadcast corpus from DRAM once per a-row — N·corpusBytes of
      // memory traffic (20 TB at the 100× tier; measured 51 s with ~98 %
      // of profile samples in SimdDot.screen). Packing a-rows into
      // bounded blocks lets the eval tile chunk-outer/a-row-inner
      // (CorpusKnn Scaladoc) so each corpus chunk is read from DRAM once
      // per BLOCK and stays L2-hot across the a-sweep. The packing
      // groupBy is ONE corpus-sized exchange — exactly what the per-row
      // form already paid to spread its byte-tiny scan over the task
      // width; ≥ numShufflePartitions blocks keeps that width.
      val p = s.sessionState.conf.numShufflePartitions
      // round the block count UP to a multiple of the task width: the
      // scoring cost is uniform per row, so equal waves beat a straggler
      // wave (98 blocks on 32 cores = 3 full waves + a 2-task tail that
      // idles 30 cores for a full block — measured ~2 s of the 100×-tier
      // wall)
      val nBlocksRaw = math.max(p.toLong, (n + MaxBlockRows - 1) / MaxBlockRows)
      val nBlocks = ((nBlocksRaw + p - 1) / p) * p
      return e
        .groupBy(pmod(xxhash64(col("id")), lit(nBlocks)).as("g"))
        .agg(collect_list(struct(col("id"), col("v"), col("nrm")))
          .as("blk"))
        .select(explode(CorpusKnn.blockTopk(col("blk"), bc, k)).as("t"))
        .select(col("t.vec_id").as("vec_id"),
          col("t.nbr_id").as("nbr_id"), col("t.cos_sim").as("cos_sim"))
    }
    val cents = centroids(e, if (cells > 0) cells else cellsFor(n))
    val assign = assignments(e, cents)
    // collect_list order is partition-dependent — harmless: BlockTopK
    // selects under the (score desc, id asc) TOTAL order, so block
    // content order never reaches the output. localCheckpoint: the
    // sliced block frame feeds multiple consumers below — materialize
    // once instead of recomputing the assignment pipeline per consumer.
    val blocks = packedBlocks(assign).localCheckpoint(true)
    // block keys are model-sized (≤ cells × slices rows of two longs) —
    // the util.Local collect discipline, same as AnnIndex's probed-cell
    // list
    val blockKeys = graft.util.Local.model(blocks.select("cell", "slice"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // Fan each a-block out to every partner block WITHOUT a join: the
    // pair frame is byte-tiny but carries ALL the compute, and left to
    // AQE it coalesces into one partition (measured: the 10× tier
    // serialized at 57 s; as a shuffle join it instead sort-exchanged
    // 3 GB of block payloads twice). An EXPLICIT repartition of the
    // block frame (exempt from AQE coalescing) spreads the a-blocks,
    // then exploding the literal key list multiplies rows in place — no
    // exchange touches a block row after this point. Hot cells arrive
    // pre-sliced (packedBlocks), so no eval exceeds MaxBlockRows² dots.
    val p = s.sessionState.conf.numShufflePartitions
    val aSide = blocks
      .repartition(p, col("cell"), col("slice"))
      .select(col("blk").as("blk_a"), explode(typedLit(blockKeys)).as("bk"))
      .select(col("blk_a"), col("bk._1").as("cell_b"),
        col("bk._2").as("slice_b"))
    // b-blocks attach by equi-join on the block key (the memory-sized
    // corpus case took the broadcast path above and never reaches here).
    val b = blocks.select(col("cell").as("cell_b"),
      col("slice").as("slice_b"), col("blk").as("blk_b"))
    // past the corpus-broadcast gate the block set doesn't broadcast
    // either — b-blocks attach by shuffle equi-join on the block key,
    // which the N² scoring dwarfs anyway
    val bJoined = aSide.join(b, Seq("cell_b", "slice_b"))
    bJoined
      .select(explode(graft.functions.BlockKnn
        .topkPerBlockPair(col("blk_a"), col("blk_b"), k)).as("p"))
      .select("p.vec_id", "p.nbr_id", "p.cos_sim")
      .groupBy("vec_id")
      .agg(graft.functions.TopKByScore
        .topk(col("cos_sim"), col("nbr_id"), k).as("top"))
      .select(col("vec_id"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("t.id").as("nbr_id"),
              col("t.score").as("cos_sim"))
  }

  /** Test/diagnostic hook: (surviving cell pairs, total possible k²). */
  private[graft] def pruningStats(df: DataFrame, idCol: String,
                                  vecCol: String, threshold: Double,
                                  k: Int): (Long, Long) = {
    val e = prepare(df, idCol, vecCol)
    val cents = centroids(e, k)
    val assign = assignments(e, cents)
    val nCells = assign.select("cell").distinct().count()
    (survivingCellPairs(assign, cents, threshold).count(), nCells * nCells)
  }
}
