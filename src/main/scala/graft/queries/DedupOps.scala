package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Q
import graft.operators.{MinHashLSH, PrefixFilter}
import graft.sources.Tables
import graft.util.Det._

/** Extended dedup / similarity family (north-star first-class operators,
  * beyond SURVEY §2.10's core): MinHash+LSH near-dup, SimHash near-dup,
  * embedding-cosine near-dup, LSH-bucketed + IVF ANN, exact corpus-wide
  * kNN join, and multimodal binary plumbing.
  *
  * Oracle strategy per key:
  *  - q_dedup_minhash: SQL — candidates come from banding, then EXACT
  *    Jaccard verification, so the final pair set equals the exact
  *    oracle's (banding recall ≈ 1 at the fixture's J distribution;
  *    equality asserted again in ScalaTest at two scale factors).
  *  - q_dedup_embed / q_multimodal_binary: SQL (engine-identical math).
  *  - q_dedup_simhash / q_knn_lsh: test-oracled (their hash families
  *    cannot be replicated in DuckDB) — driver records rows-only.
  */
object DedupOps {

  /** CONTENT-GRAIN near-dup machinery shared by q_dedup_near and
    * q_dedup_cluster: exact duplicates — the dominant near-dup
    * population of a real crawl corpus, and exactly what the replica
    * tiers simulate — share one text, so shingling, prefix filtering,
    * and the exact Jaccard verify all run once per DISTINCT text
    * (the SimHash.pairs signature-grain discipline applied to the
    * Jaccard family). Doc pairs expand from group membership: identical
    * texts have identical shingle sets, so J(member_a, member_b) ≡
    * J(rep_a, rep_b) and intra-group pairs are J = 1.0 by definition —
    * the expansion is a pure map-side explode with a bit-identical
    * result (zero-shingle texts expand to nothing, matching the
    * full-grain behavior where they never enter the shingle frame).
    *
    * Returns (groups with a has_sh flag, qualifying rep-grain pairs,
    * expanded doc-grain pairs (doc_a < doc_b, jaccard)). Grouping key
    * is the text itself (exact equality); a 100-TB build would group on
    * sha2(text, 256) to keep the shuffle narrow. */
  private[graft] def grainedNearDup(docs: DataFrame, t: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val g = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep"),
           collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true) // distinct-text-sized; consumed 4×
    val sh = LlmOps.shingles(
      g.select(col("rep").as("doc_id"), col("text")))
    val cands = PrefixFilter.candidatePairs(sh, t)
    val rp = jaccardPairs(sh, Some(cands))
      .filter(col("jaccard_raw") >= t)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint(true) // consumed by expansion AND cluster CC
    // has_sh decided from the TEXT, not the shingle frame (r18): a doc
    // has >= 1 shingle iff it has >= 3 words — exactly shingleRows'
    // `size(toks) >= n` gate (n = 3 here; array_distinct never empties
    // a non-empty transform). The old form re-aggregated the shingle
    // frame (distinct) and left-joined it back — two exchanges for a
    // predicate the group row already carries (guide §2.4). Bit-equal
    // by the gate identity; the SQL oracle re-verifies both cluster
    // keys end-to-end.
    val gf = g.withColumn("has_sh",
      size(split(col("text"), " ")) >= 3)
    // narrow (rep, doc_id) membership — a SINGLE explode per row is
    // memory-safe; the expansions below are equi-joins on it, never a
    // double-explode whose intermediate rows each carry the whole
    // member array (quadratic memory on a hot group — the class that
    // OOMed SimHash's first content-grain cut at the 100× tier)
    val m = g.select(col("rep"), explode(col("members")).as("doc_id"))
    val mSh = m.join(gf.filter(col("has_sh")).select("rep"), Seq("rep"))
    val intra = mSh.select(col("rep"), col("doc_id").as("doc_a"))
      .join(mSh.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    // memberships are disjoint, so each unordered doc pair surfaces
    // exactly once — no trailing distinct
    val inter = rp
      .join(m.select(col("rep").as("doc_a"), col("doc_id").as("da")),
        Seq("doc_a"))
      .join(m.select(col("rep").as("doc_b"), col("doc_id").as("db")),
        Seq("doc_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
              greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    (gf, rp, intra.unionByName(inter))
  }

  /** Exact Jaccard over (doc_a, doc_b) shingle sets, optionally restricted
    * to a candidate pair set (the LSH path). With candidates, pair rows
    * are generated CANDIDATE-FIRST — each candidate pair pulls only its
    * own two shingle sets — so the full shared-shingle self-join (the
    * cost LSH banding exists to avoid) is never enumerated. Without,
    * one shuffle on the shingle hash enumerates all sharing pairs. */
  private[graft] def jaccardPairs(sh: DataFrame,
                                    candidates: Option[DataFrame]): DataFrame = {
    val counted = candidates match {
      case Some(c) =>
        // verify per PAIR against per-doc shingle PROFILES (sorted array
        // + size): one codegen'd array_intersect per candidate instead of
        // the candidate×shingle explode + re-aggregation shuffle
        // (containmentPairs rationale; measured 3.3 → 1.7 s there).
        // No broadcast hint: the candidate set scales with OUTPUT size
        // (100x-replica probe: 2.5M pairs) — AQE broadcasts small sets
        // and shuffles large ones on the doc-id keys.
        val sets = sh.groupBy("doc_id")
          .agg(sort_array(collect_list(col("shingle"))).as("ss"),
               count(lit(1)).as("n_sh"))
        c.join(sets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
                           col("n_sh").as("n_a")), Seq("doc_a"))
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
                            col("n_sh").as("n_b")), Seq("doc_b"))
          .withColumn("n_inter",
            size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .select("doc_a", "doc_b", "n_a", "n_b", "n_inter")
      case None =>
        // exhaustive form: pairs must first be FOUND, which only the
        // shingle equi-join can do without candidates
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        sh.select(col("doc_id").as("doc_a"), col("shingle"))
          .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
                Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
                Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
                Seq("doc_b"))
    }
    counted
      // jaccard_raw is the UNROUNDED similarity: threshold filters must use
      // it, because the prefix-filter theorem (PrefixFilter) only guarantees
      // candidate coverage for true J >= t — filtering on the 6-dp rounded
      // value would also accept J in [t - 5e-7, t), a window the prefix path
      // does not promise to cover. The rounded `jaccard` is display/hash
      // stability only (§7.6), never a predicate input.
      .withColumn("jaccard_raw",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .withColumn("jaccard", round(col("jaccard_raw"), 6))
  }

  /** IVF-flat probe against a given centroid table: assign every corpus
    * vector to its max-cosine cell, probe the query's `nprobe` nearest
    * cells, return the true-cosine top-10. Parameterized by `cents` so
    * the spec can compare quantizers (k-means vs degenerate) on the
    * identical probe path. */
  private[graft] def ivfProbe(emb: DataFrame, cents: DataFrame,
                              nprobe: Int): DataFrame = {
    def cellOf(df: DataFrame, idCol: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("sim").desc, col("cent_id").asc)
      df.crossJoin(broadcast(cents))
        .withColumn("sim",
          graft.functions.VectorExprs.dot(col("v"), col("cv")) /
            (col("nrm") * col("cnrm")))
        .withColumn("rk", row_number().over(w))
    }
    // corpus side: pure-map top-1 (functions.NearestCellScore — same
    // tie order as the window form); the windowed cellOf stays for the
    // one-row query probe, where k rows is nothing
    val nc = graft.functions.IvfProbe.nearestCell(col("v"), col("nrm"),
      graft.util.Local.modelRows(cents.select("cent_id", "cv", "cnrm")),
      emitTheta = false)
    val assigned = emb
      .select(col("vec_id"), col("v"), col("nrm"),
        nc.getField("cell").cast("int").as("cell"))
    val qCells = cellOf(emb.filter(col("vec_id") === 0), "vec_id")
      .filter(col("rk") <= nprobe)
      .select(col("cent_id").as("cell"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(qCells), Seq("cell"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(
        graft.functions.VectorExprs.dot(col("v"), col("qv")) /
          (col("nrm") * col("qnrm")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Deterministic pseudo-random ±1 hyperplane component — pure integer
    * arithmetic, identical on every JVM (no RNG object). */
  private def hyperplane(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val x = (i.toLong * 2654435761L + j.toLong * 40503L + 12345L)
      if (((x >>> 16) & 1L) == 1L) 1.0 else -1.0
    }

  /** The shared (root, normalized embeddings, query vector) preamble of
    * q_knn_index_query and q_knn_rerank. ONE definition because both
    * answer from the SAME on-disk index root: the build parameters
    * (k=8, m=16, dim=64, kCodes=16) must stay identical or whichever
    * query runs first would silently determine the index the other
    * answers from. */
  private def annIndexFor(s: org.apache.spark.sql.SparkSession, d: String)
      : (String, DataFrame, Seq[Double]) = {
    import graft.operators.AnnIndex
    val root = Scans.scratch("annindex", s, d)
    val emb = LlmOps.embDouble(Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("v"))
    if (!AnnIndex.exists(s, root))
      AnnIndex.build(emb, root, k = 8, m = 16, dim = 64, kCodes = 16)
    // the query VECTOR is an input a retrieval API receives, not part
    // of the index: one pushed-down single-row scan
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("v")).first().getSeq[Double](0)
    (root, emb, qv)
  }

  /** Exact top-3 list (vec_id, nbr_id, cos_sim) off the VectorSimJoin
    * block machinery. Computed from the parquet input on EVERY call:
    * the r18 at-rest memo (first key writes the result list to a
    * scratch leaf, later keys — and later RUNS — read it back) timed
    * the declared computation as a parquet reload, which the r18
    * verdict ruled result-caching, not optimization. Each consumer now
    * pays its own scan inside its timed region; the within-query reuse
    * (the graph form reads the list twice) is an in-flight
    * localCheckpoint in [[mutualKnnGraph]], recomputed per invocation. */
  private def exactKnnList(s: org.apache.spark.sql.SparkSession,
                           d: String): DataFrame = {
    graft.util.Confs.ensureObjectHashHeadroom(s)
    graft.operators.VectorSimJoin
      .knnJoin(Tables.embeddings(s, d), "vec_id", "embedding", k = 3)
  }

  /** Mutual-kNN edges (vec_a < vec_b, cos_sim) for q_knn_graph and
    * q_knn_graph_cluster — the exact top-3 list, symmetrized with a
    * narrow self-equi-join (k·N rows each side, no re-scoring). The
    * list is localCheckpointed so the fwd/bwd sides of the
    * symmetrization share ONE scan per invocation — in-flight
    * materialization inside the timed region, not an at-rest memo. */
  private def mutualKnnGraph(s: org.apache.spark.sql.SparkSession,
                             d: String): DataFrame = {
    val knn = exactKnnList(s, d).localCheckpoint(true)
    val fwd = knn.select(col("vec_id").as("vec_a"),
      col("nbr_id").as("vec_b"), col("cos_sim"))
    val bwd = knn.select(col("vec_id").as("vec_b"),
      col("nbr_id").as("vec_a"))
    fwd.join(bwd, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** SDC approximate top-3 list off the STORED AnnIndex (built on first
    * call per (session, sf) — the offline-index-build stand-in) for
    * q_knn_join_ann, q_knn_graph_ann and (via [[annMutualEdges]])
    * q_knn_graph_cluster_ann: columns (vec_id, nbr_id, approx_d2).
    * The SDC SCORING pass runs on every call (the r18 at-rest result
    * memo is gone — see [[exactKnnList]]); only the trained MODELS
    * (coarse centroids + PQ codebooks) persist, the same offline-
    * index-build discipline as every other stored-index key. */
  private def annKnnList(s: org.apache.spark.sql.SparkSession,
                         d: String): DataFrame = {
    graft.util.Confs.ensureObjectHashHeadroom(s)
    import graft.operators.AnnIndex
    val root = Scans.scratch("annsdc", s, d)
    lazy val embN = LlmOps.embDouble(Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("v"))
    if (!AnnIndex.exists(s, root)) {
      val nCells = math.max(8, math.min(512,
        math.ceil(math.sqrt(embN.count().toDouble)).toInt))
      // kCodes=32, not the ADC default 16: BOTH pair sides are
      // quantized under SDC (≈2× ADC's error), so the codebook is
      // finer — the SdcKnnJoin Scaladoc's measured recall rationale
      AnnIndex.build(embN, root, k = nCells, m = 16, dim = 64,
        kCodes = 32)
    }
    graft.operators.SdcKnnJoin.joinWithModels(
      embN.withColumn("nrm",
        graft.functions.VectorExprs.norm(col("v"))),
      AnnIndex.centroids(s, root), AnnIndex.codebooks(s, root),
      kCodes = 32, k = 3)
  }

  /** Mutual edges of the ANN top-3 lists (vec_a < vec_b, approx_d2) —
    * q_knn_graph's symmetrization applied to annKnnList, for
    * q_knn_graph_ann and q_knn_graph_cluster_ann. The list is
    * localCheckpointed (k·N rows, in-flight, per invocation) and
    * symmetrized with the same narrow (vec_a, vec_b) self-equi-join as
    * the exact graph — no re-scoring. */
  private def annMutualEdges(s: org.apache.spark.sql.SparkSession,
                             d: String): DataFrame = {
    val knn = annKnnList(s, d).localCheckpoint(true)
    val fwd = knn.select(col("vec_id").as("vec_a"),
      col("nbr_id").as("vec_b"), col("approx_d2"))
    val bwd = knn.select(col("vec_id").as("vec_b"),
      col("nbr_id").as("vec_a"))
    fwd.join(bwd, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b", "approx_d2")
  }

  /** The exhaustive batch×corpus exact-Jaccard recompute (batch =
    * doc_id%5==0, stored corpus = the rest) — the same shingle/Jaccard
    * definition as exactJaccardOracleSql with the pair universe
    * restricted to the split; shared by q_dedup_index_query and its
    * compacted twin (compaction preserves answers exactly). */
  private val dedupIndexQueryOracleSql: String =
    """WITH sh AS (
         SELECT DISTINCT doc_id, u.s AS shingle FROM documents,
         UNNEST(list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]))) AS u(s)),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
                COUNT(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         GROUP BY 1, 2)
       SELECT batch_doc, corpus_doc,
         round(CAST(n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON batch_doc = sa.doc_id
       JOIN sizes sb ON corpus_doc = sb.doc_id
       WHERE CAST(n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
       ORDER BY batch_doc, corpus_doc"""

  /** The mutual-kNN edge set as DuckDB SQL (brute-force ranked CTE),
    * shared by the q_knn_graph and q_knn_graph_cluster oracles. */
  private val mutualKnnCtes: String =
    """pairs AS (
         SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
             AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER
           (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
         FROM pairs),
       knn AS (SELECT vec_id, nbr_id, cos_sim FROM ranked WHERE rn <= 3),
       mut AS (
         SELECT a.vec_id AS vec_a, a.nbr_id AS vec_b, a.cos_sim
         FROM knn a JOIN knn b
           ON a.vec_id = b.nbr_id AND a.nbr_id = b.vec_id
         WHERE a.vec_id < a.nbr_id)"""

  /** Stride-grid window machinery for q_dedup_substring (see the key's
    * Scaladoc: exact for stride-aligned repeats, the alignment caveat
    * is what [[substringWinnow]] closes). */
  private[graft] def substringStride(docs: DataFrame,
      l: Int = 40, s: Int = 20): DataFrame = {
    val wins = docs
      .filter(length(col("text")) >= l)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (l - 1), lit(s)))
          .as("pos"))
      .select(col("doc_id"),
        col("text").substr(col("pos"), lit(l)).as("w"))
    val occ = wins.groupBy("w").agg(count(lit(1)).as("occ"))
    wins.join(occ, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("1000 * n_dup_windows div n_windows").as("dup_permille"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint machinery for q_dedup_substring_winnow (and
    * its spec's crafted-corpus laws). K-gram length [[k]], window of
    * [[w]] consecutive grams; guarantee threshold = k + w − 1 chars.
    * See the key's Scaladoc for the algorithm and scale notes. */
  private[graft] def substringWinnow(docs: DataFrame,
      k: Int = 20, w: Int = 21): DataFrame = {
    // One map-side monotonic-deque expression per document
    // (functions.WinnowFps): the declarative form — gram explode +
    // per-doc rows-between window min — materialized 140M k-char gram
    // ROWS at the 100× tier and paid a doc_id exchange plus a per-doc
    // SORT of 20-byte string keys just to share scans across
    // overlapping windows: 52.7 s, the round-16 `weak`, and the sort
    // constant only grows with corpus size. (A transform/slice/
    // array_min HOF form was also tried: w-array allocation PER WINDOW,
    // ≥ 5× worse — PLANS_r16.) The deque computes the same minima in
    // O(n) amortized gram pushes with ZERO pre-aggregation shuffle;
    // the first corpus-sized exchange is now the fingerprint-frequency
    // groupBy below — the answer's own grain. Output is bit-identical
    // (WinnowFpsSpec pins expression ≡ declarative window plan on
    // fixture text) so the DuckDB window-min oracle is unchanged.
    val fps = docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps.fps(col("text"), k, w)).as("wm"))
    val occ = fps.groupBy("wm").agg(count(lit(1)).as("n_docs"))
    fps.join(occ, Seq("wm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared_fp"))
      .select(col("doc_id"), col("n_fp"), col("n_shared_fp"),
        expr("1000 * n_shared_fp div n_fp").as("shared_permille"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    // ---- MinHash + banded LSH near-dup: the scale path of q_dedup_near.
    // Same output contract (pairs with exact J >= 0.8); candidates come
    // from the band-bucket equi-join instead of the full shingle join.
    "q_dedup_minhash" -> ((s, d) => {
      val sh = LlmOps.shingles(Tables.documents(s, d))
      val cands = MinHashLSH.candidatePairs(sh, k = 16, b = 8, r = 2)
      jaccardPairs(sh, Some(cands))
        .filter(col("jaccard_raw") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // ---- SimHash near-dup: 64-bit signature = sign of per-bit vote sums
    // over token hashes; near-dups = hamming distance <= 3. One pass for
    // signatures (64 parallel aggregates), then 4×16-bit BAND equi-join
    // candidates (pigeonhole: hamming <= 3 ⟹ at least one of 4 bands is
    // bit-identical, so recall is exactly 1 — see operators.SimHash) and
    // an exact hamming verify. Test-oracled (xxhash64 is not reproducible
    // in DuckDB); a ScalaTest asserts output equality vs the all-pairs
    // form at two scale factors.
    "q_dedup_simhash" -> ((s, d) => {
      graft.operators.SimHash.pairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")
    }),

    // ---- Decision-grain SimHash dedup: (doc_id, cluster_id, is_keeper)
    // via connected components over the hamming near-dup graph, computed
    // entirely at signature/rep grain (operators.SimHash.clusters — the
    // q_dedup_cluster shape). The pair form's OUTPUT is quadratic in the
    // duplication factor (1.009B rows at the 100× replica probe, and
    // streaming them WAS that tier's cost); real pipelines consume the
    // DECISION, which is corpus-sized — this is the surface they run.
    // Test-oracled like q_dedup_simhash (xxhash64 has no DuckDB twin):
    // a ScalaTest pins it label-for-label ≡ DedupCluster over the
    // expanded q_dedup_simhash pair set.
    "q_dedup_simhash_cluster" -> ((s, d) => {
      graft.operators.SimHash.clusters(Tables.documents(s, d))
        .orderBy("doc_id")
    }),

    // ---- Embedding-cosine near-dup over the documents' vectors: the
    // dedup framing of similarity (keeper = smaller id). EXACT output via
    // the centroid-cell candidate join (operators.VectorSimJoin) — a
    // shuffle equi-join on cell ids with sound angular pruning, replacing
    // the broadcast-bounded all-pairs form; same SQL oracle, and a
    // ScalaTest asserts pair-set equality vs brute force at two tiers.
    "q_dedup_embed" -> ((s, d) => {
      graft.operators.VectorSimJoin
        .pairs(Tables.embeddings(s, d), "vec_id", "embedding",
               threshold = 0.4)
        .withColumnsRenamed(Map("id_a" -> "keep_id", "id_b" -> "dup_id"))
        .orderBy("keep_id", "dup_id")
    }),

    // ---- SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    // k-means cells first, pairwise cosine only WITHIN a cell (pair work
    // O(N²/k) by construction), keep policy = farthest-from-centroid
    // first. Completes the published-method dedup family next to
    // MinHash (lexical), SimHash (bitwise) and the exact cosine
    // threshold join. Centroids train on the deterministic half-sample
    // (the q_knn_ivf discipline); the pair search is an equi-join on
    // the cell id, never a corpus nested loop. Test-oracled: k-means is
    // not SQL-expressible; SemDedupSpec pins brute-force equality of
    // the full decision frame plus the keep-policy laws.
    "q_dedup_semantic" -> ((s, d) => {
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
        .select(col("vec_id"),
          transform(col("v"), x => x / col("nrm")).as("v"))
        .withColumn("nrm", graft.functions.VectorExprs.norm(col("v")))
      val cents = graft.operators.IvfKMeans.centroids(
        emb.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(2L)) === 0L),
        k = 8, iters = 2)
      graft.operators.SemDedup.decisions(emb, cents, tau = 0.4)
        .withColumn("cent_sim", round(col("cent_sim"), 6))
        .orderBy("vec_id")
    }),

    // ---- LSH-bucketed approximate nearest neighbors: the scale path of
    // q_knn_cosine. 8 deterministic random hyperplanes → 8-bit bucket;
    // the query probes only its own bucket (candidates shrink ~256×; at
    // 100 TB the bucket id becomes the shuffle/partition key). Test-
    // oracled: results are verified against brute force in ScalaTest.
    "q_knn_lsh" -> ((s, d) => {
      val dim = 64
      val planes = (0 until 8).map(j => typedLit(hyperplane(j, dim)))
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
      def bucket(v: org.apache.spark.sql.Column) =
        (0 until 8).map { j =>
          when(graft.functions.VectorExprs.dot(v, planes(j)) > 0.0,
               lit(1L << j)).otherwise(0L)
        }.reduce(_.bitwiseOR(_))
      val bucketed = emb.withColumn("bucket", bucket(col("v")))
      val q = bucketed.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qnrm"),
                col("bucket").as("qbucket"))
      bucketed.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("qbucket"))
        .select(col("vec_id"), round(
          graft.functions.VectorExprs.dot(col("v"), col("qv")) /
            (col("nrm") * col("qnrm")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10)
    }),

    // ---- IVF-flat approximate nearest neighbors: the OTHER ANN scale
    // path (vs q_knn_lsh's hyperplane buckets). Coarse quantizer = 8
    // REAL spherical-k-means centroids (operators.IvfKMeans: hash-seeded,
    // 2 Lloyd rounds, decimal-exact means — fully deterministic); every
    // vector is assigned to its nearest centroid cell, the query probes
    // its nprobe=2 nearest cells. At 100 TB the cell id is the partition
    // key and each probe touches ~nprobe/ncells of the corpus. Test-
    // oracled (cosines verified against brute force; recall@10 floor
    // asserted at two tiers).
    "q_knn_ivf" -> ((s, d) => {
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
      // coarse training on a deterministic HALF-sample: the centroid
      // model needs a representative sample, not the corpus — constant
      // training cost as data grows (the q_knn_pq discipline); the full
      // corpus is still ASSIGNED to cells below
      val cents = graft.operators.IvfKMeans.centroids(
        emb.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(2L)) === 0L),
        k = 8, iters = 2)
      ivfProbe(emb, cents, nprobe = 2)
    }),

    // ---- Product-quantized ANN (the compression half of IVF+PQ): m=16
    // subspaces × k=16 L2 codewords = 8 bytes per 64-dim vector (32×
    // under float32); query scored via the ADC table (m lookups per
    // candidate, no float vector touched at query time). Vectors are
    // L2-NORMALIZED first so squared-L2 order ≡ cosine order
    // (d² = 2 − 2cos). Test-oracled: codebook training is not
    // SQL-expressible — and the fixture embeddings are quasi-random
    // (top-10 cosines 0.27–0.33, inter-rank gaps below any quantizer's
    // error), so ProductQuantizerSpec pins recall ≥ 0.8 on a
    // deterministic CLUSTERED corpus and a closer-than-average law
    // here.
    "q_knn_pq" -> ((s, d) => {
      import graft.operators.ProductQuantizer._
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
        .select(col("vec_id"),
          transform(col("v"), x => x / col("nrm")).as("v"))
      val subs = subvectors(emb, m = 16, dim = 64).localCheckpoint(true)
      // codebooks train on a deterministic quarter-sample — the actual
      // 100-TB discipline (training cost stays constant as the corpus
      // grows; only encode/ADC scale), not just a Scaladoc promise.
      // ProductQuantizerSpec pins recall on the sampled path too.
      val train = subs.filter(
        pmod(xxhash64(col("vec_id"), lit(99)), lit(4L)) === 0L)
      val cb = codebooks(train, k = 16, iters = 2)
      val codes = encode(subs.filter(col("vec_id") =!= 0), cb)
      adcTopK(codes, cb, subs.filter(col("vec_id") === 0), n = 10)
    }),

    // ---- The COMPOSED IVF+PQ index (FAISS IVFPQ shape): coarse cells
    // prune the corpus to nprobe partitions, PQ codebooks quantize the
    // RESIDUALS (v − cell centroid — concentrated near 0, so the same
    // 16 codewords fit far tighter than on raw vectors), and each
    // probed cell gets its own query-residual ADC table. The corpus
    // artifact is (cell, 8-byte codes): cell id partitions, codes
    // scan. Test-oracled like the other ANN variants.
    "q_knn_ivfpq" -> ((s, d) => {
      val e0 = LlmOps.embDouble(Tables.embeddings(s, d))
      val emb = e0
        .select(col("vec_id"),
          transform(col("v"), x => x / col("nrm")).as("v"))
        .withColumn("nrm", graft.functions.VectorExprs.norm(col("v")))
      // coarse training on a deterministic HALF-sample: the centroid
      // model needs a representative sample, not the corpus — constant
      // training cost as data grows (the q_knn_pq discipline); the full
      // corpus is still ASSIGNED to cells below
      val cents = graft.operators.IvfKMeans.centroids(
        emb.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(2L)) === 0L),
        k = 8, iters = 2)
      graft.operators.ProductQuantizer.ivfpqTopK(
        emb, cents, m = 16, dim = 64, kCodes = 16, nprobe = 2,
        queryId = 0, n = 10)
    }),

    // ---- IVF+PQ index AT REST (operators.AnnIndex): the artifact form
    // of q_knn_ivfpq. First call per (session, sf) TRAINS and PERSISTS
    // the index — (cell, 8-byte codes) parquet partitioned by coarse
    // cell, plus centroid/codebook model tables; every later call (and
    // any real deployment, where the build is an offline job) answers
    // the probe purely from storage: static partition pruning reads
    // only the nprobe probed cells' files, ADC tables broadcast, no
    // raw vector is touched. Result is bit-identical to q_knn_ivfpq
    // (same training samples/seeds/expressions — pinned in
    // AnnIndexSpec). Test-oracled like the other ANN surfaces.
    "q_knn_index_query" -> ((s, d) => {
      val (root, _, qv) = annIndexFor(s, d)
      graft.operators.AnnIndex
        .query(s, root, qv, nprobe = 2, n = 10, excludeId = Some(0L))
    }),

    // ---- round 17: METADATA-FILTERED probe of the STORED index — the
    // q_knn_filtered serving shape answered from the artifact: the
    // index carries an ATTRIBUTE SIDECAR (attrs/ — (vec_id, label)
    // rows hive-partitioned on the SAME (cell, batch) keys as the
    // codes, the Vespa/Milvus layout), so a filtered probe prunes BOTH
    // scans to the nprobe probed cells at file-listing level, semi-
    // joins the predicate's survivors onto the code rows BEFORE any
    // ADC work (filtered top-k ≠ filter(top-k)), and never touches a
    // raw vector or an unprobed cell. Test-oracled like every PQ
    // surface; AnnIndexSpec pins filtered ≡ filter-then-rank over the
    // unfiltered candidate universe, the sidecar folding through
    // compaction, and the no-sidecar loud failure.
    "q_knn_index_filtered" -> ((s, d) => {
      import graft.operators.AnnIndex
      val root = Scans.scratch("annindexf", s, d)
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
        .select(col("vec_id"),
          transform(col("v"), x => x / col("nrm")).as("v"))
      if (!AnnIndex.exists(s, root))
        AnnIndex.build(emb, root, k = 8, m = 16, dim = 64, kCodes = 16,
          attrs = Some(Tables.embeddings(s, d)
            .select(col("vec_id"), col("label").cast("long").as("label"))))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("v")).first().getSeq[Double](0)
      AnnIndex.query(s, root, qv, nprobe = 2, n = 10,
        excludeId = Some(0L), attrFilter = Some(col("label") === 1L))
    }),

    // ---- COMPACTION of the ANN index — the maintenance operator that
    // completes the stored-index family (dedup and inverted indexes got
    // theirs in round 14): backfill (two thirds of the corpus, which
    // also trains the models) + one streamed-style ingest batch (the
    // remaining third, encoded against the STORED models exactly as
    // s_knn_index_ingest commits micro-batches), folded into a single
    // batch-0 partition set, then the q_knn_index_query probe against
    // the compacted artifact. Compaction preserves code ROWS exactly
    // and the ADC sum is order-independent, so the probe answers
    // bit-identically before and after (pinned in AnnIndexSpec, with
    // the file-count fold and the high-water-mark replay refusal) —
    // only the physical layout changes, and for the better: one file
    // per cell instead of one per (ingest × shuffle partition). Exists
    // because every probe lists/opens the probed cells' accumulated
    // files and per-file open cost degrades probe latency at flat row
    // volume — the round-14 measured small-file trap, closed here for
    // the third and last stored index. Test-oracled like every ANN
    // surface (PQ quantization is not SQL-expressible in DuckDB).
    "q_knn_index_compact" -> ((s, d) => {
      import graft.operators.AnnIndex
      val root = Scans.scratch("annindexcpt", s, d)
      val emb = LlmOps.embDouble(Tables.embeddings(s, d))
        .select(col("vec_id"),
          transform(col("v"), x => x / col("nrm")).as("v"))
      if (!AnnIndex.exists(s, root)) {
        val m3 = pmod(col("vec_id"), lit(3))
        AnnIndex.build(emb.filter(m3 =!= 0), root,
          k = 8, m = 16, dim = 64, kCodes = 16)
        AnnIndex.append(emb.filter(m3 === 0), root, batchId = 1)
        AnnIndex.compact(s, root)
      }
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("v")).first().getSeq[Double](0)
      AnnIndex.query(s, root, qv, nprobe = 2, n = 10, excludeId = Some(0L))
    }),

    // ---- TWO-STAGE retrieval (the production serving shape): the
    // stored IVF+PQ index nominates a 100-candidate pool (nprobe=3,
    // 10× the final k, quantized distances), then the EXACT cosine
    // re-ranks ONLY those candidates against their raw vectors. PQ
    // error then affects only candidate SELECTION, not final order:
    // within the probed cells the ranking is exact (law pinned in
    // RerankSpec), which is why every ANN system re-ranks. The
    // candidate fetch here is a 100-row broadcast hash join probing
    // the embeddings scan — O(pool) join work; at 100 TB the raw
    // vectors would live in a keyed store and this join becomes true
    // point lookups, but either way the EXACT work is bounded by the
    // pool, never the corpus.
    "q_knn_rerank" -> ((s, d) => {
      val (root, emb, qv) = annIndexFor(s, d)
      // Over-fetch 10× the final k (vs 4× first tried): the pool is
      // nominated by QUANTIZED distances, so a too-small pool lets ADC
      // noise crowd out true neighbors (measured recall@10: 0.7 at
      // n=40/nprobe=2, and WIDENING cells without widening the pool made
      // it worse — 0.5 at n=40/nprobe=3, the extra cell's noisy
      // candidates displacing true ones).
      val cand = graft.operators.AnnIndex
        .query(s, root, qv, nprobe = 3, n = 100, excludeId = Some(0L))
        .select("vec_id")
      emb.join(broadcast(cand), "vec_id")
        .withColumn("cos",
          round(graft.functions.VectorExprs.dot(col("v"), typedLit(qv)), 6))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("cos"))
    }),

    // ---- MinHash/LSH dedup index AT REST (operators.DedupIndex): the
    // artifact form of q_dedup_minhash, and the INCREMENTAL dedup shape —
    // the corpus (doc_id % 5 != 0, standing in for the already-indexed
    // 100-TB store) is signatured once into the stored docs table (band
    // hashes + sorted shingle set per doc); the incoming batch (doc_id %
    // 5 == 0, a day's documents) is signatured in flight and deduped
    // against the index with ZERO corpus shuffle (batch bands broadcast;
    // the stored docs stream). First call per (session, sf) builds the artifact, every
    // later call — and any real deployment, where the build is the
    // initial backfill — answers purely from storage. SQL-oracled like
    // q_dedup_minhash: exact-Jaccard verify makes precision exact, and
    // banding recall at the fixture's J distribution is 1 (equality vs
    // the exhaustive pair set asserted in DedupIndexSpec at two tiers).
    "q_dedup_index_query" -> ((s, d) => {
      import graft.operators.DedupIndex
      val root = Scans.scratch("dedupindex", s, d)
      val docs = Tables.documents(s, d)
      if (!DedupIndex.exists(s, root))
        DedupIndex.buildDocs(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), root)
      DedupIndex.queryBatchDocs(s, root,
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          threshold = 0.8)
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- Compaction of the dedup index: backfill (60% of the stored
    // corpus) + one streamed-style increment (20%; the remaining 20% is
    // the probe batch — the two-increment fold is exercised in
    // DedupIndexSpec) folded into a single ingest-0 partition set, then
    // the q_dedup_index_query probe
    // against the compacted artifact. Compaction is a pure physical-
    // layout change (stored rows preserved exactly, high-water
    // mark refuses re-appends of folded ingests — DedupIndexSpec pins
    // both), so the oracle is the SAME exact-Jaccard recompute as the
    // uncompacted key: answer equality across the rewrite IS the
    // assertion. The maintenance step matters at 100 TB because every
    // queryBatch re-scans the artifact and probe cost degrades with
    // accumulated increment FILE count even when row volume is flat
    // (the measured small-file trap — operators/DedupIndex Scaladoc).
    "q_dedup_index_compact" -> ((s, d) => {
      import graft.operators.DedupIndex
      val root = Scans.scratch("dedupindexcpt", s, d)
      val docs = Tables.documents(s, d)
      if (!DedupIndex.exists(s, root)) {
        val m = pmod(col("doc_id"), lit(5L))
        DedupIndex.buildDocs(docs.filter(m === 1 || m === 2 || m === 3), root)
        DedupIndex.appendDocs(docs.filter(m === 4), root, ingestId = 1)
        DedupIndex.compact(s, root)
      }
      DedupIndex.queryBatchDocs(s, root,
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          threshold = 0.8)
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- The BACKFILL-WAVE shape of the dedup index: the same stored
    // artifact, but the incoming "batch" is CORPUS-SCALE (the 80% side
    // of the split screened against a 20% index — a re-crawl or initial
    // backfill, vs q_dedup_index_query's daily increment). At replica
    // tiers the batch outgrows the broadcast threshold and the join
    // takes the SHUFFLE branch — the plan that exists because a forced
    // broadcast of a 100k-doc batch OOMed the 100× probe. Branch
    // equivalence (shuffle ≡ broadcast, bit-for-bit) and both plan
    // shapes are pinned in DedupIndexSpec.
    "q_dedup_index_backfill" -> ((s, d) => {
      import graft.operators.DedupIndex
      val root = Scans.scratch("dedupbackfill", s, d)
      val docs = Tables.documents(s, d)
      if (!DedupIndex.exists(s, root))
        DedupIndex.buildDocs(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), root)
      DedupIndex.queryBatchDocs(s, root,
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          threshold = 0.8)
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- Exact corpus-wide kNN JOIN: top-3 neighbors of EVERY vector —
    // the batch retrieval/dedup-clustering shape (vs q_knn_cosine's one
    // query). Distributed block join via the VectorSimJoin cell
    // machinery; ranking totalized on (rounded cosine desc, id asc).
    "q_knn_join" -> ((s, d) =>
      // computes its own all-pairs scan every run (no at-rest result
      // memo — see exactKnnList)
      exactKnnList(s, d)
        .orderBy(col("vec_id"), col("cos_sim").desc, col("nbr_id"))),

    // ---- Mutual-kNN graph: keep edge (a, b) iff b ∈ knn(a) AND
    // a ∈ knn(b) — the standard symmetrization that turns a directed
    // top-k list into the undirected graph that graph-based clustering
    // and semantic-dedup methods consume (mutual edges are the strong
    // ties; one-directional neighbors of a hub are noise). See
    // mutualKnnGraph: the kNN list is computed once PER INVOCATION
    // (the q_knn_join block machinery) and localCheckpointed so the
    // symmetrization's two sides share one scan — it is k·N rows,
    // corpus-sized, so the symmetrization is a narrow self-equi-join
    // on (vec_a, vec_b), no vector is re-scored. SQL-oracled off the
    // brute-force ranked CTE.
    "q_knn_graph" -> ((s, d) =>
      mutualKnnGraph(s, d).orderBy("vec_a", "vec_b")),

    // ---- Mutual-kNN graph → cluster decision: connected components
    // over the mutual edges (the q_dedup_cluster fixpoint, reused
    // verbatim) — the embedding-space analog of near-dup clustering and
    // the grouping step of graph-based semantic dedup/topic binning.
    // Mutual edges only: hub vertices don't glue unrelated regions into
    // one giant component the way raw top-k edges do. SQL-oracled: the
    // same recursive-CC CTE as q_dedup_cluster over the brute-force
    // mutual edge set.
    "q_knn_graph_cluster" -> ((s, d) => {
      val verts = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
      graft.operators.DedupCluster.clusters(verts,
          mutualKnnGraph(s, d)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .withColumn("is_keeper",
          (col("vec_id") === col("cluster_id")).cast("long"))
        .orderBy("vec_id")
    }),

    // ---- Approximate ALL-PAIRS kNN join (IVF cells + PQ symmetric
    // distance — SDC): the sub-quadratic sibling of q_knn_join. Vectors
    // are PQ-encoded once; a pair is scored by m array LOOKUPS into the
    // inter-codeword distance literal instead of a dim-wide float dot —
    // at 100 TB this is the batch-retrieval shape (encode O(N), score
    // O(pairs·m) adds with no per-sub join or exchange). The models
    // (coarse centroids + PQ codebooks) come from STORED AnnIndex
    // artifacts: the first call per (session, sf) trains and persists
    // them — in a real deployment an offline index build — and every
    // later call answers with assignment + encode + scoring only, no
    // k-means and no corpus count. The adaptive √N cell count (the
    // VectorSimJoin discipline — fixed cells would grow same-cell pair
    // work N²/k) is an INDEX-BUILD parameter, measured once at build
    // time, never a query-time scan. Training samples/seeds match the
    // in-flight form exactly (AnnIndex.build ≡ SdcKnnJoin.join's
    // primary-residual quarter-sample), so the ranking is bit-identical
    // to retraining. Test-oracled like the other ANN surfaces:
    // SdcKnnJoinSpec pins recall ≥ 0.8 on a clustered corpus vs
    // computed brute-force truth (through the stored-index path) and
    // bans pair nested loops from the executed plan.
    "q_knn_join_ann" -> ((s, d) =>
      annKnnList(s, d).orderBy("vec_id", "approx_d2", "nbr_id")),

    // ---- Mutual-kNN graph at ANN grain: q_knn_graph's symmetrization
    // applied to the SDC approximate top-3 lists instead of the exact
    // ones — the SCALE path for graph construction. The exact graph is
    // bounded below by the exact kNN join it contains (~98 s at the
    // 100× replica tier); this form rides the stored-index SDC join
    // (~4.5 s at 100×) and the same narrow (vec_a, vec_b) self-equi-
    // join, so corpus-scale graph clustering stays index-bound, not
    // O(N·cell-width·dim)-bound. Approximation semantics: an edge
    // survives iff each endpoint ranks the other in its APPROX top-3 —
    // both endpoints quantized (SDC), so the graph is a recall-bounded
    // subset-ish of the exact mutual graph (a pair can also enter when
    // quantization promotes it; CorpusOpsSpec measures edge recall ≥
    // 0.7 against the exact mutual edges on the clustered fixture —
    // where ANN is meaningful — and pins the mutual/symmetry laws on
    // the table). Test-oracled — ANN output is not SQL-replicable.
    "q_knn_graph_ann" -> ((s, d) =>
      annMutualEdges(s, d).orderBy("vec_a", "vec_b")),

    // ---- Mutual-kNN graph → cluster decision at ANN grain: the scale
    // twin of q_knn_graph_cluster. Same DedupCluster fixpoint, but over
    // the STORED-index SDC mutual edges (annMutualEdges) instead of the
    // exact kNN graph — so corpus-scale semantic grouping stays
    // index-bound: the exact form's input alone costs ~100 s at the
    // 100× replica tier (BENCH_100x q_knn_graph) while the ANN graph
    // builds in ~5 s there, and the fixpoint cost is identical (it sees
    // only edges, ~k·N rows either way). Approximation semantics are
    // inherited from the edge set (recall-bounded vs the exact mutual
    // graph); the clustering itself is exact CC over those edges —
    // confluent min-label, deterministic. Test-oracled like its input:
    // CorpusOpsSpec replays the labels driver-side (union-find over the
    // q_knn_graph_ann edge set: co-labeled iff connected, cluster_id =
    // component min, non-edge vertices singleton) and measures
    // co-membership recall vs the exact clustering on the clustered
    // fixture, where ANN is meaningful.
    "q_knn_graph_cluster_ann" -> ((s, d) => {
      val verts = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
      graft.operators.DedupCluster.clusters(verts,
          annMutualEdges(s, d)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .withColumn("is_keeper",
          (col("vec_id") === col("cluster_id")).cast("long"))
        .orderBy("vec_id")
    }),

    // ---- Multimodal binary plumbing: an opaque binary column (here the
    // utf-8 bytes of `text` standing in for image/audio payloads) plus
    // typed metadata, flowed through a deterministic stub "decode" —
    // the schema/partitioning/flattening pattern a real decoder plugs
    // into (see graft.operators.Multimodal for the mapPartitions form).
    // ---- Duplicated-SUBSTRING detection (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): document-level dedup
    // misses the boilerplate CASE — licenses, headers, templated prose —
    // that repeats INSIDE otherwise-distinct documents. The published
    // remedy scans for duplicated fixed-length character windows; here:
    // stride-20 length-40 windows. ALIGNMENT CAVEAT: each occurrence of
    // a repeated run of ≥ 2L chars contains a full window of its OWN
    // doc's stride grid, but two occurrences only produce the same
    // window STRING when their offsets agree modulo the stride — so
    // detection is exact for stride-aligned repetition (whole-prefix /
    // identical-offset duplication, the dominant boilerplate case) and
    // misses misaligned cross-document repeats (Lee et al.'s
    // suffix-array ExactSubstr has no blind spot; stride=1 would close
    // it here at L× the window rows). Spark and the DuckDB oracle
    // implement the same definition, so differential correctness is
    // unaffected. Then: a corpus-wide
    // occurrence count per window string, and per-doc duplicated-window
    // counts + an INTEGER per-mille fraction (no float quotient — the
    // q_quality_gopher portability rule). At 100 TB the window string
    // would be xxhash64'd before the aggregate (counts are
    // hash-invariant); the grouped string keeps the oracle exact here.
    // Plan: explode ≈ n_chars/stride rows/doc, one map-side-combinable
    // count keyed by window, one equi-join back — the
    // q_quality_dupngrams shape at character level, no nested loop.
    "q_dedup_substring" -> ((s, d) =>
      substringStride(Tables.documents(s, d))),

    // ---- Duplicated-substring detection via WINNOWING (Schleimer,
    // Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    // Fingerprinting" — the MOSS algorithm): closes q_dedup_substring's
    // stride-alignment blind spot. That key only catches two occurrences
    // of a repeat whose offsets agree modulo the stride; winnowing's
    // guarantee is offset-FREE: with k-gram length K and window size W,
    // any substring of length ≥ K + W − 1 shared by two documents puts
    // at least one COMMON fingerprint in both documents' sets, because
    // some window of W consecutive k-grams lies entirely inside the
    // shared region in each doc, those windows hold identical gram
    // multisets, and both select the same minimum. K=20, W=21 pins the
    // guarantee threshold at 40 chars — the same repeat length the
    // stride key targets. Selection key is the lexicographic min GRAM
    // (deterministic and engine-portable; production would select by
    // xxhash64 min for unbiased ~2/(W+1) fingerprint density — the
    // min-STRING form biases selection toward low bytes but keeps the
    // ≥1-fingerprint-per-window coverage bound, and lets the DuckDB
    // oracle replicate the selection exactly). Output: per doc the
    // fingerprint-set size, how many fingerprints are SHARED with
    // another document, and the integer per-mille fraction (cross-doc
    // grain — intra-doc repetition is the stride key's domain).
    // Plan at 100 TB: one doc_id shuffle + per-doc sort for the window
    // min (documents are MB-bounded, so per-partition work is bounded),
    // a distinct, one map-side-combinable count per fingerprint, one
    // equi-join back — no pair product anywhere; gram strings would be
    // xxhash64'd before the corpus-wide agg (counts hash-invariant).
    "q_dedup_substring_winnow" -> ((s, d) =>
      substringWinnow(Tables.documents(s, d))),

    // ---- C4-style cross-doc BOILERPLATE coverage: word 5-grams that
    // appear in ≥2 DISTINCT documents (nav bars, license headers, cookie
    // banners — the text every crawl repeats) and, per doc, how much of
    // it is covered by such grams (union of the flagged 5-token windows,
    // not a window count — overlapping windows must not double-count).
    // The report drives the C4 family of cleanup rules ("drop lines seen
    // elsewhere in the corpus"). Plan: one gram explode (checkpointed —
    // the frame feeds BOTH the distinct-doc count and the coverage
    // join), one groupBy on the gram to find common ones, a narrow
    // join-back (AQE broadcasts the flagged-gram set when small, shuffles
    // when a 100-TB corpus makes it large), and a distinct-position
    // count — everything equi-join/agg, no pair products anywhere
    // (PlanShapeSpec pins no nested loop).
    "q_dedup_boilerplate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val g = gramRows(docs).localCheckpoint(true)
      boilerplateCoverage(docs, g, commonGrams(g, minDocs = 2))
    }),

    // ---- the blocklist AT REST (cluster_assign discipline): the
    // common-gram artifact is built ONCE per (session, sf) and every
    // later call — and any real deployment, where the blocklist is an
    // offline byproduct of the last corpus sweep — reads it back and
    // runs ONLY the coverage pass (gram explode + blocklist equi-join +
    // window union; no distinct-doc count over the corpus). Blocklist
    // from the same corpus ⇒ stored answer ≡ the in-flight key
    // bit-for-bit ⇒ SHARES its oracle. Also the artifact the
    // s_boilerplate stream scores against.
    "q_boilerplate_at_rest" -> ((s, d) => {
      val root = Scans.scratch("boilerblock", s, d)
      val docs = Tables.documents(s, d)
      if (!blocklistExists(s, root)) {
        // cold path: the gram explode feeds BOTH the blocklist build and
        // the coverage pass — checkpoint it once (the q_dedup_boilerplate
        // discipline) instead of exploding the corpus twice
        val g = gramRows(docs).localCheckpoint(true)
        commonGrams(g, minDocs = 2).write.mode("overwrite").parquet(root)
        boilerplateCoverage(docs, g, s.read.parquet(root))
      } else
        boilerplateCoverage(docs, gramRows(docs), s.read.parquet(root))
    }),

    // ---- Perceptual-hash dedup — binary CONTENT drives the decision
    // (operators/PHash): payload bytes → 9×8 block-average pixel grid
    // (the stub decode seam; a real cluster swaps in libjpeg + true
    // resize at the same pure-expression slot) → 63-bit dHash →
    // SimHash's banded-candidate + rep-grain CC machinery at hamming
    // ≤ 3. The signature is one map-side pass; all pair work runs per
    // DISTINCT signature, so re-posted identical images cost nothing
    // extra. SQL-oracled end-to-end: DuckDB computes the identical
    // pixels/hash from the same bytes (both grids generated from one
    // geometry constant) and clusters with the recursive-CC CTE.
    "q_dedup_phash" -> ((s, d) =>
      graft.operators.PHash.clusters(Tables.documents(s, d))
        .orderBy("doc_id")),

    // ---- Per-FRAME perceptual dedup — the video-modality analog
    // (operators/PHash.frameContainment): Multimodal.sampleFrames fans
    // each payload into 72-byte frame windows (the decoder seam — a
    // real deployment swaps ffmpeg seek+decode into that mapPartitions
    // iterator), each frame gets the same 9×8-grid dHash as
    // q_dedup_phash, and doc_a is a SUB-SEQUENCE duplicate of doc_b
    // when ≥ 0.8 of its distinct frame hashes occur in doc_b — the
    // q_dedup_containment predicate at frame grain, catching the clip-
    // inside-a-longer-video duplication that whole-payload hashing
    // cannot (the payloads' dHashes differ completely). CONTENT grain:
    // sampling/hashing/pair work once per DISTINCT payload, candidates
    // per distinct frame hash (equi-join), never corpus². SQL-oracled:
    // DuckDB samples/hashes the identical frames from the same bytes
    // (both sides generated from one geometry constant).
    "q_dedup_frames" -> ((s, d) =>
      graft.operators.PHash.frameContainment(Tables.documents(s, d))),

    // ---- Frame-containment DECISION — the per-frame family's cluster
    // form (q_dedup_cluster / q_dedup_phash's shape): connected
    // components over the UNDIRECTED closure of the directed
    // containment pairs (a clip and its container are one dedup group
    // whichever way containment held), keeper = component-min doc_id,
    // singletons labeled. Pair generation is the content-grain
    // q_dedup_frames machinery; the fixpoint is the shared
    // DedupCluster star contraction run at REP grain — only
    // distinct-payload edges enter the contraction, doc labels expand
    // linearly afterwards (the doc-grain alternative OOMed at the 100×
    // replica tier on the quadratic intra-group pair expansion —
    // PHash.frameClusters records the measurement). SQL-oracled
    // with the recursive-CC CTE over this family's own pair predicate.
    "q_dedup_frames_cluster" -> ((s, d) =>
      graft.operators.PHash.frameClusters(Tables.documents(s, d))
        .orderBy("doc_id")),

    // ---- Frame-hash index AT REST (operators/FrameIndex) — the
    // screen-then-admit loop's query face: the reference corpus
    // (backfill 60%, doc_id%5 in {1,2,3}) plus one streamed-style
    // admission wave (%5=4, encoded and committed as its own ingest
    // partition exactly as s_frame_index_ingest does) is screened by
    // an incoming batch (%5=0) for directed frame containment — "is
    // this upload a clip of a stored video?" — with the corpus never
    // re-hashed: the batch samples/hashes only itself and broadcasts
    // onto the streamed stored rows. SQL-oracled end-to-end (the
    // oracle recomputes the identical frames/hashes/screen from the
    // same split — append ≡ rebuild makes the stored detour
    // invisible, pinned in FrameIndexSpec).
    "q_frame_index_query" -> ((s, d) => {
      import graft.operators.{FrameIndex, PHash}
      val root = Scans.scratch("frameindex", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!FrameIndex.exists(s, root)) {
        FrameIndex.build(docs.filter(m5 =!= 0 && m5 =!= 4), root)
        FrameIndex.append(docs.filter(m5 === 4), root, ingestId = 1)
      }
      PHash.screenFrames(docs.filter(m5 === 0), FrameIndex.stored(s, root),
          hotHashes = Some(FrameIndex.hotHashes(s, root)))
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- The BACKFILL-WAVE shape of the frame index (the
    // q_dedup_index_backfill discipline): a CORPUS-SCALE batch (the
    // 80% split side — a re-crawl of the video corpus) screened
    // against the stored 20% index. screenFrames is one plain
    // equi-join, so at replica tiers Catalyst sizes the wave past the
    // broadcast threshold and plans the exchange — a forced broadcast
    // of a corpus-scale frame-signature set is how a re-crawl OOMs.
    // Branch equivalence (shuffle ≡ broadcast bit-for-bit, both
    // thresholds forced to −1) pinned in FrameIndexSpec.
    "q_frame_index_backfill" -> ((s, d) => {
      import graft.operators.{FrameIndex, PHash}
      val root = Scans.scratch("frameindexbf", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!FrameIndex.exists(s, root))
        FrameIndex.build(docs.filter(m5 === 0), root)
      PHash.screenFrames(docs.filter(m5 =!= 0), FrameIndex.stored(s, root),
          hotHashes = Some(FrameIndex.hotHashes(s, root)))
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- COMPACTION of the frame-hash index — the maintenance step
    // completing the FOURTH stored-index lifecycle (dedup, inverted,
    // ANN indexes are the siblings): the backfill + admission wave
    // folded into a single range-partitioned fhash-sorted ingest-0
    // set, then the q_frame_index_query screen against the compacted
    // artifact. Rows are preserved exactly (each ingest holds distinct
    // docs) so the screen answers identically — the oracle equality IS
    // the assertion; the high-water mark refuses re-appends of folded
    // ingests and the swap is the crash-safe util.IndexStore protocol.
    "q_frame_index_compact" -> ((s, d) => {
      import graft.operators.{FrameIndex, PHash}
      val root = Scans.scratch("frameindexcpt", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!FrameIndex.exists(s, root)) {
        FrameIndex.build(docs.filter(m5 =!= 0 && m5 =!= 4), root)
        FrameIndex.append(docs.filter(m5 === 4), root, ingestId = 1)
        FrameIndex.compact(s, root)
      }
      PHash.screenFrames(docs.filter(m5 === 0), FrameIndex.stored(s, root),
          hotHashes = Some(FrameIndex.hotHashes(s, root)))
        .orderBy("batch_doc", "corpus_doc")
    }),

    // ---- Perceptual-hash (dHash) index AT REST (operators/PHashIndex)
    // — the FIFTH stored index, the image-modality serving twin of
    // q_dedup_phash: the corpus is hashed once into an 8-byte-signature
    // band table and every new batch screens against the stored rows
    // (one band join, broadcast for an increment-sized batch, plus an
    // on-row hamming verify: zero corpus shuffle). Recall is EXACT by
    // pigeonhole (hamming ≤ 3 < 4 bands), so unlike the ANN family
    // these keys are SQL-oracled: DuckDB
    // recomputes the same dHash from the same bytes and takes the
    // brute-force hamming join over the same %5 split.
    "q_phash_index_query" -> ((s, d) => {
      import graft.operators.PHashIndex
      val root = Scans.scratch("phashindex", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!PHashIndex.exists(s, root)) {
        PHashIndex.build(docs.filter(m5 =!= 0 && m5 =!= 4), root)
        PHashIndex.append(docs.filter(m5 === 4), root, ingestId = 1)
      }
      PHashIndex.queryBatch(s, root, docs.filter(m5 === 0))
        .orderBy("batch_doc", "corpus_doc")
    }),

    // the backfill-wave flip (the q_dedup_index_backfill discipline):
    // a corpus-scale batch (the 80% side — a re-crawl) against the
    // stored 20% index; at replica tiers Catalyst sizes the batch past
    // the broadcast threshold and plans the band-keyed exchange instead
    // (branch equivalence pinned in PHashIndexSpec)
    "q_phash_index_backfill" -> ((s, d) => {
      import graft.operators.PHashIndex
      val root = Scans.scratch("phashbackfill", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!PHashIndex.exists(s, root))
        PHashIndex.build(docs.filter(m5 === 0), root)
      PHashIndex.queryBatch(s, root, docs.filter(m5 =!= 0))
        .orderBy("batch_doc", "corpus_doc")
    }),

    // compaction of the phash index: backfill + admission wave folded
    // into one band_idx-partitioned probe-key-sorted ingest-0 set; the
    // screen answers identically (oracle equality IS the assertion),
    // the high-water mark refuses folded replays, and the swap is the
    // crash-safe util.IndexStore protocol
    "q_phash_index_compact" -> ((s, d) => {
      import graft.operators.PHashIndex
      val root = Scans.scratch("phashindexcpt", s, d)
      val docs = Tables.documents(s, d)
      val m5 = pmod(col("doc_id"), lit(5))
      if (!PHashIndex.exists(s, root)) {
        PHashIndex.build(docs.filter(m5 =!= 0 && m5 =!= 4), root)
        PHashIndex.append(docs.filter(m5 === 4), root, ingestId = 1)
        PHashIndex.compact(s, root)
      }
      PHashIndex.queryBatch(s, root, docs.filter(m5 === 0))
        .orderBy("batch_doc", "corpus_doc")
    }),

    "q_multimodal_binary" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("meta", struct(
          length(col("payload")).cast("long").as("n_bytes"),
          lit("text/plain").as("mime")))
        .select(
          col("doc_id"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.mime").as("mime"),
          // stub features a decoder would emit, derived deterministically
          ascii(substring(col("text"), 1, 1)).cast("long").as("head_byte"),
          (col("meta.n_bytes") % 251).as("checksum_stub"))
        .orderBy("doc_id")
    })
  )

  /** Word-5-gram rows (doc_id, n_tok, pos, gram), pos 1-based — the
    * boilerplate-detection grain, shared by the batch key and the
    * streaming scorer. Docs under 5 tokens emit nothing (they cannot
    * contain a 5-gram; guarded BEFORE `sequence` — Spark's sequence(1, n)
    * with n < 1 runs descending rather than empty). */
  private[graft] def gramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"),
        explode(expr("sequence(1, size(toks) - 4)")).as("pos"))
      .select(col("doc_id"), col("n_tok"), col("pos"),
        concat_ws(" ", expr("slice(toks, pos, 5)")).as("gram"))

  /** Grams appearing in at least `minDocs` DISTINCT documents — the
    * boilerplate blocklist (the at-rest artifact a streaming gate
    * scores against). Distinct-first, then a plain count: avoids the
    * count-distinct expand over the full gram frame. */
  private[graft] def commonGrams(g: DataFrame, minDocs: Int): DataFrame =
    g.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")

  private[graft] def blocklistExists(s: org.apache.spark.sql.SparkSession,
                                     root: String): Boolean =
    graft.util.IndexStore.isCommitted(s, root)

  /** Per-doc boilerplate coverage given a gram frame and a blocklist:
    * (doc_id, n_tok, n_boiler_tok, boiler_permille), every doc present
    * (clean docs report 0). Coverage = |union of flagged [pos, pos+4]
    * windows| via explode + distinct — exact even when windows overlap. */
  private[graft] def boilerplateCoverage(docs: DataFrame, g: DataFrame,
                                         block: DataFrame): DataFrame = {
    val flagged = g.join(block, Seq("gram")).select("doc_id", "pos")
    val cov = flagged
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 4)")).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler_tok"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_boiler_tok", coalesce(col("n_boiler_tok"), lit(0L)))
      .withColumn("boiler_permille",
        expr("(1000 * n_boiler_tok) div n_tok"))
      .orderBy("doc_id")
  }

  /** The boilerplate-coverage oracle — ONE copy shared by
    * q_dedup_boilerplate and q_boilerplate_at_rest (the stored blocklist
    * is built from the same corpus, so the at-rest answer is the
    * in-flight answer bit-for-bit). */
  private val boilerplateOracleSql: String =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       g AS (
         SELECT doc_id, i AS pos,
           list_aggregate(l[i:i+4], 'string_agg', ' ') AS gram
         FROM t, unnest(generate_series(1, len(l) - 4)) AS u(i)
         WHERE len(l) >= 5),
       c AS (
         SELECT gram FROM (
           SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
         WHERE nd >= 2),
       f AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN c USING (gram)),
       cov AS (
         SELECT doc_id, COUNT(DISTINCT pos + o) AS nb
         FROM f, unnest(generate_series(0, 4)) AS v(o) GROUP BY 1)
       SELECT d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         CAST(COALESCE(cov.nb, 0) AS BIGINT) AS n_boiler_tok,
         CAST((1000 * COALESCE(cov.nb, 0))
              // len(string_split(d.text, ' ')) AS BIGINT)
           AS boiler_permille
       FROM documents d LEFT JOIN cov ON cov.doc_id = d.doc_id
       ORDER BY d.doc_id"""

  /** Exact word-3-gram Jaccard ≥ 0.8 pairs — shared by q_dedup_near AND
    * q_dedup_minhash (whose LSH candidates + exact verify produce the
    * same final pair set). ONE copy: any change to the shingle/Jaccard
    * definition edits both oracles in lockstep. */
  private[queries] val exactJaccardOracleSql: String =
    """WITH sh AS (
         SELECT DISTINCT doc_id, u.s AS shingle FROM documents,
         UNNEST(list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]))) AS u(s)),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
         round(CAST(n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON doc_a = sa.doc_id
       JOIN sizes sb ON doc_b = sb.doc_id
       WHERE CAST(n_inter AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
       ORDER BY doc_a, doc_b"""

  val oracle: Map[String, String] = Map(
    "q_dedup_minhash" -> exactJaccardOracleSql,
    "q_dedup_substring" ->
      """WITH wins AS (
           SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS w
           FROM documents,
                unnest(generate_series(1, length(text) - 39, 20)) AS t(i)
           WHERE length(text) >= 40),
         occ AS (SELECT w, COUNT(*) AS occ FROM wins GROUP BY 1)
         SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST(1000 * SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS dup_permille
         FROM wins JOIN occ USING (w)
         GROUP BY doc_id ORDER BY doc_id""",
    // same winnowing definition: stride-1 20-grams, lexicographic min
    // over each window of 21 consecutive grams (full windows only),
    // distinct fingerprints per doc, shared = in ≥ 2 docs
    "q_dedup_substring_winnow" ->
      """WITH grams AS (
           SELECT doc_id, length(text) - 19 AS n_g, CAST(i AS INTEGER) AS pos,
                  substr(text, CAST(i AS INTEGER), 20) AS g
           FROM documents,
                unnest(generate_series(1, length(text) - 19)) AS t(i)
           WHERE length(text) >= 40),
         wm AS (
           SELECT doc_id, n_g, pos,
             min(g) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 20 FOLLOWING) AS wm
           FROM grams),
         fps AS (SELECT DISTINCT doc_id, wm FROM wm WHERE pos <= n_g - 20),
         occ AS (SELECT wm, COUNT(*) AS n_docs FROM fps GROUP BY 1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp,
           CAST(1000 * SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS shared_permille
         FROM fps JOIN occ USING (wm)
         GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_boilerplate" -> boilerplateOracleSql,
    // blocklist built from the same corpus ⇒ stored ≡ in-flight
    "q_boilerplate_at_rest" -> boilerplateOracleSql,
    // the incremental form: exhaustive batch×corpus exact Jaccard — the
    // same shingle/Jaccard definition as exactJaccardOracleSql with the
    // pair universe restricted to the batch/corpus split
    "q_dedup_index_query" -> dedupIndexQueryOracleSql,
    // compaction is a pure physical-layout rewrite of the same stored
    // corpus (3/5 backfill + 1/5 increment folded to ingest 0), so the
    // compacted probe answers the IDENTICAL exact-Jaccard recompute —
    // oracle equality across the rewrite is the assertion
    "q_dedup_index_compact" -> dedupIndexQueryOracleSql,
    // the backfill-wave flip of the same oracle: batch = the 80% side,
    // stored corpus = the 20% side
    "q_dedup_index_backfill" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, u.s AS shingle FROM documents,
           UNNEST(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2]))) AS u(s)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
                  COUNT(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
           WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
           GROUP BY 1, 2)
         SELECT batch_doc, corpus_doc,
           round(CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
         FROM inter
         JOIN sizes sa ON batch_doc = sa.doc_id
         JOIN sizes sb ON corpus_doc = sb.doc_id
         WHERE CAST(n_inter AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.8
         ORDER BY batch_doc, corpus_doc""",
    "q_knn_join" ->
      """WITH pairs AS (
           SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 4)
               AS cos_sim
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
         ranked AS (
           SELECT *, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id ASC) AS rn
           FROM pairs)
         SELECT vec_id, nbr_id, cos_sim FROM ranked WHERE rn <= 3
         ORDER BY vec_id, cos_sim DESC, nbr_id""",
    "q_knn_graph" ->
      s"""WITH $mutualKnnCtes
         SELECT vec_a, vec_b, cos_sim FROM mut
         ORDER BY vec_a, vec_b""",
    "q_knn_graph_cluster" ->
      s"""WITH RECURSIVE $mutualKnnCtes,
         edges AS (
           SELECT vec_a AS src, vec_b AS dst FROM mut
           UNION ALL
           SELECT vec_b AS src, vec_a AS dst FROM mut),
         reach AS (
           SELECT vec_id AS src, vec_id AS dst FROM embeddings
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS vec_id, MIN(dst) AS cluster_id,
                CAST(src = MIN(dst) AS BIGINT) AS is_keeper
         FROM reach GROUP BY src ORDER BY vec_id""",
    "q_dedup_embed" ->
      """SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4)
           AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
               >= 0.4
         ORDER BY keep_id, dup_id""",
    "q_dedup_phash" -> {
      val sig = graft.operators.PHash.oracleSignatureSql()
      s"""WITH RECURSIVE sig AS ($sig),
          np AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
            ON a.doc_id < b.doc_id
               AND bit_count(xor(a.phash, b.phash)) <= 3),
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM np
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM np),
          reach AS (
            SELECT doc_id AS src, doc_id AS dst FROM documents
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          SELECT r.src AS doc_id, s.phash,
                 MIN(r.dst) AS cluster_id,
                 CAST(r.src = MIN(r.dst) AS BIGINT) AS is_keeper
          FROM reach r JOIN sig s ON s.doc_id = r.src
          GROUP BY r.src, s.phash
          ORDER BY doc_id"""
    },

    "q_dedup_frames" ->
      graft.operators.PHash.oracleFrameContainmentSql(),

    "q_dedup_frames_cluster" ->
      graft.operators.PHash.oracleFrameClusterSql(),

    "q_frame_index_query" ->
      graft.operators.PHash.oracleScreenSql(
        "d.doc_id % 5 = 0", "d.doc_id % 5 <> 0"),

    "q_frame_index_backfill" ->
      graft.operators.PHash.oracleScreenSql(
        "d.doc_id % 5 <> 0", "d.doc_id % 5 = 0"),

    "q_frame_index_compact" ->
      graft.operators.PHash.oracleScreenSql(
        "d.doc_id % 5 = 0", "d.doc_id % 5 <> 0"),

    "q_phash_index_query" ->
      graft.operators.PHash.oraclePhashScreenSql(
        "d.doc_id % 5 = 0", "d.doc_id % 5 <> 0"),

    "q_phash_index_backfill" ->
      graft.operators.PHash.oraclePhashScreenSql(
        "d.doc_id % 5 <> 0", "d.doc_id % 5 = 0"),

    "q_phash_index_compact" ->
      graft.operators.PHash.oraclePhashScreenSql(
        "d.doc_id % 5 = 0", "d.doc_id % 5 <> 0"),

    "q_multimodal_binary" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         'text/plain' AS mime,
         CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS head_byte,
         CAST(octet_length(encode(text)) % 251 AS BIGINT) AS checksum_stub
         FROM documents ORDER BY doc_id"""
  )
}
