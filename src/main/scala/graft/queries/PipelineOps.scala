package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.operators.{DedupCluster, PrefixFilter}
import graft.sources.Tables

/** Training-pipeline operators beyond the pair-finding family: dedup
  * CLUSTERING (pairs → canonical keeper decision) and deterministic
  * hash-based sampling / train-test splitting — the row-level plumbing a
  * 100-TB corpus pipeline runs between ingestion and training.
  *
  * Scale design:
  *  - q_dedup_cluster: connected components via min-label propagation
  *    over the PAIR-GRAPH vertices only (operators.DedupCluster) — the
  *    iteration count tracks component diameter (near-dup clusters are
  *    near-cliques), never corpus size; the corpus rejoins once as
  *    singletons through one anti-join.
  *  - q_sample_stratified / q_split_train: stateless per-row arithmetic
  *    on the id — no shuffle at all until the split AGGREGATION, and a
  *    sample is reproducible forever from the id alone (no RNG state, no
  *    seed files). Per-stratum rates are a CASE expression, so the scan
  *    filter pushes to parquet row groups where stats allow.
  */
object PipelineOps {

  /** FUZZY-decontamination index AT REST — the stored face of
    * q_decontam_near, shared with the s_decontam_near stream: the bench
    * suite's MinHash BAND table (candidate generation) and exact shingle
    * PROFILES (verification), written bands-first / profiles-LAST so a
    * reader gating on the profile dir's _SUCCESS never sees a torn
    * index. Both artifacts are suite-sized — they broadcast at any
    * corpus scale. */
  private[graft] def storeDecontamNearIndex(bench: DataFrame,
                                            root: String): Unit = {
    import graft.operators.MinHashLSH
    val sh = graft.Graft.shingleRows(bench, "doc_id", "text")
      .localCheckpoint(true)
    MinHashLSH.bands(MinHashLSH.signatures(sh, 16), b = 8, r = 2)
      .write.mode("overwrite").parquet(s"$root/bands")
    sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("ss"),
           count(lit(1)).as("n_sh"))
      .write.mode("overwrite").parquet(s"$root/profiles")
  }

  private[graft] def decontamNearIndexExists(
      s: org.apache.spark.sql.SparkSession, root: String): Boolean =
    graft.util.IndexStore.isCommitted(s, s"$root/profiles")

  /** Score a batch of (doc_id, text) docs against the STORED bench
    * index: batch bands ⋈ stored bands for candidates, exact-Jaccard
    * verify against stored profiles, per-doc best match — O(batch)
    * shingling plus broadcast joins against the suite-sized artifacts;
    * the corpus is never shuffled. Identical arithmetic to
    * q_decontam_near, so the declared key is the truth oracle for any
    * batching of the same docs. */
  private[graft] def scoreStoredDecontam(s: org.apache.spark.sql.SparkSession,
                                         root: String,
                                         batch: DataFrame): DataFrame = {
    import graft.operators.MinHashLSH
    val sh = graft.Graft.shingleRows(batch, "doc_id", "text")
      .localCheckpoint(true)
    val cands = MinHashLSH.bands(MinHashLSH.signatures(sh, 16), b = 8, r = 2)
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      .join(broadcast(s.read.parquet(s"$root/bands")
        .select(col("doc_id").as("doc_b"), col("band_idx"),
                col("band_hash"))),
        Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct()
    val batchProf = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("sa"),
           count(lit(1)).as("n_a"))
      .withColumnRenamed("doc_id", "doc_a")
    val benchProf = s.read.parquet(s"$root/profiles")
      .select(col("doc_id").as("doc_b"), col("ss").as("sb"),
              col("n_sh").as("n_b"))
    cands.join(batchProf, Seq("doc_a"))
      .join(broadcast(benchProf), Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard_raw",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard_raw") >= 0.8)
      .withColumn("jaccard", round(col("jaccard_raw"), 6))
      .select(col("doc_a").as("doc_id"), col("doc_b"), col("jaccard"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_hits"),
           max(struct(col("jaccard"), (-col("doc_b")).as("nb"))).as("m"))
      .select(col("doc_id"), (-col("m.nb")).as("best_bench_id"),
              col("m.jaccard").as("best_jaccard"), col("n_bench_hits"))
  }

  /** The near-dup dedup DECISION frame (doc_id, cluster_id, is_keeper),
    * shared by q_dedup_cluster and q_dedup_soft_cluster: cluster_id =
    * min reachable doc_id through the exact (prefix-filtered) J >= 0.8
    * pair graph. Runs at CONTENT grain (DedupOps.grainedNearDup):
    * identical texts form cliques, so the CC fixpoint iterates over the
    * distinct-text rep graph and members inherit their rep's component
    * afterwards — rep = min(group), so the component minimum is the min
    * rep and every label matches the full-grain run exactly. Members of
    * a zero-shingle group stay singletons (they never enter the pair
    * graph), matching the full-grain behavior. */
  private def dedupClusterFrame(s: org.apache.spark.sql.SparkSession,
                                d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (groups, repPairs, _) = DedupOps.grainedNearDup(docs, 0.8)
    val repClusters = DedupCluster.clusters(
        groups.select(col("rep").as("doc_id")),
        repPairs.select("doc_a", "doc_b"))
      .withColumnRenamed("doc_id", "rep")
      .withColumnRenamed("cluster_id", "rep_cluster")
    groups.select(col("rep"), col("has_sh"),
        explode(col("members")).as("doc_id"))
      .join(repClusters, Seq("rep"))
      .withColumn("cluster_id",
        when(col("has_sh"), col("rep_cluster")).otherwise(col("doc_id")))
      .select("doc_id", "cluster_id")
      .withColumn("is_keeper",
        (col("doc_id") === col("cluster_id")).cast("long"))
  }

  /** The q_dedup_cluster recursive-CC oracle WITHOUT the trailing ORDER
    * BY, so q_dedup_soft_cluster can wrap it as a CTE. */
  private val dedupClusterOracleSql: String =
    s"""WITH RECURSIVE np AS (
          SELECT doc_a, doc_b FROM (${DedupOps.exactJaccardOracleSql}) t),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM np
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM np),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster_id,
               CAST(src = MIN(dst) AS BIGINT) AS is_keeper
        FROM reach GROUP BY src"""

  val queries: Map[String, Q] = Map(
    // ---- near-dup pairs → dedup decision (see dedupClusterFrame)
    "q_dedup_cluster" -> ((s, d) =>
      dedupClusterFrame(s, d).orderBy("doc_id")),

    // ---- near-dup-aware soft weighting — q_dedup_soft's policy applied
    // at the CLUSTER grain: a doc's weight splits across its whole
    // near-dup component (exact copies AND J >= 0.8 variants), so a
    // paraphrase mill's output shares one budget instead of n budgets.
    // One window count over the decision frame — the cluster fixpoint is
    // the cost; the weighting adds a corpus-sized window, nothing else.
    "q_dedup_soft_cluster" -> ((s, d) => {
      val w = Window.partitionBy(col("cluster_id"))
      dedupClusterFrame(s, d)
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("weight_ppm",
          round(lit(1000000.0) / col("cluster_size")).cast("long"))
        .select("doc_id", "cluster_id", "cluster_size", "weight_ppm")
        .orderBy("doc_id")
    }),

    // ---- curriculum order — the training-order policy between "scored
    // corpus" and "shards": fixed-boundary difficulty PHASES (length
    // proxy; real pipelines band on a quality/perplexity score the same
    // way) with the q_shuffle_global md5 shuffle WITHIN each phase.
    // Fixed boundaries keep the banding map-side (a data-dependent
    // quantile pass would add a full aggregate); windows partition on
    // (phase, shard) so no partition sees more than a 16th of a phase.
    "q_mix_curriculum" -> ((s, d) => {
      val phase = when(col("n_chars") < 200, 0L)
        .when(col("n_chars") < 400, 1L)
        .when(col("n_chars") < 800, 2L).otherwise(3L)
      val key = md5(concat_ws(":",
        lit("curr"), col("doc_id").cast("string"), lit("7")))
      val w = Window.partitionBy(col("phase"), col("shard"))
        .orderBy(col("skey"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), phase.as("phase"), key.as("skey"))
        .withColumn("shard", substring(col("skey"), 1, 1))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("doc_id", "phase", "shard", "pos")
        .orderBy("phase", "shard", "pos")
    }),

    // ---- soft dedup — duplication-aware DOWN-WEIGHTING instead of
    // dropping (the SoftDeDup framing: common-crawl duplicates carry
    // signal about document importance, so a training pipeline may keep
    // every copy and scale its loss weight by the inverse of its exact
    // multiplicity rather than discard n−1 of them). One shuffle on the
    // content hash (a window count — no second join back); the weight is
    // emitted in integer PARTS-PER-MILLION so the artifact hash-compares
    // across engines (round first, THEN cast: DuckDB's double→BIGINT
    // cast rounds while Spark's truncates — the round makes both exact).
    "q_dedup_soft" -> ((s, d) => {
      val w = Window.partitionBy(sha2(col("text"), 256))
      Tables.documents(s, d)
        .select(col("doc_id"), count(lit(1)).over(w).as("n_copies"))
        .withColumn("weight_ppm",
          round(lit(1000000.0) / col("n_copies")).cast("long"))
        .orderBy("doc_id")
    }),

    // ---- deterministic stratified sampling: per-lang keep rates (per
    // mille) applied via pure id arithmetic — the same row is sampled on
    // every run, every engine, every rerun of a failed 100-TB stage.
    // The id is reduced mod 1e9+7 FIRST (non-negative residue on every
    // engine), so the multiply stays < 5e13 for any Int64 doc_id —
    // without the reduction, doc_id > ~1.9e14 overflows the multiply
    // negative and Spark's pmod (always >= 0) silently diverges from
    // engines whose % follows the dividend's sign.
    "q_sample_stratified" -> ((s, d) => {
      val rate = when(col("lang") === "en", 500L)
        .when(col("lang") === "de", 300L)
        .otherwise(200L)
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 48271L + 11L,
                   lit(1000L))
      Tables.documents(s, d)
        .filter(h < rate)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- text normalization — the step BEFORE exact dedup in every
    // corpus pipeline: lowercase, strip non-alphanumerics, squeeze
    // whitespace; emits the normalized-content hash so near-identical
    // punctuation/case variants collapse under q_dedup_exact's groupBy.
    "q_text_norm" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"),
          sha2(norm, 256).as("norm_hash"),
          length(norm).cast("long").as("norm_len"),
          (length(col("text")) - length(norm)).cast("long").as("n_stripped"))
        .orderBy("doc_id")
    }),

    // ---- sequence packing — the step that turns cleaned docs into
    // fixed-budget training sequences: concatenate docs in id order and
    // cut every `budget` tokens (a doc belongs to the chunk its FIRST
    // token lands in). Packing is per-SHARD (id mod 8): a corpus-global
    // cumulative sum would serialize into one partition, while per-shard
    // packing is how a real pipeline assigns work to writers — each
    // shard's running sum is an independent window partition, so 1000
    // executors pack 1000 shards concurrently.
    "q_pack_sequences" -> ((s, d) => {
      graft.Graft.packSequences(Tables.documents(s, d),
          budget = 256, shards = 8)
        .groupBy("shard_id", "chunk_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
             min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("shard_id", "chunk_id")
    }),

    // ---- benchmark decontamination — flag training docs sharing any
    // word-3-gram with the eval set (here the deterministic 2% slice
    // doc_id % 50 = 7 stands in for a benchmark suite). The benchmark
    // side is tiny by nature, so its shingles BROADCAST to every
    // executor and contamination detection is one map-side hash join
    // over the training shingles — no shuffle of the 100-TB side.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isBench = pmod(col("doc_id"), lit(50L)) === 7L
      graft.Graft.decontaminate(docs.filter(!isBench), docs.filter(isBench))
        .orderBy("doc_id")
    }),

    // ---- contamination screening AT REST (operators.DecontamIndex):
    // bench suites change rarely, training corpora re-screen constantly,
    // so the bench side is shingled + Bloom-sketched ONCE into a stored
    // artifact; each screening run is a pure map over the corpus (the
    // stored sketch ships as a foldable binary literal, might_contain
    // drops clean rows at the scan) with only Bloom survivors reaching
    // the exact broadcast join. Candidate-first ⇒ result ≡
    // q_decontaminate exactly ⇒ SHARES its oracle.
    "q_decontam_index" -> ((s, d) => {
      import graft.operators.DecontamIndex
      val root = Scans.scratch("decontamindex", s, d)
      val docs = Tables.documents(s, d)
      val isBench = pmod(col("doc_id"), lit(50L)) === 7L
      if (!DecontamIndex.exists(s, root))
        DecontamIndex.build(
          graft.Graft.shingleRows(docs.filter(isBench), "doc_id", "text"),
          root)
      DecontamIndex.query(
          graft.Graft.shingleRows(docs.filter(!isBench), "doc_id", "text"),
          root)
        .orderBy("doc_id")
    }),

    // ---- FUZZY decontamination: where q_decontaminate flags exact
    // shingle overlap, this finds corpus docs that are NEAR-DUPLICATES
    // (word-3-gram Jaccard ≥ 0.8) of a bench doc — the paraphrased /
    // lightly-edited contamination exact n-gram screens miss. Candidates
    // come from the asymmetric MinHash band join (corpus bands ⋈
    // bench bands — the bench side is suite-sized, so at 100 TB it
    // broadcasts and the corpus never shuffles for candidates), then
    // EXACT Jaccard verification on the candidate pairs only. Unlike
    // the PrefixFilter keys, MinHash banding has NO coverage theorem:
    // a J ≥ 0.8 pair collides in ≥1 of the (k=16, b=8, r=2) bands with
    // p ≈ 1 − (1 − 0.8²)⁸ ≈ 0.9997 — near-certain but not certain, the
    // q_dedup_minhash caveat. Misses here are safety-relevant (a missed
    // band collision silently drops a contamination hit), so a stricter
    // deployment raises b (more bands of fewer rows) at linear band-row
    // cost; the SQL-oracle equality below holds on the fixtures and is
    // re-checked by the driver every round rather than guaranteed by
    // construction. Per corpus doc:
    // its best-matching bench doc (max jaccard, tie → min bench id) and
    // how many bench docs it collides with.
    "q_decontam_near" -> ((s, d) => {
      val sh = LlmOps.shingles(Tables.documents(s, d))
      val isBench = pmod(col("doc_id"), lit(50L)) === 7L
      val cands = graft.operators.MinHashLSH.candidatePairsAcross(
        sh.filter(!isBench), sh.filter(isBench), k = 16, b = 8, r = 2)
      DedupOps.jaccardPairs(sh, Some(cands))
        .filter(col("jaccard_raw") >= 0.8)
        .select(col("doc_a").as("doc_id"), col("doc_b"), col("jaccard"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bench_hits"),
             max(struct(col("jaccard"), (-col("doc_b")).as("nb"))).as("m"))
        .select(col("doc_id"), (-col("m.nb")).as("best_bench_id"),
                col("m.jaccard").as("best_jaccard"), col("n_bench_hits"))
        .orderBy("doc_id")
    }),

    // ---- dictionary scrubbing — the PII-masking shape (regex → replace
    // + audit count) over a term dictionary; real pipelines swap the
    // pattern for email/phone/ssn regexes, the plumbing is identical:
    // one codegen'd projection, no shuffle, audit stats aggregable.
    "q_text_scrub" -> ((s, d) => {
      graft.Graft.scrubText(Tables.documents(s, d),
          pattern = "\\b(customer|order|value)\\b")
        .select(col("doc_id"),
          sha2(col("scrubbed"), 256).as("masked_hash"),
          length(col("scrubbed")).cast("long").as("masked_len"),
          col("n_masked"))
        .orderBy("doc_id")
    }),

    // ---- token-length histogram — the corpus-shape diagnostic every
    // training run wants before packing: bucketed doc-length
    // distribution (width 10, capped at bucket 9). One groupBy on a
    // derived bucket — map-side combinable, 10 output rows at any scale.
    "q_tok_hist" -> ((s, d) => {
      val nTok = size(split(col("text"), " ")).cast("long")
      Tables.documents(s, d)
        .select(least(floor(nTok / 10.0), lit(9)).cast("long").as("bucket"),
                nTok.as("n_tok"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
             min("n_tok").as("min_tok"), max("n_tok").as("max_tok"))
        .orderBy("bucket")
    }),

    // ---- intra-doc repetition stats — adjacent duplicate-token runs
    // (the paragraph/line-dedup shape at token granularity), computed
    // entirely with array HOFs: no explode, no shuffle, pure codegen
    // per row. n_kept counts tokens that differ from their predecessor.
    "q_dedup_lines" -> ((s, d) => {
      val l = split(col("text"), " ")
      // `when` short-circuits: element_at(l, 0) would throw under ANSI,
      // so the i = 1 branch must never evaluate the predecessor lookup
      val kept = filter(sequence(lit(1), size(l)),
        i => when(i === 1, lit(true))
          .otherwise(element_at(l, i) =!= element_at(l, i - 1)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(l).cast("long").as("n_tokens"),
          size(kept).cast("long").as("n_kept"))
        .withColumn("n_removed", col("n_tokens") - col("n_kept"))
        .orderBy("doc_id")
    }),

    // ---- source-mixture rebalancing — hit a target per-lang mixture by
    // computing per-lang keep rates from observed counts (pure integer
    // arithmetic: exact on every engine), then filtering by the same
    // deterministic id hash the sampler uses. Two phases: one tiny
    // aggregate (5 rows) broadcast back over the corpus — the standard
    // shape for "rebalance 100 TB to a target mixture" without an RNG.
    "q_mix_sources" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sharePm = when(col("lang") === "en", 400L)
        .when(col("lang") === "de", 250L)
        .when(col("lang") === "fr", 150L)
        .otherwise(100L)
      val rates = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("t", sum("n").over(Window.partitionBy()))
        .withColumn("share_pm", sharePm)
        .withColumn("rate", least(lit(1000L), expr("(share_pm * t) DIV n")))
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 48271L + 11L,
                   lit(1000L))
      docs.join(broadcast(rates.select("lang", "n", "rate")), Seq("lang"))
        .filter(h < col("rate"))
        .groupBy("lang", "n", "rate")
        .agg(count(lit(1)).as("n_kept"))
        .select(col("lang"), col("n").as("n_total"), col("rate"),
                col("n_kept"))
        .orderBy("lang")
    }),

    // ---- temperature-based source rebalancing (α = 0.5, the
    // multilingual-sampling rule of mT5/XLM-R): where q_mix_sources
    // applies FIXED target shares, here the target share is computed
    // FROM the data — share(lang) ∝ count^α, flattening the head and
    // boosting the tail — then realized as a deterministic per-mille
    // keep rate under a 50% total budget. Weights are 64-bit fixed
    // point (milli-units, sqrt is IEEE-exact and the half-up round can
    // never tie on an irrational), the rate is floor of an
    // exactly-representable double quotient, and the keep decision is
    // pure id arithmetic — three engines agree bit-for-bit, and the
    // sampled corpus is reproducible forever from ids alone. Plan: one
    // tiny aggregate (|langs| rows) broadcast back over a map-only scan.
    "q_mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("w_milli",
          round(sqrt(col("n").cast("double")) * 1000.0, 0).cast("long"))
      val rates = w
        .withColumn("t", sum("n").over(Window.partitionBy()))
        .withColumn("sw", sum("w_milli").over(Window.partitionBy()))
        .withColumn("rate_pm", least(lit(1000L),
          floor((col("w_milli") * col("t") * lit(500.0)) /
                (col("sw") * col("n")))))
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 40503L + 17L,
                   lit(1000L))
      docs.join(broadcast(
          rates.select("lang", "n", "w_milli", "rate_pm")), Seq("lang"))
        .filter(h < col("rate_pm"))
        .groupBy("lang", "n", "w_milli", "rate_pm")
        .agg(count(lit(1)).as("n_kept"))
        .select(col("lang"), col("n").as("n_total"), col("w_milli"),
                col("rate_pm"), col("n_kept"))
        .orderBy("lang")
    }),

    // ---- EPOCH scheduling under a token budget (the data-recipe step
    // downstream of temperature weights): per-source repeat factors
    // epochs_s = budget · w_s / tok_s with budget = 50% of corpus tokens,
    // temperature weights w ∝ √tok (quantized to millis — the
    // q_mix_temperature discipline), capped at 4 epochs. All arithmetic
    // is integer-quantized or a floor of one double quotient with a
    // pinned operand order, so three engines agree on every boundary.
    // The numerator multiplies AS DOUBLE — w_milli·T·500 overflows int64
    // already at a ~3e9-token corpus. Plan: one map-side-combinable
    // stats agg into |sources| rows; everything after is model-sized.
    "q_mix_epochs" -> ((s, d) => {
      val st = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_tok"))
        .withColumn("w_milli",
          round(sqrt(col("n_tok").cast("double")) * 1000.0, 0).cast("long"))
      st.withColumn("t", sum("n_tok").over(Window.partitionBy()))
        .withColumn("sw", sum("w_milli").over(Window.partitionBy()))
        .withColumn("epochs_milli", least(lit(4000L),
          floor((col("w_milli").cast("double") * col("t") * lit(500.0)) /
                (col("sw").cast("double") * col("n_tok")))))
        .withColumn("sampled_tok", expr("(epochs_milli * n_tok) div 1000"))
        .select("source", "n_docs", "n_tok", "w_milli", "epochs_milli",
                "sampled_tok")
        .orderBy("source")
    }),

    // ---- token-BUDGET allocation with cap-and-redistribute (the data-
    // recipe allocator proper): give each language an EQUAL share of a
    // global token budget (B = 80% of corpus tokens — upsampling tail
    // languages toward uniform is the mT5 recipe taken to its cap), but
    // no language can contribute more tokens than it HAS — capped
    // languages keep their whole corpus and their unused share is
    // redistributed equally among the uncapped ones (one redistribution
    // round: the standard practical waterfill truncation; any residual
    // after round 2 stays unallocated rather than looping). With uniform
    // per-lang weights every step is INTEGER arithmetic (DIV, least) —
    // no float quotient anywhere, three engines agree on every boundary
    // at any corpus size, no overflow below 2^62 tokens. Plan: one
    // map-side-combinable agg to |langs| rows; the allocator is window
    // arithmetic on that model-sized frame — the corpus is scanned once.
    "q_mix_budget" -> ((s, d) => {
      val wAll = Window.partitionBy()
      val st = Tables.documents(s, d).groupBy("lang")
        .agg(sum("n_chars").as("avail_tok"))
      st.withColumn("t", sum("avail_tok").over(wAll))
        .withColumn("n_langs", count(lit(1)).over(wAll))
        .withColumn("b", expr("(t * 4) div 5"))
        .withColumn("alloc_r1",
          least(col("avail_tok"), expr("b div n_langs")))
        .withColumn("capped",
          (col("alloc_r1") === col("avail_tok")).cast("int"))
        .withColumn("surplus", col("b") - sum("alloc_r1").over(wAll))
        .withColumn("n_uncapped",
          sum(lit(1L) - col("capped").cast("long")).over(wAll))
        .withColumn("alloc_r2",
          when(col("capped") === 1 || col("n_uncapped") === 0L, lit(0L))
            .otherwise(least(col("avail_tok") - col("alloc_r1"),
                             expr("surplus div n_uncapped"))))
        .withColumn("alloc_tok", col("alloc_r1") + col("alloc_r2"))
        .select(col("lang"), col("avail_tok"), col("alloc_r1"),
          col("alloc_r2"), col("alloc_tok"), col("capped"),
          expr("(1000 * alloc_tok) div avail_tok").as("fill_permille"))
        .orderBy("lang")
    }),

    // ---- ANNEALING schedule — the midtraining recipe step: mixture
    // weights interpolate linearly from the NATURAL (proportional)
    // distribution at phase 0 to UNIFORM at the final phase (the
    // "anneal toward balanced/high-quality data late in training"
    // practice), over 4 fixed phases under a 50% token budget split
    // equally across phases. Everything is integer ppm arithmetic
    // (DIV) — no float quotient, engines agree on every boundary;
    // overflow-safe below ~4.6e12 corpus tokens (B_p·w_ppm < 2^63).
    // Plan: ONE map-side-combinable agg to |sources| rows; the schedule
    // is a broadcast of a 4-row phase frame over that model-sized
    // result — the corpus is scanned once.
    "q_mix_anneal" -> ((s, d) => {
      import s.implicits._
      val wAll = Window.partitionBy()
      val st = Tables.documents(s, d).groupBy("source")
        .agg(sum("n_chars").as("n_tok"))
        .withColumn("t", sum("n_tok").over(wAll))
        .withColumn("n_src", count(lit(1)).over(wAll))
        .withColumn("w_nat_ppm", expr("(1000000 * n_tok) div t"))
        .withColumn("w_uni_ppm", expr("1000000 div n_src"))
      val phases = (0L to 3L).toDF("phase")
      st.crossJoin(broadcast(phases))
        .withColumn("w_ppm",
          expr("((3 - phase) * w_nat_ppm + phase * w_uni_ppm) div 3"))
        .withColumn("alloc_tok",
          expr("(((t div 2) div 4) * w_ppm) div 1000000"))
        .select("phase", "source", "w_nat_ppm", "w_uni_ppm", "w_ppm",
                "alloc_tok")
        .orderBy("phase", "source")
    }),

    // ---- the WHOLE pipeline as ONE declared plan: normalize → exact
    // dedup on normalized content (keeper = min id) → quality gate →
    // deterministic 50% sample → per-lang corpus stats. Every stage is
    // a narrow projection or one equi-join/aggregate — Catalyst fuses
    // the projections and pushes the quality filter; the point is that
    // "the pipeline" is a single lazy DataFrame a 100-TB run submits as
    // one job, not N materialized intermediate tables.
    "q_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      val normed = docs.withColumn("norm_hash", sha2(norm, 256))
      val keepers = normed.groupBy("norm_hash")
        .agg(min("doc_id").as("doc_id"))
      val deduped = normed.join(keepers, Seq("norm_hash", "doc_id"))
      val nTok = size(split(col("text"), " ")).cast("long")
      val quality = deduped
        .filter(col("n_chars") >= 50L && nTok >= 10L)
      val sampled = quality.filter(
        pmod(pmod(col("doc_id"), lit(1000000007L)) * 48271L + 11L,
             lit(1000L)) < 500L)
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(nTok).as("n_tokens"),
             min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    }),

    // ---- per-source document cap (the RefinedWeb/CCNet anti-spam
    // stage: no single domain may dominate the corpus). Keeps the C
    // best documents per source under the total order (n_chars desc,
    // doc_id asc) — NOT a rank window: TopKByScore partial-reduces each
    // map task's slice of a source to ≤ C entries BEFORE the exchange,
    // so the shuffle carries ≤ C rows per source per task and a
    // mega-domain (the exact case a cap exists for) cannot skew a
    // reducer. The survivors' ranks fall out of the buffer's order.
    "q_source_caps" -> ((s, d) => {
      val cap = 10
      Tables.documents(s, d)
        .groupBy("source")
        .agg(graft.functions.TopKByScore
          .topk(col("n_chars").cast("double"), col("doc_id"), cap).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("col.id").as("doc_id"),
          col("col.score").cast("long").as("n_chars"),
          (col("pos") + 1).cast("long").as("src_rank"))
        .orderBy("source", "src_rank")
    }),

    // ---- DSIR data selection (Xie et al. 2023): keep raw documents
    // whose hashed-bigram distribution resembles the TARGET domain
    // (here lang='en'). Model = two ≤4096-row bucket counts folded into
    // a log-ratio literal; scoring = map-only per-doc HOF fold in token
    // order (bit-deterministic under any partitioning). SQL-oracled:
    // the bucket hash is an exact-int64 char fold both engines compute
    // identically (DsirSelect.tokenCode), counts/smoothing are integer,
    // the LUT is ln() of exact integer ratios, and the per-doc sum is a
    // left-to-right list fold on BOTH sides — same order, same adds.
    // DsirSpec additionally replays the estimator brute-force in Scala
    // and asserts the full frame bit-equal.
    "q_select_dsir" -> ((s, d) =>
      graft.operators.DsirSelect.select(
        Tables.documents(s, d), col("lang") === "en")),

    // ---- deterministic train/valid/test split (80/10/10 by id hash),
    // reported as per-(lang, split) counts — the lineage-free split
    // assignment a reproducible data pipeline wants.
    "q_split_train" -> ((s, d) => {
      // same overflow-safe reduction as q_sample_stratified
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 69621L + 7L,
                   lit(100L))
      Tables.documents(s, d)
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "valid").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }),

    // ---- token-budget selection (the DataComp "fixed token budget"
    // step): keep documents in priority order (n_chars desc, doc_id asc)
    // while the running token total stays within 60% of the corpus. The
    // naive form is ONE unpartitioned cumsum window = whole corpus in a
    // single task; here rank/cumsum decompose through a distinct-key
    // histogram + broadcast offsets + per-key windows (RankedSelection
    // Scaladoc) — every number an exact integer, so the distributed form
    // is bit-equal to the oracle's naive window.
    "q_select_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.operators.RankedSelection
        .budgetSelect(s, docs, "doc_id", "n_chars", "n_tok", 0.6)
        .select(col("doc_id"), col("n_tok"), col("rank"),
          col("cum_weight").as("cum_tokens"))
        .orderBy("doc_id")
    }),

    // ---- PERPLEXITY-style quality selection (the CCNet recipe): rank
    // documents by average per-token log-likelihood under their own
    // language's unigram model (the NbClassifier grid — fluent text
    // scores high, gibberish low), keep the most fluent under a 60%
    // token budget. Quality in exact INT64: fq = 40e6 + floor(avg
    // per-token llk·1e6) — the +40e6·n_tok shift keeps the dividend
    // positive (Spark `div` truncates, DuckDB `//` floors; per-token
    // llk ≥ −40e6 for any corpus below e^40 tokens), bucketed ÷1000 so
    // the RankedSelection key histogram is bounded by score RESOLUTION
    // (≤ 40k buckets), never corpus size. Plan: ONE doc_id shuffle for
    // the scoring sum (anchor-union, grid broadcast — the NbClassifier
    // discipline), then the no-global-window histogram rank.
    "q_select_perplexity" -> ((s, d) => {
      import graft.operators.{InvertedIndex, NbClassifier, RankedSelection}
      val docs = Tables.documents(s, d)
      // score-forever discipline: reuse the SAME stored nbmodel artifact
      // as q_text_classify_at_rest (first call trains, every later call
      // reads the model-sized grid — stored ≡ trained bit-for-bit, so
      // the full-recompute oracle still matches)
      val root = Scans.scratch("nbmodel", s, d)
      if (!NbClassifier.exists(s, root)) NbClassifier.store(docs, root)
      val grid = NbClassifier.storedGrid(s, root)
      val classes = grid.schema.fieldNames.filter(_.startsWith("llk_"))
        .map(_.stripPrefix("llk_")).sorted.toSeq
      // scoring as a PURE MAP (functions.NbGridSums, r18 — the
      // NbClassifier.score rewrite applied to the perplexity rank): the
      // stored model-sized grid bakes into one expression, each doc's
      // token array folds to per-class INT64 sums in place, and the
      // own-language sum is picked by the same lang when-chain. The old
      // plan exploded the corpus to token rows, broadcast-joined the
      // grid, unioned per-doc anchors and re-aggregated on doc_id —
      // zero exchanges now, bit-identical totals (order-free INT64;
      // all-OOV docs sum to 0 ≡ the old NULL → coalesce 0).
      val gridRows = graft.util.Local.modelRows(
        grid.select(col("term") +: classes.map(c => col(s"llk_$c")): _*))
      val sums = graft.functions.NbGridSums.sums(
        InvertedIndex.tokens(col("text")), gridRows, classes.length)
      val ownSum = classes.zipWithIndex.tail.foldLeft(
          when(col("lang") === classes.head, col("s").getItem(0))) {
        case (acc, (c, i)) => acc.when(col("lang") === c, col("s").getItem(i)) }
      val base = docs.select(col("doc_id"), col("lang"), sums.as("s"),
          size(InvertedIndex.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("ssum", ownSum)
        .withColumn("q_bucket", expr(
          "((coalesce(ssum, 0) + 40000000 * n_tok)" +
            " div greatest(n_tok, 1)) div 1000"))
        .select("doc_id", "q_bucket", "n_tok")
      RankedSelection.budgetSelect(s, base, "doc_id", "q_bucket", "n_tok",
          0.6)
        .select(col("doc_id"), col("n_tok"), col("q_bucket"), col("rank"),
          col("cum_weight").as("cum_tokens"))
        .orderBy("doc_id")
    }),

    // ---- bigram-backoff perplexity selection — the n-gram-LM form of
    // the CCNet recipe (q_select_perplexity scores under a unigram NB
    // grid; CCNet's actual filter is an n-gram LM): rank docs by average
    // per-bigram log-likelihood under an interpolated bigram/unigram
    // corpus model, p(w2|w1) = 0.7·n2/n1 + 0.3·(cnt(w2)+1)/(T+V) —
    // MLE bigram backed off to the add-one-smoothed unigram so unseen-
    // context mass never zeroes the log. Same determinism discipline as
    // the NB grid: ONE ln per DISTINCT bigram, rounded to integer
    // micro-nats (both engines compute the identical IEEE expression),
    // then exact INT64 everywhere — per-doc fq = (ssum + 40e6·n_bg) div
    // n_bg (the +shift keeps Spark div ≡ DuckDB // on any corpus below
    // e^40 tokens), bucketed ÷1000 for the RankedSelection histogram.
    // Model at REST (BigramLm): first call trains the micro-nat grid
    // (ONE checkpointed bigram explode + one unigram pass) and stores
    // it; later calls read the distinct-bigram-sized artifact and score
    // only — the same train-once discipline as the NB unigram sibling.
    // Scoring plan: grid joins by (w1, w2) equi-join (never broadcast —
    // vocabulary² can exceed memory), ONE doc_id shuffle for the score
    // sum (anchor-union), no global window (histogram rank).
    "q_select_perplexity_bigram" -> ((s, d) => {
      import graft.operators.{BigramLm, RankedSelection}
      val docs = Tables.documents(s, d)
      val root = Scans.scratch("bigramlm", s, d)
      if (!BigramLm.exists(s, root)) BigramLm.store(docs, root)
      // ID-grain scoring (round 19): the V-grain dictionary bakes into
      // the bigram_keys kernel (one hash lookup per token, duplicates
      // preserved), occurrences explode as (doc_id, k:int64) — ~3×
      // fewer shuffle bytes than the (doc_id, w1, w2) string rows —
      // and the grid join runs on a single long key against the stored
      // id-keyed grid. Bit-identical to the string-grain join (the
      // dictionary is injective; OOD pairs drop either way) — the
      // BigramLmSpec law + the SQL oracle pin it.
      val dictRows = graft.util.Local.modelRows(BigramLm.storedDict(s, root))
      val scored = docs
        .select(col("doc_id"),
          explode(BigramLm.bigramKeys(split(col("text"), " "), dictRows))
            .as("k"))
        .join(BigramLm.storedKGrid(s, root), Seq("k"))
        .select(col("doc_id"), col("llk2").as("llk"),
          lit(null).cast("long").as("n_tok"))
      val anchors = docs.select(col("doc_id"),
        lit(null).cast("long").as("llk"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val base = scored.unionByName(anchors)
        .groupBy("doc_id")
        .agg(sum("llk").as("ssum"), max("n_tok").as("n_tok"))
        .withColumn("n_bg", greatest(col("n_tok") - 1, lit(0L)))
        .withColumn("q_bucket", expr(
          "((coalesce(ssum, 0) + 40000000 * n_bg)" +
            " div greatest(n_bg, 1)) div 1000"))
        .select("doc_id", "q_bucket", "n_tok")
      RankedSelection.budgetSelect(s, base, "doc_id", "q_bucket", "n_tok",
          0.6)
        .select(col("doc_id"), col("n_tok"), col("q_bucket"), col("rank"),
          col("cum_weight").as("cum_tokens"))
        .orderBy("doc_id")
    }),

    // ---- balanced shard assignment (tokenizer/training-file sharding:
    // K output files with near-equal token totals): boustrophedon over
    // the (n_tok desc, doc_id) order — rank via the same histogram
    // decomposition, shard = snake(rank-1, 8); no greedy sequential
    // state, so assignment is a pure function of the rank and replayable
    // from the corpus alone. Balance bound pinned in RankedSelectionSpec.
    "q_shard_balance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.operators.RankedSelection
        .snakeShards(s, docs, "doc_id", "n_tok", 8)
        .select(col("doc_id"), col("n_tok"), col("rank"), col("shard"))
        .orderBy("doc_id")
    })
  )

  /** The exact contamination recompute — shared by the in-flight key and
    * its index-at-rest twin (candidate-first Bloom ⇒ identical result). */
  private val decontamOracleSql =
      """WITH sh AS (
           SELECT DISTINCT doc_id, u.s AS shingle FROM documents,
           UNNEST(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2]))) AS u(s)),
         bench AS (
           SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 7),
         train AS (
           SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 7)
         SELECT t.doc_id, COUNT(DISTINCT t.shingle) AS n_shared,
                COUNT(DISTINCT b.bench_id) AS n_bench_docs
         FROM train t JOIN bench b ON t.shingle = b.shingle
         GROUP BY 1 ORDER BY doc_id"""

  val oracle: Map[String, String] = Map(
    "q_decontam_index" -> decontamOracleSql,
    "q_decontam_near" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, u.s AS shingle FROM documents,
           UNNEST(list_distinct(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2]))) AS u(s)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
           FROM sh a JOIN sh b ON a.shingle = b.shingle
           WHERE a.doc_id % 50 <> 7 AND b.doc_id % 50 = 7
           GROUP BY 1, 2),
         v AS (
           SELECT doc_a, doc_b,
             round(CAST(ni AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - ni AS DOUBLE), 6) AS jaccard
           FROM inter
           JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
           WHERE CAST(ni AS DOUBLE)
                   / CAST(sa.n_sh + sb.n_sh - ni AS DOUBLE) >= 0.8),
         r AS (
           SELECT doc_a, doc_b, jaccard,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                                ORDER BY jaccard DESC, doc_b ASC) AS rn,
             COUNT(*) OVER (PARTITION BY doc_a) AS nh
           FROM v)
         SELECT doc_a AS doc_id, doc_b AS best_bench_id,
           jaccard AS best_jaccard, CAST(nh AS BIGINT) AS n_bench_hits
         FROM r WHERE rn = 1 ORDER BY doc_id""",
    // budget select / shard balance: the oracle runs the NAIVE
    // unpartitioned window (fine on DuckDB's single node); the Spark
    // side computes the identical integers through the histogram
    // decomposition — the equality IS the interesting assertion.
    "q_select_perplexity" ->
      """WITH toks AS (
           SELECT doc_id, lang, u.term FROM documents,
           UNNEST(list_filter(string_split(text, ' '), x -> length(x) > 0))
             AS u(term)),
         cnt AS (SELECT lang, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         tot AS (SELECT lang, COUNT(*) AS t FROM toks GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT term) AS v FROM toks),
         grid AS (
           SELECT tm.term, l.lang,
             CAST(round(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                           / CAST(t.t + v.v AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS llk
           FROM (SELECT DISTINCT term FROM toks) tm
           CROSS JOIN (SELECT DISTINCT lang FROM documents) l
           JOIN tot t ON t.lang = l.lang
           CROSS JOIN v
           LEFT JOIN cnt c ON c.term = tm.term AND c.lang = l.lang),
         own AS (
           SELECT tk.doc_id, CAST(SUM(g.llk) AS BIGINT) AS ssum
           FROM toks tk
           JOIN grid g ON g.term = tk.term AND g.lang = tk.lang
           GROUP BY 1),
         q AS (
           SELECT d.doc_id,
             CAST(len(list_filter(string_split(d.text, ' '),
                                  x -> length(x) > 0)) AS BIGINT) AS n_tok,
             COALESCE(o.ssum, 0) AS ssum
           FROM documents d LEFT JOIN own o ON o.doc_id = d.doc_id),
         b AS (
           SELECT doc_id, n_tok,
             ((ssum + 40000000 * n_tok) // GREATEST(n_tok, 1)) // 1000
               AS q_bucket
           FROM q),
         r AS (
           SELECT doc_id, n_tok, q_bucket,
             CAST(ROW_NUMBER() OVER (ORDER BY q_bucket DESC, doc_id)
               AS BIGINT) AS rank,
             CAST(SUM(n_tok) OVER (ORDER BY q_bucket DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM b)
         SELECT doc_id, n_tok, CAST(q_bucket AS BIGINT) AS q_bucket,
           rank, cum_tokens
         FROM r
         WHERE cum_tokens <= CAST(floor(0.6 *
           (SELECT CAST(SUM(n_tok) AS DOUBLE) FROM b)) AS BIGINT)
         ORDER BY doc_id""",
    "q_select_perplexity_bigram" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         bg AS (
           SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
           FROM (SELECT * FROM tok WHERE len(l) >= 2) t,
                UNNEST(range(1, len(l))) AS u(i)),
         c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
         uni AS (SELECT u.w2 AS w2 FROM tok, UNNEST(l) AS u(w2)),
         cnt AS (SELECT w2, COUNT(*) AS cnt FROM uni GROUP BY 1),
         st AS (SELECT COUNT(*) AS t, COUNT(DISTINCT w2) AS v FROM uni),
         grid AS (
           SELECT c2.w1, c2.w2,
             CAST(round(ln(
               CAST(0.7 AS DOUBLE)
                 * (CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))
               + CAST(0.3 AS DOUBLE)
                 * (CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS llk2
           FROM c2 JOIN c1 ON c2.w1 = c1.w1
                   JOIN cnt ON c2.w2 = cnt.w2
                   CROSS JOIN st),
         own AS (
           SELECT bg.doc_id, CAST(SUM(g.llk2) AS BIGINT) AS ssum
           FROM bg JOIN grid g ON g.w1 = bg.w1 AND g.w2 = bg.w2
           GROUP BY 1),
         q AS (
           SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
             COALESCE(o.ssum, 0) AS ssum
           FROM documents d LEFT JOIN own o ON o.doc_id = d.doc_id),
         b AS (
           SELECT doc_id, n_tok,
             ((ssum + 40000000 * GREATEST(n_tok - 1, 0))
               // GREATEST(n_tok - 1, 1)) // 1000 AS q_bucket
           FROM q),
         r AS (
           SELECT doc_id, n_tok, q_bucket,
             CAST(ROW_NUMBER() OVER (ORDER BY q_bucket DESC, doc_id)
               AS BIGINT) AS rank,
             CAST(SUM(n_tok) OVER (ORDER BY q_bucket DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM b)
         SELECT doc_id, n_tok, CAST(q_bucket AS BIGINT) AS q_bucket,
           rank, cum_tokens
         FROM r
         WHERE cum_tokens <= CAST(floor(0.6 *
           (SELECT CAST(SUM(n_tok) AS DOUBLE) FROM b)) AS BIGINT)
         ORDER BY doc_id""",
    "q_select_budget" ->
      """WITH t AS (SELECT doc_id, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents),
           c AS (SELECT doc_id, n_tok,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                 AS BIGINT) AS rank,
               CAST(SUM(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM t)
         SELECT doc_id, n_tok, rank, cum_tokens FROM c
         WHERE cum_tokens <= CAST(floor(0.6 *
           (SELECT CAST(SUM(n_tok) AS DOUBLE) FROM t)) AS BIGINT)
         ORDER BY doc_id""",
    "q_shard_balance" ->
      """WITH t AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents),
           r AS (SELECT doc_id, n_tok,
               CAST(ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id)
                 AS BIGINT) AS rank
             FROM t)
         SELECT doc_id, n_tok, rank,
           CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
                ELSE 7 - (rank - 1) % 8 END AS shard
         FROM r ORDER BY doc_id""",
    // DSIR: replicate the estimator end-to-end — portable char-fold
    // bucket hash, add-one-smoothed ln ratios over a generated 0..B-1
    // bucket spine, per-doc score as the SAME left-to-right fold over
    // the doc's bucket list (list_reduce with a 0.0 seed ≡ Spark's
    // aggregate), so summation order matches bit-for-bit and only ln()
    // ulps separate the engines — absorbed by 6-dp rounding.
    "q_select_dsir" ->
      """WITH codes AS (
           SELECT doc_id, lang,
             list_transform(string_split(text, ' '), t ->
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(t, ''),
                   c -> CAST(ascii(c) AS BIGINT))),
                 (a, x) -> (a * 31 + x) % 1000000007)) AS cs
           FROM documents),
         bkts AS (
           SELECT doc_id, lang,
             list_transform(range(1, len(cs)), i ->
               CAST(((cs[CAST(i AS INTEGER)] * 31
                      + cs[CAST(i AS INTEGER) + 1]) % 1000000007) % 4096
                 AS INTEGER)) AS bs
           FROM codes),
         occ AS (SELECT lang, u.b AS bkt FROM bkts, UNNEST(bs) AS u(b)),
         tc AS (SELECT bkt, COUNT(*) AS n FROM occ
                WHERE lang = 'en' GROUP BY 1),
         rc AS (SELECT bkt, COUNT(*) AS n FROM occ GROUP BY 1),
         tot AS (SELECT
           (SELECT 4096 + COALESCE(SUM(n), 0) FROM tc) AS t_tot,
           (SELECT 4096 + COALESCE(SUM(n), 0) FROM rc) AS r_tot),
         lut AS (
           SELECT list(
               ln(CAST(COALESCE(tc.n, 0) + 1 AS DOUBLE)
                  / CAST(tot.t_tot AS DOUBLE))
             - ln(CAST(COALESCE(rc.n, 0) + 1 AS DOUBLE)
                  / CAST(tot.r_tot AS DOUBLE))
             ORDER BY g.b) AS arr
           FROM range(0, 4096) AS g(b)
           LEFT JOIN tc ON tc.bkt = g.b
           LEFT JOIN rc ON rc.bkt = g.b
           CROSS JOIN tot),
         scored AS (
           SELECT doc_id, lang,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(bs, b -> lut.arr[b + 1])),
               (a, x) -> a + x), 6) AS dsir_score
           FROM bkts CROSS JOIN lut)
         SELECT doc_id, lang, dsir_score,
           CAST(dsir_score > 0.0 AS BIGINT) AS selected
         FROM scored ORDER BY doc_id""",
    "q_dedup_cluster" -> s"$dedupClusterOracleSql ORDER BY doc_id",
    "q_dedup_soft_cluster" ->
      s"""WITH cl AS ($dedupClusterOracleSql)
          SELECT doc_id, cluster_id,
            CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
              AS cluster_size,
            CAST(ROUND(1000000.0 /
              COUNT(*) OVER (PARTITION BY cluster_id)) AS BIGINT)
              AS weight_ppm
          FROM cl ORDER BY doc_id""",
    "q_mix_curriculum" ->
      """WITH t AS (SELECT doc_id,
             CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
                  WHEN n_chars < 800 THEN 2 ELSE 3 END AS phase,
             md5(concat_ws(':', 'curr', CAST(doc_id AS VARCHAR), '7'))
               AS skey
           FROM documents)
         SELECT doc_id, CAST(phase AS BIGINT) AS phase,
           substring(skey, 1, 1) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY phase, substring(skey, 1, 1)
             ORDER BY skey, doc_id) AS BIGINT) AS pos
         FROM t ORDER BY phase, shard, pos""",
    "q_dedup_soft" ->
      """SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY sha256(text)) AS BIGINT)
             AS n_copies,
           CAST(ROUND(1000000.0 /
             COUNT(*) OVER (PARTITION BY sha256(text))) AS BIGINT)
             AS weight_ppm
         FROM documents ORDER BY doc_id""",
    "q_source_caps" ->
      """SELECT source, doc_id, n_chars, src_rank FROM (
           SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS src_rank
           FROM documents) t
         WHERE src_rank <= 10 ORDER BY source, src_rank""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE (((doc_id % 1000000007 + 1000000007) % 1000000007)
                 * 48271 + 11) % 1000 <
           CASE WHEN lang = 'en' THEN 500
                WHEN lang = 'de' THEN 300 ELSE 200 END
         ORDER BY doc_id""",
    "q_text_norm" ->
      """SELECT doc_id,
           sha256(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len,
           CAST(length(text) - length(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS n_stripped
         FROM documents ORDER BY doc_id""",
    "q_pipeline_e2e" ->
      """WITH normed AS (
           SELECT doc_id, lang, n_chars, text,
             sha256(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
           FROM documents),
         keepers AS (
           SELECT norm_hash, MIN(doc_id) AS doc_id FROM normed GROUP BY 1),
         deduped AS (
           SELECT n.* FROM normed n JOIN keepers k
           ON n.norm_hash = k.norm_hash AND n.doc_id = k.doc_id),
         quality AS (
           SELECT * FROM deduped
           WHERE n_chars >= 50
             AND len(string_split(text, ' ')) >= 10),
         sampled AS (
           SELECT * FROM quality
           WHERE (((doc_id % 1000000007 + 1000000007) % 1000000007)
                   * 48271 + 11) % 1000 < 500)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM sampled GROUP BY lang ORDER BY lang""",
    "q_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS shard_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT *, SUM(n_tok) OVER
             (PARTITION BY shard_id ORDER BY doc_id) AS cum
           FROM t)
         SELECT shard_id, CAST(FLOOR((cum - n_tok) / 256.0) AS BIGINT)
                  AS chunk_id,
                COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM c GROUP BY 1, 2 ORDER BY shard_id, chunk_id""",
    "q_decontaminate" -> decontamOracleSql,
    "q_text_scrub" ->
      """SELECT doc_id,
           sha256(regexp_replace(text, '\b(customer|order|value)\b',
                                 '<MASK>', 'g')) AS masked_hash,
           CAST(length(regexp_replace(text, '\b(customer|order|value)\b',
                                      '<MASK>', 'g')) AS BIGINT) AS masked_len,
           CAST(len(regexp_extract_all(text, '\b(customer|order|value)\b'))
             AS BIGINT) AS n_masked
         FROM documents ORDER BY doc_id""",
    "q_tok_hist" ->
      """WITH t AS (
           SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents)
         SELECT LEAST(CAST(FLOOR(n_tok / 10.0) AS BIGINT), 9) AS bucket,
                COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
         FROM t GROUP BY 1 ORDER BY bucket""",
    "q_dedup_lines" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         k AS (
           SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(range(1, len(l) + 1),
               i -> i = 1 OR l[i] <> l[i-1])) AS BIGINT) AS n_kept
           FROM t)
         SELECT doc_id, n_tokens, n_kept, n_tokens - n_kept AS n_removed
         FROM k ORDER BY doc_id""",
    "q_mix_sources" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt),
         rates AS (
           SELECT lang, n,
             LEAST(1000, (CASE WHEN lang = 'en' THEN 400
                               WHEN lang = 'de' THEN 250
                               WHEN lang = 'fr' THEN 150
                               ELSE 100 END * t) // n) AS rate
           FROM cnt, tot)
         SELECT d.lang, r.n AS n_total, r.rate, COUNT(*) AS n_kept
         FROM documents d JOIN rates r USING (lang)
         WHERE (((d.doc_id % 1000000007 + 1000000007) % 1000000007)
                 * 48271 + 11) % 1000 < r.rate
         GROUP BY 1, 2, 3 ORDER BY d.lang""",
    "q_mix_epochs" ->
      """WITH st AS (
           SELECT source, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS n_tok
           FROM documents GROUP BY 1),
         w AS (
           SELECT *, CAST(round(sqrt(CAST(n_tok AS DOUBLE)) * 1000.0, 0)
                       AS BIGINT) AS w_milli
           FROM st),
         g AS (
           SELECT *, SUM(n_tok) OVER () AS t, SUM(w_milli) OVER () AS sw
           FROM w),
         e AS (
           SELECT *, LEAST(4000, CAST(floor(
               (CAST(w_milli AS DOUBLE) * t * 500.0)
               / (CAST(sw AS DOUBLE) * n_tok)) AS BIGINT)) AS epochs_milli
           FROM g)
         SELECT source, n_docs, n_tok, w_milli, epochs_milli,
           CAST((epochs_milli * n_tok) // 1000 AS BIGINT) AS sampled_tok
         FROM e ORDER BY source""",
    "q_mix_budget" ->
      """WITH st AS (
           SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS avail_tok
           FROM documents GROUP BY 1),
         w1 AS (
           SELECT lang, avail_tok, SUM(avail_tok) OVER () AS t,
                  COUNT(*) OVER () AS n_langs
           FROM st),
         w2 AS (SELECT *, (t * 4) // 5 AS b FROM w1),
         w3 AS (
           SELECT *, LEAST(avail_tok, b // n_langs) AS alloc_r1 FROM w2),
         w4 AS (
           SELECT *, CAST(alloc_r1 = avail_tok AS INT) AS capped,
                  b - SUM(alloc_r1) OVER () AS surplus
           FROM w3),
         w5 AS (
           SELECT *, SUM(CASE WHEN capped = 1 THEN 0 ELSE 1 END) OVER ()
                       AS n_uncapped
           FROM w4),
         w6 AS (
           SELECT *, CASE WHEN capped = 1 OR n_uncapped = 0 THEN 0
             ELSE LEAST(avail_tok - alloc_r1, surplus // n_uncapped) END
             AS alloc_r2
           FROM w5)
         SELECT lang, avail_tok, CAST(alloc_r1 AS BIGINT) AS alloc_r1,
           CAST(alloc_r2 AS BIGINT) AS alloc_r2,
           CAST(alloc_r1 + alloc_r2 AS BIGINT) AS alloc_tok, capped,
           CAST((1000 * (alloc_r1 + alloc_r2)) // avail_tok AS BIGINT)
             AS fill_permille
         FROM w6 ORDER BY lang""",
    "q_mix_anneal" ->
      """WITH st AS (
           SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tok
           FROM documents GROUP BY 1),
         w AS (
           SELECT source, n_tok, SUM(n_tok) OVER () AS t,
                  COUNT(*) OVER () AS n_src
           FROM st),
         b AS (
           SELECT source, t,
             (1000000 * n_tok) // t AS w_nat_ppm,
             1000000 // n_src AS w_uni_ppm
           FROM w),
         p AS (SELECT * FROM (VALUES (0), (1), (2), (3)) v(phase)),
         x AS (
           SELECT p.phase, b.source, b.w_nat_ppm, b.w_uni_ppm, b.t,
             ((3 - p.phase) * b.w_nat_ppm + p.phase * b.w_uni_ppm) // 3
               AS w_ppm
           FROM b CROSS JOIN p)
         SELECT CAST(phase AS BIGINT) AS phase, source,
           CAST(w_nat_ppm AS BIGINT) AS w_nat_ppm,
           CAST(w_uni_ppm AS BIGINT) AS w_uni_ppm,
           CAST(w_ppm AS BIGINT) AS w_ppm,
           CAST((((t // 2) // 4) * w_ppm) // 1000000 AS BIGINT)
             AS alloc_tok
         FROM x ORDER BY phase, source""",
    "q_mix_temperature" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         w AS (
           SELECT lang, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000.0, 0) AS BIGINT)
               AS w_milli
           FROM cnt),
         r AS (
           SELECT lang, n, w_milli,
             LEAST(1000, CAST(floor((w_milli * SUM(n) OVER () * 500.0)
                              / (SUM(w_milli) OVER () * n)) AS BIGINT))
               AS rate_pm
           FROM w)
         SELECT d.lang, r.n AS n_total, r.w_milli, r.rate_pm,
                COUNT(*) AS n_kept
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE (((d.doc_id % 1000000007 + 1000000007) % 1000000007)
                 * 40503 + 17) % 1000 < r.rate_pm
         GROUP BY 1, 2, 3, 4 ORDER BY d.lang""",
    "q_split_train" ->
      """SELECT lang,
           CASE WHEN (((doc_id % 1000000007 + 1000000007) % 1000000007)
                      * 69621 + 7) % 100 < 80 THEN 'train'
                WHEN (((doc_id % 1000000007 + 1000000007) % 1000000007)
                      * 69621 + 7) % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
         FROM documents GROUP BY 1, 2 ORDER BY lang, split"""
  )
}
