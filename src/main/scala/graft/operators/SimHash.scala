package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection with banded candidate generation —
  * the second text-dedup family (vs shingle-Jaccard/MinHash): one 64-bit
  * signature per document, near-dups = small hamming distance.
  *
  * Scale design: the naive pairing (`a.join(b, doc_a < doc_b)`) is an
  * all-pairs nested loop — O(N²) and broadcast-bounded. Banding fixes it
  * with EXACT recall: split the 64-bit signature into `b` contiguous
  * bands; by pigeonhole, two signatures at hamming ≤ `maxHamming` < b
  * differ in at most `maxHamming` bands, so AT LEAST ONE band is
  * bit-identical. Candidates therefore arrive via a Catalyst-native
  * shuffle equi-join on (band_idx, band_val) — recall is exactly 1 (not
  * probabilistic, unlike MinHash banding), precision is restored by the
  * exact hamming filter. Random unrelated docs collide on a 16-bit band
  * with p = b·2⁻¹⁶, so the candidate set stays ~linear in N.
  */
object SimHash {

  /** 64-bit SimHash per doc: bit i = sign of the sum over the doc's
    * distinct tokens of ±1 votes taken from bit i of xxhash64(token).
    * One pass: 64 parallel aggregates in a single groupBy. */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
              explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$i"))
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** (doc_id, simhash) computed once per DISTINCT text — the content-
    * grain discipline the Jaccard family (grainedNearDup) has always
    * used, applied to the signature pass: exact duplicates (the dominant
    * population of a crawl corpus, and exactly what the replica tiers
    * simulate) share one text, so the expensive part — tokenize + the
    * 64-aggregate vote — runs per distinct text and members inherit
    * their group's signature through one narrow join (identical result:
    * the signature is a pure function of the text). At the 100× replica
    * tier this cuts the signature pass from 500k to 5k vote groups —
    * measured 122.6 → (see PLANS_r16) on q_dedup_simhash. A 100-TB
    * build would group on sha2(text, 256) to keep the shuffle narrow
    * (the grainedNearDup caveat). */
  private def grainedSignatures(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    // NO collect_list membership arrays: a crawl-scale corpus with a
    // mega-duplicated text (empty string, boilerplate page) would
    // concentrate millions of member ids into ONE aggregation row — a
    // 2GB-row/OOM hazard the replica tiers never exercise. Members
    // inherit their text's signature through a rep-ASSIGNMENT join
    // instead: rows, not arrays, so a hot text is join fan-out (AQE
    // skew-split territory) rather than a single untouchable buffer.
    val g = docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("rep"))
      .localCheckpoint(true) // distinct-text-sized; feeds sig AND join
    val repSig = signatures(
      g.select(col("rep").as(idCol), col(textCol)), idCol, textCol)
    val sigByText = g
      .join(repSig.select(col("doc_id").as("rep"), col("simhash")),
            Seq("rep"))
      .select(col(textCol), col("simhash"))
    // byte-gated broadcast (row counts lie when rows carry full texts):
    // a fixture/replica-tier distinct-text set ships map-side, so the
    // corpus never shuffles its text column at all; a corpus-scale set
    // crosses the gate and AQE plans the text-keyed exchange.
    // octet_length, not length: char counts undercount a multi-byte
    // corpus up to 4x, and the gate guards executor memory, which is
    // bytes. Gate at 48MB, not the 64MB broadcast comfort zone — the
    // hash relation built from the rows carries per-row object
    // overhead on top of the raw text bytes.
    val textBytes = Option(
        g.agg(sum(octet_length(col(textCol)))).head.get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val gate: DataFrame => DataFrame =
      if (textBytes <= (48L << 20)) (df: DataFrame) => broadcast(df)
      else identity
    // NOTE: emits DOC order (the probe side's order). pairs() re-
    // clusters on simhash before broadcasting into its expansion
    // joins — see the comment there; clusters() works at signature
    // grain and needs no such pass.
    docs.select(col(idCol).as("doc_id"), col(textCol))
      .join(gate(sigByText), Seq(textCol))
      .select(col("doc_id"), col("simhash"))
  }

  /** (doc_id, band_idx, band_val, simhash): the signature split into `b`
    * contiguous (64/b)-bit bands — the equi-join keys for candidate
    * generation. The full signature rides along (8 bytes/row) so the
    * pair join can verify hamming WITHOUT re-deriving signatures — the
    * signature subtree (tokenize + 64 aggregates) is the expensive part
    * and must be computed once per join side, not re-joined back. */
  def bands(sig: DataFrame, b: Int = 4): DataFrame = {
    require(64 % b == 0, s"band count $b must divide 64")
    val w = 64 / b
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val bandCols = (0 until b).map { i =>
      struct(lit(i).as("band_idx"),
             shiftright(col("simhash"), i * w).bitwiseAND(lit(mask))
               .as("band_val")).as(s"b$i")
    }
    sig.select(col("doc_id"), col("simhash"),
               explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
              col("band.band_val").as("band_val"), col("simhash"))
  }

  /** Near-dup pairs (doc_a < doc_b, hamming ≤ maxHamming) — banded
    * candidates, exact hamming verify. Output is IDENTICAL to the
    * all-pairs form (pigeonhole guarantees recall 1), but the plan is a
    * shuffle equi-join on band keys instead of a nested loop.
    *
    * Pairing runs at SIGNATURE grain, not document grain: exact
    * duplicates — the dominant near-dup population of any real crawl
    * corpus — share one signature, so banding, the candidate self-join,
    * and the hamming verify all run once per DISTINCT signature, and
    * document pairs expand from group membership afterwards (a pure
    * map-side explode, no shuffle, no trailing distinct — memberships
    * are disjoint so each unordered doc pair surfaces exactly once).
    * At the 10× replica tier (50k docs, 3.9k distinct signatures) this
    * drops the candidate join from 152M doc-pair rows to ~1M sig-pair
    * rows with a bit-identical result. */
  def pairs(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", b: Int = 4,
            maxHamming: Int = 3): DataFrame = {
    require(maxHamming < b,
      s"pigeonhole needs maxHamming($maxHamming) < bands($b) for recall 1")
    // (doc_id, simhash) — materialized once (keeps the expensive
    // 64-aggregate signature subtree single-execution); this narrow
    // frame IS the group membership, so expansion below is plain
    // equi-joins with spillable build sides. (A first cut collected
    // members into per-signature ARRAYS and double-exploded them — each
    // intermediate row carried the whole array, quadratic MEMORY per
    // group, and a hot signature group OOMed the 100× tier.)
    // CLUSTERED on simhash before the checkpoint: the expansion joins
    // broadcast this frame, and a broadcast hash relation stores each
    // key's ~|group| value rows in BUILD order — the rep-assignment
    // join emits DOC order, scattering every key's chain across the
    // corpus-sized row pool, and walking those chains 2×10⁹ times
    // measured 34.3 vs 3.6 s at the 100× tier on identical rows
    // (PLANS_r17: pure cache locality). One narrow (doc_id, simhash)
    // shuffle — 8 MB at that tier — buys cache-local chains.
    val nP = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sig = grainedSignatures(docs, idCol, textCol)
      .repartition(nP, col("simhash")).sortWithinPartitions("simhash")
      .localCheckpoint(true)
    // Adaptive broadcast gate on the EXPANSION joins (the screenFrames /
    // DedupIndex.queryBatch discipline): their output is the quadratic
    // pair set — the one thing this key materializes by contract — and a
    // sort-merge plan must SORT that output-sized stream, while a
    // broadcast-hash plan streams it straight through codegen. The sig
    // frame sits right at AQE's broadcast threshold on the replica tiers
    // (500k rows ≈ 10–20 MB estimated), so left to AQE the strategy
    // FLIPS run to run — the measured 70→103→123 s cross-round variance
    // on untouched code. The gate pins it: corpus below the limit ⇒
    // explicit broadcast (16 B/row ⇒ ≤32 MB build side); a corpus-scale
    // sig crosses the gate and takes the shuffle join AQE plans —
    // forcing a broadcast there is how a real corpus OOMs.
    val gate: DataFrame => DataFrame =
      if (sig.count() <= 2000000L) (df: DataFrame) => broadcast(df)
      else identity
    // ONE expansion pipeline for BOTH legs: the same-signature (hamming
    // 0) pairs enter as DIAGONAL rows (sig_a = sig_b) of the rep-grain
    // pair frame, so the union happens on a few thousand 24-byte rows —
    // never on the quadratic doc-pair streams. Two measured reasons,
    // both found at the 100× replica tier (984M inter + 385M intra
    // expansion rows; decomposition in PLANS_r16):
    //  1. A doc-grain union is a whole-stage-codegen BOUNDARY: every
    //     expanded row materializes between the join stages and the
    //     aggregation above, and the two legs' combined throughput
    //     collapsed from 1.7 s (counted separately) to 56–68 s
    //     (counted through the union).
    //  2. The banded distinct leaves the rep frame in whatever tiny
    //     post-shuffle partitioning AQE coalesced it to — each row fans
    //     out ~|A|·|B| doc pairs, so a near-1-partition coalesce
    //     SERIALIZES the quadratic output onto one core (the
    //     70→103→123 s cross-round drift on untouched code was exactly
    //     this partition count varying with tier layout). The
    //     repartition spreads kilobytes; the fan-out gains the whole
    //     executor count.
    // The diagonal's da < db filter drops self-pairs and orders
    // same-group pairs; distinct signatures imply distinct docs, so
    // least/greatest only reorders inter rows — output row-identical to
    // the former two-leg doc-grain union.
    val nParts = sig.sparkSession.sessionState.conf.numShufflePartitions
    val diag = sig.select(col("simhash")).distinct()
      .select(col("simhash").as("sig_a"), col("simhash").as("sig_b"),
              lit(0L).as("hamming"))
    val sigPairs = signaturePairs(sig, b, maxHamming)
      .unionByName(diag)
      .repartition(nParts)
    sigPairs
      .join(gate(sig.select(col("simhash").as("sig_a"),
                            col("doc_id").as("da"))), Seq("sig_a"))
      .join(gate(sig.select(col("simhash").as("sig_b"),
                            col("doc_id").as("db"))), Seq("sig_b"))
      .filter(col("sig_a") =!= col("sig_b") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
              greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
  }

  /** Qualifying DISTINCT-signature pairs (sig_a < sig_b, hamming ≤
    * maxHamming) via the banded equi-join — the signature-grain core
    * shared by [[pairs]] (which expands doc pairs from membership) and
    * [[clusters]] (which never materializes doc pairs at all). */
  private[graft] def signaturePairs(sig: DataFrame, b: Int,
                                    maxHamming: Int): DataFrame = {
    val sg = bands(
        sig.select(col("simhash")).distinct()
          .select(col("simhash").as("doc_id"), col("simhash")), b)
      .select(col("simhash").as("sig"), col("band_idx"), col("band_val"))
    // a signature pair sharing several bands matches several times with
    // an IDENTICAL row — distinct at signature grain is cheap
    sg.select(col("sig").as("sig_a"), col("band_idx"), col("band_val"))
      .join(sg.select(col("sig").as("sig_b"), col("band_idx"),
                      col("band_val")),
            Seq("band_idx", "band_val"))
      .filter(col("sig_a") < col("sig_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("sig_a", "sig_b", "hamming").distinct()
  }

  /** Decision-grain SimHash dedup: (doc_id, cluster_id, is_keeper) for
    * EVERY document — connected components over the hamming-≤-maxHamming
    * near-dup graph WITHOUT ever materializing document pairs.
    *
    * Why this surface exists: the pair form's OUTPUT is inherently
    * quadratic in the duplication factor (a replica tier that copies
    * texts ~10× yields ~100× the pairs — 1.009 B rows at the 100×
    * probe, and streaming them dominated that tier's cost at 108.8 s),
    * but real pipelines consume the dedup DECISION, which is
    * corpus-sized. So the whole computation runs at signature/rep
    * grain, the q_dedup_cluster shape: distinct signatures pair via the
    * banded join, each signature group's rep (min doc_id) enters the CC
    * fixpoint (operators.DedupCluster — pointer jumping, O(log
    * diameter) rounds), and members inherit their rep's component via
    * one narrow membership join. rep = min(group) makes the component
    * minimum the min doc_id of the full doc-grain graph, so labels
    * match clustering the expanded pair set EXACTLY (spec-pinned);
    * docs with no tokens have no signature and stay singletons, same
    * as the pair form which never emits them. */
  def clusters(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text", b: Int = 4,
               maxHamming: Int = 3): DataFrame = {
    val sig = grainedSignatures(docs, idCol, textCol).localCheckpoint(true)
    clustersFromSignatures(docs.select(col(idCol).as("doc_id")), sig,
      b, maxHamming)
  }

  /** The signature-grain CC decision for ANY 64-bit hamming-space
    * signature frame (doc_id, simhash) — the [[clusters]] body factored
    * out so other perceptual signatures (e.g. the PHash image dHash)
    * reuse the banded-candidate + rep-fixpoint machinery unchanged.
    * `docIds` is the full corpus id frame; ids absent from `sig` stay
    * singletons (the no-token / no-payload case). `sig` should already
    * be materialized if its plan is expensive. */
  def clustersFromSignatures(docIds: DataFrame, sig: DataFrame,
                             b: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < b,
      s"pigeonhole needs maxHamming($maxHamming) < bands($b) for recall 1")
    val groups = sig.groupBy("simhash").agg(min("doc_id").as("rep"))
    val repPairs = signaturePairs(sig, b, maxHamming)
      .join(groups.select(col("simhash").as("sig_a"), col("rep").as("doc_a")),
            Seq("sig_a"))
      .join(groups.select(col("simhash").as("sig_b"), col("rep").as("doc_b")),
            Seq("sig_b"))
      .select("doc_a", "doc_b")
    val repClusters = graft.operators.DedupCluster.clusters(
        groups.select(col("rep").as("doc_id")), repPairs)
      .select(col("doc_id").as("rep"), col("cluster_id").as("rep_cluster"))
    val member = sig
      .join(groups, Seq("simhash"))
      .join(repClusters, Seq("rep"))
      .select(col("doc_id"), col("rep_cluster").as("cluster_id"))
    docIds
      .join(member, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper",
        (col("doc_id") === col("cluster_id")).cast("long"))
  }
}
