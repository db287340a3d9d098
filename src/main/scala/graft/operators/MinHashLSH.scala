package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH over shingle sets — the 100-TB candidate generator
  * for near-duplicate detection: signature → bands → bucket equi-join, so
  * candidate pairs arrive via a Catalyst-native shuffle join on band keys
  * (never an all-pairs product). Seeds are literals (SURVEY §7.5 #6), so
  * every run — including the driver's — produces identical candidates.
  *
  * Recall math: P(candidate | Jaccard=J) = 1 − (1 − J^r)^b. With the
  * defaults b=8, r=2: J=0.8 → 0.9997, J≥0.9 → ~1. The caller re-verifies
  * candidates with EXACT Jaccard, so precision is always exact and the
  * only approximation is (vanishing) recall loss at the threshold.
  */
object MinHashLSH {

  /** The k MinHash aggregates over (doc_id, shingle:int64) rows:
    * mh_s = min over shingles of xxhash64(shingle, s). */
  def signatureAggs(k: Int): Seq[Column] =
    (0 until k).map(s => min(xxhash64(col("shingle"), lit(s))).as(s"mh$s"))

  /** k-permutation MinHash signature per doc (doc_id, mh0..mh{k-1}). */
  def signatures(shingleRows: DataFrame, k: Int): DataFrame = {
    val aggs = signatureAggs(k)
    shingleRows.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** A doc's b band hashes as one array: position bi is
    * xxhash64(mh[bi·r], …, mh[bi·r+r−1], bi) over the signature
    * components `mh` (in order). The single definition of a band — the
    * stored DedupIndex row keeps this array, and [[bands]] explodes
    * it. */
  def bandHashes(mh: Seq[Column], b: Int, r: Int): Column = {
    require(b * r <= mh.size,
      s"bands($b)×rows($r) exceed signature length ${mh.size}")
    array((0 until b).map(bi =>
      xxhash64((0 until r).map(ri => mh(bi * r + ri)) :+ lit(bi): _*)): _*)
  }

  /** (doc_id, band_idx, band_hash) — one row per band of a signature
    * frame with mh0..mh{b·r−1} columns. */
  def bands(sig: DataFrame, b: Int, r: Int): DataFrame =
    sig.select(col("doc_id"), posexplode(bandHashes(
        (0 until b * r).map(i => col(s"mh$i")), b, r))
      .as(Seq("band_idx", "band_hash")))

  /** Asymmetric (cross-corpus) candidate pairs: every (doc_a ∈ A,
    * doc_b ∈ B) sharing at least one band bucket — the contamination /
    * screening shape, where A is a training corpus and B a bench suite.
    * No `doc_a < doc_b` filter (the sides are disjoint id sets and the
    * pair is DIRECTED corpus→bench); the bench side's band table is
    * suite-sized, so at 100 TB the equi-join broadcasts it and the
    * corpus is never shuffled. Same recall math as [[candidatePairs]].
    */
  def candidatePairsAcross(shA: DataFrame, shB: DataFrame, k: Int = 16,
                           b: Int = 8, r: Int = 2): DataFrame = {
    require(b * r <= k, s"bands($b)×rows($r) exceed signature length $k")
    val ba = bands(signatures(shA, k), b, r)
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
    val bb = bands(signatures(shB, k), b, r)
      .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
    ba.join(bb, Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing at least one band
    * bucket. The equi-join on (band_idx, band_hash) is the whole trick:
    * similarity search as a shuffle join. */
  def candidatePairs(shingleRows: DataFrame, k: Int = 16, b: Int = 8,
                     r: Int = 2): DataFrame = {
    require(b * r <= k, s"bands($b)×rows($r) exceed signature length $k")
    val bd = bands(signatures(shingleRows, k), b, r)
    val left = bd.select(col("doc_id").as("doc_a"), col("band_idx"),
                         col("band_hash"))
    val right = bd.select(col("doc_id").as("doc_b"), col("band_idx"),
                          col("band_hash"))
    left.join(right, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }
}
