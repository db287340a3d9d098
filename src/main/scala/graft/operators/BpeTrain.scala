package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al., ACL'16) — the
  * tokenizer-construction step of a training-data pipeline.
  *
  * The classic reduction: BPE statistics depend only on the WORD-
  * FREQUENCY table, so the corpus is touched exactly once (one explode +
  * one groupBy), and every merge iteration runs over the vocabulary —
  * Heaps-law-sized (millions of rows at 100 TB, a DataFrame; dozens
  * here), never the corpus. Per iteration:
  *
  *   1. adjacent-symbol pair counts: zip_with(slice, slice) + explode +
  *      groupBy-sum weighted by word count — a map-side-combinable agg
  *      over the vocab;
  *   2. a WINDOW of top candidates (count desc, then lexicographic — a
  *      total order, so training is deterministic on any partitioning)
  *      comes to the driver, and [[safeBatch]] accepts the longest
  *      prefix of mutually symbol-disjoint merges the sequential
  *      algorithm provably picks in the same order — one driver job
  *      per BATCH of merges, not per merge (the de-serialization a
  *      30k-merge production tokenizer needs);
  *   3. the vocab re-encodes with a greedy left-to-right fold
  *      (`aggregate` HOF): an occurrence merges iff the accumulator's
  *      last symbol is `l` and the current is `r` — a just-merged `l+r`
  *      is a different string, so overlapping occurrences ("aaa" under
  *      (a,a)) merge non-overlapping left-to-right, the reference
  *      greedy semantics. util.Fixpoint.materialize truncates the
  *      per-iteration lineage (locally by default; reliably under
  *      spark.graft.checkpointDir — the IvfKMeans discipline).
  *
  * Returns the merge table (step, left, right, merged, pair_count) —
  * the tokenizer artifact itself. Driver state is one row per merge;
  * test-oracled (TokBpeSpec) against an independent local reference
  * implementation on the raw strings.
  */
object BpeTrain {

  /** Greedy left-to-right merge of adjacent (l, r) occurrences in a
    * symbol array — ONE definition shared by training's re-encode and
    * [[encode]] so the applied tokenizer can never drift from the
    * trained one. A just-merged `l+r` is a different string from `l`,
    * so overlapping occurrences merge non-overlapping left-to-right
    * (the reference greedy semantics; pinned in TokBpeSpec). */
  private[graft] def mergeFold(syms: org.apache.spark.sql.Column,
                               l: String, r: String)
      : org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Encode one word column with a trained merge list: char-split, then
    * the merges applied IN TRAINING ORDER — each a model-sized literal
    * baked into the expression (the EmbedPca literal-projection
    * discipline), so encoding is a pure map: no join, no shuffle, no
    * state. At 100 TB this is the tokenize-the-corpus pass. */
  def encode(word: org.apache.spark.sql.Column,
             merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    merges.foldLeft(filter(split(word, ""), c => length(c) > 0)) {
      case (syms, (l, r)) => mergeFold(syms, l, r)
    }

  /** Per-doc tokenization stats under a trained merge list —
    * (doc_id, n_ws_tokens, n_chars, n_bpe_pieces), a PURE MAP (the
    * merges bake in as expression literals). ONE definition shared by
    * the batch key q_text_bpe_apply and the streaming face
    * s_bpe_encode, so the two can never disagree. */
  def encodeStats(docs: DataFrame,
                  merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"),
        graft.operators.InvertedIndex.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_ws_tokens"),
        aggregate(transform(col("toks"), w => length(w)),
          lit(0), (a, x) => a + x).cast("long").as("n_chars"),
        aggregate(transform(col("toks"), w => size(encode(w, merges))),
          lit(0), (a, x) => a + x).cast("long").as("n_bpe_pieces"))

  private def mergesDir(root: String) = s"$root/merges"

  /** True iff a trained merge table exists under `root`. */
  def exists(s: org.apache.spark.sql.SparkSession, root: String): Boolean =
    graft.util.IndexStore.isCommitted(s, mergesDir(root))

  /** Train and persist the merge table — the tokenizer artifact (the
    * train-once / apply-forever discipline of AnnIndex/cluster_assign). */
  def store(docs: DataFrame, root: String, nMerges: Int = 10): Unit =
    merges(docs, nMerges).write.mode("overwrite").parquet(mergesDir(root))

  /** The stored merge list in training order — model-sized (one row per
    * merge), the util.Local artifact-read discipline. */
  def loadMerges(s: org.apache.spark.sql.SparkSession, root: String)
      : Seq[(String, String)] =
    s.read.parquet(mergesDir(root)).orderBy("step")
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Ranked candidate rows fetched per driver round. Rows are tiny
    * (two short strings + a long), so a larger window costs nothing;
    * it bounds how many merges one round can BATCH. */
  private val CandidateWindow = 64

  /** Max merges applied per round — caps the depth of the chained
    * mergeFold expression one plan carries (each accepted merge adds
    * one `aggregate` HOF; far past ~16 the generated code stops being
    * JIT-friendly). */
  private val MaxBatch = 16

  /** The longest prefix of the ranked candidate window that the
    * SEQUENTIAL algorithm is guaranteed to pick in this exact order —
    * the batching trick that turns one driver-coordinated Spark job
    * per merge (a real bottleneck at a production 30k–50k merge count)
    * into one job per BATCH.
    *
    * Soundness (each accepted mᵢ is the true argmax at its step):
    *   - accepted merges are pairwise SYMBOL-DISJOINT (no l/r/merged
    *     string shared), so applying m₁..mᵢ₋₁ leaves count(mᵢ) intact
    *     and never creates an occurrence of any later accepted pair;
    *   - the scan takes a CONSECUTIVE ranked prefix and STOPS (never
    *     skips) at the first conflicting pair: every pair ranked above
    *     an accepted mᵢ is an earlier accepted merge, whose greedy
    *     re-encode zeroes its own count;
    *   - pairs whose counts DECREASE stay ranked below mᵢ (ties break
    *     the same way — their lex rank was already after);
    *   - the only rank climbers are NEW pairs (x·merged / merged·y /
    *     merged·merged). Each occurrence of one contains an occurrence
    *     of an ORIGINAL pair sharing a symbol with an accepted merge —
    *     a CONFLICTING pair, every one of which ranks at or below the
    *     first conflict. So new-pair counts ≤ cStop, and the guard
    *     accepts mᵢ (i ≥ 2) only while count(mᵢ) > cStop — a new pair
    *     can never outrank a batched merge at its step. (m₁ needs no
    *     guard: it is the literal argmax before anything applies.)
    * When the window is FULL, unseen below-window conflicts may exist:
    * cStop starts at the last scanned count instead of −∞. */
  private[graft] def safeBatch(window: Seq[(String, String, Long)],
                               maxTake: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var cStop =
      if (window.length >= CandidateWindow) window.last._3 else Long.MinValue
    var stopped = false
    for (cand @ (l, r, n) <- window if !stopped && accepted.size < maxTake) {
      if (used(l) || used(r)) { cStop = math.max(cStop, n); stopped = true }
      else { accepted += cand; used ++= Seq(l, r, l + r) }
    }
    if (accepted.isEmpty) Seq.empty
    else accepted.head +: accepted.tail.takeWhile(_._3 > cStop).toSeq
  }

  def merges(docs: DataFrame, nMerges: Int = 10): DataFrame = {
    val s = docs.sparkSession
    var vocab = docs
      .select(explode(InvertedIndex.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        filter(split(col("w"), ""), c => length(c) > 0).as("syms"))
      .localCheckpoint(true) // one-time vocab build, not a fixpoint round
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val pairs = vocab
        .select(col("cnt"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("n"))
      // ONE ranked driver fetch per ROUND; safeBatch proves which prefix
      // the sequential algorithm would pick unchanged
      val window = pairs
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(CandidateWindow).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val batch = safeBatch(window,
        maxTake = math.min(MaxBatch, nMerges - step))
      if (batch.isEmpty) done = true
      else {
        for ((l, r, n) <- batch) {
          out += ((step.toLong, l, r, l + r, n))
          step += 1
        }
        // symbol-disjoint ⇒ the folds commute; applied in rank order so
        // the vocab state after the batch ≡ after the sequential merges
        vocab = graft.util.Fixpoint.materialize(
          batch.foldLeft(vocab) { case (v, (l, r, _)) =>
            v.withColumn("syms", mergeFold(col("syms"), l, r))
          })
      }
    }
    s.createDataFrame(out.toSeq)
      .toDF("step", "left", "right", "merged", "pair_count")
  }
}
