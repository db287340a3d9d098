package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interpolated bigram language model AT REST — the stored-artifact twin
  * of q_select_perplexity_bigram's grid, applying the same "train once,
  * score forever" discipline the NB unigram model got (NbClassifier
  * store/storedGrid): the model GRID (one row per DISTINCT corpus
  * bigram, integer micro-nat log-likelihood) is written to parquet on
  * first use and every later scoring call reads the artifact instead of
  * re-deriving counts from the corpus.
  *
  * Model: p(w2|w1) = 0.7·n2/n1 + 0.3·(cnt(w2)+1)/(T+V) — MLE bigram
  * interpolated with the add-one-smoothed unigram, so unseen-context
  * mass never zeroes the log. Determinism discipline: ONE ln per
  * DISTINCT bigram rounded to integer micro-nats (both engines compute
  * the identical IEEE expression), exact INT64 from there on — the grid
  * survives a parquet round-trip bit-for-bit, so stored ≡ trained and a
  * full-recompute oracle still hash-matches.
  *
  * Scale shape: counts are map-side-combinable aggs; the grid is
  * distinct-bigram-sized and joins occurrences by (w1, w2) equi-join —
  * deliberately NEVER broadcast (vocabulary² can exceed memory; only
  * the 1-row stats frame broadcasts). Training makes ONE corpus bigram
  * explode (localCheckpointed — it feeds the bigram counts AND the
  * context counts; before this the explode re-derived ~3× per call,
  * the r14 verdict's item 3) plus one unigram pass; scoring re-derives
  * the explode exactly once per scored batch.
  */
object BigramLm {

  private def gridDir(root: String): String = s"$root/grid"
  private def dictDir(root: String): String = s"$root/dict"
  private def kgridDir(root: String): String = s"$root/kgrid"

  /** kgrid is written LAST by [[store]], so its marker implies the
    * whole artifact (grid + dict + kgrid). */
  def exists(s: SparkSession, root: String): Boolean =
    graft.util.IndexStore.isCommitted(s, kgridDir(root))

  /** The corpus bigram explode: (doc_id, w1, w2) — one row per adjacent
    * token pair on the whitespace tokenization. */
  def bigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(l) - 2)," +
          " i -> struct(l[i] AS w1, l[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))

  /** Train the micro-nat grid (w1, w2, llk2) from `docs(doc_id, text)`.
    * One checkpointed bigram explode + one unigram pass. */
  def train(docs: DataFrame): DataFrame = {
    val bg = graft.util.Fixpoint.materialize(bigrams(docs))
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("l"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    val uni = toks.select(explode(col("l")).as("w2"))
    val cnt = uni.groupBy("w2").agg(count(lit(1)).as("cnt"))
    val stats = uni.agg(count(lit(1)).as("t"),
      countDistinct(col("w2")).as("v"))
    val p = lit(0.7) * (col("n2").cast("double") / col("n1").cast("double")) +
      lit(0.3) * ((col("cnt") + lit(1)).cast("double") /
                  (col("t") + col("v")).cast("double"))
    c2.join(c1, Seq("w1")).join(cnt, Seq("w2"))
      .crossJoin(broadcast(stats))
      .select(col("w1"), col("w2"),
        round(log(p) * lit(1000000.0)).cast("long").as("llk2"))
  }

  /** Persist the model: the string grid (the canonical form every
    * consumer can read and the SQL oracle mirrors), a token DICTIONARY
    * (w → dense id, one row per distinct grid word, V-grain — the
    * vocabulary does not square), and the ID-KEYED grid
    * (k = id1·2³² + id2 → llk2) the scoring path joins on. Scoring
    * through 8-byte keys instead of two strings exists because the
    * occurrence explode is the model's one corpus-scale frame: the
    * id-grain rows shuffle ~3× fewer bytes and hash one long instead
    * of two strings (guide §2.3 "shuffle keys, not payloads"), while
    * the V²-sized grid itself never bakes into a literal or broadcast
    * (the vocabulary² memory argument — only the V-grain dictionary
    * ships with the plan, the NbGridSums discipline). kgrid is written
    * LAST: [[exists]] keys on its marker, so a crash mid-store reads
    * as "no model" and rebuilds, never as a grid without its ids. */
  def store(docs: DataFrame, root: String): Unit = {
    val s = docs.sparkSession
    graft.util.IndexStore.wipe(s, root)
    train(docs).write.mode("overwrite").parquet(gridDir(root))
    val grid = s.read.parquet(gridDir(root))
    val dict = grid.select(col("w1").as("w"))
      .unionByName(grid.select(col("w2").as("w")))
      .distinct()
      .select(col("w"), (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("w")) - 1)
        .as("id"))
    dict.coalesce(1).write.mode("overwrite").parquet(dictDir(root))
    val d = s.read.parquet(dictDir(root))
    grid
      .join(d.select(col("w").as("w1"), col("id").as("id1")), Seq("w1"))
      .join(d.select(col("w").as("w2"), col("id").as("id2")), Seq("w2"))
      .select((col("id1").cast("long") * lit(4294967296L) +
        col("id2").cast("long")).as("k"), col("llk2"))
      .repartitionByRange(col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(kgridDir(root))
  }

  def storedGrid(s: SparkSession, root: String): DataFrame = {
    require(exists(s, root), s"no bigram LM under $root")
    s.read.parquet(gridDir(root))
  }

  /** The stored (w, id) dictionary — V-grain, collected by the scoring
    * path to bake [[bigramKeys]] (static schema: inference is a job). */
  def storedDict(s: SparkSession, root: String): DataFrame = {
    require(exists(s, root), s"no bigram LM under $root")
    s.read.schema("w STRING, id INT").parquet(dictDir(root))
  }

  /** The stored id-keyed grid (k, llk2) — see [[store]]. */
  def storedKGrid(s: SparkSession, root: String): DataFrame = {
    require(exists(s, root), s"no bigram LM under $root")
    s.read.schema("k BIGINT, llk2 BIGINT").parquet(kgridDir(root))
  }

  /** Column: the doc's bigram OCCURRENCE keys (k = id1·2³² + id2, one
    * per adjacent token pair, duplicates preserved) against a baked
    * V-grain dictionary — the id-grain twin of [[bigrams]]: a pair
    * with any out-of-dictionary token is skipped here, exactly as the
    * string join dropped it (an OOD word occurs in NO grid row).
    * `dictRows` = (w, id) via util.Local.modelRows. */
  def bigramKeys(toks: org.apache.spark.sql.Column,
                 dictRows: Array[org.apache.spark.sql.Row])
      : org.apache.spark.sql.Column =
    graft.functions.BigramKeys.keys(toks, dictRows)
}
