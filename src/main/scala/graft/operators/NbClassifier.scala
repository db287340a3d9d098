package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes (+1 smoothing) as a MODEL ARTIFACT — the
  * trained-classifier discipline behind q_text_classify_nb and its
  * at-rest twin:
  *
  *   root/grid/   — (term, llk_<class>…)   one row per vocab term, the
  *                  per-class log-likelihoods quantized to INT64
  *                  millionths (Heaps-law-sized)
  *   root/priors/ — one row of quantized class log-priors
  *
  * train() and score() are ONE implementation shared by the in-flight
  * key (train + score in the same plan) and the stored path (score
  * against parquet artifacts), so the two answers are bit-identical —
  * the same twin discipline as AnnIndex/cluster_assign, and why the
  * at-rest key can share the in-flight key's DuckDB oracle.
  *
  * Scale: training is one token-count shuffle into the vocab-sized
  * grid plus two one-row aggregates; scoring is a broadcast join of
  * the grid onto the token stream and per-class INT64 sums — one
  * doc_id exchange, map-side combinable, partition-order-free by the
  * quantization. Tokens absent from the training vocabulary score
  * zero (skipped), the standard multinomial-NB treatment.
  */
object NbClassifier {

  private def gridDir(root: String)   = s"$root/grid"
  private def priorsDir(root: String) = s"$root/priors"

  def exists(s: SparkSession, root: String): Boolean =
    graft.util.IndexStore.isCommitted(s, gridDir(root))

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(InvertedIndex.tokens(col("text"))).as("term"))

  /** Sorted label set — a bounded driver read (the centroid-collect
    * discipline); the class order fixes the argmax tie-break. */
  def classesOf(docs: DataFrame): Seq[String] =
    docs.select("lang").distinct().collect().map(_.getString(0)).sorted.toSeq

  /** Train the model frames: (grid, priors). grid = one row per vocab
    * term with llk_<c> columns; priors = one row with p_<c> columns.
    * Every log quantizes to an exact INT64 millionth. */
  def train(docs: DataFrame, classes: Seq[String]): (DataFrame, DataFrame) = {
    val t = toks(docs)
    val cnt = t.groupBy("term").pivot("lang", classes).agg(count(lit(1)))
    val statAggs = classes.map(c =>
        sum(when(col("lang") === c, 1L).otherwise(0L)).as(s"tot_$c")) :+
      countDistinct(col("term")).as("v")
    val stats = t.agg(statAggs.head, statAggs.tail: _*)
    val grid = cnt.crossJoin(broadcast(stats)).select(
      col("term") +: classes.map { c =>
        round(log((coalesce(col(c), lit(0L)) + lit(1L)).cast("double") /
            (col(s"tot_$c") + col("v")).cast("double")) * 1e6)
          .cast("long").as(s"llk_$c")
      }: _*)
    val priAggs = classes.map(c =>
        sum(when(col("lang") === c, 1L).otherwise(0L)).as(s"nd_$c")) :+
      count(lit(1)).as("nd")
    val ndRow = docs.agg(priAggs.head, priAggs.tail: _*)
    val priors = ndRow.select(classes.map { c =>
      round(log(col(s"nd_$c").cast("double") / col("nd")) * 1e6)
        .cast("long").as(s"p_$c")
    }: _*)
    (grid, priors)
  }

  /** Train and persist — grid written last, so its marker implies the
    * whole artifact (the AnnIndex build discipline). */
  def store(docs: DataFrame, root: String): Unit = {
    graft.util.IndexStore.wipe(docs.sparkSession, root)
    val (grid, priors) = train(docs, classesOf(docs))
    priors.write.mode("overwrite").parquet(priorsDir(root))
    grid.write.mode("overwrite").parquet(gridDir(root))
  }

  /** Score `docs(doc_id, lang, text)` against model frames: broadcast
    * grid join + per-class INT64 sums + when-chain argmax (ties to the
    * lexicographically-first class). Returns (doc_id, predicted,
    * actual) ordered by doc_id — one row per INPUT doc: a document
    * with no in-vocabulary token (the new-batch scoring path this
    * model exists for) keeps a prediction, the prior argmax, instead
    * of silently vanishing through the token inner-join. */
  def score(docs: DataFrame, grid: DataFrame, priors: DataFrame,
            classes: Seq[String]): DataFrame = {
    // scoring as a PURE MAP (functions.NbGridSums, r18): the model-sized
    // grid is pulled once (util.Local discipline — it IS the artifact a
    // deployment ships) and baked into one expression that folds each
    // doc's token array to per-class INT64 sums. The old plan exploded
    // the corpus to token rows, broadcast-joined the grid, unioned a
    // per-doc anchor row (so all-OOV docs survived the inner join) and
    // paid a doc_id exchange to sum it back — all machinery around
    // integer adds the map does in place. Zero exchanges, row volume
    // stays at doc grain; sums are order-free INT64 so every total (and
    // the argmax) is bit-identical, OOV docs included (zero sums ≡ the
    // anchor row's NULL → coalesce 0). PlanShapeSpec pins the new
    // no-join, no-exchange shape; the SQL oracle re-verifies results.
    val gridRows = graft.util.Local.modelRows(
      grid.select(col("term") +: classes.map(c => col(s"llk_$c")): _*))
    val sums = docs.select(col("doc_id"), col("lang"),
      graft.functions.NbGridSums.sums(
        InvertedIndex.tokens(col("text")), gridRows, classes.length).as("s"))
    val scored = sums
      .crossJoin(broadcast(priors))
      .select(col("doc_id") +: col("lang").as("actual") +:
        classes.zipWithIndex.map { case (c, i) =>
          (col("s").getItem(i) + col(s"p_$c")).as(s"t_$c") }: _*)
    def pick(i: Int): Column =
      if (i == classes.length - 1) lit(classes(i))
      else {
        val rest = classes.drop(i + 1).map(c => col(s"t_$c"))
        val ge = col(s"t_${classes(i)}") >=
          (if (rest.size == 1) rest.head else greatest(rest: _*))
        when(ge, classes(i)).otherwise(pick(i + 1))
      }
    scored.select(col("doc_id"), pick(0).as("predicted"), col("actual"))
      .orderBy("doc_id")
  }

  /** The stored llk grid alone (for consumers that need per-term
    * scores without the prior row — e.g. perplexity-style fluency
    * ranking). Classes derive from the llk_ columns as in
    * [[scoreStored]]. */
  def storedGrid(s: SparkSession, root: String): DataFrame = {
    require(exists(s, root), s"no NB model under $root")
    s.read.parquet(gridDir(root))
  }

  /** Score purely from the stored artifacts — classes derive from the
    * grid's own llk_* schema, so caller and artifact cannot disagree. */
  def scoreStored(s: SparkSession, root: String, docs: DataFrame)
      : DataFrame = {
    require(exists(s, root), s"no NB model under $root")
    val grid = s.read.parquet(gridDir(root))
    val priors = s.read.parquet(priorsDir(root))
    val classes = grid.schema.fieldNames.filter(_.startsWith("llk_"))
      .map(_.stripPrefix("llk_")).sorted.toSeq
    score(docs, grid, priors, classes)
  }
}
