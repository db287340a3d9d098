package graft

import org.apache.spark.sql.functions._

/** Zipf-shaped documents fixture generator (verdict r17 #1): the driver
  * fixture's ~60-token vocabulary makes every postings bucket dense and
  * every text key measure an adversarial density no real corpus has —
  * PLANS_r17 quantified the probe-side curve; this writes a WHOLE
  * documents.parquet tier with a Zipf(s≈1) vocabulary so the full text
  * family (tfidf/bm25/collocations/ngram-lm/perplexity + the stored
  * text index) re-measures under realistic head-term skew at
  * sf0.1-shape/10×/100× doc counts.
  *
  * rank = ceil(V^u) with u uniform — the exact inverse CDF of
  * p(r) ∝ 1/r on [1, V]. All column expressions (xxhash64-seeded), the
  * corpus generates distributed: no driver loop, no Random, fully
  * deterministic per (doc_id, position). Schema mirrors the driver
  * fixture: (doc_id, text, lang, source, n_chars); ~50 tokens/doc like
  * the fixture's ~300 chars.
  *
  * With the 4th arg `dups`, the corpus additionally carries a
  * DUPLICATION STRUCTURE so the dedup family measures meaningfully
  * under the realistic vocabulary (a pure-random corpus has no
  * near-dups to find): ~15% of docs are EXACT replicas of a nearby
  * base doc (the re-post population — ids share text with
  * id − id%16's text) and ~10% are NEAR-dups (the base text with one
  * token replaced — 3-gram shingle Jaccard ≈ 0.88, above the 0.8
  * family threshold). All still column expressions, deterministic.
  *
  * Usage: runMain graft.ZipfDocs <dstDir> <nDocs> [vocab] [dups]
  */
object ZipfDocs {
  def main(args: Array[String]): Unit = {
    val dst = args(0)
    val nDocs = args(1).toLong
    val vocab = if (args.length > 2) args(2).toInt else 60000
    val withDups = args.length > 3 && args(3) == "dups"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val lnV = math.log(vocab.toDouble)
    val langs = array(lit("en"), lit("en"), lit("en"), lit("de"),
      lit("fr"), lit("es"), lit("it"))
    def tokArray(src: org.apache.spark.sql.Column) = transform(
      sequence(lit(1), lit(40) + pmod(src, lit(20)).cast("int")),
      i => {
        val h = xxhash64(src, i)
        val u = pmod(h, lit(1000003L)).cast("double") / 1000003.0
        concat(lit("t"), ceil(exp(u * lnV)).cast("long").cast("string"))
      })
    val base = spark.range(0, nDocs).select(col("id"),
      pmod(xxhash64(col("id"), lit(-2)), lit(20)).as("cls"))
    // duplication classes (dups mode): cls 0–2 exact replica of the
    // local base id − id%16 (whose own row keeps its own text, so the
    // group is base + copies), cls 3–4 near-dup (one token swapped),
    // else unique. Base derivation is a pure column, no self-join.
    val srcCol =
      if (withDups) when(col("cls") < 5, col("id") - pmod(col("id"), lit(16)))
        .otherwise(col("id"))
      else col("id")
    val toks0 = tokArray(srcCol)
    val toksCol =
      if (withDups)
        when(col("cls").between(3, 4),
          // swap token 5 for a tail term derived from THIS id — a
          // 1-token edit of the base text (near-dup, J ≈ 0.88)
          concat(slice(toks0, 1, 4),
            array(concat(lit("t"),
              (pmod(xxhash64(col("id"), lit(-3)), lit(20000)) + 40000)
                .cast("string"))),
            slice(toks0, 6, 100000)))
          .otherwise(toks0)
      else toks0
    val docs = base
      .select(col("id").as("doc_id"),
        concat_ws(" ", toksCol).as("text"),
        element_at(langs,
          pmod(xxhash64(col("id"), lit(-1)), lit(7)).cast("int") + 1)
          .as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(cpus.toInt).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")
    println(s"[zipfdocs] wrote $nDocs docs (vocab $vocab) to $dst")
    spark.stop()
  }
}
