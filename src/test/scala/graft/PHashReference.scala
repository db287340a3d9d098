package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.PHash.{binaryByteValues, byteValues, dhash, pixels}
import graft.operators.SampledFrame

/** Reference forms of the perceptual-hash operators that only the laws
  * call: the column-builder geometry specs the codegen kernels are
  * pinned against (PHashSpec), and the unfused two-direction stored
  * screen [[graft.operators.PHash.ingestScreenFused]] is pinned against
  * (FrameIndexSpec). */
object PHashReference {

  /** The stacked-projection form of `PHash.signatures` — the
    * executable geometry spec the kernel is law-pinned against. */
  def signaturesViaColumns(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), byteValues(textCol).as("pbytes"))
      .select(col("doc_id"), pixels("pbytes").as("px"))
      .select(col("doc_id"), dhash(col("px")).as("phash"))

  /** The hex-string form of `PHash.frameSignatures` — the executable
    * geometry spec the byte kernel is law-pinned against. */
  def frameSignaturesViaColumns(
      frames: org.apache.spark.sql.Dataset[SampledFrame]): DataFrame =
    frames.toDF()
      .select(col("doc_id"), hex(col("frame")).as("fhex"))
      .select(col("doc_id"), binaryByteValues("fhex").as("pbytes"))
      .select(col("doc_id"), pixels("pbytes").as("px"))
      .select(col("doc_id"), dhash(col("px")).as("fhash"))
      .distinct()

  /** BOTH-direction frame-containment pairs of a batch's (doc_id, fhash)
    * signature set `bsigAll` against the stored frame index, in
    * `frameContainment`'s (doc_a = contained, doc_b = container) shape:
    * an upload can be a clip of a stored video (batch ⊂ stored) and a
    * stored clip can sit inside the new longer upload (stored ⊂ batch),
    * graded by the stored row's n_fr. `hotHashes` leave the batch
    * signatures (and the batch denominator) before the join;
    * `excludeStored`'s ids are anti-joined out of the stored side (the
    * replay guard). */
  def screenAdmitFused(bsigAll: DataFrame, stored: DataFrame,
                       excludeStored: DataFrame,
                       num: Int = 4, den: Int = 5,
                       hotHashes: Option[DataFrame] = None): DataFrame = {
    val bsig = hotHashes.fold(bsigAll)(h =>
      bsigAll.join(broadcast(h.select("fhash")), Seq("fhash"), "left_anti"))
    val bsize = bsig.groupBy("doc_id").agg(count(lit(1)).as("n_fr"))
    val cand = stored.join(
      broadcast(excludeStored.select(col("doc_id"))),
      Seq("doc_id"), "left_anti")
    val inter = cand.as("c")
      .join(broadcast(bsig.as("b")), col("c.fhash") === col("b.fhash"))
      .groupBy(col("b.doc_id").as("bd"), col("c.doc_id").as("cd"))
      .agg(count(lit(1)).as("n_inter"), max(col("c.n_fr")).as("n_c"))
      .join(broadcast(bsize.select(col("doc_id").as("bd"),
        col("n_fr").as("n_b"))), Seq("bd"))
    inter
      .select(col("n_inter"), explode(array(
        struct(col("bd").as("doc_a"), col("cd").as("doc_b"),
               col("n_b").as("n_a"), col("n_c").as("n_b")),
        struct(col("cd").as("doc_a"), col("bd").as("doc_b"),
               col("n_c").as("n_a"), col("n_b").as("n_b")))).as("p"))
      .filter(col("n_inter") * den >= col("p.n_a") * num)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") / col("p.n_a").cast("double"),
          6).as("containment"))
  }
}
