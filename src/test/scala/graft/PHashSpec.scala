package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, PHash}

/** Perceptual-hash dedup laws. The sf fixtures contain no near-dup
  * "images" (all payloads distinct and random-ish, so dHashes sit at
  * hamming ~31), which makes the SQL oracle's differential check
  * cluster-trivial there — these specs craft corpora that exercise the
  * non-trivial paths: exact payload copies (one signature, intra-group),
  * perturbed near-dups (hamming 1–3 across signatures), brightness
  * invariance, and the all-pairs replay of the banded candidate join. */
class PHashSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** A deterministic ~200-char base payload with enough byte variance
    * that adjacent pixel comparisons are decisive (no ties). */
  private def baseText(seed: Int): String =
    (0 until 200).map { i =>
      ('a' + ((i * 31 + seed * 17 + (i * i) % 23) % 26)).toChar
    }.mkString

  private def corpus(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("clusters ≡ brute-force union-find over hamming<=3 signature pairs") {
    // crafted corpus: 0,1 exact copies; 2 a small perturbation of 0
    // (few pixels touched); 3..6 distinct; 7 short (<72 bytes); 8 a
    // copy of the short one
    val t0 = baseText(1)
    // flip a couple of characters inside ONE pixel block (block ~2-3
    // chars at n=200): moves at most a few adjacent comparisons
    val t2 = t0.updated(10, 'z').updated(11, 'z')
    val docs = corpus(Seq(
      0L -> t0, 1L -> t0, 2L -> t2,
      3L -> baseText(2), 4L -> baseText(3), 5L -> baseText(4),
      6L -> baseText(5), 7L -> "tiny payload", 8L -> "tiny payload"))
    val sig = PHash.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig.size === 9)
    // brute-force union-find at hamming <= 3
    val parent = scala.collection.mutable.Map(sig.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    for {
      a <- sig.keys; b <- sig.keys
      if a < b &&
        java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = PHash.clusters(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    for ((id, h) <- sig) {
      val comp = sig.keys.filter(k => find(k) == find(id))
      assert(got(id)._1 === h, s"phash mismatch for $id")
      assert(got(id)._2 === comp.min, s"cluster label for $id")
      assert(got(id)._3 === (if (id == comp.min) 1L else 0L))
    }
    // the fixture must actually exercise the paths it claims to
    assert(sig(0L) === sig(1L), "exact copies must share a signature")
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(2L)) <= 3 &&
           sig(0L) != sig(2L),
      "perturbed doc must be a CROSS-signature near-dup (hamming 1..3)")
    assert(got(2L)._2 === 0L, "near-dup not clustered with its source")
    assert(got(3L)._2 === 3L && got(3L)._3 === 1L, "distinct doc not singleton")
    assert(got(8L)._2 === 7L, "short exact copies not clustered")
  }

  test("dHash is invariant to uniform brightness shift (the property that makes it perceptual)") {
    // pixel p = blockAvg(bytes); shifting EVERY byte by +1 shifts every
    // pixel by +1 (exactly — integer mean of (x_i + 1) = mean(x_i) + 1
    // when the block divides evenly... and in general because
    // sum+len div len = sum div len + 1), leaving every < comparison,
    // hence the hash, unchanged — the analog of an image brightness
    // bump, which dHash is designed to survive.
    val t = baseText(9)
    val shifted = t.map(c => (c + 1).toChar)
    val docs = corpus(Seq(100L -> t, 101L -> shifted))
    val sig = PHash.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(100L) === sig(101L),
      "brightness-shifted payload changed the dHash")
    assert(sig(100L) !== 0L, "degenerate all-zero hash")
  }

  test("frame containment: clip-inside-video detected, directed, set-graded") {
    // the video-analog shape: doc 1 is a CLIP — a 72-byte-aligned
    // sub-sequence of the longer doc 0 — so its whole-payload dHash
    // differs completely from doc 0's, yet every one of its sampled
    // frames occurs in doc 0. doc 2 holds the same bytes as the clip
    // but shuffled across frame boundaries (no shared frames). doc 3
    // is the clip LOOPED twice: set semantics must grade it identically
    // to the single clip (repeated frames count once).
    val frame = (f: Int) => baseText(f + 20).substring(0, 72)
    val video = (0 until 8).map(frame).mkString            // 576 bytes
    val clip  = (2 until 5).map(frame).mkString            // frames 2..4
    val shuffled = clip.reverse
    val looped = clip + clip
    val docs = corpus(Seq(0L -> video, 1L -> clip, 2L -> shuffled,
                          3L -> looped))
    val out = PHash.frameContainment(docs, stride = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // clip ⊂ video: directed pair (1, 0) at containment 1.0; the
    // reverse direction (video ⊂ clip) is 3/8 < 0.8 and must NOT appear
    assert(out.contains((1L, 0L)), s"clip-in-video pair missing: $out")
    assert(out((1L, 0L)) === ((3L, 8L, 3L, 1.0)))
    assert(!out.contains((0L, 1L)), "containment must stay directed")
    // shuffled bytes share no frame: doc 2 pairs with nothing
    assert(!out.keys.exists(p => p._1 == 2L || p._2 == 2L),
      "frame-boundary-shuffled payload wrongly matched")
    // looped clip: same distinct-frame set as the clip — n_a = 3, both
    // directions with the clip at 1.0, and contained in the video too
    assert(out((3L, 0L)) === ((3L, 8L, 3L, 1.0)))
    assert(out((3L, 1L)) === ((3L, 3L, 3L, 1.0)))
    assert(out((1L, 3L)) === ((3L, 3L, 3L, 1.0)))
  }

  test("hot-frame-hash df cap: boilerplate at df 10^3 is dropped before the pair join, warm evidence survives, default cap never fires") {
    // the 100-TB guard: ONE hot frame hash (black frame / title card)
    // at df 1000 alone costs 10^6 equi-join rows and ~10^6 result
    // pairs whose only shared evidence is boilerplate; with the cap it
    // contributes ZERO pair work. A warm hash (df 10, under the cap)
    // must keep pairing — the cap removes boilerplate, not evidence.
    def block(seed: Long): String = {
      val rnd = new scala.util.Random(seed * 2654435761L + 17)
      (0 until 72).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val hotB = block(-1L)
    val warmB = block(-2L)
    val hotDocs = (0 until 1000).map(i => i.toLong -> (hotB + block(i)))
    val warmDocs = (0 until 10).map(j =>
      (2000L + j) -> (warmB + block(100000 + j)))
    val docs = corpus(hotDocs ++ warmDocs)
    val capped = PHash.frameContainment(docs, stride = 1,
        num = 1, den = 2, dfCap = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // hot-only pairs gone: nothing involving the df-1000 population
    assert(!capped.exists(p => p._1 < 2000L || p._2 < 2000L),
      "pairs whose only evidence is a hot hash survived the cap")
    // warm pairs intact, with the n_fr denominator counting SURVIVING
    // frames (warm + unique = 2) — consistent set semantics
    val warm = capped.filter(p => p._1 >= 2000L && p._2 >= 2000L)
    assert(warm.size === 90, s"warm 10-doc group must keep all 90 " +
      s"directed pairs, got ${warm.size}")
    assert(warm.forall(_._3 === 2L), "capped n_fr must count surviving frames")
    // uncapped control on a SUBSET (df 20 ≪ default cap): the default
    // cap is invisible below it — byte-identical results
    val sub = corpus(hotDocs.take(20) ++ warmDocs)
    def run(cap: Long) = PHash.frameContainment(sub, stride = 1,
        num = 1, den = 2, dfCap = cap)
      .collect().map(_.toString).sorted.toSeq
    val dflt = run(PHash.DefaultFrameDfCap)
    assert(dflt === run(Long.MaxValue),
      "default cap changed results on an under-cap corpus")
    assert(dflt.nonEmpty, "control corpus produced no pairs")
  }

  test("frame hashing is byte-faithful for non-ascii binary frames") {
    // a real decoder emits raw pixel bytes; a string round-trip would
    // collapse 0x80 and 0x90 (both invalid UTF-8) into the same
    // replacement char BEFORE hashing, making these two frames collide.
    // 72-byte frames make each pixel one byte: A = [128,144,10,…] sets
    // exactly bit 0 (px0 < px1); B = [144,128,10,…] sets nothing.
    import spark.implicits._
    import graft.operators.SampledFrame
    val a = Array.fill[Byte](72)(10); a(0) = 0x80.toByte; a(1) = 0x90.toByte
    val b = Array.fill[Byte](72)(10); b(0) = 0x90.toByte; b(1) = 0x80.toByte
    val sig = PHash.frameSignatures(Seq(
        SampledFrame(0L, 0, 0L, 0L, a), SampledFrame(1L, 0, 0L, 0L, b))
      .toDS()).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) === 1L, s"expected bit 0 only, got ${sig(0L)}")
    assert(sig(1L) === 0L, s"expected empty hash, got ${sig(1L)}")
  }

  test("dhash kernel ≡ stacked-projection geometry spec (string + binary)") {
    // the codegen kernel (functions.PHashKernel) must be value-identical
    // to the legacy byteValues/pixels/dhash column chain on every payload
    // shape: ascii of assorted lengths (incl. < 72 and empty-ish),
    // non-ascii multi-byte (codepoint semantics — the split('')+ascii
    // contract), and raw binary frames incl. invalid-UTF8 bytes
    import spark.implicits._
    val texts = Seq(
      0L -> baseText(1), 1L -> baseText(2), 2L -> "tiny payload",
      3L -> "x", 4L -> ("a" * 71), 5L -> ("b" * 72), 6L -> ("c" * 73),
      7L -> (baseText(3) + "héllo wörld ünïcode"), // 2-byte codepoints
      8L -> (baseText(4) + "日本語テキスト断片"),      // 3-byte codepoints
      9L -> "😀🎥📼 emoji (supplementary plane) 😀")  // 4-byte codepoints
    val df = texts.toDF("doc_id", "text")
    val fast = PHash.signatures(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spec = PHashReference.signaturesViaColumns(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === spec, "string kernel drifted from the geometry spec")

    import graft.operators.SampledFrame
    val rnd = new scala.util.Random(7)
    val frames = (0L until 12L).map { i =>
      val n = Seq(72, 73, 144, 71, 1, 200)(i.toInt % 6)
      val bytes = Array.fill[Byte](n)(rnd.nextInt(256).toByte) // full range
      SampledFrame(i, 0, 0L, 0L, bytes)
    }.toDS()
    val fastF = PHash.frameSignatures(frames).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val specF = PHashReference.frameSignaturesViaColumns(frames).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastF === specF, "byte kernel drifted from the geometry spec")
  }

  test("fused frame-hash set ≡ sampleFrames→frameSignatures, incl. hot exclusion") {
    // the one-kernel signature pass (functions.FrameHashSet) must yield
    // exactly the Dataset pipeline's DISTINCT (doc_id, fhash) set on
    // every payload shape — shorter than one window, non-multiple
    // lengths, repeated windows (dedup), several strides/frame sizes —
    // and the in-kernel hot-hash exclusion must equal the broadcast
    // anti-join it fuses
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0L until 20L).map { i =>
      val n = Seq(0, 1, 71, 72, 73, 144, 145, 300, 431, 1000)(i.toInt % 10)
      // low-entropy alphabet so some windows repeat within a payload
      i -> new String(Array.fill(n)(('a' + rnd.nextInt(3)).toChar))
    }.toDF("doc_id", "text")
    for ((fb, st) <- Seq((PHash.NPix, 2), (PHash.NPix, 1), (16, 4))) {
      val legacy = PHash.frameSignatures(Multimodal.sampleFrames(
          Multimodal.fromDocuments(docs), fb, st))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fused = PHash.frameSignaturesFused(docs, fb, st)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fused === legacy, s"fused frame set drifted at fb=$fb st=$st")
      // hot exclusion: pick a third of the observed hashes as "hot"
      val hot = legacy.map(_._2).toSeq.sorted.zipWithIndex
        .collect { case (h, i) if i % 3 == 0 => h }.toArray
      val legacyHot = legacy.filterNot(p => hot.contains(p._2))
      val fusedHot = docs.select(col("doc_id"),
          explode(graft.functions.PHashExprs.frameHashSet(
            col("text").cast("binary"), fb, st, hot)).as("fhash"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fusedHot === legacyHot,
        s"in-kernel hot exclusion drifted at fb=$fb st=$st")
    }
  }

  test("sf0.001: every doc labeled, hash non-negative (63-bit), keeper law") {
    val out = SparkEntry.queries("q_dedup_phash")(spark, sf0001).collect()
    val n = graft.sources.Tables.documents(spark, sf0001).count()
    assert(out.length.toLong === n)
    for (r <- out) {
      assert(r.getLong(1) >= 0L, "phash used bit 63")
      assert(r.getLong(2) <= r.getLong(0), "cluster_id must be component min")
      assert(r.getLong(3) === (if (r.getLong(0) == r.getLong(2)) 1L else 0L))
    }
  }
}
