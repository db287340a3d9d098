package graft

import org.apache.spark.sql.functions._
import graft.operators.AnnIndex
import graft.sources.Tables

/** The index-at-rest contract: the stored IVF+PQ artifact answers
  * queries (a) identically to the in-flight q_knn_ivfpq, (b) with a
  * recall floor where ANN is meaningful, and (c) by reading ONLY the
  * probed cells' partitions — the 100-TB property the artifact exists
  * for. */
class AnnIndexSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ann_$tag").toString

  /** Same deterministic clustered corpus as ProductQuantizerSpec (20
    * centers × 25 members, aperiodic noise, ground truth computed not
    * assumed). */
  private def clustered(dim: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val pts = for (j <- 0 until 20; i <- 0 until 25) yield {
      val id = (j * 25 + i).toLong
      val v = Array.tabulate(dim) { d =>
        val center = ((j * 37 + d * 17) % 101 - 50) / 50.0
        val noise = ((id * 7919 + d * 104729) % 997 - 498) / 4000.0
        center + noise
      }
      (id, v)
    }
    val raw = pts.toDF("vec_id", "v")
    val nrm = graft.functions.VectorExprs.norm(col("v"))
    raw.select(col("vec_id"), transform(col("v"), x => x / nrm).as("v"))
  }

  private def exactTop10(e: org.apache.spark.sql.DataFrame): Set[Long] = {
    val q0 = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0).crossJoin(q0)
      .select(col("vec_id"),
        (lit(2.0) - lit(2.0) * graft.functions.VectorExprs
          .dot(col("v"), col("qv"))).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc)
      .limit(10).collect().map(_.getLong(0)).toSet
  }

  test("q_knn_index_query == q_knn_ivfpq (stored artifact ≡ in-flight math)") {
    // identical training samples, seeds and Catalyst expressions on both
    // paths ⟹ the persisted index must answer bit-identically
    val atRest = SparkEntry.queries("q_knn_index_query")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val inFlight = SparkEntry.queries("q_knn_ivfpq")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(atRest === inFlight)
  }

  test("exists() flips false -> true across a build") {
    val root = tmpRoot("exists")
    assert(!AnnIndex.exists(spark, root))
    AnnIndex.build(clustered(64), root)
    assert(AnnIndex.exists(spark, root))
  }

  test("stored-index recall@10 >= 0.8 on clustered data") {
    val e = clustered(64).cache()
    val root = tmpRoot("recall")
    AnnIndex.build(e, root)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    val approx = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
        excludeId = Some(0L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (approx & exactTop10(e)).size
    assert(recall >= 8, s"stored-index recall@10: $recall/10")
    e.unpersist()
  }

  test("the probe scan partition-prunes to the probed cells only") {
    val e = clustered(64)
    val root = tmpRoot("prune")
    AnnIndex.build(e, root)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    val q = AnnIndex.query(spark, root, qv, nprobe = 2, n = 10)
    // the codes scan must carry a partition filter on the cell id —
    // static pruning at file-listing time, the at-rest scale property
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"codes scan lost its cell partition filter:\n$plan")
    assert(q.count() === 10)
  }

  test("append: batch-split invariant, replay exactly-once, recall holds") {
    // incremental maintenance against the stored models: encode is
    // per-row arithmetic against fixed centroids/codebooks, so HOW the
    // new vectors are batched must not matter, and re-delivering a
    // batch id must overwrite only itself
    val e = clustered(64).cache()
    val base = e.filter(col("vec_id") < 250)       // clusters 0–9
    val b1 = e.filter(col("vec_id") >= 250 && col("vec_id") < 375)
    val b2 = e.filter(col("vec_id") >= 375)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    def stored(root: String): Seq[String] =
      spark.read.parquet(s"$root/codes")
        .select("vec_id", "cell", "codes")
        .collect().map(_.toString).sorted.toSeq
    def top10(root: String): Seq[String] =
      AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
        excludeId = Some(0L)).collect().map(_.toString).toSeq
    val rootSplit = tmpRoot("apsplit")
    AnnIndex.build(base, rootSplit)
    AnnIndex.append(b1, rootSplit, batchId = 1)
    AnnIndex.append(b2, rootSplit, batchId = 2)
    val rootOne = tmpRoot("apone")
    AnnIndex.build(base, rootOne)
    AnnIndex.append(b1.unionByName(b2), rootOne, batchId = 1)
    assert(stored(rootSplit) === stored(rootOne),
      "stored codes depend on how the appends were batched")
    assert(top10(rootSplit) === top10(rootOne))
    // replay batch 2 verbatim: store and answers must not change
    val before = stored(rootSplit)
    AnnIndex.append(b2, rootSplit, batchId = 2)
    assert(stored(rootSplit) === before,
      "replaying a committed batch changed the store — append not idempotent")
    // the corpus at rest now spans base ∪ b1 ∪ b2: vec 0's true
    // neighborhood (cluster 0 ⊂ base) must still be recalled through
    // the appended index
    val approx = AnnIndex.query(spark, rootSplit, qv, nprobe = 3, n = 10,
        excludeId = Some(0L))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((approx & exactTop10(e)).size >= 8)
    e.unpersist()
  }

  test("compact: answers and code rows preserved; batches fold to one file/cell") {
    val e = clustered(64).cache()
    val root = tmpRoot("cpt")
    AnnIndex.build(e.filter(col("vec_id") < 250), root)
    AnnIndex.append(e.filter(col("vec_id") >= 250 && col("vec_id") < 375),
      root, batchId = 1)
    AnnIndex.append(e.filter(col("vec_id") >= 375), root, batchId = 2)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    def ask(): Seq[String] =
      AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
        excludeId = Some(0L)).collect().map(_.toString).toSeq
    def codeRows(): Seq[String] =
      spark.read.parquet(s"$root/codes")
        .select("vec_id", "cell", "codes")
        .collect().map(_.toString).sorted.toSeq
    def parquetFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$root/codes"))
    }
    val (beforeAns, beforeRows, beforeFiles) = (ask(), codeRows(),
      parquetFiles().size)
    AnnIndex.compact(spark, root)
    assert(ask() === beforeAns, "compaction changed the query answer")
    assert(codeRows() === beforeRows, "compaction changed the code rows")
    // physical fold: every cell down to its single batch=0 partition
    // holding ONE file (the compact repartitions ON the cell id), so
    // the file count is exactly the number of non-empty cells
    val batchDirs = new java.io.File(s"$root/codes").listFiles().toSeq
      .filter(_.isDirectory).map(_.getName)
    assert(batchDirs === Seq("batch=0"),
      s"compaction left non-folded batch partitions: $batchDirs")
    val after = parquetFiles()
    assert(after.size < beforeFiles,
      s"compaction did not reduce the file count ($beforeFiles -> ${after.size})")
    assert(after.size === after.map(_.getParentFile).distinct.size,
      "compaction left more than one file in some cell")
    e.unpersist()
  }

  test("replaying a batch already folded by compaction is refused (HWM)") {
    val e = clustered(64).cache()
    val root = tmpRoot("cpthwm")
    AnnIndex.build(e.filter(col("vec_id") < 300), root)
    val b1 = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    AnnIndex.append(b1, root, batchId = 1)
    AnnIndex.compact(spark, root)
    assert(AnnIndex.compactedThrough(spark, root) === 1L)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.append(b1, root, batchId = 1)
    }
    assert(err.getMessage.contains("high-water"),
      s"wrong refusal message: ${err.getMessage}")
    // the STREAMING face skips the folded replay idempotently instead
    // of crashing (at-least-once redelivery after a compaction)
    def codeRows(): Seq[String] =
      spark.read.parquet(s"$root/codes")
        .select("vec_id", "cell", "codes")
        .collect().map(_.toString).sorted.toSeq
    val before = codeRows()
    graft.streaming.Streams.annIndexIngest(b1.toDF(), root, batchId = 0)
    assert(codeRows() === before,
      "a folded replay through the streaming face changed the store")
    // a NEW batch above the mark is still accepted (both faces)
    graft.streaming.Streams.annIndexIngest(
      e.filter(col("vec_id") >= 400 && col("vec_id") < 450).toDF(),
      root, batchId = 1)
    assert(codeRows().size > before.size,
      "a fresh post-compaction batch was wrongly skipped")
    e.unpersist()
  }

  test("a batch torn inside its job commit (some cells, no marker) is never read or folded") {
    // job commit moves a batch's cell dirs into place one at a time, so
    // a crash inside it leaves batch 1 in some cells only. Queries and
    // compaction must ignore the batch, the high-water mark must stay
    // below it (else the streaming replay is skipped and the missing
    // vectors are lost), and the replay must restore the full answer.
    val e = clustered(64).cache()
    val root = tmpRoot("tornbatch")
    AnnIndex.build(e.filter(col("vec_id") < 300), root)
    val qv = e.filter(col("vec_id") === 310).select("v")
      .first().getSeq[Double](0)
    def ask(): Seq[String] = AnnIndex.query(spark, root, qv, nprobe = 3,
      n = 10).collect().map(_.toString).toSeq
    val baseAns = ask()
    val b1 = e.filter(col("vec_id") >= 300)
    AnnIndex.append(b1, root, batchId = 1)
    val fullAns = ask()
    assert(fullAns !== baseAns, "test shape: batch 1 must change the answer")
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: (if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Nil)
    val files = walk(new java.io.File(s"$root/codes"))
    def ofBatch1(f: java.io.File) = f.getPath.split('/').contains("batch=1")
    val leaves = files.filter(d => d.isDirectory && ofBatch1(d) &&
      d.listFiles().exists(_.getName.endsWith(".parquet")))
    assert(leaves.size > 1, "test shape: batch 1 must span several cells")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(leaves.head.getPath), true))
    files.filter(f => f.getName == "_SUCCESS" && ofBatch1(f)).foreach(_.delete())
    assert(ask() === baseAns, "a partly committed batch answers queries")
    AnnIndex.compact(spark, root)
    assert(AnnIndex.compactedThrough(spark, root) === 0L,
      "compaction folded a partly committed batch")
    assert(ask() === baseAns)
    graft.streaming.Streams.annIndexIngest(b1.toDF(), root, batchId = 0)
    assert(ask() === fullAns, "the replay did not restore the full answer")
    e.unpersist()
  }

  test("a compaction swap torn mid-rename heals on the next exists()") {
    // simulate the crash window between promote's two renames: the old
    // root stepped aside, the completed fold (marker present) was never
    // promoted — exactly the state ADVICE flagged as "NO index at root"
    val e = clustered(64)
    val root = tmpRoot("cpttorn") + "/idx"
    AnnIndex.build(e.filter(col("vec_id") < 300), root)
    AnnIndex.append(e.filter(col("vec_id") >= 300), root, batchId = 1)
    AnnIndex.compact(spark, root)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    val beforeAns = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val staging = graft.util.IndexStore.stagingPath(rootP)
    assert(fs.rename(rootP, staging), "test setup: rename to staging")
    fs.mkdirs(new org.apache.hadoop.fs.Path(root + ".old"))
    assert(AnnIndex.exists(spark, root),
      "torn swap read as 'no index' instead of healing")
    assert(!fs.exists(staging) && !fs.exists(
      new org.apache.hadoop.fs.Path(root + ".old")),
      "recovery left swap debris behind")
    val afterAns = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
      excludeId = Some(0L)).collect().map(_.toString).toSeq
    assert(afterAns === beforeAns, "healed index answers differently")
  }

  test("filtered probe: predicate applies BEFORE selection, sidecar " +
      "folds through compaction, bare index fails loudly") {
    import spark.implicits._
    val emb = clustered(64).localCheckpoint(true)
    val attrs = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(3L)).as("label"))
    val root = tmpRoot("attrs")
    AnnIndex.build(emb.filter(col("vec_id") < 400), root,
      attrs = Some(attrs.filter(col("vec_id") < 400)))
    AnnIndex.append(emb.filter(col("vec_id") >= 400), root, batchId = 1,
      attrs = Some(attrs.filter(col("vec_id") >= 400)))
    val qv = emb.filter(col("vec_id") === 0)
      .select("v").first().getSeq[Double](0)
    def filtered() = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10,
        excludeId = Some(0L), attrFilter = Some(col("label") === 1L))
      .as[(Long, Double)].collect().toSeq
    // reference: rank the UNFILTERED candidate universe (n = corpus),
    // then filter by label and take 10 — the filtered-top-k contract
    val reference = {
      val all = AnnIndex.query(spark, root, qv, nprobe = 3, n = 100000,
          excludeId = Some(0L))
        .as[(Long, Double)].collect().toSeq
      val ok = all.filter { case (id, _) => id % 3 == 1 }
      ok.sortBy { case (id, d2) => (d2, id) }.take(10)
    }
    assert(filtered() == reference,
      "filtered probe must equal filter-then-rank over the same " +
        "candidate universe")
    assert(filtered().forall { case (id, _) => id % 3 == 1 })
    assert(filtered().size == 10, "the filter must not starve top-k")
    // the sidecar folds through compaction bit-identically
    val before = filtered()
    AnnIndex.compact(spark, root)
    assert(filtered() == before,
      "filtered answers must survive compaction bit-for-bit")
    // a filtered query against a sidecar-less index is a loud error
    val bare = tmpRoot("noattrs")
    AnnIndex.build(emb.filter(col("vec_id") < 400), bare)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.query(spark, bare, qv, attrFilter = Some(col("label") === 1L))
    }
    assert(e.getMessage.contains("sidecar"))
    // …and sidecar discipline is all-or-nothing across appends
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.append(emb.filter(col("vec_id") >= 400), bare, batchId = 1,
        attrs = Some(attrs))
    }
    assert(e2.getMessage.contains("without the sidecar"))
  }

  test("attrs sidecar must cover the batch — a coverage gap is a loud " +
      "error, not a silently unfilterable vector") {
    // writeAttrs inner-joins attrs with the batch's assignments, so a
    // vec_id missing from attrs would simply never appear in any
    // filtered probe (query()'s left_semi drops it) — the exact
    // "silent unfiltered answer" class this module bans. The coverage
    // contract is enforced at write time on both build and append.
    val emb = clustered(64).localCheckpoint(true)
    val attrs = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(3L)).as("label"))
    val root = tmpRoot("attrscov")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.build(emb, root,
        attrs = Some(attrs.filter(col("vec_id") =!= 5L)))
    }
    assert(e.getMessage.contains("cover"), e.getMessage)
    // append path enforces the same contract
    val root2 = tmpRoot("attrscov2")
    AnnIndex.build(emb.filter(col("vec_id") < 400), root2,
      attrs = Some(attrs.filter(col("vec_id") < 400)))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.append(emb.filter(col("vec_id") >= 400), root2, batchId = 1,
        attrs = Some(attrs.filter(col("vec_id") >= 401)))
    }
    assert(e2.getMessage.contains("cover"), e2.getMessage)
  }

  test("query() never touches the corpus frame (answers purely from storage)") {
    // build from one frame, then query with only (root, qv) — if the
    // query path referenced the corpus, this would be impossible to
    // compile; assert the stored artifact is self-sufficient by
    // answering after the source has been materially changed
    val e = clustered(64)
    val root = tmpRoot("atrest")
    AnnIndex.build(e, root)
    val qv = e.filter(col("vec_id") === 0).select("v")
      .first().getSeq[Double](0)
    val before = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10)
      .collect().map(_.toString).toSeq
    // no rebuild between the two queries: identical answers from storage
    val after = AnnIndex.query(spark, root, qv, nprobe = 3, n = 10)
      .collect().map(_.toString).toSeq
    assert(before === after)
  }
}
